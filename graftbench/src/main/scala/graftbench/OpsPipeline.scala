package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** ops_pipeline: the RAG and CCNet document pipelines and the
  * stream-stream join over the fixed tables in `dataDir` (`documents`,
  * `embeddings`, `events`; see the benchmark's README). The data never
  * changes, so the seed only permutes the order of the ops, once for
  * every round (see [[BgpRead]] on why the order is kept). Each op's
  * result is collected; the first result of every op is checked
  * afterwards against its DuckDB oracle, and every later result must
  * equal the first. */
final class OpsPipeline(run: Run, dataDir: Path) extends Workload {
  val Ops = Seq("doc_rag_e2e", "doc_ccnet_e2e", "ev_stream_stream_join")
  val Streaming = Seq("ev_stream_stream_join")
  /** Op times are level from the third pass on. */
  val WarmupPasses = 2
  /** The tables are read as they are: set-up has nothing to do. */
  override def setupReps: Int = 1
  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row], Seq[String])]

  def setupData(rep: Int): Unit = ()

  def warmup(): Unit = (1 to WarmupPasses).foreach(_ => round(0))

  private val order = new scala.util.Random(run.seed * 104729L).shuffle(Ops)

  def round(r: Int): Unit = {
    order.iterator.takeWhile(_ => run.open(r)).foreach { name =>
      val fn = graft.OpRegistry.queries(name)
      run.timed("op", name, "op", r) {
        run.span(s"operators.$name") {
          val df = fn(run.spark, dataDir.toString)
          (df.schema, df.collect())
        }
      } { case (schema, rows) =>
        val canon = rows.map(_.toString).toSeq.sorted
        first.get(name) match {
          case None => first(name) = (schema, rows, canon); None
          case Some((_, _, want)) => Queries.diff(canon, want)
        }
      }
      run.spark.catalog.clearCache()
    }
  }

  /** Writes each op's first result and its oracle SQL for the DuckDB
    * comparison made after the run. */
  def finish(): Unit = {
    val out = run.work.resolve("ops/out")
    Dirs.delete(out)
    first.foreach { case (name, (schema, rows, _)) =>
      run.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(out.resolve(name).toString)
    }
    Files.createDirectories(out)
    val oracle = graft.OpRegistry.oracleSql.filter { case (k, _) => first.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), Json.value(oracle))
    run.facts("ops_out") = out.toString
    run.facts("ops_data") = dataDir.toString
  }

  def perLayer(): Map[String, Double] = {
    val t = run.tracer
    def spans(name: String) = t.allSpans.filter(s => s.name == name && s.start >= run.windowStartNs)
    val perOp = Ops.flatMap { op =>
      val ss = spans(s"operators.$op")
      def med(f: Span => Double) = Stats.median(ss.map(f))
      val base = Seq(
        s"operators.$op.s" -> med(_.ms / 1e3),
        s"operators.$op.jobs" -> med(s => t.countsUnder(s).jobs.toDouble),
        s"operators.$op.exchanges" -> med(s => t.countsUnder(s).shuffleStages.toDouble),
        s"operators.$op.shuffle_bytes" -> med(s => t.countsUnder(s).shuffleWriteBytes.toDouble),
        s"operators.$op.executor_s" -> med(s => t.countsUnder(s).executorRunMs / 1e3),
        s"operators.$op.driver_gap_s" -> med(s => t.driverGapMs(s) / 1e3))
      val streaming = if (!Streaming.contains(op)) Nil else Seq(
        s"operators.$op.batches" -> med(s => t.progressWithin(s).size.toDouble),
        s"operators.$op.state_rows" -> med(s => t.progressWithin(s).lastOption.map(_.stateRows.toDouble).getOrElse(Double.NaN)),
        s"operators.$op.state_bytes" -> med(s => t.progressWithin(s).lastOption.map(_.stateBytes.toDouble).getOrElse(Double.NaN)))
      base ++ streaming
    }
    perOp.toMap ++ functionScans()
  }

  /** One aggregate scan per registered SQL function, outside the
    * measuring window; rows per second is the median of three. */
  private def functionScans(): Map[String, Double] = {
    val s = run.spark
    graft.Graft.registerTables(s, dataDir.toString)
    val docs = s.table("documents").count().toDouble
    val vecs = s.table("embeddings").count().toDouble
    val scans = Seq(
      ("simhash", docs, "SELECT max(simhash(split(text, ' '))) FROM documents"),
      ("minhash_md5", docs, "SELECT max(xxhash64(minhash_md5(split(text, ' ')))) FROM documents"),
      ("word_shingles", docs, "SELECT sum(size(word_shingles(split(text, ' '), 3))) FROM documents"),
      ("cosine_sim", vecs, "SELECT sum(cosine_sim(embedding, reverse(embedding))) FROM embeddings"))
    scans.map { case (fn, rows, sql) =>
      s"functions.$fn.rows_per_s" -> Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        run.span(s"functions.$fn")(s.sql(sql).collect())
        rows / ((System.nanoTime() - t0) / 1e9)
      })
    }.toMap
  }
}
