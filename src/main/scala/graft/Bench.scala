package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","ok":N,"failed_n":N,
  * "failed":[...],"slowest":{...},"sf":...}; the total sums the
  * queries that ran, and a query that throws is listed as failed.
  *
  * A warmup pass (count each base table + one tiny query) runs first so
  * per-query numbers measure the operators, not JVM/codegen/FS-init
  * warmup — the first parquet scan of a session otherwise pays ~3-4 s
  * of one-time cost that would land on an arbitrary query.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 2) and the
  * reported number is the MIN — the bench shares its box with whatever
  * else runs at round-end, and in past rounds one-off contention swung
  * unchanged queries 4-6x in both directions, making round-over-round
  * deltas unreadable without manual isolated re-runs (round-7 verdict
  * #3). The min over two spaced reps damps a transient spike while
  * still reflecting any real regression; every rep lands in the
  * persisted line (`reps`) so variance stays visible.
  */
object Bench {
  /** 1-minute load average from /proc/loadavg (-1 if unreadable) —
    * recorded at start and end of the run so a contended-box bench is
    * self-diagnosing (rounds 10 and 12 both spent cycles proving a
    * timing blip was environmental). */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every base table and exercise codegen once
    Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
    try SparkEntry.queries("q1_agg")(spark, sfDir).count() catch { case _: Throwable => () }

    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    // rep 1 of every query runs before rep 2 of any (spaced reps):
    // contention spikes last seconds-to-minutes, so back-to-back reps
    // of one query would both sit inside the same spike
    // optional trailing args: bench only the named queries (per-op
    // perf iteration); no args = the full registered surface
    val ordered = {
      val all = SparkEntry.queries.toSeq.sortBy(_._1)
      if (args.isEmpty) all
      else {
        // fail loudly on a typo'd name: a silently-empty filter would
        // print total 0 and read as a perf win
        val unknown = args.filterNot(all.map(_._1).toSet)
        require(unknown.isEmpty,
          s"unknown queries: ${unknown.mkString(", ")}")
        all.filter(q => args.contains(q._1))
      }
    }
    val loadStart = loadAvg()
    val runs = (1 to reps).map { _ =>
      ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).count(); None }
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"graft: bench query $name failed: $e")
              Some(e.toString)
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // intra-query caches (LSH signatures, shingle sets) must not
        // leak memory pressure into the next query's measurement
        spark.catalog.clearCache()
        Run(name, dt, err)
      }
    }
    val (line, stdoutLine) = lines(runs, sfDir, loadStart, loadAvg())
    // The stdout capture path has truncated the HEAD of this line in
    // past rounds (round-3 verdict #3: alphabetical order meant the
    // dropped entries were exactly the ops that changed). Persist the
    // full line to a file so the complete per-query numbers always
    // survive, independent of how stdout is captured.
    // A name-filtered run is a per-op iteration probe, not the
    // canonical surface — persisting it would silently replace the
    // committed full-run numbers with a partial set.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (args.isEmpty) Some("BENCH_FULL.json") else None)
    out.foreach { o =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(o), line + "\n")
      catch {
        // NonFatal only: a fatal VM error must not be swallowed, and a
        // failed write needs a signal — otherwise the persisted numbers
        // go stale silently, defeating the fallback's purpose.
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"graft: failed to persist bench line to $o: $e")
      }
    }
    println(stdoutLine)
    spark.stop()
  }

  /** One rep of one query: wall seconds, and the error if it threw. */
  private[graft] final case class Run(name: String, seconds: Double, error: Option[String])

  /** The full line persisted to BENCH_FULL.json and the short stdout
    * line, from every rep's runs (each rep lists the queries in one
    * order). A query that threw in any rep is failed: it is named with
    * its first error and left out of the total and the timings, never
    * timed — a fast exception must not read as a fast query. */
  private[graft] def lines(reps: Seq[Seq[Run]], sfDir: String,
      loadStart: Double, loadEnd: Double): (String, String) = {
    import Log.{jsonString => jstr}
    val byName = reps.flatten.groupBy(_.name)
    val names = reps.head.map(_.name)
    val errors = names.flatMap(n => byName(n).flatMap(_.error).headOption.map(n -> _))
    val failed = errors.map(_._1)
    val okTimes = names.filterNot(failed.contains).map(n => n -> byName(n).map(_.seconds))
    val results = okTimes.map { case (n, ts) => n -> ts.min }
    val total = results.map(_._2).sum
    // max run-to-run spread ratio across queries (slowest rep / fastest
    // rep): > ~3 on an unchanged query is the contention signature
    val spread = okTimes.map { case (_, ts) =>
      if (ts.min > 0) ts.max / ts.min else 1.0
    }.foldLeft(1.0)(math.max)
    def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","ok":${results.size},""" +
      s""""errors":${obj(errors.map { case (n, e) => n -> jstr(e) })},""" +
      s""""queries":${obj(results.map { case (n, v) => n -> v.toString })},""" +
      s""""reps":${obj(names.map(n => n -> byName(n).map(_.seconds).mkString("[", ",", "]")))},""" +
      s""""load":{"start":$loadStart,"end":$loadEnd,"max_spread":$spread},"sf":${jstr(sfDir)}}"""
    // Stdout line: the total over the queries that ran, how many ran,
    // the failed ones by name, and the ten slowest, at millisecond
    // precision. It must fit a 2,000-char stdout capture, and a
    // per-query map of the whole surface is ~7 KB, so the per-query
    // numbers, every rep, the errors and the load live only in the full
    // line. At most 40 failed names are listed; `failed_n` counts all.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val short = s"""{"metric":"total","value":${f3(total)},"unit":"sec","ok":${results.size},""" +
      s""""failed_n":${failed.size},"failed":${failed.take(40).map(jstr).mkString("[", ",", "]")},""" +
      s""""slowest":${obj(results.sortBy(-_._2).take(10).map { case (n, v) => n -> f3(v) })},""" +
      s""""sf":${jstr(sfDir)}}"""
    (full, short)
  }
}
