package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed operation. `kind` is `query` or `op`; a sample that threw or whose output failed
  * its check has `ok = false` and never counts as a latency. */
final case class Sample(kind: String, name: String, cls: String, round: Int, ms: Double, ok: Boolean)

/** State shared by a run: the session, the tracer, the samples taken and
  * the failures seen. */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: Path, val seed: Long) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Facts about the inputs and outputs (sizes, counts) for the report. */
  val facts = mutable.LinkedHashMap.empty[String, Any]
  /** Untimed output checks made, including those outside any sample. */
  var checks = 0L
  /** Epoch ns at which the measuring window opened. */
  var windowStartNs = 0L
  /** `System.nanoTime` at which the measuring window closes. */
  var deadlineNs = Long.MaxValue

  /** Whether round `r` may start another request: warm-up passes and the
    * first timed round run whole, so every request has a sample; later
    * rounds stop where the window closes. */
  def open(r: Int): Boolean = r <= 1 || System.nanoTime() < deadlineNs

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Times `body`, then checks its output outside the timed region.
    * A throw or a failed check is recorded as a failure of `name`. */
  def timed[T](kind: String, name: String, cls: String, round: Int)(body: => T)(
      check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(span(s"bench.$kind")(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val (out, err) = res match {
      case Right(v) =>
        checks += 1
        val err = try check(v) catch { case NonFatal(e) => Some(s"check threw $e") }
        (Some(v), err)
      case Left(e) => (None, Some(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
    }
    samples += Sample(kind, name, cls, round, ms, err.isEmpty)
    System.err.println(f"graftbench: round $round $kind $name $ms%.1f ms${if (err.isEmpty) "" else " FAILED"}")
    err.foreach(e => failures += s"$name (round $round): $e")
    if (err.isEmpty) out else None
  }

  /** An untimed correctness check outside any sample (e.g. the ingested
    * store against the generated triples). */
  def check(name: String)(err: => Option[String]): Unit = {
    checks += 1
    val e = try err catch { case NonFatal(x) => Some(s"check threw $x") }
    e.foreach(m => failures += s"$name: $m")
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** A workload: data set-up (repeated, so its time can be reported as a
  * median), warm-up, then rounds of a fixed list of operations until the
  * measuring window closes (a round checks [[Run.open]] before each
  * operation), then checks and traced-only measurements. */
trait Workload {
  /** How many times the data set-up runs; setup_s takes the median. */
  def setupReps: Int = 3
  def setupData(rep: Int): Unit
  def warmup(): Unit
  def round(r: Int): Unit
  def finish(): Unit
  /** Per-layer metrics from a traced run, every name present. */
  def perLayer(): Map[String, Double]
}

object Main {
  val Workloads = Seq("bgp_read", "ops_pipeline")

  private def usage(): Nothing = {
    System.err.println(
      "usage: Main --workload <" + Workloads.mkString("|") + "> --seed <n> --seconds <n> " +
        "--trace <0|1> --work <dir> --out <result.json> [--data <ops tables dir>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", usage())
    if (!Workloads.contains(workload)) usage()
    val seed = kv.get("seed").map(_.toLong).getOrElse(usage())
    val seconds = kv.get("seconds").map(_.toInt).getOrElse(usage())
    val trace = kv.getOrElse("trace", "0") == "1"
    val work = Paths.get(kv.getOrElse("work", usage())).toAbsolutePath
    val out = Paths.get(kv.getOrElse("out", usage())).toAbsolutePath

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // two task slots leave the rest of a small shared host to the JIT,
    // the GC and the client thread; the inputs are too small to gain from more
    val cpus = math.min(2, Runtime.getRuntime.availableProcessors)
    val spark = graft.Graft.session(master = s"local[$cpus]", appName = "graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(trace, spark)
    val run = new Run(spark, tracer, work, seed)
    val w: Workload = workload match {
      case "bgp_read" => new BgpRead(run)
      case "ops_pipeline" => new OpsPipeline(run, Paths.get(kv.getOrElse("data", usage())).toAbsolutePath)
    }
    try {
      val dataSetup = (1 to w.setupReps).map { rep =>
        val t0 = System.nanoTime()
        w.setupData(rep)
        System.err.println(f"graftbench: data set-up $rep took ${(System.nanoTime() - t0) / 1e9}%.2f s")
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      w.warmup()
      val warmupS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(dataSetup) + warmupS

      val mem = Resources.start()
      run.windowStartNs = tracer.nowNs
      val t0 = System.nanoTime()
      run.deadlineNs = t0 + seconds * 1000000000L
      var r = 0
      tracer.span("bench.workload") {
        while (run.open(r + 1)) {
          r += 1
          tracer.span("bench.round")(w.round(r))
        }
      }
      val windowS = (System.nanoTime() - t0) / 1e9
      val res = mem.stop()
      w.finish()
      tracer.drain()
      val layers = if (trace) w.perLayer() ++ Resources.sparkTotals(tracer, res) else Map.empty[String, Double]
      tracer.stop()
      val json = Json.obj(
        "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
        "setup" -> Json.Raw(Json.obj("session_s" -> sessionS, "data_setup_s" -> dataSetup,
          "warmup_s" -> warmupS, "setup_s" -> setupS)),
        "window_s" -> windowS, "rounds" -> r,
        "samples" -> run.samples.map(s => Json.Raw(Json.obj("kind" -> s.kind, "name" -> s.name,
          "cls" -> s.cls, "round" -> s.round, "ms" -> s.ms, "ok" -> s.ok))),
        "checks" -> run.checks,
        "failures" -> run.failures,
        "facts" -> run.facts,
        "per_layer" -> layers)
      Files.writeString(out, json + "\n")
      if (trace) {
        val tdir = run.dir(s"trace/$workload-seed$seed")
        tracer.writeSpans(tdir.resolve("spans.jsonl"))
        val table = tracer.layerTable(run.windowStartNs)
        val lines = f"${"layer"}%-10s ${"spans"}%7s ${"self_s"}%9s ${"in_jobs_s"}%9s ${"driver_s"}%9s" +:
          table.map { case (l, n, self, jobs, drv) => f"$l%-10s $n%7d $self%9.3f $jobs%9.3f $drv%9.3f" }
        Files.writeString(tdir.resolve("layers.txt"), lines.mkString("", "\n", "\n"))
      }
    } finally {
      spark.stop()
    }
  }
}

/** File trees under the run's work directory. */
object Dirs {
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }
  def bytes(p: Path): Long = files(p).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
  }
}

/** JVM-wide resource counters over the measuring window. */
object Resources {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  final case class Totals(gcS: Double, peakHeapBytes: Long)

  final class Window(gc0: Long) {
    def stop(): Totals = {
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
      Totals((gc - gc0) / 1e3, heap)
    }
  }

  def start(): Window = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    pools.filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
    new Window(ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
  }

  /** `spark.*` totals over the measuring window (the workload span). */
  def sparkTotals(t: Tracer, res: Totals): Map[String, Double] = {
    val ws = t.allSpans.filter(_.name == "bench.workload")
    val c = new Counts
    ws.foreach(w => c += t.countsUnder(w))
    Map(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.executor_run_s" -> c.executorRunMs / 1e3,
      "spark.jvm_gc_s" -> res.gcS,
      "spark.shuffle_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> c.spillBytes.toDouble,
      "spark.driver_gap_s" -> ws.map(t.driverGapMs).sum / 1e3,
      "spark.peak_heap_bytes" -> res.peakHeapBytes.toDouble)
  }
}
