package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval: a call into a layer, an op, a round or the
  * workload. Times are epoch nanoseconds; `parent` is the span that was
  * open when this one started (0 for none). */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (end - start) / 1e6
}

/** Counters the listener attributes to one span. */
final class Counts {
  var jobs, stages, shuffleStages, tasks = 0L
  var executorRunMs, gcMs, shuffleWriteBytes, shuffleReadBytes = 0L
  var inputBytes, inputRecords, outputBytes, spillBytes = 0L
  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; shuffleStages += o.shuffleStages; tasks += o.tasks
    executorRunMs += o.executorRunMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; spillBytes += o.spillBytes
  }
}

/** A streaming micro-batch's progress, as Spark reported it. */
final case class Progress(atMs: Long, stateRows: Long, stateBytes: Long)

/** The benchmark's span recorder. Disabled, `span` just runs its body.
  * Enabled, it keeps spans in memory, tags every Spark job started
  * inside a span with that span's id (a SparkContext local property the
  * listener reads back), and collects job, stage and task counters and
  * streaming progress per span. The benchmark calls it around the
  * engine's public functions only; nothing inside the engine changes. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 0L
  /** epoch ns = nanoTime + offset */
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offset

  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** (span, startMs, endMs) per finished job */
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  private def countsOf(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobSpan.put(e.jobId, span)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      countsOf(span).synchronized { countsOf(span).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span = jobSpan.getOrDefault(e.jobId, 0L)
      jobIntervals.add((span, jobStart.getOrDefault(e.jobId, e.time), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      val m = e.stageInfo.taskMetrics
      c.synchronized {
        c.stages += 1
        if (m != null && m.shuffleWriteMetrics.recordsWritten > 0) c.shuffleStages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageId, 0L))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.executorRunMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      progress.add(Progress(at,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      stack = id :: stack
      val t0 = nowNs
      try body
      finally {
        val t1 = nowNs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, prev)
        spans += Span(id, parent, name, t0, t1)
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftBenchBus.waitUntilEmpty(sc)

  def stop(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def allSpans: Seq[Span] = spans.toSeq.sortBy(_.start)
  def countsFor(span: Long): Counts = Option(counts.get(span)).getOrElse(new Counts)
  def progressWithin(s: Span): Seq[Progress] =
    progress.asScala.iterator.filter(p => p.atMs * 1000000L >= s.start && p.atMs * 1000000L <= s.end)
      .toSeq.sortBy(_.atMs)

  /** Milliseconds of `s` covered by no Spark job attributed to `s` or
    * to any span under it: time the driver spent outside jobs. */
  def driverGapMs(s: Span): Double = {
    val under = descendants(s.id) + s.id
    val iv = jobIntervals.asScala.iterator.filter(j => under.contains(j._1))
      .map(j => (math.max(j._2 * 1000000L, s.start), math.min(j._3 * 1000000L, s.end)))
      .filter(j => j._2 > j._1).toSeq
    (s.end - s.start - Tracer.unionNs(iv)) / 1e6
  }

  /** Counters of `s` and every span under it. */
  def countsUnder(s: Span): Counts = {
    val c = new Counts
    (descendants(s.id) + s.id).foreach(id => c += countsFor(id))
    c
  }

  private var childIndex: (Int, Map[Long, Seq[Span]]) = (-1, Map.empty)
  private def children: Map[Long, Seq[Span]] = {
    if (childIndex._1 != spans.size) childIndex = (spans.size, spans.toSeq.groupBy(_.parent))
    childIndex._2
  }
  def descendants(id: Long): Set[Long] = {
    val out = mutable.HashSet.empty[Long]
    var frontier = Seq(id)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(f => children.getOrElse(f, Nil).map(_.id))
      out ++= next
      frontier = next
    }
    out.toSet
  }

  /** Per-layer table over the spans opened since `since`: for each
    * layer, its calls, self time (span time not covered by child spans),
    * the part of the self time inside Spark jobs started from that
    * layer, and the driver time left. */
  def layerTable(since: Long): Seq[(String, Int, Double, Double, Double)] = {
    val ss = allSpans.filter(_.start >= since)
    val rows = ss.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val selfNs = (s.end - s.start) - Tracer.unionNs(kids)
      val ownJobs = jobIntervals.asScala.iterator.filter(_._1 == s.id)
        .map(j => (math.max(j._2 * 1000000L, s.start), math.min(j._3 * 1000000L, s.end)))
        .filter(j => j._2 > j._1).toSeq
      val jobNs = math.min(selfNs, Tracer.unionNs(ownJobs))
      (s.layer, selfNs / 1e9, jobNs / 1e9)
    }
    rows.groupBy(_._1).toSeq.map { case (layer, rs) =>
      val self = rs.map(_._2).sum
      val inJobs = rs.map(_._3).sum
      (layer, rs.size, self, inJobs, self - inJobs)
    }.sortBy(-_._3)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      val c = countsFor(s.id)
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.start, "end_ns" -> s.end, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "executor_ms" -> c.executorRunMs)
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
