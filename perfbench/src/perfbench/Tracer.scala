package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span hook around each public graft call. The untraced run uses
  * [[NoTrace]], which only runs the body. */
trait Trace {
  def enabled: Boolean
  def call[T](name: String, key: String = "")(body: => T): T
  /** [[call]] around one call of the method `entry` (`Class.method`).
    * Its time, jobs and file operations are split among child spans,
    * one per run of the same direct callee of `entry` on the calling
    * thread's stack, named by `phases` (callee `Class.method` → call
    * name). Time in `entry` itself or in an unnamed callee stays in
    * the span's own self time. */
  def phased[T](name: String, key: String, entry: String, phases: Map[String, String])(
      body: => T): T
}

object NoTrace extends Trace {
  val enabled = false
  def call[T](name: String, key: String)(body: => T): T = body
  def phased[T](name: String, key: String, entry: String, phases: Map[String, String])(
      body: => T): T = body
}

/** One span: a public call, its wall interval and what the engine did
  * while it was open. The engine-side fields are filled in by
  * [[Tracer.finish]], once the listener bus has drained. */
final class Span(val id: Int, val name: String, val key: String, val parent: Span) {
  var t0Ns, t1Ns, t0Ms, t1Ms, childNs = 0L
  var fsOps = 0L
  var jobs = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskMs, shuffleBytes, inBytes, outBytes, inRecords = 0L
  var pinsAfter, tablesAfter = 0L
  /** Child spans made by [[Trace.phased]] from stack samples, and the
    * `entry` and phase names they were split by. */
  val phases = mutable.ArrayBuffer.empty[Span]
  var entry: String = null
  var phaseNames = Map.empty[String, String]

  def wallS: Double = (t1Ns - t0Ns) / 1e9
  def selfS: Double = (t1Ns - t0Ns - childNs) / 1e9
  def ioBytes: Long = inBytes + outBytes

  /** Wall time minus the union of this span's job intervals. */
  def driverGapS: Double = {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    math.max(0.0, wallS - covered / 1e3)
  }
}

/** Outside-in tracer: opens a span around each public call made by the
  * benchmark, tags the driver thread's jobs with the span id through a
  * Spark local property, and attributes jobs, task time, shuffle and IO
  * bytes, cached-block bytes and Hadoop FileSystem operations to it.
  * Spans stay in memory until the run ends ([[writeSpans]]). */
final class Tracer(spark: SparkSession) extends SparkListener with Trace {
  import Tracer._
  val enabled = true
  private val sc = spark.sparkContext
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Span = null
  /** Jobs in start order with the span open when each started; a stage
    * belongs to the first job that lists it, the one that runs it. */
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val stageAcc = mutable.Map.empty[Int, Array[Long]]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var cachedPeakEtl = 0L
  private var driverOverheadNs = 0L
  @volatile private var listenerNs = 0L
  sc.addSparkListener(this)

  private def open(name: String, key: String): Span = {
    val s = new Span(spans.size, name, key, current)
    spans += s
    byId.put(s.id, s)
    s.fsOps = fsOpCount()
    s.t0Ms = System.currentTimeMillis()
    sc.setLocalProperty(SpanProp, s.id.toString)
    current = s
    s.t0Ns = System.nanoTime()
    s
  }

  private def close(s: Span): Unit = {
    s.t1Ns = System.nanoTime()
    s.t1Ms = System.currentTimeMillis()
    s.fsOps = fsOpCount() - s.fsOps
    if (s.parent != null) s.parent.childNs += s.t1Ns - s.t0Ns
    current = s.parent
    sc.setLocalProperty(SpanProp, Option(s.parent).map(_.id.toString).orNull)
    if (s.name.startsWith("etl.")) {
      s.pinsAfter = sc.getPersistentRDDs.size
      s.tablesAfter = spark.catalog.listTables().count()
    }
  }

  def call[T](name: String, key: String)(body: => T): T = {
    val o0 = System.nanoTime()
    val s = open(name, key)
    driverOverheadNs += s.t0Ns - o0
    try body
    finally {
      close(s)
      driverOverheadNs += System.nanoTime() - s.t1Ns
    }
  }

  def phased[T](name: String, key: String, entry: String, phases: Map[String, String])(
      body: => T): T = {
    val o0 = System.nanoTime()
    val s = open(name, key)
    val fsStart = s.fsOps
    s.entry = entry
    s.phaseNames = phases
    val sampler = new Sampler(Thread.currentThread(), entry, phases)
    sampler.start()
    driverOverheadNs += System.nanoTime() - o0
    try body
    finally {
      val c0 = System.nanoTime()
      sampler.halt()
      close(s)
      split(s, fsStart, sampler.samples.toSeq)
      driverOverheadNs += System.nanoTime() - c0 + sampler.busyNs
    }
  }

  /** Turns the samples of a closed span into its phase child spans. A
    * boundary between two runs lies halfway between their samples; file
    * operations go to the run of the sample that first saw them. */
  private def split(s: Span, fsStart: Long, samples: Seq[Sample]): Unit = {
    var runs = List.empty[(String, Int, Int)] // phase, first and last sample
    samples.indices.foreach { k =>
      runs match {
        case (p, a, _) :: rest if p == samples(k).phase => runs = (p, a, k) :: rest
        case _ => runs = (samples(k).phase, k, k) :: runs
      }
    }
    val ordered = runs.reverse.toIndexedSeq
    def mid(a: Sample, b: Sample) = ((a.ns + b.ns) / 2, (a.ms + b.ms) / 2)
    ordered.zipWithIndex.foreach { case ((phase, a, b), r) =>
      if (phase != null) {
        val c = new Span(spans.size, phase, s.key, s)
        spans += c
        byId.put(c.id, c)
        val (n0, m0) = if (r == 0) (s.t0Ns, s.t0Ms) else mid(samples(ordered(r - 1)._3), samples(a))
        val (n1, m1) =
          if (r == ordered.size - 1) (s.t1Ns, s.t1Ms) else mid(samples(b), samples(ordered(r + 1)._2))
        c.t0Ns = n0; c.t1Ns = n1; c.t0Ms = m0; c.t1Ms = m1
        val f0 = if (r == 0) fsStart else samples(a).fsOps
        val f1 = if (r == ordered.size - 1) fsStart + s.fsOps else samples(ordered(r + 1)._2).fsOps
        c.fsOps = math.max(0L, f1 - f0)
        s.childNs += n1 - n0
        s.phases += c
      }
    }
  }

  /** Samples `thread`'s stack every [[SampleEveryNs]] until halted; each
    * sample names the phase `thread` is in. `busyNs` is the sampler's
    * CPU time, which it takes from the engine's cores. */
  private final class Sampler(thread: Thread, entry: String, phases: Map[String, String])
      extends Thread("perfbench-sampler") {
    setDaemon(true)
    val samples = mutable.ArrayBuffer.empty[Sample]
    @volatile var busyNs = 0L
    @volatile private var running = true

    def halt(): Unit = { running = false; join() }

    override def run(): Unit = {
      val cpu = java.lang.management.ManagementFactory.getThreadMXBean
      val c0 = cpu.getCurrentThreadCpuTime
      while (running) sample()
      busyNs = cpu.getCurrentThreadCpuTime - c0
    }

    private def sample(): Unit = {
      val t0 = System.nanoTime()
      val frames = thread.getStackTrace.toSeq.map(f => s"${f.getClassName}.${f.getMethodName}")
      if (frames.contains(entry))
        samples += Sample(t0, System.currentTimeMillis(), phaseOf(frames, entry, phases), fsOpCount())
      java.util.concurrent.locks.LockSupport.parkNanos(SampleEveryNs)
    }
  }

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    synchronized(f)
    listenerNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .flatMap(id => Option(byId.get(id.toInt)))
    (tagged orElse Option(current)).foreach { s =>
      val j = new Job(s, e.time, e.stageInfos.headOption.map(_.details).getOrElse(""))
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null && stageJob.contains(e.stageId)) {
      val a = stageAcc.getOrElseUpdate(e.stageId, new Array[Long](5))
      a(0) += m.executorRunTime
      a(1) += m.shuffleWriteMetrics.bytesWritten
      a(2) += m.inputMetrics.bytesRead
      a(3) += m.inputMetrics.recordsRead
      a(4) += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += bytes - blockBytes.getOrElse(info.blockId.name, 0L)
      if (bytes == 0L) blockBytes.remove(info.blockId.name)
      else blockBytes(info.blockId.name) = bytes
      val open = current
      if (open != null && open.name.startsWith("etl."))
        cachedPeakEtl = math.max(cachedPeakEtl, cachedBytes)
    }
  }

  /** Delivers every pending listener event, detaches the listener and
    * attributes each job, with its stages' task metrics, to its span, or
    * to a phase of that span: the one its call site names, else the one
    * in which it started. */
  def finish(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(this)
    val t0 = System.nanoTime()
    val stagesOf = stageJob.toSeq.groupBy(_._2).map { case (j, ss) => j -> ss.map(_._1) }
    jobs.foreach { j =>
      val byTime = j.span.phases.find(c => j.startMs >= c.t0Ms && j.startMs < c.t1Ms)
      val bySite = if (j.span.phases.isEmpty) None else {
        val frames = j.site.linesIterator.map(_.takeWhile(_ != '(').split('/').last).toSeq
        Option(phaseOf(frames, j.span.entry, j.span.phaseNames)).flatMap(n =>
          byTime.filter(_.name == n) orElse j.span.phases.find(_.name == n))
      }
      val s = bySite.orElse(byTime).getOrElse(j.span)
      s.jobs += 1
      s.jobIntervals += ((j.startMs, if (j.endMs >= 0) j.endMs else s.t1Ms))
      stagesOf.getOrElse(j, Nil).flatMap(stageAcc.get).foreach { a =>
        s.taskMs += a(0); s.shuffleBytes += a(1); s.inBytes += a(2); s.inRecords += a(3)
        s.outBytes += a(4)
      }
    }
    driverOverheadNs += System.nanoTime() - t0
  }

  /** Writes every span as one JSON line: its call, id and parent, the
    * key shared by the spans of one update/request/ingest, and its
    * counters. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val parent = Option(s.parent).map(_.id.toString).getOrElse("null")
      s"""{"id": ${s.id}, "parent": $parent, "name": "${s.name}", "key": "${s.key}", """ +
        s""""start_ms": ${s.t0Ms}, "wall_s": ${s.wallS}, "self_s": ${s.selfS}, "jobs": ${s.jobs}, """ +
        s""""task_s": ${s.taskMs / 1e3}, "driver_gap_s": ${s.driverGapS}, """ +
        s""""shuffle_bytes": ${s.shuffleBytes}, "io_bytes": ${s.ioBytes}, """ +
        s""""rows_read": ${s.inRecords}, "fs_ops": ${s.fsOps}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def all: Seq[Span] = spans.toSeq

  /** `<layer>.<call>.<counter>` as per-call means (zero for a call the
    * workload does not make), plus the tracer-wide counters. */
  def layerMetrics(runWallNs: Long): Seq[(String, Double, String)] = {
    val perCall = Calls.flatMap { c =>
      val ss = spansNamed(c)
      def mean(f: Span => Double): Double = if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
      Seq(
        (s"$c.self_s", mean(_.selfS), "s"),
        (s"$c.jobs", mean(_.jobs.toDouble), "count"),
        (s"$c.task_s", mean(_.taskMs / 1e3), "s"),
        (s"$c.driver_gap_s", mean(_.driverGapS), "s"),
        (s"$c.shuffle_bytes", mean(_.shuffleBytes.toDouble), "bytes"),
        (s"$c.io_bytes", mean(_.ioBytes.toDouble), "bytes"),
        (s"$c.fs_ops", mean(_.fsOps.toDouble), "count"))
    }
    val etl = spans.filter(_.name.startsWith("etl."))
    perCall ++ Seq(
      ("etl.pins_left", if (etl.isEmpty) 0.0 else etl.map(_.pinsAfter).max.toDouble, "count"),
      ("etl.catalog_tables", if (etl.isEmpty) 0.0 else etl.map(_.tablesAfter).max.toDouble, "count"),
      ("etl.cached_bytes_peak", cachedPeakEtl.toDouble, "bytes"),
      ("trace.overhead_frac",
        (driverOverheadNs + listenerNs).toDouble / math.max(1L, runWallNs), "fraction"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** Stack-sample period of [[Trace.phased]] spans. */
  val SampleEveryNs: Long = 10000000L

  /** A job, the span open when it started, and its call site (Spark's
    * long form: one stack frame a line, innermost first). */
  final class Job(val span: Span, val startMs: Long, val site: String) { var endMs = -1L }

  /** The phase of a stack given as `Class.method` frames, innermost
    * first: the name `phases` gives the direct callee of the outermost
    * `entry` frame, or null. */
  def phaseOf(frames: Seq[String], entry: String, phases: Map[String, String]): String = {
    val at = frames.lastIndexOf(entry)
    if (at <= 0) null else phases.getOrElse(frames(at - 1), null)
  }
  /** One stack sample: when it was taken, the phase (null: none) and
    * the file-operation count at that moment. */
  final case class Sample(ns: Long, ms: Long, phase: String, fsOps: Long)

  /** Every traced call, in `<layer>.<call>` form. */
  val Calls: Seq[String] = Seq(
    "qc.pre", "sources.write_initial", "sources.update", "qc.post", "catalog.publish",
    "qc.reject", "sources.compact", "sources.vacuum",
    "catalog.resolve", "operators.plan", "sources.scan",
    "etl.ingest_initial", "etl.ingest_shard", "etl.migrate", "etl.compact", "etl.vacuum")

  /** Local file-system operations so far (see [[CountingFs]]). */
  def fsOpCount(): Long = CountingFs.ops.get()
}
