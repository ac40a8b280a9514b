package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** `/proc/stat` steal and load average, so a noisy run is identifiable. */
final case class HostSample(steal: Long, total: Long, load1: Double)

object HostSample {
  def now(): HostSample = {
    def read(p: String) = try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => "" }
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val load = read("/proc/loadavg").trim.split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    HostSample(if (cpu.length > 7) cpu(7) else 0L, cpu.sum, load)
  }
}

/** Entry point: `--workload grid_etl|corpus_dedup|all --seed n
  * --seconds s --trace 0|1 --work dir --out file`. Prints one
  * `metric <name> <value> <unit>` line per metric and writes the
  * summary JSON to `--out` (traced: the spans to `spans-<workload>.jsonl`
  * beside it); `perfbench/run.py` prints that JSON as the last stdout
  * line. */
object Main {
  val Workloads: Seq[String] = Seq("grid_etl", "corpus_dedup")

  // Sizes keep one run (JVM + set-up + measured phase) near a minute on
  // 4 cores. A graft update or shard ingest costs seconds of per-job
  // overhead even on small inputs, so the update and ingest counts are
  // the smallest that contain every op kind the workload names. The
  // grid holds six months of days, so the per-update reads of the whole
  // store (post-QC, STAC extent) are a visible share of an update.
  val Etl = EtlShape(nLat = 12, nLon = 80, initialDays = 180, updates = 6, bucketDays = 30)
  val Corpus = CorpusShape(initialDocs = 600, shardDocs = 250, shards = 2, readBlocks = 2)
  /** Input generations per run; `setup_s` takes their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(workload == "all" || Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())

    val host0 = HostSample.now()
    val (spark, sessionS) = Stats.time(session(cores, work, trace))
    val out = new Outcome
    val names = if (workload == "all") Workloads else Seq(workload)
    val lines = Seq.newBuilder[String]
    val metrics = Seq.newBuilder[Metric]
    val layer = Seq.newBuilder[Metric]
    for (w <- names) {
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val tr: Trace = tracer.getOrElse(NoTrace)
      val dir = s"$work/$w"
      val wl: Workload = w match {
        case "grid_etl" => new GridEtl(spark, seed, dir, tr, out, Etl)
        case _ => new CorpusDedup(spark, seed, dir, tr, out, Corpus)
      }
      val setups = Seq.fill(SetupReps)(Stats.time(wl.generate())._2)
      val setupS = Stats.median(setups) + (if (w == names.head) sessionS else 0.0)
      val t0 = System.nanoTime()
      wl.run(t0 + (seconds * 1e9).toLong)
      val runNs = System.nanoTime() - t0
      tracer.foreach { t =>
        t.finish()
        t.writeSpans(Paths.get(opt("out")).resolveSibling(s"spans-$w.jsonl"))
      }
      lines ++= wl.report(tracer)
      lines += f"$w: generate ${setups.map(s => f"$s%.3f").mkString(", ")} s, session $sessionS%.3f s, " +
        f"measured ${runNs / 1e9}%.1f s"
      if (workload == "all") {
        metrics ++= wl.named
        metrics += Metric(s"$w.setup_s", setupS, "s")
      } else {
        metrics += Metric("setup_s", setupS, "s")
        metrics ++= wl.common
        lines ++= wl.named.map(m => f"named ${m.name} ${m.value}%.6g ${m.unit}")
      }
      tracer.foreach { t =>
        val extras = wl.layerExtras(t).map(m => m.name -> m).toMap
        val prefix = if (workload == "all") s"$w." else ""
        layer ++= (t.layerMetrics(runNs).map { case (n, v, u) => Metric(n, v, u) } ++
          LayerExtras.map { case (n, u) => extras.getOrElse(n, Metric(n, 0.0, u)) })
          .map(m => m.copy(name = prefix + m.name))
      }
    }
    val host1 = HostSample.now()
    val dTotal = math.max(1L, host1.total - host0.total)
    lines += f"host: nproc $cores, steal ${100.0 * (host1.steal - host0.steal) / dTotal}%.2f%%, " +
      f"loadavg ${host0.load1}%.2f -> ${host1.load1}%.2f"
    lines += f"ops: attempted ${out.attempted}, failed ${out.failed}, " +
      f"ops_failed_frac ${out.failed.toDouble / math.max(1L, out.attempted)}%.4f"
    out.failures.foreach(f => lines += s"FAILED: $f")
    if (workload == "all")
      metrics += Metric("ops_failed_frac", out.failed.toDouble / math.max(1L, out.attempted), "fraction")
    val reported = if (trace) layer.result() else metrics.result()
    reported.foreach(m => lines += f"metric ${m.name} ${m.value}%.6g ${m.unit}")
    lines.result().foreach(println)
    val json = reported.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")
    Files.write(Paths.get(opt("out")), (s"""{"correct": ${out.failed == 0}, "attempted": """ +
      s"""${out.attempted}, "failed": ${out.failed}, "metrics": $json}""").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Per-layer counters the workloads compute, with their units; a
    * workload that has no such counter reports 0. */
  val LayerExtras: Seq[(String, String)] = Seq(
    "sources.files_per_bucket" -> "files", "sources.write_amp" -> "ratio",
    "sources.rows_read_per_row_returned" -> "ratio", "qc.post_rows_read" -> "rows",
    "catalog.publish_rows_read" -> "rows")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(cores: Int, work: String, trace: Boolean): SparkSession = {
    val b = graft.GraftSession.builder(cores)
    if (trace) {
      b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      // call sites deep enough to reach the traced entry point
      System.setProperty("spark.callstack.depth", "200")
    }
    val spark = b
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.grid", "graft.catalog.GridCatalog")
      .config("spark.sql.catalog.grid.warehouse", s"$work/grid_etl/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
