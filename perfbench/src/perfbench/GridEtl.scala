package perfbench

import scala.collection.mutable

import graft.etl.DatasetManager
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shape of one grid ETL cycle. */
final case class EtlShape(nLat: Int, nLon: Int, initialDays: Int, updates: Int,
                          bucketDays: Int)

object GridEtl {
  def descriptor(bucketDays: Int): DatasetDescriptor =
    DatasetDescriptor("chirps_bench", "precip", Category.Observation,
      Some(GridGen.Sentinel), GridGen.DayUs,
      ChunkGrid(bucketDays * GridGen.DayUs, 1000000L), attrs = Map("units" -> "mm"))

  def manager(spark: SparkSession, storeRoot: String, stacRoot: String,
              bucketDays: Int): DatasetManager =
    new DatasetManager(descriptor(bucketDays), storeRoot, stacRoot, spark,
      extremeBounds = Some(GridGen.Bounds),
      expectedMissingFrequency = Some(1.0 / GridGen.MissingEvery))

  /** The methods `DatasetManager.parse` calls, by the call name their
    * time is traced under. Anything else it runs (its routing, or a step
    * it gains later) stays in the `op.parse` span's own self time. */
  val ParsePhases: Map[String, String] = Map(
    "graft.etl.DatasetManager.preParseQualityCheck" -> "qc.pre",
    "graft.sources.GriddedStore.writeInitial" -> "sources.write_initial",
    "graft.sources.GriddedStore.update" -> "sources.update",
    "graft.etl.DatasetManager.postParseQualityCheck" -> "qc.post",
    "graft.etl.DatasetManager.publishMetadata" -> "catalog.publish")

  /** `DatasetManager.parse`; traced, one `op.parse` span split into the
    * [[ParsePhases]] by stack samples. */
  def parse(tr: Trace, mgr: DatasetManager, df: DataFrame, key: String): Unit =
    tr.phased("op.parse", key, "graft.etl.DatasetManager.parse", ParsePhases)(mgr.parse(df))

  /** Generates the initial cube through `normalize` and checks it
    * against the closed form. */
  def checkGenerator(spark: SparkSession, grid: Grid, days: Int, out: Outcome): Unit = {
    val mgr = manager(spark, "unused", "unused", 1) // normalize touches no files
    out.check(s"generated ${grid.nLat}x${grid.nLon}x$days cube matches its closed form")(
      Fingerprint.of(mgr.normalize(grid.frame(spark, 0, days)), "precip") ==
        expected(grid, days, Set.empty))
  }

  /** Bytes of the files the store's live manifest pins. */
  def liveBytes(mgr: DatasetManager, spark: SparkSession): Long = {
    val root = new Path(mgr.store.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    mgr.store.snapshotFiles().getOrElse(Nil).map(f => fs.getFileStatus(new Path(root, f)).getLen).sum
  }

  /** Mean live files per time bucket. */
  def filesPerBucket(mgr: DatasetManager): Double = {
    val files = mgr.store.snapshotFiles().getOrElse(Nil)
    val buckets = files.map(_.split('/').find(_.startsWith("time_bucket="))).distinct.size
    if (buckets == 0) 0.0 else files.size.toDouble / buckets
  }

  /** Expected fingerprint of days [0, days) with corrected (day, row)s. */
  def expected(grid: Grid, days: Int, corrected: collection.Set[(Int, Int)]): Fingerprint = {
    var fp = Fingerprint.Zero
    for (d <- 0 until days; i <- 0 until grid.nLat) {
      val c = corrected.contains((d, i))
      for (j <- 0 until grid.nLon)
        fp = fp + Fingerprint.cell(d, i, j, GridGen.expected(grid.seed, d, i, j, c))
    }
    fp
  }
}

/** `grid_etl`: the daily cron against one gridded dataset, with its
  * readers. An initial parse; `updates` update parses (one-day appends,
  * every fifth a spatial-subset insert correction of a past day, every
  * tenth and the last a gapped append that must be refused), each
  * accepted one followed by one [[GridReads]] block against the
  * uncompacted store;
  * the STAC extent gate; compact + vacuum; and the final read-back gate.
  * Spreading the reads over the run keeps a burst of host noise from
  * landing on all of them. Read blocks that fill the time left before
  * the deadline are checked but enter no reported figure, so the figures
  * do not depend on how fast the writes were. */
final class GridEtl(spark: SparkSession, seed: Long, work: String, tr: Trace,
                    out: Outcome, shape: EtlShape) extends Workload {
  import GridEtl._
  private val grid = Grid(seed, shape.nLat, shape.nLon)
  private val updateS = mutable.ArrayBuffer.empty[Double]
  private var initialCellsPerS = 0.0
  private var updateCells = 0L
  private var maintenanceS = 0.0
  private var bytesPerCell = 0.0
  private var filesPerBucketPre = 0.0
  private var reads: GridReads = _
  /** Requests and blocks of the fixed part of the run: one block per
    * accepted update. */
  private var fixedReads, fixedBlocks = 0

  def generate(): Unit = checkGenerator(spark, grid, shape.initialDays, out)

  def run(deadlineNs: Long): Unit = {
    // the store sits where the session's GridCatalog resolves `grid.bench.ds`
    val mgr = manager(spark, s"$work/warehouse/bench/ds", s"$work/stac", shape.bucketDays)
    val rng = new java.util.SplittableRandom(seed * 1000003L)
    val corrected = mutable.Set.empty[(Int, Int)]
    val versions = mutable.ArrayBuffer.empty[StoreVersion]
    var days = shape.initialDays
    reads = new GridReads(spark, seed, grid, mgr, tr, out)
    def readBlock(): Unit = if (versions.exists(_.append)) reads.block(versions.toSeq)
    def accepted(append: Boolean): Unit =
      versions += StoreVersion(mgr.store.latestVersionNumber(), days, corrected.toSet, append)
    out.op("initial parse")(parse(tr, mgr, mgr.normalize(grid.frame(spark, 0, days)), "initial"))
      .foreach { s =>
        initialCellsPerS = days * grid.cellsPerDay / s
        accepted(append = false)
      }
    for (k <- 1 to shape.updates) {
      val gap = k % 10 == 0 || k == shape.updates
      if (gap) {
        val v0 = mgr.store.latestVersionNumber()
        val gapped = mgr.normalize(grid.frame(spark, days + 1, 1))
        out.refusal[IllegalArgumentException](s"u$k gapped append", "not contiguous") {
          tr.call("qc.reject", s"u$k")(mgr.parse(gapped))
        }
        out.check(s"u$k refused append left the manifest version unchanged")(
          mgr.store.latestVersionNumber() == v0)
      } else if (k % 5 == 0) {
        val day = rng.nextInt(days - 1)
        val i0 = rng.nextInt(grid.nLat / 2)
        val i1 = i0 + 1 + rng.nextInt(grid.nLat / 2)
        val fix = mgr.normalize(grid.frame(spark, day, 1, i0, i1, corrected = true))
        out.op(s"u$k insert correction")(parse(tr, mgr, fix, s"u$k")).foreach { s =>
          updateS += s
          updateCells += (i1 - i0).toLong * grid.nLon
          (i0 until i1).foreach(i => corrected += ((day, i)))
          accepted(append = false)
        }
      } else {
        val next = mgr.normalize(grid.frame(spark, days, 1))
        out.op(s"u$k append")(parse(tr, mgr, next, s"u$k")).foreach { s =>
          updateS += s
          updateCells += grid.cellsPerDay
          days += 1
          accepted(append = true)
        }
      }
      if (!gap) readBlock() // a refused update leaves nothing new to read
    }
    filesPerBucketPre = filesPerBucket(mgr)
    fixedReads = reads.latency.size
    fixedBlocks = reads.blockMeans.size
    while (versions.exists(_.append) && System.nanoTime() < deadlineNs) readBlock()
    // the latest STAC item covers the whole committed store
    out.check("STAC extent of the latest item") {
      val item = mgr.catalog.readItem(mgr.descriptor.name,
        mgr.catalog.latestVersion(mgr.descriptor.name).get).get
      val props = item \ "properties"
      val bbox = (item \ "bbox").values.asInstanceOf[List[Any]].map(_.toString.toDouble)
      val lons = (0 until grid.nLon).map(GridGen.lon)
      (props \ "start_us").values.toString.toLong == GridGen.timeUs(0) &&
      (props \ "end_us").values.toString.toLong == GridGen.timeUs(days - 1) &&
      bbox == List(lons.min, GridGen.lat(0), lons.max, GridGen.lat(grid.nLat - 1))
    }
    out.op("compact + vacuum") {
      tr.call("sources.compact")(mgr.store.compact())
      tr.call("sources.vacuum")(mgr.store.vacuum())
    }.foreach(maintenanceS = _)
    bytesPerCell = liveBytes(mgr, spark).toDouble / (days * grid.cellsPerDay)
    out.check("final read-back matches the generator")(
      Fingerprint.of(mgr.store.read(), "precip") == expected(grid, days, corrected))
  }

  private def readS = reads.latency.take(fixedReads)

  def named: Seq[Metric] = Seq(
    Metric("initial_cells_per_s", initialCellsPerS, "cells/s"),
    Metric("update_p50_s", Stats.median(updateS), "s"),
    Metric("update_p75_s", Stats.quantile(updateS, 0.75), "s"),
    Metric("maintenance_s", maintenanceS, "s"),
    Metric("store_bytes_per_cell", bytesPerCell, "bytes"),
    Metric("read_p50_s", Stats.median(readS), "s"),
    Metric("read_p90_s", Stats.quantile(readS, 0.9), "s"))

  def common: Seq[Metric] = Seq(
    Metric("write_p50_s", Stats.median(updateS), "s"),
    Metric("read_mix_s", Stats.median(reads.blockMeans.take(fixedBlocks)), "s"))

  def layerExtras(tr: Tracer): Seq[Metric] = {
    def rowsRead(call: String) = {
      val ss = tr.spansNamed(call)
      if (ss.isEmpty) 0.0 else ss.map(_.inRecords).sum.toDouble / ss.size
    }
    Seq(
      Metric("sources.files_per_bucket", filesPerBucketPre, "files"),
      Metric("sources.write_amp", tr.spansNamed("sources.update").map(_.outBytes).sum.toDouble /
        math.max(1L, updateCells * 32L), "ratio"),
      Metric("sources.rows_read_per_row_returned",
        tr.spansNamed("sources.scan").map(_.inRecords).sum.toDouble /
          math.max(1L, reads.rowsSelected), "ratio"),
      Metric("qc.post_rows_read", rowsRead("qc.post"), "rows"),
      Metric("catalog.publish_rows_read", rowsRead("catalog.publish"), "rows"))
  }

  override def report(tr: Option[Tracer]): Seq[String] = {
    val base = Seq(s"grid_etl: ${updateS.size} accepted updates, grid ${grid.nLat}x${grid.nLon}, " +
      s"${shape.initialDays} initial days, ${reads.latency.size} reads " +
      reads.kinds.toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString("(", ", ", ")") +
      s", ${reads.latency.size - fixedReads} of them after the fixed blocks" +
      f", $filesPerBucketPre%.2f files/bucket")
    val lat = Seq(s"grid_etl update latencies ${updateS.map(x => f"$x%.2f").mkString(" ")} s",
      s"grid_etl read latencies ${readS.map(x => f"$x%.2f").mkString(" ")} s")
    base ++ lat ++ tr.toSeq.map { t =>
      // per-call self time against the update wall: what dominates the tail
      val updates = t.all.filter(s => (s.name == "op.parse" || s.name == "qc.reject") &&
        s.key.startsWith("u") && s.parent == null)
      val wall = updates.map(_.wallS).sum
      val parts = Seq("qc.pre", "sources.update", "qc.post", "catalog.publish").map(c =>
        c -> updates.flatMap(_.phases).filter(_.name == c).map(_.selfS).sum) ++ Seq(
        "qc.reject" -> updates.filter(_.name == "qc.reject").map(_.selfS).sum,
        "parse other" -> updates.filter(_.name == "op.parse").map(_.selfS).sum)
      f"grid_etl update wall $wall%.3f s = " + parts.map { case (c, s) =>
        f"$c $s%.3f s (${100 * s / math.max(wall, 1e-9)}%.1f%%)" }.mkString(", ")
    }
  }
}
