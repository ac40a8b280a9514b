package perfbench

import scala.collection.mutable

import graft.etl.DatasetManager
import graft.operators.Selections
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A committed store version: its manifest number, day count, corrected
  * (day, latitude row)s, and whether it was made by a one-day append. */
final case class StoreVersion(v: Long, days: Int, corrected: Set[(Int, Int)], append: Boolean)

/** The readers of `grid_etl`: a seeded request mix against the store
  * the cron is building, in the small-file layout daily appends leave
  * behind (it is compacted only at the end). Each request resolves a
  * snapshot, plans a selection and scans; its result is checked against
  * the closed-form generator at that version. Every block of six
  * requests holds each kind once, in seeded order, so the mix is the same
  * for every seed. */
final class GridReads(spark: SparkSession, seed: Long, grid: Grid, mgr: DatasetManager,
                      tr: Trace, out: Outcome) {
  val latency = mutable.ArrayBuffer.empty[Double]
  /** Mean request latency of each complete block. */
  val blockMeans = mutable.ArrayBuffer.empty[Double]
  val kinds = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** Rows the requests' selections cover, per the generator. */
  var rowsSelected = 0L
  private val rng = new java.util.SplittableRandom(seed * 7777L + 1)
  private var n = 0
  private val boxAgg = Seq(count(lit(1)), count(col("precip")), sum(col("precip")))

  private def exp(s: StoreVersion, d: Int, i: Int, j: Int) =
    GridGen.expected(seed, d, i, j, s.corrected.contains((d, i)))

  /** count, non-null count and exact value sum of a cell box. */
  private def boxExpect(s: StoreVersion, d0: Int, d1: Int, i0: Int, i1: Int, j0: Int,
                        j1: Int): (Long, Long, Double) = {
    var n, nn = 0L
    var sum = 0.0
    for (d <- d0 until d1; i <- i0 until i1; j <- j0 until j1) {
      n += 1
      exp(s, d, i, j).foreach { v => nn += 1; sum += v }
    }
    (n, nn, sum)
  }

  private def boxFilter(df: DataFrame, i0: Int, i1: Int, j0: Int, j1: Int): DataFrame = {
    // longitudes wrap, so a j-range maps to a lon set, not always a range
    val lons = (j0 until j1).map(GridGen.lon)
    df.filter(col("latitude").between(GridGen.lat(i0), GridGen.lat(i1 - 1)) &&
      col("longitude").isin(lons: _*))
  }

  private def aggRow(r: Row, from: Int = 0): (Long, Long, Double) =
    (r.getLong(from), r.getLong(from + 1), if (r.isNullAt(from + 2)) 0.0 else r.getDouble(from + 2))

  /** Resolve → plan → scan, one span each, then the result gate. */
  private def request(kind: String, key: String, selected: Long)(resolve: => DataFrame)(
      plan: DataFrame => DataFrame)(check: Array[Row] => Boolean): Unit = {
    var rows: Array[Row] = null
    out.op(s"$key $kind") {
      val src = tr.call("catalog.resolve", key)(resolve)
      val df = tr.call("operators.plan", key) { val q = plan(src); q.queryExecution.executedPlan; q }
      rows = tr.call("sources.scan", key)(df.collect())
    }.foreach { s =>
      latency += s
      kinds(kind) += 1
      rowsSelected += selected
      out.check(s"$key $kind result matches the generator")(check(rows))
    }
  }

  /** One block of requests against the committed `versions` (the last
    * is the latest; at least one must come from an append). */
  def block(versions: Seq[StoreVersion]): Unit = {
    val latest = versions.last
    val days = latest.days
    val appends = versions.indices.filter(k => k > 0 && versions(k).append)
    val before = latency.size
    for (kind <- (0 until 6).map(k => (rng.nextDouble(), k)).sortBy(_._1).map(_._2)) {
      val key = s"r$n"
      n += 1
      kind match {
        case 0 => // point_series: one cell over all time
          val (i, j) = (rng.nextInt(grid.nLat), rng.nextInt(grid.nLon))
          request("point_series", key, days)(mgr.store.read())(df =>
            Selections.pointSelect(df, Map("latitude" -> GridGen.lat(i),
              "longitude" -> GridGen.lon(j))).select("time", "precip")) { rows =>
            rows.map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
              .sortBy(_._1).toSeq == (0 until days).map(d => (GridGen.timeUs(d), exp(latest, d, i, j)))
          }
        case 1 => // box_window: lat/lon box x 7 days
          val (i0, j0, d0) = (rng.nextInt(grid.nLat - 8), rng.nextInt(grid.nLon - 16),
            rng.nextInt(days - 7))
          request("box_window", key, 7L * 8 * 16)(mgr.store.read())(df =>
            boxFilter(Selections.timeSlice(df, "time", GridGen.timeUs(d0), GridGen.timeUs(d0 + 6)),
              i0, i0 + 8, j0, j0 + 16).agg(boxAgg.head, boxAgg.tail: _*)) { rows =>
            aggRow(rows(0)) == boxExpect(latest, d0, d0 + 7, i0, i0 + 8, j0, j0 + 16)
          }
        case 2 => // climatology: monthly mean over a region
          val (i0, j0) = (rng.nextInt(grid.nLat - 10), rng.nextInt(grid.nLon - 20))
          request("climatology", key, days.toLong * 10 * 20)(mgr.store.read())(df =>
            boxFilter(df, i0, i0 + 10, j0, j0 + 20)
              .groupBy(month(timestamp_micros(col("time"))).as("m"))
              .agg(avg(col("precip")))) { rows =>
            val want = (0 until days).groupBy(d =>
              java.time.LocalDate.ofEpochDay(GridGen.Day0 + d).getMonthValue).map { case (m, ds) =>
              val vs = for (d <- ds; i <- i0 until i0 + 10; j <- j0 until j0 + 20;
                            v <- exp(latest, d, i, j)) yield v
              m -> vs.sum / vs.size
            }
            rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap == want
          }
        case 3 => // time_travel: an older manifest version
          val s = versions(rng.nextInt(versions.size - 1))
          val (i0, j0) = (rng.nextInt(grid.nLat - 8), rng.nextInt(grid.nLon - 16))
          request("time_travel", key, s.days.toLong * 8 * 16)(mgr.store.readAt(s.v))(df =>
            boxFilter(df, i0, i0 + 8, j0, j0 + 16)
              .agg(count(lit(1)), count(col("precip")), sum(col("precip")), max(col("time")))) {
            rows =>
              aggRow(rows(0)) == boxExpect(s, 0, s.days, i0, i0 + 8, j0, j0 + 16) &&
                rows(0).getLong(3) == GridGen.timeUs(s.days - 1)
          }
        case 4 => // changes: net change set of one append commit
          val k = appends(rng.nextInt(appends.size))
          val (from, to) = (versions(k - 1), versions(k))
          request("changes", key, grid.cellsPerDay)(mgr.store.changesNet(from.v, to.v))(df =>
            df.groupBy("_change_type").agg(boxAgg.head, boxAgg.tail: _*)) { rows =>
            rows.length == 1 && rows(0).getString(0) == "insert" &&
              aggRow(rows(0), 1) == boxExpect(to, to.days - 1, to.days, 0, grid.nLat, 0, grid.nLon)
          }
        case _ => // sql_version: GridCatalog VERSION AS OF
          val s = versions(rng.nextInt(versions.size))
          val (i0, j0) = (rng.nextInt(grid.nLat - 8), rng.nextInt(grid.nLon - 16))
          val lons = (j0 until j0 + 16).map(GridGen.lon).mkString(", ")
          request("sql_version", key, s.days.toLong * 8 * 16)(spark.sql(
            s"SELECT latitude, longitude, precip FROM grid.bench.ds VERSION AS OF ${s.v}"))(df =>
            df.filter(s"latitude BETWEEN ${GridGen.lat(i0)} AND ${GridGen.lat(i0 + 7)} " +
              s"AND longitude IN ($lons)").agg(boxAgg.head, boxAgg.tail: _*)) { rows =>
            aggRow(rows(0)) == boxExpect(s, 0, s.days, i0, i0 + 8, j0, j0 + 16)
          }
      }
    }
    if (latency.size - before == 6) blockMeans += latency.drop(before).sum / 6
  }
}
