package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The spec is `perfbench/GENERATORS.md`; every
  * value here is a closed-form function of (seed, position), built from
  * integer arithmetic and multiples of 1/8, so the Spark-side inputs and
  * the driver-side expectations agree bit for bit and sums of values are
  * exact in any order. */
object GridGen {
  val DayUs: Long = 86400000000L
  /** Epoch day of the first generated day (2020-01-01). */
  val Day0: Long = 18262L
  val Sentinel: Double = -9999.0
  /** One cell in `MissingEvery` carries the sentinel on every day and in
    * every full latitude row, so any full-row subset has exactly 5%. */
  val MissingEvery: Int = 20
  val CorrectionOffset: Double = 250.0
  val Bounds: (Double, Double) = (-1.0, 1000.0)

  def lat(i: Int): Double = -58.5 + 3.0 * i
  /** Raw longitudes run 0–360 (the CHIRPS-style source convention). */
  def lonRaw(j: Int): Double = 2.25 + 4.5 * j
  /** Longitude after the store's [-180, 180) wrap. */
  def lon(j: Int): Double = { val l = lonRaw(j); if (l >= 180.0) l - 360.0 else l }
  def timeUs(day: Int): Long = (Day0 + day) * DayUs

  def missing(seed: Long, day: Int, i: Int, j: Int): Boolean =
    Math.floorMod(j + 7L * i + 3L * day + seed, MissingEvery.toLong) == 0

  def value(seed: Long, day: Int, i: Int, j: Int): Double =
    Math.floorMod(seed * 7919L + day * 31L + i * 17L + j * 13L +
      Math.floorMod(day.toLong * i * j, 101L), 4000L) * 0.125

  /** Expected stored value (None = missing) of an uncorrected cell. */
  def expected(seed: Long, day: Int, i: Int, j: Int, corrected: Boolean): Option[Double] =
    if (missing(seed, day, i, j)) None
    else Some(value(seed, day, i, j) + (if (corrected) CorrectionOffset else 0.0))
}

/** One gridded cube shape: `nLat` × `nLon` cells per day. */
final case class Grid(seed: Long, nLat: Int, nLon: Int) {
  import GridGen._
  require(nLon % MissingEvery == 0, "nLon must be a multiple of the missing period")
  def cellsPerDay: Long = nLat.toLong * nLon

  /** Raw source frame for days [d0, d0 + nDays) and latitude rows
    * [i0, i1): sentinel-coded missing values, 0–360 longitudes. A
    * `corrected` frame carries the correction offset on every value. */
  def frame(spark: SparkSession, d0: Int, nDays: Int, i0: Int = 0, i1: Int = -1,
            corrected: Boolean = false): DataFrame = {
    val hi = if (i1 < 0) nLat else i1
    val rows = hi - i0
    val n = nDays.toLong * rows * nLon
    val s = lit(seed)
    val day = expr(s"id div ${rows.toLong * nLon}") + lit(d0.toLong)
    val i = expr(s"(id div $nLon) % $rows") + lit(i0.toLong)
    val j = expr(s"id % $nLon")
    val raw = pmod(s * 7919L + day * 31L + i * 17L + j * 13L + pmod(day * i * j, lit(101L)),
      lit(4000L)).cast("double") * 0.125 +
      lit(if (corrected) CorrectionOffset else 0.0)
    val isMissing = pmod(j + i * 7L + day * 3L + s, lit(MissingEvery.toLong)) === 0
    spark.range(0, n, 1, math.max(1, math.min(8, (n / 20000L).toInt)))
      .select(
        ((day + lit(Day0)) * lit(DayUs)).as("time"),
        (lit(-58.5) + i.cast("double") * 3.0).as("latitude"),
        (lit(2.25) + j.cast("double") * 4.5).as("longitude"),
        when(isMissing, lit(Sentinel)).otherwise(raw).as("precip"))
  }
}

/** Exact order-independent fingerprint of a set of (day, i, j, value)
  * cells: row count, missing count, and value moments. Every term is a
  * multiple of 1/16 far below 2^49, so double sums are exact in any
  * summation order. */
final case class Fingerprint(rows: Long, nulls: Long, sumV: Double, sumVDay: Double,
                             sumVLat: Double, sumVLon: Double) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, nulls + o.nulls,
    sumV + o.sumV, sumVDay + o.sumVDay, sumVLat + o.sumVLat, sumVLon + o.sumVLon)
}

object Fingerprint {
  val Zero: Fingerprint = Fingerprint(0, 0, 0, 0, 0, 0)

  def cell(day: Int, i: Int, j: Int, v: Option[Double]): Fingerprint = v match {
    case None => Fingerprint(1, 1, 0, 0, 0, 0)
    case Some(x) => Fingerprint(1, 0, x, x * day, x * GridGen.lat(i), x * GridGen.lon(j))
  }

  /** The same fingerprint computed by Spark over a stored frame. */
  def of(df: DataFrame, valueCol: String): Fingerprint = {
    val v = col(valueCol)
    val day = (col("time") / lit(GridGen.DayUs)).cast("long") - lit(GridGen.Day0)
    val r = df.agg(count(lit(1)), count(when(v.isNull, lit(1))),
      coalesce(sum(v), lit(0.0)), coalesce(sum(v * day), lit(0.0)),
      coalesce(sum(v * col("latitude")), lit(0.0)),
      coalesce(sum(v * col("longitude")), lit(0.0))).collect()(0)
    Fingerprint(r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5))
  }
}

/** Corpus generator: unique base docs plus planted exact and near
  * duplicates of earlier bases. Ground truth: the kept set is exactly the
  * base ids, because each duplicate has a larger id than its base and
  * random bases share no 3-gram shingles. */
final case class CorpusGen(seed: Long) {
  import CorpusGen._

  private def draw(id: Long) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)

  /** 0 = base, 1 = exact duplicate, 2 = near duplicate. */
  def kind(id: Long): Int = {
    val u = draw(id).nextDouble()
    if (id == 0 || u >= ExactShare + NearShare) 0 else if (u < ExactShare) 1 else 2
  }

  def isBase(id: Long): Boolean = kind(id) == 0

  /** The base a duplicate copies: the nearest base at or below a seeded
    * draw from [0, id). */
  def target(id: Long): Long = {
    val r = draw(id); r.nextDouble()
    var k = r.nextLong(0, id)
    while (!isBase(k)) k -= 1
    k
  }

  def baseText(id: Long): String = {
    val r = draw(id ^ 0x5DEECE66DL)
    (0 until Tokens).map(_ => "w" + r.nextInt(Vocab)).mkString(" ")
  }

  /** Near copy: only the last token changes, so 21 of 23 3-gram shingles
    * are shared (true Jaccard 0.91, far above the 0.5 gate). */
  def nearText(baseId: Long): String =
    baseText(baseId).split(' ').dropRight(1).mkString(" ") + " z" + baseId

  def doc(id: Long): (Long, String, String) = {
    val text = kind(id) match {
      case 0 => baseText(id)
      case 1 => baseText(target(id))
      case _ => nearText(target(id))
    }
    (id, text, if (Math.floorMod(id * 31 + seed, 4L) == 0) "books" else "web")
  }

  def batch(firstId: Long, n: Int): Seq[(Long, String, String)] =
    (firstId until firstId + n).map(doc)

  def basesIn(firstId: Long, n: Int): Seq[Long] =
    (firstId until firstId + n).filter(isBase)
}

/** The corpus shape the ground truth in GENERATORS.md depends on: with 24
  * tokens a near copy shares 21 of 23 shingles, and with 20000 words two
  * random bases share none. */
object CorpusGen {
  val Tokens = 24
  val Vocab = 20000
  val ExactShare = 0.1
  val NearShare = 0.1
}
