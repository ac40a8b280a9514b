package perfbench

import scala.collection.mutable

import graft.etl.{CorpusManager, IngestReport}
import graft.functions.{DedupPipeline, Signatures}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shape of the corpus lifecycle: an initial ingest of `initialDocs`,
  * then `shards` shards of `shardDocs` before migration and one after;
  * `readBlocks` read blocks follow every ingest. */
final case class CorpusShape(initialDocs: Int, shardDocs: Int, shards: Int, readBlocks: Int)

/** `corpus_dedup`: the corpus lifecycle under a signature-scheme change.
  * Ingest under the legacy xxh64 scheme, ingest shards, compact, reopen
  * under the current scheme (which must refuse the next shard), migrate,
  * ingest that shard, read the deduplicated corpus until the deadline,
  * and vacuum. Every ingest is followed by reads of what it committed,
  * so the reads are spread over the run; only those reads enter the
  * reported figures. */
final class CorpusDedup(spark: SparkSession, seed: Long, work: String, tr: Trace,
                        out: Outcome, shape: CorpusShape) extends Workload {
  private val gen = CorpusGen(seed)
  private val legacyParams = DedupPipeline.Params(hasher = Signatures.Xxh64SigHasher)
  /** Each batch: its frame, size and ground-truth base ids. */
  private var batches: Seq[(DataFrame, Int, Set[Long])] = Nil
  private val shardS = mutable.ArrayBuffer.empty[Double]
  private val readS = mutable.ArrayBuffer.empty[Double]
  private val readBlockMeans = mutable.ArrayBuffer.empty[Double]
  private var docsIn = 0L
  private var ingestS = 0.0
  private var migrateS = 0.0
  private var maintenanceS = 0.0
  /** Reads and blocks of the fixed part of the run (`readBlocks` after
    * each ingest); the blocks that fill the time left before the
    * deadline are checked but enter no reported figure. */
  private var fixedReads, fixedBlocks = 0

  /** Generates every batch with its ground-truth base ids, as local
    * frames. */
  def generate(): Unit = {
    val sizes = shape.initialDocs +: Seq.fill(shape.shards + 1)(shape.shardDocs)
    val firsts = sizes.scanLeft(0L)(_ + _)
    val s = spark
    import s.implicits._
    batches = sizes.zip(firsts).map { case (n, first) =>
      val df = gen.batch(first, n).toDF("doc_id", "text", "source")
      out.check(s"corpus batch @$first has $n docs")(df.count() == n)
      (df, n, gen.basesIn(first, n).toSet)
    }
  }

  private def manager(legacy: Boolean) =
    new CorpusManager("corpus_bench", s"$work/corpus", spark,
      p = if (legacy) legacyParams else DedupPipeline.Params(), numBuckets = 4)

  /** The kept set equals the ground-truth bases and the manifest count. */
  private def checkKept(m: CorpusManager, bases: Set[Long], what: String): Unit =
    out.check(what) {
      val ids = m.corpus().select("doc_id").collect().map(_.getLong(0))
      ids.length == bases.size && ids.toSet == bases &&
        m.readManifest().exists(_.nDocs == bases.size)
    }

  def run(deadlineNs: Long): Unit = {
    val legacy = manager(legacy = true)
    var bases = Set.empty[Long]
    // every ingest is followed by reads of the corpus it committed
    def ingest(m: CorpusManager, b: Int, call: String)(f: DataFrame => IngestReport): Unit = {
      val (df, n, bb) = batches(b)
      out.op(s"batch $b $call")(tr.call(call, s"b$b")(f(df))).foreach { s =>
        ingestS += s
        docsIn += n
        bases ++= bb
        if (b > 0) shardS += s
      }
      for (_ <- 1 to shape.readBlocks) readBlock(m, bases)
    }
    ingest(legacy, 0, "etl.ingest_initial")(legacy.ingestInitial)
    for (b <- 1 to shape.shards) ingest(legacy, b, "etl.ingest_shard")(legacy.ingestShard)
    checkKept(legacy, bases, "kept set before migration")
    out.op("compact")(tr.call("etl.compact")(legacy.compactArtifacts())).foreach(maintenanceS += _)
    val current = manager(legacy = false)
    val last = shape.shards + 1
    out.refusal[IllegalStateException]("shard under the new scheme", "signature scheme")(
      current.ingestShard(batches(last)._1))
    out.op("migrate")(tr.call("etl.migrate")(current.migrateSignatureScheme()))
      .foreach(migrateS = _)
    ingest(current, last, "etl.ingest_shard")(current.ingestShard)
    checkKept(current, bases, "kept set after migration")
    fixedReads = readS.size
    fixedBlocks = readBlockMeans.size
    while (System.nanoTime() < deadlineNs) readBlock(current, bases)
    out.op("vacuum")(tr.call("etl.vacuum")(current.vacuum())).foreach(maintenanceS += _)
  }

  private val rng = new java.util.SplittableRandom(seed * 31337L + 7)

  /** One block of consumer reads of the deduplicated corpus, each checked
    * against the ground truth `bases`; a block holds each kind once, in
    * seeded order. */
  private def readBlock(m: CorpusManager, bases: Set[Long]): Unit = {
    val total = batches.map(_._2).sum
    val sorted = bases.toIndexedSeq.sorted
    val before = readS.size
    for (kind <- (0 until 4).map(k => (rng.nextDouble(), k)).sortBy(_._1).map(_._2)) {
      var check: () => Boolean = null
      out.op(s"corpus read $kind") {
        kind match {
          case 0 => // every kept id
            val ids = m.corpus().select("doc_id").collect().map(_.getLong(0))
            check = () => ids.length == bases.size && ids.toSet == bases
          case 1 => // id lookups: present exactly when the id is a base
            val want = Seq.fill(16)(rng.nextLong(total))
            val got = m.corpus().filter(col("doc_id").isin(want: _*)).select("doc_id")
              .collect().map(_.getLong(0)).toSet
            check = () => got == want.toSet.filter(bases)
          case 2 => // kept docs per source
            val got = m.corpus().groupBy("source").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            check = () => got == bases.toSeq.groupBy(b => gen.doc(b)._3)
              .map { case (k, v) => k -> v.size.toLong }
          case _ => // one kept doc's text
            val id = sorted(rng.nextInt(sorted.size))
            val got = m.corpus().filter(col("doc_id") === id).select("text").collect()
              .map(_.getString(0)).toSeq
            check = () => got == Seq(gen.baseText(id))
        }
      }.foreach { s =>
        readS += s
        out.check(s"corpus read $kind matches the ground truth")(check())
      }
    }
    if (readS.size - before == 4) readBlockMeans += readS.drop(before).sum / 4
  }

  def named: Seq[Metric] = Seq(
    Metric("ingest_docs_per_s", docsIn / ingestS, "docs/s"),
    Metric("shard_p50_s", Stats.median(shardS), "s"),
    Metric("migrate_s", migrateS, "s"),
    Metric("corpus_maintenance_s", maintenanceS, "s"),
    Metric("corpus_read_p50_s", Stats.median(readS.take(fixedReads)), "s"))

  def common: Seq[Metric] = Seq(
    Metric("write_p50_s", Stats.median(shardS), "s"),
    Metric("read_mix_s", Stats.median(readBlockMeans.take(fixedBlocks)), "s"))

  def layerExtras(tr: Tracer): Seq[Metric] = Nil

  override def report(tr: Option[Tracer]): Seq[String] = Seq(
    s"corpus_dedup: ${shardS.size} shard ingests, ${readS.size} reads " +
      s"(${readS.size - fixedReads} after the fixed blocks), " +
      s"${shape.initialDocs} initial docs, ${shape.shardDocs}-doc shards, " +
      s"${batches.map(_._3.size).sum} ground-truth bases of ${batches.map(_._2).sum} docs")
}
