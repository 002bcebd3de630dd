package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims

import graft.operators.{Dedup, Incremental, Quantization, Search, TextAnalysis}

/** The four durable stores of the curation extension, each driven
  * through its public verbs and certified by its validators:
  * tf postings and KN bigrams (snapshot stores), LSH bands (snapshot
  * store with a parameter sidecar) and the persisted IVF-PQ layout. */
object Stores {
  val K = 5
  val NumPerm = 256
  val Bands = 64

  /** An artifact's verbs and certification, over store `dir`. */
  sealed trait Artifact {
    def name: String
    def layer: String
    def idCol: String
    /** Every input row at its first crawl version, and the recrawled
      * rows at their second. */
    def inputs(c: Corpus): DataFrame
    def updated(c: Corpus): DataFrame
    def init(ctx: Ctx, c: Corpus, dir: String): Unit
    def commit(ctx: Ctx, rows: DataFrame, dir: String, batch: Long): Unit
    def retract(ctx: Ctx, ids: DataFrame, dir: String): Unit
    def compacts: Boolean
    def compact(ctx: Ctx, dir: String): Unit
    def certify(ctx: Ctx, dir: String): Unit
    /** The store's content, for the final-state check. */
    def content(spark: SparkSession, dir: String): DataFrame
    /** The same content built fresh over the surviving inputs. */
    def fresh(ctx: Ctx, c: Corpus, dir: String): DataFrame

    def era(c: Corpus, e: Int): DataFrame =
      inputs(c).filter(c.era(col(idCol)) === e)
    def ids(c: Corpus, slice: Column => Column): DataFrame =
      inputs(c).filter(slice(col(idCol))).select(idCol)
  }

  private def inc[T](ctx: Ctx, fn: String)(body: => T): T =
    ctx.call("operators.incremental", s"Incremental.$fn")(body)

  /** tf postings, KN bigrams and LSH bands share the snapshot store. */
  abstract class SnapshotArtifact(val name: String, val layer: String)
      extends Artifact {
    def snapshot(ctx: Ctx, docs: DataFrame): DataFrame
    val idCol = "doc_id"
    def inputs(c: Corpus): DataFrame = c.docs
    def updated(c: Corpus): DataFrame = c.recrawled
    def init(ctx: Ctx, c: Corpus, dir: String): Unit = {
      val snap = snapshot(ctx, era(c, 0))
      inc(ctx, "initSnapshotStore")(
        Incremental.initSnapshotStore(snap, dir,
          manifestIdCol = Some("doc_id")))
    }
    def commit(ctx: Ctx, rows: DataFrame, dir: String, batch: Long): Unit = {
      val snap = snapshot(ctx, rows)
      inc(ctx, "commitSnapshotBatch")(
        Incremental.commitSnapshotBatch(snap, dir, batch,
          manifestIdCol = Some("doc_id")))
    }
    def retract(ctx: Ctx, ids: DataFrame, dir: String): Unit =
      inc(ctx, "retractFromSnapshotStore")(
        Incremental.retractFromSnapshotStore(ctx.spark, dir, ids))
    val compacts = true
    def compact(ctx: Ctx, dir: String): Unit =
      inc(ctx, "compactSnapshotStore")(
        Incremental.compactSnapshotStore(ctx.spark, dir))
    def content(spark: SparkSession, dir: String): DataFrame =
      Incremental.loadSnapshotStore(spark, dir)
    def fresh(ctx: Ctx, c: Corpus, dir: String): DataFrame =
      snapshot(ctx, c.finalDocs)
  }

  object Tf extends SnapshotArtifact("tf", "operators.search") {
    def snapshot(ctx: Ctx, docs: DataFrame): DataFrame =
      ctx.call(layer, "Search.tfSnapshot")(
        Search.tfSnapshot(docs, "doc_id", "text"))
    def certify(ctx: Ctx, dir: String): Unit = {
      val loaded = inc(ctx, "loadSnapshotStore")(
        Incremental.loadSnapshotStore(ctx.spark, dir))
      ctx.validate(layer, "Search.validateTfSnapshot")(
        Search.validateTfSnapshot(loaded))
      ctx.validate("operators.incremental",
        "Incremental.validateSnapshotStoreManifest")(
        Incremental.validateSnapshotStoreManifest(ctx.spark, dir))
    }
  }

  object Kn extends SnapshotArtifact("kn", "operators.textanalysis") {
    def snapshot(ctx: Ctx, docs: DataFrame): DataFrame =
      ctx.call(layer, "TextAnalysis.knSnapshot")(
        TextAnalysis.knSnapshot(docs, "doc_id", "text"))
    def certify(ctx: Ctx, dir: String): Unit = {
      val loaded = inc(ctx, "loadSnapshotStore")(
        Incremental.loadSnapshotStore(ctx.spark, dir))
      ctx.validate(layer, "TextAnalysis.validateKnSnapshot")(
        TextAnalysis.validateKnSnapshot(loaded))
      ctx.validate("operators.incremental",
        "Incremental.validateSnapshotStoreManifest")(
        Incremental.validateSnapshotStoreManifest(ctx.spark, dir))
    }
  }

  object Lsh extends SnapshotArtifact("lsh", "operators.dedup") {
    /** Bands are banded lazily and pinned by the store write; the
      * signature pin is released once the write has landed. */
    private def withBands(ctx: Ctx, docs: DataFrame)
                         (write: DataFrame => Unit): Unit = {
      val (bands, sig) = ctx.call(layer, "Dedup.minHashBandsLazy")(
        Dedup.minHashBandsLazy(docs, "doc_id", "text", k = K,
          numPerm = NumPerm, bands = Bands))
      try write(bands) finally Shims.unpersistLocalCheckpoint(sig)
    }
    def snapshot(ctx: Ctx, docs: DataFrame): DataFrame =
      Dedup.minHashBands(docs, "doc_id", "text", k = K, numPerm = NumPerm,
        bands = Bands)
    override def init(ctx: Ctx, c: Corpus, dir: String): Unit = {
      withBands(ctx, era(c, 0))(b => inc(ctx, "initSnapshotStore")(
        Incremental.initSnapshotStore(b, dir,
          manifestIdCol = Some("doc_id"))))
      ctx.call(layer, "Dedup.writeBandParams")(
        Dedup.writeBandParams(ctx.spark, dir, K, NumPerm, Bands))
    }
    override def commit(ctx: Ctx, rows: DataFrame, dir: String,
                        batch: Long): Unit =
      withBands(ctx, rows)(b => inc(ctx, "commitSnapshotBatch")(
        Incremental.commitSnapshotBatch(b, dir, batch,
          manifestIdCol = Some("doc_id"))))
    def certify(ctx: Ctx, dir: String): Unit =
      ctx.validate(layer, "Dedup.certifyBandStore")(
        Dedup.certifyBandStore(ctx.spark, dir, "doc_id", k = K,
          numPerm = NumPerm, bands = Bands))
  }

  object IvfPq extends Artifact {
    val name = "ivfpq"
    val layer = "operators.quantization"
    private def q[T](ctx: Ctx, fn: String)(body: => T): T =
      ctx.call(layer, s"Quantization.$fn")(body)
    val idCol = "vec_id"
    def inputs(c: Corpus): DataFrame = c.vecs
    def updated(c: Corpus): DataFrame = c.revectored
    def index(ctx: Ctx, emb: DataFrame): Quantization.IvfPqIndex =
      q(ctx, "ivfPqIndex")(Quantization.ivfPqIndex(emb, "vec_id",
        "embedding", nlist = 4, coarseIters = 2, m = 4, ksub = 4,
        pqIters = 2))
    def init(ctx: Ctx, c: Corpus, dir: String): Unit = {
      val idx = index(ctx, era(c, 0))
      try q(ctx, "persistIvfPqIndex")(
        Quantization.persistIvfPqIndex(idx, dir, manifest = true))
      finally Shims.unpersistLocalCheckpoint(idx.codes)
    }
    def commit(ctx: Ctx, rows: DataFrame, dir: String, batch: Long): Unit =
      q(ctx, "ivfPqAddBatch")(
        Quantization.ivfPqAddBatch(rows, "vec_id", "embedding", dir))
    def retract(ctx: Ctx, ids: DataFrame, dir: String): Unit =
      q(ctx, "ivfPqRemoveBatch")(
        Quantization.ivfPqRemoveBatch(ids, "vec_id", dir))
    /** The layout has no compaction verb: a retrain re-codes it. */
    val compacts = false
    def compact(ctx: Ctx, dir: String): Unit =
      throw new UnsupportedOperationException("IVF-PQ has no compaction")
    def certify(ctx: Ctx, dir: String): Unit = {
      ctx.validate(layer, "Quantization.validateIvfPqCodes")(
        Quantization.validateIvfPqCodes(ctx.spark, dir))
      ctx.validate(layer, "Quantization.validateIvfPqNidManifest")(
        Quantization.validateIvfPqNidManifest(ctx.spark, dir))
    }
    def content(spark: SparkSession, dir: String): DataFrame =
      spark.read.parquet(s"$dir/codes")
    /** Codes are relative to the era-0 codebook, so the fresh build
      * trains that codebook again, keeps the unchanged era-0 survivors'
      * codes and encodes every other surviving vector in one add. */
    def fresh(ctx: Ctx, c: Corpus, dir: String): DataFrame = {
      val idx = index(ctx, era(c, 0))
      val keep = c.finalVecs.filter(c.era(col("vec_id")) === 0 &&
        !c.recrawl(col("vec_id"))).select(col("vec_id").as("nid"))
      val check = dir + "__fresh"
      try Quantization.persistIvfPqIndex(
        idx.copy(codes = idx.codes.join(keep, Seq("nid"), "left_semi")),
        check)
      finally Shims.unpersistLocalCheckpoint(idx.codes)
      Quantization.ivfPqAddBatch(c.finalVecs.filter(
          c.era(col("vec_id")) =!= 0 || c.recrawl(col("vec_id"))),
        "vec_id", "embedding", check)
      content(ctx.spark, check)
    }
  }

  val All: Seq[Artifact] = Seq(Tf, Kn, Lsh, IvfPq)
}

/** Write side of the maintained stores. Per pass, four fresh stores go
  * through the crawl lifecycle: init with crawl era 0; one retraction of
  * the takedown slice and the recrawl slice's old versions; the commit
  * of era 1 with the recrawled versions; compaction. Every verb runs at
  * its default (full) validation level, then each artifact's own
  * validators certify the final store. One op is one verb on one
  * artifact. */
final class Lifecycle(nDocs: Long, nVecs: Long) extends Workload {
  val name = "lifecycle"
  private var corpus: Corpus = _
  private var bytes = 0L
  /** Ids the verbs of one pass handle, counted in set-up. */
  private var perPass = 0L

  def inputRows: Long = nDocs + nVecs
  def inputBytes: Long = bytes

  def setup(ctx: Ctx, root: String): Unit = {
    val c = new Corpus(ctx.spark, ctx.seed, nDocs, nVecs, root)
    c.write()
    corpus = c
    bytes = c.inputBytes
    // ids each artifact's verbs handle: era 0 at init, the leaving ids
    // at the retraction, the arrivals at the commit
    def handled(df: DataFrame, id: String): Long = {
      val i = col(id)
      df.agg(sum(when(c.era(i) === 0, 1L).otherwise(0L) +
        when(c.leaving(i), 1L).otherwise(0L) +
        when(c.era(i) === 1 && !c.leaving(i), 1L).otherwise(0L) +
        when(c.recrawl(i), 1L).otherwise(0L))).head().getLong(0)
    }
    perPass = 3 * handled(c.docs, "doc_id") + handled(c.vecs, "vec_id")
  }

  /** The second crawl: era-1 rows that stay unchanged, plus the new
    * versions of every recrawled row. */
  private def arrivals(a: Stores.Artifact): DataFrame = {
    val c = corpus
    a.era(c, 1).filter(!c.leaving(col(a.idCol))).unionByName(a.updated(c))
  }

  def pass(ctx: Ctx, dir: String): Long = {
    val c = corpus
    def verb(v: String, arts: Seq[Stores.Artifact] = Stores.All)
            (body: (Stores.Artifact, String) => Unit): Unit =
      arts.foreach { a =>
        ctx.op(s"${v}_${a.name}")(body(a, s"$dir/${a.name}"))
      }
    verb("init")((a, d) => a.init(ctx, c, d))
    // the takedown slice and the old versions of the recrawl slice
    // leave; absent ids retract vacuously
    verb("retract")((a, d) => a.retract(ctx, a.ids(c, c.leaving), d))
    verb("commit")((a, d) => a.commit(ctx, arrivals(a), d, 1L))
    verb("compact", Stores.All.filter(_.compacts))((a, d) => a.compact(ctx, d))
    // the audit before the stores serve: each artifact's own validators
    verb("certify")((a, d) => a.certify(ctx, d))
    perPass
  }

  def checks(ctx: Ctx, dir: String): Seq[(String, Option[String])] =
    Stores.All.map { a =>
      val d = s"$dir/${a.name}"
      lazy val diff = Digest.symmetricDiff(a.content(ctx.spark, d),
        a.fresh(ctx, corpus, d))
      Checks.holds(s"${a.name}_store_equals_fresh_build")(diff == 0,
        s"$diff rows differ between the store and a fresh build")
    }

  def inputDirs: Seq[String] = corpus.dirs

  def storeBytes(dir: String): Long =
    Stores.All.map(a => Disk.bytes(s"$dir/${a.name}")).sum

  /** Rows the snapshot-store retractions rewrote, over the store rows
    * the retracted ids held. */
  def ratios(ctx: Ctx, dir: String, group: (Span => Boolean) => Trace.Group)
      : Seq[(String, Double)] = {
    val c = corpus
    val rewritten = group(s =>
      s.fn == "Incremental.retractFromSnapshotStore").cost.rowsWritten
    // only era-0 rows are in the stores when the retraction runs
    val gone = c.docs.filter(c.leaving(col("doc_id")) &&
      c.era(col("doc_id")) === 0)
    val retracted = Seq(Stores.Tf, Stores.Kn, Stores.Lsh)
      .map(a => a.snapshot(ctx, gone).count()).sum
    Seq("operators.incremental.rows_rewritten_per_retracted_row" ->
      rewritten.toDouble / math.max(retracted, 1L))
  }
}
