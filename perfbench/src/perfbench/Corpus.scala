package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded crawl corpus both store workloads use: documents
  * (doc_id, text) with planted near-duplicate groups, embeddings
  * (vec_id, embedding: 16 floats around 4 centres), and per-id slices
  * (crawl era, takedown, recrawl) drawn from the seed. */
final class Corpus(spark: SparkSession, seed: Long, val nDocs: Long,
                   val nVecs: Long, root: String) {
  val Dim = 16

  private def h(id: Column, salt: Int): Column =
    xxhash64(lit(seed), id, lit(salt))
  private def r(id: Column, salt: Int, m: Long): Column =
    pmod(h(id, salt), lit(m))

  private val Syllables = Seq("ka", "lo", "mi", "ne", "sor", "tal", "vu",
    "ber", "quin", "dra", "fel", "gos", "hin", "jor", "pel", "rus", "sen",
    "tov", "ul", "wex")

  /** A word from a skewed vocabulary of 400: low ranks are common. */
  private def word(id: Column, i: Column, salt: Int): Column = {
    val u = pmod(xxhash64(lit(seed), id, i, lit(salt)), lit(1000000L)) / 1e6
    val rank = floor(u * u * 400).cast("int")
    concat(element_at(typedlit(Syllables), pmod(rank, lit(20)) + 1),
      element_at(typedlit(Syllables), floor(rank / 20).cast("int") + 1))
  }

  private def words(id: Column, n: Column, salt: Int): Column =
    array_join(transform(sequence(lit(1), n), i => word(id, i, salt)), " ")

  /** Doc text at a given version: 2 in 50 docs copy their group's
    * 60-word template and change only the last two words, so each
    * group holds a near-duplicate pair. */
  private def text(id: Column, version: Int): Column = {
    val group = floor(id / 50)
    val planted = concat_ws(" ",
      array_join(transform(sequence(lit(1), lit(58)),
        i => word(group, i, 7)), " "),
      words(id, lit(2), 8 + version))
    when(pmod(id, lit(50L)) < 2, planted)
      .otherwise(words(id, (r(id, 9 + version, 40L) + 20).cast("int"),
        10 + version))
  }

  private def vec(id: Column, version: Int): Column = {
    val label = r(id, 20, 4L)
    transform(sequence(lit(0), lit(Dim - 1)), j =>
      (((label * 7 + j * 3) % 11 - 5) / 5.0 +
        (pmod(xxhash64(lit(seed), id, j, lit(21 + version)),
          lit(1000L)) / 1000.0 - 0.5) * 0.6).cast("float"))
  }

  /** Crawl era 0 or 1. */
  def era(id: Column): Column = r(id, 30, 2L).cast("int")
  def takedown(id: Column): Column = r(id, 31, 100L) < 8
  def recrawl(id: Column): Column = !takedown(id) && r(id, 32, 100L) < 6
  /** Ids whose stored rows a recrawl round retracts. */
  def leaving(id: Column): Column = takedown(id) || recrawl(id)

  def write(): Unit = {
    val d = col("id")
    spark.range(0, nDocs, 1, 4)
      .select(d.as("doc_id"), text(d, 0).as("text"),
        text(d, 1).as("text_v2"))
      .write.mode("overwrite").parquet(s"$root/documents")
    spark.range(0, nVecs, 1, 4)
      .select(d.as("vec_id"), vec(d, 0).as("embedding"),
        vec(d, 1).as("embedding_v2"))
      .write.mode("overwrite").parquet(s"$root/embeddings")
  }

  /** Every doc at its first crawl version. */
  def docs: DataFrame =
    spark.read.parquet(s"$root/documents").select("doc_id", "text")
  /** The recrawled docs at their second version. */
  def recrawled: DataFrame =
    spark.read.parquet(s"$root/documents").filter(recrawl(col("doc_id")))
      .select(col("doc_id"), col("text_v2").as("text"))
  /** The corpus after takedown and recrawl. */
  def finalDocs: DataFrame =
    docs.filter(!takedown(col("doc_id")) && !recrawl(col("doc_id")))
      .unionByName(recrawled)

  def vecs: DataFrame =
    spark.read.parquet(s"$root/embeddings").select("vec_id", "embedding")
  def revectored: DataFrame =
    spark.read.parquet(s"$root/embeddings").filter(recrawl(col("vec_id")))
      .select(col("vec_id"), col("embedding_v2").as("embedding"))
  def finalVecs: DataFrame =
    vecs.filter(!takedown(col("vec_id")) && !recrawl(col("vec_id")))
      .unionByName(revectored)

  def dirs: Seq[String] = Seq(s"$root/documents", s"$root/embeddings")
  def inputBytes: Long = dirs.map(Disk.bytes).sum
}
