package perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic corpus. Every document is
  *   - `BasePerDoc` words from a fixed vocabulary of syllable words
  *     (Zipf-chosen, some camelCase, a few stopwords), so the analyzer
  *     does real splitting/filtering and phrase queries have adjacency
  *     to find; then
  *   - `ZipfPerDoc` identifiers `w<k>`, k = floor(exp(u * ln 2^17)) with
  *     u uniform in [0, 1) from xxhash64(doc_id, i, seed) — a 1/k
  *     law over ~1.3e5 values, which gives a handful of terms in most
  *     documents, a long tail of rare ones, and a dictionary of ~1e5
  *     terms.
  * The same (n, seed) always yields the same rows; generation runs in
  * Spark and lands as parquet before anything is timed. */
object Corpus {
  val ZipfBits = 17
  val ZipfPerDoc = 40
  val BasePerDoc = 24

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze",
    "po", "da", "fe", "gu", "hi", "jo", "be", "co", "xu")

  /** Fixed base vocabulary: the same for every seed. Index 0 is never
    * drawn (k >= 1). */
  val Vocab: Array[String] = {
    val stop = Array("the", "of", "and", "to", "in", "is")
    val s = Syllables.length
    val words = (0 until 400).map { j =>
      val a = Syllables(j % s); val b = Syllables((j / s) % s); val c = Syllables((j * 7 + 3) % s)
      j % 5 match {
        case 0 => a + b.capitalize + c // camelCase: splits into two tokens
        case 1 => a + b + "_" + c      // snake_case: splits too
        case _ => a + b + c
      }
    }
    ("" +: stop.toIndexedSeq ++: words).toArray
  }

  /** Uniform [0, 1) from xxhash64 over (doc, i, seed). */
  private def unit(doc: Column, i: Column, seed: Long): Column =
    pmod(xxhash64(doc, i, lit(seed)), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  /** floor(exp(u * ln m)) in [1, m). */
  private def logUniform(u: Column, m: Double): Column =
    floor(exp(u * lit(math.log(m)))).cast("long")

  private def words(doc: Column, seed: Long, from: Int, count: Int): Column =
    transform(sequence(lit(from), lit(from + count - 1)), i =>
      element_at(typedLit(Vocab), logUniform(unit(doc, i, seed), Vocab.length.toDouble).cast("int") + 1))

  private def zipfTokens(doc: Column, seed: Long): Column =
    transform(sequence(lit(0), lit(ZipfPerDoc - 1)), i =>
      concat(lit("w"), logUniform(unit(doc, i, seed), (1L << ZipfBits).toDouble).cast("string")))

  /** Rows [from, until) of the corpus for `seed`. */
  def frame(spark: SparkSession, from: Long, until: Long, seed: Long): DataFrame = {
    val d = col("id")
    spark.range(from, until).select(
      d.as("doc_id"),
      concat_ws(" ", words(d, seed, 1000, BasePerDoc), zipfTokens(d, seed)).as("text"))
  }

  /** Writes rows [from, until) to `dir` as parquet; returns their text
    * bytes (UTF-8). */
  def write(spark: SparkSession, from: Long, until: Long, seed: Long, dir: String): Long = {
    frame(spark, from, until, seed).write.mode(SaveMode.Overwrite).parquet(dir)
    spark.read.parquet(dir).agg(sum(octet_length(col("text")))).head().getLong(0)
  }

  /** A few documents' texts (driver side), for drawing phrase queries
    * that are known to occur. */
  def sampleTexts(spark: SparkSession, dir: String, ids: Seq[Long]): Map[Long, String] =
    spark.read.parquet(dir).filter(col("doc_id").isin(ids: _*)).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
}
