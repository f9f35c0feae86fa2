package graft.query

import java.nio.file.Files
import scala.reflect.io.Directory

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.config.EngineConfig
import graft.index.SegmentBuilder
import graft.oracle.NaiveBM25

/** Differential check of the positional evaluator behind indexed
  * query_string and match_phrase_prefix ([[BM25.PhraseHandle.serve]]):
  * bit-equal (qid, rank, doc_id, score) to the corpus path
  * [[QueryDsl.queryStringTopK]] and to the brute-force
  * [[NaiveBM25.phrasePrefixTopK]], on one small index built to hit the
  * edges — ingest + buildAll over 4 shards with one never written, doc
  * ranges > 1, a zero-token doc, a k-th score tie, a prefix whose
  * expansions interleave in one doc, and one that expands to nothing. */
class PositionalQuerySpec extends SparkSuite {

  /** Tiny serve target: the common words fan a batch out over many doc
    * ranges. */
  private val cfg = EngineConfig.default.copy(shards = 4, buildPartitions = 4, topK = 5,
    serveTargetPostings = 16)

  /** The random texts' words: QueryDslSpec's query_string words that
    * hash to shards 1-3 (so `postings/shard=0` is never written). */
  private val words = Seq("alpha", "beta", "gamma", "delta", "table", "tablet", "taco", "tag", "xray", "zulu")

  /** Seeded random texts over `words`; docs 160-167 share one text (a
    * tie group larger than k for "burst fab"); docs 168-171 put the two
    * expansions of "gamma ra" after gamma, in both term orders, and not
    * adjacent; doc 172 holds no token; docs 173-175 hold the longer
    * phrases. */
  private val docs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(11)
    val fixed = Seq("burst fabric alpha", "burst fabric alpha", "burst fabric alpha", "burst fabric alpha",
      "burst fabric alpha", "burst fabric alpha", "burst fabric alpha", "burst fabric alpha",
      "gamma raygun ray zulu", "gamma ray xray", "ray gamma raygun", "gamma alone raygun", "a 1 22",
      "alpha beta gamma delta tag", "delta alpha beta gamma", "beta delta table zulu alpha alpha")
    (0 until 160).map(_ => Seq.fill(3 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "))
      .++(fixed).zipWithIndex.map { case (t, i) => i.toLong -> t }
  }

  private lazy val indexDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_positional_query_").toString
    sys.addShutdownHook(new Directory(new java.io.File(dir)).deleteRecursively())
    SegmentBuilder.ingest(spark, docs.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, cfg)
    SegmentBuilder.buildAll(spark, dir, cfg)
    dir
  }

  private def rows(df: DataFrame): Seq[(Int, Long, Long, Long)] = df.collect().toSeq.map(r =>
    (r.getInt(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))

  test("the fixture hits the edges: shard 0 empty, doc ranges > 1") {
    val dir = indexDir
    assert((words ++ Seq("burst", "fabric", "ray", "raygun", "alone")).forall(BM25.termShard(_, cfg.shards) != 0))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/postings/shard=0")), "shard 0 must be empty")
    assert(BM25.phraseHandleFor(spark, dir, cfg).serveRanges > 1, "batches must fan out over doc ranges")
  }

  test("indexed query_string == the corpus queryStringTopK, bit for bit") {
    import spark.implicits._
    val qs = Seq(
      // QueryDslSpec's batches
      "+alpha -delta", "\"alpha beta\"", "gamma -\"alpha beta\"",
      "alp* delta", "-alp* gamma", "+zzz alpha",
      "\"alpha beta\" gamma", "alp* -\"alpha beta\"",
      "ta*", "-ta* zulu yak", "ta* -\"tag table\"",
      "+alpha +beta",
      // a 3-term required phrase, and an exclusion prefix
      "+\"alpha beta gamma\" delta", "beta -tab*").zipWithIndex.map { case (q, i) => (i + 1) -> q }
    val corpus = docs.toDF("doc_id", "text")
    for (cap <- Seq(2, QueryDsl.MaxExpansions)) {
      val served = rows(QueryDsl.queryStringTopKIndexed(spark, indexDir, qs, cap, cfg))
      assert(served === rows(QueryDsl.queryStringTopK(spark, corpus, col("doc_id"), col("text"), qs, cap, cfg)),
        s"maxExpansions $cap")
      assert(served.map(_._1).distinct.size >= 10, "most queries must hit")
      assert(served.exists(_._1 == 13), "the 3-term phrase must hit")
    }
  }

  test("phrase_prefix at slop 0 == brute force over NaiveBM25's scoring, bit for bit") {
    val k = cfg.topK
    val pp = Seq(1 -> "gamma ra", 2 -> "burst fab", 3 -> "gamma zzq", 4 -> "alpha beta ga", 5 -> "tag ta",
      6 -> "alpha al", 7 -> "beta delta ta")
    val tied = NaiveBM25.phrasePrefixTopK(docs, "burst fab", QueryDsl.MaxExpansions, k + 1)
    assert(tied(k - 1).score == tied(k).score, "fixture must tie at the k-th score")
    assert(NaiveBM25.phrasePrefixTopK(docs, "gamma ra", QueryDsl.MaxExpansions).map(_.docId).contains(168L),
      "the doc whose expansions interleave must match")
    for (cap <- Seq(1, QueryDsl.MaxExpansions)) {
      val expected = pp.flatMap { case (qid, text) =>
        NaiveBM25.phrasePrefixTopK(docs, text, cap, k).zipWithIndex.map { case (h, i) =>
          (qid, i + 1L, h.docId, java.lang.Double.doubleToLongBits(h.score))
        }
      }
      val served = rows(QueryDsl.phrasePrefixTopK(spark, indexDir, pp, cap, cfg))
      assert(served === expected, s"maxExpansions $cap")
      assert(!served.exists(_._1 == 3), "an empty expansion matches nothing")
      if (cap > 1)
        assert(Seq(1, 2, 4, 5, 6, 7).forall(q => served.exists(_._1 == q)), "the other prefixes must hit")
    }
  }
}
