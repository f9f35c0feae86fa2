package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.analyze.CodeTokenizer
import graft.config.EngineConfig
import graft.oracle.NaiveBM25

/** Seeded differential check of the corpus evaluator
  * ([[BM25.corpusHits]]) against the brute-force
  * [[NaiveBM25.boolTopK]], which is written without it: corpus match (OR
  * and AND), match_phrase at slop 0, 1 and 2, bool and prefix-free
  * query_string must equal it on (rank, doc_id, score), bit for bit.
  *
  * The generated corpora hold Zipf-skewed words, non-ASCII separators (a
  * supplementary-plane letter among them) and the Kelvin sign, which
  * lowercases into a term, and a text repeated more than k times, so
  * hits tie at the k-th rank. Even seeds add zero-token docs; odd seeds
  * put one term in every doc (df = N). The requests hold absent terms,
  * repeated phrase terms, filter-only and must_not-only bools and
  * explicit minimum_should_match. A failure names its seed. */
class CorpusEvaluatorSpec extends SparkSuite {

  private val k = 5
  private val cfg = EngineConfig.default.copy(topK = k)
  private val seeds = Seq(1, 2, 3, 4)

  private val words =
    Seq("alpha", "beta", "gamma", "delta", "table", "query", "spark", "merge", "Kelvin", "zulu")
  /** The text more than k docs share. */
  private val tied = "alpha beta gamma table"

  private def corpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val seps = Seq(" ", " ", " ", " 𝔘 ", "𐐀", " été ", "-")
    val texts = Seq.fill(60)(Seq.fill(1 + rnd.nextInt(9))(word(rnd)).map(_ + seps(rnd.nextInt(seps.size))).mkString) ++
      Seq.fill(k + 2)(tied) ++ (if (seed % 2 == 0) Seq("", "the of 42", "𝔘") else Nil)
    (if (seed % 2 == 1) texts.map(_ + " omni") else texts).zipWithIndex.map { case (t, i) => i.toLong -> t }
  }

  /** A Zipf-skewed word: low indices are common. */
  private def word(rnd: scala.util.Random): String =
    words((words.size * math.pow(rnd.nextDouble(), 2.5)).toInt)

  /** `n` distinct words, sometimes with an absent one. */
  private def pick(rnd: scala.util.Random, n: Int): Seq[String] =
    rnd.shuffle(words :+ "omni").take(n) ++ (if (rnd.nextInt(4) == 0) Seq("zzabsent") else Nil)

  private lazy val frames: Map[Int, DataFrame] = {
    import spark.implicits._
    seeds.map(s => s -> corpus(s).toDF("doc_id", "text").repartition(3)).toMap
  }

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  /** Engine rows and the naive's top k per qid, as sorted
    * (qid, rank, doc_id, score bits) rows, equal. */
  private def check(seed: Int, what: String, engine: DataFrame, naive: Seq[(Int, Seq[NaiveBM25.Hit])]): Unit = {
    val got = engine.collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), bits(r.getDouble(3)))).sorted
    val want = naive.flatMap { case (qid, hs) =>
      hs.zipWithIndex.map { case (h, i) => (qid, i + 1L, h.docId, bits(h.score)) } }.sorted
    assert(got === want, s"seed $seed: $what")
    assert(want.nonEmpty, s"seed $seed: $what must hit")
  }

  private def analyzed(ss: Seq[String]): Seq[String] = ss.flatMap(CodeTokenizer.queryTerms).distinct

  test("the fixture hits the edges: df = N, zero-token docs, a tie at the k-th rank") {
    val odd = corpus(1)
    assert(odd.forall(_._2.endsWith(" omni")), "odd seeds: omni in every doc")
    assert(corpus(2).exists { case (_, t) => CodeTokenizer.tokenize(t).isEmpty }, "even seeds: zero-token docs")
    assert(odd.exists(_._2.contains("𝔘")) && odd.exists(_._2.contains("K")))
    for (seed <- seeds) {
      val top = NaiveBM25.boolTopK(corpus(seed), must = analyzed(Seq(tied)), k = k + 1)
      assert(top(k - 1).score == top(k).score, s"seed $seed: the k-th hit must tie")
    }
  }

  test("corpus match, OR and AND == NaiveBM25.boolTopK, bit for bit") {
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed * 31)
      val qs = ((1 to 8).map(i => i -> pick(rnd, 1 + rnd.nextInt(4)).mkString(" ")) ++
        Seq(9 -> "alphaBeta", 10 -> tied, 11 -> "zzabsent")).toSeq
      val docs = corpus(seed)
      check(seed, "OR", BM25.topK(spark, frames(seed), col("doc_id"), col("text"), qs, cfg),
        qs.map { case (q, t) => q -> NaiveBM25.boolTopK(docs, should = analyzed(Seq(t)), k = k) })
      check(seed, "AND", BM25.topK(spark, frames(seed), col("doc_id"), col("text"), qs, cfg, conjunctive = true),
        qs.map { case (q, t) => q -> NaiveBM25.boolTopK(docs, must = analyzed(Seq(t)), k = k) })
    }
  }

  test("corpus match_phrase at slop 0, 1 and 2 == NaiveBM25.boolTopK, bit for bit") {
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed * 37)
      val phrases = (1 to 8).map { i =>
        val ws = pick(rnd, 2 + rnd.nextInt(2))
        // some phrases repeat their first term at the end
        i -> (if (i % 3 == 0) ws :+ ws.head else ws).mkString(" ")
      } ++ Seq(9 -> "gamma table", 10 -> "alpha beta alpha")
      val docs = corpus(seed)
      for (slop <- Seq(0, 1, 2))
        check(seed, s"slop $slop",
          BM25.phraseTopK(spark, frames(seed), col("doc_id"), col("text"), phrases, cfg, slop),
          phrases.map { case (q, t) =>
            val ts = CodeTokenizer.tokenize(t).toSeq
            q -> NaiveBM25.boolTopK(docs, must = ts.distinct, phrases = Seq((ts, slop, true)), k = k)
          })
    }
  }

  test("corpus bool == NaiveBM25.boolTopK, bit for bit: filter-only scores 0.0, must_not-only is empty") {
    import QueryDsl.BoolQuery
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed * 41)
      val random = (1 to 10).map { i =>
        val ws = rnd.shuffle(words :+ "omni" :+ "zzabsent")
        def take(from: Int) = ws.slice(from, from + rnd.nextInt(3))
        BoolQuery(i, must = take(0), should = take(2), filter = take(4), mustNot = take(6),
          minimumShouldMatch = if (i % 4 == 0) Some(rnd.nextInt(3)) else None)
      }
      val qs = random ++ Seq(
        BoolQuery(11, filter = Seq("alpha")),
        BoolQuery(12, mustNot = Seq("beta")),
        BoolQuery(13, filter = Seq("table"), should = Seq("gamma", "delta")),
        BoolQuery(14, should = Seq("beta", "gamma", "table"), minimumShouldMatch = Some(2)))
      val docs = corpus(seed)
      val engine = QueryDsl.boolTopK(spark, frames(seed), col("doc_id"), col("text"), qs, cfg)
      check(seed, "bool", engine, qs.map(q => q.qid -> NaiveBM25.boolTopK(docs, analyzed(q.must), analyzed(q.should),
        analyzed(q.filter), analyzed(q.mustNot), q.minimumShouldMatch, k = k)))
      val rows = engine.collect()
      assert(rows.filter(_.getInt(0) == 11).forall(_.getDouble(3) == 0.0), s"seed $seed: filter context scores 0.0")
      assert(!rows.exists(_.getInt(0) == 12), s"seed $seed: a must_not-only bool matches nothing")
    }
  }

  test("corpus query_string without prefixes == NaiveBM25.boolTopK, bit for bit") {
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed * 43)
      def clause(): String = rnd.nextInt(6) match {
        case 0 => "+" + word(rnd)
        case 1 => "-" + word(rnd)
        case 2 => "\"" + pick(rnd, 2).mkString(" ") + "\""
        case 3 => "-\"" + pick(rnd, 2).mkString(" ") + "\""
        case _ => word(rnd)
      }
      val qs = (1 to 10).map(i => i -> Seq.fill(1 + rnd.nextInt(4))(clause()).mkString(" ")) ++
        Seq(11 -> "+alpha -\"alpha beta\"", 12 -> "\"gamma table\" alpha", 13 -> "+zzabsent beta")
      val docs = corpus(seed)
      check(seed, "query_string",
        QueryDsl.queryStringTopK(spark, frames(seed), col("doc_id"), col("text"), qs, cfg = cfg),
        qs.map { case (q, text) => q -> naiveQueryString(docs, text) })
    }
  }

  /** A flat query_string, compiled by hand onto the naive bool: each
    * term in its role, a required phrase's terms as musts, a term in two
    * roles kept in the first of must_not, must, should, and
    * minimum_should_match 1 without a must. */
  private def naiveQueryString(docs: Seq[(Long, String)], text: String): Seq[NaiveBM25.Hit] = {
    val clauses = QueryDsl.parseQueryString(text)
    val roled = clauses.flatMap {
      case QueryDsl.QsTerm(role, t) => CodeTokenizer.queryTerms(t).map(_ -> role)
      case QueryDsl.QsPhrase("must", t) => CodeTokenizer.queryTerms(t).map(_ -> "must")
      case _ => Nil
    }
    def role(r: String) = roled.collect { case (t, `r`) => t }.distinct
    val mustNot = role("must_not")
    val must = role("must").filterNot(mustNot.contains)
    val should = role("should").filterNot(t => mustNot.contains(t) || must.contains(t))
    val phrases = clauses.collect { case QueryDsl.QsPhrase(r, t) => (CodeTokenizer.tokenize(t).toSeq, 0, r == "must") }
      .filter(_._1.nonEmpty)
    NaiveBM25.boolTopK(docs, must, should, Nil, mustNot, Some(if (must.nonEmpty) 0 else 1), phrases, k)
  }
}
