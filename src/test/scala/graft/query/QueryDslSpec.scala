package graft.query

import java.nio.file.Files
import scala.reflect.io.Directory

import graft.SparkSuite
import graft.config.EngineConfig
import graft.index.SegmentBuilder
import org.apache.spark.sql.functions._

/** Semantic contracts of the extended ES query DSL (bool / prefix /
  * fuzzy / more_like_this) — the driver oracle pins engine-vs-DuckDB
  * identity on the corpus queries; this spec pins the ROLE ALGEBRA and
  * expansion determinism on corpora crafted so the expected answer is
  * computable by hand. */
class QueryDslSpec extends SparkSuite {
  import QueryDsl._

  private val cfg = EngineConfig.default.copy(
    shards = 2, buildPartitions = 2, blockSize = 16, saltTargetPostings = 128)

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def indexOf(rows: (Long, String)*): String = {
    val dir = Files.createTempDirectory("graft_dsl_").toString
    SegmentBuilder.ingest(spark, df(rows: _*), col("doc_id"), col("text"), dir, cfg)
    SegmentBuilder.buildAll(spark, dir, cfg)
    sys.addShutdownHook(new Directory(new java.io.File(dir)).deleteRecursively())
    dir
  }

  private def hits(res: org.apache.spark.sql.DataFrame): Map[Int, Seq[(Long, Double)]] =
    res.collect().groupBy(_.getInt(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq)
      .toMap

  private val boolDocs = Seq(
    1L -> "alpha beta gamma",
    2L -> "alpha beta",
    3L -> "alpha delta",
    4L -> "beta delta")

  test("bool: must_not excludes, must requires, filter requires without scoring") {
    val d = df(boolDocs: _*)
    val r = hits(boolTopK(spark, d, col("doc_id"), col("text"), Seq(
      BoolQuery(1, must = Seq("alpha"), mustNot = Seq("delta")),
      BoolQuery(2, filter = Seq("alpha"), should = Seq("gamma")),
      BoolQuery(3, must = Seq("alpha", "beta")),
      BoolQuery(4, should = Seq("gamma", "delta")))))
    assert(r(1).map(_._1).toSet === Set(1L, 2L), "must alpha, not delta")
    // filter qualifies all alpha docs; only gamma scores — docs 2,3
    // qualify at score 0.0 exactly (ES filter-context semantics)
    assert(r(2).map(_._1).toSet === Set(1L, 2L, 3L))
    assert(r(2).head._1 === 1L, "the should match ranks first")
    assert(r(2).filter(_._1 != 1L).forall(_._2 === 0.0), "filter context does not score")
    assert(r(3).map(_._1).toSet === Set(1L, 2L), "multi-must is conjunctive")
    assert(r(4).map(_._1).toSet === Set(1L, 3L, 4L), "pure should: minimum_should_match=1")
  }

  test("bool: absent must empties, absent should leaves must intact, camelCase analyzes") {
    val d = df(boolDocs: _*)
    val r = boolTopK(spark, d, col("doc_id"), col("text"), Seq(
      BoolQuery(1, must = Seq("zzz"), should = Seq("alpha")),
      BoolQuery(2, must = Seq("alpha"), should = Seq("zzz")),
      BoolQuery(3, must = Seq("alphaBeta"))))
    val by = hits(r)
    assert(!by.contains(1), "absent must term -> no hits")
    assert(by(2).map(_._1).toSet === Set(1L, 2L, 3L))
    assert(by(3).map(_._1).toSet === Set(1L, 2L), "camelCase must == two required terms")
  }

  test("bool: a term in two roles fails loud; must-only is bit-equal to conjunctive match") {
    assertThrows[IllegalArgumentException](
      BoolQuery(1, must = Seq("alpha"), should = Seq("alpha")).analyzed)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaBool = hits(boolTopK(spark, docs, col("doc_id"), col("text"),
      Seq(BoolQuery(3, must = Seq("spark fast query")))))
    val viaConj = hits(BM25.topK(spark, docs, col("doc_id"), col("text"),
      Seq(3 -> "spark fast query"), conjunctive = true))
    assert(viaBool === viaConj, "ES must == match operator=and, scores bit-equal")
  }

  private lazy val fuzzyIdx = indexOf(
    1L -> "spark engine", 2L -> "spork engine", 3L -> "stark engine",
    4L -> "sparkle engine", 5L -> "span engine")

  test("fuzzy: AUTO fuzziness boundaries") {
    assert(autoFuzziness("ab") === 0)
    assert(autoFuzziness("abc") === 1)
    assert(autoFuzziness("abcde") === 1)
    assert(autoFuzziness("abcdef") === 2)
  }

  test("fuzzy: AUTO fuzziness counts code points, not UTF-16 units") {
    val sup = "\uD801\uDC00" // one supplementary-plane code point, two units
    assert(autoFuzziness(sup * 2) === 0)
    assert(autoFuzziness(sup * 3) === 1)
    assert(autoFuzziness(sup * 5) === 1)
    assert(autoFuzziness(sup * 6) === 2)
  }

  test("fuzzy: classic-Levenshtein expansion at AUTO distance, served exactly") {
    val r = hits(fuzzyTopK(spark, fuzzyIdx, Seq(1 -> "spark"), cfg = cfg))
    // d=1 neighbors of 'spark' in the corpus: spark, spork, stark —
    // sparkle (d=2) and span (d=2) stay out
    assert(r(1).map(_._1).toSet === Set(1L, 2L, 3L))
    val h = Wand.handleFor(spark, fuzzyIdx, cfg)
    assert(h.expandFuzzyBatch(Seq("spark" -> 1), 50)("spark", 1).toSet === Set("spark", "spork", "stark"))
    // highest-df first: 'engine' (df 5) leads any d=2 expansion set
    assert(h.expandFuzzyBatch(Seq("engine" -> 2), 50)("engine", 2).head === "engine")
  }

  test("prefix: lexicographic-first expansion, cap respected, served exactly") {
    val h = Wand.handleFor(spark, fuzzyIdx, cfg)
    assert(h.expandPrefixBatch(Seq("sp"), 50)("sp") === Seq("span", "spark", "sparkle", "spork"))
    assert(h.expandPrefixBatch(Seq("sp"), 2)("sp") === Seq("span", "spark"), "cap keeps the lexicographic head")
    val r = hits(prefixTopK(spark, fuzzyIdx, Seq(1 -> "SPAR", 2 -> "qqq"), cfg = cfg))
    // 'SPAR' lowercases (prefix queries are unanalyzed but case-folded):
    // spark + sparkle -> docs 1 and 4; absent prefix -> no rows
    assert(r(1).map(_._1).toSet === Set(1L, 4L))
    assert(!r.contains(2))
  }

  test("prefix serving is rank-identical to a declarative disjunction over the expansion") {
    val docs = df(fuzzyIdx2Docs: _*)
    val idx = indexOf(fuzzyIdx2Docs: _*)
    val h = Wand.handleFor(spark, idx, cfg)
    val exp = h.expandPrefixBatch(Seq("ga"), 50)("ga")
    val served = hits(prefixTopK(spark, idx, Seq(1 -> "ga"), cfg = cfg))
    val declarative = hits(BM25.topK(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> exp.mkString(" ")), cfg))
    assert(served === declarative, "WAND over the expansion == declarative BM25, bit-equal")
  }

  private val fuzzyIdx2Docs = Seq(
    1L -> "gamma ray burst", 2L -> "gauge field theory", 3L -> "gamma gauge mix",
    4L -> "ray theory only")

  test("terms agg: buckets over matching docs, ES order (count desc, key asc), absent term empty") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha one", "en"), (2L, "alpha two", "en"), (3L, "alpha three", "en"),
      (4L, "alpha vier", "de"), (5L, "beta funf", "de"), (6L, "beta kaks", "aa"))
      .toDF("doc_id", "text", "lang")
    val r = termsAgg(spark, d, col("doc_id"), col("text"),
      Seq(1 -> "alpha", 2 -> "beta", 3 -> "zzz"), col("lang"))
      .collect().groupBy(_.getInt(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(x => (x.getString(2), x.getLong(3))).toSeq)
      .toMap
    assert(r(1) === Seq("en" -> 3L, "de" -> 1L))
    assert(r(2) === Seq("aa" -> 1L, "de" -> 1L), "count tie breaks key-asc (ES _key order)")
    assert(!r.contains(3))
  }

  test("highlight: window centers on first match, clamps at edges, wraps every matched token") {
    val d = df(
      1L -> "one two three alpha four five six seven",
      2L -> "alpha beta gamma delta epsilon",
      3L -> "noise words only here")
    def snippets(q: String) =
      highlightTopK(spark, d, col("doc_id"), col("text"), Seq(1 -> q))
        .collect().map(r => r.getLong(2) -> r.getString(4)).toMap
    val s1 = snippets("alpha")
    assert(s1(1L) === "one two three <em>alpha</em> four five six",
      "+-3 token window around the first match")
    assert(s1(2L) === "<em>alpha</em> beta gamma delta",
      "window start clamps at the first token")
    assert(!s1.contains(3L))
    val s2 = snippets("alpha gamma")
    assert(s2(2L) === "<em>alpha</em> beta <em>gamma</em> delta",
      "every matched token in the window is wrapped")
  }

  test("match_phrase_prefix: exact leads + any expansion adjacent; order-sensitive; scored on exact terms") {
    // docs 1 and 2 share doclen 3 and gamma tf 1, so their exact-term
    // scores are equal by construction (the tie probe below)
    val idx = indexOf(
      1L -> "gamma ray burst",
      2L -> "gamma rayon fabric",
      3L -> "rayon gamma reversed",
      4L -> "gamma alone raygun") // 'ray...' present but NOT adjacent after gamma
    // 'gamma ra' matches docs 1 (ray) and 2 (rayon) — doc 3 reversed
    // order and doc 4 non-adjacent raygun must not qualify
    val r = hits(phrasePrefixTopK(spark, idx, Seq(1 -> "gamma ra"), cfg = cfg))
    assert(r(1).map(_._1).toSet === Set(1L, 2L))
    // scores use the EXACT terms only: both docs carry gamma tf=1 and
    // equal doclen -> equal scores, rank ties doc_id-asc
    assert(r(1).map(_._1) === Seq(1L, 2L))
    assert(r(1)(0)._2 === r(1)(1)._2, "expansion terms do not score")
    // absent prefix -> qid dropped; <2 tokens fails loud
    assert(!hits(phrasePrefixTopK(spark, idx, Seq(2 -> "gamma zz"), cfg = cfg)).contains(2))
    assertThrows[IllegalArgumentException](
      phrasePrefixTopK(spark, idx, Seq(3 -> "gamma"), cfg = cfg))
  }

  test("filtered top-k: predicate restricts hits WITHOUT rescoring (ES filter context)") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pred = col("lang") === "en"
    val unfiltered = hits(BM25.topK(spark, docs, col("doc_id"), col("text"),
      Seq(2 -> "table")))
    val filtered = hits(filteredTopK(spark, docs, col("doc_id"), col("text"),
      Seq(2 -> "table"), pred))
    val enIds = docs.filter(pred).select("doc_id").as[Long].collect().toSet
    assert(filtered(2).nonEmpty)
    assert(filtered(2).forall { case (d, _) => enIds.contains(d) },
      "every hit passes the predicate")
    // scores come from INDEX-WIDE stats: any doc in both rankings
    // carries the identical score
    val unf = unfiltered(2).toMap
    filtered(2).foreach { case (d, s) =>
      if (unf.contains(d)) assert(s === unf(d), s"doc $d rescored under filter")
    }
    // the filter only REMOVES docs: filtered ranking == unfiltered
    // ranking restricted to allowed docs (within the shared prefix
    // depth k covers)
    val expectPrefix = unfiltered(2).filter { case (d, _) => enIds.contains(d) }
    assert(filtered(2).take(expectPrefix.size).map(_._1)
      .startsWith(expectPrefix.map(_._1).take(filtered(2).size)))
  }

  test("highlight fetch joins as a broadcast over the docs scan (never a corpus shuffle)") {
    val d = df(1L -> "alpha beta gamma", 2L -> "alpha delta")
    val plan = highlightTopK(spark, d, col("doc_id"), col("text"), Seq(1 -> "alpha"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
  }

  test("wildcard: * spans any run, ? exactly one char, leading wildcard works, absent pattern drops qid") {
    val idx = indexOf(
      1L -> "table top",
      2L -> "tale teller",
      3L -> "tumble dry",
      4L -> "stable mate")
    // ta*le: table, tale (NOT stable — anchored at start; NOT tumble)
    val r = hits(wildcardTopK(spark, idx, Seq(1 -> "ta*le"), cfg = cfg))
    assert(r(1).map(_._1).toSet === Set(1L, 2L))
    // t?le: exactly one hole — tale only, never table
    val r2 = hits(wildcardTopK(spark, idx, Seq(2 -> "t?le"), cfg = cfg))
    assert(r2(2).map(_._1) === Seq(2L))
    // leading wildcard (*able: table, stable) — the full-dict-scan case
    val r3 = hits(wildcardTopK(spark, idx, Seq(3 -> "*able"), cfg = cfg))
    assert(r3(3).map(_._1).toSet === Set(1L, 4L))
    // absent pattern: no expansion, qid dropped
    assert(!hits(wildcardTopK(spark, idx, Seq(4 -> "zz*q"), cfg = cfg)).contains(4))
  }

  test("search_after: page 2 continues the exact (score desc, doc_id asc) order after the cursor, ties split correctly") {
    // five docs with IDENTICAL score for 'alpha' (same tf, same doclen)
    // -> ranking is pure doc_id-asc tie-break; k=2 pages walk the ids
    val d = df(
      1L -> "alpha one",
      2L -> "alpha two",
      3L -> "alpha six",
      4L -> "alpha ten",
      5L -> "alpha end")
    val c2 = EngineConfig.default.copy(topK = 2)
    val page1 = hits(BM25.topK(spark, d, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), c2))
    assert(page1(1).map(_._1) === Seq(1L, 2L))
    val (cd, cs) = (page1(1).last._1, page1(1).last._2)
    val page2 = hits(searchAfterTopK(spark, d, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), Seq((1, cs, cd)), c2))
    assert(page2(1).map(_._1) === Seq(3L, 4L), "tie split lands on doc_id > cursor")
    // page 3 from page 2's cursor reaches the tail; one row left
    val page3 = hits(searchAfterTopK(spark, d, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), Seq((1, page2(1).last._2, page2(1).last._1)), c2))
    assert(page3(1).map(_._1) === Seq(5L))
    // a query with no cursor entry yields nothing
    assert(!page2.contains(2))
  }

  test("bool: explicit minimum_should_match overrides the default, above-count matches nothing") {
    val d = df(boolDocs: _*)
    val r = hits(boolTopK(spark, d, col("doc_id"), col("text"), Seq(
      // 2-of-3 shoulds: doc1 (beta+gamma... alpha+beta+gamma=3), doc2
      // (alpha? no — shoulds are beta gamma delta): doc1 has beta+gamma,
      // doc2 beta, doc3 delta, doc4 beta+delta
      BoolQuery(1, should = Seq("beta", "gamma", "delta"),
        minimumShouldMatch = Some(2)),
      // msm=1 WITH a must: must alpha AND >= 1 should of (gamma, delta)
      BoolQuery(2, must = Seq("alpha"), should = Seq("gamma", "delta"),
        minimumShouldMatch = Some(1)),
      // msm above the should count: nothing matches
      BoolQuery(3, should = Seq("beta", "gamma"),
        minimumShouldMatch = Some(3)))))
    assert(r(1).map(_._1).toSet === Set(1L, 4L), "2-of-3 shoulds")
    assert(r(2).map(_._1).toSet === Set(1L, 3L), "must + explicit msm=1")
    assert(!r.contains(3), "msm above should count matches nothing")
  }

  test("multi_match best_fields: per-field stats, max combines, cross-field docs found") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta", "news"),
      (2L, "alpha gamma", "blog"),
      (3L, "delta beta", "news"),
      (4L, "epsilon", "wiki")).toDF("doc_id", "text", "cat")
    // 'news epsilon': doc4 matches via text (epsilon), docs 1,3 via cat
    // (news) — a single-field match query on text finds only doc4
    val r = hits(multiMatchTopK(spark, d, col("doc_id"),
      Seq(col("text"), col("cat")), Seq(1 -> "news epsilon")))
    assert(r(1).map(_._1).toSet === Set(1L, 3L, 4L))
    // a term in BOTH fields scores max(field scores), not their sum:
    // craft 'wiki' into text of doc 1 and cat of doc 4
    val d2 = Seq(
      (1L, "wiki wiki wiki", "news"),
      (2L, "alpha", "wiki"),
      (3L, "beta", "blog"),
      (4L, "gamma", "misc")).toDF("doc_id", "text", "cat")
    val single = hits(BM25.topK(spark, d2, col("doc_id"), col("text"), Seq(1 -> "wiki")))
    val multi = hits(multiMatchTopK(spark, d2, col("doc_id"),
      Seq(col("text"), col("cat")), Seq(1 -> "wiki")))
    val textScore = single(1).toMap.apply(1L)
    assert(multi(1).toMap.apply(1L) === textScore,
      "doc matching one field keeps that field's exact score under best_fields")
    assert(multi(1).map(_._1).toSet === Set(1L, 2L))
  }

  test("histogram agg: exact integer bucketing, min_doc_count=0 gap fill, per-query span") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha", 105L), (2L, "alpha", 12L), (3L, "alpha", 350L),
      (4L, "beta", 205L), (5L, "gamma", 999L)).toDF("doc_id", "text", "n")
    val r = histogramAgg(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha", 2 -> "beta", 3 -> "zz"), col("n"), 100L)
      .collect().groupBy(_.getInt(0)).view
      .mapValues(_.map(x => (x.getLong(1), x.getLong(2))).toSeq.sortBy(_._1)).toMap
    // alpha spans 0..300: 0->1 (12), 100->1 (105), 200->0 (GAP), 300->1
    assert(r(1) === Seq((0L, 1L), (100L, 1L), (200L, 0L), (300L, 1L)))
    assert(r(2) === Seq((200L, 1L)), "single-bucket query has no gaps")
    assert(!r.contains(3), "no matches -> no buckets")
  }

  test("date histogram: calendar-day buckets, empty days materialize at 0 inside the span") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click", java.sql.Timestamp.valueOf("2024-03-01 10:00:00")),
      (2L, "click", java.sql.Timestamp.valueOf("2024-03-01 23:59:59")),
      (3L, "click", java.sql.Timestamp.valueOf("2024-03-04 00:00:01")),
      (4L, "view",  java.sql.Timestamp.valueOf("2024-03-02 12:00:00")))
      .toDF("event_id", "event_type", "ts")
    val r = dateHistogramAgg(spark, docs, col("event_id"), col("event_type"),
      Seq(1 -> "click", 2 -> "zz"), col("ts"))
      .collect().map(x => (x.getString(1), x.getLong(2))).toSeq
    assert(r === Seq(("2024-03-01", 2L), ("2024-03-02", 0L),
      ("2024-03-03", 0L), ("2024-03-04", 1L)),
      "two empty days inside the span materialize; days outside do not")
  }

  test("cardinality agg: exact distinct field count over the matching set") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha", "s1"), (2L, "alpha", "s2"), (3L, "alpha", "s1"),
      (4L, "beta", "s3")).toDF("doc_id", "text", "src")
    val r = cardinalityAgg(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha", 2 -> "alpha beta", 3 -> "zz"), col("src"))
      .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(r === Map(1 -> 2L, 2 -> 3L))
  }

  test("sort top-k: field order desc with doc_id tie-break, k bounds, no scoring") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha", 50L), (2L, "alpha", 300L), (3L, "alpha", 300L),
      (4L, "alpha", 120L), (5L, "beta", 999L)).toDF("doc_id", "text", "n")
    val c2 = EngineConfig.default.copy(topK = 3)
    val r = sortTopK(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), col("n"), c2)
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
    assert(r === Seq((1L, 2L, 300L), (2L, 3L, 300L), (3L, 4L, 120L)),
      "desc field order, equal keys tie doc_id-asc, k=3 cuts the tail")
  }

  test("stats agg: count/min/max/sum over distinct matching docs, avg = sum/count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", 10L),
      (2L, "alpha alpha", 20L), // matches once despite tf 2
      (3L, "beta", 40L),
      (4L, "gamma", 100L)).toDF("doc_id", "text", "n")
    val r = statsAgg(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha beta", 2 -> "gamma", 3 -> "zz"), col("n"))
      .collect().map(x => x.getInt(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(5))).toMap
    assert(r(1) === ((3L, 10L, 40L, 70L, 70.0 / 3)))
    assert(r(2) === ((1L, 100L, 100L, 100L, 100.0)))
    assert(!r.contains(3), "no matching docs -> no row (ES: empty agg)")
  }

  test("terms sub-agg tree: nested metrics ride the bucket groupBy, rank by (count desc, key asc)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha", "s1", 10L), (2L, "alpha", "s1", 30L),
      (3L, "alpha", "s2", 100L), (4L, "beta", "s3", 7L))
      .toDF("doc_id", "text", "src", "n")
    val r = termsStatsAgg(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), col("src"), col("n"))
      .collect().map(x => (x.getLong(1), x.getString(2), x.getLong(3),
        x.getLong(4), x.getDouble(5))).toSeq
    assert(r === Seq((1L, "s1", 2L, 40L, 20.0), (2L, "s2", 1L, 100L, 100.0)))
  }

  test("percentiles: exact type-7 interpolation on quarter fractions") {
    import spark.implicits._
    // 5 values sorted: 10 20 30 40 50 -> p25 idx 1.0 = 20;
    // 4 values 10 20 30 40 -> p25 idx 0.75 = 17.5, p50 = 25, p75 = 32.5
    val docs = Seq(
      (1L, "alpha", 30L), (2L, "alpha", 10L), (3L, "alpha", 50L),
      (4L, "alpha", 20L), (5L, "alpha", 40L),
      (6L, "beta", 40L), (7L, "beta", 10L), (8L, "beta", 30L), (9L, "beta", 20L))
      .toDF("doc_id", "text", "n")
    val r = percentilesAgg(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha", 2 -> "beta"), col("n"))
      .collect().map(x => x.getInt(0) ->
        (x.getDouble(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(r(1) === ((20.0, 30.0, 40.0)))
    assert(r(2) === ((17.5, 25.0, 32.5)))
  }

  test("significant terms: JLH rewards lift, fgp <= bgp buckets drop, ranks score desc") {
    import spark.implicits._
    // corpus: 6 docs, s1 3/6 bg, s2 2/6, s3 1/6. 'alpha' matches docs
    // 1,2,5 -> fg: s1 1/3 (== bg -> DROPPED), s2 1/3 > 2/6? equal ->
    // dropped; s3 1/3 > 1/6 -> significant
    val docs = Seq(
      (1L, "alpha x", "s1"), (2L, "alpha y", "s2"), (3L, "beta", "s1"),
      (4L, "beta", "s1"), (5L, "alpha z", "s3"), (6L, "beta", "s2"))
      .toDF("doc_id", "text", "src")
    val r = significantTermsAgg(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), col("src"))
      .collect().map(x => (x.getString(2), x.getLong(3), x.getDouble(4))).toSeq
    // fgp = 1/3 for each bucket; bgp: s1 1/2, s2 1/3, s3 1/6 —
    // only s3 has fgp > bgp; JLH = (1/3 - 1/6) * (1/3 / (1/6)) = 1/3
    assert(r.map(_._1) === Seq("s3"))
    assert(r.head._2 === 1L)
    assert(math.abs(r.head._3 - 1.0 / 3) < 1e-12)
  }

  test("dis_max: tie_breaker=0 equals best_fields, tie_breaker=1 equals the field-score sum") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "alpha"), (2L, "alpha", "gamma"),
      (3L, "beta", "alpha alpha"), (4L, "gamma", "delta"))
      .toDF("doc_id", "text", "source")
    val q = Seq(1 -> "alpha", 2 -> "beta gamma")
    def scores(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => (x.getInt(0), x.getLong(2)) -> x.getDouble(3)).toMap
    val tb0 = scores(disMaxTopK(spark, docs, col("doc_id"),
      Seq(col("text"), col("source")), q, tieBreaker = 0.0))
    val best = scores(multiMatchTopK(spark, docs, col("doc_id"),
      Seq(col("text"), col("source")), q))
    assert(tb0 === best, "tie_breaker=0 IS best_fields")
    val tb1 = scores(disMaxTopK(spark, docs, col("doc_id"),
      Seq(col("text"), col("source")), q, tieBreaker = 1.0))
    val f1 = scores(multiMatchTopK(spark, docs, col("doc_id"), Seq(col("text")), q))
    val f2 = scores(multiMatchTopK(spark, docs, col("doc_id"), Seq(col("source")), q))
    tb1.foreach { case (k, v) =>
      val expect = f1.getOrElse(k, 0.0) + f2.getOrElse(k, 0.0)
      assert(math.abs(v - expect) < 1e-12, s"tb=1 sums the field scores at $k")
    }
    assert(tb1.keySet === (f1.keySet ++ f2.keySet), "union of field hits")
  }

  test("boosting: negative match demotes by exactly negative_boost, never excludes") {
    // doc 1 outscores doc 2 on the positive query (higher tf), but
    // matches the negative term -> halved, doc 2 overtakes
    val d = df(1L -> "alpha alpha beta", 2L -> "alpha gamma", 3L -> "beta")
    val plain = hits(BM25.topK(spark, df(1L -> "alpha alpha beta", 2L -> "alpha gamma",
      3L -> "beta"), col("doc_id"), col("text"), Seq(1 -> "alpha")))
    val boosted = hits(boostingTopK(spark, d, col("doc_id"), col("text"),
      Seq((1, "alpha", "beta")), negativeBoost = 0.5))
    val plainByDoc = plain(1).map { case (id, s) => id -> s }.toMap
    val boostByDoc = boosted(1).map { case (id, s) => id -> s }.toMap
    assert(plain(1).head._1 === 1L, "raw ranking: doc 1 first")
    assert(boosted(1).head._1 === 2L, "demotion flips the order")
    assert(boostByDoc.keySet === Set(1L, 2L), "demoted doc is kept, not excluded")
    assert(boostByDoc(1L) === plainByDoc(1L) * 0.5, "exactly negative_boost x score")
    assert(boostByDoc(2L) === plainByDoc(2L), "non-negative doc untouched")
  }

  test("constant_score: every hit scores the boost, ranks by doc_id, absent term empty") {
    val d = df(1L -> "alpha", 2L -> "beta alpha", 3L -> "gamma")
    val r = hits(constantScoreTopK(spark, d, col("doc_id"), col("text"),
      Seq(1 -> "alpha", 2 -> "zzz"), boost = 1.2))
    assert(r(1).map(_._1) === Seq(1L, 2L), "doc_id-asc tie order")
    assert(r(1).forall(_._2 === 1.2), "filter context scores the constant")
    assert(!r.contains(2), "absent term -> no rows")
  }

  test("regexp: anchored full-term match, alternation and classes expand, absent drops qid") {
    val dir = indexOf(1L -> "abc", 2L -> "abd", 3L -> "abcd", 4L -> "xyz")
    val r = hits(regexpTopK(spark, dir, Seq(
      1 -> "ab.", 2 -> "a(bc|bd)", 3 -> "x[xy]z", 4 -> "zzz.*")))
    assert(r(1).map(_._1).toSet === Set(1L, 2L), "ab. is anchored: abcd does NOT match")
    assert(r(2).map(_._1).toSet === Set(1L, 2L), "alternation")
    assert(r(3).map(_._1).toSet === Set(4L), "character class")
    assert(!r.contains(4), "absent pattern -> qid dropped")
  }

  test("range agg: from inclusive / to exclusive, open ends, empty buckets emit 0") {
    import spark.implicits._
    val docs = Seq((1L, "alpha", 100L), (2L, "alpha", 200L), (3L, "alpha", 400L),
      (4L, "beta", 250L)).toDF("doc_id", "text", "v")
    val r = rangeAgg(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), col("v"),
      Seq((None, Some(200L)), (Some(200L), Some(400L)), (Some(400L), None),
        (Some(1000L), None)))
      .collect().map(x => (x.getString(2), x.getLong(3))).toSeq
    // 200 lands in [200,400) (from inclusive), 400 in [400,*) (to
    // exclusive); the 1000+ bucket is empty but still emits
    assert(r === Seq("*-200" -> 1L, "200-400" -> 1L, "400-*" -> 1L, "1000-*" -> 0L))
  }

  test("top_hits: per-bucket top-k by (score desc, doc_id), singleton buckets emit") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha alpha alpha", "x"), (2L, "alpha alpha", "x"), (3L, "alpha", "x"),
      (4L, "alpha", "y")).toDF("doc_id", "text", "b")
    val r = topHitsAgg(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), col("b"), hitsPerBucket = 2)
      .collect().map(x => (x.getString(1), x.getLong(2), x.getLong(3)))
    assert(r.filter(_._1 == "x").map(t => (t._2, t._3)).toSeq === Seq((1L, 1L), (2L, 2L)),
      "bucket x keeps its 2 best (higher tf first), drops the third")
    assert(r.filter(_._1 == "y").map(t => (t._2, t._3)).toSeq === Seq((1L, 4L)),
      "singleton bucket emits its one hit")
  }

  test("extended stats: exact moments and the ES population variance formula") {
    import spark.implicits._
    val docs = Seq((1L, "alpha", 1L), (2L, "alpha", 2L), (3L, "alpha", 3L),
      (4L, "alpha", 4L), (5L, "beta", 99L)).toDF("doc_id", "text", "v")
    val r = extendedStatsAgg(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), col("v")).collect().head
    assert(r.getLong(1) === 4L && r.getLong(2) === 1L && r.getLong(3) === 4L)
    assert(r.getLong(4) === 10L, "sum")
    assert(r.getLong(5) === 30L, "sum of squares")
    assert(r.getDouble(6) === 2.5, "avg")
    assert(r.getDouble(7) === 30.0 / 4 - 2.5 * 2.5, "variance = sum2/n - avg^2")
    assert(r.getDouble(8) === math.sqrt(1.25), "std_dev")
  }

  test("explain: breakdown rows reconstruct the top doc's score term by term") {
    val d = df(1L -> "alpha beta alpha", 2L -> "alpha", 3L -> "beta gamma")
    val q = Seq(1 -> "alpha beta", 2 -> "zzz")
    val top = hits(BM25.topK(spark, d, col("doc_id"), col("text"), q))
    val ex = explainTop1(spark, d, col("doc_id"), col("text"), q).collect()
    assert(ex.forall(_.getInt(0) == 1), "absent-term query has no explanation")
    assert(ex.map(_.getLong(1)).toSet === Set(top(1).head._1), "explains the rank-1 doc")
    assert(ex.map(_.getString(2)).sorted === Array("alpha", "beta"))
    // the term-ascending sum of the weights IS the hit's score
    val folded = ex.sortBy(_.getString(2)).map(_.getDouble(7)).foldLeft(0.0)(_ + _)
    assert(folded === top(1).head._2, "bit-equal fold reconstruction")
    val alphaRow = ex.find(_.getString(2) == "alpha").get
    assert(alphaRow.getLong(3) === 2L && alphaRow.getLong(4) === 2L &&
      alphaRow.getLong(5) === 3L, "tf=2, df=2, doclen=3")
  }

  test("query_string parser: signs, phrases, prefixes; malformed input fails loud") {
    val cls = parseQueryString("""spark +fast -dup "data stream" -"bad one" tab* -x*""")
    assert(cls === Seq(
      QsTerm("should", "spark"), QsTerm("must", "fast"), QsTerm("must_not", "dup"),
      QsPhrase("must", "data stream"), QsPhrase("must_not", "bad one"),
      QsPrefix("should", "tab"), QsPrefix("must_not", "x")))
    assertThrows[IllegalArgumentException](parseQueryString("\"unterminated"))
    assertThrows[IllegalArgumentException](parseQueryString("+tab*"))
    assertThrows[IllegalArgumentException](parseQueryString("a*b"))
    assertThrows[IllegalArgumentException](parseQueryString("*ab"))
    assert(parseQueryString("  ") === Nil, "blank query parses empty")
    assert(parseQueryString("*") === Nil, "a bare star is dropped, not a prefix")
  }

  private val qsDocs = Seq(
    1L -> "alpha beta gamma",
    2L -> "alpha beta",
    3L -> "beta alpha",
    4L -> "alpha delta",
    5L -> "gamma")

  test("query_string: +/- roles, required phrase is order-sensitive adjacency") {
    val d = df(qsDocs: _*)
    val r = hits(queryStringTopK(spark, d, col("doc_id"), col("text"), Seq(
      1 -> "+alpha -delta",
      2 -> "\"alpha beta\"",
      3 -> "gamma -\"alpha beta\"")))
    assert(r(1).map(_._1).toSet === Set(1L, 2L, 3L), "must alpha, not delta")
    assert(r(2).map(_._1).toSet === Set(1L, 2L),
      "phrase requires adjacency IN ORDER: 'beta alpha' does not match")
    assert(r(3).map(_._1).toSet === Set(5L),
      "-phrase excludes the adjacent doc but the words alone don't exclude")
  }

  test("query_string: prefix expansion joins the role set, exclusion prefix works") {
    val d = df(qsDocs: _*)
    val r = hits(queryStringTopK(spark, d, col("doc_id"), col("text"), Seq(
      1 -> "alp* delta",
      2 -> "-alp* gamma",
      3 -> "+zzz alpha")))
    assert(r(1).map(_._1).toSet === Set(1L, 2L, 3L, 4L), "alpha-prefix OR delta")
    assert(r(2).map(_._1).toSet === Set(5L), "docs with gamma and no alp*-term")
    assert(!r.contains(3), "absent must term empties the query")
  }

  test("query_string indexed serving is rank- and score-identical to the corpus path") {
    val dir = indexOf(qsDocs: _*)
    val d = df(qsDocs: _*)
    val qs = Seq(
      1 -> "+alpha -delta",
      2 -> "\"alpha beta\" gamma",
      3 -> "alp* -\"alpha beta\"",
      4 -> "+zzz alpha")
    val corpus = hits(queryStringTopK(spark, d, col("doc_id"), col("text"), qs))
    val indexed = hits(queryStringTopKIndexed(spark, dir, qs))
    assert(corpus === indexed, "pruned segment serving == corpus computation, bit-equal")
    assert(corpus(3).map(_._1).toSet === Set(3L, 4L),
      "prefix expansion + phrase exclusion compose (adjacent docs out, word docs in)")
  }

  test("query_string expansion cap: maxExpansions = 2 keeps the lexicographic head on the corpus and served paths alike") {
    // "ta" matches five index terms: table < tables < tablet < taco < tag
    val docs = Seq(1L -> "table xray", 2L -> "tables yak", 3L -> "tablet zulu",
      4L -> "taco yak", 5L -> "tag table")
    val dir = indexOf(docs: _*)
    val d = df(docs: _*)
    val qs = Seq(
      1 -> "ta*",
      2 -> "-ta* zulu yak",
      3 -> "ta* -\"tag table\"")
    val corpus = hits(queryStringTopK(spark, d, col("doc_id"), col("text"), qs, maxExpansions = 2))
    val indexed = hits(queryStringTopKIndexed(spark, dir, qs, maxExpansions = 2))
    assert(corpus === indexed, "capped expansions: corpus == served, bit-equal")
    assert(corpus(1).map(_._1).toSet === Set(1L, 2L, 5L), "only table and tables expand")
    assert(corpus(2).map(_._1).toSet === Set(3L, 4L),
      "exclusion covers the capped expansions only: tablet and taco docs stay")
    assert(corpus(3).map(_._1).toSet === Set(1L, 2L), "the phrase exclusion drops doc 5")
    val uncapped = hits(queryStringTopK(spark, d, col("doc_id"), col("text"), qs.take(1)))
    assert(uncapped(1).map(_._1).toSet === Set(1L, 2L, 3L, 4L, 5L), "the default cap keeps all five")
  }

  test("query_string must-only compiles bit-equal to the bool must algebra") {
    val d = df(qsDocs: _*)
    val viaQs = hits(queryStringTopK(spark, d, col("doc_id"), col("text"),
      Seq(1 -> "+alpha +beta")))
    val viaBool = hits(boolTopK(spark, d, col("doc_id"), col("text"),
      Seq(BoolQuery(1, must = Seq("alpha", "beta")))))
    assert(viaQs === viaBool)
  }

  private val compDocs = Seq(
    (1L, "alpha", "a", "x"), (2L, "alpha", "a", "y"), (3L, "alpha", "b", "x"),
    (4L, "alpha", "b", "y"), (5L, "alpha", "c", "x"), (6L, "beta", "a", "x"))

  test("composite agg: tuple-ordered buckets, after-key pages strictly after, size bounds") {
    import spark.implicits._
    val d = compDocs.toDF("doc_id", "text", "k1", "k2")
    def page(after: Seq[(Int, String, String)]) =
      compositeAgg(spark, d, col("doc_id"), col("text"), Seq(1 -> "alpha"),
        col("k1"), col("k2"), size = 2, after)
        .collect().map(r => (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(page(Nil) === Seq((1L, "a", "x", 1L), (2L, "a", "y", 1L)),
      "no cursor -> first page in (k1, k2) order")
    assert(page(Seq((1, "a", "y"))) === Seq((1L, "b", "x", 1L), (2L, "b", "y", 1L)),
      "page 2 starts strictly after the cursor tuple")
    assert(page(Seq((1, "b", "x"))) === Seq((1L, "b", "y", 1L), (2L, "c", "x", 1L)),
      "mid-tuple cursor: same k1 later k2 qualifies, earlier k1 does not")
    assert(page(Seq((1, "c", "x"))) === Nil, "past the last bucket -> empty page")
  }

  test("composite agg: null-key docs are omitted (ES missing_bucket=false)") {
    import spark.implicits._
    val d = (compDocs :+ ((7L, "alpha", null, "z"))).toDF("doc_id", "text", "k1", "k2")
    val r = compositeAgg(spark, d, col("doc_id"), col("text"), Seq(1 -> "alpha"),
      col("k1"), col("k2"), size = 10)
      .collect().map(x => (x.getString(2), x.getString(3))).toSeq
    assert(r === Seq("a" -> "x", "a" -> "y", "b" -> "x", "b" -> "y", "c" -> "x"),
      "the null-lang doc forms no bucket")
  }

  test("composite agg plan: bounded min-k aggregation, no Window over the buckets") {
    import spark.implicits._
    val d = compDocs.toDF("doc_id", "text", "k1", "k2")
    val plan = compositeAgg(spark, d, col("doc_id"), col("text"), Seq(1 -> "alpha"),
      col("k1"), col("k2"), size = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "bucket pagination must not window-sort all buckets")
    assert(plan.contains("minkbykey") || plan.contains("MinKByKey"),
      "the bounded min-k aggregator carries the page")
  }

  test("filters agg: named predicate buckets ride one aggregation") {
    import spark.implicits._
    val d = Seq((1L, "alpha", 10L, "en"), (2L, "alpha", 300L, "de"),
      (3L, "alpha", 500L, "en"), (4L, "beta", 10L, "en"))
      .toDF("doc_id", "text", "n_chars", "lang")
    val r = filtersAgg(spark, d, col("doc_id"), col("text"), Seq(1 -> "alpha"),
      Seq("short_docs" -> (col("n_chars") < 200),
        "en_docs" -> (col("lang") === "en"),
        "big_docs" -> (col("n_chars") >= 400))).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((1L, 2L, 1L)))
  }

  test("rescore: phrase bonus reorders inside the window only; no-match leaves base order") {
    // base query 'alpha': doc 1 (tf 2) > doc 2 > doc 3 (longer). Doc 2
    // and 3 contain the phrase 'beta gamma'; windowSize=2 keeps docs
    // {1,2}, so doc 2 gets the bonus and overtakes doc 1 while doc 3
    // (outside the window) must NOT be rescored into the result.
    val d = df(
      1L -> "alpha alpha",
      2L -> "alpha beta gamma",
      3L -> "alpha beta gamma delta epsilon zeta eta theta")
    val base = hits(BM25.topK(spark, d, col("doc_id"), col("text"), Seq(1 -> "alpha")))
    assert(base(1).map(_._1) === Seq(1L, 2L, 3L), "precondition: base order")
    val r = hits(rescoreTopK(spark, d, col("doc_id"), col("text"),
      Seq((1, "alpha", "beta gamma")), windowSize = 2))
    assert(r(1).map(_._1) === Seq(2L, 1L),
      "doc 2's phrase bonus overtakes; doc 3 stays outside the window")
    val noMatch = hits(rescoreTopK(spark, d, col("doc_id"), col("text"),
      Seq((1, "alpha", "zzz yyy")), windowSize = 2))
    assert(noMatch(1).map { case (id, s) => id -> s } ===
      base(1).take(2).map { case (id, s) => id -> s },
      "absent rescore phrase: window scores unchanged (qw=rw=1, sec=0)")
  }

  test("rescore: reversed-order phrase earns no bonus (adjacency is ordered)") {
    val d = df(1L -> "alpha beta gamma", 2L -> "alpha gamma beta")
    val r = hits(rescoreTopK(spark, d, col("doc_id"), col("text"),
      Seq((1, "alpha", "beta gamma")), windowSize = 10))
    val base = hits(BM25.topK(spark, d, col("doc_id"), col("text"), Seq(1 -> "alpha")))
    val baseByDoc = base(1).toMap
    val rByDoc = r(1).toMap
    assert(rByDoc(1L) > baseByDoc(1L), "in-order doc is boosted")
    assert(rByDoc(2L) === baseByDoc(2L), "reversed-order doc is not")
  }

  test("rescore plan: secondary scoring is window-restricted (semi-joins present, no cartesian)") {
    val d = df(1L -> "alpha beta gamma", 2L -> "alpha gamma beta")
    val plan = rescoreTopK(spark, d, col("doc_id"), col("text"),
      Seq((1, "alpha", "beta gamma")), windowSize = 2)
      .queryExecution.executedPlan.toString
    // window doc-set semi, per-query window semi, adjacency semi — the
    // restrictions that keep rescore cost window-bounded at any corpus
    assert("LeftSemi".r.findAllIn(plan).size >= 3,
      "the secondary pipeline must semi-join the window before weighting")
    assert(!plan.contains("CartesianProduct"))
  }

  test("term suggest: distance then popularity then term; input excluded; garble empty") {
    // dictionary: 'table' (df 3), 'cable' (df 2), 'tables' (df 1)
    val d = df(
      1L -> "table cable", 2L -> "table cable", 3L -> "table tables")
    val r = termSuggest(spark, d, col("doc_id"), col("text"),
      Seq(1 -> "tble", 2 -> "table", 3 -> "qqqqqqqq"))
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getString(2), x.getLong(3)))
    val q1 = r.filter(_._1 == 1).map(t => (t._3, t._4)).toSeq
    assert(q1 === Seq("table" -> 1L, "cable" -> 2L, "tables" -> 2L),
      "dist 1 first, then dist-2 ties by df desc")
    val q2 = r.filter(_._1 == 2).map(_._3).toSeq
    assert(!q2.contains("table"), "the input term itself is never suggested")
    assert(q2.contains("cable") && q2.contains("tables"), "neighbors still suggest")
    assert(!r.exists(_._1 == 3), "no candidates within 2 edits -> no rows")
  }

  test("multi_match boosts: a boosted field's score multiplies before best_fields max") {
    import spark.implicits._
    val docs = Seq((1L, "alpha", "beta"), (2L, "beta", "alpha"))
      .toDF("doc_id", "text", "source")
    val q = Seq(1 -> "alpha")
    def scores(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => x.getLong(2) -> x.getDouble(3)).toMap
    val plain = scores(multiMatchTopK(spark, docs, col("doc_id"),
      Seq(col("text"), col("source")), q))
    val boosted = scores(multiMatchTopK(spark, docs, col("doc_id"),
      Seq(col("text"), col("source")), q, boosts = Seq(1.0, 3.0)))
    assert(boosted(1L) === plain(1L), "unboosted winning field unchanged (x * 1.0)")
    assert(boosted(2L) === plain(2L) * 3.0, "source-field hit scales by its boost")
    val ones = scores(multiMatchTopK(spark, docs, col("doc_id"),
      Seq(col("text"), col("source")), q, boosts = Seq(1.0, 1.0)))
    assert(ones === plain, "all-ones boosts are the identity")
  }

  test("has_child: parents roll up child scores per score_mode (sum/max/avg hand math)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha", "p1"), (2L, "alpha", "p1"),
      (3L, "alpha alpha", "p2"), (4L, "beta", "p2"))
      .toDF("doc_id", "text", "src")
    val base = hits(BM25.topK(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha"))).apply(1).toMap
    def rolled(mode: String) =
      hasChildTopK(spark, docs, col("doc_id"), col("text"), col("src"),
        Seq(1 -> "alpha"), mode)
        .collect().map(r => r.getString(2) -> r.getDouble(3)).toMap
    val sum = rolled("sum")
    assert(sum("p1") === base(1L) + base(2L), "sum folds the children")
    assert(sum("p2") === base(3L))
    val mx = rolled("max")
    assert(mx("p1") === math.max(base(1L), base(2L)) && mx("p2") === base(3L))
    val avg = rolled("avg")
    assert(avg("p1") === (base(1L) + base(2L)) / 2.0)
    assertThrows[IllegalArgumentException](rolled("none"))
  }

  test("function_score: field factor multiplies BM25 and reorders equal-text docs") {
    import spark.implicits._
    val docs = Seq((1L, "alpha", 100L), (2L, "alpha", 900L), (3L, "beta", 500L))
      .toDF("doc_id", "text", "v")
    val base = hits(BM25.topK(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha"))).apply(1).toMap
    val r = hits(functionScoreTopK(spark, docs, col("doc_id"), col("text"),
      Seq(1 -> "alpha"), col("v"), factor = 0.01))
    assert(r(1).map(_._1) === Seq(2L, 1L),
      "equal BM25, bigger field value ranks first under log1p multiply")
    val byDoc = r(1).toMap
    assert(byDoc(2L) === base(2L) * math.log(1.0 + 0.01 * 900),
      "score is exactly base * ln(1 + factor * field)")
  }

  test("pipeline aggs: cumulative_sum runs across gap-filled buckets, derivative NULL on first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click", "2024-01-01 10:00:00"), (2L, "click", "2024-01-01 11:00:00"),
      (3L, "click", "2024-01-03 09:00:00"), (4L, "view", "2024-01-02 09:00:00"))
      .toDF("id", "etype", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val r = pipelineAgg(spark, docs, col("id"), col("etype"), Seq(1 -> "click"), col("ts"))
      .collect().map(x => (x.getString(1), x.getLong(2), x.getLong(3),
        if (x.isNullAt(4)) None else Some(x.getLong(4))))
    assert(r.toSeq === Seq(
      ("2024-01-01", 2L, 2L, None),
      ("2024-01-02", 0L, 2L, Some(-2L)),
      ("2024-01-03", 1L, 3L, Some(1L))),
      "gap day participates in both pipelines; first-bucket derivative is NULL")
  }

  test("mlt: tf/df thresholds select terms, source doc is excluded, absent doc yields nothing") {
    // 'widget' appears twice in doc 1 (tf>=2) and in 6 docs (df>=5);
    // 'gear' has tf 1 in doc 1 and df 2 — below both thresholds
    val rows = Seq(1L -> "widget widget gear") ++
      (2L to 6L).map(i => i -> "widget bolt") :+ (7L -> "gear bolt")
    val d = df(rows: _*)
    val r = hits(mltTopK(spark, d, col("doc_id"), col("text"),
      Seq(1 -> 1L, 2 -> 999L)))
    assert(r(1).map(_._1).toSet === (2L to 6L).toSet,
      "docs sharing the selected term, source excluded")
    assert(!r.contains(2), "absent source doc -> no hits")
  }
}
