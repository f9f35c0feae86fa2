package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.analyze.CodeTokenizer
import graft.config.EngineConfig
import graft.index.{Postings, SegmentBuilder}
import graft.ops.{AnnIndex, Dedup, Multimodal, Similarity}
import graft.query.{BM25, QueryDsl, Wand}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with an equivalent DuckDB SQL oracle (generated
  * from the same constants so tokenizer/BM25 semantics cannot drift).
  */
object SparkEntry {

  private def T(dir: String, t: String) = s"$dir/$t.parquet"
  private def tbl(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(T(dir, t))

  /** Reference query set (FIXTURES.md §2): rare needle, hot term,
    * multi-term, camelCase≡multi-term, stopword-only, absent term. */
  val FtQuerySet: Seq[(Int, String)] = Seq(
    1  -> "dup",
    2  -> "table",
    3  -> "spark fast query",
    4  -> "sparkFastQuery",
    5  -> "the a of",
    6  -> "zzznotfound",
    7  -> "hash join merge sort",
    8  -> "data stream window",
    9  -> "dup table",
    10 -> "customer order line value")

  /** Flagship: top-10 BM25 over the sf0.001 documents corpus. */
  def entry(spark: SparkSession): DataFrame =
    BM25.topK(spark, tbl(spark, "/root/testdata/sf0.001", "documents"),
      col("doc_id"), col("text"), FtQuerySet)

  // ---------------------------------------------------------------------
  // Layer A — reference ETL/validation operators (SURVEY.md §2.1-§2.8)
  // ---------------------------------------------------------------------

  /** A1-A5: grouped aggregates (hash agg, map-side partials free). */
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("cnt"),
        avg("l_quantity").as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** S4/S6/A1: count scan. */
  private def qCount(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))

  /** A4/T4: group-by + count + deterministic top-k. */
  private def qTopkEvents(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").groupBy("event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("event_type"))
      .limit(5)

  /** J1: dedup-by-key keep-latest — the reference's self-join DELETE
    * (/root/reference/Services/PostgreSQLService.cs:204-209) expressed as
    * the window it really is (no join, one shuffle). */
  private def qDedupLatest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    tbl(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        col("event_type"))
      .orderBy("user_id")
  }

  /** J2: upsert key-match = left-anti (ON CONFLICT DO NOTHING,
    * /root/reference/Services/PostgreSQLService.cs:353). */
  private def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .join(tbl(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey").orderBy("c_custkey")

  /** P7/A3/A5: hard-constraint predicate battery + conditional counts +
    * ratio aggregates (enum membership, range, key>0, future bound,
    * length cap — AccessLogValidator.cs:19-138 semantics). */
  private def qValidationCounts(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "events")
    val okType = col("event_type").isin("click", "view", "purchase", "signup")
    val okValue = col("value").between(0.0, 300.0)
    val okUser = col("user_id") > 0
    val okTs = col("ts") <= lit("2026-01-01 00:00:00").cast("timestamp_ntz")
    val okProps = length(col("props")) <= 100
    val valid = okType && okValue && okUser && okTs && okProps
    e.agg(
      count(lit(1)).as("total"),
      count(when(!okType, 1)).as("bad_type"),
      count(when(!okValue, 1)).as("bad_value"),
      count(when(!okUser, 1)).as("bad_user"),
      count(when(!okTs, 1)).as("bad_ts"),
      count(when(!okProps, 1)).as("bad_props"),
      count(when(valid, 1)).as("n_valid")
    ).withColumn("pct_valid",
      format_string("%.4f", lit(100.0) * col("n_valid") / col("total")))
  }

  /** P8/A4: soft-warning battery -> exploded message histogram top-10
    * (ValidationService.cs:141-239 semantics). */
  private def qWarningsTop(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "events")
    val warns = array(
      when(col("value") > 250.0, lit("w_value_high")),
      when(col("event_type") === "error", lit("w_error_event")),
      when(hour(col("ts")) < 6, lit("w_offhours")),
      when(get_json_object(col("props"), "$.k").cast("int") > 90, lit("w_k_high")))
    e.select(explode(warns).as("msg")).filter(col("msg").isNotNull)
      .groupBy("msg").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("msg")).limit(10)
  }

  /** P3/P4: lenient JSON-field coercion (try_cast null-on-failure —
    * CSVService.cs:479-575 / ElasticSearchService.cs:267-278 semantics). */
  private def qJsonCoercion(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").select(
      col("event_id"),
      expr("try_cast(get_json_object(props, '$.k') as int)").as("k_int"),
      expr("try_cast(get_json_object(props, '$.missing') as int)").as("k_missing"))
      .orderBy("event_id")

  /** §2.5: running window aggregate (cumulative per-user spend ordered
    * by time — the windowed form of the reference's running totals,
    * MigrationService.cs:633-639). */
  private def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, dir, "events")
      .withColumn("running_value", sum(col("value")).over(w))
      .withColumn("seq", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))).cast("long"))
      .filter(col("seq") <= 5) // first 5 events per user: bounded, deterministic
      .select(col("user_id"), col("seq"), col("event_id"),
        format_string("%.4f", col("running_value")).as("running_value"))
      .orderBy("user_id", "seq")
  }

  /** A-family breadth: rollup totals (subtotal + grand total rows). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(coalesce(col("event_type"), lit("__total__")).as("event_type"), col("cnt"))
      .orderBy("event_type")

  /** Batch sessionization (the relational twin of the streaming
    * flatMapGroupsWithState version): gap > 10 minutes starts a new
    * session; one summary row per session. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val e = tbl(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 600, 1).otherwise(0))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    e.groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("start_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("end_ts"))
      .orderBy("user_id", "session_seq")
  }

  /** Exact distinct aggregates. */
  private def qDistinct(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").agg(
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("event_type")).as("n_types"),
      countDistinct(col("user_id"), col("event_type")).as("n_user_type"))

  /** §2.7 set operations: users who clicked but never purchased
    * (EXCEPT), and users who did both (INTERSECT). */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "events")
    val clickers = e.filter(col("event_type") === "click").select("user_id").distinct()
    val buyers = e.filter(col("event_type") === "purchase").select("user_id").distinct()
    clickers.except(buyers).withColumn("relation", lit("click_only"))
      .unionAll(clickers.intersect(buyers).withColumn("relation", lit("both")))
      .orderBy("relation", "user_id")
  }

  /** Approximate distinct (HLL++): engine-specific sketch, so no SQL
    * oracle — the error bound vs exact is asserted in spec. */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy("event_type")

  /** T2/T3: deterministic sample head (ordered limit). */
  private def qSampleHead(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber").limit(1000)

  // ---------------------------------------------------------------------
  // Layer B — full-text engine (SURVEY.md §7; north_rule)
  // ---------------------------------------------------------------------

  private def qFtPostings(s: SparkSession, dir: String): DataFrame =
    Postings.build(tbl(s, dir, "documents"), col("doc_id"), col("text"))
      .orderBy("term", "doc_id")

  private def qFtDoclen(s: SparkSession, dir: String): DataFrame =
    Postings.doclens(tbl(s, dir, "documents"), col("doc_id"), col("text"))
      .orderBy("doc_id")

  private def qFtStats(s: SparkSession, dir: String): DataFrame =
    Postings.doclens(tbl(s, dir, "documents"), col("doc_id"), col("text"))
      .agg(count(lit(1)).as("n"), avg(col("doclen")).as("avgdl"))

  private def qFtDf(s: SparkSession, dir: String): DataFrame =
    Postings.docFreq(
      Postings.build(tbl(s, dir, "documents"), col("doc_id"), col("text")))
      .orderBy(col("df").desc, col("term"))

  private def qFtBm25(s: SparkSession, dir: String): DataFrame =
    BM25.topK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"), FtQuerySet)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Phrase query set: common 2-gram, hot 2-gram, rare 3-grams, and an
    * adjacency-impossible pair (both terms exist, never adjacent). */
  val PhraseQuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark fast",
    2 -> "table value",
    3 -> "data stream window",
    4 -> "hash join merge",
    5 -> "dup table")

  /** ES match_phrase: ordered adjacency from the PERSISTED positional
    * index (built once at ingest, like ES text-field positions) —
    * serving is a shard- and term-pruned postings read, never a corpus
    * tokenize. Corpus-stats BM25 scoring on qualifying docs. */
  private def qFtPhrase(s: SparkSession, dir: String): DataFrame =
    BM25.phraseTopKIndexed(s, ensureIndex(s, dir), PhraseQuerySet, IndexCfg)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Ordered-proximity query set for slop > 0 (terms common enough to
    * gap-match, a rare-term pair, an order-reversal probe, an m=3
    * phrase, and a single-term degenerate). */
  val PhraseSlopQuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark query",
    2 -> "hash sort",
    3 -> "table dup",
    4 -> "data stream window",
    5 -> "value")
  val PhraseSlop = 2

  /** ES match_phrase with slop: ordered proximity (total slack <= slop)
    * from positional postings — the candidates are an m-way positional
    * intersection, never a source-text recheck. Oracle: the same
    * ordered-chain EXISTS over DuckDB token arrays. */
  private def qFtPhraseSlop(s: SparkSession, dir: String): DataFrame =
    BM25.phraseTopKIndexed(s, ensureIndex(s, dir), PhraseSlopQuerySet, IndexCfg,
      slop = PhraseSlop)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Conjunctive (ES bool/must) BM25: docs must match every analyzed
    * term; oracle enforces the same with HAVING count = n_terms. */
  private def qFtBm25Conj(s: SparkSession, dir: String): DataFrame =
    BM25.topK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      FtQuerySet, conjunctive = true)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Bool query set: the four role algebras a NEST user writes daily —
    * must+should, pure should (minimum_should_match=1), must_not
    * exclusion, non-scoring filter, an absent should (must still
    * scores), an absent must (empty result). */
  val BoolQuerySet: Seq[QueryDsl.BoolQuery] = Seq(
    QueryDsl.BoolQuery(1, must = Seq("spark"), should = Seq("fast", "query")),
    QueryDsl.BoolQuery(2, should = Seq("dup", "table")),
    QueryDsl.BoolQuery(3, must = Seq("table"), mustNot = Seq("dup")),
    QueryDsl.BoolQuery(4, filter = Seq("data"), should = Seq("stream", "window")),
    QueryDsl.BoolQuery(5, must = Seq("spark", "fast"), should = Seq("zzznotfound")),
    QueryDsl.BoolQuery(6, must = Seq("zzznotfound"), should = Seq("table")),
    QueryDsl.BoolQuery(7, must = Seq("sparkFastQuery"), mustNot = Seq("zzznotfound")),
    // explicit minimum_should_match: 2-of-3 shoulds; and msm=2 WITH a
    // must (overrides the would-be-0 default); msm above the should
    // count matches nothing
    QueryDsl.BoolQuery(8, should = Seq("spark", "fast", "table"),
      minimumShouldMatch = Some(2)),
    QueryDsl.BoolQuery(9, must = Seq("data"), should = Seq("stream", "window", "table"),
      minimumShouldMatch = Some(2)),
    QueryDsl.BoolQuery(10, should = Seq("dup", "table"),
      minimumShouldMatch = Some(3)))

  /** ES bool query (must scores+requires, should scores, filter
    * requires without scoring, must_not excludes): one postings pass,
    * one aggregation — role algebra rides the aggregate. */
  private def qFtBool(s: SparkSession, dir: String): DataFrame =
    QueryDsl.boolTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      BoolQuerySet)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Prefix query set: mid-frequency stem, hot single letter (exercises
    * the deterministic expansion cap), rare stem, absent stem. */
  val PrefixQuerySet: Seq[(Int, String)] = Seq(
    1 -> "tab", 2 -> "d", 3 -> "quer", 4 -> "zzz", 5 -> "sp")

  /** ES prefix query served from the segment index: term-dictionary
    * expansion (lexicographic-first 50, Lucene term-dict order) through
    * exact WAND — rewrite=scoring_boolean semantics. */
  private def qFtPrefix(s: SparkSession, dir: String): DataFrame =
    QueryDsl.prefixTopK(s, ensureIndex(s, dir), PrefixQuerySet, cfg = IndexCfg)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Fuzzy query set: deletion, substitution, 2-edit long term, an
    * exact term (AUTO=1 pulls in its neighbors too), absent garble. */
  val FuzzyQuerySet: Seq[(Int, String)] = Seq(
    1 -> "tble", 2 -> "spork", 3 -> "querry", 4 -> "spark", 5 -> "zzznotfnd")

  /** ES fuzzy query served from the segment index: AUTO fuzziness,
    * classic-Levenshtein expansion highest-df-first capped at 50,
    * through exact WAND with each expansion's own df. */
  private def qFtFuzzy(s: SparkSession, dir: String): DataFrame =
    QueryDsl.fuzzyTopK(s, ensureIndex(s, dir), FuzzyQuerySet, cfg = IndexCfg)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Wildcard query set: infix gap, leading wildcard (the full-dict
    * scan case), single-char hole, absent pattern, trailing gap. */
  val WildcardQuerySet: Seq[(Int, String)] = Seq(
    1 -> "ta*le", 2 -> "*ark", 3 -> "d?p", 4 -> "zz*q", 5 -> "qu*y")

  /** ES wildcard query served from the segment index: term-dictionary
    * expansion (* / ?, lexicographic-first 50) through exact WAND —
    * rewrite=scoring_boolean semantics, same discipline as prefix. */
  private def qFtWildcard(s: SparkSession, dir: String): DataFrame =
    QueryDsl.wildcardTopK(s, ensureIndex(s, dir), WildcardQuerySet, cfg = IndexCfg)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** search_after query set: hot multi-term, hot single term, rare
    * term, absent term (no page-1 hits -> no cursor -> no page 2). */
  val SearchAfterQuerySet: Seq[(Int, String)] = Seq(
    1 -> "table", 2 -> "spark fast query", 3 -> "dup", 4 -> "zzznotfound")

  /** ES search_after (deep pagination): page 2 = bounded top-k of the
    * scored set strictly after page 1's last hit in (score desc,
    * doc_id asc) — each page an independent bounded aggregation, never
    * a from+size offset sort. Page-1 cursors are <= one row per query
    * (bounded driver collect, exactly the sort values an ES client
    * echoes back). */
  private def qFtSearchAfter(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    // both pages score with the SAME index stats (the ES contract — a
    // cursor page never re-derives them), so the bounded stats job runs
    // once and is shared
    val terms = SearchAfterQuerySet
      .flatMap { case (_, t) => graft.analyze.CodeTokenizer.queryTerms(t) }.distinct
    val stats = BM25.statsAndDf(docs, col("doc_id"), col("text"), terms)
    val page1 = BM25.topK(s, docs, col("doc_id"), col("text"), SearchAfterQuerySet,
      statsKnown = Some(stats))
    val cursors = page1.select("qid", "rank", "doc_id", "score").collect()
      .groupBy(_.getInt(0)).toSeq.map { case (qid, rows) =>
        val last = rows.maxBy(_.getLong(1))
        (qid, last.getDouble(3), last.getLong(2))
      }
    QueryDsl.searchAfterTopK(s, docs, col("doc_id"), col("text"),
      SearchAfterQuerySet, cursors, statsKnown = Some(stats))
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))
  }

  /** Stats-agg query set mirrors the terms-agg probes (multi-term, hot,
    * absent, rare). */
  val StatsAggQuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark fast query", 2 -> "table", 3 -> "zzznotfound", 4 -> "dup")

  /** ES stats aggregation over matching docs: count/min/max/sum of
    * n_chars per query, avg = sum/count (deterministic IEEE division of
    * exactly-represented values on both engines). */
  private def qFtStatsAgg(s: SparkSession, dir: String): DataFrame =
    QueryDsl.statsAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      StatsAggQuerySet, col("n_chars"))
      .select(col("qid"), col("doc_count"), col("min_v"), col("max_v"),
        col("sum_v"), format_string("%.9f", col("avg_v")).as("avg_v"))

  /** match_phrase_prefix query set: LAST whitespace token is the prefix
    * seed, leading tokens match exactly in order — common continuation,
    * rare continuation, hot pair, absent prefix (zero hits), 3-token. */
  val PhrasePrefixQuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark fa", 2 -> "data stre", 3 -> "table val",
    4 -> "hash zzz", 5 -> "dup tab", 6 -> "spark fast qu")

  /** ES match_phrase_prefix from the positional index: exact leading
    * tokens + capped term-dict expansion of the last, adjacency via the
    * positional machinery; scores over the exact terms. */
  private def qFtPhrasePrefix(s: SparkSession, dir: String): DataFrame =
    QueryDsl.phrasePrefixTopK(s, ensureIndex(s, dir), PhrasePrefixQuerySet,
      cfg = IndexCfg)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Range/filter-context query set + predicate bounds: the ES "search
    * within a category and size window" staple. */
  val RangeQuerySet: Seq[(Int, String)] = Seq(
    1 -> "table", 2 -> "spark fast query", 3 -> "dup", 4 -> "zzznotfound")
  val RangeLang = "en"
  val RangeLo = 150L
  val RangeHi = 450L

  /** ES bool { must: match, filter: [term lang, range n_chars] }:
    * full-corpus BM25 scores (filter context never rescores), hits
    * restricted to docs passing the structured predicate. */
  private def qFtRange(s: SparkSession, dir: String): DataFrame =
    QueryDsl.filteredTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      RangeQuerySet,
      col("lang") === RangeLang && col("n_chars").between(RangeLo, RangeHi))
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** multi_match query set: a source-field token + text terms (the
    * best_fields cross-field staple), text-only, source-only, absent. */
  val MultiMatchQuerySet: Seq[(Int, String)] = Seq(
    1 -> "src3 table", 2 -> "spark fast query", 3 -> "src7", 4 -> "zzznotfound")

  /** ES multi_match best_fields over (text, source): each field scores
    * with its own postings/df/avgdl, combined score = max over fields
    * (tie_breaker=0, the ES default). */
  private def qFtMultiMatch(s: SparkSession, dir: String): DataFrame =
    QueryDsl.multiMatchTopK(s, tbl(s, dir, "documents"), col("doc_id"),
      Seq(col("text"), col("source")), MultiMatchQuerySet)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Histogram query set + interval: multi-term, hot term, rare term,
    * absent (no buckets at all). */
  val HistogramQuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark fast query", 2 -> "table", 3 -> "dup", 4 -> "zzznotfound")
  val HistogramInterval = 100L

  /** ES histogram aggregation over matching docs: n_chars in
    * fixed-interval buckets, min_doc_count=0 gap fill between each
    * query's min and max occupied key (the ES default). */
  private def qFtHistogramAgg(s: SparkSession, dir: String): DataFrame =
    QueryDsl.histogramAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      HistogramQuerySet, col("n_chars"), HistogramInterval)

  /** ES cardinality aggregation over matching docs: exact distinct
    * sources per query (deviation documented at the operator: ES is
    * HLL-approximate above precision_threshold; the corpus-scale sketch
    * path is q_approx_distinct). */
  private def qFtCardinalityAgg(s: SparkSession, dir: String): DataFrame =
    QueryDsl.cardinalityAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      HistogramQuerySet, col("source"))

  /** ES sort-by-field: hits of a match query ranked by (n_chars desc,
    * doc_id asc) — no scoring in the plan (track_scores=false). */
  private def qFtSortTopk(s: SparkSession, dir: String): DataFrame =
    QueryDsl.sortTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      HistogramQuerySet, col("n_chars"))

  /** ES sub-aggregation tree: terms buckets on source with nested
    * count/sum/avg of n_chars — one shuffle for the whole tree. */
  private def qFtTermsStats(s: SparkSession, dir: String): DataFrame =
    QueryDsl.termsStatsAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      TermsAggQuerySet, col("source"), col("n_chars"))
      .select(col("qid"), col("rank"), col("bucket"), col("cnt"), col("sum_v"),
        format_string("%.9f", col("avg_v")).as("avg_v"))

  /** ES percentiles aggregation (exact type-7 formulation; ES's
    * t-digest approximation documented at the operator): quarter
    * percentiles of n_chars over matching docs. */
  private def qFtPercentiles(s: SparkSession, dir: String): DataFrame =
    QueryDsl.percentilesAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      HistogramQuerySet, col("n_chars"))
      .select(col("qid"),
        format_string("%.4f", col("p25")).as("p25"),
        format_string("%.4f", col("p50")).as("p50"),
        format_string("%.4f", col("p75")).as("p75"))

  /** ES significant_terms on lang over matching docs: JLH-scored
    * foreground-vs-background lift, fgPct > bgPct buckets only. */
  private def qFtSigTerms(s: SparkSession, dir: String): DataFrame =
    QueryDsl.significantTermsAgg(s, tbl(s, dir, "documents"), col("doc_id"),
      col("text"), TermsAggQuerySet, col("lang"))
      .select(col("qid"), col("rank"), col("bucket"), col("fg_count"),
        format_string("%.9f", col("score")).as("score"))

  /** dis_max tie_breaker (the ES example value — a non-zero tb is what
    * distinguishes dis_max from best_fields). */
  val DisMaxTieBreaker = 0.3

  /** ES dis_max over (text, source): combined score = best field +
    * tie_breaker * sum of the other fields' scores. */
  private def qFtDisMax(s: SparkSession, dir: String): DataFrame =
    QueryDsl.disMaxTopK(s, tbl(s, dir, "documents"), col("doc_id"),
      Seq(col("text"), col("source")), MultiMatchQuerySet, DisMaxTieBreaker)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Boosting query set: (positive, negative) — demote a hot co-term,
    * demote rare, negative absent (no demotion), positive absent. */
  val BoostingQuerySet: Seq[(Int, String, String)] = Seq(
    (1, "table", "dup"),
    (2, "spark fast", "query"),
    (3, "data stream", "zzznotfound"),
    (4, "zzznotfound", "table"))
  val NegativeBoost = 0.5

  /** ES boosting query: positive match scores BM25; docs also matching
    * the negative query are demoted by negative_boost, not excluded. */
  private def qFtBoosting(s: SparkSession, dir: String): DataFrame =
    QueryDsl.boostingTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      BoostingQuerySet, NegativeBoost)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  val ConstantScoreBoost = 1.2

  /** ES constant_score: filter-context match, every hit scores exactly
    * the boost, ranks tie-break doc_id asc. */
  private def qFtConstantScore(s: SparkSession, dir: String): DataFrame =
    QueryDsl.constantScoreTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      RangeQuerySet, ConstantScoreBoost)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Regexp query set (Java/RE2 common subset): single-char hole,
    * alternation, gap closure, vowel class, absent pattern. */
  val RegexpQuerySet: Seq[(Int, String)] = Seq(
    1 -> "ta.le", 2 -> "s(p|t)ark", 3 -> "qu.*y", 4 -> "d[aeiou]p", 5 -> "zzz.*q")

  /** ES regexp query from the segment index: anchored full-term
    * expansion against the term dictionary through exact WAND. */
  private def qFtRegexp(s: SparkSession, dir: String): DataFrame =
    QueryDsl.regexpTopK(s, ensureIndex(s, dir), RegexpQuerySet, cfg = IndexCfg)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Range-agg bucket spec: open-below, mid, open-above (from
    * inclusive, to exclusive — the ES contract). */
  val RangeAggRanges: Seq[(Option[Long], Option[Long])] = Seq(
    (None, Some(200L)), (Some(200L), Some(400L)), (Some(400L), None))

  /** ES range aggregation over matching docs: user-specified n_chars
    * buckets, empties emitted, specification order. */
  private def qFtRangeAgg(s: SparkSession, dir: String): DataFrame =
    QueryDsl.rangeAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      HistogramQuerySet, col("n_chars"), RangeAggRanges)

  val TopHitsPerBucket = 2

  /** ES top_hits sub-aggregation: lang buckets, the 2 best-scoring
    * docs inside each bucket. */
  private def qFtTopHits(s: SparkSession, dir: String): DataFrame =
    QueryDsl.topHitsAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      TermsAggQuerySet, col("lang"), TopHitsPerBucket)
      .select(col("qid"), col("bucket"), col("hit_rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** ES extended_stats over matching docs: stats + sum_of_squares /
    * variance / std_deviation via the ES population formula on exact
    * integer operands. */
  private def qFtExtendedStats(s: SparkSession, dir: String): DataFrame =
    QueryDsl.extendedStatsAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      StatsAggQuerySet, col("n_chars"))
      .select(col("qid"), col("doc_count"), col("min_v"), col("max_v"),
        col("sum_v"), col("sum_sq"),
        format_string("%.9f", col("avg_v")).as("avg_v"),
        format_string("%.9f", col("variance")).as("variance"),
        format_string("%.4f", col("std_dev")).as("std_dev"))

  /** Explain query set: multi-term (full breakdown), hot single term,
    * rare term, absent term (no rows). */
  val ExplainQuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark fast query", 2 -> "table", 3 -> "dup", 4 -> "zzznotfound")

  /** ES _explain analogue: per-term BM25 breakdown (tf, df, doclen,
    * idf, weight) for each query's top-ranked doc. */
  private def qFtExplain(s: SparkSession, dir: String): DataFrame =
    QueryDsl.explainTop1(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      ExplainQuerySet)
      .select(col("qid"), col("doc_id"), col("term"), col("tf"), col("df"),
        col("doclen"),
        format_string("%.4f", col("idf")).as("idf"),
        format_string("%.4f", col("w")).as("w"))

  /** query_string query set (flat Lucene grammar): sign mix, required
    * phrase + must term, prefix + bare OR, phrase exclusion that keeps
    * word-matching docs, absent must, prefix exclusion. */
  val QueryStringQuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark +fast -dup",
    2 -> "+table \"spark fast\"",
    3 -> "tab* query",
    4 -> "data -\"data stream\"",
    5 -> "+zzznotfound table",
    6 -> "-tab* window")

  /** Lucene/ES query_string (flat grammar: +must / -must_not / bare
    * should / "phrase" adjacency / trailing-star prefix) compiled onto
    * the bool role algebra + positional adjacency constraints. */
  private def qFtQueryString(s: SparkSession, dir: String): DataFrame =
    QueryDsl.queryStringTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      QueryStringQuerySet)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  val CompositePageSize = 5

  /** ES composite aggregation, PAGE 2: page 1 runs cursor-less, its
    * last bucket key per query becomes the after-key (<= one row per
    * query, the bounded echo an ES client sends back), and the dumped
    * result is the second page — proving the after-key tuple arithmetic
    * against an oracle that slices ranks (size, 2*size] instead. */
  private def qFtCompositeAgg(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val page1 = QueryDsl.compositeAgg(s, docs, col("doc_id"), col("text"),
      TermsAggQuerySet, col("lang"), col("source"), CompositePageSize)
    val cursors = page1.collect()
      .groupBy(_.getInt(0)).toSeq.map { case (qid, rows) =>
        val last = rows.maxBy(_.getLong(1))
        (qid, last.getString(2), last.getString(3))
      }
    QueryDsl.compositeAgg(s, docs, col("doc_id"), col("text"),
      TermsAggQuerySet, col("lang"), col("source"), CompositePageSize, cursors)
  }

  /** Named structured predicates for the filters agg (the ES
    * "dashboard counters" staple). */
  def FiltersAggFilters: Seq[(String, Column)] = Seq(
    "short_docs" -> (col("n_chars") < 200),
    "en_docs" -> (col("lang") === "en"),
    "big_docs" -> (col("n_chars") >= 400))

  /** ES filters aggregation: three named predicate buckets riding one
    * groupBy over each query's matching docs. */
  private def qFtFiltersAgg(s: SparkSession, dir: String): DataFrame =
    QueryDsl.filtersAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      TermsAggQuerySet, FiltersAggFilters)

  /** Rescore query set: (match text, rescore phrase) — phrase present
    * in some window docs, reversed-order phrase (adjacency miss), a
    * multi-term window with a hot phrase, absent rescore phrase (ranks
    * must equal qw * base order). */
  val RescoreQuerySet: Seq[(Int, String, String)] = Seq(
    (1, "spark fast query", "spark fast"),
    (2, "table dup", "dup table"),
    (3, "data stream window", "data stream"),
    (4, "dup", "zzznotfound zzz"))
  val RescoreWindow = 20

  /** ES rescore (total mode, default weights): top-window hits
    * re-scored as base + match_phrase secondary, window-bounded. */
  private def qFtRescore(s: SparkSession, dir: String): DataFrame =
    QueryDsl.rescoreTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      RescoreQuerySet, RescoreWindow)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Term-suggest inputs: deletion typo, substitution typo, insertion
    * typo, garble with no candidates. */
  val SuggestQuerySet: Seq[(Int, String)] = Seq(
    1 -> "tble", 2 -> "spak", 3 -> "querry", 4 -> "zzzzzzzz")

  /** ES term suggester: corpus-dictionary corrections within 2 edits,
    * ranked (distance, df desc, term). */
  private def qFtSuggest(s: SparkSession, dir: String): DataFrame =
    QueryDsl.termSuggest(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      SuggestQuerySet)

  /** Per-field boosts for the boosted multi_match (text^2, source). */
  val BoostedFieldsBoosts: Seq[Double] = Seq(2.0, 1.0)

  /** ES multi_match best_fields with field boosts (fields:
    * ["text^2", "source"]): each field's score multiplies its boost
    * before the max combines. */
  private def qFtBoostedFields(s: SparkSession, dir: String): DataFrame =
    QueryDsl.multiMatchTopK(s, tbl(s, dir, "documents"), col("doc_id"),
      Seq(col("text"), col("source")), MultiMatchQuerySet,
      boosts = BoostedFieldsBoosts)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** ES has_child (join field), score_mode=sum: rank sources by the
    * summed match scores of their member docs. */
  private def qFtHasChild(s: SparkSession, dir: String): DataFrame =
    QueryDsl.hasChildTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      col("source"), TermsAggQuerySet, scoreMode = "sum")
      .select(col("qid"), col("rank"), col("parent"),
        format_string("%.4f", col("score")).as("score"))

  val FunctionScoreFactor = 0.01

  /** ES function_score field_value_factor (log1p, multiply): BM25 *
    * ln(1 + 0.01 * n_chars) — the popularity-boost staple. */
  private def qFtFunctionScore(s: SparkSession, dir: String): DataFrame =
    QueryDsl.functionScoreTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      HistogramQuerySet, col("n_chars"), FunctionScoreFactor)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** date_histogram query set over the events stream: two-type match,
    * single type, absent type. */
  val DateHistogramQuerySet: Seq[(Int, String)] = Seq(
    1 -> "click purchase", 2 -> "error", 3 -> "zzznotfound")

  /** ES date_histogram (calendar_interval=day) over matching events:
    * per-day counts, min_doc_count=0 gap fill across each query's
    * occupied day span. */
  private def qFtDateHistogram(s: SparkSession, dir: String): DataFrame =
    QueryDsl.dateHistogramAgg(s, tbl(s, dir, "events"), col("event_id"),
      col("event_type"), DateHistogramQuerySet, col("ts"))

  /** ES pipeline aggs (cumulative_sum + derivative) over the same
    * date_histogram buckets — the Kibana trend pair. */
  private def qFtPipelineAgg(s: SparkSession, dir: String): DataFrame =
    QueryDsl.pipelineAgg(s, tbl(s, dir, "events"), col("event_id"),
      col("event_type"), DateHistogramQuerySet, col("ts"))

  /** Terms-agg query set: multi-term match, hot single term, absent
    * term (zero buckets), rare term. */
  val TermsAggQuerySet: Seq[(Int, String)] = Seq(
    1 -> "spark fast query", 2 -> "table", 3 -> "zzznotfound", 4 -> "dup")

  /** ES terms aggregation (facets): bucket every query-matching doc by
    * lang, top buckets by (count desc, key asc) — the ES default order
    * with its deterministic tie-break. */
  private def qFtTermsAgg(s: SparkSession, dir: String): DataFrame =
    QueryDsl.termsAgg(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      TermsAggQuerySet, col("lang"))

  /** Highlight query set: single rare term, multi-term, camelCase
    * (highlights BOTH split terms), conjunction-heavy. */
  val HighlightQuerySet: Seq[(Int, String)] = Seq(
    1 -> "dup", 2 -> "spark fast query", 3 -> "sparkFastQuery",
    4 -> "hash join merge sort")

  /** ES highlight analogue: top-k BM25 hits with a token-level snippet
    * (window of +-3 analyzed tokens around the first match, matched
    * tokens wrapped in em tags — the plain highlighter re-analyzes
    * stored text the same way). */
  private def qFtHighlight(s: SparkSession, dir: String): DataFrame =
    QueryDsl.highlightTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      HighlightQuerySet)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"), col("snippet"))

  /** MLT query set: (qid, source doc id); ids exist at every SF
    * (documents doc_id 0..499 everywhere); 999999 is the absent-doc
    * probe (zero hits, like ES). */
  val MltQuerySet: Seq[(Int, Long)] = Seq(
    1 -> 3L, 2 -> 42L, 3 -> 123L, 4 -> 321L, 5 -> 999999L)

  /** ES more_like_this: top-25 tf*idf source-doc terms (tf>=2, df>=5 —
    * ES defaults) as a BM25 disjunction, source doc excluded. */
  private def qFtMlt(s: SparkSession, dir: String): DataFrame =
    QueryDsl.mltTopK(s, tbl(s, dir, "documents"), col("doc_id"), col("text"),
      MltQuerySet)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))

  /** Index build config for the verify/bench corpus: enough shards to
    * exercise checkpointing, low-enough salt target that sf0.1 hot terms
    * actually split into multiple runs. */
  val IndexCfg: EngineConfig = EngineConfig.default.copy(
    shards = 4, buildPartitions = 8, saltTargetPostings = 1024)

  /** Build (or resume — the manifest makes re-entry a no-op) the
    * compressed segment index for `dir`'s documents table. Lives on
    * tmpfs when available (serving measurements must capture the
    * engine, not the sandbox's virtio disk — same rule as Bench), and
    * resume gates on the atomic ingest-complete marker, not on stats
    * existence (a crash between the two ingest passes must re-ingest). */
  // Cache key covers the source CONTENT, not just its path: a
  // regenerated documents.parquet at the same path must produce a
  // fresh index, never serve stale hits from the previous corpus
  // (cheap driver-side listing — name:size:mtime per data file).
  private def corpusKey(dir: String, salt: String): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val listing = Option(src.listFiles())
      .map(_.filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted.mkString(","))
      .getOrElse(s"${src.length}:${src.lastModified}")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$listing|$salt".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  }

  /** Index cache path: `<srcTag>` names the SOURCE (dir + salt — stable
    * across regenerations), `<key>` its CONTENT. The split exists so a
    * regenerated corpus can evict its predecessor's directory: the
    * cache lives on tmpfs (RAM), and without eviction every
    * bench/verify cycle over a rewritten corpus would leak a full index
    * until the VM is squeezed. */
  private def indexPath(dir: String, salt: String): String = {
    val srcTag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$salt".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    s"${TmpFs.base}/graft_index_${srcTag}_${corpusKey(dir, salt)}"
  }

  /** Minimum age before a stale sibling index is evicted. Eviction has
    * no cross-process coordination (tmpfs has no lock service), so a
    * SECOND JVM over the same source could otherwise delete an index the
    * first is mid-building or mid-serving; a recently-touched directory
    * is treated as live. A regenerated corpus therefore leaks its
    * predecessor's index for at most this window — bounded, and the
    * next eviction pass reclaims it. The liveness signal is EXPLICIT:
    * every [[ensureIndexOver]] call — the only gateway to these cached
    * dirs — touches a `_heartbeat` file, so any index a process is
    * actively resolving (to build OR to serve) never ages out; nothing
    * relies on filesystem mtimes updating as a side effect (they
    * don't — reads never touch them, and manifest writes land in a
    * subdirectory). */
  private val EvictMinAgeMs: Long = 30L * 60 * 1000

  private def touchHeartbeat(idx: String): Unit =
    try {
      val p = java.nio.file.Paths.get(idx, "_heartbeat")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, "")
    } catch { case scala.util.control.NonFatal(_) => () }

  private def ensureIndexOver(s: SparkSession, idx: String,
                              docs: => DataFrame, contentCol: Column): String = {
    touchHeartbeat(idx)
    if (!SegmentBuilder.ingestDone(idx, IndexCfg)) {
      // evict stale content-keys of the SAME source before building the
      // new one (same srcTag prefix, different suffix) — but only dirs
      // whose heartbeat is old enough that no concurrent JVM can
      // plausibly be using them
      val f = new java.io.File(idx)
      val prefix = f.getName.substring(0, f.getName.lastIndexOf('_') + 1)
      val now = System.currentTimeMillis()
      def freshest(d: java.io.File): Long =
        Seq(new java.io.File(d, "_heartbeat"), new java.io.File(d, "_ingested"))
          .filter(_.exists).map(_.lastModified).foldLeft(d.lastModified)(math.max)
      Option(f.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(d => d.getName.startsWith(prefix) && d.getName != f.getName)
        .filter(d => now - freshest(d) > EvictMinAgeMs)
        .foreach(d => new scala.reflect.io.Directory(d).deleteRecursively())
      SegmentBuilder.ingest(s, docs, col("doc_id"), contentCol, idx, IndexCfg)
    }
    SegmentBuilder.buildAll(s, idx, IndexCfg)
    idx
  }

  def ensureIndex(s: SparkSession, dir: String): String =
    ensureIndexOver(s, indexPath(dir, "docs"),
      tbl(s, dir, "documents"), col("text"))

  /** Segment index over the input_hint code corpus (synthesized shape,
    * surrogate doc ids) — the full north-star path on the exact input
    * table: Iceberg-shaped source -> identity -> salted postings ->
    * compressed segments -> WAND. */
  def ensureCodeIndex(s: SparkSession, dir: String): String = {
    // the salt carries a SYNTHESIS version: the indexed corpus is a
    // function of CodeCorpus.synthesize, not just the source file, so
    // a derivation change must invalidate the cache — bump on any
    // synthesize()/docKey change (v2: the collision gate now rides the
    // build, so a pre-gate cache must not be trusted)
    val idx = indexPath(dir, "code-v2")
    // The surrogate-collision gate runs ONCE per corpus key — at index
    // BUILD time, where its corpus-wide distinct-count rides the
    // one-time ingest. Every ranked/indexed query over this corpus is
    // therefore gate-protected (a collision fails the build loudly
    // instead of silently merging two documents' postings), while warm
    // serving never pays a corpus aggregation.
    val gated = !SegmentBuilder.ingestDone(idx, IndexCfg)
    ensureIndexOver(s, idx,
      graft.sources.CodeCorpus.withDocIds(
        graft.sources.CodeCorpus.synthesize(s, dir), failOnCollision = gated),
      col("content"))
  }

  /** Block-max WAND over the compressed segment index — must be
    * rank-identical to the declarative ft_bm25_topk (same SQL oracle). */
  private def qFtWand(s: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(s, dir)
    Wand.topK(s, idx, FtQuerySet, IndexCfg)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))
  }

  /** Ingest identity surface: docId, sha256(content), doclen, plus the
    * per-row invariant vs the source table (BASELINE.json input_hint). */
  private def qIngDocmap(s: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(s, dir)
    // sort first, hash above (see q_ts_coercion): the sha2 battery must
    // not re-run in the range sampler's pass
    s.read.parquet(s"$idx/docmap")
      .join(tbl(s, dir, "documents"), "doc_id")
      .select(col("doc_id"), col("sha"), col("doclen"), col("text"))
      .orderBy("doc_id")
      .select(col("doc_id"), col("sha"), col("doclen"),
        (col("sha") === sha2(col("text"), 256)).as("sha_ok"))
  }

  /** The north-rule INPUT TABLE (BASELINE.json input_hint): the
    * Iceberg-shaped source-code corpus (repo, path, commit, lang,
    * content), synthesized deterministically (graft.sources.CodeCorpus)
    * with the (repo, path, commit)-derived doc identity. This query IS
    * the identity surface: doc_id surrogate, full-key digest columns,
    * per-row sha256(content) invariant — and the surrogate-collision
    * gate runs (fails loud rather than merging documents). */
  private def qCodeDocmap(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.CodeCorpus
    // sort first, hash above (see q_ts_coercion)
    CodeCorpus.withDocIds(CodeCorpus.synthesize(s, dir))
      .select(col("doc_id"), col("repo"), col("path"), col("commit"), col("lang"),
        col("content"))
      .orderBy("doc_id")
      .select(col("doc_id"), col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256).as("sha"))
  }

  /** Full-text BM25 over the input_hint corpus shape end-to-end:
    * synthesize -> derive doc ids -> tokenize content -> rank. Same
    * query set as ft_bm25_topk; doc ids are the 60-bit surrogates. */
  private def qCodeFtTopk(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.CodeCorpus
    // gate off here: code_docmap + CodeCorpusSpec own the collision
    // check; a ranked query must not pay a corpus-wide distinct-count
    val code = CodeCorpus.withDocIds(CodeCorpus.synthesize(s, dir),
      failOnCollision = false)
    BM25.topK(s, code, col("doc_id"), col("content"), FtQuerySet)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))
  }

  /** Block-max WAND over the code-corpus segment index — the north
    * star verbatim: the input_hint table, indexed and served, must be
    * rank-identical (doc ids AND scores) to the declarative BM25 over
    * the same synthesized corpus (same SQL oracle as code_ft_topk). */
  private def qCodeWand(s: SparkSession, dir: String): DataFrame = {
    val idx = ensureCodeIndex(s, dir)
    Wand.topK(s, idx, FtQuerySet, IndexCfg)
      .select(col("qid"), col("rank"), col("doc_id"),
        format_string("%.4f", col("score")).as("score"))
  }

  // ---------------------------------------------------------------------
  // Training-data pipeline operators (builder prompt)
  // ---------------------------------------------------------------------

  /** Exact dedup: content-hash groupBy, keep lowest id (distributed,
    * single hash-agg shuffle). */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("copies"))
      .select("doc_id", "copies", "fp")
      .orderBy("doc_id")

  /** Near-dup candidates by word-3-gram Jaccard: shingle -> inverted
    * shingle join -> pair intersection counts (the exact counterpart the
    * MinHash/LSH path approximates). */
  private def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val sh = Dedup.shingleTable(d, col("doc_id"), col("text"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b, col("a.shingle") === col("b.shingle") &&
      col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= 0.06)
      .select(col("id_a"), col("id_b"),
        format_string("%.9f", col("jaccard")).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Brute-force cosine top-k over the embedding column (the exact
    * baseline the LSH ANN path approximates). */
  private def qCosineTopk(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(tbl(s, dir, "embeddings"), 0L, 10)
      .select(col("rank"), col("vec_id"), col("label"),
        format_string("%.4f", col("cos")).as("cos"))
      .orderBy("rank")

  /** Persisted-ANN index root for `dir`'s embeddings (tmpfs when
    * available, like the text index): build once per corpus + params
    * (atomic marker + file-listing lineage), probe-only queries after. */
  def annIndexDir(dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"${TmpFs.base}/graft_ann_$key"
  }

  /** Query vector lookup — a pushed-down point read of the source table
    * (in a deployment the vector arrives with the request). */
  private def queryVec(s: SparkSession, dir: String, id: Long): Array[Double] =
    tbl(s, dir, "embeddings").filter(col("vec_id") === id)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray

  /** Random-hyperplane LSH ANN over the PERSISTED bucket table
    * (build-once via [[graft.ops.AnnIndex.ensureLsh]]; the query is a
    * partition-pruned read of the Hamming ball's buckets — approximate;
    * recall asserted in SimilaritySpec, no SQL oracle). */
  private def qAnnTopk(s: SparkSession, dir: String): DataFrame = {
    val idx = s"${annIndexDir(dir)}/lsh"
    AnnIndex.ensureLsh(s, tbl(s, dir, "embeddings"), idx, T(dir, "embeddings"))
    AnnIndex.lshQuery(s, idx, queryVec(s, dir, 0L), 10)
      .select(col("rank"), col("vec_id"), col("label"),
        format_string("%.4f", col("cos")).as("cos"))
      .orderBy("rank")
  }

  /** IVF-flat ANN over the PERSISTED centroid + assignment artifact
    * (k-means trains at build time only; the query ranks nlist persisted
    * centroids and partition-prunes to nprobe lists — approximate;
    * recall asserted in SimilaritySpec, no SQL oracle). */
  private def qIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val idx = s"${annIndexDir(dir)}/ivf"
    AnnIndex.ensureIvf(s, tbl(s, dir, "embeddings"), idx, T(dir, "embeddings"))
    AnnIndex.ivfQuery(s, idx, queryVec(s, dir, 0L), 10)
      .select(col("rank"), col("vec_id"), col("label"),
        format_string("%.4f", col("cos")).as("cos"))
      .orderBy("rank")
  }

  /** S5/P4 source parity: the ES-scroll NDJSON source through the shared
    * coercion battery, including the reference's array unwrap (first
    * element of a non-empty array, null for an empty one —
    * ElasticSearchService.cs:267-278). Oracle: DuckDB read_json over the
    * same deterministic fixture with the identical unwrap + nullNorm +
    * try_cast chain. */
  private def qEsJsonCoercion(s: SparkSession, dir: String): DataFrame = {
    val path = graft.accesslog.EsFixture.ensure()
    graft.accesslog.AccessLog.readEsJson(s, path)
      .select(col("elasticsearch_id").as("id"),
        col("elasticsearch_index").as("idx"),
        col("event_id"), col("access_log_flag"), col("is_accreditation"),
        col("gks_type"), col("result"), col("port"), col("ip"),
        col("nationality_id"), col("serial_number"), col("stadium_id"),
        col("transaction_id"),
        // string-rendered (both sides): this is the suite's only raw
        // DECIMAL column and the driver's typed-value hasher canonicalizes
        // engine decimals differently (r03: rows+schema matched, hash
        // didn't) — the same reason every float in the suite renders
        // through format_string. isNotNull guard: format_string(NULL)
        // prints the STRING "null" while the oracle's printf propagates
        // SQL NULL.
        when(col("passage_duration").isNotNull,
          format_string("%.2f", col("passage_duration").cast("double"))).as("passage_duration"),
        date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        date_format(col("transaction_time"), "yyyy-MM-dd HH:mm:ss").as("tt_s"))
      .orderBy("id")
  }

  /** S1/S2/P1-P3/T6 source parity for the reference's PRIMARY source
    * (Services/CSVService.cs:247-331): header-driven CSV with RFC-4180
    * quoting through the shared lenient-coercion battery and the
    * error-budget circuit breaker (the corrupt over-length line and the
    * missing-_id row are dropped on both sides). Oracle: DuckDB
    * read_csv over the same deterministic fixture with the identical
    * nullNorm + try_cast chain. */
  private def qCsvCoercion(s: SparkSession, dir: String): DataFrame = {
    val path = graft.accesslog.CsvFixture.ensure()
    graft.accesslog.AccessLog.readCsvWithErrorBudget(s, path)
      .select(col("elasticsearch_id").as("id"),
        col("elasticsearch_index").as("idx"),
        col("event_id"), col("access_log_flag"), col("is_accreditation"),
        col("gks_type"), col("result"), col("port"), col("ip"),
        col("nationality_id"), col("serial_number"), col("stadium_id"),
        col("transaction_id"),
        // string-rendered DECIMAL, same reason as es_json_coercion
        when(col("passage_duration").isNotNull,
          format_string("%.2f", col("passage_duration").cast("double"))).as("passage_duration"),
        date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        date_format(col("transaction_time"), "yyyy-MM-dd HH:mm:ss").as("tt_s"))
      .orderBy("id")
  }

  /** P3 centerpiece: the multi-format timestamp coercion battery (ISO,
    * space-separated, epoch-seconds, garbage) — strings synthesized
    * deterministically from events.ts, coerced back leniently. */
  private def qTsCoercion(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "events").withColumn("ts", col("ts").cast("timestamp"))
    val m = pmod(col("event_id"), lit(4))
    val str = when(m === 0, date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
      .when(m === 1, date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .when(m === 2, unix_timestamp(col("ts")).cast("string"))
      .otherwise(lit("not-a-date"))
    val epoch = expr("try_cast(s as bigint)")
    val parsed = coalesce(
      try_to_timestamp(col("s"), lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(col("s"), lit("yyyy-MM-dd HH:mm:ss")),
      when(epoch.isNotNull,
        when(epoch > 1000000000000L, timestamp_millis(epoch))
          .otherwise(timestamp_seconds(epoch))))
    // sort FIRST on the scan columns, parse ABOVE the sort: a global
    // orderBy range-samples its child, so an expensive projection under
    // it evaluates twice (measured: 1.65s with the battery under the
    // sort, 0.86 above it). Catalyst keeps projections above Sort, and
    // rows/order are unchanged — the battery just runs once.
    e.select(col("event_id"), col("ts")).orderBy("event_id")
      .select(col("event_id"), str.as("s"))
      .select(col("event_id"), col("s"),
        date_format(parsed, "yyyy-MM-dd HH:mm:ss").as("parsed"))
  }

  /** Broadcast-join analytics (TPC-H Q3 shape): top revenue orders for
    * one segment — dimension broadcast, fact-side aggregation. */
  private def qQ3Topk(s: SparkSession, dir: String): DataFrame = {
    val cust = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val orders = tbl(s, dir, "orders")
    val li = tbl(s, dir, "lineitem")
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey")
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("rev").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), format_string("%.4f", col("rev")).as("revenue"),
        col("n_lines"))
  }

  /** MinHash+LSH near-dup detection with exact verification on the
    * candidate set — oracle is the exact-Jaccard SQL at the same
    * threshold. Banding derives from the threshold (Dedup.lshPlan:
    * >=0.99 candidate recall at J >= t+0.25 — the (16,4) plan's actual
    * recall there is ~0.9977); this corpus's near-dup pairs are all
    * >0.9 where the 16x4 banding's miss probability is ~1e-18, so
    * oracle equality is robust, and every emitted pair is verified
    * exactly regardless. */
  private def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(tbl(s, dir, "documents"), col("doc_id"), col("text"), 0.5)
      .select(col("id_a"), col("id_b"),
        format_string("%.9f", col("jaccard")).as("jaccard"))
      .orderBy("id_a", "id_b")

  /** Near-dup clustering: MinHash+LSH pairs -> connected components ->
    * one row per clustered doc with its canonical (min) doc_id and the
    * cluster size. Oracle: recursive min-label walk over the exact
    * Jaccard pair graph at the same threshold. */
  private def qDedupCluster(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClusters(tbl(s, dir, "documents"), col("doc_id"), col("text"), 0.5)
      .orderBy("doc_id")

  /** Embedding-cosine near-dup pairs at cos >= 0.4 — the exactness
    * anchor (DuckDB computes the identical fold, bit-equal); the scale
    * path is the LSH-blocked Dedup.embedNearDupsLsh, recall-spec'd in
    * DedupSpec. */
  private def qEmbedCosine(s: SparkSession, dir: String): DataFrame =
    Dedup.embedNearDups(tbl(s, dir, "embeddings"), 0.4)
      .select(col("id_a"), col("id_b"),
        format_string("%.4f", col("cos")).as("cos"))
      .orderBy("id_a", "id_b")

  /** Batch query-vector search: exact cosine top-10 per query vector
    * via the bounded per-key top-k aggregation (no per-query window). */
  val SimQueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)
  private def qSimBatch(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopKBatch(tbl(s, dir, "embeddings"), SimQueryIds, 10)
      .select(col("qid"), col("rank"), col("vec_id"), col("label"),
        format_string("%.4f", col("cos")).as("cos"))
      .orderBy("qid", "rank")

  /** SimHash signatures (64-bit, FNV-1a bit votes), %016x-rendered.
    * Candidate pairing is tested in DedupSpec; the signature VALUES are
    * pinned by an exact DuckDB oracle (FNV-1a re-derived in SQL —
    * OracleSql.ddSimhash), so the rendering and row order here are
    * load-bearing. */
  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashDf(tbl(s, dir, "documents"), col("doc_id"), col("text"))
      .select(col("doc_id"), format_string("%016x", col("simhash")).as("simhash"))
      .orderBy("doc_id")

  /** Multimodal plumbing: binary media column + typed metadata, batch
    * feature extraction (stubbed decode — see Multimodal.decodeStub). */
  private def qMmFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthesize(tbl(s, dir, "documents"), col("doc_id"), col("text"))
    Multimodal.features(media).toDF()
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("n_bytes"), format_string("%.9f", col("mean_byte")).as("mean_byte"))
      .orderBy("doc_id")
  }

  /** Text quality scoring: length / punctuation / stopword-ratio
    * features. */
  private def qTxtQuality(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val ws = split(trim(col("text")), "\\s+")
    val nws = size(ws).cast("long")
    // native count-in-set: the HOF filter ran an interpreted lambda per
    // token (equality property-tested in TokenizerSpec)
    val stops = CodeTokenizer.countInSet(ws, CodeTokenizer.Stopwords)
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long")
    // sort first, project above: see q_ts_coercion (orderBy samples its
    // child, doubling any expression battery under it)
    d.select(col("doc_id"), col("text")).orderBy("doc_id")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nws.as("n_ws_tokens"),
        punct.as("n_punct"),
        format_string("%.9f", stops.cast("double") / nws).as("stop_ratio"),
        format_string("%.9f", length(col("text")).cast("double") / nws).as("chars_per_token"))
  }

  /** Token counting: whitespace tokens + BPE-ish regex pieces. */
  private def qTxtTokens(s: SparkSession, dir: String): DataFrame =
    // sort first, tokenize above (see q_ts_coercion)
    tbl(s, dir, "documents").select(col("doc_id"), col("text")).orderBy("doc_id")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws"),
        size(regexp_extract_all(col("text"),
          lit("[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).cast("long").as("n_bpe"),
        size(CodeTokenizer.tokensColFast(col("text"))).cast("long").as("n_analyzed"))

  /** Repetition scoring (Gopher-style quality filter): duplicate-word
    * and duplicate-bigram ratios per document — high values flag
    * boilerplate/spam for training-data filtering. Pure column
    * expressions; one narrow scan. */
  private def qTxtRepetition(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val ws = split(lower(trim(col("text"))), "\\s+")
    val nw = size(ws).cast("long")
    val ndw = size(array_distinct(ws)).cast("long")
    val bi = Dedup.shinglesColN(ws, 2)
    val nb = size(bi).cast("long")
    val ndb = size(array_distinct(bi)).cast("long")
    // %.9f like every other small-int-ratio query: higher precisions
    // (15 digits) hit Java-vs-DuckDB float-PRINTING divergence at the
    // last digit; 9 digits is the proven band. Residual constraint
    // (shared with txt_quality's ratios): a doc whose word count is an
    // exact power of two >= 2^10 could tie at digit 10 — absent from
    // the synthetic corpora and bounded by the corpus generator.
    // isNotNull guard: format_string(NULL) prints the STRING "null"
    // while the oracle's printf propagates SQL NULL.
    // sort first, project above (see q_ts_coercion)
    d.select(col("doc_id"), col("text")).orderBy("doc_id")
      .select(col("doc_id"),
        nw.as("n_words"),
        ndw.as("n_distinct_words"),
        when(nw.isNotNull,
          format_string("%.9f", lit(1.0) - ndw.cast("double") / nw)).as("dup_word_ratio"),
        when(nb > 0, format_string("%.9f", lit(1.0) - ndb.cast("double") / nb))
          .as("dup_bigram_ratio"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text
    * (deterministic near-dup prefilter). */
  private def qTxtFingerprint(s: SparkSession, dir: String): DataFrame =
    // sort first, project above (see q_ts_coercion)
    tbl(s, dir, "documents").select(col("doc_id"), col("text")).orderBy("doc_id")
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))

  /** Language-ID heuristic: marker-word hit counts, fixed priority
    * argmax (en > es > de > fr), 'und' when nothing matches. */
  private def qTxtLangid(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val ws = split(lower(trim(col("text"))), "\\s+")
    // native count-in-set per marker family (formerly an interpreted
    // per-token lambda per family — 4x the corpus token stream through
    // interpreted eval)
    def hits(markers: Seq[String]) = CodeTokenizer.countInSet(ws, markers)
    val en = hits(LangMarkers("en")); val es = hits(LangMarkers("es"))
    val de = hits(LangMarkers("de")); val fr = hits(LangMarkers("fr"))
    val best = greatest(en, es, de, fr)
    // sort first, project above (see q_ts_coercion)
    d.select(col("doc_id"), col("lang"), col("text")).orderBy("doc_id")
      .select(col("doc_id"), col("lang"),
        when(best === 0, lit("und"))
          .when(en === best, lit("en"))
          .when(es === best, lit("es"))
          .when(de === best, lit("de"))
          .otherwise(lit("fr")).as("pred_lang"),
        en.as("h_en"), es.as("h_es"), de.as("h_de"), fr.as("h_fr"))
  }

  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "is", "and", "of", "a"),
    "es" -> Seq("el", "la", "los", "de", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "est", "une"))

  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"              -> (q1Agg _),
    "q_count_lineitem"    -> (qCount _),
    "q_topk_events"       -> (qTopkEvents _),
    "q_dedup_latest"      -> (qDedupLatest _),
    "q_antijoin"          -> (qAntiJoin _),
    "q_validation_counts" -> (qValidationCounts _),
    "q_warnings_top"      -> (qWarningsTop _),
    "q_json_coercion"     -> (qJsonCoercion _),
    "es_json_coercion"    -> (qEsJsonCoercion _),
    "csv_coercion"        -> (qCsvCoercion _),
    "q_sample_head"       -> (qSampleHead _),
    "ft_postings"         -> (qFtPostings _),
    "ft_doclen"           -> (qFtDoclen _),
    "ft_stats"            -> (qFtStats _),
    "ft_df"               -> (qFtDf _),
    "ft_bm25_topk"        -> (qFtBm25 _),
    "ft_bm25_conj"        -> (qFtBm25Conj _),
    "ft_phrase"           -> (qFtPhrase _),
    "ft_phrase_slop"      -> (qFtPhraseSlop _),
    "ft_wand_topk"        -> (qFtWand _),
    "ft_bool_topk"        -> (qFtBool _),
    "ft_prefix_topk"      -> (qFtPrefix _),
    "ft_fuzzy_topk"       -> (qFtFuzzy _),
    "ft_mlt_topk"         -> (qFtMlt _),
    "ft_terms_agg"        -> (qFtTermsAgg _),
    "ft_highlight"        -> (qFtHighlight _),
    "ft_range_topk"       -> (qFtRange _),
    "ft_phrase_prefix"    -> (qFtPhrasePrefix _),
    "ft_wildcard_topk"    -> (qFtWildcard _),
    "ft_search_after"     -> (qFtSearchAfter _),
    "ft_stats_agg"        -> (qFtStatsAgg _),
    "ft_multi_match"      -> (qFtMultiMatch _),
    "ft_histogram_agg"    -> (qFtHistogramAgg _),
    "ft_cardinality_agg"  -> (qFtCardinalityAgg _),
    "ft_sort_topk"        -> (qFtSortTopk _),
    "ft_date_histogram"   -> (qFtDateHistogram _),
    "ft_terms_stats"      -> (qFtTermsStats _),
    "ft_percentiles_agg"  -> (qFtPercentiles _),
    "ft_sig_terms"        -> (qFtSigTerms _),
    "ft_dismax_topk"      -> (qFtDisMax _),
    "ft_boosting"         -> (qFtBoosting _),
    "ft_constant_score"   -> (qFtConstantScore _),
    "ft_regexp_topk"      -> (qFtRegexp _),
    "ft_range_agg"        -> (qFtRangeAgg _),
    "ft_top_hits"         -> (qFtTopHits _),
    "ft_extended_stats"   -> (qFtExtendedStats _),
    "ft_explain"          -> (qFtExplain _),
    "ft_query_string"     -> (qFtQueryString _),
    "ft_composite_agg"    -> (qFtCompositeAgg _),
    "ft_filters_agg"      -> (qFtFiltersAgg _),
    "ft_rescore"          -> (qFtRescore _),
    "ft_suggest"          -> (qFtSuggest _),
    "ft_boosted_fields"   -> (qFtBoostedFields _),
    "ft_has_child"        -> (qFtHasChild _),
    "ft_function_score"   -> (qFtFunctionScore _),
    "ft_pipeline_agg"     -> (qFtPipelineAgg _),
    "ing_docmap"          -> (qIngDocmap _),
    "code_docmap"         -> (qCodeDocmap _),
    "code_ft_topk"        -> (qCodeFtTopk _),
    "code_wand_topk"      -> (qCodeWand _),
    "q_ts_coercion"       -> (qTsCoercion _),
    "q3_topk"             -> (qQ3Topk _),
    "q_window_running"    -> (qWindowRunning _),
    "q_rollup"            -> (qRollup _),
    "q_distinct"          -> (qDistinct _),
    "q_set_ops"           -> (qSetOps _),
    "q_approx_distinct"   -> (qApproxDistinct _),
    "q_sessionize"        -> (qSessionize _),
    "sim_ivf_topk"        -> (qIvfTopk _),
    "dd_exact"            -> (qDedupExact _),
    "dd_ngram_jaccard"    -> (qNgramJaccard _),
    "dd_minhash_lsh"      -> (qMinhashLsh _),
    "dd_cluster"          -> (qDedupCluster _),
    "dd_simhash"          -> (qSimhash _),
    "dd_embed_cosine"     -> (qEmbedCosine _),
    "sim_cosine_topk"     -> (qCosineTopk _),
    "sim_batch_topk"      -> (qSimBatch _),
    "sim_ann_topk"        -> (qAnnTopk _),
    "mm_features"         -> (qMmFeatures _),
    "txt_quality"         -> (qTxtQuality _),
    "txt_repetition"      -> (qTxtRepetition _),
    "txt_tokens"          -> (qTxtTokens _),
    "txt_fingerprint"     -> (qTxtFingerprint _),
    "txt_langid"          -> (qTxtLangid _)
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
