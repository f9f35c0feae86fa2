package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.analyze.CodeTokenizer
import graft.config.EngineConfig
import graft.index.Postings

/** The rest of the ES query DSL the reference's NEST client can issue
  * against its index (ElasticSearchPostgreSQLMigrationTool.csproj:32 —
  * NEST exposes the full query DSL, so a migration-tool user has bool /
  * prefix / fuzzy / more_like_this available today): re-expressed
  * Spark-first over the same postings pipeline and the same exact WAND
  * serving path as match/match_phrase.
  *
  * Rank-identity discipline is inherited from [[BM25]]: every scoring
  * path here is composed from the shared steps — [[BM25.weigh]] (or its
  * corpus preamble [[BM25.matchPipeline]]), [[BM25.foldAscending]],
  * [[BM25.phraseSpans]] and [[Wand.expandCapped]] — and writes none of
  * them itself, so engine and DuckDB oracle produce bit-equal doubles.
  * Where a clause does not score (bool filter/must_not), the oracle adds
  * +0.0 in place of the skipped weight — adding 0.0 to a finite double
  * is exact, so the two fold shapes stay bit-equal.
  */
object QueryDsl {

  /** One ES bool query. Role semantics (ES bool query, public docs):
    * must and should clauses SCORE; filter clauses are required but
    * contribute no score; must_not excludes. minimum_should_match
    * defaults to 1 when there are no must/filter clauses, else 0; an
    * explicit `minimumShouldMatch` overrides the default (the ES knob —
    * a doc then needs >= that many distinct should terms REGARDLESS of
    * must/filter presence; a value above the should-term count matches
    * nothing, exactly as in ES).
    * Each clause string is analyzed with the standard query analyzer
    * (so "sparkFast" in must requires BOTH terms — ES match with
    * operator=and); after analysis the four role term-sets must be
    * disjoint within one query (a term in two roles would make the
    * score fold ambiguous — fail loud instead).
    *
    * Documented deviation (ADVICE r05): a bool query with ONLY must_not
    * clauses returns empty, where ES matches all non-excluded docs —
    * candidates here come from the postings join, and a postings-driven
    * candidate model cannot express match-all. Add a should/filter
    * clause to anchor the candidate set. */
  final case class BoolQuery(qid: Int, must: Seq[String] = Nil,
                             should: Seq[String] = Nil,
                             filter: Seq[String] = Nil,
                             mustNot: Seq[String] = Nil,
                             minimumShouldMatch: Option[Int] = None) {
    def analyzed: Seq[(String, String)] = {
      def terms(ss: Seq[String]) = ss.flatMap(CodeTokenizer.queryTerms).distinct
      val roled = terms(must).map(_ -> "must") ++ terms(should).map(_ -> "should") ++
        terms(filter).map(_ -> "filter") ++ terms(mustNot).map(_ -> "must_not")
      require(roled.map(_._1).distinct.size == roled.size,
        s"bool query $qid: a term appears in more than one role: $roled")
      roled
    }
    def nMust: Int = must.flatMap(CodeTokenizer.queryTerms).distinct.size
    def nFilter: Int = filter.flatMap(CodeTokenizer.queryTerms).distinct.size
    /** Effective minimum_should_match: explicit, else the ES default. */
    def msm: Int = minimumShouldMatch.getOrElse(
      if (nMust + nFilter > 0) 0 else 1)
  }

  /** ES fuzziness AUTO (public docs; `Fuzziness.asDistance` counts code
    * points): exact for length <= 2, one edit for 3..5, two edits
    * above. */
  def autoFuzziness(term: String): Int = {
    val len = term.codePointCount(0, term.length)
    if (len <= 2) 0 else if (len <= 5) 1 else 2
  }

  /** Default expansion cap for prefix/fuzzy (Lucene's
    * max_expansions default is 50). */
  val MaxExpansions = 50

  /** ES more_like_this defaults (public docs): a source-doc term is a
    * query-term candidate only if it occurs >= MltMinTf times in the
    * doc and in >= MltMinDf docs corpus-wide; the MltMaxTerms highest
    * tf*idf terms form the final disjunction. */
  val MltMinTf = 2
  val MltMinDf = 5
  val MltMaxTerms = 25

  /** Bool top-k over the corpus — one postings pass, one aggregation:
    * the broadcast (qid, term, role) table joins the postings, a single
    * groupBy(qid, doc) computes the score fold (must+should weights,
    * ascending term order) AND the per-role match counters the
    * candidate decision needs. No per-role job chain, no self-joins —
    * the role algebra rides the aggregate, so at 100 TB a bool query
    * costs exactly what a match query costs: one pruned postings join +
    * one shuffle.
    *
    * Output contract identical to [[BM25.topK]] (qid, rank, doc_id,
    * score; ties doc_id-asc). */
  def boolTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
               queries: Seq[BoolQuery],
               cfg: EngineConfig = EngineConfig.default): DataFrame = {
    val q = queries.flatMap { bq =>
      bq.analyzed.map { case (t, role) => (bq.qid, t, role, bq.nMust, bq.nFilter, bq.msm) }
    }
    BM25.rankTopK(boolScored(docs, idCol, contentCol, q, cfg), cfg.topK)
  }

  /** The bool role algebra WITHOUT the final ranking, over the corpus
    * postings: one bounded stats job ([[BM25.statsAndDf]]), then role
    * rows (absent terms drop here, exactly like an inner join with the
    * full docFreq table) weighed onto the postings and ONE
    * groupBy(qid, doc) computing the score fold and the per-role match
    * counters the candidate decision needs. `roleRows` carries
    * (qid, term, role, n_must, n_filter, n_msm) — driver rows, so
    * callers (corpus query_string) can feed data-dependent rows such as
    * prefix expansions resolved from the term dictionary; df for
    * expansions resolved elsewhere can be supplied via `statsKnown` to
    * skip the stats job. The served twin of this algebra is
    * [[BM25.PosQuery]]. */
  private[query] def boolScored(docs: DataFrame, idCol: Column,
                                contentCol: Column,
                                roleRows: Seq[(Int, String, String, Int, Int, Int)],
                                cfg: EngineConfig,
                                statsKnown: Option[(Long, Double, Map[String, Long])] = None)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (n, avgdl, dfMap) = statsKnown.getOrElse(
      BM25.statsAndDf(docs, idCol, contentCol, roleRows.map(_._2).distinct))
    val q = roleRows.flatMap { case (qid, t, role, nm, nf, msm) =>
      dfMap.get(t).map(df => (qid, t, role, nm, nf, msm, df))
    }.toDF("qid", "term", "role", "n_must", "n_filter", "n_msm", "df")
    BM25.weigh(Postings.build(docs, idCol, contentCol), q, n, avgdl, cfg)
      .groupBy("qid", "doc_id")
      .agg(
        // collect_list drops the when()'s nulls: only must/should rows
        // enter the fold, ascending term order — the oracle's
        // CASE-zero form is bit-equal (+0.0 is exact)
        BM25.foldAscending(when(col("role").isin("must", "should"),
          struct(col("term"), col("w")))).as("score"),
        count(when(col("role") === "must", 1)).as("must_got"),
        count(when(col("role") === "filter", 1)).as("filter_got"),
        count(when(col("role") === "must_not", 1)).as("not_got"),
        count(when(col("role") === "should", 1)).as("should_got"),
        first(col("n_must")).as("n_must"),
        first(col("n_filter")).as("n_filter"),
        first(col("n_msm")).as("n_msm"))
      .filter(col("must_got") === col("n_must") &&
        col("filter_got") === col("n_filter") &&
        col("not_got") === 0 &&
        col("should_got") >= col("n_msm"))
      .select("qid", "doc_id", "score")
  }

  /** Prefix top-k served from the segment index: each query's prefix
    * (lowercased — ES prefix queries are not analyzed) expands to the
    * lexicographically-first `maxExpansions` matching index terms of
    * the handle's term dictionary ([[Wand.PrefixOf]] — a dictionary
    * walk, never posting payloads), and the expanded disjunction serves
    * through the SAME exact block-max WAND path as a match query (ES
    * rewrite=scoring_boolean: each expanded term scores with its own
    * df), expansion and scoring in ONE Spark job
    * ([[Wand.Handle.topKExpanded]]). An empty expansion yields zero hits
    * for that qid. */
  def prefixTopK(spark: SparkSession, indexDir: String,
                 queries: Seq[(Int, String)],
                 maxExpansions: Int = MaxExpansions,
                 cfg: EngineConfig = EngineConfig.default): DataFrame =
    Wand.handleFor(spark, indexDir, cfg).topKExpanded(
      queries.map { case (qid, p) => qid -> Wand.PrefixOf(p.trim.toLowerCase(java.util.Locale.ROOT)) },
      maxExpansions)

  /** Fuzzy top-k served from the segment index: the query term (single
    * term, lowercased — ES fuzzy queries are not analyzed) expands to
    * index terms within AUTO Levenshtein distance
    * ([[autoFuzziness]]; classic distance on both engine and oracle),
    * highest-df-first capped at `maxExpansions` ([[Wand.FuzzyOf]]),
    * served through exact WAND with each expansion's own df, expansion
    * and scoring in ONE Spark job ([[Wand.Handle.topKExpanded]]). */
  def fuzzyTopK(spark: SparkSession, indexDir: String,
                queries: Seq[(Int, String)],
                maxExpansions: Int = MaxExpansions,
                cfg: EngineConfig = EngineConfig.default): DataFrame =
    Wand.handleFor(spark, indexDir, cfg).topKExpanded(queries.map { case (qid, t0) =>
      val t = t0.trim.toLowerCase(java.util.Locale.ROOT)
      qid -> Wand.FuzzyOf(t, autoFuzziness(t))
    }, maxExpansions)

  /** Wildcard top-k served from the segment index: the pattern (`*` =
    * any sequence, `?` = one char; lowercased — ES wildcard queries are
    * not analyzed) expands against the cached term dictionary
    * ([[Wand.WildcardOf]], lexicographic-first `maxExpansions`) and the
    * expansion serves through the same exact block-max WAND as
    * match/prefix (rewrite=scoring_boolean: each term scores with its
    * own df), expansion and scoring in ONE Spark job
    * ([[Wand.Handle.topKExpanded]]). */
  def wildcardTopK(spark: SparkSession, indexDir: String,
                   queries: Seq[(Int, String)],
                   maxExpansions: Int = MaxExpansions,
                   cfg: EngineConfig = EngineConfig.default): DataFrame =
    Wand.handleFor(spark, indexDir, cfg).topKExpanded(
      queries.map { case (qid, p) => qid -> Wand.WildcardOf(p.trim.toLowerCase(java.util.Locale.ROOT)) },
      maxExpansions)

  /** ES search_after — deep pagination without deep sorting. The cursor
    * is the LAST hit of the previous page in the total order
    * (score desc, doc_id asc); the next page is the bounded top-k of
    * the scored set restricted to rows strictly AFTER the cursor. That
    * restriction is a broadcast of <= one (score, doc_id) pair per
    * query onto the distributed scored set, so EVERY page costs exactly
    * one bounded top-k aggregation — no global sort, no from+size
    * offset materialization (the thing ES forbids past 10k for the same
    * reason: page depth must not buy O(depth) memory). Queries without
    * a cursor entry yield no rows (a page-1 caller uses [[BM25.topK]]).
    * Scoring is bit-identical to page 1's pipeline (same term-ascending
    * fold), so cursor equality on the double score is exact. */
  def searchAfterTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                      queries: Seq[(Int, String)], cursors: Seq[(Int, Double, Long)],
                      cfg: EngineConfig = EngineConfig.default,
                      statsKnown: Option[(Long, Double, Map[String, Long])] = None)
      : DataFrame = {
    import spark.implicits._
    val weighted =
      BM25.matchPipeline(docs, idCol, contentCol, analyzedQueries(queries), cfg, statsKnown)
    val cur = cursors.toDF("qid", "c_score", "c_doc")
    val after = BM25.scored(weighted).join(broadcast(cur), "qid")
      .filter(col("score") < col("c_score") ||
        (col("score") === col("c_score") && col("doc_id") > col("c_doc")))
      .select("qid", "doc_id", "score")
    BM25.rankTopK(after, cfg.topK)
  }

  /** ES stats aggregation over a query's matching docs (match
    * semantics: >= 1 analyzed term): count/min/max/sum of `valueCol`
    * per query, avg derived as sum/count (both exactly-represented, so
    * the division is deterministic IEEE on engine and oracle alike).
    * One postings join + one distinct + one agg shuffle — the same
    * shape as [[termsAgg]] with a scalar reduce instead of buckets.
    *
    * Output: (qid, doc_count, min_v, max_v, sum_v, avg_v). */
  def statsAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
               queries: Seq[(Int, String)], valueCol: Column): DataFrame = {
    matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), valueCol.as("v"))
      .groupBy("qid").agg(
        count(lit(1)).as("doc_count"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(col("v")).as("sum_v"))
      .withColumn("avg_v", col("sum_v").cast("double") / col("doc_count"))
      .orderBy("qid")
  }

  /** ES multi_match, type=best_fields (the default): the query analyzes
    * once, every field scores independently with ITS OWN statistics
    * (per-field postings, df, avgdl — exactly how ES scores each field
    * as a separate sub-query), and a doc's combined score is the MAX
    * over its per-field scores (best_fields, tie_breaker=0). One
    * postings pass per field — same asymptotics as ES, which runs one
    * term query per (field, term) — then a single union + max
    * aggregation; no field count-dependent join chain. Per-field folds
    * are term-ascending (bit-equal to the oracle); max of finite
    * doubles is exact. */
  def multiMatchTopK(spark: SparkSession, docs: DataFrame, idCol: Column,
                     fields: Seq[Column], queries: Seq[(Int, String)],
                     cfg: EngineConfig = EngineConfig.default,
                     boosts: Seq[Double] = Nil): DataFrame = {
    require(fields.nonEmpty, "multi_match needs >= 1 field")
    require(boosts.isEmpty || boosts.size == fields.size,
      "multi_match boosts must pair with fields")
    val analyzed = analyzedQueries(queries)
    // ES field boosts (fields: ["text^2", ...]) multiply THAT field's
    // score before best_fields combines — one exact IEEE multiply per
    // field, identity when the boost is 1.0 (x * 1.0 == x)
    val bs = if (boosts.isEmpty) fields.map(_ => 1.0) else boosts
    // one stats job for ALL fields (statsAndDfMulti), then one postings
    // pass per field inside the single ranking action
    val stats = BM25.statsAndDfMulti(docs, idCol, fields,
      analyzed.flatMap(_._2).distinct)
    val perField = fields.zip(bs).zip(stats).map { case ((fcol, boost), st) =>
      BM25.scored(BM25.matchPipeline(docs, idCol, fcol, analyzed, cfg, Some(st)))
        .select(col("qid"), col("doc_id"), (col("score") * lit(boost)).as("score"))
    }
    val best = perField.reduce(_ unionByName _)
      .groupBy("qid", "doc_id").agg(max(col("score")).as("score"))
    BM25.rankTopK(best, cfg.topK)
  }

  /** ES histogram aggregation over a query's matching docs (match
    * semantics: >= 1 analyzed term): fixed-interval buckets of
    * `valueCol` with the ES default min_doc_count=0 gap fill — every
    * bucket between a query's min and max occupied key materializes,
    * empty ones at doc_count 0 (the histogram contract that makes ES
    * charts contiguous). Bucketing is one join + one agg shuffle; the
    * gap fill is a per-query sequence explode over the [min, max] key
    * span (bounded by the VALUE RANGE / interval, independent of corpus
    * size) joined back against the occupied buckets.
    *
    * Output: (qid, key, doc_count) ordered qid, key asc (the ES
    * histogram order). */
  def histogramAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                   queries: Seq[(Int, String)], valueCol: Column,
                   interval: Long): DataFrame = {
    require(interval > 0, s"histogram interval must be > 0, got $interval")
    // ES floor-bucketing via exact integer arithmetic (v - pmod(v, i)
    // == floor(v/i)*i for all signed v) — no double division anywhere,
    // so bucket keys are exact at any magnitude
    val occupied = matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"),
        (valueCol.cast("long") - pmod(valueCol.cast("long"), lit(interval))).as("key"))
      .groupBy("qid", "key").agg(count(lit(1)).as("doc_count"))
    // gap fill: [min, max] per qid is a driver-free bounded sequence
    // (span/interval keys) — ES's min_doc_count=0 default
    val span = occupied.groupBy("qid")
      .agg(min(col("key")).as("lo"), max(col("key")).as("hi"))
      .select(col("qid"),
        explode(sequence(col("lo"), col("hi"), lit(interval))).as("key"))
    span.join(occupied, Seq("qid", "key"), "left")
      .select(col("qid"), col("key"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"))
      .orderBy("qid", "key")
  }

  /** ES date_histogram aggregation (calendar_interval=day, the
    * dashboard staple) over a query's matching docs: per-day doc
    * counts with the ES min_doc_count=0 gap fill — every calendar day
    * between a query's first and last occupied day materializes (the
    * contract that makes Kibana time charts contiguous). Same shape as
    * [[histogramAgg]] with date_trunc keys and a day-step sequence for
    * the gap fill (bounded by the TIME SPAN, independent of corpus
    * size). Output: (qid, day 'yyyy-MM-dd', doc_count) ordered qid,
    * day. */
  def dateHistogramAgg(spark: SparkSession, docs: DataFrame, idCol: Column,
                       contentCol: Column, queries: Seq[(Int, String)],
                       tsCol: Column): DataFrame = {
    val occupied = matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), to_date(tsCol).as("key"))
      .groupBy("qid", "key").agg(count(lit(1)).as("doc_count"))
    val span = occupied.groupBy("qid")
      .agg(min(col("key")).as("lo"), max(col("key")).as("hi"))
      .select(col("qid"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("key"))
    span.join(occupied, Seq("qid", "key"), "left")
      .select(col("qid"), date_format(col("key"), "yyyy-MM-dd").as("day"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"))
      .orderBy("qid", "day")
  }

  /** ES cardinality aggregation over a query's matching docs: distinct
    * count of `fieldCol`. Documented deviation: ES's cardinality is
    * HLL++-approximate by design (threshold-exact below
    * precision_threshold, default 3000 — at which scale it equals this
    * exact count); this operator is EXACT (one distinct-agg shuffle,
    * oracle-provable), and the sketch path for corpus-scale cardinality
    * is approx_count_distinct, already spec'd with error bounds
    * (`q_approx_distinct`). Output: (qid, cardinality). */
  def cardinalityAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                     queries: Seq[(Int, String)], fieldCol: Column): DataFrame =
    matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), fieldCol.as("v"))
      .groupBy("qid").agg(countDistinct(col("v")).as("cardinality"))
      .orderBy("qid")

  /** ES sort clause (sort: [{field: desc}, {_id: asc}]) over a query's
    * matching docs — hits ranked by a FIELD, not by score (ES skips
    * scoring entirely when track_scores=false; so does this: no BM25
    * arithmetic anywhere in the plan). The ranking is the same bounded
    * per-query top-k aggregation as scored search (k rows per partition
    * on the shuffle — never a global sort), with the sort key standing
    * where the score stands; ES's total order (field desc, _id asc for
    * deterministic ties) maps to (key desc, doc_id asc).
    *
    * Output: (qid, rank, doc_id, sort_v) — sort_v the doc's field
    * value, echoed like ES's `sort` array on each hit. */
  def sortTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
               queries: Seq[(Int, String)], sortCol: Column,
               cfg: EngineConfig = EngineConfig.default): DataFrame = {
    // the top-k aggregator keys on a double; integral sort fields stay
    // exact through the round-trip only below 2^53 — fail loud beyond
    // (a lossy sort key would silently misrank). The guard applies to
    // MATCHED docs only, after dropping null sort values (ES
    // missing-value docs sort outside the ranked set): the former shape
    // evaluated it on every doc pre-join, so a null or overflowing
    // value in a non-matching doc aborted the query (ADVICE r05).
    val keyed = matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), col("doc_id"), sortCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .select(col("qid"), col("doc_id"),
        when(abs(col("v")) < lit(1L << 53), col("v").cast("double"))
          .otherwise(raise_error(format_string(
            "sortTopK: |sort value| >= 2^53 cannot round-trip a double exactly: %d",
            col("v")))).as("score"))
    BM25.rankTopK(keyed, cfg.topK)
      .select(col("qid"), col("rank"), col("doc_id"),
        col("score").cast("long").as("sort_v"))
  }

  /** Match top-k restricted by a structured predicate — the ES
    * bool-with-range/term-filter-context staple ("search within
    * lang + size window"). Filter context NEVER changes scores (ES
    * computes BM25 from index-wide stats regardless of filters), so
    * scoring is [[BM25.topK]]'s pipeline verbatim with the candidate
    * postings semi-joined against the docs passing the predicate
    * before aggregation. The predicate side is a column-pruned,
    * filter-pushed scan of the docs table (the parquet reader sees
    * lang/n_chars constraints); ES's equivalent is a corpus-sized
    * filter bitset — same asymptotics, declaratively. */
  def filteredTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                   queries: Seq[(Int, String)], predicate: Column,
                   cfg: EngineConfig = EngineConfig.default): DataFrame = {
    val weighted = BM25.matchPipeline(docs, idCol, contentCol, analyzedQueries(queries), cfg)
    // filter context never changes scores (BM25 stays corpus-wide), so
    // the predicate restricts candidates with a semi-join of the
    // column-pruned, filter-pushed docs scan onto the weighted rows
    val allowed = docs.filter(predicate).select(idCol.as("doc_id"))
    BM25.scoreAndRank(weighted.join(allowed, Seq("doc_id"), "left_semi"), cfg.topK)
  }

  /** ES terms aggregation (facets) over a query's matching docs: every
    * doc matching >= 1 analyzed term (match semantics) buckets by
    * `bucketCol`; the top `size` buckets per query rank by (count desc,
    * key asc) — ES's terms-agg default order with its deterministic
    * tie-break. One postings join + one distinct + one count shuffle;
    * the ranking window partitions per qid over at most the faceted
    * field's cardinality (a facet field is low-cardinality by design —
    * ES's own terms agg degrades the same way on high-cardinality
    * fields).
    *
    * Output: (qid, rank, bucket, cnt). */
  def termsAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
               queries: Seq[(Int, String)], bucketCol: Column,
               size: Int = 10): DataFrame = {
    val bucketed = matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), bucketCol.as("bucket"))
      .groupBy("qid", "bucket").agg(count(lit(1)).as("cnt"))
    bucketed
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cnt").desc, col("bucket"))).cast("long"))
      .filter(col("rank") <= size)
      .select("qid", "rank", "bucket", "cnt")
      .orderBy("qid", "rank")
  }

  /** ES sub-aggregation tree — terms bucket with nested metrics (the
    * "group by category, metrics per group" shape that defines ES
    * analytics: `terms { field } aggs { avg, sum, min, max }`). The
    * nested metrics ride the SAME groupBy that counts the bucket —
    * an aggregation tree is one shuffle regardless of metric count,
    * never a job per sub-agg. Buckets rank (count desc, key asc), top
    * `size`; avg derives as sum/count (exact operands, deterministic
    * IEEE division — the stats-agg discipline).
    *
    * Output: (qid, rank, bucket, cnt, sum_v, avg_v). */
  def termsStatsAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                    queries: Seq[(Int, String)], bucketCol: Column, valueCol: Column,
                    size: Int = 10): DataFrame = {
    val bucketed = matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), bucketCol.as("bucket"), valueCol.as("v"))
      .groupBy("qid", "bucket")
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"))
    bucketed
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cnt").desc, col("bucket"))).cast("long"))
      .filter(col("rank") <= size)
      .withColumn("avg_v", col("sum_v").cast("double") / col("cnt"))
      .select("qid", "rank", "bucket", "cnt", "sum_v", "avg_v")
      .orderBy("qid", "rank")
  }

  /** ES percentiles aggregation over a query's matching docs — EXACT
    * formulation (documented deviation: ES uses t-digest approximation
    * by design; this is the linear-interpolation exact quantile — the
    * R-7/type-7 estimator both Spark's `percentile` and DuckDB's
    * `quantile_cont` implement, so the oracle is bit-comparable).
    * Quarter percentiles keep the interpolation fraction dyadic
    * ((n-1)*p mod 1 ∈ {0, .25, .5, .75}), so interpolated values are
    * exactly representable and render stably. The exact percentile
    * sorts WITHIN each (qid) group's value multiset — bounded by the
    * matching set; the corpus-scale approximate path is
    * approx_percentile, same plan shape.
    *
    * Output: (qid, p25, p50, p75). */
  def percentilesAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                     queries: Seq[(Int, String)], valueCol: Column): DataFrame = {
    matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), valueCol.as("v"))
      .groupBy("qid")
      .agg(expr("percentile(v, array(0.25D, 0.5D, 0.75D))").as("ps"))
      .select(col("qid"), col("ps").getItem(0).as("p25"),
        col("ps").getItem(1).as("p50"), col("ps").getItem(2).as("p75"))
      .orderBy("qid")
  }

  /** ES significant_terms aggregation (default-ish contract): buckets
    * of `bucketCol` whose share of the query's MATCHING set (foreground)
    * exceeds their share of the whole corpus (background), scored with
    * the ES JLH heuristic: (fgPct - bgPct) * (fgPct / bgPct) — rewards
    * both absolute lift and relative lift. Foreground counts, the
    * per-query foreground size, and the (tiny) background histogram
    * ride three bounded aggregations; the score arithmetic is the same
    * IEEE expression on engine and oracle (ratios of small ints,
    * rendered %.9f). Buckets with fgPct <= bgPct are not significant
    * (ES drops them); rank score desc, bucket asc, top `size`.
    *
    * Output: (qid, rank, bucket, fg_count, score). */
  def significantTermsAgg(spark: SparkSession, docs: DataFrame, idCol: Column,
                          contentCol: Column, queries: Seq[(Int, String)],
                          bucketCol: Column, size: Int = 10): DataFrame = {
    import spark.implicits._
    // background histogram: ONE tiny collect (bounded by the bucket
    // field's cardinality) that also yields the corpus size as the sum
    // of its counts — the former shape ran a separate full-corpus
    // docs.count() action for bgSize (VERDICT r05 "what's wrong" #2)
    val bgAgg = docs.select(bucketCol.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("bg_count"))
    val bgRows = bgAgg.collect()
    val bgSize = bgRows.map(_.getLong(1)).sum
    // null-bucket rows never join (they only contribute to bgSize, like
    // the former full-corpus count did)
    val bg = spark.createDataFrame(
      java.util.Arrays.asList(bgRows.filter(!_.isNullAt(0)): _*), bgAgg.schema)
    val fg = matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), bucketCol.as("bucket"))
      .groupBy("qid", "bucket").agg(count(lit(1)).as("fg_count"))
    // fg_size = the query's matched-doc count = the sum of its bucket
    // counts (every matched doc lands in exactly one bucket group, null
    // included) — a window over the tiny bucketed set, not a second
    // corpus aggregation
    val scored = fg
      .withColumn("fg_size",
        sum(col("fg_count")).over(Window.partitionBy("qid")))
      .join(broadcast(bg), "bucket")
      .withColumn("fgp", col("fg_count").cast("double") / col("fg_size"))
      .withColumn("bgp", col("bg_count").cast("double") / lit(bgSize.toDouble))
      .filter(col("fgp") > col("bgp"))
      .withColumn("score", (col("fgp") - col("bgp")) * (col("fgp") / col("bgp")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("bucket"))).cast("long"))
      .filter(col("rank") <= size)
      .select("qid", "rank", "bucket", "fg_count", "score")
      .orderBy("qid", "rank")
  }

  /** Token-level highlight window around the first match (ES
    * highlighter analogue: the plain highlighter re-analyzes the stored
    * text; fragments center on matches with matched terms wrapped in
    * <em></em>). This token-level contract is exactly mirrorable in the
    * oracle: fragment = analyzed tokens [first_match - context ..
    * first_match + context], matched tokens wrapped, space-joined.
    * Runs only over the query's top-k docs (<= queries x k rows), so
    * the interpreted higher-order lambdas cost nothing at any corpus
    * scale — the corpus-sized work stays in the ranking pass. */
  val HighlightContext = 3

  /** Top-k BM25 with highlights: (qid, rank, doc_id, score, snippet).
    * Ranking is [[BM25.topK]] verbatim, collected — <= queries x k hit
    * rows, the search_after cursor discipline. The snippet pass then
    * re-reads and re-analyzes ONLY the winning docs: the hit ids push
    * into the docs scan as an In() filter (a true point read, exactly
    * ES's fetch phase reading stored fields for the hit page). The
    * former shape tokenized the WHOLE corpus on the snippet side (and
    * with the interpreted higher-order tokenizer at that) just to join
    * away all but k docs per query — at sf0.1 that one join side was
    * 6 of ft_highlight's 7.8 canonical seconds, and at 100 TB it is a
    * full second corpus pass (guide §1.2 step 1, §6 pushdown). Snippet
    * analysis uses tokensColFast — property-tested equal to the regex
    * form, so fragments are unchanged. */
  def highlightTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                    queries: Seq[(Int, String)],
                    cfg: EngineConfig = EngineConfig.default): DataFrame = {
    import spark.implicits._
    val hitRows = BM25.topK(spark, docs, idCol, contentCol, queries, cfg).collect()
    val hits = hitRows.map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      .toDF("qid", "rank", "doc_id", "score")
    val ids = hitRows.map(_.getLong(2)).distinct.toSeq
    val qt = queries.map { case (qid, t) =>
      (qid, CodeTokenizer.queryTerms(t))
    }.toDF("qid", "qterms")
    val src = docs.filter(idCol.isInCollection(ids))
      .select(idCol.as("doc_id"),
        CodeTokenizer.tokensColFast(contentCol).as("tokens"))
    val ctx = HighlightContext
    val withTok = src.join(broadcast(hits.join(broadcast(qt), "qid")), "doc_id")
    // 1-based index of the first matched token; guaranteed non-null for
    // a BM25 hit (the doc matched at least one query term)
    val firstIdx = array_min(filter(
      zip_with(col("tokens"), sequence(lit(1), size(col("tokens"))),
        (t, i) => when(array_contains(col("qterms"), t), i)),
      x => x.isNotNull))
    withTok
      .withColumn("fi", firstIdx)
      .withColumn("frag",
        slice(col("tokens"), greatest(col("fi") - ctx, lit(1)),
          // window end = fi + ctx inclusive; length adjusts when the
          // start clamps at 1
          col("fi") + ctx - greatest(col("fi") - ctx, lit(1)) + 1))
      .withColumn("snippet",
        array_join(transform(col("frag"), t =>
          when(array_contains(col("qterms"), t),
            concat(lit("<em>"), t, lit("</em>"))).otherwise(t)), " "))
      .select(col("qid"), col("rank"), col("doc_id"), col("score"), col("snippet"))
      .orderBy("qid", "rank")
  }

  /** ES match_phrase_prefix (the autocomplete staple) served from the
    * positional index: the query's last analyzed token is a PREFIX seed
    * expanded against the index term dictionary (lexicographic-first
    * `maxExpansions`, exactly [[prefixTopK]]'s expansion — ES caps the
    * same way), the leading tokens match exactly, and a doc qualifies
    * iff the exact tokens are consecutive and ANY expansion follows at
    * the next position (slop relaxes to ordered proximity, same
    * contract as match_phrase). Two Spark jobs, no Catalyst query, no
    * file read: the WAND handle's dictionary walk expands every query's
    * prefix, then the positional handle serves one [[BM25.PosQuery]] per
    * query ([[BM25.PhraseHandle.serve]]) — the exact leading terms
    * required, and one phrase whose last offset holds the expansions,
    * their positions merged per doc into the one list
    * [[OrderedSpanMatchExpr]] reads per offset.
    *
    * Scoring contract (documented deviation): qualifying docs score
    * BM25 over the EXACT leading terms only — deterministic and
    * oracle-mirrorable, where ES blends the expansion set's dfs.
    * Requires >= 2 analyzed tokens (a one-token prefix query IS
    * [[prefixTopK]] — fail loud rather than silently rescore). */
  def phrasePrefixTopK(spark: SparkSession, indexDir: String,
                       queries: Seq[(Int, String)],
                       maxExpansions: Int = MaxExpansions,
                       cfg: EngineConfig = EngineConfig.default,
                       slop: Int = 0): DataFrame = {
    val tokenized = queries.map { case (qid, text) =>
      val ts = CodeTokenizer.tokenize(text).toSeq
      require(ts.size >= 2,
        s"match_phrase_prefix needs >= 2 analyzed tokens (qid $qid <$text>) — " +
          "a single-term prefix query is prefixTopK")
      (qid, ts)
    }
    // one dictionary walk expands every query's last-token prefix
    val exp = Wand.handleFor(spark, indexDir, cfg).expandPrefixBatch(tokenized.map(_._2.last), maxExpansions)
    val qs = tokenized.collect { case (qid, ts) if exp(ts.last).nonEmpty =>
      val phrase = BM25.PosPhrase(ts.init.map(Seq(_)) :+ exp(ts.last), slop)
      qid -> BM25.PosQuery(ts.init.distinct, phrases = Seq(phrase))
    }
    if (qs.isEmpty) ServedTopK.noHits(spark) else BM25.phraseHandleFor(spark, indexDir, cfg).serve(qs)
  }

  /** Driver-side analysis shared by the match-family operators. */
  private def analyzedQueries(queries: Seq[(Int, String)]): Seq[(Int, Seq[String])] =
    queries.map { case (qid, text) => qid -> CodeTokenizer.queryTerms(text) }

  /** One row per (query, matching doc) for match-any semantics — the
    * filter-context/aggregation preamble. ONE corpus scan testing each
    * doc's kept-token array directly against every query's term set
    * (arrays_overlap — the definition of "matches >= 1 analyzed term"),
    * carrying every source column through for the caller's value/bucket
    * expressions. Replaces the postings-build + broadcast-join +
    * (qid, doc_id) DISTINCT + join-back-to-docs shape: the distinct was
    * a corpus-sized shuffle that existed only to undo the postings
    * explode, and the join-back was a second corpus scan (guide §2.4
    * "remove shuffles outright"). A (qid, doc) pair appears exactly
    * once by construction, so results are identical to the distinct. */
  private def matchExplode(docs: DataFrame, idCol: Column, contentCol: Column,
                           analyzed: Seq[(Int, Seq[String])]): DataFrame = {
    val qs = analyzed.filter(_._2.nonEmpty)
    docs.withColumn("doc_id", idCol)
      .withColumn("__tokens", CodeTokenizer.tokensColFast(contentCol))
      .select(col("*"), explode(typedLit(qs)).as("__q"))
      .filter(arrays_overlap(col("__tokens"), col("__q").getField("_2")))
      .withColumn("qid", col("__q").getField("_1"))
      .drop("__tokens", "__q")
  }

  /** One parsed query_string clause. Roles mirror the bool algebra
    * (`+` must, `-` must_not, bare should). */
  sealed trait QsClause { def role: String }
  /** A bare or signed term, analyzed at compile time. */
  final case class QsTerm(role: String, text: String) extends QsClause
  /** A quoted phrase: `+"a b"` / bare `"a b"` require adjacency AND
    * score the member terms as musts (the engine's phrase-scoring
    * convention); `-"a b"` excludes docs where the phrase occurs
    * WITHOUT excluding docs that merely contain the words. */
  final case class QsPhrase(role: String, text: String) extends QsClause
  /** A trailing-star prefix: expansions join the role's term set —
    * `tab*` (should) scores each expansion independently
    * (scoring_boolean), `-tab*` excludes docs matching ANY expansion.
    * `+tab*` (match >= 1 of the expansions) is not expressible in the
    * all-required must counter — fail loud rather than mis-rank. */
  final case class QsPrefix(role: String, prefix: String) extends QsClause

  /** Parser for the FLAT Lucene query_string grammar — the subset
    * without parens, field overrides, or AND/OR keywords (Lucene's
    * default-OR mode expresses those queries with +/- prefixes, which
    * is exactly this grammar): whitespace-separated clauses, each an
    * optional sign (`+` must, `-` must_not) followed by a bare term, a
    * `"quoted phrase"`, or a `prefix*`. Documented deviation: an
    * unsigned phrase is treated as required (`+`) — the common user
    * intent, and optional-phrase scoring would need phrase-level df
    * blending ES itself approximates. */
  def parseQueryString(q: String): Seq[QsClause] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[QsClause]
    var i = 0
    val s = q.trim
    while (i < s.length) {
      while (i < s.length && s(i).isWhitespace) i += 1
      if (i < s.length) {
        val role = s(i) match {
          case '+' => i += 1; "must"
          case '-' => i += 1; "must_not"
          case _ => "should"
        }
        if (i < s.length && s(i) == '"') {
          val end = s.indexOf('"', i + 1)
          require(end > 0, s"query_string: unterminated phrase in <$q>")
          out += QsPhrase(if (role == "must_not") "must_not" else "must",
            s.substring(i + 1, end))
          i = end + 1
        } else {
          val start = i
          while (i < s.length && !s(i).isWhitespace) i += 1
          val tok = s.substring(start, i)
          if (tok.nonEmpty) {
            if (tok.endsWith("*") && tok.length > 1) {
              val p = tok.dropRight(1)
              require(!p.contains("*"), s"query_string: only a single trailing * is " +
                s"supported (<$tok>) — a leading/mid-star wildcard would silently " +
                s"analyze into unrelated terms")
              require(role != "must", s"query_string: +prefix* (must-prefix) is not " +
                s"supported — match-any-expansion contradicts the all-required must counter")
              out += QsPrefix(role, p)
            } else if (tok == "*") ()
            else {
              require(!tok.contains("*"), s"query_string: only a single trailing * is " +
                s"supported (<$tok>) — a leading/mid-star wildcard would silently " +
                s"analyze into unrelated terms")
              out += QsTerm(role, tok)
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** Lucene/ES query_string (flat grammar) over the corpus: compiles
    * [[parseQueryString]]'s clauses onto the bool role algebra — one
    * postings pass + one aggregation for scoring and role counters —
    * with phrase clauses enforced as positional adjacency constraints
    * on the SAME candidate machinery as match_phrase (a second bounded
    * aggregation over the query-term positional postings), and prefix
    * clauses expanded against the corpus term dictionary
    * (lexicographic-first cap, one bounded metadata job for ALL prefix
    * clauses together). Scoring: must/should terms and phrase member
    * terms fold term-ascending exactly like bool; expansions score with
    * their own df (scoring_boolean). minimum_should_match follows the
    * Lucene default: 1 when the query has no required clause, else 0. */
  def queryStringTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                      queries: Seq[(Int, String)],
                      maxExpansions: Int = MaxExpansions,
                      cfg: EngineConfig = EngineConfig.default): DataFrame = {
    val parsed = queries.map { case (qid, s) => qid -> parseQueryString(s) }
    val prefixClauses = qsPrefixClauses(parsed)
    val phrases = qsPhrases(parsed)
    val literalTerms = (qsTermRows(parsed).map(_._2) ++ phrases.flatMap(_._3)).distinct
    // the bounded stats job ((n, avgdl) + literal-term df) and the
    // prefix-expansion aggregation are independent — submit them from
    // two driver threads so their stages overlap (guide §2.6)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val statsF = Future(BM25.statsAndDf(docs, idCol, contentCol, literalTerms))
    // prefix expansions: the shared expansion cap ([[Wand.expandCapped]]:
    // lexicographic-first maxExpansions per prefix, collect bounded by
    // tasks x prefixes x maxExpansions) over ONE term-pruned postings df
    // aggregation for ALL prefix clauses together — never a
    // full-vocabulary shuffle
    val expF = Future {
      val prefixes = prefixClauses.map(_._2).distinct
      if (prefixes.isEmpty) Map.empty[String, Seq[(String, Long)]]
      else Wand.expandCapped(Postings.build(docs, idCol, contentCol)
          .filter(prefixes.map(p => col("term").startsWith(p)).reduce(_ || _)) // pruned BEFORE the df agg
          .groupBy("term").agg(count(lit(1)).as("df"))
          .rdd.mapPartitions(rs => Iterator(ServedTopK.TermDict(rs.map(r => (r.getString(0), r.getLong(1)))))),
        prefixes, maxExpansions)
    }
    val (n, avgdl, dfLit) = Await.result(statsF, Duration.Inf)
    val expMap = Await.result(expF, Duration.Inf)
    val expRows = prefixClauses.flatMap { case (qid, p, role) =>
      expMap(p).map { case (t, _) => (qid, t, role) } }
    val dfExp = expMap.values.flatten.toMap
    val roleRows = qsRoleRows(parsed, expRows)
    // NOTE (measured, not kept): sharing ONE persisted pruned
    // positional frame between the scoring and constraint aggregations
    // (the phraseTopK discipline) was tried and is SLOWER here —
    // persist + eager materialization serialize what the two-subtree
    // action runs as concurrent stages; see OPTIMIZATION_r06.md.
    val scored = boolScored(docs, idCol, contentCol, roleRows, cfg,
      statsKnown = Some((n, avgdl, dfLit ++ dfExp)))
    if (phrases.isEmpty) return BM25.rankTopK(scored, cfg.topK)
    val posPost = Postings.buildPositional(docs, idCol, contentCol)
      .select("term", "doc_id", "positions")
    BM25.rankTopK(qsConstrain(scored, posPost, phrases), cfg.topK)
  }

  /** query_string served from the index — the operational (CLI) path,
    * rank- and score-identical to [[queryStringTopK]]: each query
    * compiles to one [[BM25.PosQuery]] — its [[qsRoleRows]] roles and
    * its [[qsPhrases]] as required or excluded phrases — served by the
    * positional handle ([[BM25.PhraseHandle.serve]]) in one Spark job, no
    * Catalyst query and no file read. The WAND handle opens only to
    * expand: a batch with a prefix clause walks its term dictionary
    * first, one more job. */
  def queryStringTopKIndexed(spark: SparkSession, indexDir: String,
                             queries: Seq[(Int, String)],
                             maxExpansions: Int = MaxExpansions,
                             cfg: EngineConfig = EngineConfig.default): DataFrame = {
    val parsed = queries.map { case (qid, s) => qid -> parseQueryString(s) }
    val prefixClauses = qsPrefixClauses(parsed)
    val expMap =
      if (prefixClauses.isEmpty) Map.empty[String, Seq[String]]
      else Wand.handleFor(spark, indexDir, cfg).expandPrefixBatch(prefixClauses.map(_._2), maxExpansions)
    val expRows = prefixClauses.flatMap { case (qid, p, role) =>
      expMap(p).map(t => (qid, t, role))
    }
    val phrases = qsPhrases(parsed)
    val qs = qsRoleRows(parsed, expRows).groupBy(_._1).toSeq.map { case (qid, rows) =>
      def role(r: String) = rows.collect { case (_, t, `r`, _, _, _) => t }
      qid -> BM25.PosQuery(role("must"), role("should"), role("must_not"), rows.head._6,
        phrases.collect { case (`qid`, r, ts) => BM25.PosPhrase(ts.map(Seq(_)), 0, required = r != "must_not") })
    }
    if (qs.isEmpty) ServedTopK.noHits(spark) else BM25.phraseHandleFor(spark, indexDir, cfg).serve(qs)
  }

  /** Literal role rows of a parsed query_string batch: terms analyze;
    * required-phrase members become musts; exclusion-phrase members
    * carry no role. */
  private def qsTermRows(parsed: Seq[(Int, Seq[QsClause])]): Seq[(Int, String, String)] =
    parsed.flatMap { case (qid, cls) =>
      cls.flatMap {
        case QsTerm(role, text) => CodeTokenizer.queryTerms(text).map(t => (qid, t, role))
        case QsPhrase("must_not", _) => Nil
        case QsPhrase(_, text) => CodeTokenizer.queryTerms(text).map(t => (qid, t, "must"))
        case QsPrefix(_, _) => Nil
      }
    }.distinct

  private def qsPrefixClauses(parsed: Seq[(Int, Seq[QsClause])]): Seq[(Int, String, String)] =
    parsed.flatMap { case (qid, cls) =>
      cls.collect { case QsPrefix(role, p) =>
        (qid, p.toLowerCase(java.util.Locale.ROOT), role)
      }
    }

  private def qsPhrases(parsed: Seq[(Int, Seq[QsClause])]): Seq[(Int, String, Seq[String])] =
    parsed.flatMap { case (qid, cls) =>
      cls.collect { case QsPhrase(role, text) =>
        (qid, role, CodeTokenizer.tokenize(text).toSeq)
      }
    }.filter(_._3.nonEmpty)

  /** Role rows (literals + expansions) with the per-query must counter
    * and the Lucene default minimum_should_match. A (qid, term) landing
    * in two roles (a bare term repeated inside a required phrase, a
    * prefix expansion colliding with a literal) resolves by role
    * precedence must_not > must > should — the Lucene effective
    * semantics — instead of aborting the batch (ADVICE r05: the
    * collision is data-dependent via expansions, so a corpus change
    * could start crashing a previously-working query). Queries without
    * collisions produce exactly the former rows. */
  private def qsRoleRows(parsed: Seq[(Int, Seq[QsClause])],
                         expRows: Seq[(Int, String, String)])
      : Seq[(Int, String, String, Int, Int, Int)] = {
    val prec = Map("must_not" -> 0, "must" -> 1, "should" -> 2)
    val allRows = (qsTermRows(parsed) ++ expRows).distinct
      .groupBy { case (qid, t, _) => (qid, t) }
      .map { case ((qid, t), rs) => (qid, t, rs.map(_._3).minBy(prec)) }
      .toSeq.sortBy { case (qid, t, _) => (qid, t) }
    val nMust = allRows.filter(_._3 == "must").groupBy(_._1).view.mapValues(_.size).toMap
    allRows.map { case (qid, t, role) =>
      val m = nMust.getOrElse(qid, 0)
      (qid, t, role, m, 0, if (m > 0) 0 else 1)
    }
  }

  /** Phrase adjacency constraints over a (term, doc_id, positions)
    * postings source: required phrases must ALL match (count of
    * distinct matched pids == the query's required count), exclusion
    * phrases anti-join — the corpus query_string path's; the indexed
    * path decides the same phrases per doc ([[BM25.PosPhrase]]). */
  private def qsConstrain(scored: DataFrame, posPost: DataFrame,
                          phrases: Seq[(Int, String, Seq[String])]): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val pq = phrases.zipWithIndex.flatMap { case ((qid, role, ts), pid) =>
      ts.zipWithIndex.map { case (t, off) => (qid, pid, role, t, off, ts.size) }
    }.toDF("qid", "pid", "role", "term", "off", "m")
    val phraseHit = BM25.phraseSpans(posPost.join(broadcast(pq), "term"), Seq("qid", "pid"), 0,
        first(col("role")).as("role"))
      .select("qid", "pid", "role", "doc_id")
    val reqPerQid = phrases.zipWithIndex
      .filter(_._1._2 != "must_not")
      .groupBy(_._1._1).view.mapValues(_.size).toSeq
      .map { case (qid, n) => (qid, n) }.toDF("qid", "n_req")
    // required-match count and exclusion flag out of ONE aggregation
    // over the phrase hits (the former two-branch shape evaluated the
    // positional-postings subtree once per branch): req_got counts
    // distinct non-exclusion pids (countDistinct drops the when-null),
    // excl is non-null iff any exclusion phrase hit
    val flags = phraseHit.groupBy("qid", "doc_id")
      .agg(
        countDistinct(when(col("role") =!= "must_not", col("pid"))).as("req_got"),
        max(when(col("role") === "must_not", 1)).as("excl"))
    scored
      .join(broadcast(reqPerQid), Seq("qid"), "left")
      .join(flags, Seq("qid", "doc_id"), "left")
      .filter(coalesce(col("req_got"), lit(0L)) === coalesce(col("n_req"), lit(0)))
      .filter(col("excl").isNull)
      .select("qid", "doc_id", "score")
  }

  /** ES dis_max over per-field match sub-queries with a non-zero
    * tie_breaker (tie_breaker=0 IS [[multiMatchTopK]]'s best_fields):
    * each field scores independently with ITS OWN postings/df/avgdl and
    * a doc's combined score is best + tieBreaker * (sum_others), i.e.
    * best + tb * (sum - best). The sum folds in FIELD order (a sorted
    * bounded fold like every score fold here), so the combined double
    * is bit-equal to the oracle's `sum(score ORDER BY fld)` form. Same
    * asymptotics as multi_match: one postings pass per field, one
    * union + one aggregation. */
  def disMaxTopK(spark: SparkSession, docs: DataFrame, idCol: Column,
                 fields: Seq[Column], queries: Seq[(Int, String)],
                 tieBreaker: Double,
                 cfg: EngineConfig = EngineConfig.default): DataFrame = {
    import spark.implicits._
    require(fields.nonEmpty, "dis_max needs >= 1 field")
    val analyzed = analyzedQueries(queries)
    // one stats job for ALL fields, one postings pass per field in the
    // single ranking action (the multi_match discipline)
    val stats = BM25.statsAndDfMulti(docs, idCol, fields,
      analyzed.flatMap(_._2).distinct)
    val perField = fields.zip(stats).zipWithIndex.map { case ((fcol, st), fi) =>
      BM25.scored(BM25.matchPipeline(docs, idCol, fcol, analyzed, cfg, Some(st)))
        .select(col("qid"), col("doc_id"), col("score"))
        .withColumn("fld", lit(fi))
    }
    val comb = perField.reduce(_ unionByName _)
      .groupBy("qid", "doc_id")
      .agg(max(col("score")).as("best"),
        BM25.foldAscending(struct(col("fld"), col("score"))).as("ssum"))
      .withColumn("score",
        col("best") + lit(tieBreaker) * (col("ssum") - col("best")))
      .select("qid", "doc_id", "score")
    BM25.rankTopK(comb, cfg.topK)
  }

  /** ES boosting query: docs are ranked by the positive match's BM25
    * score, and any doc ALSO matching the negative query keeps its rank
    * eligibility but has its score multiplied by `negativeBoost` (the
    * ES demote-don't-exclude contract — the whole point over must_not).
    * The negative side is a match-any membership probe: the scored set
    * is already partitioned by (qid, doc_id) from its aggregation, so
    * the demotion join adds one shuffle of the (qid, doc_id) negative
    * id set and nothing else; multiplication by the boost literal is
    * the same IEEE op on both engine and oracle. */
  def boostingTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                   queries: Seq[(Int, String, String)], negativeBoost: Double,
                   cfg: EngineConfig = EngineConfig.default): DataFrame = {
    import spark.implicits._
    val qpos = queries.map { case (qid, p, _) => qid -> CodeTokenizer.queryTerms(p) }
    val scored = BM25.scored(BM25.matchPipeline(docs, idCol, contentCol, qpos, cfg))
    // negative side: a direct per-doc token-set membership probe — one
    // corpus scan, no postings explode and no (qid, doc_id) distinct
    // shuffle (guide §2.4)
    val qneg = queries.map { case (qid, _, ng) => (qid, CodeTokenizer.queryTerms(ng)) }
      .filter(_._2.nonEmpty)
    val negMatched = matchExplode(docs, idCol, contentCol, qneg)
      .select("qid", "doc_id")
      .withColumn("neg_hit", lit(1))
    val demoted = scored.join(negMatched, Seq("qid", "doc_id"), "left")
      .withColumn("score",
        when(col("neg_hit").isNotNull, col("score") * lit(negativeBoost))
          .otherwise(col("score")))
      .select("qid", "doc_id", "score")
    BM25.rankTopK(demoted, cfg.topK)
  }

  /** ES constant_score: every doc matching the filter (match-any over
    * the analyzed terms — filter context, no BM25 anywhere in the plan)
    * scores exactly `boost`; ranks tie-break doc_id asc (the ES
    * deterministic order when all scores are equal). One postings join
    * + one distinct + the bounded top-k aggregation. */
  def constantScoreTopK(spark: SparkSession, docs: DataFrame, idCol: Column,
                        contentCol: Column, queries: Seq[(Int, String)], boost: Double,
                        cfg: EngineConfig = EngineConfig.default): DataFrame =
    BM25.rankTopK(
      matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
        .select(col("qid"), col("doc_id"), lit(boost).as("score")),
      cfg.topK)

  /** ES regexp query served from the segment index: the pattern is
    * anchored full-term (the Lucene contract — `ta.le` matches `table`,
    * not `stables`), expands against the cached term dictionary
    * ([[Wand.RegexpOf]], lexicographic-first `maxExpansions`) and
    * serves through the same exact WAND as prefix/wildcard, expansion
    * and scoring in ONE Spark job ([[Wand.Handle.topKExpanded]]). The
    * expansion walks the range of the pattern's leading literal run
    * ([[Wand.regexLiteral]]) of the handle's sorted term dictionary
    * (terms and df, never postings); a pattern without one (a leading
    * class, `.` or group, or any `|`) walks all of it, the cost class
    * Lucene documents for leading-wildcard patterns.
    * Oracle parity holds on the regex subset both Java and RE2 agree on
    * (literals, classes, ., *, +, |, grouping — no backrefs or
    * lookaround). */
  def regexpTopK(spark: SparkSession, indexDir: String,
                 queries: Seq[(Int, String)],
                 maxExpansions: Int = MaxExpansions,
                 cfg: EngineConfig = EngineConfig.default): DataFrame =
    // patterns match VERBATIM against the (lowercase) term dictionary —
    // lowercasing a regex is not semantics-preserving (\D would become
    // \d), so unlike prefix/wildcard the pattern is the caller's,
    // anchored full-term
    Wand.handleFor(spark, indexDir, cfg).topKExpanded(
      queries.map { case (qid, p) => qid -> Wand.RegexpOf("^(?:" + p.trim + ")$") }, maxExpansions)

  /** ES range aggregation over a query's matching docs: every SPECIFIED
    * range is an independent bucket — from inclusive, to exclusive,
    * either end open, overlaps allowed, and empty buckets still emit
    * (the ES contract: ranges are the user's axis, not the data's).
    * The (query x range) grid is a broadcast literal; bucket membership
    * is one broadcast range join + one count shuffle, and the zero-fill
    * is a left join back against the same grid.
    *
    * Output: (qid, ridx, key, doc_count) in specification order. */
  def rangeAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
               queries: Seq[(Int, String)], valueCol: Column,
               ranges: Seq[(Option[Long], Option[Long])]): DataFrame = {
    import spark.implicits._
    require(ranges.nonEmpty, "range agg needs >= 1 range")
    val vals = matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), valueCol.cast("long").as("v"))
    def keyOf(lo: Option[Long], hi: Option[Long]) =
      s"${lo.map(_.toString).getOrElse("*")}-${hi.map(_.toString).getOrElse("*")}"
    val grid = (for {
      (qid, _) <- queries
      ((lo, hi), i) <- ranges.zipWithIndex
    } yield (qid, i, keyOf(lo, hi), lo, hi)).toDF("qid", "ridx", "key", "lo", "hi")
    val counts = vals.as("v").join(broadcast(grid.as("g")),
        col("v.qid") === col("g.qid") &&
          (col("g.lo").isNull || col("v.v") >= col("g.lo")) &&
          (col("g.hi").isNull || col("v.v") < col("g.hi")))
      .groupBy(col("g.qid").as("qid"), col("g.ridx").as("ridx"))
      .agg(count(lit(1)).as("cnt"))
    grid.join(counts, Seq("qid", "ridx"), "left")
      .select(col("qid"), col("ridx"), col("key"),
        coalesce(col("cnt"), lit(0L)).as("doc_count"))
      .orderBy("qid", "ridx")
  }

  /** ES top_hits sub-aggregation — terms buckets with the top
    * `hitsPerBucket` scoring docs INSIDE each bucket (the "best example
    * per category" shape). Scoring is the shared match pipeline; the
    * per-bucket ranking is a window partitioned by (qid, bucket) —
    * parallel across buckets, never a global sort; ES runs the same
    * shape as one priority queue per bucket.
    *
    * Output: (qid, bucket, hit_rank, doc_id, score). */
  def topHitsAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                 queries: Seq[(Int, String)], bucketCol: Column,
                 hitsPerBucket: Int = 2,
                 cfg: EngineConfig = EngineConfig.default): DataFrame = {
    val scored =
      BM25.scored(BM25.matchPipeline(docs, idCol, contentCol, analyzedQueries(queries), cfg))
    scored.join(docs.select(idCol.as("doc_id"), bucketCol.as("bucket")), "doc_id")
      .withColumn("hit_rank", row_number().over(
        Window.partitionBy("qid", "bucket")
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("hit_rank") <= hitsPerBucket)
      .select("qid", "bucket", "hit_rank", "doc_id", "score")
      .orderBy("qid", "bucket", "hit_rank")
  }

  /** ES extended_stats aggregation over a query's matching docs:
    * stats plus sum_of_squares / variance / std_deviation, computed
    * with the ES population formula variance = sum2/n - avg^2 (the
    * documented ES arithmetic) over EXACTLY-represented integer
    * operands, so every derived double is the same IEEE expression on
    * engine and oracle. std_deviation guards the formula's tiny
    * negative epsilon with max(variance, 0) on both sides (NaN renders
    * differ between JVM and C — determinism demands the clamp).
    *
    * Output: (qid, doc_count, min_v, max_v, sum_v, sum_sq, avg_v,
    * variance, std_dev). */
  def extendedStatsAgg(spark: SparkSession, docs: DataFrame, idCol: Column,
                       contentCol: Column, queries: Seq[(Int, String)],
                       valueCol: Column): DataFrame = {
    matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), valueCol.cast("long").as("v"))
      .groupBy("qid").agg(
        count(lit(1)).as("doc_count"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(col("v")).as("sum_v"),
        sum(col("v") * col("v")).as("sum_sq"))
      .withColumn("avg_v", col("sum_v").cast("double") / col("doc_count"))
      .withColumn("variance",
        col("sum_sq").cast("double") / col("doc_count") - col("avg_v") * col("avg_v"))
      .withColumn("std_dev", sqrt(greatest(col("variance"), lit(0.0))))
      .orderBy("qid")
  }

  /** ES _explain analogue: the per-term BM25 breakdown for each query's
    * TOP-RANKED doc — (term, tf, df, doclen, idf, weight) rows, the
    * flattened form of the explanation tree ES returns. The ranking is
    * the shared match pipeline; the breakdown join touches only the
    * <= one (qid, doc) winner per query (an explicit broadcast back
    * onto the weighted rows — a point lookup at any scale, the same
    * fetch discipline as highlight). */
  def explainTop1(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                  queries: Seq[(Int, String)],
                  cfg: EngineConfig = EngineConfig.default): DataFrame = {
    val analyzed = analyzedQueries(queries)
    val stats = BM25.statsAndDf(docs, idCol, contentCol, analyzed.flatMap(_._2).distinct)
    val weighted = BM25.matchPipeline(docs, idCol, contentCol, analyzed, cfg, Some(stats))
    val top1 = BM25.rankTopK(BM25.scored(weighted), 1).select("qid", "doc_id")
    weighted.join(broadcast(top1), Seq("qid", "doc_id"))
      .withColumn("idf", BM25.idfCol(col("df"), stats._1))
      .select("qid", "doc_id", "term", "tf", "df", "doclen", "idf", "w")
      .orderBy("qid", "term")
  }

  /** ES composite aggregation — the scale-safe bucket pagination (the
    * ONLY ES agg allowed to paginate arbitrarily many buckets; terms
    * agg caps at its size). Buckets of the composite (k1, k2) key order
    * lexicographically; a page is the first `size` buckets strictly
    * AFTER the after-key cursor (tuple order, exactly search_after's
    * arithmetic pointed at buckets). The pagination is a bounded min-k
    * aggregation ([[MinKByKey]]): map-side partials and the shuffle
    * carry `size` buckets per partition per query no matter the bucket
    * cardinality — never a global bucket sort, never a window over all
    * buckets (a window would betray the exact property composite agg
    * exists for). Queries without an after entry page from the start.
    *
    * Output: (qid, page_rank, k1, k2, doc_count). */
  def compositeAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                   queries: Seq[(Int, String)], k1Col: Column, k2Col: Column,
                   size: Int, after: Seq[(Int, String, String)] = Nil): DataFrame = {
    import spark.implicits._
    // ES composite agg omits docs with a null source key by default
    // (missing_bucket=false) — and a null key would corrupt the
    // concat_ws composite anyway (concat_ws drops nulls)
    val buckets = matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .select(col("qid"), k1Col.as("k1"), k2Col.as("k2"))
      .filter(col("k1").isNotNull && col("k2").isNotNull)
      .groupBy("qid", "k1", "k2").agg(count(lit(1)).as("cnt"))
    val afterDf = after.toDF("qid", "a1", "a2")
    val paged = buckets.join(broadcast(afterDf), Seq("qid"), "left")
      .filter(col("a1").isNull ||
        col("k1") > col("a1") || (col("k1") === col("a1") && col("k2") > col("a2")))
    // composite key: keys are ascii-safe corpus fields; \u0001 sorts
    // below every printable char, so concat order == tuple order
    val sep = "\u0001"
    paged
      .withColumn("ck", concat_ws(sep, col("k1"), col("k2")))
      .groupBy("qid").agg(MinKAgg.minK(size)(col("ck"), col("cnt")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("page_rank"),
        substring_index(col("col.key"), sep, 1).as("k1"),
        substring_index(col("col.key"), sep, -1).as("k2"),
        col("col.cnt").as("doc_count"))
      .orderBy("qid", "page_rank")
  }

  /** ES filters aggregation: NAMED buckets, each an arbitrary
    * structured predicate over the query's matching docs — every named
    * count rides ONE groupBy (the sub-agg-tree discipline: bucket
    * count is plan width, not plan depth). Output: (qid, <one BIGINT
    * column per filter name>). */
  def filtersAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                 queries: Seq[(Int, String)],
                 filters: Seq[(String, Column)]): DataFrame = {
    require(filters.nonEmpty, "filters agg needs >= 1 named filter")
    val counts = filters.map { case (name, pred) =>
      count(when(pred, 1)).as(name)
    }
    matchExplode(docs, idCol, contentCol, analyzedQueries(queries))
      .groupBy("qid").agg(counts.head, counts.tail: _*)
      .orderBy("qid")
  }

  /** ES rescore API (total mode, the default): the top `windowSize`
    * hits of the match query — and ONLY those — are re-scored as
    * query_weight * original + rescore_query_weight * secondary, where
    * the secondary query is a match_phrase whose score is the shared
    * member-term BM25 fold for docs where the phrase occurs adjacently
    * (0.0 otherwise — adding rw * 0.0 is exact). Every rescore-side
    * computation is restricted to the window FIRST (a broadcast of
    * <= queries x windowSize ids onto the positional postings), so the
    * rescore cost is bounded by the window at any corpus size — the ES
    * contract that makes expensive queries affordable as rescorers.
    *
    * Output contract identical to [[BM25.topK]], with one documented
    * deviation from ES: the result holds the window only, so with
    * `windowSize < topK` a query returns at most `windowSize` hits,
    * where ES returns the rest of its top k below the window in base
    * order. */
  def rescoreTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                  queries: Seq[(Int, String, String)], windowSize: Int,
                  queryWeight: Double = 1.0, rescoreWeight: Double = 1.0,
                  cfg: EngineConfig = EngineConfig.default): DataFrame = {
    import spark.implicits._
    val baseAnalyzed = queries.map { case (qid, text, _) =>
      qid -> CodeTokenizer.queryTerms(text) }
    val phrases = queries.map { case (qid, _, ph) =>
      (qid, CodeTokenizer.tokenize(ph).toSeq)
    }.filter(_._2.nonEmpty)
    val phraseTerms = phrases.flatMap(_._2).distinct
    // ONE stats job covers the base terms AND the rescorer's phrase
    // terms (df stays corpus-level — ES rescorers score with index
    // stats), so the secondary side never re-derives df
    val allTerms = (baseAnalyzed.flatMap(_._2) ++ phraseTerms).distinct
    if (allTerms.isEmpty) return ServedTopK.noHits(spark)
    val stats @ (n, avgdl, dfMap) = BM25.statsAndDf(docs, idCol, contentCol, allTerms)
    val weighted = BM25.matchPipeline(docs, idCol, contentCol, baseAnalyzed, cfg, Some(stats))
    // the window is <= queries x windowSize rows — collect it once (the
    // search_after cursor discipline). The former shape kept it as a
    // plan subtree referenced from THREE broadcasts plus the final
    // join, re-running the whole base scoring pipeline per reference.
    val winRows = BM25.rankTopK(BM25.scored(weighted), windowSize)
      .select("qid", "doc_id", "score").collect()
    if (winRows.isEmpty) return ServedTopK.noHits(spark)
    val window = winRows.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      .toDF("qid", "doc_id", "score")
    val winPairs = winRows.map(r => (r.getInt(0), r.getLong(1))).toSeq
      .toDF("qid", "doc_id")
    val winIdList = winRows.map(_.getLong(1)).distinct.toSeq
    // every rescore-side computation runs over ONLY the window docs —
    // the id list pushes into the docs scan as an In() filter, so the
    // positional build tokenizes <= queries x windowSize docs at any
    // corpus size (the ES window-boundedness contract, now also the
    // plan's scan boundedness). Scores are unchanged: tf/doclen/
    // positions are per-doc quantities and df/stats stay corpus-level.
    val winDocs = docs.filter(idCol.isInCollection(winIdList))
    val posPost = Postings.buildPositional(winDocs, idCol, contentCol)
      .select("term", "doc_id", "doclen", "tf", "positions")
    // the window semi-join runs BEFORE the span step and the weights
    val adj = BM25.phraseSpans(posPost.join(broadcast(BM25.phraseOffsets(spark, phrases)), "term")
        .join(broadcast(winPairs), Seq("qid", "doc_id"), "left_semi"), Seq("qid"), 0)
      .select("qid", "doc_id")
    val phraseQ = BM25.termTable(spark, phrases.map { case (qid, ts) => qid -> ts.distinct }, dfMap)
    val w2 = BM25.weigh(posPost, phraseQ, n, avgdl, cfg,
      _.join(broadcast(winPairs), Seq("qid", "doc_id"), "left_semi"))
    val sec = BM25.scored(w2)
      .join(adj, Seq("qid", "doc_id"), "left_semi")
      .withColumnRenamed("score", "sec_score")
    val rescored = window.join(sec, Seq("qid", "doc_id"), "left")
      .select(col("qid"), col("doc_id"),
        (lit(queryWeight) * col("score") +
          lit(rescoreWeight) * coalesce(col("sec_score"), lit(0.0))).as("score"))
    BM25.rankTopK(rescored, cfg.topK)
  }

  /** ES term suggester ("did you mean"): for each input term, candidate
    * corrections from the corpus term dictionary within `maxDist`
    * classic Levenshtein edits (the |length delta| pre-filter cannot
    * exclude a true candidate), the input itself excluded, ranked by
    * (distance asc, df desc, term asc) — similarity first, popularity
    * second, deterministic ties — top `size`. The candidate set is a
    * distributed filter over the (term, df) metadata, never postings;
    * the ranking window partitions per input over only the distance-
    * qualified candidates. Documented deviation: classic Levenshtein on
    * both engine and oracle (ES uses Damerau).
    *
    * Output: (qid, rank, suggestion, dist, df). */
  def termSuggest(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                  inputs: Seq[(Int, String)], maxDist: Int = 2,
                  size: Int = 5): DataFrame = {
    import spark.implicits._
    val post = Postings.build(docs, idCol, contentCol)
    val q = inputs.map { case (qid, t) =>
      (qid, t.trim.toLowerCase(java.util.Locale.ROOT))
    }.toDF("qid", "input")
    Postings.docFreq(post).join(broadcast(q),
        col("term") =!= col("input") &&
          abs(length(col("term")) - length(col("input"))) <= maxDist &&
          levenshtein(col("term"), col("input")) <= maxDist)
      .withColumn("dist", levenshtein(col("term"), col("input")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("dist"), col("df").desc, col("term"))).cast("long"))
      .filter(col("rank") <= size)
      .select(col("qid"), col("rank"), col("term").as("suggestion"),
        col("dist").cast("long").as("dist"), col("df"))
      .orderBy("qid", "rank")
  }

  /** ES has_child query (join field): rank PARENTS by their children's
    * match scores — parent key = `parentCol`, children = the docs
    * themselves, combined per the ES score_mode ("max", "sum", or
    * "avg"; "none" is a plain semi-join — use filteredTopK). The child
    * scoring is the shared match pipeline; the parent rollup is ONE
    * groupBy on (qid, parent) — max/sum of finite doubles are exact
    * (sum folds in child doc_id order for bit-stable association), avg
    * divides the ordered sum by the exact child count.
    *
    * Output: (qid, rank, parent, score) — ranks (score desc, parent
    * asc). */
  def hasChildTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                   parentCol: Column, queries: Seq[(Int, String)], scoreMode: String,
                   cfg: EngineConfig = EngineConfig.default): DataFrame = {
    import spark.implicits._
    require(Set("max", "sum", "avg")(scoreMode), s"unsupported score_mode <$scoreMode>")
    val scored =
      BM25.scored(BM25.matchPipeline(docs, idCol, contentCol, analyzedQueries(queries), cfg))
        .join(docs.select(idCol.as("doc_id"), parentCol.as("parent")), "doc_id")
    val childSum = BM25.foldAscending(struct(col("doc_id"), col("score")))
    val rolled = scored.groupBy("qid", "parent").agg(
      (scoreMode match {
        case "max" => max(col("score"))
        case "sum" => childSum
        case "avg" => childSum / count(lit(1)).cast("double")
      }).as("score"))
    rolled
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score").desc, col("parent"))).cast("long"))
      .filter(col("rank") <= cfg.topK)
      .select("qid", "rank", "parent", "score")
      .orderBy("qid", "rank")
  }

  /** ES function_score, field_value_factor (modifier=log1p,
    * boost_mode=multiply — the popularity-boost staple): final score =
    * BM25 * ln(1 + factor * field). The factor column joins the
    * already-scored hits (one co-partitioned join after the score
    * aggregation), and the function arithmetic is the same IEEE
    * expression on engine and oracle (ln = StrictMath.log on both).
    * Output contract identical to [[BM25.topK]]. */
  def functionScoreTopK(spark: SparkSession, docs: DataFrame, idCol: Column,
                        contentCol: Column, queries: Seq[(Int, String)],
                        fieldCol: Column, factor: Double,
                        cfg: EngineConfig = EngineConfig.default): DataFrame = {
    val boosted =
      BM25.scored(BM25.matchPipeline(docs, idCol, contentCol, analyzedQueries(queries), cfg))
      .join(docs.select(idCol.as("doc_id"), fieldCol.cast("double").as("fv")), "doc_id")
      .select(col("qid"), col("doc_id"),
        (col("score") * log(lit(1.0) + lit(factor) * col("fv"))).as("score"))
    BM25.rankTopK(boosted, cfg.topK)
  }

  /** ES pipeline aggregations — cumulative_sum + derivative riding a
    * date_histogram (the Kibana trend-chart pair): per-day counts with
    * the min_doc_count=0 gap fill, then cum_count = running sum and
    * deriv = delta vs the previous bucket (NULL on each query's first
    * bucket, the ES derivative contract). ES computes pipeline aggs on
    * the coordinator over the reduced bucket list; here they are
    * windows PARTITIONED PER QUERY over the gap-filled buckets — the
    * partition is bounded by the TIME SPAN in days, never the corpus,
    * the same boundedness argument as the gap fill itself.
    *
    * Output: (qid, day, doc_count, cum_count, deriv). */
  def pipelineAgg(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                  queries: Seq[(Int, String)], tsCol: Column): DataFrame = {
    val buckets = dateHistogramAgg(spark, docs, idCol, contentCol, queries, tsCol)
    val w = Window.partitionBy("qid").orderBy("day")
    buckets
      .withColumn("cum_count", sum(col("doc_count")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("deriv", col("doc_count") - lag(col("doc_count"), 1).over(w))
      .orderBy("qid", "day")
  }

  /** more_like_this top-k: for each (qid, source doc), select the
    * [[MltMaxTerms]] highest-tf*idf source-doc terms (tf >= MltMinTf,
    * df >= MltMinDf — the ES defaults; idf is the shared BM25 idf, ties
    * term-asc), then rank the corpus by BM25 over that disjunction,
    * excluding the source doc itself.
    *
    * Everything derives from ONE postings build: the source docs' term
    * stats are postings rows filtered to the source ids (at scale: ES
    * reads the doc's term vector — here a pushed-down id filter), the
    * selection window partitions by qid (per-partition data = one doc's
    * vocabulary — bounded by doclen, never corpus-sized), and the
    * scoring join broadcasts <= queries x MltMaxTerms selected terms. */
  def mltTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
              queries: Seq[(Int, Long)],
              cfg: EngineConfig = EngineConfig.default): DataFrame = {
    import spark.implicits._
    // 1. source docs' term vectors: an id-pushed point read tokenizing
    //    <= queries docs (ES reads the stored term vector the same way;
    //    the former shape tokenized the WHOLE corpus and joined it down
    //    to the source ids). Bounded collect: one doc's kept vocabulary
    //    per query.
    val srcIds = queries.map(_._2).distinct
    val srcVec = Postings.build(docs.filter(idCol.isInCollection(srcIds)),
        idCol, contentCol)
      .filter(col("tf") >= MltMinTf)
      .select("doc_id", "term", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // 2. ONE stats job: (n, avgdl) + df for the candidate terms (the
    //    former shape aggregated the FULL vocabulary's df and ran a
    //    separate doclens tokenize)
    val candTerms = srcVec.map(_._2).distinct.toSeq
    val (n, avgdl, dfMap) = BM25.statsAndDf(docs, idCol, contentCol, candTerms)
    // 3. driver-side per-query selection — top MltMaxTerms by
    //    (interest desc, term asc), interest = tf * the scalar
    //    [[BM25.idf]] (StrictMath.log, bit-equal to the Column form), over the
    //    already-bounded candidate rows; replaces a per-qid window over
    //    a broadcast-joined frame with identical ordering
    val byDoc = srcVec.groupBy(_._1)
    val selected = queries.flatMap { case (qid, src) =>
      byDoc.getOrElse(src, Array.empty[(Long, String, Long)]).iterator
        .flatMap { case (_, t, tf) =>
          dfMap.get(t).filter(_ >= MltMinDf).map(df => (t, df, tf * BM25.idf(df, n)))
        }.toSeq
        .sortBy { case (t, _, interest) => (interest, t) }(
          Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String))
        .take(MltMaxTerms)
        .map { case (t, df, _) => (qid, t, src, df) }
    }.toDF("qid", "term", "src_doc", "df")
    // 4. one corpus pass scores the selected disjunction
    val grouped = BM25.weigh(Postings.build(docs, idCol, contentCol), selected, n, avgdl, cfg,
        _.filter(col("doc_id") =!= col("src_doc")))
      .groupBy("qid", "doc_id")
      .agg(BM25.foldAscending(struct(col("term"), col("w"))).as("score"))
    BM25.rankTopK(grouped, cfg.topK)
  }
}
