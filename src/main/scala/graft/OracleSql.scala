package graft

import graft.analyze.CodeTokenizer
import graft.config.EngineConfig

/** DuckDB oracle SQL for every entry in [[SparkEntry.queries]].
  *
  * Generated from the SAME constants as the Spark plans (tokenizer
  * regexes/stopwords via [[CodeTokenizer.sqlTokenArray]], BM25 k1/b via
  * [[EngineConfig]], the query set via [[SparkEntry.FtQuerySet]]) so the
  * two sides cannot drift. Floating-point outputs are either exactly
  * reproducible (integer-valued sums, term-ordered summation) or emitted
  * as printf('%.4f') strings.
  */
object OracleSql {

  private val cfg = EngineConfig.default
  private def stopList = CodeTokenizer.Stopwords.map(w => s"'$w'").mkString(",")

  /** CTE producing (doc_id, tokens) from `documents` with the code-aware
    * analyzer — mirrors CodeTokenizer.tokensCol. */
  private val toksCte =
    s"toks AS (SELECT doc_id, ${CodeTokenizer.sqlTokenArray("text")} AS tokens FROM documents)"

  private val q1Agg =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
      |count(*) AS cnt, avg(l_quantity) AS avg_qty
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val qCount = "SELECT count(*) AS cnt FROM lineitem"

  private val qTopkEvents =
    """SELECT event_type, count(*) AS cnt FROM events
      |GROUP BY 1 ORDER BY cnt DESC, event_type LIMIT 5""".stripMargin

  private val qDedupLatest =
    """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, event_type
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  private val qAntiJoin =
    """SELECT c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  private val qValidationCounts =
    """SELECT total, bad_type, bad_value, bad_user, bad_ts, bad_props, n_valid,
      |       printf('%.4f', 100.0 * n_valid / total) AS pct_valid
      |FROM (SELECT count(*) AS total,
      |  count(*) FILTER (WHERE NOT (event_type IN ('click','view','purchase','signup'))) AS bad_type,
      |  count(*) FILTER (WHERE NOT (value BETWEEN 0.0 AND 300.0)) AS bad_value,
      |  count(*) FILTER (WHERE NOT (user_id > 0)) AS bad_user,
      |  count(*) FILTER (WHERE NOT (ts <= TIMESTAMP '2026-01-01 00:00:00')) AS bad_ts,
      |  count(*) FILTER (WHERE NOT (length(props) <= 100)) AS bad_props,
      |  count(*) FILTER (WHERE event_type IN ('click','view','purchase','signup')
      |    AND value BETWEEN 0.0 AND 300.0 AND user_id > 0
      |    AND ts <= TIMESTAMP '2026-01-01 00:00:00' AND length(props) <= 100) AS n_valid
      |  FROM events)""".stripMargin

  private val qWarningsTop =
    """SELECT msg, count(*) AS cnt FROM (
      |  SELECT unnest([
      |    CASE WHEN value > 250.0 THEN 'w_value_high' END,
      |    CASE WHEN event_type = 'error' THEN 'w_error_event' END,
      |    CASE WHEN hour(ts) < 6 THEN 'w_offhours' END,
      |    CASE WHEN try_cast(json_extract_string(props, '$.k') AS INTEGER) > 90 THEN 'w_k_high' END
      |  ]) AS msg FROM events)
      |WHERE msg IS NOT NULL
      |GROUP BY 1 ORDER BY cnt DESC, msg LIMIT 10""".stripMargin

  private val qJsonCoercion =
    """SELECT event_id,
      |  try_cast(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
      |  try_cast(json_extract_string(props, '$.missing') AS INTEGER) AS k_missing
      |FROM events ORDER BY event_id""".stripMargin

  private val qSampleHead =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |ORDER BY l_orderkey, l_linenumber LIMIT 1000""".stripMargin

  private val qWindowRunning =
    """SELECT user_id, seq, event_id, printf('%.4f', running_value) AS running_value
      |FROM (SELECT user_id, event_id,
      |        sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_value,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
      |      FROM events)
      |WHERE seq <= 5 ORDER BY user_id, seq""".stripMargin

  private val qRollup =
    """SELECT coalesce(event_type, '__total__') AS event_type, count(*) AS cnt
      |FROM events GROUP BY ROLLUP (event_type) ORDER BY 1""".stripMargin

  private val qDistinct =
    """SELECT count(DISTINCT user_id) AS n_users,
      |       count(DISTINCT event_type) AS n_types,
      |       count(DISTINCT (user_id, event_type)) AS n_user_type
      |FROM events""".stripMargin

  private val qSetOps =
    """WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
      |buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |SELECT user_id, 'click_only' AS relation FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
      |UNION ALL
      |SELECT user_id, 'both' AS relation FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
      |ORDER BY relation, user_id""".stripMargin

  private val qSessionize =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch(date_trunc('second', ts))::BIGINT -
      |              epoch(date_trunc('second', lag(ts) OVER w))::BIGINT > 600
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_seq
      |  FROM g)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- full-text engine ---------------------------------------------------

  /** tokl/post pipeline over a given `toks` CTE — written ONCE so the
    * documents and code-corpus oracles cannot drift. */
  private def postPipeline(withClause: String): String =
    s"""$withClause,
       |tokl AS (SELECT doc_id, len(tokens)::BIGINT AS doclen, unnest(tokens) AS term FROM toks),
       |post AS (SELECT term, doc_id, doclen, count(*) AS tf FROM tokl GROUP BY 1, 2, 3)""".stripMargin

  private val postCte = postPipeline(s"WITH $toksCte")

  /** The input_hint code corpus, synthesized EXACTLY as
    * graft.sources.CodeCorpus does (same concats, same sha256 slices,
    * same newline-delimited key, same 60-bit surrogate — DuckDB's
    * ('0x'||hex)::BIGINT mirrors Spark's conv(hex,16,10)). */
  private val codeCte =
    """code AS (
      |  SELECT concat('repo-', source) AS repo,
      |    concat('src/', lang, '/doc_', CAST(doc_id AS VARCHAR), '.txt') AS path,
      |    substring(sha256(concat('c|', CAST(doc_id AS VARCHAR))), 1, 40) AS "commit",
      |    lang, text AS content
      |  FROM documents),
      |keyed AS (
      |  SELECT *, sha256(concat_ws(chr(10), repo, path, "commit")) AS doc_key FROM code),
      |codeids AS (
      |  SELECT CAST(('0x' || substring(doc_key, 1, 15)) AS BIGINT) AS doc_id, *
      |  FROM keyed)""".stripMargin

  /** Postings CTE over the code corpus (content column, surrogate ids). */
  private val codePostCte = postPipeline(
    s"""WITH $codeCte,
       |toks AS (SELECT doc_id, ${CodeTokenizer.sqlTokenArray("content")} AS tokens FROM codeids)""".stripMargin)

  private val codeDocmap =
    s"""WITH $codeCte
       |SELECT doc_id, repo, path, "commit", lang, sha256(content) AS sha
       |FROM codeids ORDER BY doc_id""".stripMargin

  private val ftPostings =
    s"$postCte SELECT term, doc_id, doclen, tf FROM post ORDER BY term, doc_id"

  private val ftDoclen =
    s"WITH $toksCte SELECT doc_id, len(tokens)::BIGINT AS doclen FROM toks ORDER BY doc_id"

  private val ftStats =
    s"WITH $toksCte SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks"

  private val ftDf =
    s"$postCte SELECT term, count(*) AS df FROM post GROUP BY 1 ORDER BY df DESC, term"

  private def ftBm25(conjunctive: Boolean = false,
                     srcCte: String = postCte): String = {
    val pairs = SparkEntry.FtQuerySet.flatMap { case (qid, text) =>
      val ts = CodeTokenizer.queryTerms(text)
      ts.map(t => s"($qid, '$t', ${ts.size})")
    }
    val having = if (conjunctive) " HAVING count(*) = max(n_terms)" else ""
    val (k1, b) = (cfg.k1, cfg.b)
    s"""$srcCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |q(qid, term, n_terms) AS (VALUES ${pairs.mkString(", ")}),
       |wts AS (
       |  SELECT q.qid, p.term, p.doc_id, q.n_terms,
       |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ($k1 + 1.0)) /
       |      (p.tf + $k1 * ((1.0 - $b) + ($b * p.doclen) / s.avgdl)) AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score
       |       FROM wts GROUP BY 1, 2$having),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM sc)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** Standard BM25 weight expression over aliases p (postings), d (dfp),
    * s (stats) — the exact shape ftBm25 uses (association mirrored in
    * BM25.weight). */
  private def wExpr: String = {
    val (k1, b) = (cfg.k1, cfg.b)
    s"""ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ($k1 + 1.0)) /
       |      (p.tf + $k1 * ((1.0 - $b) + ($b * p.doclen) / s.avgdl))""".stripMargin
  }

  /** Shared tail: score expanded/selected (qid, term) rows against the
    * postings and rank top-k — used by the prefix/fuzzy/mlt oracles.
    * `expCte` must define exp(qid, term[, src_doc]); `extraWhere` lets
    * mlt exclude its source doc. */
  private def expansionScored(expCte: String, extraWhere: String = ""): String =
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |$expCte,
       |wts AS (
       |  SELECT e.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN exp e ON p.term = e.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s$extraWhere),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM wts GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM sc)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin

  /** ES bool query oracle: must/should score (term-ordered sum with
    * +0.0 in place of non-scoring roles — exact, so bit-equal to the
    * engine's skip-fold), filter requires without scoring, must_not
    * excludes, minimum_should_match = 1 only when no must/filter. */
  private def ftBool: String = {
    val rows = SparkEntry.BoolQuerySet.flatMap { bq =>
      bq.analyzed.map { case (t, role) =>
        s"(${bq.qid}, '$t', '$role', ${bq.nMust}, ${bq.nFilter}, ${bq.msm})"
      }
    }
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |q(qid, term, role, n_must, n_filter, n_msm) AS (VALUES ${rows.mkString(", ")}),
       |wts AS (
       |  SELECT q.qid, q.role, q.n_must, q.n_filter, q.n_msm, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (
       |  SELECT qid, doc_id,
       |    sum(CASE WHEN role IN ('must','should') THEN w ELSE 0.0 END ORDER BY term) AS score,
       |    count(*) FILTER (WHERE role = 'must') AS must_got,
       |    count(*) FILTER (WHERE role = 'filter') AS filter_got,
       |    count(*) FILTER (WHERE role = 'must_not') AS not_got,
       |    count(*) FILTER (WHERE role = 'should') AS should_got,
       |    max(n_must) AS n_must, max(n_filter) AS n_filter, max(n_msm) AS n_msm
       |  FROM wts GROUP BY 1, 2),
       |cand AS (
       |  SELECT * FROM sc
       |  WHERE must_got = n_must AND filter_got = n_filter AND not_got = 0
       |    AND should_got >= n_msm),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM cand)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** ES prefix query oracle: lexicographic-first maxExpansions matching
    * terms (Lucene term-dict order), scored as a disjunction. */
  private def ftPrefix: String = {
    val selects = SparkEntry.PrefixQuerySet.map { case (qid, p0) =>
      val p = p0.trim.toLowerCase(java.util.Locale.ROOT)
      s"""SELECT $qid AS qid, term FROM (
         |    SELECT term FROM dfp WHERE term LIKE '$p%'
         |    ORDER BY term LIMIT ${graft.query.QueryDsl.MaxExpansions})""".stripMargin
    }
    expansionScored(s"exp AS (${selects.mkString("\n  UNION ALL\n")})")
  }

  /** ES fuzzy query oracle: classic-Levenshtein expansion at AUTO
    * distance, highest-df-first (ties term-asc), capped, scored as a
    * disjunction with each expansion's own df. */
  private def ftFuzzy: String = {
    val selects = SparkEntry.FuzzyQuerySet.map { case (qid, t0) =>
      val t = t0.trim.toLowerCase(java.util.Locale.ROOT)
      val d = graft.query.QueryDsl.autoFuzziness(t)
      s"""SELECT $qid AS qid, term FROM (
         |    SELECT term FROM dfp
         |    WHERE abs(len(term) - ${t.length}) <= $d AND levenshtein(term, '$t') <= $d
         |    ORDER BY df DESC, term LIMIT ${graft.query.QueryDsl.MaxExpansions})""".stripMargin
    }
    expansionScored(s"exp AS (${selects.mkString("\n  UNION ALL\n")})")
  }

  /** ES wildcard oracle: LIKE translation of the pattern (* -> %,
    * ? -> _; tokens are [a-z0-9] so no escaping arises),
    * lexicographic-first cap, scored as a disjunction. */
  private def ftWildcard: String = {
    val selects = SparkEntry.WildcardQuerySet.map { case (qid, p0) =>
      val p = p0.trim.toLowerCase(java.util.Locale.ROOT)
        .replace("*", "%").replace("?", "_")
      s"""SELECT $qid AS qid, term FROM (
         |    SELECT term FROM dfp WHERE term LIKE '$p'
         |    ORDER BY term LIMIT ${graft.query.QueryDsl.MaxExpansions})""".stripMargin
    }
    expansionScored(s"exp AS (${selects.mkString("\n  UNION ALL\n")})")
  }

  /** ES search_after oracle — the DELIBERATELY different formulation:
    * the oracle ranks the full scored set with a window and slices
    * ranks (k, 2k], where the engine restricts by the page-1 cursor
    * tuple and runs an independent bounded top-k (no offset sort).
    * Identical output iff the engine's cursor arithmetic (strict
    * tuple-after on score desc, doc_id asc) is exact. */
  private def ftSearchAfter: String = {
    val pairs = SparkEntry.SearchAfterQuerySet.flatMap { case (qid, text) =>
      val ts = CodeTokenizer.queryTerms(text)
      ts.map(t => s"($qid, '$t', ${ts.size})")
    }
    val k = cfg.topK
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |q(qid, term, n_terms) AS (VALUES ${pairs.mkString(", ")}),
       |wts AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM wts GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |       FROM sc)
       |SELECT qid, (r - $k)::BIGINT AS "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE r > $k AND r <= ${2 * k} ORDER BY qid, "rank"""".stripMargin
  }

  /** ES stats-agg oracle: count/min/max/sum of n_chars over distinct
    * matching docs; avg = sum/count with both sides exactly
    * represented, so the IEEE division matches the engine bit-for-bit. */
  private def ftStatsAgg: String = {
    val pairs = SparkEntry.StatsAggQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |matched AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term)
       |SELECT m.qid, count(*)::BIGINT AS doc_count,
       |  min(d.n_chars) AS min_v, max(d.n_chars) AS max_v,
       |  sum(d.n_chars)::BIGINT AS sum_v,
       |  printf('%.9f', sum(d.n_chars)::BIGINT::DOUBLE / count(*)::BIGINT) AS avg_v
       |FROM matched m JOIN documents d ON m.doc_id = d.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** ES multi_match best_fields oracle: each field scores with its own
    * postings/df/avgdl (term-ascending fold per field, the shared
    * discipline), combined score = max over fields via UNION ALL +
    * max() — the engine's union + max aggregation, bit-equal. */
  private def ftMultiMatch: String = {
    val pairs = SparkEntry.MultiMatchQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |toks2 AS (SELECT doc_id, ${CodeTokenizer.sqlTokenArray("source")} AS tokens FROM documents),
       |tokl2 AS (SELECT doc_id, len(tokens)::BIGINT AS doclen, unnest(tokens) AS term FROM toks2),
       |post2 AS (SELECT term, doc_id, doclen, count(*) AS tf FROM tokl2 GROUP BY 1, 2, 3),
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |stats2 AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks2),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |dfp2 AS (SELECT term, count(*) AS df FROM post2 GROUP BY 1),
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |w1 AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |w2 AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post2 p JOIN q ON p.term = q.term JOIN dfp2 d ON p.term = d.term
       |  CROSS JOIN stats2 s),
       |sc1 AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM w1 GROUP BY 1, 2),
       |sc2 AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM w2 GROUP BY 1, 2),
       |best AS (
       |  SELECT qid, doc_id, max(score) AS score
       |  FROM (SELECT * FROM sc1 UNION ALL SELECT * FROM sc2) GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM best)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** ES histogram-agg oracle: exact integer floor-bucketing
    * (v - v % interval), min_doc_count=0 gap fill via inclusive
    * generate_series over each query's [min, max] key span (DuckDB
    * generate_series is end-inclusive, like Spark sequence — NOT
    * range()). */
  private def ftHistogramAgg: String = {
    val pairs = SparkEntry.HistogramQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    val i = SparkEntry.HistogramInterval
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |occ AS (SELECT m.qid, d.n_chars - (d.n_chars % $i) AS key, count(*) AS doc_count
       |        FROM m JOIN documents d ON m.doc_id = d.doc_id GROUP BY 1, 2),
       |bounds AS (SELECT qid, min(key) AS lo, max(key) AS hi FROM occ GROUP BY 1),
       |span AS (SELECT qid, unnest(generate_series(lo, hi, $i)) AS key FROM bounds)
       |SELECT s.qid, s.key::BIGINT AS key, coalesce(o.doc_count, 0)::BIGINT AS doc_count
       |FROM span s LEFT JOIN occ o ON s.qid = o.qid AND s.key = o.key
       |ORDER BY 1, 2""".stripMargin
  }

  /** ES cardinality-agg oracle: exact distinct count of source over
    * the matching set (the engine's documented exact formulation). */
  private def ftCardinalityAgg: String = {
    val pairs = SparkEntry.HistogramQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term)
       |SELECT m.qid, count(DISTINCT d.source) AS cardinality
       |FROM m JOIN documents d ON m.doc_id = d.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** ES sub-aggregation-tree oracle: terms buckets with nested
    * count/sum/avg — avg printed %.9f (ratio of small ints; the
    * stats-agg discipline). */
  private def ftTermsStats: String = {
    val pairs = SparkEntry.TermsAggQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |b AS (SELECT m.qid, d.source AS bucket, count(*) AS cnt,
       |        sum(d.n_chars)::BIGINT AS sum_v
       |      FROM m JOIN documents d ON m.doc_id = d.doc_id GROUP BY 1, 2),
       |rk AS (SELECT qid, bucket, cnt, sum_v,
       |         row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, bucket) AS "rank"
       |       FROM b)
       |SELECT qid, "rank", bucket, cnt, sum_v,
       |  printf('%.9f', sum_v::DOUBLE / cnt) AS avg_v
       |FROM rk WHERE "rank" <= 10 ORDER BY qid, "rank"""".stripMargin
  }

  /** ES percentiles oracle: DuckDB quantile_cont == Spark percentile
    * (both the R-7/type-7 linear-interpolation estimator); quarter
    * percentiles keep interpolation fractions dyadic so the doubles
    * are exact on both engines. */
  private def ftPercentiles: String = {
    val pairs = SparkEntry.HistogramQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |ps AS (SELECT m.qid,
       |         quantile_cont(d.n_chars, [0.25, 0.5, 0.75]) AS l
       |       FROM m JOIN documents d ON m.doc_id = d.doc_id GROUP BY 1)
       |SELECT qid, printf('%.4f', l[1]) AS p25, printf('%.4f', l[2]) AS p50,
       |  printf('%.4f', l[3]) AS p75
       |FROM ps ORDER BY qid""".stripMargin
  }

  /** ES significant_terms oracle: JLH = (fgp - bgp) * (fgp / bgp) with
    * the identical IEEE expression order as the engine; fgp > bgp
    * buckets only; rank score desc, bucket asc. */
  /** ES dis_max oracle: per-field scores exactly as ftMultiMatch (own
    * postings/df/avgdl per field, term-ascending fold), tagged with the
    * field index; combined = best + tie_breaker * (sum - best) with the
    * sum folding in FIELD order — the engine's sorted (fld, score) fold
    * is `sum(score ORDER BY fld)`, bit-equal. */
  private def ftDisMax: String = {
    val pairs = SparkEntry.MultiMatchQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    val tb = SparkEntry.DisMaxTieBreaker
    s"""$postCte,
       |toks2 AS (SELECT doc_id, ${CodeTokenizer.sqlTokenArray("source")} AS tokens FROM documents),
       |tokl2 AS (SELECT doc_id, len(tokens)::BIGINT AS doclen, unnest(tokens) AS term FROM toks2),
       |post2 AS (SELECT term, doc_id, doclen, count(*) AS tf FROM tokl2 GROUP BY 1, 2, 3),
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |stats2 AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks2),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |dfp2 AS (SELECT term, count(*) AS df FROM post2 GROUP BY 1),
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |w1 AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |w2 AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post2 p JOIN q ON p.term = q.term JOIN dfp2 d ON p.term = d.term
       |  CROSS JOIN stats2 s),
       |sc1 AS (SELECT qid, doc_id, 0 AS fld, sum(w ORDER BY term) AS score FROM w1 GROUP BY 1, 2),
       |sc2 AS (SELECT qid, doc_id, 1 AS fld, sum(w ORDER BY term) AS score FROM w2 GROUP BY 1, 2),
       |comb AS (
       |  SELECT qid, doc_id,
       |    max(score) + $tb * (sum(score ORDER BY fld) - max(score)) AS score
       |  FROM (SELECT * FROM sc1 UNION ALL SELECT * FROM sc2) GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM comb)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** ES boosting-query oracle: positive match scored with the shared
    * term-ascending fold; docs also matching the negative query keep
    * eligibility with score * negative_boost (same IEEE multiply). */
  private def ftBoosting: String = {
    val pos = SparkEntry.BoostingQuerySet.flatMap { case (qid, p, _) =>
      CodeTokenizer.queryTerms(p).map(t => s"($qid, '$t')")
    }
    val neg = SparkEntry.BoostingQuerySet.flatMap { case (qid, _, ng) =>
      CodeTokenizer.queryTerms(ng).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |qp(qid, term) AS (VALUES ${pos.mkString(", ")}),
       |qn(qid, term) AS (VALUES ${neg.mkString(", ")}),
       |wts AS (
       |  SELECT qp.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN qp ON p.term = qp.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM wts GROUP BY 1, 2),
       |negm AS (SELECT DISTINCT qn.qid, p.doc_id FROM post p JOIN qn ON p.term = qn.term),
       |dem AS (
       |  SELECT sc.qid, sc.doc_id,
       |    CASE WHEN negm.doc_id IS NOT NULL
       |         THEN sc.score * ${SparkEntry.NegativeBoost} ELSE sc.score END AS score
       |  FROM sc LEFT JOIN negm ON sc.qid = negm.qid AND sc.doc_id = negm.doc_id),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM dem)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** ES constant_score oracle: filter-context match-any, every hit
    * scores exactly the boost, ranks tie-break doc_id asc. */
  private def ftConstantScore: String = {
    val pairs = SparkEntry.RangeQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |rk AS (SELECT qid, doc_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY doc_id) AS "rank"
       |       FROM m)
       |SELECT qid, "rank", doc_id,
       |  printf('%.4f', ${SparkEntry.ConstantScoreBoost}) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** ES regexp oracle: anchored full-term expansion
    * (regexp_full_match — RE2 agrees with Java on the query subset),
    * lexicographic-first cap, scored as a disjunction. */
  private def ftRegexp: String = {
    val selects = SparkEntry.RegexpQuerySet.map { case (qid, p0) =>
      val p = p0.trim.replace("'", "''")
      s"""SELECT $qid AS qid, term FROM (
         |    SELECT term FROM dfp WHERE regexp_full_match(term, '$p')
         |    ORDER BY term LIMIT ${graft.query.QueryDsl.MaxExpansions})""".stripMargin
    }
    expansionScored(s"exp AS (${selects.mkString("\n  UNION ALL\n")})")
  }

  /** ES range-agg oracle: the (query x range) grid is a VALUES literal;
    * membership from-inclusive / to-exclusive with NULL = open end;
    * empty buckets zero-fill via left join against the grid. */
  private def ftRangeAgg: String = {
    val pairs = SparkEntry.HistogramQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    def lit(o: Option[Long]) = o.map(_.toString).getOrElse("NULL::BIGINT")
    val grid = for {
      (qid, _) <- SparkEntry.HistogramQuerySet
      ((lo, hi), i) <- SparkEntry.RangeAggRanges.zipWithIndex
    } yield {
      val key = s"${lo.map(_.toString).getOrElse("*")}-${hi.map(_.toString).getOrElse("*")}"
      s"($qid, $i, '$key', ${lit(lo)}, ${lit(hi)})"
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |vals AS (SELECT m.qid, d.n_chars::BIGINT AS v
       |         FROM m JOIN documents d ON m.doc_id = d.doc_id),
       |grid(qid, ridx, key, lo, hi) AS (VALUES ${grid.mkString(", ")}),
       |cnts AS (
       |  SELECT g.qid, g.ridx, count(*) AS cnt
       |  FROM vals v JOIN grid g ON v.qid = g.qid
       |    AND (g.lo IS NULL OR v.v >= g.lo) AND (g.hi IS NULL OR v.v < g.hi)
       |  GROUP BY 1, 2)
       |SELECT g.qid, g.ridx::INT AS ridx, g.key,
       |  coalesce(c.cnt, 0)::BIGINT AS doc_count
       |FROM grid g LEFT JOIN cnts c ON g.qid = c.qid AND g.ridx = c.ridx
       |ORDER BY g.qid, g.ridx""".stripMargin
  }

  /** ES top_hits oracle: shared match scoring, then a window
    * partitioned by (qid, bucket) — the top hitsPerBucket docs inside
    * each lang bucket. */
  private def ftTopHits: String = {
    val pairs = SparkEntry.TermsAggQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |wts AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM wts GROUP BY 1, 2),
       |bk AS (
       |  SELECT sc.qid, d.lang AS bucket, sc.doc_id, sc.score,
       |    row_number() OVER (PARTITION BY sc.qid, d.lang
       |                       ORDER BY sc.score DESC, sc.doc_id) AS hit_rank
       |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id)
       |SELECT qid, bucket, hit_rank::BIGINT AS hit_rank, doc_id,
       |  printf('%.4f', score) AS score
       |FROM bk WHERE hit_rank <= ${SparkEntry.TopHitsPerBucket}
       |ORDER BY qid, bucket, hit_rank""".stripMargin
  }

  /** ES extended_stats oracle: exact integer count/min/max/sum/sum_sq;
    * avg, variance (ES population formula sum2/n - avg^2) and std_dev
    * (sqrt of the clamped variance) as the same IEEE expressions the
    * engine computes, over exactly-represented operands. */
  private def ftExtendedStats: String = {
    val pairs = SparkEntry.StatsAggQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |base AS (
       |  SELECT m.qid, count(*)::BIGINT AS doc_count,
       |    min(d.n_chars) AS min_v, max(d.n_chars) AS max_v,
       |    sum(d.n_chars)::BIGINT AS sum_v,
       |    sum(d.n_chars::BIGINT * d.n_chars::BIGINT)::BIGINT AS sum_sq
       |  FROM m JOIN documents d ON m.doc_id = d.doc_id GROUP BY 1),
       |derived AS (
       |  SELECT *, sum_v::DOUBLE / doc_count AS avg_v FROM base),
       |derived2 AS (
       |  SELECT *, sum_sq::DOUBLE / doc_count - avg_v * avg_v AS variance FROM derived)
       |SELECT qid, doc_count, min_v, max_v, sum_v, sum_sq,
       |  printf('%.9f', avg_v) AS avg_v,
       |  printf('%.9f', variance) AS variance,
       |  printf('%.4f', sqrt(greatest(variance, 0.0))) AS std_dev
       |FROM derived2 ORDER BY qid""".stripMargin
  }

  /** ES _explain oracle: the shared weight expression re-emitted per
    * (term, doc) row for each query's rank-1 doc — tf, df, doclen, the
    * idf component, and the full BM25 weight. */
  private def ftExplain: String = {
    val pairs = SparkEntry.ExplainQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |wts AS (
       |  SELECT q.qid, p.term, p.doc_id, p.tf, d.df, p.doclen,
       |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) AS idf, $wExpr AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM wts GROUP BY 1, 2),
       |top1 AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |    FROM sc) WHERE r = 1)
       |SELECT w.qid, w.doc_id, w.term, w.tf::BIGINT AS tf, w.df::BIGINT AS df,
       |  w.doclen::BIGINT AS doclen,
       |  printf('%.4f', w.idf) AS idf, printf('%.4f', w.w) AS w
       |FROM wts w JOIN top1 t ON w.qid = t.qid AND w.doc_id = t.doc_id
       |ORDER BY w.qid, w.term""".stripMargin
  }

  /** query_string oracle — compiled from the SAME
    * [[graft.query.QueryDsl.parseQueryString]] parse as the engine (the
    * shared-constants discipline): literal role rows as VALUES, prefix
    * expansions as LIKE-limit selects over the term dictionary, the
    * bool counter algebra, and phrase adjacency via the token-array
    * n-gram EXISTS idiom; required-phrase counting and exclusion mirror
    * the engine's req/excl joins. */
  private def ftQueryString: String = {
    import graft.query.QueryDsl
    import graft.query.QueryDsl.{QsPhrase, QsPrefix, QsTerm}
    val parsed = SparkEntry.QueryStringQuerySet.map { case (qid, s) =>
      qid -> QueryDsl.parseQueryString(s)
    }
    val termRows = parsed.flatMap { case (qid, cls) =>
      cls.flatMap {
        case QsTerm(role, text) => CodeTokenizer.queryTerms(text).map(t => (qid, t, role))
        case QsPhrase("must_not", _) => Nil
        case QsPhrase(_, text) => CodeTokenizer.queryTerms(text).map(t => (qid, t, "must"))
        case QsPrefix(_, _) => Nil
      }
    }.distinct
    val nMust = termRows.filter(_._3 == "must").groupBy(_._1).view.mapValues(_.size).toMap
    val qids = parsed.map(_._1)
    val metaVals = qids.map { q =>
      val m = nMust.getOrElse(q, 0)
      s"($q, $m, ${if (m > 0) 0 else 1})"
    }
    val litVals = termRows.map { case (q, t, r) => s"($q, '$t', '$r')" }
    val prefixSelects = parsed.flatMap { case (qid, cls) =>
      cls.collect { case QsPrefix(role, p0) =>
        val p = p0.toLowerCase(java.util.Locale.ROOT)
        s"""SELECT $qid AS qid, term, '$role' AS role FROM (
           |    SELECT term FROM dfp WHERE term LIKE '$p%'
           |    ORDER BY term LIMIT ${QueryDsl.MaxExpansions})""".stripMargin
      }
    }
    // a degenerate WHERE-false arm keeps the SQL valid if a future
    // query set has no literal terms (the engine guards the same case)
    val litArm =
      if (litVals.isEmpty)
        "SELECT NULL::INT AS qid, NULL::VARCHAR AS term, NULL::VARCHAR AS role WHERE false"
      else s"SELECT qid, term, role FROM (VALUES ${litVals.mkString(", ")}) v(qid, term, role)"
    val rolesSrc = (Seq(litArm) ++ prefixSelects).mkString("\n  UNION ALL\n  ")
    val phrases = parsed.flatMap { case (qid, cls) =>
      cls.collect { case QsPhrase(role, text) =>
        (qid, role, CodeTokenizer.tokenize(text).toSeq)
      }
    }.filter(_._3.nonEmpty)
    val phraseSelects = phrases.zipWithIndex.map { case ((qid, role, terms), pid) =>
      val m = terms.length
      val gram = (0 until m).map(j => s"tokens[i+$j]").mkString(" || ' ' || ")
      s"""SELECT $qid AS qid, $pid AS pid, '$role' AS role, doc_id FROM toks
         |  WHERE list_contains(list_transform(range(1, greatest(len(tokens) - $m + 2, 1)),
         |    i -> $gram), '${terms.mkString(" ")}')""".stripMargin
    }
    val nReq = phrases.filter(_._2 != "must_not").groupBy(_._1).view.mapValues(_.size).toMap
    val nreqVals = qids.map(q => s"($q, ${nReq.getOrElse(q, 0)})")
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |roles AS (SELECT DISTINCT qid, term, role FROM (
       |  $rolesSrc)),
       |meta(qid, n_must, n_msm) AS (VALUES ${metaVals.mkString(", ")}),
       |wts AS (
       |  SELECT r.qid, r.role, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN roles r ON p.term = r.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (
       |  SELECT qid, doc_id,
       |    sum(CASE WHEN role IN ('must','should') THEN w ELSE 0.0 END ORDER BY term) AS score,
       |    count(*) FILTER (WHERE role = 'must') AS must_got,
       |    count(*) FILTER (WHERE role = 'must_not') AS not_got,
       |    count(*) FILTER (WHERE role = 'should') AS should_got
       |  FROM wts GROUP BY 1, 2),
       |cand AS (
       |  SELECT sc.qid, sc.doc_id, sc.score FROM sc JOIN meta ON sc.qid = meta.qid
       |  WHERE must_got = n_must AND not_got = 0 AND should_got >= n_msm),
       |ph AS (${if (phraseSelects.isEmpty)
        "SELECT NULL::INT AS qid, NULL::INT AS pid, NULL::VARCHAR AS role, NULL::BIGINT AS doc_id WHERE false"
      else phraseSelects.mkString("\n  UNION ALL\n  ")}),
       |req AS (SELECT qid, doc_id, count(DISTINCT pid) AS req_got
       |        FROM ph WHERE role <> 'must_not' GROUP BY 1, 2),
       |excl AS (SELECT DISTINCT qid, doc_id FROM ph WHERE role = 'must_not'),
       |nreq(qid, n_req) AS (VALUES ${nreqVals.mkString(", ")}),
       |fin AS (
       |  SELECT c.qid, c.doc_id, c.score FROM cand c
       |  JOIN nreq n ON c.qid = n.qid
       |  LEFT JOIN req r ON c.qid = r.qid AND c.doc_id = r.doc_id
       |  LEFT JOIN excl e ON c.qid = e.qid AND c.doc_id = e.doc_id
       |  WHERE coalesce(r.req_got, 0) = n.n_req AND e.doc_id IS NULL),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM fin)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** Composite-agg oracle — the deliberately different formulation
    * (searchAfter's discipline pointed at buckets): rank ALL buckets
    * (k1, k2)-asc with a window and slice ranks (size, 2*size], where
    * the engine restricts by the page-1 after-key and runs a bounded
    * min-k. Identity proves the cursor tuple arithmetic. */
  private def ftCompositeAgg: String = {
    val pairs = SparkEntry.TermsAggQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    val sz = SparkEntry.CompositePageSize
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |b AS (SELECT m.qid, d.lang AS k1, d.source AS k2, count(*) AS cnt
       |      FROM m JOIN documents d ON m.doc_id = d.doc_id GROUP BY 1, 2, 3),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY k1, k2) AS r FROM b)
       |SELECT qid, (r - $sz)::BIGINT AS page_rank, k1, k2, cnt::BIGINT AS doc_count
       |FROM rk WHERE r > $sz AND r <= ${2 * sz} ORDER BY qid, page_rank""".stripMargin
  }

  /** Filters-agg oracle: one count FILTER per named predicate, all on
    * the single matching-set group. */
  private def ftFiltersAgg: String = {
    val pairs = SparkEntry.TermsAggQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term)
       |SELECT m.qid,
       |  count(*) FILTER (WHERE d.n_chars < 200) AS short_docs,
       |  count(*) FILTER (WHERE d.lang = 'en') AS en_docs,
       |  count(*) FILTER (WHERE d.n_chars >= 400) AS big_docs
       |FROM m JOIN documents d ON m.doc_id = d.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Rescore oracle: base match scores, window = rank <= windowSize,
    * adjacency via the n-gram EXISTS idiom, secondary = member-term
    * fold restricted to window+adjacency docs, final = 1.0 * base +
    * 1.0 * coalesce(sec, 0.0) — the engine's exact expression (ES
    * total mode, default weights). */
  private def ftRescore: String = {
    val basePairs = SparkEntry.RescoreQuerySet.flatMap { case (qid, text, _) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    val phrases = SparkEntry.RescoreQuerySet.map { case (qid, _, ph) =>
      (qid, CodeTokenizer.tokenize(ph).toSeq)
    }.filter(_._2.nonEmpty)
    val adjSelects = phrases.map { case (qid, terms) =>
      val m = terms.length
      val gram = (0 until m).map(j => s"tokens[i+$j]").mkString(" || ' ' || ")
      s"""SELECT $qid AS qid, doc_id FROM toks
         |  WHERE list_contains(list_transform(range(1, greatest(len(tokens) - $m + 2, 1)),
         |    i -> $gram), '${terms.mkString(" ")}')""".stripMargin
    }
    val secPairs = phrases.flatMap { case (qid, ts) =>
      ts.distinct.map(t => s"($qid, '$t')")
    }
    val win = SparkEntry.RescoreWindow
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |bq(qid, term) AS (VALUES ${basePairs.mkString(", ")}),
       |bw AS (
       |  SELECT bq.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN bq ON p.term = bq.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |bsc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM bw GROUP BY 1, 2),
       |win AS (SELECT qid, doc_id, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |  FROM bsc) WHERE r <= $win),
       |adj AS (${adjSelects.mkString("\n  UNION ALL\n  ")}),
       |sq(qid, term) AS (VALUES ${secPairs.mkString(", ")}),
       |sw AS (
       |  SELECT sq.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN sq ON p.term = sq.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |ssc AS (
       |  SELECT sw.qid, sw.doc_id, sum(sw.w ORDER BY sw.term) AS sec
       |  FROM sw
       |  JOIN win ON sw.qid = win.qid AND sw.doc_id = win.doc_id
       |  JOIN adj ON sw.qid = adj.qid AND sw.doc_id = adj.doc_id
       |  GROUP BY 1, 2),
       |fin AS (
       |  SELECT win.qid, win.doc_id,
       |    1.0 * win.score + 1.0 * coalesce(ssc.sec, 0.0) AS score
       |  FROM win LEFT JOIN ssc ON win.qid = ssc.qid AND win.doc_id = ssc.doc_id),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM fin)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** Term-suggester oracle: dictionary candidates within 2 classic
    * edits (input excluded), ranked (dist, df desc, term), top 5. */
  private def ftSuggest: String = {
    val pairs = SparkEntry.SuggestQuerySet.map { case (qid, t) =>
      s"($qid, '${t.trim.toLowerCase(java.util.Locale.ROOT)}')"
    }
    s"""$postCte,
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |q(qid, input) AS (VALUES ${pairs.mkString(", ")}),
       |cand AS (
       |  SELECT q.qid, d.term, d.df, levenshtein(d.term, q.input) AS dist
       |  FROM dfp d JOIN q ON d.term <> q.input
       |    AND abs(len(d.term) - len(q.input)) <= 2
       |    AND levenshtein(d.term, q.input) <= 2),
       |rk AS (SELECT *, row_number() OVER (
       |         PARTITION BY qid ORDER BY dist, df DESC, term) AS "rank" FROM cand)
       |SELECT qid, "rank", term AS suggestion, dist::BIGINT AS dist, df
       |FROM rk WHERE "rank" <= 5 ORDER BY qid, "rank"""".stripMargin
  }

  /** Boosted multi_match oracle: ftMultiMatch with each field's
    * term-ascending fold multiplied by its boost BEFORE the max —
    * the engine's fold-then-multiply, bit-equal. */
  private def ftBoostedFields: String = {
    val pairs = SparkEntry.MultiMatchQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    val b1 = SparkEntry.BoostedFieldsBoosts.head
    val b2 = SparkEntry.BoostedFieldsBoosts(1)
    s"""$postCte,
       |toks2 AS (SELECT doc_id, ${CodeTokenizer.sqlTokenArray("source")} AS tokens FROM documents),
       |tokl2 AS (SELECT doc_id, len(tokens)::BIGINT AS doclen, unnest(tokens) AS term FROM toks2),
       |post2 AS (SELECT term, doc_id, doclen, count(*) AS tf FROM tokl2 GROUP BY 1, 2, 3),
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |stats2 AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks2),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |dfp2 AS (SELECT term, count(*) AS df FROM post2 GROUP BY 1),
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |w1 AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |w2 AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post2 p JOIN q ON p.term = q.term JOIN dfp2 d ON p.term = d.term
       |  CROSS JOIN stats2 s),
       |sc1 AS (SELECT qid, doc_id, sum(w ORDER BY term) * $b1 AS score FROM w1 GROUP BY 1, 2),
       |sc2 AS (SELECT qid, doc_id, sum(w ORDER BY term) * $b2 AS score FROM w2 GROUP BY 1, 2),
       |best AS (
       |  SELECT qid, doc_id, max(score) AS score
       |  FROM (SELECT * FROM sc1 UNION ALL SELECT * FROM sc2) GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM best)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** has_child oracle (score_mode=sum): child match scores roll up per
    * (qid, source parent) with the child-ordered sum — the engine's
    * sorted (doc_id, score) fold is `sum(score ORDER BY doc_id)`,
    * bit-equal — ranked (score desc, parent asc). */
  private def ftHasChild: String = {
    val pairs = SparkEntry.TermsAggQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |wts AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM wts GROUP BY 1, 2),
       |par AS (
       |  SELECT sc.qid, d.source AS parent, sum(sc.score ORDER BY sc.doc_id) AS score
       |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id GROUP BY 1, 2),
       |rk AS (SELECT qid, parent, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, parent) AS "rank"
       |       FROM par)
       |SELECT qid, "rank", parent, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** function_score oracle (field_value_factor log1p multiply):
    * BM25 * ln(1 + factor * n_chars) — identical IEEE expression. */
  private def ftFunctionScore: String = {
    val pairs = SparkEntry.HistogramQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    val f = SparkEntry.FunctionScoreFactor
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |wts AS (
       |  SELECT q.qid, p.term, p.doc_id, $wExpr AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM wts GROUP BY 1, 2),
       |fs AS (
       |  SELECT sc.qid, sc.doc_id,
       |    sc.score * ln(1.0 + $f * d.n_chars::DOUBLE) AS score
       |  FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM fs)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  private def ftSigTerms: String = {
    val pairs = SparkEntry.TermsAggQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |fg AS (SELECT m.qid, d.lang AS bucket, count(*) AS fg_count
       |       FROM m JOIN documents d ON m.doc_id = d.doc_id GROUP BY 1, 2),
       |fgs AS (SELECT qid, count(*) AS fg_size FROM m GROUP BY 1),
       |bg AS (SELECT lang AS bucket, count(*) AS bg_count FROM documents GROUP BY 1),
       |bgs AS (SELECT count(*) AS bg_size FROM documents),
       |sc AS (
       |  SELECT fg.qid, fg.bucket, fg.fg_count,
       |    fg.fg_count::DOUBLE / fgs.fg_size AS fgp,
       |    bg.bg_count::DOUBLE / bgs.bg_size AS bgp
       |  FROM fg JOIN fgs ON fg.qid = fgs.qid JOIN bg ON fg.bucket = bg.bucket
       |  CROSS JOIN bgs),
       |scored AS (
       |  SELECT qid, bucket, fg_count, (fgp - bgp) * (fgp / bgp) AS score
       |  FROM sc WHERE fgp > bgp),
       |rk AS (SELECT qid, bucket, fg_count, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, bucket) AS "rank"
       |       FROM scored)
       |SELECT qid, "rank", bucket, fg_count, printf('%.9f', score) AS score
       |FROM rk WHERE "rank" <= 10 ORDER BY qid, "rank"""".stripMargin
  }

  /** ES date_histogram oracle (calendar_interval=day): per-day counts
    * over matching events with generate_series day gap fill (DuckDB
    * generate_series over dates is end-inclusive, like Spark
    * sequence). */
  private def ftDateHistogram: String = {
    val pairs = SparkEntry.DateHistogramQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""WITH etoks AS (SELECT event_id AS doc_id, ${CodeTokenizer.sqlTokenArray("event_type")} AS tokens FROM events),
       |etokl AS (SELECT doc_id, unnest(tokens) AS term FROM etoks),
       |epost AS (SELECT term, doc_id FROM etokl GROUP BY 1, 2),
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM epost p JOIN q ON p.term = q.term),
       |occ AS (SELECT m.qid, date_trunc('day', e.ts)::DATE AS key, count(*) AS doc_count
       |        FROM m JOIN events e ON m.doc_id = e.event_id GROUP BY 1, 2),
       |bounds AS (SELECT qid, min(key) AS lo, max(key) AS hi FROM occ GROUP BY 1),
       |span AS (SELECT qid, unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP, INTERVAL 1 DAY))::DATE AS key
       |         FROM bounds)
       |SELECT s.qid, strftime(s.key, '%Y-%m-%d') AS day,
       |  coalesce(o.doc_count, 0)::BIGINT AS doc_count
       |FROM span s LEFT JOIN occ o ON s.qid = o.qid AND s.key = o.key
       |ORDER BY 1, 2""".stripMargin
  }

  /** Pipeline-agg oracle: the date-histogram buckets (gap-filled) with
    * cumulative_sum and derivative windows per qid — NULL derivative on
    * each query's first bucket, the ES contract. */
  private def ftPipelineAgg: String = {
    val pairs = SparkEntry.DateHistogramQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""WITH etoks AS (SELECT event_id AS doc_id, ${CodeTokenizer.sqlTokenArray("event_type")} AS tokens FROM events),
       |etokl AS (SELECT doc_id, unnest(tokens) AS term FROM etoks),
       |epost AS (SELECT term, doc_id FROM etokl GROUP BY 1, 2),
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM epost p JOIN q ON p.term = q.term),
       |occ AS (SELECT m.qid, date_trunc('day', e.ts)::DATE AS key, count(*) AS doc_count
       |        FROM m JOIN events e ON m.doc_id = e.event_id GROUP BY 1, 2),
       |bounds AS (SELECT qid, min(key) AS lo, max(key) AS hi FROM occ GROUP BY 1),
       |span AS (SELECT qid, unnest(generate_series(lo::TIMESTAMP, hi::TIMESTAMP, INTERVAL 1 DAY))::DATE AS key
       |         FROM bounds),
       |b AS (
       |  SELECT s.qid, strftime(s.key, '%Y-%m-%d') AS day,
       |    coalesce(o.doc_count, 0)::BIGINT AS doc_count
       |  FROM span s LEFT JOIN occ o ON s.qid = o.qid AND s.key = o.key)
       |SELECT qid, day, doc_count,
       |  (sum(doc_count) OVER (PARTITION BY qid ORDER BY day
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_count,
       |  (doc_count - lag(doc_count) OVER (PARTITION BY qid ORDER BY day))::BIGINT AS deriv
       |FROM b ORDER BY qid, day""".stripMargin
  }

  /** ES sort-by-field oracle: matching docs ranked by (n_chars desc,
    * doc_id asc) — a window formulation, deliberately different from
    * the engine's bounded top-k aggregation. */
  private def ftSortTopk: String = {
    val pairs = SparkEntry.HistogramQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |rk AS (SELECT m.qid, m.doc_id, d.n_chars AS sort_v,
       |         row_number() OVER (PARTITION BY m.qid ORDER BY d.n_chars DESC, m.doc_id) AS r
       |       FROM m JOIN documents d ON m.doc_id = d.doc_id)
       |SELECT qid, r::BIGINT AS "rank", doc_id, sort_v
       |FROM rk WHERE r <= ${cfg.topK} ORDER BY qid, r""".stripMargin
  }

  /** ES more_like_this oracle: top tf*idf source-doc terms (tf >=
    * MltMinTf, df >= MltMinDf, ties term-asc) as a disjunction, source
    * doc excluded. The interest product mirrors the engine: BIGINT tf *
    * DOUBLE idf -> the same double, so the selection order ties out. */
  private def ftMlt: String = {
    import graft.query.QueryDsl.{MltMaxTerms, MltMinDf, MltMinTf}
    val rows = SparkEntry.MltQuerySet.map { case (qid, doc) => s"($qid, $doc)" }
    val expCte =
      s"""qsrc(qid, src_doc) AS (VALUES ${rows.mkString(", ")}),
         |src AS (
         |  SELECT q.qid, p.term, q.src_doc,
         |    p.tf * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) AS interest
         |  FROM post p JOIN qsrc q ON p.doc_id = q.src_doc
         |  JOIN dfp d ON p.term = d.term CROSS JOIN stats s
         |  WHERE p.tf >= $MltMinTf AND d.df >= $MltMinDf),
         |exp AS (
         |  SELECT qid, term, src_doc FROM (
         |    SELECT qid, term, src_doc,
         |      row_number() OVER (PARTITION BY qid ORDER BY interest DESC, term) AS r
         |    FROM src) WHERE r <= $MltMaxTerms)""".stripMargin
    expansionScored(expCte, extraWhere = "\n  WHERE p.doc_id != e.src_doc")
  }

  /** ES range/filter-context oracle: full-corpus BM25 (filter context
    * never rescores), hits restricted to the structured predicate. */
  private def ftRange: String = {
    val pairs = SparkEntry.RangeQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    val pred = s"lang = '${SparkEntry.RangeLang}' AND n_chars " +
      s"BETWEEN ${SparkEntry.RangeLo} AND ${SparkEntry.RangeHi}"
    val expCte =
      s"""q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
         |allowed AS (SELECT doc_id FROM documents WHERE $pred),
         |exp AS (SELECT qid, term FROM q)""".stripMargin
    expansionScored(expCte,
      extraWhere = "\n  WHERE p.doc_id IN (SELECT doc_id FROM allowed)")
  }

  /** ES match_phrase_prefix oracle (slop 0): candidates via m-gram
    * containment where the last gram slot joins the capped
    * lexicographic prefix expansion (the SAME deliberately-different
    * formulation vs the engine's positional path as ftPhrase); scoring
    * over the exact leading terms via the shared scaffold. */
  private def ftPhrasePrefix: String = {
    val analyzed = SparkEntry.PhrasePrefixQuerySet.map { case (qid, text) =>
      val ts = CodeTokenizer.tokenize(text).toSeq
      require(ts.size >= 2, s"phrase-prefix query $qid needs >= 2 tokens")
      (qid, ts.init, ts.last)
    }
    val candSelects = analyzed.map { case (qid, exact, p) =>
      val m = exact.length + 1
      val gram = (0 until m).map(j => s"tokens[i+$j]").mkString(" || ' ' || ")
      s"""SELECT DISTINCT $qid AS qid, doc_id FROM toks, (
         |    SELECT term FROM dfp WHERE term LIKE '$p%'
         |    ORDER BY term LIMIT ${graft.query.QueryDsl.MaxExpansions}) e
         |  WHERE list_contains(list_transform(range(1, greatest(len(tokens) - $m + 2, 1)),
         |    i -> $gram), '${exact.mkString(" ")} ' || e.term)""".stripMargin
    }
    phraseScaffold(analyzed.map { case (qid, exact, _) => (qid, exact) }, candSelects)
  }

  /** ES terms-agg (facet) oracle: distinct matching docs per query,
    * bucketed by lang, ranked (count desc, key asc). */
  private def ftTermsAgg: String = {
    val pairs = SparkEntry.TermsAggQuerySet.flatMap { case (qid, text) =>
      CodeTokenizer.queryTerms(text).map(t => s"($qid, '$t')")
    }
    s"""$postCte,
       |q(qid, term) AS (VALUES ${pairs.mkString(", ")}),
       |m AS (SELECT DISTINCT q.qid, p.doc_id FROM post p JOIN q ON p.term = q.term),
       |b AS (SELECT m.qid, d.lang AS bucket, count(*) AS cnt
       |      FROM m JOIN documents d ON m.doc_id = d.doc_id GROUP BY 1, 2),
       |rk AS (SELECT qid, bucket, cnt,
       |         row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, bucket) AS "rank"
       |       FROM b)
       |SELECT qid, "rank", bucket, cnt FROM rk WHERE "rank" <= 10
       |ORDER BY qid, "rank"""".stripMargin
  }

  /** ES highlight oracle: the ftBm25 ranking joined back to the token
    * arrays; fragment = tokens[first_match-3 .. first_match+3] with
    * matched tokens em-wrapped, space-joined — the engine's token-level
    * contract verbatim (list_slice end is inclusive and clamps, like
    * Spark's slice with the same arithmetic). */
  private def ftHighlight: String = {
    val ctx = graft.query.QueryDsl.HighlightContext
    val pairs = SparkEntry.HighlightQuerySet.flatMap { case (qid, text) =>
      val ts = CodeTokenizer.queryTerms(text)
      ts.map(t => s"($qid, '$t', ${ts.size})")
    }
    val (k1, b) = (cfg.k1, cfg.b)
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |q(qid, term, n_terms) AS (VALUES ${pairs.mkString(", ")}),
       |qt AS (SELECT qid, list(term ORDER BY term) AS qterms FROM q GROUP BY 1),
       |wts AS (
       |  SELECT q.qid, p.term, p.doc_id,
       |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ($k1 + 1.0)) /
       |      (p.tf + $k1 * ((1.0 - $b) + ($b * p.doclen) / s.avgdl)) AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  CROSS JOIN stats s),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM wts GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM sc),
       |hit AS (SELECT * FROM rk WHERE "rank" <= ${cfg.topK}),
       |hl AS (
       |  SELECT h.qid, h."rank", h.doc_id, h.score,
       |    list_filter(range(1, len(t.tokens) + 1),
       |      i -> list_contains(qt.qterms, t.tokens[i]))[1] AS fi,
       |    t.tokens AS tokens, qt.qterms AS qterms
       |  FROM hit h JOIN toks t ON h.doc_id = t.doc_id JOIN qt ON h.qid = qt.qid),
       |frag AS (
       |  SELECT qid, "rank", doc_id, score, qterms,
       |    list_slice(tokens, greatest(fi - $ctx, 1), fi + $ctx) AS win
       |  FROM hl)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score,
       |  array_to_string(list_transform(win,
       |    t -> CASE WHEN list_contains(qterms, t)
       |         THEN '<em>' || t || '</em>' ELSE t END), ' ') AS snippet
       |FROM frag ORDER BY qid, "rank"""".stripMargin
  }

  /** Shared phrase-scoring scaffold: per-phrase candidate SELECTs
    * (qid, doc_id), then the standard BM25 pipeline on distinct terms. */
  private def phraseScaffold(analyzed: Seq[(Int, Seq[String])],
                             candSelects: Seq[String]): String = {
    val qvals = analyzed.flatMap { case (qid, ts) =>
      ts.distinct.sorted.map(t => s"($qid, '$t')")
    }
    val (k1, b) = (cfg.k1, cfg.b)
    s"""$postCte,
       |stats AS (SELECT count(*)::BIGINT AS n, avg(len(tokens)) AS avgdl FROM toks),
       |dfp AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
       |cand AS (${candSelects.mkString("\n UNION ALL \n")}),
       |q(qid, term) AS (VALUES ${qvals.mkString(", ")}),
       |wts AS (
       |  SELECT q.qid, p.term, p.doc_id,
       |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (p.tf * ($k1 + 1.0)) /
       |      (p.tf + $k1 * ((1.0 - $b) + ($b * p.doclen) / s.avgdl)) AS w
       |  FROM post p JOIN q ON p.term = q.term JOIN dfp d ON p.term = d.term
       |  JOIN cand c ON c.qid = q.qid AND c.doc_id = p.doc_id
       |  CROSS JOIN stats s),
       |sc AS (SELECT qid, doc_id, sum(w ORDER BY term) AS score FROM wts GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS "rank"
       |       FROM sc)
       |SELECT qid, "rank", doc_id, printf('%.4f', score) AS score
       |FROM rk WHERE "rank" <= ${cfg.topK} ORDER BY qid, "rank"""".stripMargin
  }

  /** Adjacency (slop 0) phrase oracle: candidates via m-gram shingle
    * containment — deliberately a DIFFERENT formulation than the
    * engine's positional-postings path, so the two derivations check
    * each other. */
  private def ftPhrase: String = {
    val analyzed = SparkEntry.PhraseQuerySet
      .map { case (qid, text) => (qid, CodeTokenizer.tokenize(text).toSeq) }
      .filter(_._2.nonEmpty)
    val candSelects = analyzed.map { case (qid, terms) =>
      val m = terms.length
      val gram = (0 until m).map(j => s"tokens[i+$j]").mkString(" || ' ' || ")
      s"""SELECT $qid AS qid, doc_id FROM toks
         |  WHERE list_contains(list_transform(range(1, greatest(len(tokens) - $m + 2, 1)),
         |    i -> $gram), '${terms.mkString(" ")}')""".stripMargin
    }
    phraseScaffold(analyzed, candSelects)
  }

  /** Ordered-proximity (slop > 0) phrase oracle: EXISTS a strictly
    * increasing position chain p0 < ... < p{m-1}, one position per
    * phrase offset, with total slack p{m-1} - p0 - (m-1) <= slop —
    * the same ordered contract as [[graft.query.OrderedSpanMatchExpr]],
    * expressed over DuckDB token arrays with nested list_filter
    * lambdas. */
  private def ftPhraseSlop: String = {
    val slop = SparkEntry.PhraseSlop
    val analyzed = SparkEntry.PhraseSlopQuerySet
      .map { case (qid, text) => (qid, CodeTokenizer.tokenize(text).toSeq) }
      .filter(_._2.nonEmpty)
    def positions(t: String) =
      s"list_filter(range(1, len(tokens)+1), i -> tokens[i] = '$t')"
    def chain(terms: Seq[String]): String = {
      val m = terms.length
      if (m == 1) s"len(${positions(terms.head)}) > 0"
      else {
        def nest(j: Int): String = {
          val prev = if (j == 0) "" else s"p$j > p${j - 1} AND "
          val slack =
            if (j == m - 1) s"p$j - p0 - ${m - 1} <= $slop"
            else nest(j + 1)
          val body = if (j == m - 1) s"$prev$slack" else s"$prev($slack)"
          s"len(list_filter(${positions(terms(j))}, p$j -> $body)) > 0"
        }
        nest(0)
      }
    }
    val candSelects = analyzed.map { case (qid, terms) =>
      s"SELECT $qid AS qid, doc_id FROM toks WHERE ${chain(terms)}"
    }
    phraseScaffold(analyzed, candSelects)
  }

  // Shared lenient-coercion SQL (AccessLog.nullNorm / boolCoerce /
  // timestampCoerce twins), used by both source-parity oracles.
  /** nullNorm: ''/whitespace/'null' (any case) -> NULL, else trimmed. */
  private def nn(e: String) =
    s"CASE WHEN trim($e) = '' OR lower(trim($e)) = 'null' THEN NULL ELSE trim($e) END"
  private def boolc(e: String) =
    s"COALESCE(CASE WHEN lower($e) IN ('true','1') THEN true " +
      s"WHEN lower($e) IN ('false','0') THEN false END, false)"
  private def tsc(e: String) =
    s"""strftime(COALESCE(
       |    try_strptime($e, '%Y-%m-%dT%H:%M:%S'),
       |    try_strptime($e, '%Y-%m-%d %H:%M:%S'),
       |    CASE WHEN try_cast($e AS BIGINT) IS NOT NULL THEN
       |      CASE WHEN try_cast($e AS BIGINT) > 1000000000000
       |           THEN epoch_ms(try_cast($e AS BIGINT))
       |           ELSE epoch_ms(try_cast($e AS BIGINT) * 1000) END END
       |  ), '%Y-%m-%d %H:%M:%S')""".stripMargin

  /** CSV source oracle: DuckDB read_csv over the SAME deterministic
    * RFC-4180 fixture the Spark query reads through
    * readCsvWithErrorBudget, with the identical nullNorm + lenient
    * try_cast/timestamp chain. `ignore_errors` skips the corrupt
    * over-length line (the PERMISSIVE corrupt-record drop's twin) and
    * the WHERE drops the missing-_id row, on both sides. */
  private def csvCoercion: String = {
    val path = graft.accesslog.CsvFixture.DefaultPath
    s"""WITH r AS (
       |  SELECT * FROM read_csv('$path', header=true, all_varchar=true,
       |    ignore_errors=true, delim=',', quote='"', escape='"')),
       |u AS (
       |  SELECT
       |    ${nn("\"_id\"")} AS id,
       |    ${nn("\"_index\"")} AS idx,
       |    ${nn("\"accessLog\"")} AS access_log,
       |    ${nn("\"eventId\"")} AS event_id_s,
       |    ${nn("\"gksType\"")} AS gks_type,
       |    ${nn("\"result\"")} AS result,
       |    ${nn("\"port\"")} AS port_s,
       |    ${nn("\"ip\"")} AS ip,
       |    ${nn("\"nationalityId\"")} AS nationality_id,
       |    ${nn("\"timestamp\"")} AS ts_raw,
       |    ${nn("\"transactionTime\"")} AS tt_raw,
       |    ${nn("\"passageDuration\"")} AS pd_s,
       |    ${nn("\"stadiumId\"")} AS stadium_id_s,
       |    ${nn("\"transactionId\"")} AS transaction_id_s,
       |    ${nn("\"isAccreditation\"")} AS is_accred_s,
       |    ${nn("\"serialNumber\"")} AS serial_number
       |  FROM r)
       |SELECT id, idx,
       |  try_cast(event_id_s AS INTEGER) AS event_id,
       |  ${boolc("access_log")} AS access_log_flag,
       |  ${boolc("is_accred_s")} AS is_accreditation,
       |  gks_type, result,
       |  try_cast(port_s AS INTEGER) AS port,
       |  ip, nationality_id, serial_number,
       |  try_cast(stadium_id_s AS INTEGER) AS stadium_id,
       |  try_cast(transaction_id_s AS INTEGER) AS transaction_id,
       |  printf('%.2f', try_cast(pd_s AS DECIMAL(10,2))::DOUBLE) AS passage_duration,
       |  ${tsc("ts_raw")} AS ts_s,
       |  ${tsc("tt_raw")} AS tt_s
       |FROM u WHERE id IS NOT NULL ORDER BY id""".stripMargin
  }

  /** ES-JSON source oracle: DuckDB read_json over the SAME deterministic
    * NDJSON fixture the Spark query reads, replicating the reference's
    * array unwrap (first element of a non-empty array — an empty array
    * and JSON null both yield SQL NULL), nullNorm, and the lenient
    * try_cast/timestamp battery. The corrupt line is skipped
    * (ignore_errors, like PERMISSIVE + the fatal-_id filter) and the
    * missing-_id document is dropped by the WHERE, on both sides. */
  private def esJsonCoercion: String = {
    val path = graft.accesslog.EsFixture.DefaultPath
    // the engine's UNIFORM TEXT unwrap rule (AccessLog.readEsJson): any
    // value whose TEXT form parses as a JSON array takes element 1
    // (empty -> NULL); everything else keeps its text. Matches the
    // reference's GetFirstArrayValue for real arrays and pins the
    // documented string-that-looks-like-an-array divergence.
    def uw(c: String) =
      s"CASE WHEN json_type(try_cast(json_extract_string($c, '$$') AS JSON)) = 'ARRAY' " +
        s"THEN json_extract_string(try_cast(json_extract_string($c, '$$') AS JSON), '$$[0]') " +
        s"ELSE json_extract_string($c, '$$') END"
    val cols = Seq("_id", "_index", "accessLog", "eventId", "gksType", "result",
      "port", "ip", "nationalityId", "timestamp", "transactionTime",
      "passageDuration", "stadiumId", "transactionId", "isAccreditation",
      "serialNumber").map(c => s"'$c': 'JSON'").mkString(", ")
    s"""WITH j AS (
       |  SELECT * FROM read_json('$path', format='newline_delimited',
       |    ignore_errors=true, columns={$cols})),
       |u AS (
       |  SELECT
       |    ${nn("json_extract_string(\"_id\", '$')")} AS id,
       |    ${nn("json_extract_string(\"_index\", '$')")} AS idx,
       |    ${nn(uw("\"accessLog\""))} AS access_log,
       |    ${nn(uw("\"eventId\""))} AS event_id_s,
       |    ${nn(uw("\"gksType\""))} AS gks_type,
       |    ${nn(uw("\"result\""))} AS result,
       |    ${nn(uw("\"port\""))} AS port_s,
       |    ${nn(uw("\"ip\""))} AS ip,
       |    ${nn(uw("\"nationalityId\""))} AS nationality_id,
       |    ${nn(uw("\"timestamp\""))} AS ts_raw,
       |    ${nn(uw("\"transactionTime\""))} AS tt_raw,
       |    ${nn(uw("\"passageDuration\""))} AS pd_s,
       |    ${nn(uw("\"stadiumId\""))} AS stadium_id_s,
       |    ${nn(uw("\"transactionId\""))} AS transaction_id_s,
       |    ${nn(uw("\"isAccreditation\""))} AS is_accred_s,
       |    ${nn(uw("\"serialNumber\""))} AS serial_number
       |  FROM j)
       |SELECT id, idx,
       |  try_cast(event_id_s AS INTEGER) AS event_id,
       |  ${boolc("access_log")} AS access_log_flag,
       |  ${boolc("is_accred_s")} AS is_accreditation,
       |  gks_type, result,
       |  try_cast(port_s AS INTEGER) AS port,
       |  ip, nationality_id, serial_number,
       |  try_cast(stadium_id_s AS INTEGER) AS stadium_id,
       |  try_cast(transaction_id_s AS INTEGER) AS transaction_id,
       |  printf('%.2f', try_cast(pd_s AS DECIMAL(10,2))::DOUBLE) AS passage_duration,
       |  ${tsc("ts_raw")} AS ts_s,
       |  ${tsc("tt_raw")} AS tt_s
       |FROM u WHERE id IS NOT NULL ORDER BY id""".stripMargin
  }

  private val qTsCoercion =
    """WITH s AS (SELECT event_id,
      |  CASE event_id % 4
      |    WHEN 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
      |    WHEN 1 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
      |    WHEN 2 THEN CAST(epoch(date_trunc('second', ts))::BIGINT AS VARCHAR)
      |    ELSE 'not-a-date' END AS s
      |  FROM events)
      |SELECT event_id, s,
      |  strftime(COALESCE(
      |    try_strptime(s, '%Y-%m-%dT%H:%M:%S'),
      |    try_strptime(s, '%Y-%m-%d %H:%M:%S'),
      |    CASE WHEN try_cast(s AS BIGINT) IS NOT NULL
      |         THEN epoch_ms(try_cast(s AS BIGINT) * 1000) END
      |  ), '%Y-%m-%d %H:%M:%S') AS parsed
      |FROM s ORDER BY event_id""".stripMargin

  private val q3Topk =
    """SELECT l_orderkey, printf('%.4f', rev) AS revenue, n_lines FROM (
      |  SELECT l_orderkey,
      |    sum(l_extendedprice * (1.0 - l_discount)) AS rev,
      |    count(*) AS n_lines
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment = 'BUILDING'
      |  GROUP BY 1 ORDER BY rev DESC, l_orderkey LIMIT 10)
      |ORDER BY rev DESC, l_orderkey""".stripMargin

  private val ingDocmap =
    s"""WITH $toksCte
       |SELECT d.doc_id, sha256(d.text) AS sha, len(toks.tokens)::BIGINT AS doclen,
       |       true AS sha_ok
       |FROM documents d JOIN toks ON d.doc_id = toks.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // --- training-data ops ----------------------------------------------------

  private val ddExact =
    """SELECT min(doc_id) AS doc_id, count(*) AS copies, md5(text) AS fp
      |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin

  /** CTE chain ending in jpairs(id_a, id_b, jaccard): exact word-3-gram
    * pairwise Jaccard at `threshold`. */
  private def ddPairsCtes(threshold: Double) =
    s"""$toksCte,
       |sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(tokens) - 1, 1)),
       |    i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
       |  FROM toks)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jpairs AS (
       |  SELECT id_a, id_b, jaccard FROM (
       |    SELECT id_a, id_b,
       |      i.inter::DOUBLE / (sa.sz + sb.sz - i.inter) AS jaccard
       |    FROM inter i JOIN sizes sa ON i.id_a = sa.doc_id
       |                 JOIN sizes sb ON i.id_b = sb.doc_id)
       |  WHERE jaccard >= $threshold)""".stripMargin

  /** Exact word-3-gram pairwise Jaccard at `threshold` — the oracle for
    * both the exact pipeline and the MinHash+LSH pipeline (whose exact
    * verification on candidates recovers the same pair set). */
  private def ddJaccard(threshold: Double) =
    s"""WITH ${ddPairsCtes(threshold)}
       |SELECT id_a, id_b, printf('%.9f', jaccard) AS jaccard
       |FROM jpairs ORDER BY id_a, id_b""".stripMargin

  /** Near-dup clustering oracle: connected components of the exact
    * Jaccard pair graph via a recursive min-label walk (every vertex
    * labelled with the smallest reachable doc_id). */
  private def ddCluster(threshold: Double) =
    s"""WITH RECURSIVE ${ddPairsCtes(threshold)},
       |verts(id) AS (SELECT id_a FROM jpairs UNION SELECT id_b FROM jpairs),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
       |          UNION ALL SELECT id_b, id_a FROM jpairs),
       |walk(id, label) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id),
       |lab AS (SELECT id AS doc_id, min(label) AS canonical FROM walk GROUP BY 1),
       |sz AS (SELECT canonical, count(*) AS cluster_size FROM lab GROUP BY 1)
       |SELECT l.doc_id, l.canonical, s.cluster_size
       |FROM lab l JOIN sz s USING (canonical) ORDER BY l.doc_id""".stripMargin

  /** SimHash oracle — exact, not rows-only: FNV-1a 64 is re-derived in
    * SQL (HUGEINT arithmetic mod 2^64 over the token's bytes — tokens
    * are [a-z0-9] by the analyzer's contract, so ascii(char) == UTF-8
    * byte) and the tf-weighted bit votes reassemble the 64-bit
    * signature, rendered %016x on both sides. Zero-token docs simhash
    * to 0 via the LEFT JOIN. Mirrors Dedup.fnv1a64/simhash64. */
  private val ddSimhash =
    s"""$postCte,
       |hashed AS (
       |  SELECT doc_id, tf, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(range(1, length(term)+1),
       |        i -> CAST(ascii(term[i]) AS HUGEINT))),
       |    (h, b) -> (xor(h, b) * 1099511628211) % 18446744073709551616) AS h
       |  FROM post),
       |votes AS (
       |  SELECT doc_id, i,
       |    sum(tf * (CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) AS acc
       |  FROM hashed, range(0, 64) r(i) GROUP BY doc_id, i),
       |sh AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN acc > 0 THEN CAST(1 AS HUGEINT) << i ELSE 0 END) AS s
       |  FROM votes GROUP BY doc_id)
       |SELECT d.doc_id,
       |  lpad(lower(hex(CAST(coalesce(sh.s, 0) AS UBIGINT))), 16, '0') AS simhash
       |FROM documents d LEFT JOIN sh USING (doc_id) ORDER BY doc_id""".stripMargin

  private val mmFeatures =
    """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
      |                  octet_length(encode(text))::BIGINT AS nb FROM documents)
      |SELECT doc_id,
      |  (['jpg','png','webp','wav'])[(doc_id % 4 + 1)::INT] AS format,
      |  (16 + (doc_id % 16) * 8)::INT AS width,
      |  (16 + (doc_id % 9) * 12)::INT AS height,
      |  nb AS n_bytes,
      |  printf('%.9f', list_sum(list_transform(range(0, nb),
      |    i -> ('0x' || substr(hx, (2*i+1)::INT, 2))::INT))::DOUBLE / nb) AS mean_byte
      |FROM b ORDER BY doc_id""".stripMargin

  /** Exact pairwise cosine at the same threshold as the engine; the
    * list_sum(list_transform) fold is bit-equal to CosineSimExpr's
    * ascending-index accumulation. */
  private val ddEmbedCosine =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sc AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
      |      (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
      |       sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, printf('%.4f', cos) AS cos
      |FROM sc WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin

  private val simCosineTopk =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |sc AS (SELECT e.vec_id, e.label,
      |    list_sum(list_transform(range(1, len(e.v) + 1), i -> q.qv[i] * e.v[i])) /
      |      (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
      |       sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cos
      |  FROM e CROSS JOIN q),
      |rk AS (SELECT vec_id, label, cos,
      |         row_number() OVER (ORDER BY cos DESC, vec_id) AS "rank" FROM sc)
      |SELECT "rank", vec_id, label, printf('%.4f', cos) AS cos
      |FROM rk WHERE "rank" <= 10 ORDER BY "rank"""".stripMargin

  /** Batch cosine top-10 per query vector; same cos arithmetic as
    * simCosineTopk, ranked per qid. */
  private def simBatchTopk: String = {
    val ids = SparkEntry.SimQueryIds.mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN ($ids)),
       |sc AS (SELECT q.qid, e.vec_id, e.label,
       |    list_sum(list_transform(range(1, len(e.v) + 1), i -> q.qv[i] * e.v[i])) /
       |      (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
       |       sqrt(list_sum(list_transform(e.v, x -> x * x)))) AS cos
       |  FROM e CROSS JOIN q),
       |rk AS (SELECT qid, vec_id, label, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS "rank"
       |       FROM sc)
       |SELECT qid, "rank", vec_id, label, printf('%.4f', cos) AS cos
       |FROM rk WHERE "rank" <= 10 ORDER BY qid, "rank"""".stripMargin
  }

  private val txtQuality =
    s"""WITH t AS (SELECT doc_id, text,
       |    regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents)
       |SELECT doc_id, length(text)::BIGINT AS n_chars,
       |  len(ws)::BIGINT AS n_ws_tokens,
       |  (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS n_punct,
       |  printf('%.9f', len(list_filter(ws, x -> x IN ($stopList)))::BIGINT::DOUBLE / len(ws)::BIGINT) AS stop_ratio,
       |  printf('%.9f', length(text)::DOUBLE / len(ws)::BIGINT) AS chars_per_token
       |FROM t ORDER BY doc_id""".stripMargin

  private val txtTokens =
    s"""WITH $toksCte
       |SELECT d.doc_id,
       |  len(regexp_split_to_array(trim(d.text), '\\s+'))::BIGINT AS n_ws,
       |  len(regexp_extract_all(d.text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT AS n_bpe,
       |  len(toks.tokens)::BIGINT AS n_analyzed
       |FROM documents d JOIN toks ON d.doc_id = toks.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** mean_byte is computed over UTF-8 BYTES (hex-pair extraction from
    * the encoded blob), matching the engine's byte-level features —
    * ascii(char)/length(text) would diverge on any non-ASCII document. */
  /** Gopher-style repetition ratios; bigram list mirrors the engine's
    * 2-gram shingles over lowercased whitespace tokens. */
  private val txtRepetition =
    """WITH t AS (SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |b AS (SELECT doc_id, ws,
      |    list_transform(range(1, greatest(len(ws), 1)),
      |      i -> ws[i] || ' ' || ws[i+1]) AS bi FROM t)
      |SELECT doc_id,
      |  len(ws)::BIGINT AS n_words,
      |  len(list_distinct(ws))::BIGINT AS n_distinct_words,
      |  printf('%.9f', 1.0 - len(list_distinct(ws))::DOUBLE / len(ws)) AS dup_word_ratio,
      |  CASE WHEN len(bi) > 0
      |       THEN printf('%.9f', 1.0 - len(list_distinct(bi))::DOUBLE / len(bi)) END
      |    AS dup_bigram_ratio
      |FROM b ORDER BY doc_id""".stripMargin

  private val txtFingerprint =
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  private def txtLangid: String = {
    def lst(l: String) = SparkEntry.LangMarkers(l).map(w => s"'$w'").mkString(",")
    s"""WITH t AS (SELECT doc_id, lang,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |h AS (SELECT doc_id, lang,
       |    len(list_filter(ws, x -> x IN (${lst("en")})))::BIGINT AS h_en,
       |    len(list_filter(ws, x -> x IN (${lst("es")})))::BIGINT AS h_es,
       |    len(list_filter(ws, x -> x IN (${lst("de")})))::BIGINT AS h_de,
       |    len(list_filter(ws, x -> x IN (${lst("fr")})))::BIGINT AS h_fr
       |  FROM t)
       |SELECT doc_id, lang,
       |  CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
       |       WHEN h_en = greatest(h_en, h_es, h_de, h_fr) THEN 'en'
       |       WHEN h_es = greatest(h_en, h_es, h_de, h_fr) THEN 'es'
       |       WHEN h_de = greatest(h_en, h_es, h_de, h_fr) THEN 'de'
       |       ELSE 'fr' END AS pred_lang,
       |  h_en, h_es, h_de, h_fr
       |FROM h ORDER BY doc_id""".stripMargin
  }

  def all: Map[String, String] = Map(
    "q1_agg"              -> q1Agg,
    "q_count_lineitem"    -> qCount,
    "q_topk_events"       -> qTopkEvents,
    "q_dedup_latest"      -> qDedupLatest,
    "q_antijoin"          -> qAntiJoin,
    "q_validation_counts" -> qValidationCounts,
    "q_warnings_top"      -> qWarningsTop,
    "q_json_coercion"     -> qJsonCoercion,
    "es_json_coercion"    -> esJsonCoercion,
    "csv_coercion"        -> csvCoercion,
    "q_sample_head"       -> qSampleHead,
    "ft_postings"         -> ftPostings,
    "ft_doclen"           -> ftDoclen,
    "ft_stats"            -> ftStats,
    "ft_df"               -> ftDf,
    "ft_bm25_topk"        -> ftBm25(),
    "ft_bm25_conj"        -> ftBm25(conjunctive = true),
    "ft_phrase"           -> ftPhrase,
    "ft_phrase_slop"      -> ftPhraseSlop,
    "ft_wand_topk"        -> ftBm25(), // WAND must be rank-identical to the declarative path
    "ft_bool_topk"        -> ftBool,
    "ft_prefix_topk"      -> ftPrefix,
    "ft_fuzzy_topk"       -> ftFuzzy,
    "ft_mlt_topk"         -> ftMlt,
    "ft_terms_agg"        -> ftTermsAgg,
    "ft_highlight"        -> ftHighlight,
    "ft_range_topk"       -> ftRange,
    "ft_phrase_prefix"    -> ftPhrasePrefix,
    "ft_wildcard_topk"    -> ftWildcard,
    "ft_search_after"     -> ftSearchAfter,
    "ft_stats_agg"        -> ftStatsAgg,
    "ft_multi_match"      -> ftMultiMatch,
    "ft_histogram_agg"    -> ftHistogramAgg,
    "ft_cardinality_agg"  -> ftCardinalityAgg,
    "ft_sort_topk"        -> ftSortTopk,
    "ft_date_histogram"   -> ftDateHistogram,
    "ft_terms_stats"      -> ftTermsStats,
    "ft_percentiles_agg"  -> ftPercentiles,
    "ft_sig_terms"        -> ftSigTerms,
    "ft_dismax_topk"      -> ftDisMax,
    "ft_boosting"         -> ftBoosting,
    "ft_constant_score"   -> ftConstantScore,
    "ft_regexp_topk"      -> ftRegexp,
    "ft_range_agg"        -> ftRangeAgg,
    "ft_top_hits"         -> ftTopHits,
    "ft_extended_stats"   -> ftExtendedStats,
    "ft_explain"          -> ftExplain,
    "ft_query_string"     -> ftQueryString,
    "ft_composite_agg"    -> ftCompositeAgg,
    "ft_filters_agg"      -> ftFiltersAgg,
    "ft_rescore"          -> ftRescore,
    "ft_suggest"          -> ftSuggest,
    "ft_boosted_fields"   -> ftBoostedFields,
    "ft_has_child"        -> ftHasChild,
    "ft_function_score"   -> ftFunctionScore,
    "ft_pipeline_agg"     -> ftPipelineAgg,
    "ing_docmap"          -> ingDocmap,
    "code_docmap"         -> codeDocmap,
    "code_ft_topk"        -> ftBm25(srcCte = codePostCte),
    // WAND over the code index must be rank-identical to declarative
    "code_wand_topk"      -> ftBm25(srcCte = codePostCte),
    "q_ts_coercion"       -> qTsCoercion,
    "q3_topk"             -> q3Topk,
    "q_window_running"    -> qWindowRunning,
    "q_rollup"            -> qRollup,
    "q_distinct"          -> qDistinct,
    "q_set_ops"           -> qSetOps,
    "q_sessionize"        -> qSessionize,
    "dd_exact"            -> ddExact,
    "dd_simhash"          -> ddSimhash,
    "dd_ngram_jaccard"    -> ddJaccard(0.06),
    "dd_minhash_lsh"      -> ddJaccard(0.5),
    "dd_cluster"          -> ddCluster(0.5),
    "dd_embed_cosine"     -> ddEmbedCosine,
    "sim_cosine_topk"     -> simCosineTopk,
    "sim_batch_topk"      -> simBatchTopk,
    "mm_features"         -> mmFeatures,
    "txt_quality"         -> txtQuality,
    "txt_repetition"      -> txtRepetition,
    "txt_tokens"          -> txtTokens,
    "txt_fingerprint"     -> txtFingerprint,
    "txt_langid"          -> txtLangid
  )
}
