package graft.query

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.analyze.CodeTokenizer
import graft.config.EngineConfig
import graft.index.{BlockRow, RangeSaltExpr, SegmentBuilder}

/** Block-max WAND top-k over the compressed segment index — the
  * score-skipping serving path (north_rule). Exactness contract: results
  * are rank-identical (docIDs AND bit-equal scores) to the declarative
  * [[BM25.topK]] path and the naive oracle, because
  *  - exact scoring always calls the shared [[BM25.weight]] in ascending
  *    term order, and
  *  - upper bounds (idf * block max_u) are inflated by 1+1e-9 before any
  *    skip decision, so float association differences can only make the
  *    engine score MORE candidates, never skip a true top-k member; tie
  *    candidates (bound == threshold) are never skipped and resolve by
  *    the deterministic (score desc, docId asc) comparator.
  *
  * Distribution (100 TB rule): serving fans out per (query, doc-range) —
  * the ES-shard design. A served request is small, so its latency is
  * the fixed cost of each Spark job it runs; it therefore runs ONE
  * scoring job ([[Handle.scoreTerms]]). df is resolved first (one
  * bounded lookup for analyzed terms; expansions carry the df their
  * dictionary job read), and terms with no df drop out — a request
  * with no present term never scans segments. The job is an RDD tail
  * over the one Catalyst plan on the request path, the pruned segment
  * scan ([[Handle.segmentScan]]): each segment row is keyed per (qid,
  * doc-range) for every range its [first_doc, last_doc] span overlaps
  * (metadata only, no decode), each group runs exact WAND over its
  * range with global corpus stats and the request's df map, and the
  * local hits rank the way an ES coordinator merges shard results:
  * each task keeps a heap of k per qid, the driver collects at most
  * tasks x qids x k rows and merges them ([[ServedTopK.merge]]).
  * Served calls are therefore EAGER — the scoring pass runs inside the
  * call, which returns a small local frame — and the driver collect is
  * bounded by construction. Term expansion (prefix, wildcard, regexp,
  * fuzzy) follows the same shape over the cached (term, df)
  * dictionary: a heap of `cap` per (task, pattern), one collect of at
  * most tasks x patterns x cap rows, the final cap on the driver in
  * Spark's string order. That expansion cap is [[expandCapped]], over
  * any (term, df) frame — the corpus query_string path caps its prefix
  * clauses with it too. [[memoHandle]] is the one process-level memo of
  * serving handles (this [[Handle]] and [[BM25.PhraseHandle]]).
  * Per-task memory is the query's COMPRESSED postings within one range —
  * never a whole hot term pinned in one task (round-1 scale-killer;
  * bounded-decode asserted in WandSpec via accumulator).
  */
object Wand {

  final case class QSegRow(qid: Int, term: String, salt: Int, row_seq: Int,
                           n_postings: Long, first_doc: Long, last_doc: Long,
                           max_u: Double, blocks: Seq[BlockRow])

  final case class Hit(qid: Int, rank: Long, doc_id: Long, score: Double)

  private val BoundInflate = 1.0 + 1e-9

  /** A fuzzy batch's expansions, keyed by the (term, maxDist) input. */
  final class FuzzyExpansions private[query] (byInput: Map[(String, Int), Seq[(String, Long)]]) {
    def apply(term: String, maxDist: Int): Seq[String] = withDf(term, maxDist).map(_._1)

    /** The expansion of a term the batch expanded at exactly ONE
      * distance; fails loud when the term name alone is ambiguous. */
    def apply(term: String): Seq[String] =
      byInput.collect { case ((t, _), e) if t == term => e }.toSeq match {
        case Seq(e) => e.map(_._1)
        case es => throw new NoSuchElementException(
          s"fuzzy term <$term> was expanded at ${es.size} distances; look it up by (term, maxDist)")
      }

    /** The (term, maxDist) input's expansion with each term's df. */
    private[query] def withDf(term: String, maxDist: Int): Seq[(String, Long)] =
      byInput((term, maxDist))
  }

  /** The anchored regex of an ES wildcard pattern (`*` = any run incl.
    * empty, `?` = exactly one char, everything else literal). */
  def wildcardRegex(pattern: String): String =
    "^" + pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if c.isLetterOrDigit => c.toString
      case c => java.util.regex.Pattern.quote(c.toString)
    } + "$"

  /** One (term, salt) run restricted to docs in [lo, hi): lazily-decoded
    * cursor over its blocks. */
  private final class Cursor(val term: String, val idf: Double, val df: Long,
                             rows: Array[QSegRow], hi: Long = Long.MaxValue) {
    // flatten blocks across row_seq order; skip metadata per block
    private val blocks: Array[BlockRow] = rows.sortBy(_.row_seq).flatMap(_.blocks)
    private val nb = blocks.length
    // upper bound on docIds in block i (exact lastDoc not needed: docs in
    // block i are < firstDoc of block i+1; last block uses the row max)
    private val boundAfter: Array[Long] = Array.tabulate(nb)(i =>
      if (i + 1 < nb) blocks(i + 1).first_doc else Long.MaxValue)
    val maxURun: Double = rows.map(_.max_u).max
    def ub: Double = idf * maxURun * BoundInflate

    private var bi = 0
    private var pi = 0
    private var docs: Array[Long] = _
    private var tfs: Array[Long] = _
    private var dls: Array[Long] = _
    var exhausted: Boolean = nb == 0

    private def decode(): Unit = if (docs == null) {
      val b = blocks(bi)
      val arr = graft.index.Codec.decodeBlock(
        graft.index.Codec.Block(b.first_doc, b.n, b.deltas, b.tfs, b.dls, b.max_u))
      docs = arr.map(_.docId); tfs = arr.map(_.tf); dls = arr.map(_.dl)
    }

    def curDoc: Long = { decode(); docs(pi) }
    def curTf: Long = tfs(pi)
    def curDl: Long = dls(pi)

    /** Exhaust once positioned at or past the range's upper bound
      * (metadata short-circuit first: no decode when the whole block is
      * out of range). */
    private def clampHi(): Unit =
      if (!exhausted && hi != Long.MaxValue) {
        if (docs == null && blocks(bi).first_doc >= hi) exhausted = true
        else { decode(); if (docs(pi) >= hi) exhausted = true }
      }

    /** Block-level UB for the block that would contain `target`
      * (metadata only, no decode). */
    def blockUbFor(target: Long): Double = {
      var i = bi
      while (i + 1 < nb && blocks(i + 1).first_doc <= target) i += 1
      idf * blocks(i).max_u * BoundInflate
    }

    /** First docId strictly after the block containing `target`. */
    def nextBoundaryAfter(target: Long): Long = {
      var i = bi
      while (i + 1 < nb && blocks(i + 1).first_doc <= target) i += 1
      boundAfter(i)
    }

    def nextGEQ(target: Long): Unit = {
      if (exhausted) return
      // fresh cursor, target at/before this block's first doc: no decode
      if (docs == null && target <= blocks(bi).first_doc) { clampHi(); return }
      // block skip on metadata only
      if (target > curDocLowerBound()) {
        var moved = false
        while (bi + 1 < nb && blocks(bi + 1).first_doc <= target) { bi += 1; moved = true }
        if (moved) { docs = null; pi = 0 }
      }
      decode()
      // in-block: galloping not needed at blockSize<=1024; binary search
      var lo = pi; var hi2 = docs.length
      if (docs(lo) < target) {
        while (lo < hi2) {
          val mid = (lo + hi2) >>> 1
          if (docs(mid) < target) lo = mid + 1 else hi2 = mid
        }
        if (lo == docs.length) {
          if (bi + 1 < nb) { bi += 1; pi = 0; docs = null; decode() }
          else { exhausted = true; return }
        } else pi = lo
      }
      clampHi()
    }

    private def curDocLowerBound(): Long =
      if (docs == null) blocks(bi).first_doc else docs(pi)

    def advance(): Unit = {
      decode()
      if (pi + 1 < docs.length) pi += 1
      else if (bi + 1 < nb) { bi += 1; pi = 0; docs = null }
      else { exhausted = true; return }
      clampHi()
    }
  }

  /** Exact block-max WAND over docs in [lo, hi) for one query; returns
    * the top-k (score, docId) best-first. Global top-k = merge of the
    * per-range lists (scores depend only on global stats, so every
    * range's local list is exact over its docs). */
  def wandScores(rows: Array[QSegRow], dfMap: String => Long,
                 n: Long, avgdl: Double, k: Int, k1: Double, b: Double,
                 lo: Long = Long.MinValue,
                 hi: Long = Long.MaxValue): Seq[(Double, Long)] = {
    val cursors: Array[Cursor] = rows.groupBy(r => (r.term, r.salt)).map {
      case ((term, _), rs) =>
        val df = dfMap(term)
        new Cursor(term, BM25.idf(df, n), df, rs, hi)
    }.toArray
    if (lo != Long.MinValue) cursors.foreach(_.nextGEQ(lo))
    val active = mutable.ArrayBuffer[Cursor](cursors.filter(!_.exhausted): _*)
    if (active.isEmpty) return Seq.empty

    // k-best by (score desc, docId asc); head of the set = current worst
    val worstFirst: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long.reverse)
    val heap = mutable.TreeSet.empty[(Double, Long)](worstFirst)
    def theta: Double = if (heap.size < k) Double.NegativeInfinity else heap.head._1
    def offer(score: Double, doc: Long): Unit = {
      if (heap.size < k) heap.add((score, doc))
      else {
        val (ws, wd) = heap.head
        if (score > ws || (score == ws && doc < wd)) { heap.remove(heap.head); heap.add((score, doc)) }
      }
    }

    while (active.nonEmpty) {
      val sorted = active.sortBy(_.curDoc)
      // pivot: first prefix whose summed run-UBs could reach theta
      var acc = 0.0
      var pIdx = -1
      var i = 0
      while (i < sorted.length && pIdx == -1) {
        acc += sorted(i).ub
        if (acc >= theta) pIdx = i
        i += 1
      }
      if (pIdx == -1) return finishScores(heap, k)
      val pivot = sorted(pIdx).curDoc
      // extend to every cursor positioned exactly at the pivot — they all
      // contribute to its score and must be covered by any skip bound
      var endIdx = pIdx
      while (endIdx + 1 < sorted.length && sorted(endIdx + 1).curDoc == pivot) endIdx += 1

      if (sorted.head.curDoc == pivot) {
        // block-max refinement before decoding/scoring
        var blockSum = 0.0
        var j = 0
        while (j <= endIdx) { blockSum += sorted(j).blockUbFor(pivot); j += 1 }
        if (blockSum < theta) {
          // skip past the current block configuration, capped at the next
          // cursor's position (beyond it other cursors could contribute)
          var d = Long.MaxValue
          j = 0
          while (j <= endIdx) {
            val nb = sorted(j).nextBoundaryAfter(pivot)
            if (nb < d) d = nb
            j += 1
          }
          if (endIdx + 1 < sorted.length && sorted(endIdx + 1).curDoc < d)
            d = sorted(endIdx + 1).curDoc
          val target = math.max(pivot + 1, d)
          j = 0
          while (j <= endIdx) { sorted(j).nextGEQ(target); j += 1 }
        } else {
          // full scoring: shared scalar formula, ascending term order
          val contribs = mutable.ArrayBuffer.empty[(String, Double)]
          j = 0
          while (j <= endIdx) {
            val c = sorted(j)
            if (!c.exhausted && c.curDoc == pivot)
              contribs += ((c.term, BM25.weight(c.curTf, c.curDl, c.df, n, avgdl, k1, b)))
            j += 1
          }
          var score = 0.0
          contribs.sortBy(_._1).foreach(score += _._2)
          offer(score, pivot)
          j = 0
          while (j <= endIdx) {
            if (!sorted(j).exhausted && sorted(j).curDoc == pivot) sorted(j).advance()
            j += 1
          }
        }
      } else {
        sorted.head.nextGEQ(pivot)
      }
      active.filterInPlace(!_.exhausted)
    }
    finishScores(heap, k)
  }

  private def finishScores(heap: mutable.TreeSet[(Double, Long)], k: Int): Seq[(Double, Long)] =
    heap.toSeq.sortBy { case (s, d) => (-s, d) }.take(k)

  /** Spark entry: per-(query, doc-range) WAND groups over the pruned
    * segment rows of the query's terms (posting lists arrive
    * compressed; block-max WAND decodes only the blocks it cannot
    * skip), merged per query on the driver — eager, one scoring job,
    * one bounded collect (see [[Handle.topKTerms]]). Served through the
    * process-level handle cache: handle init runs metadata jobs
    * (df-table agg, doc-range quantiles) that must amortize across
    * calls, not recur per query. */
  def topK(spark: SparkSession, indexDir: String, queries: Seq[(Int, String)],
           cfg: EngineConfig = EngineConfig.default): DataFrame =
    handleFor(spark, indexDir, cfg).topK(queries)

  /** The process-level [[Handle]] of an index, from [[memoHandle]],
    * signed over the inputs the handle reads (segments + stats). Before
    * the memo, EVERY indexed query paid the handle-init metadata jobs (a
    * df-table aggregation plus an approx_percentile over docmap) —
    * roughly a dozen scheduler round-trips of pure fixed cost that
    * amplified under host contention (VERDICT r4 "what's wrong" #1). */
  def handleFor(spark: SparkSession, indexDir: String,
                cfg: EngineConfig = EngineConfig.default): Handle =
    memoHandle(spark, indexDir, cfg, Seq("segments", "stats"))(new Handle(spark, indexDir, cfg))

  /** The one process-level handle memo, for every handle kind (the WAND
    * [[Handle]], [[BM25.PhraseHandle]]): one entry per (kind, indexDir).
    * Freshness is a driver-side file-listing signature over the index
    * `dirs` the kind reads: a rebuild/append/restat lands new files and
    * swaps the handle, after refreshing Spark's cached plans over those
    * dirs; an untouched index hits the memo with zero Spark jobs. The config rides in the freshness check rather than the key,
    * so a per-query config override (CLI `query ... k`) swaps the handle
    * instead of pinning another cached df table per distinct config
    * forever (an unbounded memo over caller-supplied configs would leak
    * block-manager memory in a long-lived serving process). Guarded by
    * session identity, since a handle pins cached blocks in ITS
    * session's block manager.
    *
    * A stale handle is DROPPED, not closed: another thread may still be
    * mid-query on it, and an eager unpersist of its cached df table —
    * which its successor shares, since Spark matches cached plans by
    * path — could fail or degrade those in-flight queries (ADVICE r05). */
  private val handles =
    scala.collection.concurrent.TrieMap[(Class[_], String), (SparkSession, EngineConfig, String, AnyRef)]()

  private[query] def memoHandle[H <: AnyRef](spark: SparkSession, indexDir: String,
                                             cfg: EngineConfig, dirs: Seq[String])(open: => H)
                                            (implicit kind: scala.reflect.ClassTag[H]): H =
    synchronized {
      val key = (kind.runtimeClass, indexDir)
      val sig = dirs.map(d => SegmentBuilder.dirSig(s"$indexDir/$d")).mkString("|")
      handles.get(key) match {
        case Some((s, c, cachedSig, h))
            if (s eq spark) && !s.sparkContext.isStopped && c == cfg && cachedSig == sig =>
          h.asInstanceOf[H]
        case stale =>
          // Spark's cache manager matches a cached plan by its parquet
          // path, so without a refresh the successor would reuse the
          // stale handle's cached tables (the WAND df table) as they were
          if (stale.isDefined) dirs.foreach(d => spark.catalog.refreshByPath(s"$indexDir/$d"))
          val h = open
          handles.put(key, (spark, cfg, sig, h))
          h
      }
    }

  /** The expansion-cap step, over any (term, df) dictionary frame (the
    * served handle's cached term table, a corpus path's term-pruned df
    * aggregation): each distinct key's match predicate runs as a literal
    * over the dictionary — never posting payloads, no join — and
    * [[ServedTopK.capPerKeyWithDf]] keeps the first `cap` matches per
    * key under `ord` in each task, then merges and caps again on the
    * driver. The collect is bounded by tasks x keys x cap rows no matter
    * how hot a pattern is against the dictionary. Each expansion keeps
    * its df, so serving it needs no df lookup. Keys with no match map to
    * Nil. */
  private[query] def expandCapped[K](dict: DataFrame, keys: Seq[K], matches: K => Column,
                                     ord: Ordering[(String, Long)],
                                     cap: Int): Map[K, Seq[(String, Long)]] = {
    val ks = keys.distinct
    if (ks.isEmpty) return Map.empty
    val spark = dict.sparkSession
    import spark.implicits._
    val key = explode(array(ks.indices.map(i => when(matches(ks(i)), lit(i))): _*))
    val capped = ServedTopK.capPerKeyWithDf(
      dict.select(key.as("key"), col("term"), col("df")).filter(col("key").isNotNull)
        .as[(Int, String, Long)], ord, cap)
    ks.indices.map(i => ks(i) -> capped.getOrElse(i, Nil)).toMap
  }

  /** Serving handle: corpus stats, doc-range boundaries and the per-term
    * df metadata table (one small row per (term, salt) run — no posting
    * payloads) are read once and cached across query batches. Segment
    * payload rows are fetched per batch with an In(term,...) pushdown
    * and fan out per doc-range, so no task ever pins a whole hot term. */
  final class Handle(spark: SparkSession, indexDir: String,
                     cfg: EngineConfig = EngineConfig.default) {
    private val (n, avgdl) = SegmentBuilder.readStats(spark, indexDir)
    private val seg = spark.read.parquet(s"$indexDir/segments")
    /** (term, df) — metadata-only columns, cached. */
    private val dfTable = seg.groupBy("term").agg(sum("n_postings").as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    /** Fan-out DERIVED from index stats, not a knob: enough ranges that
      * even the hottest term's per-task share stays near
      * cfg.serveTargetPostings. The per-task decode bound is thereby an
      * invariant under corpus growth — a bigger corpus gets MORE range
      * tasks, never bigger ones (WandSpec asserts the same bound at two
      * corpus sizes with the same target). One tiny metadata agg at
      * handle init, amortized across query batches. */
    val serveRanges: Int = {
      val r = dfTable.agg(max(col("df"))).head()
      val maxDf = if (r.isNullAt(0)) 0L else r.getLong(0)
      math.min(cfg.serveMaxRanges.toLong, math.max(1L,
        (maxDf + cfg.serveTargetPostings - 1) / cfg.serveTargetPostings)).toInt
    }
    /** Doc-range boundaries: (R-1)-quantiles of docmap doc_id, read once
      * (tiny); range i covers [bounds(i-1), bounds(i)). */
    private val rangeBounds: Array[Long] =
      if (serveRanges <= 1) Array.empty
      else {
        val qs = (1 until serveRanges).map(i => i.toDouble / serveRanges)
        spark.read.parquet(s"$indexDir/docmap")
          .select(expr(s"approx_percentile(doc_id, array(${qs.mkString(",")}))"))
          .head().getSeq[Long](0).distinct.sorted.toArray
      }

    /** Analyzed match queries served by [[topKTerms]] (eager, bounded). */
    def topK(queries: Seq[(Int, String)],
             taskPostingsAcc: CollectionAccumulator[java.lang.Long] = null): DataFrame =
      topKTerms(
        queries.map { case (qid, t) => qid -> CodeTokenizer.queryTerms(t) },
        taskPostingsAcc)

    /** Every prefix's expansion out of ONE metadata job: the
      * lexicographically-first `maxExpansions` index terms starting with
      * it — the ES prefix-query expansion (Lucene walks the term dict in
      * order; prefixes are not analyzed, the caller lowercases). See
      * [[expandCapped]]; at most tasks x prefixes x maxExpansions rows
      * reach the driver. */
    def expandPrefixBatch(prefixes: Seq[String], maxExpansions: Int): Map[String, Seq[String]] =
      ServedTopK.termsOf(prefixExpansions(prefixes, maxExpansions))

    /** Every compiled (anchored) pattern's expansion out of ONE metadata
      * job — the wildcard ([[wildcardRegex]]) and regexp batches: index
      * terms FULL-matching the pattern, lexicographic-first. Callers keep
      * patterns inside the Java/RE2 common subset (literals, classes,
      * ., *, +, |, grouping) so the DuckDB oracle's regexp_full_match
      * agrees. See [[expandCapped]]; at most tasks x patterns x
      * maxExpansions rows reach the driver. */
    def expandRegexBatch(patterns: Seq[String], maxExpansions: Int): Map[String, Seq[String]] =
      ServedTopK.termsOf(regexExpansions(patterns, maxExpansions))

    /** Every (term, maxDist) input's expansion out of ONE metadata job:
      * index terms within CLASSIC Levenshtein distance <= maxDist,
      * highest-df first, ties term-asc (ES fuzzy's
      * top_terms_blended_freqs; ES counts a transposition as 1 —
      * documented deviation, SURVEY §12), capped and keyed per
      * (term, maxDist) pair: one term expanded at
      * two distances in one batch yields two independent expansions
      * (see [[expandCapped]]; at most tasks x inputs x maxExpansions
      * rows reach the driver). The length window is a cheap pre-filter
      * (|len diff| > d can never be within d). */
    def expandFuzzyBatch(inputs: Seq[(String, Int)], maxExpansions: Int): FuzzyExpansions =
      new FuzzyExpansions(expandCapped[(String, Int)](dfTable, inputs, { case (t, d) =>
          abs(length(col("term")) - length(lit(t))) <= d && levenshtein(col("term"), lit(t)) <= d
        }, ServedTopK.byDfThenTerm, maxExpansions))

    /** [[expandPrefixBatch]] with each expansion's df. */
    private[query] def prefixExpansions(prefixes: Seq[String],
                                        maxExpansions: Int): Map[String, Seq[(String, Long)]] =
      expandCapped[String](dfTable, prefixes, col("term").startsWith(_), ServedTopK.byTerm, maxExpansions)

    /** [[expandRegexBatch]] with each expansion's df. */
    private[query] def regexExpansions(patterns: Seq[String],
                                       maxExpansions: Int): Map[String, Seq[(String, Long)]] =
      expandCapped[String](dfTable, patterns, col("term").rlike(_), ServedTopK.byTerm, maxExpansions)

    /** Per-term df for a bounded term list out of the CACHED (term, df)
      * metadata table — no parquet read, no postings aggregation.
      * df here is sum(n_postings) over the term's segment rows, which
      * equals the (term, doc) postings-row count the pruned-read
      * aggregation produced (salted runs partition a term's docs
      * disjointly) — the same df every served score already uses.
      * Absent terms are absent from the map (inner-join semantics). */
    def dfOf(terms: Seq[String]): Map[String, Long] = {
      val ts = terms.distinct
      if (ts.isEmpty) return Map.empty
      dfTable.filter(col("term").isInCollection(ts))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    /** As [[topK]], over pre-resolved per-query term lists; df comes
      * from one bounded [[dfOf]] lookup, then [[scoreTerms]] serves the
      * batch in ONE Spark job. EAGER: returns a local
      * `(qid, rank, doc_id, score)` frame in (qid, rank) order. */
    def topKTerms(queries: Seq[(Int, Seq[String])],
                  taskPostingsAcc: CollectionAccumulator[java.lang.Long] = null): DataFrame =
      scoreTerms(queries, dfOf(queries.flatMap(_._2)), taskPostingsAcc)

    /** Serves term expansions (prefix, fuzzy, wildcard, regexp): each
      * qid's expanded `(term, df)` list scores as an exact block-max WAND
      * disjunction with the df the dictionary job already read — no df
      * lookup, one scoring job. */
    private[query] def topKExpanded(queries: Seq[(Int, Seq[(String, Long)])]): DataFrame =
      scoreTerms(queries.map { case (qid, es) => qid -> es.map(_._1) },
        queries.flatMap(_._2).toMap, null)

    /** The served scan: the segment rows of `terms`, pruned to the
      * columns WAND reads, with the term filter pushed to the parquet
      * reader (row-group In(term, ...)). The only Catalyst plan a served
      * term request runs: no join, no exchange. */
    private[query] def segmentScan(terms: Seq[String]): DataFrame =
      seg.filter(col("term").isin(terms: _*))
        .select("term", "salt", "row_seq", "n_postings", "first_doc", "last_doc", "max_u", "blocks")

    /** Exact block-max WAND over a batch in ONE Spark job: the pruned
      * [[segmentScan]] of the present terms, keyed per (qid, doc-range)
      * — once for each qid that asked for the row's term and once for
      * each range its [first_doc, last_doc] span overlaps (metadata
      * only, no decode) — grouped into min(#groups, defaultParallelism)
      * partitions (derived, not a knob). Each task runs [[wandScores]]
      * per group with the request's df map (bounded by the query terms)
      * riding in the closure, keeps a heap of k per qid
      * ([[ServedTopK.bestPerQid]]), and the driver collects at most
      * tasks x qids x k rows and [[ServedTopK.merge]]s them. Terms with
      * no df are absent; a batch with no present term scans nothing. */
    private def scoreTerms(queries: Seq[(Int, Seq[String])], df: Map[String, Long],
                           acc: CollectionAccumulator[java.lang.Long]): DataFrame = {
      val qidsOf: Map[String, Array[Int]] = queries
        .flatMap { case (qid, ts) => ts.filter(df.contains).map(_ -> qid) }
        .groupMap(_._1)(_._2).map { case (t, qs) => t -> qs.distinct.toArray }
      if (qidsOf.isEmpty) return ServedTopK.noHits(spark)
      val dfm = qidsOf.map { case (t, _) => t -> df(t) }
      val groups = qidsOf.values.flatten.toSet.size.toLong * serveRanges
      val parts = math.min(groups, spark.sparkContext.defaultParallelism.toLong).toInt
      val k = cfg.topK; val k1 = cfg.k1; val b = cfg.b
      val nL = n; val avg = avgdl
      val bounds = rangeBounds
      val heaps = segmentScan(qidsOf.keys.toSeq).rdd
        .flatMap { r =>
          val term = r.getString(0)
          val first = r.getLong(4); val last = r.getLong(5)
          // struct fields in BlockRow order, as the segment writer stores them
          val blocks = r.getSeq[Row](7).map(x => BlockRow(x.getLong(0), x.getInt(1),
            x.getAs[Array[Byte]](2), x.getAs[Array[Byte]](3), x.getAs[Array[Byte]](4), x.getDouble(5)))
          for {
            qid <- qidsOf(term).iterator
            rid <- (RangeSaltExpr.bucketOf(bounds, first) to RangeSaltExpr.bucketOf(bounds, last)).iterator
          } yield (qid, rid) -> QSegRow(qid, term, r.getInt(1), r.getInt(2), r.getLong(3),
            first, last, r.getDouble(6), blocks)
        }
        .groupByKey(new HashPartitioner(parts))
        .mapPartitions { groups =>
          ServedTopK.bestPerQid(groups.flatMap { case ((qid, rid), it) =>
            val rows = it.toArray
            if (acc != null) acc.add(rows.map(_.n_postings).sum)
            val lo = if (rid == 0) Long.MinValue else bounds(rid - 1)
            val hi = if (rid >= bounds.length) Long.MaxValue else bounds(rid)
            wandScores(rows, dfm, nL, avg, k, k1, b, lo, hi).iterator.map { case (s, d) => (qid, s, d) }
          }, k)
        }
        .collect()
      ServedTopK.merge(spark, heaps, k)
    }

    def close(): Unit = dfTable.unpersist()
  }
}
