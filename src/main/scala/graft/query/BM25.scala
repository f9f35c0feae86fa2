package graft.query

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.analyze.CodeTokenizer
import graft.config.EngineConfig
import graft.index.{Postings, SegmentBuilder}

/** Okapi BM25 (k1=1.2, b=0.75 — the ES 7.x default similarity the
  * reference's index would use; public knowledge) with Lucene-style
  * non-negative idf.
  *
  * Rank identity discipline (SURVEY.md §7.4 risk 1): the scalar formula
  * below is written once and mirrored OPERATION-FOR-OPERATION in the
  * Column form and the DuckDB oracle SQL, and per-document scores are
  * summed in ascending term order in all implementations, so equal
  * inputs produce bit-equal doubles everywhere.
  *
  * Every Column-path ranking in `graft.query` is built from four steps,
  * each defined once in this object or in [[Wand]]:
  *  - weigh: [[weigh]] joins a broadcast (qid, term, …, df) literal onto
  *    a postings frame and adds the weight `w` ([[matchPipeline]] is
  *    the corpus match preamble over it);
  *  - fold: [[foldAscending]] sums per-doc weights in ascending key
  *    order ([[foldTerms]] is its scalar twin on the served paths);
  *  - span: [[phraseSpans]] decides phrase adjacency over joined
  *    (keys…, doc_id, off, m, positions) rows;
  *  - expansion cap: [[Wand.capped]] caps a term expansion over the
  *    served sorted (term, df) dictionary, [[Wand.expandCapped]] the
  *    corpus query_string path's prefix expansions.
  */
object BM25 {

  /** idf = ln(1 + (N - df + 0.5) / (df + 0.5)).
    * StrictMath.log, because Catalyst's Log expression evaluates via
    * StrictMath — keeps the oracle bit-identical to the Column path. */
  def idf(df: Long, n: Long): Double =
    StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** Per-(term, doc) weight. Association mirrors the Column/SQL forms:
    * (idf * (tf * (k1+1))) / (tf + k1 * ((1 - b) + (b * dl) / avgdl)) */
  def weight(tf: Long, dl: Long, df: Long, n: Long, avgdl: Double,
             k1: Double = 1.2, b: Double = 0.75): Double =
    weightOf(idf(df, n), tf, dl, avgdl, k1, b)

  /** [[weight]] given the term's [[idf]], computed once per term by the
    * served scorers; the same association, so the same bits. */
  def weightOf(idf: Double, tf: Long, dl: Long, avgdl: Double, k1: Double, b: Double): Double =
    idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * dl) / avgdl))

  /** Column form of [[idf]]. */
  private[query] def idfCol(df: Column, n: Long): Column =
    log(lit(1.0) + (lit(n.toDouble) - df + lit(0.5)) / (df + lit(0.5)))

  /** Column form of [[weight]] given tf/dl/df columns and scalar stats. */
  def weightCol(tf: Column, dl: Column, df: Column, n: Long, avgdl: Double,
                k1: Double, b: Double): Column =
    idfCol(df, n) * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + (lit(b) * dl) / lit(avgdl)))

  /** The weigh step: the driver-resolved query literal `q` — one row per
    * (qid, term, …, df), absent terms already dropped — broadcast-joined
    * onto a postings frame (term, doc_id, tf, doclen, …), with the
    * per-(term, doc) weight `w` added. `restrict` narrows the joined
    * rows before they are weighed (a window or candidate semi-join, a
    * source-doc filter), so only surviving rows pay for a weight. */
  private[query] def weigh(post: DataFrame, q: DataFrame, n: Long, avgdl: Double,
                           cfg: EngineConfig,
                           restrict: DataFrame => DataFrame = identity): DataFrame =
    restrict(post.join(broadcast(q), "term"))
      .withColumn("w", weightCol(col("tf"), col("doclen"), col("df"), n, avgdl, cfg.k1, cfg.b))

  /** The fold step: the sum of the second field of the group's `entry`
    * structs, taken in ascending order of the first field (the term, for
    * a score) — the deterministic association every score shares. Null
    * entries (a `when` without `otherwise`) drop out of the fold. */
  private[query] def foldAscending(entry: Column): Column =
    SumStructFieldExpr.sumField(sort_array(collect_list(entry)), 1, 2)

  /** The scalar fold step: the sum from 0.0 of `(term, weight)`
    * contributions in ascending [[ServedTopK.termOrder]] — Spark's string
    * order, the order [[foldAscending]] sums in — so a served score is
    * bit-equal to its corpus-path twin. WAND's per-doc sum folds through
    * it; the positional evaluator ([[posHits]]) sums in the same order,
    * its terms sorted once per call. */
  private[query] def foldTerms(contribs: scala.collection.Seq[(String, Double)]): Double =
    contribs.sortBy(_._1)(ServedTopK.termOrder).foldLeft(0.0)(_ + _._2)

  /** The (qid, term, n_terms, df) literal of analyzed match queries;
    * terms absent from `dfMap` drop, exactly like an inner join with a
    * docFreq table. */
  private[query] def termTable(spark: SparkSession, analyzed: Seq[(Int, Seq[String])],
                               dfMap: Map[String, Long]): DataFrame = {
    import spark.implicits._
    analyzed.flatMap { case (qid, ts) =>
      ts.flatMap(t => dfMap.get(t).map(df => (qid, t, ts.size, df)))
    }.toDF("qid", "term", "n_terms", "df")
  }

  /** The corpus match preamble: ONE bounded stats job ([[statsAndDf]],
    * skipped when `statsKnown` carries it) and the single corpus
    * postings pass, weighed against the queries' [[termTable]]. Output:
    * the weighted (term, doc_id, …, qid, n_terms, df, w) rows that
    * [[scored]] folds. */
  private[query] def matchPipeline(docs: DataFrame, idCol: Column, contentCol: Column,
                                   analyzed: Seq[(Int, Seq[String])], cfg: EngineConfig,
                                   statsKnown: Option[(Long, Double, Map[String, Long])] = None)
      : DataFrame = {
    val (n, avgdl, dfMap) = statsKnown.getOrElse(
      statsAndDf(docs, idCol, contentCol, analyzed.flatMap(_._2).distinct))
    weigh(Postings.build(docs, idCol, contentCol), termTable(docs.sparkSession, analyzed, dfMap),
      n, avgdl, cfg)
  }

  /** Term-count threshold above which [[statsAndDf]] splits into two
    * passes: one `array_contains` aggregate column per term is the
    * single-pass shape, but past a few dozen terms (prefix/fuzzy
    * expansions, MLT candidate vocabularies) the per-doc term probing
    * and the aggregate width stop paying for the saved pass. */
  private val StatsSinglePassMaxTerms = 24

  /** ONE bounded stats job computing the BM25 scoring constants
    * (N, avgdl) and per-term document frequency for a bounded term set.
    * Replaces the former three-subtree shape — a doclens-only corpus
    * tokenize for the stats plus a FULL-VOCABULARY docFreq aggregation
    * whose shuffle existed only to be inner-joined down to the query's
    * handful of terms (guide §1.2 step 1 / §2.3 "aggregate before you
    * shuffle": df for k query terms never needs the whole term space
    * shuffled; at 100 TB the vocabulary aggregation is corpus-sized).
    *
    * Exactness: n and avgdl are the same count/avg over the same
    * tokenized rows (the doclen sum is an integer < 2^53, so the double
    * sum is exact and order-independent); df(t) = number of docs whose
    * kept-token array contains t, which is by construction the number
    * of postings rows for t. Terms absent from the corpus are absent
    * from the map — the former inner join with docFreq dropped them
    * identically. Above [[StatsSinglePassMaxTerms]] the df side runs as
    * a term-pruned postings aggregation (still never full-vocabulary);
    * the values are identical either way. */
  def statsAndDf(docs: DataFrame, idCol: Column, contentCol: Column,
                 terms: Seq[String]): (Long, Double, Map[String, Long]) = {
    val ts = terms.distinct
    val tok = Postings.tokenized(docs, idCol, contentCol)
    if (ts.size <= StatsSinglePassMaxTerms) {
      val aggs = count(lit(1)).as("n") +: avg(col("doclen")).as("avgdl") +:
        ts.map(t => count(when(array_contains(col("tokens"), t), 1)))
      val row = tok.agg(aggs.head, aggs.tail: _*).head()
      val n = row.getLong(0)
      val avgdl = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
      val dfMap = ts.zipWithIndex.flatMap { case (t, i) =>
        val c = row.getLong(2 + i)
        if (c > 0) Some(t -> c) else None
      }.toMap
      (n, avgdl, dfMap)
    } else {
      // the stats aggregate and the term-pruned df aggregate are
      // independent jobs — submit them from two driver threads so the
      // second backfills the first's straggler tail (guide §2.6)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val statsF = Future {
        tok.agg(count(lit(1)).as("n"), avg(col("doclen")).as("avgdl")).head()
      }
      val dfF = Future {
        Postings.build(docs, idCol, contentCol)
          .filter(col("term").isInCollection(ts))
          .groupBy("term").agg(count(lit(1)).as("df"))
          .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      }
      val r = Await.result(statsF, Duration.Inf)
      val n = r.getLong(0)
      val avgdl = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
      (n, avgdl, Await.result(dfF, Duration.Inf))
    }
  }

  /** Multi-field twin of [[statsAndDf]]: every field's (n, avgdl, df)
    * comes out of ONE corpus scan (each field tokenized once inside the
    * same projection) instead of one stats job per field — the
    * multi_match/dis_max preamble. Values are identical to calling
    * [[statsAndDf]] per field (same counts, same exact integer sums). */
  def statsAndDfMulti(docs: DataFrame, idCol: Column, fields: Seq[Column],
                      terms: Seq[String]): Seq[(Long, Double, Map[String, Long])] = {
    val ts = terms.distinct
    if (ts.size > StatsSinglePassMaxTerms || fields.size == 1)
      return fields.map(f => statsAndDf(docs, idCol, f, ts))
    val tok = docs.select(fields.zipWithIndex.map { case (f, i) =>
      CodeTokenizer.tokensColFast(f).as(s"tokens_$i") }: _*)
    val aggs: Seq[Column] = count(lit(1)).as("n") +:
      fields.indices.flatMap { i =>
        avg(size(col(s"tokens_$i")).cast("long")) +:
          ts.map(t => count(when(array_contains(col(s"tokens_$i"), t), 1)))
      }
    val row = tok.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    fields.indices.map { i =>
      val base = 1 + i * (1 + ts.size)
      val avgdl = if (row.isNullAt(base)) 0.0 else row.getDouble(base)
      val dfMap = ts.zipWithIndex.flatMap { case (t, j) =>
        val c = row.getLong(base + 1 + j)
        if (c > 0) Some(t -> c) else None
      }.toMap
      (n, avgdl, dfMap)
    }
  }

  /** Top-k BM25 per query over the uncompressed postings — the
    * declarative scoring path: [[matchPipeline]] (one bounded stats job,
    * then ONE corpus pass joining the postings against the broadcast
    * (qid, term, df) literal table) and one shuffle for the per-doc sum.
    *
    * Output: (qid int, rank long, doc_id long, score double) where score
    * is summed in ascending term order (deterministic doubles) and rank
    * ties break on doc_id asc.
    */
  def topK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
           queries: Seq[(Int, String)], cfg: EngineConfig = EngineConfig.default,
           conjunctive: Boolean = false,
           statsKnown: Option[(Long, Double, Map[String, Long])] = None): DataFrame = {
    val analyzed = queries.map { case (qid, text) => qid -> CodeTokenizer.queryTerms(text) }
    if (analyzed.forall(_._2.isEmpty)) return ServedTopK.noHits(spark)
    scoreAndRank(matchPipeline(docs, idCol, contentCol, analyzed, cfg, statsKnown),
      cfg.topK, conjunctive)
  }

  /** Phrase top-k (ES match_phrase semantics at slop 0: the analyzed
    * phrase tokens must occur consecutively in order; slop > 0 relaxes
    * to ORDERED proximity with total slack <= slop — see
    * [[OrderedSpanMatchExpr]] for the exact contract). Qualifying docs
    * are scored with corpus-wide BM25 stats over the phrase's distinct
    * terms.
    *
    * Adjacency comes from POSITIONAL postings: candidates are an m-way
    * positional intersection over the query's terms only, and the SAME
    * positional build (persisted for the call) also supplies the
    * scoring postings and term df — TWO corpus tokenize passes total
    * (positional postings + the doclen/stats pass, which must see
    * zero-token docs the postings cannot carry), pruned to the phrase
    * terms by the broadcast query join, never a per-phrase-length
    * corpus rescan and never a source-text recheck of candidates (the
    * round-2 design rescanned candidate text once per distinct phrase
    * length; at 100 TB candidate text is the thing you cannot re-read).
    *
    * Shape (one aggregation, not a job chain): per-term df is collected
    * to the driver first (bounded by the QUERY's distinct terms — tiny
    * by construction), then [[phraseScoredOver]] computes the candidate
    * decision and the BM25 score in ONE aggregation. The r3 design
    * chained candidates agg -> df agg -> semi-join -> score agg ->
    * checkpoint; those four extra fixed-cost jobs were the latency, not
    * the corpus work. The <= queries x topK result materializes eagerly
    * so the cache can be released before returning. */
  def phraseTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                 phrases: Seq[(Int, String)],
                 cfg: EngineConfig = EngineConfig.default,
                 slop: Int = 0): DataFrame = {
    val analyzed = phrases
      .map { case (qid, text) => (qid, CodeTokenizer.tokenize(text).toSeq) }
      .filter(_._2.nonEmpty)
    if (analyzed.isEmpty) return ServedTopK.noHits(spark)
    val (n, avgdl) = Postings.corpusStats(Postings.doclens(docs, idCol, contentCol))
    val posPost = Postings.buildPositional(docs, idCol, contentCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // df restricted to the QUERY's terms before the collect — an
      // unfiltered groupBy-collect over the full build would pull the
      // whole corpus vocabulary onto the driver
      val dfMap = postingsDf(posPost.filter(col("term").isInCollection(analyzed.flatMap(_._2).distinct)))
      rankTopK(phraseScoredOver(posPost, n, avgdl, analyzed, cfg, slop, dfMap), cfg.topK)
        .localCheckpoint(eager = true)
    } finally { posPost.unpersist(); () }
  }

  /** Phrase top-k served from a PERSISTED index ([[graft.index.SegmentBuilder]]
    * layout v2+): positions live in the shard-partitioned postings store
    * — built ONCE at ingest, exactly like ES indexes positions for text
    * fields by default (match_phrase never re-reads source text) — and
    * the index's [[PhraseHandle]] (from [[phraseHandleFor]]) holds them
    * in its executor-resident positional cache, so a phrase batch is ONE
    * Spark job over that cache, never a corpus tokenize and never a
    * parquet read. Corpus stats come from the index's stats table
    * (computed over ALL docs at ingest, including zero-token docs the
    * postings cannot carry). Same result contract as [[phraseTopK]];
    * eager and bounded like [[PhraseHandle.topK]], which serves it. The
    * first call on an index (or after it changed) pays the cache build,
    * a read of the whole postings store. */
  def phraseTopKIndexed(spark: SparkSession, indexDir: String,
                        phrases: Seq[(Int, String)],
                        cfg: EngineConfig = EngineConfig.default,
                        slop: Int = 0): DataFrame = {
    // empty-input early return BEFORE touching the handle: an all-empty
    // batch (stopwords/punctuation only) must stay a zero-I/O no-op —
    // handle construction reads the stats table, which on a non-index
    // path would turn "nothing to do" into an exception
    if (phrases.forall { case (_, t) => CodeTokenizer.tokenize(t).isEmpty })
      return ServedTopK.noHits(spark)
    // served through the process-level handle memo (the match_phrase
    // twin of Wand.handleFor): the positional cache must amortize across
    // calls, not recur per query
    phraseHandleFor(spark, indexDir, cfg).topK(phrases, slop)
  }

  /** The process-level [[PhraseHandle]] of an index, from the handle
    * memo [[Wand.memoHandle]], signed over what phrase serving reads —
    * postings + stats: an append/compaction/restat lands new files and
    * swaps the handle (closing the old one, which releases its
    * positional cache), an untouched index reuses it with zero
    * metadata jobs. */
  def phraseHandleFor(spark: SparkSession, indexDir: String,
                      cfg: EngineConfig = EngineConfig.default): PhraseHandle =
    Wand.memoHandle(spark, indexDir, cfg, Seq("postings", "stats"))(
      new PhraseHandle(spark, indexDir, cfg))

  /** The shard a term's postings land in — the DRIVER-SIDE twin of the
    * ingest writer's `pmod(xxhash64(term), shards)` (same XXH64 core,
    * same seed 42, same positive-mod), so serving can partition-prune
    * without running a Spark job. Parity is property-tested in
    * Bm25Spec. */
  def termShard(term: String, shards: Int): Int = {
    val h = termHash(term)
    (((h % shards) + shards) % shards).toInt
  }

  /** Driver-side twin of `xxhash64(term)` (same XXH64 core, seed 42) —
    * the store's thash clustering/pruning key. Parity with the writer
    * is property-tested in Bm25Spec via termShard. */
  def termHash(term: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(term), 42L)

  /** The phrase terms' positional postings, pruned at the SCAN: shard
    * directories from the terms' own hash (partition pruning, computed
    * driver-side via [[termShard]] — zero Spark jobs) and
    * `term IN (...)` pushed into the parquet reader (row-group stats +
    * dictionary pruning). Only [[graft.Bench]]'s `phrase_prune`
    * measurement reads postings this way: every served request reads
    * the positional cache ([[PhraseHandle]]). The shard count comes from
    * the index's OWN ingest marker, never from a caller config — a
    * silent mismatch would drop postings from the pruned read instead
    * of failing. */
  def prunedPositionalPostings(spark: SparkSession, indexDir: String,
                               terms: Seq[String]): DataFrame = {
    val diskShards = SegmentBuilder.indexShards(indexDir)
    val termShards = terms.map(termShard(_, diskShards)).distinct
    // three pruning levels, driver-computed (zero Spark jobs): shard
    // DIRECTORY pruning, thash ROW-GROUP pruning (files are
    // hash-clustered — layout v3 — so long-stats ranges are tight),
    // and the exact term filter (thash collisions are harmless)
    val hashes = terms.map(termHash)
    positionalPostings(spark, indexDir).filter(col("shard").isInCollection(termShards))
      .filter(col("thash").isInCollection(hashes))
      .filter(col("term").isInCollection(terms))
      .select("term", "doc_id", "doclen", "tf", "positions")
  }

  /** The index's postings store, opened (which infers its schema from
    * the files — a Spark job); fails loud on a layout without positions
    * or thash. */
  private def positionalPostings(spark: SparkSession, indexDir: String): DataFrame = {
    val all = spark.read.parquet(s"$indexDir/postings")
    require(all.columns.contains("positions"),
      s"$indexDir/postings has no positions column (pre-v2 layout) — re-ingest")
    require(all.columns.contains("thash"),
      s"$indexDir/postings has no thash column (pre-v3 layout) — re-ingest")
    all
  }

  /** Per-term df of a term-pruned postings frame (one row per
    * (term, doc)), collected: bounded by the terms it was pruned to. */
  private def postingsDf(post: DataFrame): Map[String, Long] =
    post.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The one-aggregation phrase pass given resolved per-term df (see
    * [[phraseTopK]] for the shape rationale): the unranked
    * (qid, doc_id, score) phrase matches, which [[phraseTopK]] ranks.
    * The score fold rides the span step's aggregation. */
  private def phraseScoredOver(posPost: DataFrame, n: Long, avgdl: Double,
                               analyzed: Seq[(Int, Seq[String])],
                               cfg: EngineConfig, slop: Int,
                               dfMap: Map[String, Long]): DataFrame = {
    val spark = posPost.sparkSession
    import spark.implicits._
    // score_me marks the FIRST offset of each distinct term: scoring
    // sums one weight per distinct term even when the phrase repeats a
    // term at several offsets
    val q = analyzed.flatMap { case (qid, ts) =>
      val seen = scala.collection.mutable.Set[String]()
      ts.zipWithIndex.map { case (t, off) =>
        (qid, t, off, ts.length, seen.add(t), dfMap.getOrElse(t, 0L))
      }
    }.toDF("qid", "term", "off", "m", "score_me", "df")
    phraseSpans(weigh(posPost, q, n, avgdl, cfg), Seq("qid"), slop,
      foldAscending(when(col("score_me"), struct(col("term"), col("w")))).as("score"))
  }

  /** One term's positional postings in one doc partition, as the
    * positional cache holds them: flat primitive arrays sorted by doc —
    * `docs(i)` has doclen `doclens(i)` and positions
    * `positions(posOff(i) until posOff(i + 1))`, as many as its tf
    * ([[tf]]) — plus the term's df, its postings-row count in the whole
    * store (what [[postingsDf]] counts), which a cut keeps. */
  final case class PosEntry(df: Long, docs: Array[Long], doclens: Array[Int],
                            posOff: Array[Int], positions: Array[Int]) {
    /** The tf of `docs(i)`: its position count. */
    def tf(i: Int): Int = posOff(i + 1) - posOff(i)

    /** The postings of docs [lo, hi), positions rebased; None when the
      * range holds none of the entry's docs. */
    def within(lo: Long, hi: Long): Option[PosEntry] = {
      def cut(b: Long) = { val i = java.util.Arrays.binarySearch(docs, b); if (i >= 0) i else -i - 1 }
      val from = if (lo == Long.MinValue) 0 else cut(lo)
      val until = if (hi == Long.MaxValue) docs.length else cut(hi)
      if (from >= until) None
      else if (from == 0 && until == docs.length) Some(this)
      else {
        val p0 = posOff(from)
        Some(PosEntry(df, docs.slice(from, until), doclens.slice(from, until),
          posOff.slice(from, until + 1).map(_ - p0), positions.slice(p0, posOff(until))))
      }
    }

    /** The same postings in the order of `sorted`, the entry's docs
      * sorted (and distinct): row i moves to the slot of its doc. */
    def permuted(sorted: Array[Long]): PosEntry = {
      val to = docs.map(java.util.Arrays.binarySearch(sorted, _))
      val dl, len = new Array[Int](docs.length)
      for (i <- docs.indices) { dl(to(i)) = doclens(i); len(to(i)) = tf(i) }
      val off = len.scanLeft(0)(_ + _)
      val pos = new Array[Int](positions.length)
      for (i <- docs.indices) System.arraycopy(positions, posOff(i), pos, off(to(i)), len(to(i)))
      PosEntry(df, sorted, dl, off, pos)
    }
  }

  /** The name of an index's positional cache RDD. */
  private[query] def positionalCacheName(indexDir: String): String =
    s"graft positional cache $indexDir"

  /** One shard's positional entries: postings rows
    * `(term, doc_id, doclen, tf, positions)` in any order, gathered per
    * term into one [[PosEntry]] per term, sorted by doc, its df the
    * term's row count. A repeated (term, doc) row — a replayed append's
    * postings that no compaction has deduplicated yet — fails loud:
    * served df and matches would silently differ from the deduplicated
    * store's. So does a row whose tf is not its position count, which
    * the entry would not keep. */
  private def positionalEntries(rows: Iterator[InternalRow], where: String): Map[String, PosEntry] = {
    final class TermRows {
      val docs = new mutable.ArrayBuilder.ofLong
      val doclens, posOff, positions = new mutable.ArrayBuilder.ofInt
      posOff += 0
    }
    val byTerm = new java.util.HashMap[UTF8String, TermRows]()
    rows.foreach { r =>
      val t = r.getUTF8String(0)
      var b = byTerm.get(t)
      if (b == null) { b = new TermRows; byTerm.put(t.clone(), b) }
      b.docs += r.getLong(1)
      b.doclens += Math.toIntExact(r.getLong(2))
      val ps = r.getArray(4)
      if (r.getLong(3) != ps.numElements())
        throw new IllegalStateException(s"$where holds a postings row for (term <$t>, doc ${r.getLong(1)}) " +
          s"with tf ${r.getLong(3)} but ${ps.numElements()} positions")
      var i = 0
      while (i < ps.numElements()) { b.positions += ps.getInt(i); i += 1 }
      b.posOff += b.positions.length
    }
    val out = Map.newBuilder[String, PosEntry]
    byTerm.forEach { (t, b) =>
      val docs = b.docs.result()
      val sorted = docs.clone()
      java.util.Arrays.sort(sorted)
      var i = 1
      while (i < sorted.length) {
        if (sorted(i - 1) == sorted(i))
          throw new IllegalStateException(s"$where holds duplicate postings rows for " +
            s"(term <$t>, doc ${sorted(i)}), a replayed append: compactShards removes them")
        i += 1
      }
      val e = PosEntry(docs.length, docs, b.doclens.result(), b.posOff.result(), b.positions.result())
      out += t.toString -> (if (java.util.Arrays.equals(docs, sorted)) e else e.permuted(sorted))
    }
    out.result()
  }

  /** One positional query over a doc partition's [[PosEntry]]s — the
    * one shape every request the positional cache serves compiles to:
    * match_phrase ([[PosQuery.phrase]]), match_phrase_prefix and indexed
    * query_string ([[QueryDsl]]). A doc matches when it holds every
    * `must` term, at least `msm` distinct `should` terms and at least one
    * `must` or `should` term, no `mustNot` term, every required phrase
    * and no excluded one ([[PosPhrase]]); it scores the sum of
    * [[weight]] over the `must` and `should` terms it holds, folded in
    * [[foldTerms]]' order — [[QueryDsl.boolScored]]'s role algebra.
    * Terms are distinct within and across the three roles. */
  final case class PosQuery(must: Seq[String], should: Seq[String] = Nil, mustNot: Seq[String] = Nil,
                            msm: Int = 0, phrases: Seq[PosPhrase] = Nil) {
    /** Every term the query reads: its roles' and its phrases'. */
    def terms: Seq[String] = (must ++ should ++ mustNot ++ phrases.flatMap(_.offsets.flatten)).distinct
  }

  object PosQuery {
    /** match_phrase: the phrase's distinct terms required and scored, and
      * the phrase itself required, one term per offset. */
    def phrase(ts: Seq[String], slop: Int): PosQuery =
      PosQuery(ts.distinct, phrases = Seq(PosPhrase(ts.map(Seq(_)), slop)))
  }

  /** A phrase filter of a [[PosQuery]]: `offsets(o)` holds the
    * alternative terms of phrase offset o — one for a plain phrase
    * offset, a prefix's expansions at match_phrase_prefix's last — whose
    * positions in a doc merge, sorted, into the offset's one position
    * list; [[OrderedSpanMatchExpr.spans]] decides the phrase at `slop`.
    * A `required` phrase must hit; an excluded one must not. */
  final case class PosPhrase(offsets: Seq[Seq[String]], slop: Int, required: Boolean = true)

  /** Reusable positional serving handle — the match_phrase twin of
    * [[Wand.Handle]], which also serves match_phrase_prefix and indexed
    * query_string: corpus stats, doc-range boundaries and the positional
    * cache are read once, at init, and serve every batch. Result
    * contract identical to [[phraseTopK]].
    *
    * The positional cache is a [[ShardCache]] named
    * [[positionalCacheName]] over the index's positional postings. Its
    * doc partitions, one per doc range, each hold the postings of their
    * docs, gathered per term and sorted by doc: per shard, one
    * `term -> [[PosEntry]]` map, one object per term, never one per
    * posting. Each entry's df is its term's postings-row count in the
    * whole store — appends no `buildAll` has encoded included — counted
    * where the init gather sees all of the term's rows, in its shard.
    * Memory contract: the store's postings and positions as flat arrays
    * plus per-term overhead, each posting held once, in executor storage
    * memory. It keeps no dictionary: expansions walk the WAND handle's.
    * [[caches]] reports the sizes.
    *
    * [[serve]] is ONE Spark job of ONE stage over the doc partitions
    * ([[ShardCache.topK]]), EAGER: each partition evaluates each
    * [[PosQuery]] over its entries of the query's terms ([[posHits]]),
    * and the hits rank into a local `(qid, rank, doc_id, score)` frame in
    * (qid, rank) order. A doc range holds at most about
    * `serveTargetPostings` postings of the hottest term, so no request
    * task ever holds a whole hot term.
    *
    * Staleness contract (same as [[Wand.Handle]]): the handle reflects
    * the index state at construction; [[phraseHandleFor]] swaps it after
    * [[graft.index.SegmentBuilder.appendDocs]] / a rebuild. */
  final class PhraseHandle private[query] (spark: SparkSession, indexDir: String,
                                           cfg: EngineConfig = EngineConfig.default)
      extends Wand.ServingHandle {
    private val cache = {
      val dir = indexDir
      new ShardCache[InternalRow, PosEntry](spark, indexDir, cfg, positionalCacheName(indexDir), "positional",
        positionalPostings(spark, indexDir),
        _.select("term", "doc_id", "doclen", "tf", "positions").queryExecution.toRdd, withDictionary = false)(
        (rows, s) => positionalEntries(rows, s"$dir/postings/shard=$s"), _.df, _.within(_, _))
    }
    val serveRanges: Int = cache.ranges

    /** Analyzed match_phrase queries, served by [[serve]]. */
    def topK(phrases: Seq[(Int, String)], slop: Int = 0): DataFrame =
      serve(phrases.map { case (qid, text) => qid -> CodeTokenizer.tokenize(text).toSeq }
        .collect { case (qid, ts) if ts.nonEmpty => qid -> PosQuery.phrase(ts, slop) })

    /** Per-qid positional queries (a qid listed twice keeps its last),
      * ranked in ONE Spark job of ONE stage; a batch that reads no term
      * runs no job. */
    def serve(queries: Seq[(Int, PosQuery)]): DataFrame = {
      val byQid = queries.toMap
      val k1 = cfg.k1; val b = cfg.b
      val n = cache.n; val avgdl = cache.avgdl
      cache.topK(byQid.toSeq.map { case (qid, q) => qid -> q.terms }) { (qid, _, _, entries) =>
        posHits(byQid(qid), entries.toMap, n, avgdl, k1, b)
      }
    }

    def caches: Seq[Wand.CacheStat] = cache.caches

    /** Releases the positional cache without blocking (see
      * [[Wand.memoHandle]]). */
    def close(): Unit = cache.close()
  }

  /** One (qid, doc partition) of a served positional batch: `q` over
    * `byTerm`, the partition's entry of each of its terms present.
    * Candidates are the docs of the shortest `must` list (else the union
    * of the `should` lists); every term keeps one forward-only cursor, so
    * a batch costs one merge pass over its terms' doc lists. A phrase
    * offset of one term reads its positions in place, so a plain phrase
    * allocates per candidate doc only the span check's cursors and the
    * hit itself; an offset with alternatives merges the positions of
    * those a doc holds into a fresh sorted array. The scored terms'
    * weights ([[weightOf]]) sum in [[foldTerms]]' order, sorted once per
    * call. Returns (score, doc_id) — for a plain phrase, what
    * [[phraseScoredOver]] computes for the same docs. */
  private def posHits(q: PosQuery, byTerm: Map[String, PosEntry],
                      n: Long, avgdl: Double, k1: Double, b: Double): Iterator[(Double, Long)] = {
    val terms = q.terms.filter(byTerm.contains).toArray
    val es = terms.map(byTerm)
    val slot = terms.zipWithIndex.toMap
    val Seq(must, should, not) = Seq(q.must, q.should, q.mustNot).map(_.flatMap(slot.get).toArray)
    // required phrases first; an excluded one missing a term never hits
    val checks = q.phrases.map(p => new PhraseCheck(p.offsets.map(_.flatMap(slot.get).toArray).toArray, p))
      .filter(c => c.phrase.required || c.alts.forall(_.nonEmpty)).sortBy(!_.phrase.required).toArray
    if (must.length < q.must.length || should.length < q.msm || must.isEmpty && should.isEmpty ||
        checks.exists(c => c.phrase.required && c.alts.exists(_.isEmpty))) return Iterator.empty
    val at = new Array[Int](es.length) // per-term cursors, only ever forward
    def has(j: Int, d: Long): Boolean = {
      val ds = es(j).docs
      while (at(j) < ds.length && ds(at(j)) < d) at(j) += 1
      at(j) < ds.length && ds(at(j)) == d
    }
    def hits(c: PhraseCheck, d: Long): Boolean = {
      var o = 0
      while (o < c.alts.length) {
        val alts = c.alts(o)
        if (alts.length == 1) { // one term: its positions in place
          val j = alts(0)
          if (!has(j, d)) return false
          c.pos(o) = es(j).positions; c.from(o) = es(j).posOff(at(j)); c.until(o) = es(j).posOff(at(j) + 1)
        } else { // alternatives: the positions of those the doc holds, merged
          val ps = alts.filter(has(_, d))
            .flatMap(j => es(j).positions.slice(es(j).posOff(at(j)), es(j).posOff(at(j) + 1)))
          java.util.Arrays.sort(ps)
          c.pos(o) = ps; c.from(o) = 0; c.until(o) = ps.length
        }
        o += 1
      }
      OrderedSpanMatchExpr.spans(c.pos, c.from, c.until, c.phrase.slop)
    }
    // the scored terms in fold order, each with its idf
    val scored = (q.must ++ q.should).flatMap(slot.get).sortBy(terms(_))(ServedTopK.termOrder).toArray
    val idfs = scored.map(j => idf(es(j).df, n))
    val candidates =
      if (must.nonEmpty) es(must.minBy(es(_).docs.length)).docs else should.flatMap(es(_).docs).distinct.sorted
    candidates.iterator.filter { d =>
      var ok = true; var got = 0; var i = 0
      while (ok && i < must.length) { ok = has(must(i), d); i += 1 }
      i = 0
      while (i < should.length) { if (has(should(i), d)) got += 1; i += 1 }
      ok &&= got >= q.msm
      i = 0
      while (ok && i < not.length) { ok = !has(not(i), d); i += 1 }
      i = 0
      while (ok && i < checks.length) { ok = hits(checks(i), d) == checks(i).phrase.required; i += 1 }
      ok
    }.map { d =>
      var s = 0.0; var i = 0
      while (i < scored.length) {
        val j = scored(i)
        if (has(j, d)) s += weightOf(idfs(i), es(j).tf(at(j)), es(j).doclens(at(j)), avgdl, k1, b)
        i += 1
      }
      s -> d
    }
  }

  /** One [[PosPhrase]] of a [[posHits]] call: `alts(o)` the cursor slots
    * of offset o's alternatives the partition holds, and the span inputs
    * [[OrderedSpanMatchExpr.spans]] reads, refilled per doc. */
  private final class PhraseCheck(val alts: Array[Array[Int]], val phrase: PosPhrase) {
    val pos = new Array[Array[Int]](alts.length)
    val from, until = new Array[Int](alts.length)
  }

  /** Phrase candidate sets from positional postings, ALL phrases in one
    * corpus pass: the (qid, phrase-offset, term) table broadcasts
    * against the positional postings (term-pruned scan), each candidate
    * (qid, doc) gathers its per-offset position lists, and
    * [[OrderedSpanMatchExpr]] decides the match in one sweep. Duplicate
    * phrase terms are handled exactly (one position list per OFFSET).
    * Output: (qid, doc_id). */
  def phraseCandidates(docs: DataFrame, idCol: Column, contentCol: Column,
                       analyzed: Seq[(Int, Seq[String])],
                       slop: Int = 0): DataFrame =
    phraseCandidatesFrom(Postings.buildPositional(docs, idCol, contentCol),
      analyzed, slop)

  /** As [[phraseCandidates]], over an already-built positional postings
    * frame: the [[phraseOffsets]] literal broadcast onto it, then the
    * span step. */
  def phraseCandidatesFrom(posPost: DataFrame,
                           analyzed: Seq[(Int, Seq[String])],
                           slop: Int = 0): DataFrame =
    phraseSpans(posPost.join(broadcast(phraseOffsets(posPost.sparkSession, analyzed)), "term"),
      Seq("qid"), slop).select(col("qid"), col("doc_id"))

  /** The (qid, term, off, m) literal of analyzed phrases: one row per
    * phrase OFFSET (a repeated term gets one row per occurrence), m the
    * phrase length. */
  private[query] def phraseOffsets(spark: SparkSession,
                                   analyzed: Seq[(Int, Seq[String])]): DataFrame = {
    import spark.implicits._
    analyzed.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, off) => (qid, t, off, ts.length) }
    }.toDF("qid", "term", "off", "m")
  }

  /** The span step — the one phrase decision: joined rows
    * (keys…, doc_id, off, m, positions), one per (phrase offset, doc),
    * group per (keys…, doc_id); a group matches when every offset is
    * present (a doc missing any term cannot match) and
    * [[OrderedSpanMatchExpr]] accepts the offset-ordered position lists
    * at `slop`. `extra` aggregates (a score fold, a role) ride the same
    * aggregation. */
  private[query] def phraseSpans(joined: DataFrame, keys: Seq[String], slop: Int,
                                 extra: Column*): DataFrame =
    joined.groupBy((keys :+ "doc_id").map(col): _*)
      .agg(count(lit(1)).as("got"), first(col("m")).as("m") +:
        sort_array(collect_list(struct(col("off"), col("positions")))).as("lists") +: extra: _*)
      .filter(col("got") === col("m"))
      .filter(OrderedSpanMatchExpr.matches(
        transform(col("lists"), x => x.getField("positions")), lit(slop)))

  /** Sum per-(qid, doc) weights in ascending term order, rank, take k.
    * Input needs columns (qid, doc_id, term, w) and, when `conjunctive`,
    * n_terms (docs must match every analyzed term — ES bool/must
    * semantics; OR/`match` semantics otherwise).
    *
    * Ranking is a bounded [[TopKByScore]] aggregation per qid (map-side
    * partial top-k heaps, k rows per partition per qid on the shuffle) —
    * NOT a per-qid window, which would sort every candidate of a hot
    * query inside one task (round-1 scale-killer; guarded in PlanSpec). */
  def scoreAndRank(weighted: DataFrame, k: Int, conjunctive: Boolean = false): DataFrame =
    rankTopK(scored(weighted, conjunctive), k)

  /** The pre-rank scored set (qid, doc_id, score[, matched, n_terms]) —
    * the distributed aggregation scoreAndRank ranks, exposed so cursor
    * paths (search_after) can restrict it before the bounded top-k. */
  def scored(weighted: DataFrame, conjunctive: Boolean = false): DataFrame = {
    val grouped = weighted
      .groupBy("qid", "doc_id")
      .agg(
        foldAscending(struct(col("term"), col("w"))).as("score"),
        count(lit(1)).as("matched"),
        first(col("n_terms"), ignoreNulls = true).as("n_terms"))
    if (conjunctive) grouped.filter(col("matched") === col("n_terms"))
    else grouped
  }

  /** Rank (qid, doc_id, score) rows: bounded per-qid top-k aggregation
    * (map-side partial heaps, k rows per partition per qid on the
    * shuffle — never a per-qid window), rank ties broken doc_id asc. */
  def rankTopK(scores: DataFrame, k: Int): DataFrame =
    scores.groupBy("qid")
      .agg(TopKAgg.topK(k)(col("score"), col("doc_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "sd")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("sd.doc_id").as("doc_id"), col("sd.score").as("score"))
      .orderBy("qid", "rank")
}
