package graft.query

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analyze.CodeTokenizer
import graft.config.EngineConfig
import graft.index.{Codec, IngestMarker, Postings, SegmentBuilder}

/** Okapi BM25 (k1=1.2, b=0.75 — the ES 7.x default similarity the
  * reference's index would use; public knowledge) with Lucene-style
  * non-negative idf.
  *
  * Rank identity discipline (SURVEY.md §7.4 risk 1): the scalar formula
  * below is written once and mirrored OPERATION-FOR-OPERATION in the
  * DuckDB oracle SQL, and per-document scores are summed in ascending
  * term order in all implementations, so equal inputs produce bit-equal
  * doubles everywhere.
  *
  * What a ranked text query means is defined once: it compiles to a
  * [[PosQuery]], and [[posHits]] evaluates it over one partition's
  * [[PosEntry]]s with global statistics — ES's `dfs_query_then_fetch`
  * shape, global term stats first, then per-shard scoring. Two sources
  * feed it the entries:
  *  - the corpus: [[corpusHits]] runs one [[statsAndDf]] job, then one
  *    narrow pass in which every docs partition gathers its query terms'
  *    positional postings ([[positionalEntries]]) and evaluates; the
  *    lazy [[rankTopK]] ranks the rows;
  *  - the index: the one serving cache of a [[Wand.Handle]] holds one
  *    decoded entry per term and doc range; [[PhraseHandle.serve]]
  *    evaluates over it, and [[Wand]]'s block-max WAND serves term
  *    disjunctions over the same entries, summing a doc's weights in the
  *    same term order; [[ServedTopK]] ranks both.
  * Term expansions are capped by [[Wand.capped]] over the served
  * dictionary and by [[Wand.expandCapped]] on the corpus query_string
  * path. [[foldAscending]] is left only for the folds that are not a
  * score over terms: dis_max's over fields, has_child's over children.
  */
object BM25 {

  /** idf = ln(1 + (N - df + 0.5) / (df + 0.5)).
    * StrictMath.log: its bits do not depend on the JIT's intrinsics, so
    * every evaluator and every JVM computes the same idf. */
  def idf(df: Long, n: Long): Double =
    StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** Per-(term, doc) weight. Association mirrors the SQL form:
    * (idf * (tf * (k1+1))) / (tf + k1 * ((1 - b) + (b * dl) / avgdl)) */
  def weight(tf: Long, dl: Long, df: Long, n: Long, avgdl: Double,
             k1: Double = 1.2, b: Double = 0.75): Double =
    weightOf(idf(df, n), tf, dl, avgdl, k1, b)

  /** [[weight]] given the term's [[idf]], computed once per term by the
    * evaluators; the same association, so the same bits. */
  def weightOf(idf: Double, tf: Long, dl: Long, avgdl: Double, k1: Double, b: Double): Double =
    idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * dl) / avgdl))

  /** The Column fold: the sum of the second field of the group's `entry`
    * structs, taken in ascending order of the first field — dis_max's
    * per-field scores in field order, has_child's child scores in doc
    * order. Null entries (a `when` without `otherwise`) drop out. */
  private[query] def foldAscending(entry: Column): Column =
    SumStructFieldExpr.sumField(sort_array(collect_list(entry)), 1, 2)

  /** Term-count threshold above which the stats job splits into two
    * passes: one `array_contains` aggregate column per term is the
    * single-pass shape, but past a few dozen terms (prefix/fuzzy
    * expansions, MLT candidate vocabularies) the per-doc term probing
    * and the aggregate width stop paying for the saved pass. */
  private val StatsSinglePassMaxTerms = 24

  /** ONE bounded stats job computing the BM25 scoring constants
    * (N, avgdl) and per-term document frequency for a bounded term set:
    * [[statsAndDfMulti]] over the one field. Replaces the former
    * three-subtree shape — a doclens-only corpus tokenize for the stats
    * plus a FULL-VOCABULARY docFreq aggregation whose shuffle existed
    * only to be inner-joined down to the query's handful of terms (guide
    * §1.2 step 1 / §2.3 "aggregate before you shuffle": df for k query
    * terms never needs the whole term space shuffled; at 100 TB the
    * vocabulary aggregation is corpus-sized). */
  def statsAndDf(docs: DataFrame, idCol: Column, contentCol: Column,
                 terms: Seq[String]): (Long, Double, Map[String, Long]) =
    statsAndDfMulti(docs, idCol, Seq(contentCol), terms).head

  /** Every field's BM25 constants (n, avgdl, df) out of ONE corpus scan,
    * each field tokenized once inside the same projection — the one
    * stats builder, a single field its one-element case
    * ([[statsAndDf]]), a multi_match/dis_max preamble the many-field one.
    *
    * Exactness: n and avgdl are the same count/avg over the same
    * tokenized rows (the doclen sum is an integer < 2^53, so the double
    * sum is exact and order-independent); df(t) = number of docs whose
    * kept-token array contains t, which is by construction the number
    * of postings rows for t. Terms absent from a field are absent from
    * its map. Above [[StatsSinglePassMaxTerms]] terms the df side runs
    * as a term-pruned postings aggregation per field (still never
    * full-vocabulary), submitted next to the stats aggregate from its
    * own driver thread so it backfills the other's straggler tail
    * (guide §2.6); the values are identical either way. */
  def statsAndDfMulti(docs: DataFrame, idCol: Column, fields: Seq[Column],
                      terms: Seq[String]): Seq[(Long, Double, Map[String, Long])] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val ts = terms.distinct
    val onePass = ts.size <= StatsSinglePassMaxTerms
    val tok = docs.select(fields.zipWithIndex.map { case (f, i) =>
      CodeTokenizer.tokensColFast(f).as(s"tokens_$i") }: _*)
    // per field: avg(doclen), then (one pass) one df count per term
    val width = if (onePass) 1 + ts.size else 1
    val aggs: Seq[Column] = count(lit(1)).as("n") +:
      fields.indices.flatMap { i =>
        avg(size(col(s"tokens_$i")).cast("long")) +:
          (if (onePass) ts.map(t => count(when(array_contains(col(s"tokens_$i"), t), 1))) else Nil)
      }
    val dfs = Future(if (onePass) Nil else fields.map(f =>
      Postings.build(docs, idCol, f).filter(col("term").isInCollection(ts))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap))
    val row = tok.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    val pruned = Await.result(dfs, Duration.Inf)
    fields.indices.map { i =>
      val base = 1 + i * width
      val avgdl = if (row.isNullAt(base)) 0.0 else row.getDouble(base)
      val dfMap =
        if (!onePass) pruned(i)
        else ts.zipWithIndex.flatMap { case (t, j) =>
          val c = row.getLong(base + 1 + j)
          if (c > 0) Some(t -> c) else None
        }.toMap
      (n, avgdl, dfMap)
    }
  }

  /** Top-k BM25 per query over the corpus: each query's analyzed terms
    * as one [[PosQuery]] — a disjunction (`should`, at least one term:
    * ES `match`), or with `conjunctive` a conjunction (`must`: ES
    * `match` with operator=and) — evaluated by [[corpusHits]] and ranked
    * by [[rankTopK]].
    *
    * Output: (qid int, rank long, doc_id long, score double) where score
    * is summed in ascending term order (deterministic doubles) and rank
    * ties break on doc_id asc.
    */
  def topK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
           queries: Seq[(Int, String)], cfg: EngineConfig = EngineConfig.default,
           conjunctive: Boolean = false,
           statsKnown: Option[(Long, Double, Map[String, Long])] = None): DataFrame = {
    val qs = matchQueries(queries, conjunctive)
    if (qs.isEmpty) ServedTopK.noHits(spark)
    else rankTopK(corpusHits(docs, idCol, contentCol, qs, cfg, statsKnown), cfg.topK)
  }

  /** Analyzed match queries as [[PosQuery]]s — a disjunction, or with
    * `conjunctive` a conjunction, of each query's distinct terms; a
    * query with no term after analysis drops. */
  private[query] def matchQueries(queries: Seq[(Int, String)], conjunctive: Boolean = false)
      : Seq[(Int, PosQuery)] =
    queries.map { case (qid, text) => qid -> CodeTokenizer.queryTerms(text) }.collect {
      case (qid, ts) if ts.nonEmpty => qid -> (if (conjunctive) PosQuery(ts) else PosQuery(Nil, ts, msm = 1))
    }

  /** Phrase top-k (ES match_phrase semantics at slop 0: the analyzed
    * phrase tokens must occur consecutively in order; slop > 0 relaxes
    * to ORDERED proximity with total slack <= slop — see
    * [[OrderedSpanMatchExpr]] for the exact contract). Qualifying docs
    * are scored with corpus-wide BM25 stats over the phrase's distinct
    * terms: each phrase is one [[PosQuery.phrase]], evaluated by
    * [[corpusHits]] — one stats job and one positional corpus pass for
    * all phrases, whatever their lengths — and ranked by [[rankTopK]]. */
  def phraseTopK(spark: SparkSession, docs: DataFrame, idCol: Column, contentCol: Column,
                 phrases: Seq[(Int, String)],
                 cfg: EngineConfig = EngineConfig.default,
                 slop: Int = 0): DataFrame = {
    val qs = phrases.map { case (qid, text) => qid -> CodeTokenizer.tokenize(text).toSeq }
      .collect { case (qid, ts) if ts.nonEmpty => qid -> PosQuery.phrase(ts, slop) }
    if (qs.isEmpty) ServedTopK.noHits(spark)
    else rankTopK(corpusHits(docs, idCol, contentCol, qs, cfg), cfg.topK)
  }

  /** The corpus evaluator: the unranked, lazy `(qid, doc_id, score)`
    * hits of each per-qid [[PosQuery]] over the docs — the corpus twin of
    * [[PhraseHandle.serve]], with the same [[posHits]].
    *
    * One bounded stats job ([[statsAndDf]] over the queries' terms,
    * skipped when `statsKnown` carries N, avgdl and the df of every
    * term; a term it does not hold counts as absent), then one narrow
    * pass with no shuffle: each docs partition tokenizes its docs into
    * positional postings ([[Postings.buildPositional]]), keeps the query
    * terms' rows, reads them typed, positions a primitive array
    * ([[CorpusPosting]]), gathers them per term ([[positionalEntries]]),
    * swaps each entry's partition df for the global one and runs
    * [[posHits]] per qid. Every doc's postings sit in its own partition,
    * so the per-doc fold needs no shuffle; N and avgdl count zero-token
    * docs, which hold no postings. */
  def corpusHits(docs: DataFrame, idCol: Column, contentCol: Column, queries: Seq[(Int, PosQuery)],
                 cfg: EngineConfig = EngineConfig.default,
                 statsKnown: Option[(Long, Double, Map[String, Long])] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = queries.flatMap(_._2.terms).distinct
    val (n, avgdl, dfMap) = statsKnown.getOrElse(statsAndDf(docs, idCol, contentCol, terms))
    val df = terms.flatMap(t => dfMap.get(t).map(t -> _)).toMap
    val k1 = cfg.k1; val b = cfg.b
    Postings.buildPositional(docs, idCol, contentCol).filter(col("term").isInCollection(df.keys))
      .as[CorpusPosting]
      .mapPartitions { rows =>
        val entries = positionalEntries(rows, df)
        queries.iterator.flatMap { case (qid, q) =>
          posHits(q, entries, n, avgdl, k1, b).map { case (s, d) => (qid, d, s) } }
      }.toDF("qid", "doc_id", "score")
  }

  /** Phrase top-k served from a PERSISTED index ([[graft.index.SegmentBuilder]]
    * layout v4): positions are tokenized ONCE at ingest, exactly like ES
    * indexes positions for text fields by default (match_phrase never
    * re-reads source text), and ride in the segment blocks `buildAll`
    * encodes; the index's [[PhraseHandle]] (from [[phraseHandleFor]])
    * reads them from the one serving cache, so a phrase batch is ONE
    * Spark job over that cache, never a corpus tokenize and never a
    * parquet read. Corpus stats come from the index's stats table
    * (computed over ALL docs at ingest, including zero-token docs the
    * postings cannot carry). Same result contract as [[phraseTopK]];
    * eager and bounded like [[PhraseHandle.topK]], which serves it. The
    * first call on an index (or after it changed) pays the cache build,
    * a read of the whole segment store. */
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
    // served through the process-level handle memo: the serving cache
    // must amortize across calls, not recur per query
    phraseHandleFor(spark, indexDir, cfg).topK(phrases, slop)
  }

  /** The [[PhraseHandle]] view of the index's process-level
    * [[Wand.Handle]] ([[Wand.handleFor]]: one handle and one cache per
    * index, signed over segments + stats). A freqs-only index fails loud
    * before any Spark job: its blocks hold no positions. */
  def phraseHandleFor(spark: SparkSession, indexDir: String,
                      cfg: EngineConfig = EngineConfig.default): PhraseHandle = {
    requirePositions(SegmentBuilder.marker(indexDir), indexDir)
    Wand.handleFor(spark, indexDir, cfg).phrase
  }

  /** Fails loud when `m`, the marker of `indexDir`, says its postings
    * carry no positions (ES index_options: freqs): a phrase cannot be
    * matched there. */
  private[query] def requirePositions(m: IngestMarker, indexDir: String): Unit =
    require(m.positions, s"$indexDir was ingested without positions (index_options freqs): " +
      "phrase queries need positions — re-ingest with storePositions")

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
    * the serving cache ([[Wand.Handle]]). The shard count comes from
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

  /** One term's postings in one doc partition, as the serving cache and
    * the corpus evaluator hold them: flat primitive arrays sorted by doc
    * — `docs(i)` has doclen `doclens(i)` and tf [[tf]] `posOff(i + 1) -
    * posOff(i)`, its positions `positions(posOff(i) until posOff(i + 1))`
    * (none at all — `positions` empty — in a freqs-only index) — plus
    * the term's df: its postings count in the whole store (or, in
    * [[corpusHits]], the whole corpus), which a cut keeps. A served
    * entry also holds `blockMax`: the max of the BM25 tf/length partial
    * [[Codec.u]] over each run of `blockSize` postings, under the
    * serving stats and config ([[withBlockMax]]), the WAND block bounds. */
  final case class PosEntry(df: Long, docs: Array[Long], doclens: Array[Int],
                            posOff: Array[Int], positions: Array[Int],
                            blockMax: Array[Double] = Array.emptyDoubleArray) {
    /** The tf of `docs(i)`. */
    def tf(i: Int): Int = posOff(i + 1) - posOff(i)

    /** The postings of docs [lo, hi), positions rebased, no block
      * maxima; the entry itself when it holds no other doc, None when
      * it holds none of them. */
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

    /** The entry with its `blockMax`: per run of `blockSize` postings, the
      * max [[Codec.u]] under `k1`, `b` and `avgdl`. */
    def withBlockMax(blockSize: Int, k1: Double, b: Double, avgdl: Double): PosEntry = {
      val m = new Array[Double]((docs.length + blockSize - 1) / blockSize)
      var i = 0
      while (i < docs.length) {
        val u = Codec.u(tf(i), doclens(i), k1, b, avgdl)
        if (u > m(i / blockSize)) m(i / blockSize) = u
        i += 1
      }
      copy(blockMax = m)
    }
  }

  object PosEntry {
    /** Gathers one term's postings, in any doc order, into one
      * doc-sorted [[PosEntry]]. */
    final class Builder {
      private val docs = new mutable.ArrayBuilder.ofLong
      private val doclens, posOff, positions = new mutable.ArrayBuilder.ofInt
      private var off = 0
      private var last = Long.MinValue
      private var inOrder = true
      posOff += 0

      /** A posting of `doc` with tf `tf` and positions `ps(from until
        * from + tf)`, or none when `ps` is empty. */
      def add(doc: Long, doclen: Long, tf: Int, ps: Array[Int], from: Int): Unit = {
        if (doc <= last) inOrder = false
        last = doc
        docs += doc
        doclens += Math.toIntExact(doclen)
        if (ps.nonEmpty) positions.addAll(ps, from, tf)
        off += tf
        posOff += off
      }

      /** The entry, df `df`; a doc added twice fails loud, naming `where`. */
      def result(df: Long, where: => String): PosEntry = {
        val e = PosEntry(df, docs.result(), doclens.result(), posOff.result(), positions.result())
        if (inOrder) e
        else {
          val sorted = e.docs.clone()
          java.util.Arrays.sort(sorted)
          var i = 1
          while (i < sorted.length) {
            if (sorted(i - 1) == sorted(i))
              throw new IllegalStateException(s"$where holds duplicate postings rows for doc ${sorted(i)}: " +
                "a doc id held twice, or a replayed append, which compactShards removes")
            i += 1
          }
          // row i moves to the slot of its doc
          val to = e.docs.map(java.util.Arrays.binarySearch(sorted, _))
          val dl, len = new Array[Int](sorted.length)
          for (i <- to.indices) { dl(to(i)) = e.doclens(i); len(to(i)) = e.tf(i) }
          val off = len.scanLeft(0)(_ + _)
          val pos = new Array[Int](e.positions.length)
          if (pos.nonEmpty) for (i <- to.indices) System.arraycopy(e.positions, e.posOff(i), pos, off(to(i)), len(to(i)))
          PosEntry(df, sorted, dl, off, pos)
        }
      }
    }
  }

  /** One positional postings row of a corpus, typed: its positions a
    * primitive array, decoded straight from the row, never boxed. */
  final case class CorpusPosting(term: String, doc_id: Long, doclen: Long, tf: Long, positions: Array[Int])

  /** One docs partition's positional entries: its postings rows in any
    * order, gathered per term into one [[PosEntry]] per term, sorted by
    * doc, its df the term's global one from `df`. A repeated (term, doc) row — a
    * doc id the corpus holds twice — fails loud: df and matches would
    * silently differ from the deduplicated corpus'. So does a row whose
    * tf is not its position count, which the entry would not keep. */
  private def positionalEntries(rows: Iterator[CorpusPosting], df: Map[String, Long]): Map[String, PosEntry] = {
    val byTerm = new java.util.HashMap[String, PosEntry.Builder]()
    rows.foreach { r =>
      if (r.tf != r.positions.length)
        throw new IllegalStateException(s"a docs partition holds a postings row for (term <${r.term}>, " +
          s"doc ${r.doc_id}) with tf ${r.tf} but ${r.positions.length} positions")
      byTerm.computeIfAbsent(r.term, _ => new PosEntry.Builder)
        .add(r.doc_id, r.doclen, r.positions.length, r.positions, 0)
    }
    val out = Map.newBuilder[String, PosEntry]
    byTerm.forEach { (t, b) => out += t -> b.result(df(t), s"a docs partition's term <$t>") }
    out.result()
  }

  /** One ranked text query, the shape every one compiles to — match
    * (OR and AND), match_phrase ([[PosQuery.phrase]]),
    * match_phrase_prefix, bool, query_string, more_like_this and the
    * corpus operators built on match — and that [[posHits]] evaluates,
    * over the corpus ([[corpusHits]]) or the serving cache
    * ([[PhraseHandle.serve]]). ES bool roles: a doc matches when it
    * holds every `must` and every `filter` term, at least `msm` distinct
    * `should` terms and at least one `must`, `filter` or `should` term,
    * no `mustNot` term, every required phrase and no excluded one
    * ([[PosPhrase]]); it scores the sum of [[weight]] over the `must`
    * and `should` terms it holds, summed from 0.0 in ascending
    * [[ServedTopK.termOrder]] (Spark's string order, the order every
    * score sums in) — a
    * `filter` term is required but scores nothing, so a doc matched by
    * filters alone scores 0.0. Terms are distinct within and across the
    * four roles. */
  final case class PosQuery(must: Seq[String], should: Seq[String] = Nil, mustNot: Seq[String] = Nil,
                            msm: Int = 0, phrases: Seq[PosPhrase] = Nil, filter: Seq[String] = Nil) {
    /** Every term the query reads: its roles' and its phrases'. */
    def terms: Seq[String] =
      (must ++ should ++ mustNot ++ filter ++ phrases.flatMap(_.offsets.flatten)).distinct
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

  /** The positional view of an index's [[Wand.Handle]] — match_phrase
    * requests over the handle's one serving cache, whose entries carry
    * the positions the segment blocks hold ([[ShardCache]]). One per
    * handle ([[Wand.Handle.phrase]], from [[phraseHandleFor]]); it
    * opens nothing of its own, and closing it closes the handle. Result
    * contract identical to [[phraseTopK]].
    *
    * [[serve]] is ONE Spark job of ONE stage over the doc partitions,
    * EAGER: each partition evaluates each [[PosQuery]] over its entries
    * of the query's terms ([[posHits]]), and the hits rank into a local
    * `(qid, rank, doc_id, score)` frame in (qid, rank) order. A doc range
    * holds at most about `serveTargetPostings` postings of the hottest
    * term, so no request task ever holds a whole hot term.
    *
    * Staleness contract (the handle's): it reflects what `buildAll`
    * encoded when the handle opened — appends no `buildAll` has encoded
    * are not served — and every term's df is sum(n_postings) over its
    * segment rows, the df term requests score with. */
  final class PhraseHandle private[query] (wand: Wand.Handle) extends AutoCloseable {
    /** An unshared view over a handle of its own (the memo's is
      * [[phraseHandleFor]]'s). */
    private[query] def this(spark: SparkSession, indexDir: String, cfg: EngineConfig) =
      this(new Wand.Handle(spark, indexDir, cfg))

    val serveRanges: Int = wand.serveRanges

    /** Analyzed match_phrase queries, served by [[serve]]. */
    def topK(phrases: Seq[(Int, String)], slop: Int = 0): DataFrame =
      serve(phrases.map { case (qid, text) => qid -> CodeTokenizer.tokenize(text).toSeq }
        .collect { case (qid, ts) if ts.nonEmpty => qid -> PosQuery.phrase(ts, slop) })

    /** Per-qid positional queries (a qid listed twice keeps its last),
      * ranked in ONE Spark job of ONE stage; a batch that reads no term
      * runs no job. */
    def serve(queries: Seq[(Int, PosQuery)]): DataFrame = wand.posTopK(queries)

    def caches: Seq[Wand.CacheStat] = wand.caches

    /** Closes the handle it views (see [[Wand.handleFor]]). */
    def close(): Unit = wand.close()
  }

  /** One (qid, partition) of a positional batch, served or corpus: `q`
    * over `byTerm`, the partition's entry of each of its terms present,
    * each carrying its global df. Candidates are the docs of the shortest
    * `must` or `filter` list (else the union of the `should` lists); an
    * absent `must` or `filter` term empties the qid. Every term keeps one
    * forward-only cursor, so a batch costs one merge pass over its terms'
    * doc lists. A phrase
    * offset of one term reads its positions in place, so a plain phrase
    * allocates per candidate doc only the span check's cursors and the
    * hit itself; an offset with alternatives merges the positions of
    * those a doc holds into a fresh sorted array. The scored terms'
    * weights ([[weightOf]]) sum in [[ServedTopK.termOrder]], sorted once
    * per call. Returns (score, doc_id), in doc order. */
  private[query] def posHits(q: PosQuery, byTerm: Map[String, PosEntry],
                      n: Long, avgdl: Double, k1: Double, b: Double): Iterator[(Double, Long)] = {
    val terms = q.terms.filter(byTerm.contains).toArray
    val es = terms.map(byTerm)
    val slot = terms.zipWithIndex.toMap
    // must and filter terms are both required: one list of cursor slots
    val Seq(required, should, not) = Seq(q.must ++ q.filter, q.should, q.mustNot).map(_.flatMap(slot.get).toArray)
    // required phrases first; an excluded one missing a term never hits
    val checks = q.phrases.map(p => new PhraseCheck(p.offsets.map(_.flatMap(slot.get).toArray).toArray, p))
      .filter(c => c.phrase.required || c.alts.forall(_.nonEmpty)).sortBy(!_.phrase.required).toArray
    if (required.length < q.must.length + q.filter.length || should.length < q.msm ||
        required.isEmpty && should.isEmpty ||
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
      if (required.nonEmpty) es(required.minBy(es(_).docs.length)).docs
      else should.flatMap(es(_).docs).distinct.sorted
    candidates.iterator.filter { d =>
      var ok = true; var got = 0; var i = 0
      while (ok && i < required.length) { ok = has(required(i), d); i += 1 }
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
