package graft.query

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The ranking tail of index-served requests — the ES shard/coordinator
  * shape: a bounded heap per (partition, key) on the executors, returned
  * as the task results of the request's ONE `SparkContext.runJob` over
  * the resident cache, and the final merge on the driver. A served
  * request is small, so its latency is the fixed cost of each Spark job
  * it runs; ranking this way adds no job to the scoring pass, where a
  * lazy plan adds a ranking shuffle and a range sort (or a window
  * shuffle per expansion batch), and the `runJob` builds no RDD per
  * request: an empty request job took 10.4 ms as
  * `mapPartitionsWithIndex(…).collect()`, 7.6 ms as a `runJob` over
  * that per-request RDD and 3.5 ms as a `runJob` straight over the
  * resident one (perfbench `serve` index, local[4]). What stays is the
  * caller's collect of the local frame [[merge]] returns, about 5.8 ms
  * of Catalyst planning and SQL-execution events per request, which
  * graft cannot remove while served calls return a `DataFrame`.
  *
  * [[bestPerQid]] and [[merge]] are the task and driver halves of the
  * hit ranking that every served scoring job ends in
  * ([[ShardCache.topKOf]]); [[capTask]] and [[capMerge]] are those of
  * the corpus query_string path's expansion cap ([[Wand.expandCapped]]).
  * What the tasks return is bounded by construction — at most tasks x
  * keys x k rows — no matter how many candidates the scoring pass
  * produces; no partition ever buffers more than k rows per key. The
  * corpus evaluator ([[BM25.corpusHits]]) returns its hits as a lazy
  * frame instead, which [[BM25.rankTopK]] ranks: the same comparator,
  * so the same hits rank the same way on both paths.
  *
  * [[TermDict]] is the sorted term dictionary and its walks: every doc
  * partition of the index's serving cache holds the whole store's one, so
  * a served expansion request expands its patterns inside its one
  * scoring job, each capped the same way in every partition
  * ([[Wand.capped]]) — no per-task cap and no driver merge.
  */
object ServedTopK {

  /** One task's heaps: the best k `(qid, score, doc_id)` rows per qid
    * under [[TopKByScore.better]] (score desc, doc_id asc). */
  def bestPerQid(hits: Iterator[(Int, Double, Long)], k: Int): Iterator[(Int, Double, Long)] = {
    val agg = new TopKByScore(k)
    val best = mutable.HashMap.empty[Int, Seq[ScoredDoc]]
    hits.foreach { case (q, s, d) =>
      best(q) = agg.reduce(best.getOrElse(q, agg.zero), ScoredDoc(s, d)) }
    best.iterator.flatMap { case (q, h) => h.map(x => (q, x.score, x.doc_id)) }
  }

  /** The driver merge of collected task heaps, with the same comparator:
    * a LOCAL `(qid, rank, doc_id, score)` frame in (qid, rank) order,
    * rank ties broken doc_id asc — row for row what the lazy
    * [[BM25.rankTopK]] returns for the same hits. */
  def merge(spark: SparkSession, heaps: Array[(Int, Double, Long)], k: Int): DataFrame = {
    val agg = new TopKByScore(k)
    val hits = heaps.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, rs) =>
      rs.foldLeft(agg.zero) { case (b, (_, s, d)) => agg.reduce(b, ScoredDoc(s, d)) }
        .zipWithIndex.map { case (x, i) => Row(q, i + 1L, x.doc_id, x.score) }
    }
    spark.createDataFrame(hits.asJava, HitSchema)
  }

  /** The schema of a served hit frame: [[Wand.Hit]]'s. */
  val HitSchema: StructType = Encoders.product[Wand.Hit].schema

  /** The one empty ranked `(qid, rank, doc_id, score)` frame: the
    * result of every ranked entry point, corpus or served, with nothing
    * to score. */
  def noHits(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), HitSchema)

  /** Spark's StringType order — UTF-8 byte order, which is code-point
    * order — NOT `String.compareTo`: UTF-16 code units put U+E000..U+FFFF
    * above the surrogate pairs of U+10000 and up, UTF-8 below. At the
    * first differing unit, surrogates lift above U+E000..U+FFFF (the
    * ICU code-point-order fixup); everything else compares as is. */
  val termOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a.charAt(i); val y = b.charAt(i)
        if (x != y)
          return if (x >= 0xD800 && y >= 0xD800) lift(x) - lift(y) else x - y
        i += 1
      }
      a.length - b.length
    }
    private def lift(c: Char): Int = if (c >= 0xE000) c - 0x800 else c + 0x2000
  }

  /** A term dictionary, or one partition of one: its distinct terms in
    * [[termOrder]] with a parallel df array. Under [[termOrder]] the
    * terms that start with a string form one contiguous run (it is a
    * lexicographic order over a total order of UTF-16 units), so a
    * prefix is a binary-searched range. */
  final class TermDict(val terms: Array[String], val dfs: Array[Long]) extends Serializable {
    /** `term`'s df, when the dictionary holds it. */
    def df(term: String): Option[Long] = {
      val i = java.util.Arrays.binarySearch(terms, term, termOrder)
      if (i >= 0) Some(dfs(i)) else None
    }

    /** The indices of the terms starting with `prefix`, in order. */
    def startingWith(prefix: String): Iterator[Int] = {
      val i = java.util.Arrays.binarySearch(terms, prefix, termOrder)
      Iterator.range(if (i >= 0) i else -i - 1, terms.length).takeWhile(terms(_).startsWith(prefix))
    }

    /** The indices of the terms starting with `literal` that `matches`,
      * in order: "" walks the whole dictionary. */
    def matching(literal: String, matches: String => Boolean): Iterator[Int] =
      startingWith(literal).filter(j => matches(terms(j)))

    /** The index past the run of terms that start with `prefix`, where
      * `terms(from - 1)` does: a galloping search from `from`. */
    private def runEnd(prefix: String, from: Int): Int = {
      var lo = from; var hi = from; var step = 1
      while (hi < terms.length && terms(hi).startsWith(prefix)) { lo = hi + 1; hi = lo + step; step <<= 1 }
      hi = math.min(hi, terms.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (terms(mid).startsWith(prefix)) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** The indices of the terms within Levenshtein distance `d` of
      * `term`, in order: exactly what [[Wand.withinDistance]] accepts.
      * Both strings are compared as `UTF8String` holds them, one unit
      * per code point and a lone surrogate as `?`. One DP row per code
      * point of a term, over the code points of `term`; a term reuses
      * the rows of the common prefix it shares with the previous one,
      * and once a row's minimum exceeds `d` — no extension can come back
      * within `d`, since row minima never fall — the walk jumps past
      * every term with that prefix ([[runEnd]]). A prefix that ends in a
      * high surrogate is not jumped: a following low one changes its
      * last code point. */
    def withinDistance(term: String, d: Int): Iterator[Int] = {
      val p = new Array[Int](term.length)
      val m = TermDict.utf8CodePoints(term, p, null)
      var rows = Array(Array.range(0, m + 1))
      var mins = Array(0)
      // this term's and the previous term's code points; `ends(i)` is
      // the char offset past this term's first i code points
      var cur, prev = new Array[Int](16)
      var ends = new Array[Int](17)
      var valid = 0 // rows 0..valid hold the previous term's prefix
      val hits = Array.newBuilder[Int]
      var j = 0
      while (j < terms.length) {
        val t = terms(j)
        if (cur.length < t.length) cur = new Array[Int](t.length)
        if (ends.length <= t.length) ends = new Array[Int](t.length + 1)
        val len = TermDict.utf8CodePoints(t, cur, ends)
        if (rows.length <= len) {
          rows = rows ++ Array.fill(len + 1 - rows.length)(new Array[Int](m + 1))
          mins = java.util.Arrays.copyOf(mins, len + 1)
        }
        var i = 0
        while (i < math.min(len, valid) && cur(i) == prev(i)) i += 1
        var out = mins(i) > d
        while (!out && i < len) {
          val up = rows(i); val row = rows(i + 1); val c = cur(i)
          row(0) = i + 1
          var mn = i + 1
          var k = 1
          while (k <= m) {
            val v = math.min(math.min(row(k - 1), up(k)) + 1, up(k - 1) + (if (p(k - 1) == c) 0 else 1))
            row(k) = v
            if (v < mn) mn = v
            k += 1
          }
          i += 1
          mins(i) = mn
          out = mn > d
        }
        valid = i
        val swap = prev; prev = cur; cur = swap
        if (!out) {
          if (rows(len)(m) <= d) hits += j
          j += 1
        } else if (ends(i) > 0 && Character.isHighSurrogate(t.charAt(ends(i) - 1))) j += 1
        else j = runEnd(t.substring(0, ends(i)), j + 1)
      }
      hits.result().iterator
    }
  }

  object TermDict {
    /** The dictionary of distinct (term, df) entries. */
    def apply(entries: Iterator[(String, Long)]): TermDict = {
      val sorted = entries.toArray.sortBy(_._1)(termOrder)
      new TermDict(sorted.map(_._1), sorted.map(_._2))
    }

    /** The one dictionary of sorted, disjoint `runs`: balanced two-way
      * merges, no sort. */
    def merge(runs: Seq[TermDict]): TermDict =
      if (runs.size <= 1) runs.headOption.getOrElse(new TermDict(Array.empty, Array.empty))
      else {
        val (l, r) = runs.splitAt(runs.size / 2)
        val (a, b) = (merge(l), merge(r))
        val n = a.terms.length + b.terms.length
        val terms = new Array[String](n); val dfs = new Array[Long](n)
        var i = 0; var j = 0; var o = 0
        while (o < n) {
          if (j == b.terms.length || i < a.terms.length && termOrder.compare(a.terms(i), b.terms(j)) < 0) {
            terms(o) = a.terms(i); dfs(o) = a.dfs(i); i += 1
          } else {
            terms(o) = b.terms(j); dfs(o) = b.dfs(j); j += 1
          }
          o += 1
        }
        new TermDict(terms, dfs)
      }

    /** How many code points `s` has as `UTF8String.fromString`
      * encodes it, a lone surrogate as `?`: they fill `cps`, at least
      * `s.length` long; `ends`, when given, gets the char offset past
      * each prefix of them. */
    private[ServedTopK] def utf8CodePoints(s: String, cps: Array[Int], ends: Array[Int]): Int = {
      var i = 0; var n = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (Character.isHighSurrogate(c) && i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1))) {
          cps(n) = Character.toCodePoint(c, s.charAt(i + 1)); i += 2
        } else {
          cps(n) = if (Character.isSurrogate(c)) '?' else c; i += 1
        }
        n += 1
        if (ends != null) ends(n) = i
      }
      n
    }
  }

  /** Lexicographic expansion order (prefix, wildcard, regexp):
    * `orderBy("term")`. */
  val byTerm: Ordering[(String, Long)] = Ordering.by[(String, Long), String](_._1)(termOrder)

  /** Fuzzy expansion order: `orderBy(col("df").desc, col("term"))`. */
  val byDfThenTerm: Ordering[(String, Long)] =
    Ordering.Tuple2(Ordering.Long.reverse, termOrder).on[(String, Long)](e => (e._2, e._1))

  /** One task's half of the cap: the first `cap` entries per key of its
    * `(key, term, df)` rows under `ord`, in no order. */
  def capTask(rows: Iterator[(Int, String, Long)], ord: Ordering[(String, Long)],
              cap: Int): Array[(Int, String, Long)] = {
    // max-heap under ord: its head is the worst kept entry
    val best = mutable.HashMap.empty[Int, mutable.PriorityQueue[(String, Long)]]
    rows.foreach { case (key, term, df) =>
      val h = best.getOrElseUpdate(key, mutable.PriorityQueue.empty(ord))
      if (h.size < cap) h.enqueue((term, df))
      else if (ord.lt((term, df), h.head)) { h.dequeue(); h.enqueue((term, df)) }
    }
    best.iterator.flatMap { case (key, h) => h.iterator.map(e => (key, e._1, e._2)) }.toArray
  }

  /** The driver's half of the cap: every task's [[capTask]] rows merged,
    * sorted under `ord` and capped again per key. */
  def capMerge(heads: Array[Array[(Int, String, Long)]], ord: Ordering[(String, Long)],
               cap: Int): Map[Int, Seq[(String, Long)]] =
    heads.flatten.groupBy(_._1).map { case (key, rs) =>
      key -> rs.map(r => (r._2, r._3)).sorted(ord).take(cap).toSeq }
}
