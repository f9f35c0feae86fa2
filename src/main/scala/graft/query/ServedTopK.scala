package graft.query

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The ranking tail of index-served requests — the ES shard/coordinator
  * shape: a bounded heap per (partition, key) on the executors, ONE
  * bounded collect, and the final merge on the driver. A served request
  * is small, so its latency is the fixed cost of each Spark job it runs;
  * ranking this way adds no job to the scoring pass, where a lazy plan
  * adds a ranking shuffle and a range sort (or a window shuffle per
  * expansion batch).
  *
  * [[bestPerQid]] and [[merge]] are the two halves of the hit ranking
  * that every served scoring job ends in ([[ShardCache.topK]]);
  * [[capPerKeyWithDf]] is EAGER: it runs the RDD it is given before
  * returning. Every driver collect is bounded by construction — at most tasks x keys x k rows — no matter how many
  * candidates the scoring pass produces; no partition ever buffers more
  * than k rows per key. The corpus-path operators keep the lazy
  * [[BM25.rankTopK]] aggregation.
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

  /** One partition of a term dictionary: its distinct terms in
    * [[termOrder]] with a parallel df array. Under [[termOrder]] the
    * terms that start with a string form one contiguous run (it is a
    * lexicographic order over a total order of UTF-16 units), so a
    * prefix is a binary-searched range. */
  final class TermDict(val terms: Array[String], val dfs: Array[Long]) extends Serializable {
    /** `term`'s df, when the partition holds it. */
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
      * in order: "" walks the whole partition. */
    def matching(literal: String, matches: String => Boolean): Iterator[Int] =
      startingWith(literal).filter(j => matches(terms(j)))
  }

  object TermDict {
    /** The dictionary of distinct (term, df) entries. */
    def apply(entries: Iterator[(String, Long)]): TermDict = {
      val sorted = entries.toArray.sortBy(_._1)(termOrder)
      new TermDict(sorted.map(_._1), sorted.map(_._2))
    }
  }

  /** Lexicographic expansion order (prefix, wildcard, regexp):
    * `orderBy("term")`. */
  val byTerm: Ordering[(String, Long)] = Ordering.by[(String, Long), String](_._1)(termOrder)

  /** Fuzzy expansion order: `orderBy(col("df").desc, col("term"))`. */
  val byDfThenTerm: Ordering[(String, Long)] =
    Ordering.Tuple2(Ordering.Long.reverse, termOrder).on[(String, Long)](e => (e._2, e._1))

  /** Expansions without their df. */
  def termsOf[K](byKey: Map[K, Seq[(String, Long)]]): Map[K, Seq[String]] =
    byKey.map { case (key, es) => key -> es.map(_._1) }

  /** The first `cap` `(term, df)` entries per key of `(key, term, df)`
    * rows under `ord` (terms distinct per key): each task keeps a
    * bounded heap of `cap` per key, the driver collects them — at most
    * tasks x keys x cap rows — then sorts and caps again. Keys with no
    * rows are absent. */
  def capPerKeyWithDf(matched: RDD[(Int, String, Long)], ord: Ordering[(String, Long)],
                      cap: Int): Map[Int, Seq[(String, Long)]] = {
    if (cap <= 0) return Map.empty
    val heads = matched.mapPartitions { it =>
      // max-heap under ord: its head is the worst kept entry
      val best = mutable.HashMap.empty[Int, mutable.PriorityQueue[(String, Long)]]
      it.foreach { case (key, term, df) =>
        val h = best.getOrElseUpdate(key, mutable.PriorityQueue.empty(ord))
        if (h.size < cap) h.enqueue((term, df))
        else if (ord.lt((term, df), h.head)) { h.dequeue(); h.enqueue((term, df)) }
      }
      best.iterator.flatMap { case (key, h) => h.iterator.map(e => (key, e._1, e._2)) }
    }.collect()
    heads.groupBy(_._1).map { case (key, rs) =>
      key -> rs.map(r => (r._2, r._3)).sorted(ord).take(cap).toSeq }
  }
}
