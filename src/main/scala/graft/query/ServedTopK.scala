package graft.query

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** The ranking tail of index-served requests — the ES shard/coordinator
  * shape: a bounded heap per (partition, key) on the executors, ONE
  * bounded collect, and the final merge on the driver. A served request
  * is small, so its latency is the fixed cost of each Spark job it runs;
  * ranking this way adds no job to the scoring pass, where a lazy plan
  * adds a ranking shuffle and a range sort (or a window shuffle per
  * expansion batch).
  *
  * Both entry points are EAGER: they run the scoring plan they are
  * given before returning. Every driver collect is bounded by
  * construction — at most tasks x keys x k rows — no matter how many
  * candidates the scoring pass produces; no partition ever buffers more
  * than k rows per key. The corpus-path operators keep the lazy
  * [[BM25.rankTopK]] aggregation.
  */
object ServedTopK {

  /** Rank a scored `(qid, doc_id, score)` frame eagerly: each task keeps
    * the best k per qid under [[TopKByScore.better]] (score desc, doc_id
    * asc), the driver collects those heaps — at most
    * tasks x qids x k rows — and merges them with the same comparator.
    * Returns a LOCAL `(qid, rank, doc_id, score)` frame in (qid, rank)
    * order, rank ties broken doc_id asc: row for row what the lazy
    * [[BM25.rankTopK]] returns for the same input. */
  def rank(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val agg = new TopKByScore(k)
    val heaps = scored.select(col("qid"), col("score"), col("doc_id"))
      .as[(Int, Double, Long)]
      .mapPartitions { it =>
        val best = mutable.HashMap.empty[Int, Seq[ScoredDoc]]
        it.foreach { case (q, s, d) =>
          best(q) = agg.reduce(best.getOrElse(q, agg.zero), ScoredDoc(s, d)) }
        best.iterator.flatMap { case (q, h) => h.map(x => (q, x.score, x.doc_id)) }
      }
      .collect()
    val hits = heaps.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, rs) =>
      rs.foldLeft(agg.zero) { case (b, (_, s, d)) => agg.reduce(b, ScoredDoc(s, d)) }
        .zipWithIndex.map { case (x, i) => Wand.Hit(q, i + 1L, x.doc_id, x.score) }
    }
    spark.createDataset(hits).toDF()
  }

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

  /** Lexicographic expansion order (prefix, wildcard, regexp):
    * `orderBy("term")`. */
  val byTerm: Ordering[(String, Long)] = Ordering.by[(String, Long), String](_._1)(termOrder)

  /** Fuzzy expansion order: `orderBy(col("df").desc, col("term"))`. */
  val byDfThenTerm: Ordering[(String, Long)] =
    Ordering.Tuple2(Ordering.Long.reverse, termOrder).on[(String, Long)](e => (e._2, e._1))

  /** The first `cap` terms per key of `(key, term, df)` rows under `ord`
    * (terms distinct per key): each task keeps a bounded heap of `cap`
    * per key, the driver collects them — at most tasks x keys x cap
    * rows — then sorts and caps again. Keys with no rows are absent. */
  def capPerKey(matched: Dataset[(Int, String, Long)], ord: Ordering[(String, Long)],
                cap: Int): Map[Int, Seq[String]] = {
    if (cap <= 0) return Map.empty
    val spark = matched.sparkSession
    import spark.implicits._
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
      key -> rs.map(r => (r._2, r._3)).sorted(ord).take(cap).map(_._1).toSeq }
  }
}
