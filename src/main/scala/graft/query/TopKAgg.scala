package graft.query

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** One (score, doc) candidate. Top-level case class: Spark encoders
  * cannot codegen nested/private classes. */
final case class ScoredDoc(score: Double, doc_id: Long)

/** The bounded best-k Aggregator, written once: the buffer is a Vector
  * sorted best-first under `better` and truncated at k, so map-side
  * partial aggregation keeps at most k entries per (partition, key) and
  * the shuffle carries k rows per partition per key instead of the full
  * candidate set. [[better]] must be a strict TOTAL order on the inputs
  * one key can see, so merge order cannot change the result. The
  * encoder is derived on use: the served heaps build one of these per
  * task and never encode. */
abstract class BestK[T](k: Int, encoder: () => Encoder[Seq[T]])
    extends Aggregator[T, Seq[T], Seq[T]] {

  /** a strictly better than b. */
  def better(a: T, b: T): Boolean

  private def insert(buf: Seq[T], x: T): Seq[T] =
    if (buf.size >= k && !better(x, buf.last)) buf
    else {
      val i = buf.indexWhere(e => better(x, e))
      val withX = if (i < 0) buf :+ x else (buf.take(i) :+ x) ++ buf.drop(i)
      if (withX.size > k) withX.take(k) else withX
    }

  override def zero: Seq[T] = Vector.empty
  override def reduce(buf: Seq[T], x: T): Seq[T] = insert(buf, x)
  override def merge(a: Seq[T], b: Seq[T]): Seq[T] = b.foldLeft(a)(insert)
  override def finish(r: Seq[T]): Seq[T] = r
  override def bufferEncoder: Encoder[Seq[T]] = encoder()
  override def outputEncoder: Encoder[Seq[T]] = encoder()
}

/** Bounded top-k by (score desc, doc_id asc) — the TakeOrderedAndProject
  * plan per key. This replaces the
  * `Window.partitionBy(qid).orderBy(score)` + row_number pattern, which
  * sorts EVERY candidate of a hot query inside one task — the 100 TB
  * scale-killer named in round 1.
  *
  * Determinism: the comparator is total ((score desc, doc_id asc),
  * doubles compared exactly), so merge order cannot change the result —
  * rank-identity with the window form is asserted in Bm25Spec/PlanSpec.
  */
final class TopKByScore(k: Int) extends BestK[ScoredDoc](k, () => ExpressionEncoder()) {
  def better(a: ScoredDoc, b: ScoredDoc): Boolean = TopKByScore.better(a, b)
}

object TopKByScore {
  /** a strictly better than b. IEEE `==` first (so -0.0 ties 0.0, like
    * Spark's normalized sort and DuckDB), then Double.compare for a
    * TOTAL order on the rest (NaN ranked above every double, like
    * Spark's sort order and DuckDB's ORDER BY DESC; NaN ties NaN) — a
    * non-total comparator would make results merge-order-dependent.
    * The one ranking comparator: the aggregation and the served
    * per-partition heaps ([[ServedTopK]]) both rank with it. */
  @inline def better(a: ScoredDoc, b: ScoredDoc): Boolean = {
    val c =
      if (a.score == b.score) 0
      else java.lang.Double.compare(a.score, b.score)
    c > 0 || (c == 0 && a.doc_id < b.doc_id)
  }
}

object TopKAgg {
  /** Column form: topK(scoreCol, docIdCol) -> array&lt;struct&lt;score,doc_id&gt;&gt;
    * sorted best-first, length &lt;= k. */
  def topK(k: Int)(score: Column, docId: Column): Column =
    udaf(new TopKByScore(k), ExpressionEncoder[ScoredDoc]()).apply(score, docId)
}

/** One (composite key, count) bucket. Top-level for encoder codegen. */
final case class KeyedBucket(key: String, cnt: Long)

/** Bounded min-k by key asc — [[BestK]] pointed at lexicographic
  * bucket pagination (ES composite aggregation): the buffer keeps the k
  * SMALLEST keys, so map-side partials and the shuffle carry k buckets
  * per partition per group no matter how many buckets exist — the
  * property composite agg exists for. Keys within one group are
  * distinct by construction (they are groupBy outputs), so key-asc
  * alone is a total order. */
final class MinKByKey(k: Int) extends BestK[KeyedBucket](k, () => ExpressionEncoder()) {
  def better(a: KeyedBucket, b: KeyedBucket): Boolean = a.key < b.key
}

object MinKAgg {
  /** Column form: minK(keyCol, cntCol) -> array&lt;struct&lt;key,cnt&gt;&gt;
    * sorted key-asc, length &lt;= k. */
  def minK(k: Int)(key: Column, cnt: Column): Column =
    udaf(new MinKByKey(k), ExpressionEncoder[KeyedBucket]()).apply(key, cnt)
}
