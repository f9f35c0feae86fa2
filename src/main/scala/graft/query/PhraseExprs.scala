package graft.query

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Ordered-proximity phrase match over positional postings.
  *
  * Input: `lists` = array&lt;array&lt;int&gt;&gt;, the ascending position lists of
  * the phrase's tokens IN PHRASE ORDER (one list per phrase offset, so
  * duplicate terms contribute one list per occurrence); `slop` = the
  * allowed total slack. A document matches iff there exist strictly
  * increasing positions p_0 &lt; p_1 &lt; ... &lt; p_{m-1}, p_j drawn from list
  * j, with span slack (p_{m-1} - p_0) - (m - 1) &lt;= slop. slop = 0 is
  * exact consecutive adjacency (ES match_phrase); slop &gt; 0 is ORDERED
  * proximity — a deliberate, documented divergence from Lucene's
  * sloppy-phrase edit-distance semantics, which additionally admits
  * transpositions at slop &gt;= 2 (the DuckDB oracle implements the same
  * ordered definition, so the two sides cannot drift).
  *
  * Evaluation is the classic minimal-ordered-span sweep: for each start
  * in list 0 ascending, greedily take the smallest strictly-larger
  * position from each subsequent list; per-list cursors only ever move
  * forward, so the whole check is O(total positions), one eval per
  * candidate (qid, doc) row.
  */
case class OrderedSpanMatchExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType

  override def nullSafeEval(listsAny: Any, slopAny: Any): Any = {
    val lists = listsAny.asInstanceOf[ArrayData]
    val pos = Array.tabulate(lists.numElements())(j => lists.getArray(j).toIntArray())
    OrderedSpanMatchExpr.spans(pos, new Array[Int](pos.length), pos.map(_.length),
      slopAny.asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OrderedSpanMatchExpr =
    copy(left = newLeft, right = newRight)
}

object OrderedSpanMatchExpr {
  /** The span decision, written once: list j is
    * `pos(j)(from(j) until until(j))`, ascending, in phrase-offset
    * order; true iff strictly increasing picks p_0 < ... < p_{m-1}, one
    * from each list, have slack (p_{m-1} - p_0) - (m - 1) <= slop (see
    * the class doc for the sweep). The expression (the
    * `graft_phrase_match` SQL function) and the positional evaluator
    * behind every phrase, corpus or served ([[BM25.PosPhrase]]), both
    * decide through it. */
  def spans(pos: Array[Array[Int]], from: Array[Int], until: Array[Int], slop: Int): Boolean = {
    val m = pos.length
    if (m == 0) return false
    var j = 0
    while (j < m) {
      if (from(j) >= until(j)) return false
      j += 1
    }
    if (m == 1) return true // any single occurrence spans 0 <= slop
    val idx = from.clone() // monotone per-list cursors
    var s = from(0)
    while (s < until(0)) {
      var prev = pos(0)(s)
      val p0 = prev
      var ok = true
      j = 1
      while (ok && j < m) {
        val pj = pos(j)
        while (idx(j) < until(j) && pj(idx(j)) <= prev) idx(j) += 1
        if (idx(j) == until(j)) ok = false
        else prev = pj(idx(j))
        j += 1
      }
      if (!ok) return false // larger starts only exhaust sooner
      if (prev - p0 - (m - 1) <= slop) return true
      s += 1
    }
    false
  }
}

/** Ascending-index sum of one double field over an array&lt;struct&gt; —
  * the native twin of the interpreted score fold
  * `aggregate(sortedArr, 0.0D, (acc, x) => acc + x.getField(f))`
  * (the HOF runs its lambda interpreted once per element; across a
  * ranking query's tens of thousands of (qid, doc) groups that inner
  * loop is pure overhead). The input is already `sort_array`-ed by the
  * caller, so summing in index order IS the term-ascending fold the
  * rank-identity discipline requires — bit-equal doubles (parity
  * property-tested in Bm25Spec). A null element makes the result null,
  * exactly like the HOF fold (acc + null = null, and null poisons the
  * remaining folds). A null array yields null (UnaryExpression
  * contract; aggregate(null, ...) is null too). */
case class SumStructFieldExpr(child: Expression, fieldIdx: Int, numFields: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val row = arr.getStruct(i, numFields)
      if (row.isNullAt(fieldIdx)) return null
      s += row.getDouble(fieldIdx)
      i += 1
    }
    s
  }

  override protected def withNewChildInternal(c: Expression): SumStructFieldExpr =
    copy(child = c)
}

object SumStructFieldExpr {
  /** Sum `fieldName` (double) over a SORTED array&lt;struct&gt; column in
    * index order. The struct shape is resolved lazily at analysis via a
    * cast-free lookup on the child's resolved type. */
  def sumField(sortedArr: Column, fieldIdx: Int, numFields: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.toColumn(SumStructFieldExpr(
      GraftColumnBridge.toExpression(sortedArr), fieldIdx, numFields))
  }
}
