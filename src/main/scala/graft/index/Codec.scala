package graft.index

import scala.collection.mutable.ArrayBuilder

/** Posting-list codec: delta-gap + variable-byte blocks with per-block
  * max-score metadata (the storage format the reference delegates to
  * Elasticsearch/Lucene; built from scratch here — SURVEY.md §7.1 step 4).
  *
  * A *run* is a docId-sorted slice of one term's postings (one salt
  * shard). Runs are cut into blocks of `blockSize` postings; each block
  * stores:
  *   - firstDoc (absolute) + VByte gaps for the remaining docIds
  *   - VByte term frequencies
  *   - VByte per-posting doclens (so BM25 needs no docId->doclen join
  *     at query time — Lucene's "norms", kept exact here for
  *     rank-identity)
  *   - maxU: block max of the BM25 tf/length partial
  *     u = (tf*(k1+1)) / (tf + k1*((1-b) + (b*dl)/avgdl)) under the
  *     build's stats and config (serving recomputes its own bounds)
  *   - positions (layout v4): per posting, its tf positions as VByte
  *     gaps (the first absolute), postings in block order; empty for a
  *     freqs-only index, whose postings carry no positions.
  */
object Codec {

  /** One posting; `positions` ascending, as many as `tf`, or none
    * ([[NoPositions]]) in a freqs-only index. */
  final case class Posting(docId: Long, tf: Long, dl: Long, positions: Array[Int] = NoPositions)

  object Posting {
    /** A posting without positions: also what `Posting.apply` names as
      * a three-argument function. */
    def apply(docId: Long, tf: Long, dl: Long): Posting = new Posting(docId, tf, dl)
  }

  /** The positions of a posting that has none: one shared instance, so
    * freqs-only postings compare equal. */
  val NoPositions: Array[Int] = Array.emptyIntArray

  final case class Block(
      firstDoc: Long,
      n: Int,
      deltas: Array[Byte], // n-1 gaps
      tfs: Array[Byte],    // n values
      dls: Array[Byte],    // n values
      maxU: Double,
      positions: Array[Byte] = Array.emptyByteArray) // sum(tf) gaps, or none

  // --- VByte ----------------------------------------------------------------

  def writeVLong(out: ArrayBuilder.ofByte, value: Long): Unit = {
    require(value >= 0, s"VByte requires non-negative values, got $value")
    var v = value
    while ((v & ~0x7FL) != 0) {
      out += ((v & 0x7F) | 0x80).toByte
      v >>>= 7
    }
    out += v.toByte
  }

  /** Mutable read cursor over a VByte stream. */
  final class VLongReader(bytes: Array[Byte]) {
    private var pos = 0
    def hasNext: Boolean = pos < bytes.length
    def next(): Long = {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos)
        pos += 1
        v |= (b & 0x7FL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
  }

  def encodeVLongs(values: Array[Long]): Array[Byte] = {
    val out = new ArrayBuilder.ofByte
    out.sizeHint(values.length * 2)
    values.foreach(writeVLong(out, _))
    out.result()
  }

  def decodeVLongs(bytes: Array[Byte], n: Int): Array[Long] = {
    val r = new VLongReader(bytes)
    Array.fill(n)(r.next())
  }

  // --- BM25 partial ----------------------------------------------------------

  /** tf/length partial of BM25; full weight = idf * u (bounds only —
    * exact scoring always goes through graft.query.BM25.weight). */
  @inline def u(tf: Long, dl: Long, k1: Double, b: Double, avgdl: Double): Double =
    (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * dl) / avgdl))

  // --- block codec ------------------------------------------------------------

  /** Encode a docId-sorted run into blocks. Streaming: pulls at most
    * `blockSize` postings into memory at a time. Either every posting of
    * a block carries its tf positions or none does. */
  def encodeRun(postings: Iterator[Posting], blockSize: Int,
                k1: Double, b: Double, avgdl: Double): Iterator[Block] =
    postings.grouped(blockSize).map { group =>
      val n = group.size
      val docs = new Array[Long](n)
      val tfs = new Array[Long](n)
      val dls = new Array[Long](n)
      val positional = group.head.positions.nonEmpty
      val pos = new ArrayBuilder.ofByte
      var maxU = 0.0
      var i = 0
      var prev = -1L
      group.foreach { p =>
        require(p.docId > prev, s"run not docId-sorted: ${p.docId} after $prev")
        prev = p.docId
        docs(i) = p.docId; tfs(i) = p.tf; dls(i) = p.dl
        val pu = u(p.tf, p.dl, k1, b, avgdl)
        if (pu > maxU) maxU = pu
        require(p.positions.length == (if (positional) p.tf else 0),
          s"doc ${p.docId}: tf ${p.tf} but ${p.positions.length} positions in a block whose first posting has " +
            s"${group.head.positions.length}")
        var j = 0
        while (j < p.positions.length) {
          writeVLong(pos, p.positions(j) - (if (j == 0) 0 else p.positions(j - 1))); j += 1
        }
        i += 1
      }
      val deltas = new Array[Long](n - 1)
      i = 1
      while (i < n) { deltas(i - 1) = docs(i) - docs(i - 1); i += 1 }
      Block(docs(0), n, encodeVLongs(deltas), encodeVLongs(tfs), encodeVLongs(dls), maxU,
        if (positional) pos.result() else Array.emptyByteArray)
    }

  /** A block's postings as flat arrays: `docs`, `tfs`, `dls` and, when
    * the block holds positions, `positions` — each posting's tf of them
    * in posting order, absolute — else an empty array. */
  final class Decoded(val docs: Array[Long], val tfs: Array[Long], val dls: Array[Long],
                      val positions: Array[Int])

  def decodeFlat(block: Block): Decoded = {
    val docs = new Array[Long](block.n)
    docs(0) = block.firstDoc
    val gaps = new VLongReader(block.deltas)
    var i = 1
    while (i < block.n) { docs(i) = docs(i - 1) + gaps.next(); i += 1 }
    val tfs = decodeVLongs(block.tfs, block.n)
    val dls = decodeVLongs(block.dls, block.n)
    val positions = if (block.positions.isEmpty) NoPositions else new Array[Int](tfs.sum.toInt)
    val r = new VLongReader(block.positions)
    var o = 0; var last = 0; var end = 0
    i = 0
    while (o < positions.length) { // each posting's first gap is absolute
      while (o == end) { last = 0; end += tfs(i).toInt; i += 1 }
      last += r.next().toInt; positions(o) = last; o += 1
    }
    new Decoded(docs, tfs, dls, positions)
  }

  def decodeBlock(block: Block): Array[Posting] = {
    val d = decodeFlat(block)
    val out = new Array[Posting](block.n)
    var j = 0; var off = 0
    while (j < block.n) {
      val tf = d.tfs(j).toInt
      out(j) = Posting(d.docs(j), d.tfs(j), d.dls(j),
        if (d.positions.isEmpty) NoPositions else java.util.Arrays.copyOfRange(d.positions, off, off + tf))
      off += tf; j += 1
    }
    out
  }

  /** k-way merge of docId-sorted runs into one run (segment merge,
    * SURVEY.md §7.1 step 5). Invariant (tested): encode(merge(runs)) is
    * byte-identical to encoding the union directly. */
  def mergeRuns(runs: Seq[Iterator[Posting]]): Iterator[Posting] = {
    val heads = scala.collection.mutable.PriorityQueue.empty[(Posting, Int)](
      Ordering.by[(Posting, Int), Long](-_._1.docId))
    val its = runs.toArray
    its.zipWithIndex.foreach { case (it, i) => if (it.hasNext) heads.enqueue((it.next(), i)) }
    new Iterator[Posting] {
      def hasNext: Boolean = heads.nonEmpty
      def next(): Posting = {
        val (p, i) = heads.dequeue()
        if (its(i).hasNext) heads.enqueue((its(i).next(), i))
        p
      }
    }
  }
}
