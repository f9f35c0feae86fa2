package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.index.Codec.Posting

class CodecSpec extends AnyFunSuite {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val postingsGen: Gen[List[Posting]] = for {
    n <- Gen.choose(0, 700)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 1000000L))
    tfs <- Gen.listOfN(n, Gen.choose(1L, 500L))
    dls <- Gen.listOfN(n, Gen.choose(1L, 5000L))
  } yield {
    val docs = gaps.scanLeft(0L)(_ + _).tail
    docs.lazyZip(tfs).lazyZip(dls).map(Posting.apply).toList
  }

  test("vlong round-trip incl. boundaries") {
    val vals = Array(0L, 1L, 127L, 128L, 16383L, 16384L, Int.MaxValue.toLong,
      1L << 35, Long.MaxValue)
    assert(Codec.decodeVLongs(Codec.encodeVLongs(vals), vals.length).toSeq === vals.toSeq)
  }

  test("property: decode(encode(run)) == run, all block sizes") {
    for (ps <- samples(postingsGen, 60); blockSize <- Seq(4, 128)) {
      val blocks = Codec.encodeRun(ps.iterator, blockSize, 1.2, 0.75, 40.0).toList
      val back = blocks.flatMap(Codec.decodeBlock)
      assert(back === ps)
      // block maxU is a true upper bound of every posting's u in the block
      blocks.foreach { b =>
        Codec.decodeBlock(b).foreach { p =>
          assert(Codec.u(p.tf, p.dl, 1.2, 0.75, 40.0) <= b.maxU)
        }
      }
    }
  }

  test("monotone docIds enforced") {
    val bad = Iterator(Posting(5, 1, 10), Posting(5, 1, 10))
    assertThrows[IllegalArgumentException](
      Codec.encodeRun(bad, 128, 1.2, 0.75, 40.0).toList)
  }

  test("merge of disjoint salted runs == direct encode of the union (byte identity)") {
    for (ps <- samples(postingsGen, 30) if ps.nonEmpty) {
      // split like the salter does: by hashed docId
      val bySalt = ps.groupBy(p => (p.docId % 3).toInt).values.toSeq
      val merged = Codec.mergeRuns(bySalt.map(_.iterator)).toList
      assert(merged === ps.sortBy(_.docId))
      val a = Codec.encodeRun(merged.iterator, 128, 1.2, 0.75, 40.0).toList
      val b = Codec.encodeRun(ps.iterator, 128, 1.2, 0.75, 40.0).toList
      assert(a.size === b.size)
      a.zip(b).foreach { case (x, y) =>
        assert(x.firstDoc === y.firstDoc && x.n === y.n && x.maxU === y.maxU)
        assert(x.deltas.toSeq === y.deltas.toSeq)
        assert(x.tfs.toSeq === y.tfs.toSeq)
        assert(x.dls.toSeq === y.dls.toSeq)
      }
    }
  }

  /** Positional runs: tf 1–50, position gaps up to 2^20. */
  private val positionalGen: Gen[List[Posting]] = for {
    n <- Gen.choose(1, 300)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 100000L))
    tfs <- Gen.listOfN(n, Gen.choose(1, 50))
    dls <- Gen.listOfN(n, Gen.choose(50L, 5000L))
    seeds <- Gen.listOfN(n, Gen.long)
  } yield {
    val docs = gaps.scanLeft(0L)(_ + _).tail
    docs.indices.map { i =>
      val r = new scala.util.Random(seeds(i))
      val pos = Array.fill(tfs(i))(1 + r.nextInt(1 << 20)).scanLeft(-1)(_ + _).tail
      Posting(docs(i), tfs(i).toLong, dls(i), pos)
    }.toList
  }

  private def flat(ps: Seq[Posting]) = ps.map(p => (p.docId, p.tf, p.dl, p.positions.toSeq))

  test("property: positions round-trip through blocks of 1, of exactly blockSize, and a partial tail") {
    for (ps <- samples(positionalGen, 40); blockSize <- Seq(1, 8, ps.size)) {
      val blocks = Codec.encodeRun(ps.iterator, blockSize, 1.2, 0.75, 40.0).toList
      if (blockSize == ps.size) assert(blocks.size === 1 && blocks.head.n === blockSize)
      assert(blocks.forall(_.positions.nonEmpty))
      assert(flat(blocks.flatMap(Codec.decodeBlock)) === flat(ps))
      // the flat decode is the same postings, positions in posting order
      val d = blocks.map(Codec.decodeFlat)
      assert(d.flatMap(_.positions.toSeq) === ps.flatMap(_.positions.toSeq))
    }
    // a freqs-only run writes empty position streams
    val freqs = Codec.encodeRun(Iterator(Posting(1, 3, 10), Posting(4, 1, 7)), 1, 1.2, 0.75, 40.0).toList
    assert(freqs.forall(_.positions.isEmpty))
    assert(Codec.decodeBlock(freqs.head).head.positions.isEmpty)
    // a posting whose positions do not match its tf fails loud
    assertThrows[IllegalArgumentException](
      Codec.encodeRun(Iterator(Posting(1, 2, 10, Array(3))), 8, 1.2, 0.75, 40.0).toList)
  }

  test("merge of disjoint salted runs == direct encode of the union, positions included") {
    for (ps <- samples(positionalGen, 30)) {
      val bySalt = ps.groupBy(p => (p.docId % 3).toInt).values.toSeq
      val merged = Codec.mergeRuns(bySalt.map(_.iterator)).toList
      assert(flat(merged) === flat(ps))
      val a = Codec.encodeRun(merged.iterator, 16, 1.2, 0.75, 40.0).toList
      val b = Codec.encodeRun(ps.iterator, 16, 1.2, 0.75, 40.0).toList
      assert(a.size === b.size)
      a.zip(b).foreach { case (x, y) =>
        assert(x.firstDoc === y.firstDoc && x.n === y.n && x.maxU === y.maxU)
        assert(x.deltas.toSeq === y.deltas.toSeq && x.tfs.toSeq === y.tfs.toSeq && x.dls.toSeq === y.dls.toSeq)
        assert(x.positions.toSeq === y.positions.toSeq)
      }
    }
  }
}
