package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSuite

class DedupSpec extends SparkSuite {

  import spark.implicits._

  /** Synthetic corpus with controlled near-dups: base docs plus copies
    * with a few words changed (deterministic). */
  private lazy val corpus = {
    // large vocab + well-mixed hash: random base docs share almost no
    // shingles, so only the planted dups exceed jaccard 0.5
    val words = Array.tabulate(200)(i => s"tok$i")
    def docText(seed: Long, n: Int): String =
      (0 until n).map(i =>
        words(math.floorMod(Dedup.fnv1a64(s"$seed#$i"), words.length.toLong).toInt)).mkString(" ")
    val bases = (0L until 40L).map(i => (i, docText(i, 60)))
    // near-dups: id 1000+i is id i with the last 3 words replaced
    val dups = (0L until 10L).map { i =>
      (1000L + i, bases(i.toInt)._2.split(" ").dropRight(3).mkString(" ") + " zzz yyy xxx")
    }
    // exact dups of doc 0, plus one disjoint-vocabulary outlier
    val exacts = Seq((2000L, bases(0)._2), (2001L, bases(0)._2))
    val outlier = Seq((3000L,
      (0 until 60).map(i => s"qq${i % 7}zz${i % 5}").mkString(" ")))
    (bases ++ dups ++ exacts ++ outlier).toDF("doc_id", "text")
  }

  test("native shingles expression equals the higher-order-function form") {
    val toks = corpus.select(col("doc_id"),
      graft.analyze.CodeTokenizer.tokensColFast(col("text")).as("tokens"))
    val hof = when(size(col("tokens")) >= 3,
      transform(sequence(lit(1), size(col("tokens")) - 2),
        i => concat_ws(" ", element_at(col("tokens"), i),
          element_at(col("tokens"), i + 1), element_at(col("tokens"), i + 2)))
    ).otherwise(array().cast("array<string>"))
    toks.select(Dedup.shinglesCol(col("tokens")).as("fast"), hof.as("slow"))
      .collect().foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1))
      }
  }

  test("exact dedup keeps lowest id per identical content") {
    val res = Dedup.exact(corpus, col("doc_id"), col("text")).collect()
    val byCopies = res.filter(_.getLong(1) > 1)
    assert(byCopies.length === 1)
    assert(byCopies.head.getLong(0) === 0L) // doc 0 kept, 2000/2001 folded
    assert(byCopies.head.getLong(1) === 3L)
  }

  test("minhash+LSH with verification recovers exactly the true near-dup pairs") {
    val sh = Dedup.shingleTable(corpus, col("doc_id"), col("text")).cache()
    // exact truth at threshold 0.5
    val shA = sh.select(col("doc_id").as("id_a"), col("shingle"))
    val shB = sh.select(col("doc_id").as("id_b"), col("shingle"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val truth = shA.join(shB, Seq("shingle")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("j", col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "synthetic corpus must contain true near-dup pairs")
    val got = Dedup.minhashNearDups(corpus, col("doc_id"), col("text"), 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === truth)
  }

  test("lsh banding is derived from the threshold with a recall contract") {
    // t=0.5 -> detect at 0.75 with >=0.99 recall -> 16 bands x 4 rows
    // (the (16,4) plan's actual recall at J=0.75 is ~0.9977)
    assert(Dedup.lshPlan(0.5, 64) === ((16, 4)))
    // higher thresholds afford longer bands (fewer false candidates)
    assert(Dedup.lshPlan(0.9, 64) === ((8, 8)))
    // very low thresholds need shorter bands for recall
    val (b, r) = Dedup.lshPlan(0.1, 64)
    assert(b * r === 64 && r <= 2)
  }

  test("shingle-less docs never become LSH candidates (no all-equal-signature collisions)") {
    import spark.implicits._
    // 30 docs with < 3 tokens (empty shingle arrays) + 2 true dups:
    // without the size(sh) > 0 filter the 30 short docs would share the
    // all-MaxValue signature and materialize 435 candidate pairs
    val shorts = (0L until 30L).map(i => (i, s"tok$i only"))
    val dups = Seq((100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon zeta"))
    val docs = (shorts ++ dups).toDF("doc_id", "text")
    val got = Dedup.minhashNearDups(docs, col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((100L, 101L)))
  }

  test("connected components: chains collapse to min id, clusters sized") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), pair 10-11, triangle 20-21-22;
    // BOTH paths (driver union-find fast path and distributed star
    // contraction, forced via localMaxEdges = 0) must agree
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    for (localMax <- Seq(Dedup.LocalComponentsMaxEdges, 0L)) {
      val got = Dedup.components(edges, localMaxEdges = localMax).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, s"localMaxEdges=$localMax")
    }
  }

  test("star contraction converges on a diameter-200 path in O(log d) rounds") {
    import spark.implicits._
    // a 201-vertex path with shuffled ids (min sits mid-chain) — plain
    // min-label propagation needs ~200 rounds and used to throw at the
    // 50-round cap; large-star/small-star needs ~log2(200)
    def vid(i: Int): Long = (math.floorMod(Dedup.fnv1a64(s"pathvid$i"), 100000L)
      * 1000L + i).abs
    val ids = (0 to 200).map(vid)
    val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("id_a", "id_b")
    // force the DISTRIBUTED path: the O(log d) bound is its contract
    val got = Dedup.components(edges, maxRounds = 12, localMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mn = ids.min
    assert(got.size === 201)
    assert(got.values.forall(_ == mn), "every vertex must label to the component min")
    // the union-find fast path agrees
    val local = Dedup.components(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === got)
  }

  test("components tolerates self-loops and duplicate/reversed edges (both paths)") {
    import spark.implicits._
    val edges = Seq((5L, 5L), (7L, 8L), (8L, 7L), (7L, 8L)).toDF("id_a", "id_b")
    for (localMax <- Seq(Dedup.LocalComponentsMaxEdges, 0L)) {
      val got = Dedup.components(edges, localMaxEdges = localMax).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(5L -> 5L, 7L -> 7L, 8L -> 7L), s"localMaxEdges=$localMax")
    }
  }

  test("near-dup clusters: canonical = min doc of each true near-dup component") {
    val got = Dedup.nearDupClusters(corpus, col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // canonical is always <= member id and a member of the same cluster set
    got.foreach { case (id, canon, sz) =>
      assert(canon <= id); assert(sz >= 2)
    }
    // doc 0 and its exact copies 2000/2001 share canonical 0
    val byId = got.map(t => t._1 -> t._2).toMap
    assert(byId(2000L) === 0L && byId(2001L) === 0L)
  }

  test("minhash signature similarity approximates jaccard") {
    val sh = Dedup.shingleTable(corpus, col("doc_id"), col("text"))
    val base = corpus.select(col("doc_id"),
      Dedup.shinglesCol(graft.analyze.CodeTokenizer.tokensColFast(col("text"))).as("sh"))
    val sigs = Dedup.minhashSignatures(base, 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val shLocal = sh.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // doc 0 vs its exact copy: identical signatures
    assert(sigs(0L) === sigs(2000L))
    // doc 0 vs near-dup 1000: signature agreement within 25pp of true jaccard
    val est = sigs(0L).zip(sigs(1000L)).count { case (a, b) => a == b } / 64.0
    val truth = {
      val (a, b) = (shLocal(0L), shLocal(1000L))
      a.intersect(b).size.toDouble / a.union(b).size
    }
    assert(math.abs(est - truth) < 0.25, s"est=$est truth=$truth")
  }

  test("embedding-cosine near-dup: LSH-blocked scale path recovers the exact pairs") {
    import spark.implicits._
    // clustered corpus: planted near-dup pairs at high cosine, the
    // regime where bucket blocking applies (random vectors at low
    // thresholds are anti-adversarial for ANY blocking scheme)
    val dims = 64
    def h(a: Int, b: Int): Double = Similarity.planeComponent(a * 977 + 13, b)
    val centers = Array.tabulate(20)(k => Array.tabulate(dims)(i => h(k, i)))
    val vecs = (0 until 300).map { id =>
      val k = id % 20
      val v = Array.tabulate(dims)(i => centers(k)(i) + 0.05 * h(5000 + id, i))
      (id.toLong, k, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "label", "embedding")
    val exact = Dedup.embedNearDups(vecs, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "clustered corpus must contain true high-cos pairs")
    val blocked = Dedup.embedNearDupsLsh(vecs, 0.95, nPlanes = 8, probeRadius = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(exact), "verification keeps precision exact")
    val recall = blocked.size.toDouble / exact.size
    info(s"embed near-dup LSH recall = $recall (${blocked.size}/${exact.size})")
    assert(recall >= 0.9, s"recall $recall")
  }

  test("exact embedding near-dup: a zero vector pairs at NaN cosine, a null id never pairs") {
    // SQL orders NaN above every number (Spark and DuckDB alike), so the
    // former `cos >= threshold` filter kept the 0/0 pairs of a zero vector
    val vecs = Seq(
      (Some(1L), Seq(1f, 0f)), (Some(2L), Seq(1f, 0f)), (Some(3L), Seq(0f, 0f)),
      (None, Seq(1f, 0f)), (Some(4L), Seq(0f, 1f))).toDF("vec_id", "embedding")
    val got = Dedup.embedNearDups(vecs, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    assert(got((1L, 2L)) == 1.0)
    assert(Seq((1L, 3L), (2L, 3L), (3L, 4L)).forall(p => got(p).isNaN), got.toString)
  }

  test("simhash: identical docs collide; near-dups are close; unrelated far") {
    val sim = Dedup.simhashDf(corpus, col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sim(0L) === sim(2000L))
    assert(Dedup.hamming(sim(0L), sim(1000L)) <= 16)
    // disjoint-vocabulary outlier is far from everything
    val far = Dedup.hamming(sim(0L), sim(3000L))
    assert(far > Dedup.hamming(sim(0L), sim(1000L)))
    assert(far > 16)
  }

  test("simhash banded candidates include all exact-dup pairs") {
    val sim = Dedup.simhashDf(corpus, col("doc_id"), col("text"))
    val cand = Dedup.simhashCandidates(sim, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 2000L)))
    assert(cand.contains((0L, 2001L)))
    assert(cand.contains((2000L, 2001L)))
  }
}
