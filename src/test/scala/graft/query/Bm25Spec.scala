package graft.query

import graft.SparkSuite
import graft.SparkEntry
import graft.index.Postings
import graft.oracle.NaiveBM25
import org.apache.spark.sql.functions._

/** Golden rank-identity: the Spark engine's top-k BM25 must equal the
  * independent single-machine oracle — docIDs AND scores, exactly
  * (deterministic tie-break score desc, docId asc). Mirrors the
  * reference's source-vs-sink reconciliation role
  * (/root/reference/Services/MigrationService.cs:479,633-639). */
class Bm25Spec extends SparkSuite {

  private lazy val docsDf =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val docsLocal: Seq[(Long, String)] =
    docsDf.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  test("top-10 rank identity vs naive oracle on all reference queries") {
    val engine = BM25.topK(spark, docsDf, col("doc_id"), col("text"),
      SparkEntry.FtQuerySet).collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq).toMap

    for ((qid, text) <- SparkEntry.FtQuerySet) {
      val expect = NaiveBM25.topK(docsLocal, text, 10).map(h => (h.docId, h.score))
      val got = engine.getOrElse(qid, Seq.empty)
      assert(got.map(_._1) === expect.map(_._1), s"docIDs differ for q$qid <$text>")
      got.zip(expect).foreach { case ((d, s), (_, es)) =>
        assert(s === es, s"score differs for q$qid doc $d (exact-double check)")
      }
    }
  }

  test("empty results for stopword-only and absent-term queries") {
    val res = BM25.topK(spark, docsDf, col("doc_id"), col("text"),
      Seq(5 -> "the a of", 6 -> "zzznotfound"))
    assert(res.count() === 0)
  }

  test("camelCase query is rank-identical to its multi-term form") {
    val res = BM25.topK(spark, docsDf, col("doc_id"), col("text"),
      Seq(3 -> "spark fast query", 4 -> "sparkFastQuery")).collect()
    val by = res.groupBy(_.getInt(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq)
    assert(by(3) === by(4))
  }

  test("postings invariants: sum(tf) == sum(doclen); df == distinct docs per term") {
    val post = Postings.build(docsDf, col("doc_id"), col("text"))
    val dl = Postings.doclens(docsDf, col("doc_id"), col("text"))
    val sumTf = post.agg(sum("tf")).head().getLong(0)
    val sumDl = dl.agg(sum("doclen")).head().getLong(0)
    assert(sumTf === sumDl)
    val dfA = Postings.docFreq(post).orderBy("term").collect().map(r => (r.getString(0), r.getLong(1)))
    val dfB = post.groupBy("term").agg(countDistinct("doc_id").as("df"))
      .orderBy("term").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(dfA.toSeq === dfB.toSeq)
  }

  test("phrase queries: engine == oracle, adjacency enforced") {
    val engine = BM25.phraseTopK(spark, docsDf, col("doc_id"), col("text"),
      SparkEntry.PhraseQuerySet).collect()
      .groupBy(_.getInt(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq).toMap
    for ((qid, text) <- SparkEntry.PhraseQuerySet) {
      val oracle = graft.oracle.NaiveBM25.phraseTopK(docsLocal, text, 10)
        .map(h => (h.docId, h.score))
      assert(engine.getOrElse(qid, Seq.empty) === oracle, s"phrase q$qid <$text>")
    }
    // the adjacency-impossible pair must return nothing even though a
    // conjunctive query for the same terms does match docs
    assert(!engine.contains(5))
    val conj = BM25.topK(spark, docsDf, col("doc_id"), col("text"),
      Seq(5 -> "dup table"), conjunctive = true)
    assert(conj.count() > 0)
  }

  test("indexed phrase serving == direct phrase build (both query sets, incl. slop)") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_idx_").toString
    try {
      graft.index.SegmentBuilder.ingest(spark, docsDf, col("doc_id"), col("text"),
        dir, SparkEntry.IndexCfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, SparkEntry.IndexCfg)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .sortBy(t => (t._1, t._2)).toSeq
      val direct = rows(BM25.phraseTopK(spark, docsDf, col("doc_id"), col("text"),
        SparkEntry.PhraseQuerySet, SparkEntry.IndexCfg))
      assert(rows(BM25.phraseTopKIndexed(spark, dir, SparkEntry.PhraseQuerySet,
          SparkEntry.IndexCfg)) === direct)
      // shard pruning comes from the index's OWN marker: a caller cfg
      // with a different shard count must not silently drop postings
      assert(graft.index.SegmentBuilder.indexShards(dir) === SparkEntry.IndexCfg.shards)
      assert(rows(BM25.phraseTopKIndexed(spark, dir, SparkEntry.PhraseQuerySet,
          SparkEntry.IndexCfg.copy(shards = 16))) === direct)
      assert(rows(BM25.phraseTopKIndexed(spark, dir, SparkEntry.PhraseSlopQuerySet,
          SparkEntry.IndexCfg, slop = SparkEntry.PhraseSlop)) ===
        rows(BM25.phraseTopK(spark, docsDf, col("doc_id"), col("text"),
          SparkEntry.PhraseSlopQuerySet, SparkEntry.IndexCfg, slop = SparkEntry.PhraseSlop)))
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("termShard parity: driver-side XXH64 == pmod(xxhash64(term), shards)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val terms = (Seq("spark", "fast", "table", "dup", "", "a",
      "çöğüş", "日本語トークン", "x" * 64) ++
      (1 to 200).map(_ => rng.alphanumeric.take(1 + rng.nextInt(12)).mkString)).distinct
    for (shards <- Seq(1, 4, 8, 31)) {
      val viaSpark = terms.toDF("term")
        .select(col("term"), pmod(xxhash64(col("term")), lit(shards)).cast("int").as("s"))
        .collect().map(r => (r.getString(0), r.getInt(1)))
      viaSpark.foreach { case (t, s) =>
        assert(BM25.termShard(t, shards) === s, s"shard mismatch for <$t> @$shards")
      }
    }
  }

  test("freqs-only index (ES index_options opt-out): phrase serving fails loud") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_freqs_").toString
    try {
      val cfg = SparkEntry.IndexCfg.copy(storePositions = false)
      graft.index.SegmentBuilder.ingest(spark, docsDf, col("doc_id"), col("text"), dir, cfg)
      assert(!spark.read.parquet(s"$dir/postings").columns.contains("positions"))
      val e = intercept[IllegalArgumentException] {
        BM25.phraseTopKIndexed(spark, dir, SparkEntry.PhraseQuerySet, cfg).collect()
      }
      assert(e.getMessage.contains("positions"),
        "must mirror ES's 'positions not indexed' error, not return wrong results")
      // a positions-flag flip on the same dir must NOT read as complete
      assert(graft.index.SegmentBuilder.ingestDone(dir, cfg))
      assert(!graft.index.SegmentBuilder.ingestDone(dir, SparkEntry.IndexCfg))
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("positional phrase semantics: duplicate terms, slop windows, order-sensitivity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "dup table dup end"),        // exact "dup table dup"
      (2L, "dup table other dup"),      // dup..table adjacent; 2nd dup gapped by 1
      (3L, "table dup"),                // reversed order only
      (4L, "spark xx query"),           // gap 1 (slack 1)
      (5L, "spark xx yy zz query"),     // gap 3 (slack 3)
      (6L, "spark query"),              // adjacent
      (7L, "query spark")               // reversed
    ).toDF("doc_id", "text")
    def hits(phrase: String, slop: Int): Set[Long] =
      BM25.phraseTopK(spark, docs, col("doc_id"), col("text"),
        Seq(1 -> phrase), slop = slop).collect().map(_.getLong(2)).toSet
    // slop 0 = exact adjacency; duplicate-term phrase needs BOTH dups placed
    assert(hits("dup table dup", 0) === Set(1L))
    assert(hits("dup table dup", 1) === Set(1L, 2L), "slack 1 admits the gapped 2nd dup")
    assert(hits("spark query", 0) === Set(6L))
    assert(hits("spark query", 1) === Set(4L, 6L))
    assert(hits("spark query", 3) === Set(4L, 5L, 6L))
    // ordered proximity: reversal never matches, at any slop
    assert(!hits("spark query", 10).contains(7L))
    // doc 1 "dup table dup end" genuinely contains "table dup" adjacently
    assert(hits("table dup", 0) === Set(1L, 3L),
      "reversed phrase matches only real occurrences of that order")
    // m=1 degenerate: plain containment
    assert(hits("query", 0) === Set(4L, 5L, 6L, 7L))
  }

  test("positional postings: tf == size(positions), positions index kept tokens") {
    import spark.implicits._
    val docs = Seq((1L, "the alpha beta the alpha")).toDF("doc_id", "text")
    val rows = Postings.buildPositional(docs, col("doc_id"), col("text"))
      .orderBy("term").collect()
    // kept tokens after stopword removal: [alpha, beta, alpha]
    val byTerm = rows.map(r => r.getString(0) ->
      (r.getLong(3), r.getSeq[Int](4))).toMap
    assert(byTerm("alpha") === ((2L, Seq(0, 2))))
    assert(byTerm("beta") === ((1L, Seq(1))))
    rows.foreach(r => assert(r.getLong(3) === r.getSeq[Int](4).size.toLong))
  }

  test("deterministic docId tie-break: equal-score docs ordered by docId asc") {
    // Synthetic corpus with exact duplicates -> guaranteed score ties.
    val docs = (0L until 20L).map(i => (i, if (i % 2 == 0) "alpha beta gamma" else "delta epsilon"))
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val res = BM25.topK(spark, df, col("doc_id"), col("text"), Seq(1 -> "alpha")).collect()
    val ids = res.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(ids === Seq(0L, 2L, 4L, 6L, 8L, 10L, 12L, 14L, 16L, 18L))
    val oracle = NaiveBM25.topK(docs, "alpha", 10)
    assert(oracle.map(_.docId) === ids)
    res.foreach(r => assert(r.getDouble(3) === oracle.head.score))
  }

  test("native SumStructFieldExpr fold is bit-equal to the interpreted aggregate HOF") {
    import spark.implicits._
    // weights spanning magnitudes so association errors would show;
    // plus an empty array (0.0) and a null-w element (null result)
    val rows = Seq(
      (1L, Seq(("a", 1.0e-7), ("b", 3.14159), ("c", 2.5e6), ("d", 0.1))),
      (2L, Seq(("z", 42.0))),
      (3L, Seq.empty[(String, Double)]))
    val df = rows.toDF("id", "arr")
      .select(col("id"), sort_array(col("arr")).as("arr"))
    val both = df.select(col("id"),
      SumStructFieldExpr.sumField(col("arr"), 1, 2).as("native"),
      aggregate(col("arr"), lit(0.0),
        (acc, x) => acc + x.getField("_2")).as("hof")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"id ${r.getLong(0)}")
    }
    // null ARRAY -> null, matching aggregate(null, ...)
    val nr = Seq(Tuple1[Option[Seq[(String, Double)]]](None)).toDF("arr")
      .select(SumStructFieldExpr.sumField(col("arr"), 1, 2).as("native"),
        aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + x.getField("_2")).as("hof")).head()
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }
}
