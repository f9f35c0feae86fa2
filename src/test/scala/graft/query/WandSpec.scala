package graft.query

import java.nio.file.Files
import scala.reflect.io.Directory

import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSuite}
import graft.config.EngineConfig
import graft.index.SegmentBuilder
import graft.oracle.NaiveBM25

/** Rank identity of the block-max WAND serving path: must equal the
  * declarative BM25 path AND the naive oracle — docIDs and bit-equal
  * scores — under aggressive skipping pressure (tiny blocks, salted hot
  * terms, duplicate-doc ties). */
class WandSpec extends SparkSuite {

  private val cfg = EngineConfig.default.copy(
    shards = 4, buildPartitions = 4, blockSize = 16, saltTargetPostings = 128)
  private val docsPath = "/root/testdata/sf0.001/documents.parquet"

  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft_wand_").toString
    val docs = spark.read.parquet(docsPath)
    SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
    SegmentBuilder.buildAll(spark, dir, cfg)
    sys.addShutdownHook(new Directory(new java.io.File(dir)).deleteRecursively())
    dir
  }

  private def collectHits(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[(Long, Double)]] =
    df.collect().groupBy(_.getInt(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq)
      .toMap

  test("WAND == DataFrame BM25 == naive oracle on all reference queries") {
    val docsDf = spark.read.parquet(docsPath)
    val wand = collectHits(Wand.topK(spark, indexDir, SparkEntry.FtQuerySet, cfg))
    val declarative = collectHits(
      BM25.topK(spark, docsDf, col("doc_id"), col("text"), SparkEntry.FtQuerySet, cfg))
    assert(wand === declarative)
    val docsLocal = docsDf.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    for ((qid, text) <- SparkEntry.FtQuerySet) {
      val oracle = NaiveBM25.topK(docsLocal, text, cfg.topK, cfg.k1, cfg.b)
        .map(h => (h.docId, h.score))
      assert(wand.getOrElse(qid, Seq.empty) === oracle, s"q$qid <$text>")
    }
  }

  test("property: WAND == oracle on random Zipfian corpora and random queries") {
    import spark.implicits._
    val vocab = (1 to 40).map(i => s"w$i") // Zipfian-ish via quadratic skew below
    def word(seed: Long, i: Int): String = {
      val h = math.abs(graft.ops.Dedup.fnv1a64(s"$seed:$i"))
      vocab(((h % 1600) * vocab.size / 1600).toInt.min(vocab.size - 1) match {
        case x => (x * x / vocab.size) // quadratic skew -> hot low ids
      })
    }
    for (round <- 1 to 4) {
      val docs = (0L until 120L).map { id =>
        val len = 10 + (math.abs(graft.ops.Dedup.fnv1a64(s"len$round:$id")) % 50).toInt
        (id, (0 until len).map(i => word(round * 1000 + id, i)).mkString(" "))
      }
      val dir = Files.createTempDirectory(s"graft_wand_prop_$round").toString
      try {
        val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 64)
        val df = docs.toDF("doc_id", "text")
        SegmentBuilder.ingest(spark, df, col("doc_id"), col("text"), dir, c)
        SegmentBuilder.buildAll(spark, dir, c)
        val queries = Seq(
          1 -> s"${word(round, 1)}",
          2 -> s"${word(round, 2)} ${word(round, 3)}",
          3 -> s"${word(round, 4)} ${word(round, 5)} ${word(round, 6)} zzznope")
        val wand = collectHits(Wand.topK(spark, dir, queries, c))
        for ((qid, text) <- queries) {
          val oracle = NaiveBM25.topK(docs, text, c.topK, c.k1, c.b)
            .map(h => (h.docId, h.score))
          assert(wand.getOrElse(qid, Seq.empty) === oracle,
            s"round $round q$qid <$text>")
        }
      } finally new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("hot term never pins its full postings in one task (bounded per-task fan-in)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_hot_").toString
    try {
      // one stopword-class term in EVERY doc; fan-out derives from the
      // hot df: 32768 / 4096 = 8 doc ranges
      val c = cfg.copy(shards = 2, blockSize = 16,
        saltTargetPostings = 64, serveTargetPostings = 4096)
      val nDocs = 32768L
      val docs = spark.range(0L, nDocs, 1L, 8).toDF("doc_id")
        .selectExpr("doc_id",
          "concat('hotword filler', doc_id % 97, ' pad', doc_id % 31) AS text")
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val acc = spark.sparkContext.collectionAccumulator[java.lang.Long]("taskPostings")
      val handle = new Wand.Handle(spark, dir, c)
      val hits = handle.topK(Seq(1 -> "hotword"), acc).collect()
      handle.close()
      assert(hits.length === c.topK)
      // rank-identical to the oracle even under range fan-out
      val docsLocal = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val oracle = NaiveBM25.topK(docsLocal, "hotword", c.topK, c.k1, c.b)
        .map(h => (h.docId, h.score))
      val got = hits.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
      assert(got === oracle)
      // the term fans out across many tasks and no task pins more than a
      // fraction of its postings (row/boundary granularity allows slack;
      // the failure mode being guarded is ONE task holding ALL of it)
      val perTask = acc.value
      assert(perTask.size >= 4, s"expected >=4 range tasks, got ${perTask.size}")
      val maxTask = perTask.toArray.map(_.asInstanceOf[java.lang.Long].longValue).max
      assert(maxTask <= nDocs / 2,
        s"a task pinned $maxTask of $nDocs hot postings — fan-out failed")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("per-task decode bound is an invariant: same target, two corpus sizes") {
    import spark.implicits._
    // the SAME serveTargetPostings at 4x the corpus must yield ~the same
    // per-task bound via MORE ranges — never bigger tasks
    val c = cfg.copy(shards = 2, blockSize = 16,
      saltTargetPostings = 64, serveTargetPostings = 1024)
    def run(nDocs: Long): (Int, Long) = {
      val dir = Files.createTempDirectory(s"graft_wand_inv_$nDocs").toString
      try {
        val docs = spark.range(0L, nDocs, 1L, 8).toDF("doc_id")
          .selectExpr("doc_id",
            "concat('hotword filler', doc_id % 97, ' pad', doc_id % 31) AS text")
        SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, c)
        SegmentBuilder.buildAll(spark, dir, c)
        val acc = spark.sparkContext.collectionAccumulator[java.lang.Long](s"tp$nDocs")
        val handle = new Wand.Handle(spark, dir, c)
        handle.topK(Seq(1 -> "hotword"), acc).collect()
        handle.close()
        val maxTask = acc.value.toArray
          .map(_.asInstanceOf[java.lang.Long].longValue).max
        (handle.serveRanges, maxTask)
      } finally new Directory(new java.io.File(dir)).deleteRecursively()
    }
    val (ranges1, max1) = run(4096L)
    val (ranges2, max2) = run(16384L)
    assert(ranges1 === 4 && ranges2 === 16,
      s"fan-out must grow with the corpus: got $ranges1 -> $ranges2")
    // slack 2x: boundary-overlapping rows count in both adjacent ranges
    val bound = c.serveTargetPostings * 2
    assert(max1 <= bound, s"small corpus: task pinned $max1 > $bound")
    assert(max2 <= bound, s"big corpus: task pinned $max2 > $bound — " +
      "the bound must NOT degrade with corpus growth")
  }

  test("ties break deterministically under WAND (duplicate docs)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_tie_").toString
    try {
      val docs = (0L until 50L)
        .map(i => (i, if (i % 2 == 0) "alpha beta gamma" else "delta epsilon zeta"))
        .toDF("doc_id", "text")
      val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 16)
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val hits = Wand.topK(spark, dir, Seq(1 -> "alpha zeta"), c).collect()
      val ids = hits.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      // alpha docs (even ids) all tie; zeta docs (odd) tie lower; ranks
      // must follow (score desc, docId asc)
      val docsLocal = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val oracle = NaiveBM25.topK(docsLocal, "alpha zeta", c.topK, c.k1, c.b).map(_.docId)
      assert(ids === oracle)
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("range fan-out merges on the driver bit-identical to BM25.topK (absent qid, k-th tie)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_ranges_").toString
    try {
      // repeated texts make tie groups far larger than k; every 50th
      // doc is a distinct strong 'beta delta' doc, so that query's
      // top-k comes from many doc ranges
      val variants = Seq("alpha beta gamma", "alpha delta", "gamma delta epsilon alpha",
        "alpha alpha zeta", "beta gamma", "epsilon zeta eta", "alpha beta delta gamma eta")
      val docs = (0L until 600L).map { i =>
        val text =
          if (i % 50 == 49) ("beta " * (2 + (i / 50 % 5).toInt)) + "delta" +
            (" filler" * (i / 50).toInt)
          else variants((i % variants.size).toInt)
        (i, text)
      }
      val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 64,
        serveTargetPostings = 16)
      val df = docs.toDF("doc_id", "text")
      SegmentBuilder.ingest(spark, df, col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      assert(Wand.handleFor(spark, dir, c).serveRanges > 1, "the batch must fan out over ranges")
      val queries = Seq(1 -> "alpha", 2 -> "beta delta", 3 -> "zzznope",
        4 -> "gamma eta", 5 -> "zeta zzznope")
      // the k-th 'alpha' hit ties with the (k+1)-th
      val alpha = NaiveBM25.topK(docs, "alpha", c.topK + 1, c.k1, c.b)
      assert(alpha(c.topK - 1).score == alpha(c.topK).score, "fixture must tie at the k-th score")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
      val served = rows(Wand.topK(spark, dir, queries, c))
      val declarative = rows(BM25.topK(spark, df, col("doc_id"), col("text"), queries, c))
      assert(served === declarative)
      assert(!served.exists(_._1 == 3), "an absent-term qid yields no rows")
      assert(served.count(_._1 == 1) === c.topK)
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("mixed batch over ranges: term lists and dictionary-df expansions bit-identical to BM25.topK") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_mixed_").toString
    try {
      val variants = Seq("alpha beta gamma", "alpha delta", "gamma delta epsilon alpha",
        "alpha alpha zeta", "beta gamma", "epsilon zeta eta", "alpha beta delta gamma eta")
      val docs = (0L until 600L).map(i => (i, variants((i % variants.size).toInt) +
        (if (i % 40 == 39) " eta" * (1 + (i / 40 % 4).toInt) else "")))
      val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 64,
        serveTargetPostings = 16)
      val df = docs.toDF("doc_id", "text")
      SegmentBuilder.ingest(spark, df, col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val h = Wand.handleFor(spark, dir, c)
      assert(h.serveRanges > 1, "the batch must fan out over ranges")
      val alpha = NaiveBM25.topK(docs, "alpha", c.topK + 1, c.k1, c.b)
      assert(alpha(c.topK - 1).score == alpha(c.topK).score, "fixture must tie at the k-th score")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
      def declarative(qs: Seq[(Int, Seq[String])]) = rows(BM25.topK(spark, df, col("doc_id"),
        col("text"), qs.collect { case (q, ts) if ts.nonEmpty => q -> ts.mkString(" ") }, c))
      // one batch: a present term with a k-th tie, present + absent, a
      // multi-term query, and a qid whose terms are all absent
      val lists = Seq(1 -> Seq("alpha"), 2 -> Seq("zeta", "zzznope"),
        3 -> Seq("gamma", "eta", "delta"), 4 -> Seq("zzznope", "qqqnope"))
      val served = rows(h.topKTerms(lists))
      assert(served === declarative(lists))
      assert(!served.exists(_._1 == 4), "an all-absent qid yields no rows")
      // expansions score with the df their dictionary job read
      val prefixes = Seq(5 -> "e", 6 -> "nope", 7 -> "alp")
      val byPrefix = h.expandPrefixBatch(prefixes.map(_._2), QueryDsl.MaxExpansions)
      assert(byPrefix("e") === Seq("epsilon", "eta"))
      assert(rows(QueryDsl.prefixTopK(spark, dir, prefixes, cfg = c)) ===
        declarative(prefixes.map { case (q, p) => q -> byPrefix(p) }))
      val fuzzy = Seq(8 -> "delts", 9 -> "qqqqqq")
      assert(rows(QueryDsl.fuzzyTopK(spark, dir, fuzzy, cfg = c)) === declarative(fuzzy.map {
        case (q, t) =>
          val d = QueryDsl.autoFuzziness(t)
          q -> h.expandFuzzyBatch(Seq(t -> d), QueryDsl.MaxExpansions)(t, d) }))
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("handle memo: one Wand and one phrase handle per untouched index; new ones after appendDocs + buildAll and after a cfg change; swapped handles serve the grown corpus") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_memo_").toString
    try {
      val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 64)
      val variants = Seq("alpha beta gamma", "alpha delta", "gamma delta epsilon alpha",
        "beta gamma", "epsilon zeta eta")
      val base = (0L until 200L).map(i => (i, variants((i % variants.size).toInt)))
      val more = (200L until 240L).map(i => (i, s"omega alpha psi ${variants((i % 3).toInt)}"))
      SegmentBuilder.ingest(spark, base.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      def handles(k: EngineConfig) = (Wand.handleFor(spark, dir, k), BM25.phraseHandleFor(spark, dir, k))
      def fresh(a: (Wand.Handle, BM25.PhraseHandle), b: (Wand.Handle, BM25.PhraseHandle)) =
        !(a._1 eq b._1) && !(a._2 eq b._2)
      val h1 = handles(c)
      val again = handles(c)
      assert((again._1 eq h1._1) && (again._2 eq h1._2), "an untouched index reuses both handles")
      val ck = c.copy(topK = c.topK + 3)
      val hk = handles(ck)
      assert(fresh(hk, h1), "a cfg change swaps both handles")
      assert(hk._1 eq Wand.handleFor(spark, dir, ck))
      val h2 = handles(c)
      assert(fresh(h2, hk), "changing the cfg back swaps again: one handle per index")
      SegmentBuilder.appendDocs(spark, more.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val h3 = handles(c)
      assert(fresh(h3, h2), "appendDocs + buildAll swaps both handles")
      // the swapped handles see the appended postings (stats stay as
      // ingested until restat, so only membership is compared here)
      val appended = more.map(_._1).toSet
      val omega = Wand.topK(spark, dir, Seq(1 -> "omega"), c).collect().map(_.getLong(2)).toSet
      assert(omega.nonEmpty && omega.subsetOf(appended))
      val psi = BM25.phraseTopKIndexed(spark, dir, Seq(1 -> "omega alpha psi"), c)
        .collect().map(_.getLong(2)).toSet
      assert(psi.nonEmpty && psi.subsetOf(appended))
      // restat refreshes N/avgdl: served == corpus scoring on the grown corpus
      SegmentBuilder.restat(spark, dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val h4 = handles(c)
      assert(fresh(h4, h3), "a restat swaps both handles")
      val grown = (base ++ more).toDF("doc_id", "text")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
      val terms = Seq(1 -> "alpha", 2 -> "omega gamma", 3 -> "psi zzznope")
      assert(rows(Wand.topK(spark, dir, terms, c)) ===
        rows(BM25.topK(spark, grown, col("doc_id"), col("text"), terms, c)))
      val phrases = Seq(1 -> "alpha beta", 2 -> "omega alpha psi", 3 -> "gamma delta")
      assert(rows(BM25.phraseTopKIndexed(spark, dir, phrases, c)) ===
        rows(BM25.phraseTopK(spark, grown, col("doc_id"), col("text"), phrases, c)))
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("a replaced handle releases its serving cache: after appendDocs + buildAll one cache per index, serving the grown corpus") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_swap_").toString
    try {
      val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 64)
      val base = (0L until 120L).map(i => (i, if (i % 2 == 0) "alpha beta" else "gamma delta"))
      val more = (120L until 150L).map(i => (i, "omega alpha"))
      SegmentBuilder.ingest(spark, base.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      def named(name: String) = spark.sparkContext.getPersistentRDDs.values.count(_.name == name)
      def caches = named(Wand.cacheName(dir))
      def positional = named(BM25.positionalCacheName(dir))
      val h1 = Wand.handleFor(spark, dir, c)
      val p1 = BM25.phraseHandleFor(spark, dir, c)
      assert(caches === 1)
      assert(positional === 1)
      SegmentBuilder.appendDocs(spark, more.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val h2 = Wand.handleFor(spark, dir, c)
      val p2 = BM25.phraseHandleFor(spark, dir, c)
      assert(!(h2 eq h1) && !(p2 eq p1), "appendDocs + buildAll swaps the handles")
      assert(caches === 1, "the replaced handle's serving cache must be released")
      assert(positional === 1, "the replaced phrase handle's positional cache must be released")
      val omega = h2.topK(Seq(1 -> "omega")).collect().map(_.getLong(2)).toSet
      assert(omega.nonEmpty && omega.subsetOf(more.map(_._1).toSet))
      val omegaAlpha = p2.topK(Seq(1 -> "omega alpha")).collect().map(_.getLong(2)).toSet
      assert(omegaAlpha.size == c.topK && omegaAlpha.subsetOf(more.map(_._1).toSet))
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }
}
