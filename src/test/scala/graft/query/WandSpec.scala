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

  test("doc partitions: a single segment row spanning several doc ranges scores bit-identical to BM25.topK") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_docparts_").toString
    try {
      // no salting: the hot term (every doc) and the rare term (every
      // 50th doc) are each ONE segment row, cut into every doc partition
      // their [first_doc, last_doc] span overlaps; df 600 / target 64 -> 10 ranges
      val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 1024, serveTargetPostings = 64)
      val variants = Seq("alpha beta", "gamma alpha delta", "beta beta epsilon", "delta zeta")
      val docs = (0L until 600L).map { i =>
        val rare = if (i % 50 == 7) " rarew" * (1 + (i / 50 % 3).toInt) else ""
        (i, s"hotw ${variants((i % variants.size).toInt)}$rare")
      }
      val df = docs.toDF("doc_id", "text")
      SegmentBuilder.ingest(spark, df, col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val h = Wand.handleFor(spark, dir, c)
      assert(h.serveRanges === 10)
      val (_, bounds) = Wand.docRanges(spark, dir, c, docs.size.toLong)
      val seg = spark.read.parquet(s"$dir/segments").filter(col("term").isin("rarew", "hotw"))
        .select("term", "first_doc", "last_doc").collect()
      assert(seg.map(_.getString(0)).sorted.toSeq === Seq("hotw", "rarew"), "one segment row per term")
      for (r <- seg) {
        val spanned = graft.index.RangeSaltExpr.bucketOf(bounds, r.getLong(2)) -
          graft.index.RangeSaltExpr.bucketOf(bounds, r.getLong(1))
        assert(spanned >= 3, s"${r.getString(0)}'s row must span several doc partitions")
      }
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
      val queries = Seq(1 -> "rarew", 2 -> "hotw rarew", 3 -> "hotw", 4 -> "rarew zeta",
        5 -> "zzznope rarew", 6 -> "epsilon hotw beta", 7 -> "zzznope")
      val served = rows(h.topK(queries))
      assert(served === rows(BM25.topK(spark, df, col("doc_id"), col("text"), queries, c)))
      assert(served.count(_._1 == 1) === math.min(12, c.topK) && !served.exists(_._1 == 7))
      // the rare term's df is store-wide in every partition: a
      // partition holding one of its docs scores it like the corpus does
      assert(h.dfOf(Seq("rarew", "hotw", "zzznope")) === Map("rarew" -> 12L, "hotw" -> 600L))
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("a memo swap closes the replaced handles without Spark's locally-checkpointed WARN") {
    import spark.implicits._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    /** The WARN-or-worse messages logged while `f` runs. */
    def warnings(f: => Any): Seq[String] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val capture = new AbstractAppender("graft-wand-spec", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = { got.add(e.getMessage.getFormattedMessage); () }
      }
      capture.start()
      val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration.getRootLogger
      root.addAppender(capture, Level.WARN, null)
      try f finally { root.removeAppender(capture.getName); capture.stop() }
      got.toArray.toSeq.map(_.toString)
    }
    val checkpointWarn = "was locally checkpointed"
    // the capture sees the WARN where Spark logs it: unpersisting a
    // locally checkpointed RDD
    val probe = spark.sparkContext.parallelize(1 to 4, 2).persist().localCheckpoint()
    probe.count()
    assert(warnings(probe.unpersist()).exists(_.contains(checkpointWarn)))
    val dir = Files.createTempDirectory("graft_wand_warn_").toString
    try {
      val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 64)
      val docs = (0L until 80L).map(i => (i, if (i % 2 == 0) "alpha beta" else "gamma delta"))
        .toDF("doc_id", "text")
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val before = (Wand.handleFor(spark, dir, c), BM25.phraseHandleFor(spark, dir, c))
      val ck = c.copy(topK = c.topK + 1)
      val logged = warnings {
        assert(!(Wand.handleFor(spark, dir, ck) eq before._1))
        assert(!(BM25.phraseHandleFor(spark, dir, ck) eq before._2))
      }
      assert(!logged.exists(_.contains(checkpointWarn)), logged.mkString("\n"))
      assert(Wand.openCaches(spark, dir).map(_.name) === Seq("wand"))
      Wand.handleFor(spark, dir, ck).close()
      BM25.phraseHandleFor(spark, dir, ck).close()
      assert(!spark.sparkContext.getPersistentRDDs.values.exists(r => r.name.startsWith(Wand.cacheName(dir))),
        "a closed handle releases its doc partitions and its dictionary")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("a Sized value is cached at its given size, its object graph not walked again") {
    import org.apache.spark.GraftRddBridge.Sized
    val mb = 1 << 20
    /** The memory Spark's block store books for one cached `value`. */
    def cachedBytes(value: Int => Any): Long = {
      val rdd = spark.sparkContext.parallelize(Seq(1), 1).map(value)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      rdd.count()
      try spark.sparkContext.getRDDStorageInfo.filter(_.id == rdd.id).map(_.memSize).sum
      finally org.apache.spark.GraftRddBridge.release(rdd)
    }
    assert(cachedBytes(_ => new Array[Byte](mb)) >= mb, "the control is walked")
    assert(cachedBytes(_ => new Sized(new Array[Byte](mb), 100L)) < 1024)
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
      val h1 = Wand.handleFor(spark, dir, c)
      val p1 = BM25.phraseHandleFor(spark, dir, c)
      assert(caches === 1)
      SegmentBuilder.appendDocs(spark, more.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val h2 = Wand.handleFor(spark, dir, c)
      val p2 = BM25.phraseHandleFor(spark, dir, c)
      assert(!(h2 eq h1) && !(p2 eq p1), "appendDocs + buildAll swaps the handles")
      assert(caches === 1, "the replaced handle's serving cache must be released")
      val omega = h2.topK(Seq(1 -> "omega")).collect().map(_.getLong(2)).toSet
      assert(omega.nonEmpty && omega.subsetOf(more.map(_._1).toSet))
      val omegaAlpha = p2.topK(Seq(1 -> "omega alpha")).collect().map(_.getLong(2)).toSet
      assert(omegaAlpha.size == c.topK && omegaAlpha.subsetOf(more.map(_._1).toSet))
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("a handle that fails to open releases its serving cache: docmap gone with ranges > 1") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_fail_").toString
    try {
      val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 64, serveTargetPostings = 16)
      val docs = (0L until 200L).map(i => (i, if (i % 2 == 0) "alpha beta" else "alpha gamma"))
      SegmentBuilder.ingest(spark, docs.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      new Directory(new java.io.File(s"$dir/docmap")).deleteRecursively()
      // the max-df walk fills the cache; reading docmap for the range
      // bounds then fails
      assertThrows[Exception](Wand.handleFor(spark, dir, c))
      assert(!spark.sparkContext.getPersistentRDDs.values.exists(_.name == Wand.cacheName(dir)),
        "a handle that failed to open must not leave its serving cache pinned")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("block-max bounds follow the serving config: built under b = 0, served under b = 0.75, WAND == BM25.topK") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_bounds_").toString
    try {
      // under b = 0 every tf-1 posting has the same partial, so a bound
      // kept from the build would sit below the serving weight of every
      // doc shorter than avgdl: the short 'xterm' docs up front would
      // fill the heap above it and hide the shortest one, doc 200
      val docs = (0L until 201L).map { i =>
        i -> (if (i < 20) "xterm filler" else if (i < 200) Seq.fill(40)("pad").mkString(" ") else "xterm")
      }
      val built = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 1024, b = 0.0)
      val served = built.copy(b = 0.75)
      val df = docs.toDF("doc_id", "text")
      SegmentBuilder.ingest(spark, df, col("doc_id"), col("text"), dir, built)
      SegmentBuilder.buildAll(spark, dir, built)
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
      val queries = Seq(1 -> "xterm", 2 -> "xterm pad")
      val wand = rows(Wand.topK(spark, dir, queries, served))
      assert(wand === rows(BM25.topK(spark, df, col("doc_id"), col("text"), queries, served)))
      assert(wand.head._3 === 200L, "the shortest xterm doc ranks first under the serving b")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("one serving cache per index: every request kind reads it, and only segments and stats sign it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_one_").toString
    try {
      val c = cfg.copy(shards = 2, blockSize = 8, saltTargetPostings = 64)
      val docs = (0L until 300L).map(i => (i, s"spark sparkle spork query w${i % 13} v${i % 7}"))
      SegmentBuilder.ingest(spark, docs.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val h = Wand.handleFor(spark, dir, c)
      val requests: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "term" -> (() => Wand.topK(spark, dir, Seq(1 -> "spark w3"), c)),
        "phrase" -> (() => BM25.phraseTopKIndexed(spark, dir, Seq(1 -> "sparkle spork"), c)),
        "phrase_prefix" -> (() => QueryDsl.phrasePrefixTopK(spark, dir, Seq(1 -> "spark sp"), cfg = c)),
        "query_string" -> (() => QueryDsl.queryStringTopKIndexed(spark, dir, Seq(1 -> "+\"sparkle spork\" w1*"),
          cfg = c)),
        "prefix" -> (() => QueryDsl.prefixTopK(spark, dir, Seq(1 -> "spar"), cfg = c)),
        "wildcard" -> (() => QueryDsl.wildcardTopK(spark, dir, Seq(1 -> "sp?r*"), cfg = c)),
        "regexp" -> (() => QueryDsl.regexpTopK(spark, dir, Seq(1 -> "w1[0-2]?"), cfg = c)),
        "fuzzy" -> (() => QueryDsl.fuzzyTopK(spark, dir, Seq(1 -> "sparc"), cfg = c)))
      for ((op, request) <- requests; _ <- 1 to 2) assert(request().collect().nonEmpty, op)
      assert(Wand.handleFor(spark, dir, c) eq h, "every request kind is served by the one handle")
      assert(Wand.openCaches(spark, dir).map(_.name) === Seq("wand"))
      assert(spark.sparkContext.getPersistentRDDs.values.count(_.name == Wand.cacheName(dir)) === 1)
      // an append changes postings and docmap, which serving does not
      // read: the handle stays until buildAll encodes the append
      SegmentBuilder.appendDocs(spark, Seq((900L, "omega spark")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), dir, c)
      assert(Wand.handleFor(spark, dir, c) eq h, "an append alone must not swap the handle")
      SegmentBuilder.buildAll(spark, dir, c)
      assert(!(Wand.handleFor(spark, dir, c) eq h), "buildAll swaps it")
      assert(Wand.topK(spark, dir, Seq(1 -> "omega"), c).collect().map(_.getLong(2)).toSeq === Seq(900L))
      Wand.handleFor(spark, dir, c).close()
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }
}
