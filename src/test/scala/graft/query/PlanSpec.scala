package graft.query

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{SparkEntry, SparkSuite}

/** Plan-quality regression guards: the physical properties that make
  * the engine scale must survive refactors. */
class PlanSpec extends SparkSuite {

  /** What a call ran: the executed plan of every query, the number of
    * Spark jobs and of stages run, the bytes it read from files and the
    * shuffle bytes its tasks wrote. */
  private final class Observed(val plans: Seq[String], val jobs: Int, val stages: Int, val fileBytes: Long,
                               val shuffleBytes: Long)

  /** The bytes read through Hadoop file systems so far, by every thread
    * of this JVM (local-mode executors included). A cached-block read
    * counts as task input in Spark's metrics but never touches a file,
    * so this, not task input, is what tells a served request that
    * reads an executor-resident cache from one that scans the index. */
  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  /** Runs `f` and returns the executed plan of every query it ran, the
    * number of Spark jobs it started and of stages it submitted (a
    * skipped stage is never submitted), the file bytes it read and the
    * shuffle bytes its tasks wrote. Served
    * calls are eager and return a local frame, so their guards inspect
    * what the call EXECUTED, not the plan of what it returned. */
  private def observed(f: => Any): Observed = {
    val plans = new ConcurrentLinkedQueue[String]()
    val jobs, stages = new AtomicInteger()
    val shuffleBytes = new AtomicLong()
    val ql = new QueryExecutionListener {
      // an executed adaptive plan prints its initial plan after the
      // final one; keep the final plan, the one that ran
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add((qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }).toString)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jl = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    // events of earlier work must not reach the fresh listeners
    TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(jl)
    try {
      val bytes0 = fsBytesRead()
      f
      TestBus.drain(spark.sparkContext)
      new Observed(plans.asScala.toSeq, jobs.get, stages.get, fsBytesRead() - bytes0, shuffleBytes.get)
    } finally {
      spark.listenerManager.unregister(ql)
      spark.sparkContext.removeSparkListener(jl)
    }
  }

  test("served term request: 1 job, no Catalyst query, 0 file bytes; all-absent: at most 1 job, 0 file bytes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_wand_").toString
    try {
      val docs = (0L until 400L).map(i => (i, s"spark fast query w${i % 13} v${i % 7}"))
        .toDF("doc_id", "text")
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"),
        dir, SparkEntry.IndexCfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, SparkEntry.IndexCfg)
      val handle = new Wand.Handle(spark, dir, SparkEntry.IndexCfg)
      val request = Seq(3 -> "spark fast query")
      val absent = Seq(4 -> "zzznope qqqabsent")
      handle.topK(request)
      handle.topK(absent)
      // the call alone: collecting its local result frame is the caller's
      var hits: org.apache.spark.sql.DataFrame = null
      var noHits: org.apache.spark.sql.DataFrame = null
      val present = observed { hits = handle.topK(request) }
      val none = observed { noHits = handle.topK(absent) }
      handle.close()
      assert(hits.collect().nonEmpty)
      assert(noHits.collect().isEmpty)
      assert(present.jobs == 1, s"a warm served term request ran ${present.jobs} jobs")
      assert(present.stages == 1, s"a warm served term request ran ${present.stages} stages")
      assert(present.shuffleBytes == 0, s"a warm served term request wrote ${present.shuffleBytes} shuffle bytes")
      assert(present.plans.isEmpty,
        s"a warm served term request ran Catalyst queries:\n${present.plans.mkString("\n")}")
      assert(present.fileBytes == 0, s"a warm served term request read ${present.fileBytes} file bytes")
      assert(none.jobs <= 1, s"an all-absent request ran ${none.jobs} jobs")
      assert(none.fileBytes == 0, s"an all-absent request read ${none.fileBytes} file bytes")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("served expansion requests: prefix, wildcard, regexp, fuzzy, phrase_prefix and indexed query_string are " +
      "each 1 job of 1 stage, 0 file bytes, no RDD built, over the one serving cache") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_expand_").toString
    try {
      val docs = (0L until 400L).map(i => (i, s"spark sparkle spork query w${i % 13} v${i % 7}"))
        .toDF("doc_id", "text")
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, SparkEntry.IndexCfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, SparkEntry.IndexCfg)
      val noPrefix = () => QueryDsl.queryStringTopKIndexed(spark, dir,
        Seq(1 -> "+sparkle \"spark sparkle\" -w3 v4"), cfg = SparkEntry.IndexCfg)
      noPrefix()
      var qsHits: org.apache.spark.sql.DataFrame = null
      val qsWarm = observed { qsHits = noPrefix() }
      assert(qsHits.collect().nonEmpty)
      assert(qsWarm.jobs == 1 && qsWarm.stages == 1,
        s"a warm query_string batch without a prefix ran ${qsWarm.jobs} jobs of ${qsWarm.stages} stages")
      assert(qsWarm.plans.isEmpty, s"it ran Catalyst queries:\n${qsWarm.plans.mkString("\n")}")
      assert(qsWarm.fileBytes == 0, s"it read ${qsWarm.fileBytes} file bytes")
      // (request, its jobs): every request expands and scores in one job
      val requests: Seq[(String, Int, () => org.apache.spark.sql.DataFrame)] = Seq(
        ("prefix", 1, () => QueryDsl.prefixTopK(spark, dir, Seq(1 -> "spar"), cfg = SparkEntry.IndexCfg)),
        ("wildcard", 1, () => QueryDsl.wildcardTopK(spark, dir, Seq(1 -> "sp?r*"), cfg = SparkEntry.IndexCfg)),
        ("regexp", 1, () => QueryDsl.regexpTopK(spark, dir, Seq(1 -> "w1[0-2]?"), cfg = SparkEntry.IndexCfg)),
        ("fuzzy", 1, () => QueryDsl.fuzzyTopK(spark, dir, Seq(1 -> "sparc"), cfg = SparkEntry.IndexCfg)),
        ("phrase_prefix", 1, () => QueryDsl.phrasePrefixTopK(spark, dir, Seq(1 -> "spark sp"),
          cfg = SparkEntry.IndexCfg)),
        ("query_string", 1, () => QueryDsl.queryStringTopKIndexed(spark, dir,
          Seq(1 -> "+\"sparkle spork\" w1* -v3"), cfg = SparkEntry.IndexCfg)))
      requests.foreach(_._3())
      for ((op, jobs, request) <- requests) {
        var hits: org.apache.spark.sql.DataFrame = null
        // the probe RDD itself is the one id between the two reads
        val rdd0 = spark.sparkContext.emptyRDD[Int].id
        val warm = observed { hits = request() }
        val rdds = spark.sparkContext.emptyRDD[Int].id - rdd0 - 1
        assert(hits.collect().nonEmpty, op)
        assert(warm.jobs == jobs && warm.stages == jobs,
          s"a warm $op request ran ${warm.jobs} jobs of ${warm.stages} stages, not $jobs of $jobs")
        assert(warm.plans.isEmpty, s"a warm $op request ran Catalyst queries:\n${warm.plans.mkString("\n")}")
        assert(warm.fileBytes == 0, s"a warm $op request read ${warm.fileBytes} file bytes")
        assert(rdds == 0, s"a warm $op request built $rdds RDDs")
      }
      assert(Wand.openCaches(spark, dir).map(_.name) === Seq("wand"))
      Wand.handleFor(spark, dir, SparkEntry.IndexCfg).close()
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("warm served requests build no RDD: term, phrase batch, dfOf, prefix, fuzzy, phrase_prefix and query_string") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan_nordd_").toString
    try {
      val docs = (0L until 400L).map(i => (i, s"spark sparkle spork query w${i % 13} v${i % 7}"))
        .toDF("doc_id", "text")
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, SparkEntry.IndexCfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, SparkEntry.IndexCfg)
      val wand = Wand.handleFor(spark, dir, SparkEntry.IndexCfg)
      val phrase = BM25.phraseHandleFor(spark, dir, SparkEntry.IndexCfg)
      val requests: Seq[(String, () => Any)] = Seq(
        "term" -> (() => wand.topK(Seq(3 -> "spark query w3"))),
        "phrase" -> (() => phrase.topK(Seq(5 -> "sparkle spork", 6 -> "query w4"))),
        "dfOf" -> (() => wand.dfOf(Seq("spark", "w3", "zzznope"))),
        "prefix" -> (() => QueryDsl.prefixTopK(spark, dir, Seq(1 -> "spar"), cfg = SparkEntry.IndexCfg)),
        "fuzzy" -> (() => QueryDsl.fuzzyTopK(spark, dir, Seq(1 -> "sparc"), cfg = SparkEntry.IndexCfg)),
        "phrase_prefix" -> (() => QueryDsl.phrasePrefixTopK(spark, dir, Seq(1 -> "spark sp"),
          cfg = SparkEntry.IndexCfg)),
        "query_string" -> (() => QueryDsl.queryStringTopKIndexed(spark, dir,
          Seq(1 -> "+\"sparkle spork\" w1* -v3"), cfg = SparkEntry.IndexCfg)))
      try {
        requests.foreach(_._2())
        for ((op, request) <- requests) {
          // the probe RDD itself is the one id between the two reads
          val before = spark.sparkContext.emptyRDD[Int].id
          request()
          val after = spark.sparkContext.emptyRDD[Int].id
          assert(after - before == 1, s"a warm $op request built ${after - before - 1} RDDs")
        }
      } finally { wand.close(); phrase.close() }
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("serving handle init writes no shuffle bytes: both caches build from the shard directories") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("plan_init_").toString
    try {
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"),
        dir, SparkEntry.IndexCfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, SparkEntry.IndexCfg)
      var handles = Seq.empty[AutoCloseable]
      val wand = observed { handles :+= Wand.handleFor(spark, dir, SparkEntry.IndexCfg) }
      val phrase = observed { handles :+= BM25.phraseHandleFor(spark, dir, SparkEntry.IndexCfg) }
      handles.foreach(_.close())
      assert(wand.shuffleBytes == 0, s"WAND handle init wrote ${wand.shuffleBytes} shuffle bytes")
      assert(phrase.shuffleBytes == 0, s"phrase handle init wrote ${phrase.shuffleBytes} shuffle bytes")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("corpus BM25 filters postings to the query terms and prunes the docs scan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = BM25.topK(spark, docs, col("doc_id"), col("text"), SparkEntry.FtQuerySet)
      .queryExecution.executedPlan.toString
    assert("\\.term (IN|INSET) ".r.findFirstIn(plan).isDefined,
      s"the corpus postings must be filtered to the query terms before the evaluator:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "docs scan must prune to the two used columns")
  }

  test("corpus evaluator reads typed postings rows: no boxed positions in the executed plan") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"spark fast query w${i % 13} v${i % 7}")).toDF("doc_id", "text")
    val hits = BM25.topK(spark, docs, col("doc_id"), col("text"), Seq(1 -> "spark w3", 2 -> "query v4"))
    val plan = hits.queryExecution.executedPlan.toString
    assert(!plan.contains("Integer.valueOf") && !plan.contains("mapobjects"),
      s"the evaluator must decode positions as a primitive array, never box them:\n$plan")
    assert(hits.collect().nonEmpty)
  }

  test("postings construction plans with no shuffle exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.index.Postings.build(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"postings must be shuffle-free:\n$plan")
  }

  /** The `Sort` nodes planned by each write into a `postings` table that
    * `f` runs, from EVERY session: ingest derives its outputs in a
    * cloned session, which a QueryExecutionListener on this one never
    * hears, so this listens for the SQL execution starts on the bus. */
  private def postingsWriteSorts(f: => Any): Seq[Seq[String]] = {
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo); ()
        case _ => ()
      }
    }
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      f
      TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    plans.asScala.toSeq.map(nodes)
      .filter(_.exists(n => n.nodeName.contains("InsertIntoHadoopFsRelationCommand") &&
        n.simpleString.contains("/postings,")))
      .map(_.filter(_.nodeName == "Sort").map(_.simpleString))
  }

  test("postings writes: ingest plans no clustering sort, appendDocs sorts by shard, thash, doc_id") {
    val cfg = graft.config.EngineConfig.default.copy(shards = 2, buildPartitions = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_postings_").toString
    def docs(from: Long, to: Long) = spark.range(from, to, 1L, 2).toDF("id")
      .selectExpr("id AS doc_id", "concat('sort guard doc ', id % 13, ' text') AS text")
    try {
      val ingest = postingsWriteSorts(graft.index.SegmentBuilder.ingest(
        spark, docs(0L, 300L), col("doc_id"), col("text"), dir, cfg))
      assert(ingest.size === 1, s"one postings write per ingest: $ingest")
      // the file writer's own partition-column sort (shard alone) is the
      // only one; a clustering key (thash, doc_id) measured +40% here
      assert(ingest.head.forall(_.matches("Sort \\[shard#\\d+ ASC NULLS FIRST\\], false, 0")),
        s"ingest's postings write must stay unclustered: ${ingest.head}")
      val append = postingsWriteSorts(graft.index.SegmentBuilder.appendDocs(
        spark, docs(300L, 340L), col("doc_id"), col("text"), dir, cfg))
      assert(append.size === 1, s"one postings write per append: $append")
      val clustered = ("Sort \\[shard#\\d+ ASC NULLS FIRST, thash#\\d+L ASC NULLS FIRST, " +
        "doc_id#\\d+L ASC NULLS FIRST\\]").r
      assert(append.head.exists(clustered.findFirstIn(_).isDefined),
        s"appendDocs's postings write must cluster by shard, thash, doc_id: ${append.head}")
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  // Round-2 guards: no global-window top-k anywhere. A Window.orderBy
  // without partitionBy (or a per-qid window over unbounded candidates)
  // plans an `Exchange SinglePartition` — the one operator shape that
  // flatly dies at 100x corpus. None of the ranking paths may produce it.

  test("similarity top-k plans as TakeOrderedAndProject, no single-partition exchange") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = graft.ops.Similarity
      .topKPlanned(graft.ops.Similarity.cosineScored(emb, 0L), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps + driver merge:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no single-partition exchange in similarity ranking:\n$plan")
  }

  test("BM25 ranking is a bounded top-k aggregation — no window, no single-partition exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Seq(false, true).foreach { conj =>
      val plan = BM25.topK(spark, docs, col("doc_id"), col("text"),
        SparkEntry.FtQuerySet, conjunctive = conj)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"),
        s"no single-partition exchange in BM25 ranking (conj=$conj):\n$plan")
      assert(!plan.contains("Window"),
        s"per-qid ranking must not be a window sort (conj=$conj):\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"bounded top-k aggregation expected in plan (conj=$conj):\n$plan")
    }
  }

  test("phrase path: no window rank, no single-partition exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = BM25.phraseTopK(spark, docs, col("doc_id"), col("text"),
      SparkEntry.PhraseQuerySet).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), s"phrase ranking:\n$plan")
    assert(!plan.contains("Window"), s"phrase ranking must not window-sort:\n$plan")
  }

  test("indexed phrase serving: pruned postings scan, zero corpus tokenize") {
    import graft.analyze.CodeTokenizer
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("plan_idx_").toString
    try {
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"),
        dir, SparkEntry.IndexCfg)
      val analyzed = SparkEntry.PhraseQuerySet
        .map { case (q, t) => (q, CodeTokenizer.tokenize(t).toSeq) }
        .filter(_._2.nonEmpty)
      val pruned = BM25.prunedPositionalPostings(spark, dir,
        analyzed.flatMap(_._2).distinct)
      val scanPlan = pruned.queryExecution.executedPlan.toString
      // layout v3: row-group pruning rides the fixed-width thash key
      // (files are hash-clustered); the exact term filter still guards
      // collisions post-scan
      assert(scanPlan.contains("In(thash"),
        s"thash IN (...) must reach the parquet reader (PushedFilters):\n$scanPlan")
      assert(scanPlan.contains("term#") && scanPlan.contains("INSET"),
        s"the exact term filter must remain in the plan:\n$scanPlan")
      assert(!scanPlan.toLowerCase.contains("tokenize"),
        s"a served phrase query must never tokenize the corpus:\n$scanPlan")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("served phrase batch: 1 job, no Catalyst query, 0 file bytes; all-absent: at most 1 job, 0 file bytes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("plan_idx2_").toString
    try {
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"),
        dir, SparkEntry.IndexCfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, SparkEntry.IndexCfg)
      val handle = new BM25.PhraseHandle(spark, dir, SparkEntry.IndexCfg)
      val absent = Seq(7 -> "zzznope qqqabsent")
      handle.topK(SparkEntry.PhraseQuerySet)
      handle.topK(absent)
      // the call alone: collecting its local result frame is the caller's
      var hits: org.apache.spark.sql.DataFrame = null
      var noHits: org.apache.spark.sql.DataFrame = null
      val present = observed { hits = handle.topK(SparkEntry.PhraseQuerySet) }
      val none = observed { noHits = handle.topK(absent) }
      handle.close()
      assert(present.jobs == 1, s"a warm served phrase batch ran ${present.jobs} jobs")
      assert(present.stages == 1, s"a warm served phrase batch ran ${present.stages} stages")
      assert(present.shuffleBytes == 0, s"a warm served phrase batch wrote ${present.shuffleBytes} shuffle bytes")
      assert(present.plans.isEmpty,
        s"a warm served phrase batch ran Catalyst queries:\n${present.plans.mkString("\n")}")
      assert(present.fileBytes == 0, s"a warm served phrase batch read ${present.fileBytes} file bytes")
      assert(none.jobs <= 1, s"an all-absent phrase batch ran ${none.jobs} jobs")
      assert(none.fileBytes == 0, s"an all-absent phrase batch read ${none.fileBytes} file bytes")
      assert(noHits.collect().isEmpty)
      // results identical to the one-shot indexed path
      val rows = hits.collect().toSeq
      assert(rows.nonEmpty)
      assert(rows === BM25.phraseTopKIndexed(spark, dir, SparkEntry.PhraseQuerySet,
        SparkEntry.IndexCfg).collect().toSeq)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("batch similarity ranks via bounded aggregation — no window, no single-partition exchange") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = graft.ops.Similarity.cosineTopKBatch(emb, SparkEntry.SimQueryIds, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), s"batch sim ranking:\n$plan")
    assert(!plan.contains("Window"), s"batch sim must not window-sort:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"bounded top-k expected:\n$plan")
  }

  test("embed near-dup plans: exact = broadcast pair SCAN (one scan, no join, no shuffle); LSH-blocked = bucket-key shuffle join, no cartesian") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = graft.ops.Dedup.embedNearDups(emb, 0.4)
      .queryExecution.executedPlan.toString
    // r06: the exact anchor no longer materializes n^2/2 pair rows
    // through a BroadcastNestedLoopJoin — one MapPartitions pass loops
    // each stream row against the broadcast vector table and emits only
    // qualifying pairs. The pin asserts the stronger shape: a pair scan
    // with NO join operator and NO exchange anywhere in the plan.
    assert(exact.contains("MapPartitions"),
      s"exact pairs must be a broadcast pair scan (verification-scale anchor):\n$exact")
    assert(!exact.contains("Join") && !exact.contains("Exchange") &&
      !exact.contains("CartesianProduct"),
      s"the exact pair scan must not shuffle or join:\n$exact")
    val blocked = graft.ops.Dedup.embedNearDupsLsh(emb, 0.4)
      .queryExecution.executedPlan.toString
    assert(!blocked.contains("CartesianProduct") &&
      !blocked.contains("BroadcastNestedLoopJoin"),
      s"LSH-blocked pairs must join on the bucket key, never the pair space:\n$blocked")
    assert(!blocked.contains("Exchange SinglePartition"), s"blocked pairs:\n$blocked")
  }

  test("phrase candidates: ONE positional corpus pass for ALL phrases, any length mix") {
    import graft.analyze.CodeTokenizer
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val analyzed = SparkEntry.PhraseQuerySet
      .map { case (q, t) => (q, CodeTokenizer.tokenize(t).toSeq) }
      .filter(_._2.nonEmpty)
    assert(analyzed.map(_._2.length).distinct.size > 1, "fixture must mix phrase lengths")
    val plan = BM25.phraseTopK(spark, docs, col("doc_id"), col("text"), SparkEntry.PhraseQuerySet)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllMatchIn(plan).size
    assert(scans == 1,
      s"the positional evaluator must read the corpus in ONE pass (was one per distinct length, " +
        s"and one source recheck before that), got $scans:\n$plan")
    // the tree prints parents first: below the partial ranking aggregate
    // (the last one printed) the evaluator pass must not shuffle
    val belowRank = plan.substring(plan.lastIndexOf("ObjectHashAggregate"))
    assert(belowRank.contains("FileScan parquet") && !belowRank.contains("Exchange"),
      s"no shuffle between the corpus scan and the ranking aggregate:\n$plan")
  }
}
