package graft.index

import java.nio.file.Files
import scala.reflect.io.Directory

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.config.EngineConfig
import graft.metrics.Metrics

/** Round-5 maintenance verbs and serving-overhead contracts: restat
  * (bounded stats refresh), orderly cancellation, the compaction clean
  * marker, malformed-id append hygiene, per-process metadata
  * memoization, and the layout-v3 prune measurement. */
class MaintenanceSpec extends SparkSuite {

  private val cfg = EngineConfig.default.copy(
    shards = 4, buildPartitions = 4, blockSize = 16, saltTargetPostings = 128)
  private val docsPath = "/root/testdata/sf0.001/documents.parquet"

  private def freshDir(): String = Files.createTempDirectory("graft_maint_").toString
  private def rm(dir: String): Unit = {
    new Directory(new java.io.File(dir)).deleteRecursively(); ()
  }

  private def extraDocs = spark.range(0L, 40L, 1L, 2).toDF("id")
    .selectExpr("900000 + id AS doc_id",
      "concat('restat needle doc ', id % 7, ' spark fast query table value') AS text")

  test("append -> restat -> rebuild serves bit-equal to a fresh ingest of the union corpus") {
    val dirA = freshDir(); val dirB = freshDir()
    try {
      val base = spark.read.parquet(docsPath).select("doc_id", "text")
      // incremental path: ingest base, build, append, restat, rebuild
      SegmentBuilder.ingest(spark, base, col("doc_id"), col("text"), dirA, cfg)
      SegmentBuilder.buildAll(spark, dirA, cfg)
      SegmentBuilder.appendDocs(spark, extraDocs, col("doc_id"), col("text"), dirA, cfg)
      // drift is visible before the repair...
      val (nBefore, _) = SegmentBuilder.readStats(spark, dirA)
      assert(nBefore === 500, "append must leave stats stale by design")
      val (_, jDrift) = graft.cli.Main.pingInfo(spark, dirA, cfg)
      assert(jDrift.contains("\"appended_docs\":40"), jDrift)
      // ...and gone after it
      val (nAfter, _) = SegmentBuilder.restat(spark, dirA, cfg)
      assert(nAfter === 540)
      // stats are in every shard's lineage: restat stages a FULL rebuild
      // (the invalidation is the point), through the resumable loop
      val rebuilt = SegmentBuilder.buildAll(spark, dirA, cfg, concurrency = 2)
      assert(rebuilt.map(_.shard).sorted === (0 until cfg.shards))
      val (_, jHealed) = graft.cli.Main.pingInfo(spark, dirA, cfg)
      assert(jHealed.contains("\"appended_docs\":0"), jHealed)
      // fresh path: one ingest of the union corpus
      SegmentBuilder.ingest(spark, base.unionByName(extraDocs),
        col("doc_id"), col("text"), dirB, cfg)
      SegmentBuilder.buildAll(spark, dirB, cfg)
      assert(SegmentBuilder.readStats(spark, dirA) ===
        SegmentBuilder.readStats(spark, dirB))
      // serving parity: WAND and phrase results bit-equal (docIDs AND
      // double scores) between the two construction paths
      val queries = Seq(1 -> "restat needle", 2 -> "table", 3 -> "spark fast query")
      def wandHits(dir: String) =
        graft.query.Wand.topK(spark, dir, queries, cfg).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(wandHits(dirA).nonEmpty)
      assert(wandHits(dirA) === wandHits(dirB))
      val phrases = Seq(1 -> "spark fast query", 2 -> "needle doc")
      def phraseHits(dir: String) =
        graft.query.BM25.phraseTopKIndexed(spark, dir, phrases, cfg).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(phraseHits(dirA).nonEmpty)
      assert(phraseHits(dirA) === phraseHits(dirB))
    } finally { rm(dirA); rm(dirB) }
  }

  test("restat entered mid-swap (stats in trash, partial tmp) recovers and matches a clean restat") {
    val dir = freshDir()
    try {
      val base = spark.range(0L, 200L, 1L, 2).toDF("id")
        .selectExpr("id AS doc_id", "concat('mid swap doc ', id % 11, ' body', repeat(' w', id % 5)) AS text")
      SegmentBuilder.ingest(spark, base, col("doc_id"), col("text"), dir, cfg)
      SegmentBuilder.appendDocs(spark, extraDocs, col("doc_id"), col("text"), dir, cfg)
      val clean = SegmentBuilder.restat(spark, dir, cfg)
      val cleanSplits = SegmentBuilder.readQsplits(spark, dir).toSeq
      assert(clean._1 === 240L)
      // died inside the stats swap: live moved to trash, tmp still there
      val d = java.nio.file.Paths.get(dir)
      Files.move(d.resolve("stats"), d.resolve("_restat_trash_stats"))
      Files.createDirectories(d.resolve("_restat_tmp").resolve("stats").resolve("_temporary"))
      assert(SegmentBuilder.restat(spark, dir, cfg) === clean)
      assert(SegmentBuilder.readQsplits(spark, dir).toSeq === cleanSplits)
      for (leftover <- Seq("_restat_trash_stats", "_restat_trash_qsplits", "_restat_tmp"))
        assert(!Files.exists(d.resolve(leftover)), leftover)
      // died inside the qsplits swap: the ingest check must not refuse the repair
      Files.move(d.resolve("qsplits"), d.resolve("_restat_trash_qsplits"))
      assert(!SegmentBuilder.ingestDone(dir, cfg))
      assert(SegmentBuilder.restat(spark, dir, cfg) === clean)
      assert(SegmentBuilder.readQsplits(spark, dir).toSeq === cleanSplits)
    } finally rm(dir)
  }

  test("orderly cancellation: buildAll stops launching shards; resume builds exactly the rest") {
    val dir = freshDir()
    try {
      SegmentBuilder.ingest(spark, spark.read.parquet(docsPath),
        col("doc_id"), col("text"), dir, cfg)
      val manifests = new java.io.File(s"$dir/manifest")
      def committed: Int = Option(manifests.listFiles())
        .map(_.count(f => f.getName.startsWith("shard_") && f.getName.endsWith(".json")))
        .getOrElse(0)
      // cancel requested after the first manifest commits — the orderly
      // path: the in-flight unit finishes and commits, no new unit starts
      val built1 = SegmentBuilder.buildAll(spark, dir, cfg,
        cancel = () => committed >= 1)
      assert(built1.size === 1, s"exactly one shard before the cancel, got ${built1.size}")
      assert(committed === 1, "the finished shard's manifest stays committed")
      // resume without cancel: exactly the unfinished shards build
      val resumed = SegmentBuilder.buildAll(spark, dir, cfg)
      assert(resumed.map(_.shard).sorted ===
        (0 until cfg.shards).filterNot(built1.map(_.shard).toSet))
      assert(SegmentBuilder.buildAll(spark, dir, cfg) === Seq.empty)
      // compactShards honors the same probe: a pre-raised flag is a no-op
      assert(SegmentBuilder.compactShards(spark, dir, 0 until cfg.shards, cfg,
        cancel = () => true).isEmpty)
    } finally rm(dir)
  }

  test("clean marker: repeat maintenance over an untouched partition runs zero Spark jobs") {
    val dir = freshDir()
    try {
      SegmentBuilder.ingest(spark, spark.read.parquet(docsPath),
        col("doc_id"), col("text"), dir, cfg)
      val sh = 0
      val part = new java.io.File(s"$dir/postings/shard=$sh")
      def bytes() = part.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
      // force-compact into SEVERAL files (multi-file is the case whose
      // dup check used to scan every pass)
      assert(SegmentBuilder.compactShard(spark, dir, sh, cfg,
        targetBytes = math.max(1L, bytes() / 3), force = true))
      assert(part.listFiles().count(_.getName.endsWith(".parquet")) > 1)
      // second pass: marker matches the listing -> no scan at all
      val read = Metrics.inputBytesDuring(spark) {
        assert(!SegmentBuilder.compactShard(spark, dir, sh, cfg, targetBytes = 1L))
      }
      assert(read === 0L, s"clean-marker skip must run zero Spark jobs, read $read bytes")
      // any new file invalidates the marker: the dup scan runs again
      spark.read.parquet(part.toString).limit(1)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(part.toString)
      val read2 = Metrics.inputBytesDuring(spark) {
        // the duplicated row forces a repair rewrite
        assert(SegmentBuilder.compactShard(spark, dir, sh, cfg, targetBytes = 1L))
      }
      assert(read2 > 0L, "a changed listing must re-run the dup check")
    } finally rm(dir)
  }

  test("append drops malformed (uncastable/null) ids instead of replaying them forever") {
    val dir = freshDir()
    try {
      SegmentBuilder.ingest(spark, spark.read.parquet(docsPath),
        col("doc_id"), col("text"), dir, cfg)
      import spark.implicits._
      val batch = Seq(("950000", "nullsafe needle doc"), ("not-a-number", "ghost doc"))
        .toDF("doc_id", "text")
      SegmentBuilder.appendDocs(spark, batch, col("doc_id"), col("text"), dir, cfg)
      SegmentBuilder.appendDocs(spark, batch, col("doc_id"), col("text"), dir, cfg) // replay
      val docmap = spark.read.parquet(s"$dir/docmap")
      assert(docmap.filter(col("doc_id").isNull).count() === 0,
        "malformed ids must never enter docmap (they would accumulate per replay)")
      assert(docmap.filter(col("doc_id") === 950000L).count() === 1)
      assert(spark.read.parquet(s"$dir/postings")
        .filter(col("doc_id").isNull).count() === 0)
    } finally rm(dir)
  }

  test("stats/qsplits/lineage are memoized per process: warm metadata reads run zero Spark jobs") {
    val dir = freshDir()
    try {
      SegmentBuilder.ingest(spark, spark.read.parquet(docsPath),
        col("doc_id"), col("text"), dir, cfg)
      SegmentBuilder.buildAll(spark, dir, cfg)
      val cold = SegmentBuilder.readStats(spark, dir)
      val read = Metrics.inputBytesDuring(spark) {
        assert(SegmentBuilder.readStats(spark, dir) === cold)
        SegmentBuilder.readQsplits(spark, dir)
        // lineage() reads stats per shard — the buildAll no-op path that
        // used to stack 2 x shards head() jobs per served query
        (0 until cfg.shards).foreach(sh => SegmentBuilder.lineage(spark, dir, cfg, sh))
        assert(SegmentBuilder.buildAll(spark, dir, cfg) === Seq.empty)
      }
      assert(read === 0L, s"warm metadata path must be driver-only, read $read bytes")
      // restat rewrites the tables -> the memo must MISS, not serve stale
      SegmentBuilder.appendDocs(spark, extraDocs, col("doc_id"), col("text"), dir, cfg)
      SegmentBuilder.restat(spark, dir, cfg)
      assert(SegmentBuilder.readStats(spark, dir)._1 === 540,
        "memo must refresh after restat (listing signature changed)")
    } finally rm(dir)
  }

  test("layout v3 measured: range-clustered files own near-disjoint thash spans and phrase reads prune") {
    val dir = freshDir()
    try {
      SegmentBuilder.ingest(spark, spark.read.parquet(docsPath),
        col("doc_id"), col("text"), dir, cfg)
      SegmentBuilder.buildAll(spark, dir, cfg)
      // serve-optimize with a small byte target = fine prune granularity
      val parts = (0 until cfg.shards).map(sh => new java.io.File(s"$dir/postings/shard=$sh"))
        .filter(_.exists())
      val targetBytes = math.max(1L,
        parts.flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
          .map(_.length()).sum / (cfg.shards * 6))
      SegmentBuilder.compactShards(spark, dir, 0 until cfg.shards, cfg,
        targetBytes = targetBytes, force = true)
      // (a) file-level disjointness: the property that makes min/max
      // stats prune at ANY scale — adjacent files may share at most the
      // boundary thash value (range partitioning tiebreaks on doc_id)
      parts.foreach { part =>
        val files = part.listFiles().filter(_.getName.endsWith(".parquet"))
        val spans = files.map { f =>
          val r = spark.read.parquet(f.toString)
            .agg(min(col("thash")), max(col("thash"))).head()
          (r.getLong(0), r.getLong(1))
        }.sortBy(s => (s._1, s._2)) // (min, max): min-ties (a hot thash
        // spanning a file boundary) must order by max too
        spans.sliding(2).foreach {
          case Array((_, hiA), (loB, _)) =>
            assert(loB >= hiA,
              s"$part: file thash spans overlap ($loB < $hiA) — stats cannot prune")
          case _ =>
        }
      }
      // (b) all three prune levels reach the SCAN, plan-pinned: shard
      // partition filter, thash In (what the disjoint file spans above
      // let row-group stats act on), exact term In. A cast or rename
      // that silently broke pushdown would turn serving into a full
      // partition decode at scale — this is the regression guard.
      // (Byte-level savings are measured at the BENCH corpus, not here:
      // at spec scale footer + dictionary reads dominate data pages and
      // drown the signal — see BASELINE.md's prune-factor record.)
      val phrases = Seq(1 -> "table scan", 2 -> "sort merge", 3 -> "spark fast")
      val terms = phrases.flatMap(p => graft.analyze.CodeTokenizer.tokenize(p._2)).distinct
      // formatted mode: the simple plan string truncates PushedFilters
      val plan = graft.query.BM25.prunedPositionalPostings(spark, dir, terms)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("PushedFilters: [In(thash") || plan.contains("In(thash,"),
        s"thash In must be pushed to the parquet scan:\n$plan")
      assert(plan.contains("In(term,"), s"term In must be pushed:\n$plan")
      assert(plan.contains("PartitionFilters: [shard"),
        s"shard partition pruning must appear in the scan:\n$plan")
      // serving still answers correctly over the clustered layout
      def serve(): Unit = {
        assert(graft.query.BM25.phraseTopKIndexed(spark, dir, phrases, cfg)
          .collect().nonEmpty)
      }
      serve()
    } finally rm(dir)
  }
}
