package graft.index

import java.nio.file.{Files, Paths}
import scala.reflect.io.Directory

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.config.EngineConfig

/** Segment build + checkpoint/resume. Uses a low saltTargetPostings so
  * the Zipfian test corpus actually triggers multi-run hot-term salting,
  * and a small blockSize so runs span many blocks. */
class SegmentBuilderSpec extends SparkSuite {

  private val cfg = EngineConfig.default.copy(
    shards = 4, buildPartitions = 4, blockSize = 16, saltTargetPostings = 128)
  private val docsPath = "/root/testdata/sf0.001/documents.parquet"

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_idx_").toString
    d
  }

  private def buildIndex(dir: String): Unit = {
    val docs = spark.read.parquet(docsPath)
    SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
    val built = SegmentBuilder.buildAll(spark, dir, cfg)
    assert(built.map(_.shard).sorted === (0 until cfg.shards))
  }

  private def decodedPostings(dir: String): Seq[(String, Long, Long, Long)] = {
    spark.read.parquet(s"$dir/segments").as[Wide](Wide.enc).collect().toSeq
      .flatMap { row =>
        row.blocks.flatMap { b =>
          Codec.decodeBlock(Codec.Block(b.first_doc, b.n, b.deltas, b.tfs, b.dls, b.max_u))
            .map(p => (row.term, p.docId, p.tf, p.dl))
        }
      }.sortBy(t => (t._1, t._2))
  }

  test("segments decode back to exactly the postings table") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      val direct = Postings.build(
        spark.read.parquet(docsPath), col("doc_id"), col("text"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(2)))
        .toSeq.sortBy(t => (t._1, t._2))
      assert(decodedPostings(dir) === direct)
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("hot terms are salted into multiple runs; runs k-way merge losslessly") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      val seg = spark.read.parquet(s"$dir/segments").as[Wide](Wide.enc).collect()
      val runsPerTerm = seg.groupBy(_.term).view.mapValues(_.map(_.salt).distinct.size)
      assert(runsPerTerm.values.max > 1, "expected at least one salted hot term")
      // merge invariant per hot term: k-way merge of runs == sorted union
      val hot = runsPerTerm.filter(_._2 > 1).keys.head
      val runs = seg.filter(_.term == hot).groupBy(_.salt).values.toSeq.map { rows =>
        rows.sortBy(_.row_seq).iterator.flatMap(_.blocks).flatMap(b =>
          Codec.decodeBlock(Codec.Block(b.first_doc, b.n, b.deltas, b.tfs, b.dls, b.max_u)))
      }
      val merged = Codec.mergeRuns(runs).toList
      assert(merged.map(_.docId) === merged.map(_.docId).sorted)
      assert(merged.map(_.docId).distinct.size === merged.size)
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("salted runs are doc-contiguous and pairwise disjoint (serving locality)") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      val seg = spark.read.parquet(s"$dir/segments").as[Wide](Wide.enc).collect()
      val multiRun = seg.groupBy(_.term).filter(_._2.map(_.salt).distinct.size > 1)
      assert(multiRun.nonEmpty, "expected at least one salted hot term")
      multiRun.foreach { case (term, rows) =>
        val spans = rows.groupBy(_.salt).values.toSeq
          .map(rs => (rs.map(_.first_doc).min, rs.map(_.last_doc).max))
          .sortBy(_._1)
        spans.sliding(2).foreach {
          case Seq((_, hiA), (loB, _)) =>
            assert(hiA < loB,
              s"term '$term': salted runs overlap in doc space ($hiA >= $loB) — " +
                "doc-range serving pruning would ship overlapping runs")
          case _ =>
        }
      }
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("monster term beyond quantile resolution hash-sub-splits; runs stay near target") {
    val dir = freshDir()
    try {
      // df = 20480, target 16 -> 1280 salts needed > 1024 buckets -> hsalts = 2
      val c = cfg.copy(shards = 1, buildPartitions = 8, saltTargetPostings = 16)
      val docs = spark.range(0L, 20480L, 1L, 8).toDF("doc_id")
        .selectExpr("doc_id", "concat('monster pad', doc_id % 7) AS text")
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val runs = spark.read.parquet(s"$dir/segments")
        .filter(col("term") === "monster")
        .groupBy("salt").agg(sum("n_postings").as("n"))
        .collect().map(_.getLong(1))
      assert(runs.length > SegmentBuilder.QuantileBuckets,
        s"expected hash sub-splits beyond the ${SegmentBuilder.QuantileBuckets} buckets, " +
          s"got ${runs.length} runs")
      // no run concentrates: every run stays within a small multiple of
      // the target even though df/target exceeds the bucket resolution
      assert(runs.max <= 8L * c.saltTargetPostings,
        s"fattest run ${runs.max} postings vs target ${c.saltTargetPostings}")
      // ...and no over-fragmentation either (tiny runs would multiply
      // serving cursors and kill qps): run count stays near the demand
      assert(runs.length <= 2 * (20480 / c.saltTargetPostings),
        s"${runs.length} runs — over-fragmented")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("doc-CLUSTERED hot term hash-sub-splits its narrow span (no single fat reducer)") {
    val dir = freshDir()
    try {
      // 'clustered' lives only in docs [0, 1024) of a 32k corpus: its
      // quantile span is ~32 buckets but it needs ~64 salts at target 16
      val c = cfg.copy(shards = 1, buildPartitions = 8, saltTargetPostings = 16)
      val docs = spark.range(0L, 32768L, 1L, 8).toDF("doc_id")
        .selectExpr("doc_id",
          "concat(CASE WHEN doc_id < 1024 THEN 'clustered ' ELSE '' END, " +
            "'filler', doc_id % 13) AS text")
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, c)
      SegmentBuilder.buildAll(spark, dir, c)
      val runs = spark.read.parquet(s"$dir/segments")
        .filter(col("term") === "clustered")
        .groupBy("salt").agg(sum("n_postings").as("n"))
        .collect().map(_.getLong(1))
      assert(runs.length >= 16, s"clustered term must still fan out, got ${runs.length} runs")
      assert(runs.length <= 2 * (1024 / c.saltTargetPostings),
        s"${runs.length} runs — over-fragmented")
      assert(runs.max <= 8L * c.saltTargetPostings,
        s"fattest run ${runs.max} postings — clustering defeated the salt")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("interrupted build resumes without recomputation and yields identical segments") {
    val dirA = freshDir(); val dirB = freshDir()
    try {
      // full build A
      buildIndex(dirA)
      // interrupted build B: stage 0 + only shards 0,1, then "crash"
      val docs = spark.read.parquet(docsPath)
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dirB, cfg)
      for (s <- Seq(0, 1))
        SegmentBuilder.writeManifest(dirB, SegmentBuilder.buildShard(spark, dirB, s, cfg))
      // resume: exactly the unfinished shards run
      val resumed = SegmentBuilder.buildAll(spark, dirB, cfg)
      assert(resumed.map(_.shard).sorted === Seq(2, 3))
      // second resume: nothing runs at all
      assert(SegmentBuilder.buildAll(spark, dirB, cfg) === Seq.empty)
      // identical final segments
      assert(decodedPostings(dirB) === decodedPostings(dirA))
    } finally {
      new Directory(new java.io.File(dirA)).deleteRecursively()
      new Directory(new java.io.File(dirB)).deleteRecursively()
    }
  }

  test("ingest is idempotent: running it twice yields the same docmap and postings") {
    val dir = freshDir()
    try {
      val docs = spark.read.parquet(docsPath)
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      val docmap1 = spark.read.parquet(s"$dir/docmap").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      val post1 = spark.read.parquet(s"$dir/postings").count()
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      val docmap2 = spark.read.parquet(s"$dir/docmap").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(docmap2 === docmap1)
      assert(spark.read.parquet(s"$dir/postings").count() === post1)
      val left = new java.io.File(dir).list().filter(_.endsWith("staging"))
      assert(left.isEmpty, s"ingest left its staging dir behind: ${left.mkString(", ")}")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("incremental append invalidates exactly the touched shards") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      assert(SegmentBuilder.buildAll(spark, dir, cfg) === Seq.empty)
      // streaming-style append for a handful of new docs, through the
      // layout-aware API (docmap + postings in the store's own shape)
      val extra = spark.createDataFrame(Seq(
        (900001L, "completely new needle tokens appended incrementally"))).toDF("doc_id", "text")
      SegmentBuilder.appendDocs(spark, extra, col("doc_id"), col("text"), dir, cfg)
      val touched = spark.read.parquet(s"$dir/postings")
        .filter(col("doc_id") === 900001L)
        .select("shard").distinct().collect().map(_.getInt(0)).toSet
      assert(touched.nonEmpty && touched.size < cfg.shards)
      // replayed batch (foreachBatch is at-least-once) must be a no-op
      val postOnce = spark.read.parquet(s"$dir/postings")
        .filter(col("doc_id") === 900001L).count()
      SegmentBuilder.appendDocs(spark, extra, col("doc_id"), col("text"), dir, cfg)
      assert(spark.read.parquet(s"$dir/postings")
        .filter(col("doc_id") === 900001L).count() === postOnce)
      // appended rows carry the store's positional payload, and docmap
      // gained the identity row
      assert(spark.read.parquet(s"$dir/postings")
        .filter(col("positions").isNull).count() === 0)
      assert(spark.read.parquet(s"$dir/docmap")
        .filter(col("doc_id") === 900001L).count() === 1)
      val rebuilt = SegmentBuilder.buildAll(spark, dir, cfg)
      assert(rebuilt.map(_.shard).toSet === touched,
        "only the shards whose postings changed may rebuild")
      // the new doc is now searchable, incl. by PHRASE over the index
      val hits = graft.query.Wand.topK(spark, dir, Seq(1 -> "incrementally"), cfg).collect()
      assert(hits.length === 1 && hits.head.getLong(2) === 900001L)
      val ph = graft.query.BM25.phraseTopKIndexed(spark, dir,
        Seq(1 -> "tokens appended incrementally"), cfg).collect()
      assert(ph.length === 1 && ph.head.getLong(2) === 900001L)
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("compactShard merges append files, preserves rows exactly, rebuilds only that shard") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      SegmentBuilder.buildAll(spark, dir, cfg)
      (0 until 5).foreach { i =>
        val extra = spark.createDataFrame(Seq(
          (910000L + i, s"compactable needle batch$i tokens"))).toDF("doc_id", "text")
        SegmentBuilder.appendDocs(spark, extra, col("doc_id"), col("text"), dir, cfg)
      }
      SegmentBuilder.buildAll(spark, dir, cfg) // absorb the appends
      val sh = spark.read.parquet(s"$dir/postings")
        .filter(col("doc_id") >= 910000L).select("shard").distinct()
        .collect().map(_.getInt(0)).min
      val part = s"$dir/postings/shard=$sh"
      def files() = new java.io.File(part).listFiles()
        .count(_.getName.endsWith(".parquet"))
      def rows() = spark.read.parquet(part)
        .select(col("term"), col("doc_id"), col("tf"), size(col("positions")).as("np"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sorted.toSeq
      val (fBefore, rBefore) = (files(), rows())
      assert(fBefore > 1, "appends must have left multiple small files")
      // simulate the one non-idempotent crash window: a replayed batch
      // whose postings landed twice — compaction is the designated repair
      val dupSrc = spark.read.parquet(part).filter(col("doc_id") === 910000L)
      dupSrc.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(part)
      assert(SegmentBuilder.compactShard(spark, dir, sh, cfg))
      assert(files() < fBefore + 1, "compaction must reduce the file count")
      assert(rows() === rBefore,
        "compaction must restore the exact unique row set (replay rows dropped)")
      assert(!SegmentBuilder.compactShard(spark, dir, sh, cfg),
        "an already-compact partition must be skipped (no lineage churn)")
      // file listing changed -> exactly this shard rebuilds, and the
      // appended docs stay searchable afterwards
      val rebuilt = SegmentBuilder.buildAll(spark, dir, cfg)
      assert(rebuilt.map(_.shard) === Seq(sh))
      val hits = graft.query.Wand.topK(spark, dir, Seq(1 -> "compactable"), cfg).collect()
      assert(hits.length === 5)
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("append replay filter is join-shaped: no driver-side id set in the plan") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      val batch = spark.createDataFrame(
        (0 until 100).map(i => (920000L + i, s"joinshaped batch doc $i")))
        .toDF("doc_id", "text")
      val plan = SegmentBuilder.freshBatch(spark, batch, col("doc_id"), dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"),
        s"replay filter must be an anti-join, got:\n$plan")
      assert(!plan.contains("INSET") && !plan.contains("isInCollection"),
        s"no driver-materialized id set may appear in the append plan:\n$plan")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("compactShard repairs replay duplicates even when the file count is already compact") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      val extra = spark.createDataFrame(Seq(
        (930000L, "dupwindow needle tokens"))).toDF("doc_id", "text")
      SegmentBuilder.appendDocs(spark, extra, col("doc_id"), col("text"), dir, cfg)
      val sh = spark.read.parquet(s"$dir/postings")
        .filter(col("doc_id") === 930000L).select("shard").head().getInt(0)
      val part = s"$dir/postings/shard=$sh"
      // merge to one file first, then land a replayed batch's postings
      // (the appendDocs crash window: postings written, docmap not)
      assert(SegmentBuilder.compactShard(spark, dir, sh, cfg))
      spark.read.parquet(part).filter(col("doc_id") === 930000L)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(part)
      def bytes() = new java.io.File(part).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      def nf() = new java.io.File(part).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(nf() === 2)
      // target sized so 2 files is at/below the byte-derived file count
      // — the r3 design would have skipped (and silently kept the dups)
      val target = bytes() / 2
      assert(SegmentBuilder.compactShard(spark, dir, sh, cfg, targetBytes = target),
        "dup repair must rewrite despite an already-compact file count")
      val r = spark.read.parquet(part)
        .agg(count(lit(1)), countDistinct(col("term"), col("doc_id"))).head()
      assert(r.getLong(0) === r.getLong(1), "duplicates must be gone")
      assert(nf() <= 2, "repair must not explode the file count")
      // clean multi-file partition: the dup check runs and skips
      assert(!SegmentBuilder.compactShard(spark, dir, sh, cfg, targetBytes = 1L),
        "a clean partition at/below the target file count must be skipped")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("concurrent compactShards preserves every shard's rows and reports rewrites") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      (0 until 3).foreach { i =>
        val extra = spark.createDataFrame(Seq(
          (940000L + i, s"ccompact needle batch$i tokens"))).toDF("doc_id", "text")
        SegmentBuilder.appendDocs(spark, extra, col("doc_id"), col("text"), dir, cfg)
      }
      def rows() = spark.read.parquet(s"$dir/postings")
        .select("term", "doc_id", "tf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val before = rows()
      val rewritten = SegmentBuilder.compactShards(spark, dir, 0 until cfg.shards,
        cfg, concurrency = 4)
      assert(rewritten.nonEmpty, "append-fragmented shards must rewrite")
      assert(rows() === before, "concurrent compaction must preserve the row set")
      assert(SegmentBuilder.compactShards(spark, dir, 0 until cfg.shards,
        cfg, concurrency = 4).isEmpty, "second pass is a no-op")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("force-compact serve-optimizes: clean partitions rewrite into hash-clustered files") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      val sh = 0
      val part = s"$dir/postings/shard=$sh"
      def rows() = spark.read.parquet(part)
        .select("term", "doc_id", "tf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val before = rows()
      // merge to target file count first; a second plain pass skips
      assert(SegmentBuilder.compactShard(spark, dir, sh, cfg))
      assert(!SegmentBuilder.compactShard(spark, dir, sh, cfg))
      // force rewrites anyway — the serve-optimization pass
      assert(SegmentBuilder.compactShard(spark, dir, sh, cfg, force = true),
        "force must rewrite a clean, already-compact partition")
      assert(rows() === before, "force compaction must preserve the row set")
      // clustering evidence: within each rewritten file, thash ascends,
      // so parquet row-group/page stats carry tight ranges the serving
      // filter can prune on
      val files = new java.io.File(part).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      files.foreach { f =>
        val hashes = spark.read.parquet(f.toString).select("thash")
          .collect().map(_.getLong(0))
        assert(hashes.sameElements(hashes.sorted),
          s"${f.getName}: thash must be non-decreasing within a compacted file")
      }
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("phrase serving is identical before and after force-compaction (clustering is layout-only)") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      // phrases drawn from the corpus vocabulary so the pruned read
      // actually traverses clustered row groups with hits in them
      val phrases = Seq(1 -> "table scan", 2 -> "batch batch", 3 -> "sort merge")
      def served(): Seq[(Long, Long, Long, Double)] =
        graft.query.BM25.phraseTopKIndexed(spark, dir, phrases, cfg)
          .selectExpr("cast(qid as long)", "cast(rank as long)", "doc_id", "score")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val before = served()
      assert(before.nonEmpty, "vacuous parity: no phrase hits — pick corpus phrases")
      SegmentBuilder.compactShards(spark, dir, 0 until cfg.shards, cfg, force = true)
      assert(served() === before,
        "force-compaction (hash clustering) must not change phrase results: " +
          "bit-equal scores, identical ranks, through the pruned read path")
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("lineage change (different config) invalidates checkpoints") {
    val dir = freshDir()
    try {
      buildIndex(dir)
      val cfg2 = cfg.copy(blockSize = 32)
      val rebuilt = SegmentBuilder.buildAll(spark, dir, cfg2)
      assert(rebuilt.map(_.shard).sorted === (0 until cfg.shards))
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("manifest metrics account for every posting") {
    val dir = freshDir()
    try {
      val docs = spark.read.parquet(docsPath)
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      val ms = SegmentBuilder.buildAll(spark, dir, cfg)
      val totalPostings = ms.map(_.postings).sum
      val expected = Postings.build(docs, col("doc_id"), col("text")).count()
      assert(totalPostings === expected)
      assert(ms.forall(_.bytes > 0))
      // bound sanity: compressed payload well under 8 bytes/posting
      assert(ms.map(_.bytes).sum < totalPostings * 8)
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }
}

/** Segment row shape for decoding in tests (top-level: Spark encoders
  * cannot handle inner classes). */
case class Wide(term: String, salt: Int, row_seq: Int, n_postings: Long,
                first_doc: Long, last_doc: Long, max_u: Double, blocks: Seq[BlockRow])
object Wide {
  val enc: org.apache.spark.sql.Encoder[Wide] =
    org.apache.spark.sql.Encoders.product[Wide]
}
