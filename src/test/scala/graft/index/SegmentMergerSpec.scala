package graft.index

import java.nio.file.Files
import scala.reflect.io.Directory

import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSuite}
import graft.config.EngineConfig
import graft.query.Wand

class SegmentMergerSpec extends SparkSuite {

  private val cfg = EngineConfig.default.copy(
    shards = 4, buildPartitions = 4, blockSize = 16, saltTargetPostings = 128)
  private val docsPath = "/root/testdata/sf0.001/documents.parquet"

  test("merged index: one run per term, identical postings, rank-identical WAND") {
    val dir = Files.createTempDirectory("graft_merge_src_").toString
    val out = Files.createTempDirectory("graft_merge_out_").toString
    try {
      val docs = spark.read.parquet(docsPath)
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      SegmentBuilder.buildAll(spark, dir, cfg)
      SegmentMerger.mergeAll(spark, dir, out, cfg)

      val before = spark.read.parquet(s"$dir/segments")
      val after = spark.read.parquet(s"$out/segments")
      assert(before.select("term", "salt").distinct().count() >
        after.select("term", "salt").distinct().count(),
        "merge must consolidate at least one salted term")
      assert(after.select("salt").distinct().count() === 1)

      // identical decoded postings
      def decoded(df: org.apache.spark.sql.DataFrame) =
        df.as[SegmentRow](org.apache.spark.sql.Encoders.product[SegmentRow])
          .collect().toSeq.flatMap { r =>
            r.blocks.flatMap(b => Codec.decodeBlock(Codec.Block(
              b.first_doc, b.n, b.deltas, b.tfs, b.dls, b.max_u))
              .map(p => (r.term, p.docId, p.tf, p.dl)))
          }.sortBy(t => (t._1, t._2))
      assert(decoded(after) === decoded(before))

      // rank identity across layouts
      val a = Wand.topK(spark, dir, SparkEntry.FtQuerySet, cfg).collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val b = Wand.topK(spark, out, SparkEntry.FtQuerySet, cfg).collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(a === b)
    } finally {
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("size guard: monster terms keep their salted runs") {
    val dir = Files.createTempDirectory("graft_merge_guard_").toString
    val out = Files.createTempDirectory("graft_merge_guard_out_").toString
    try {
      val docs = spark.read.parquet(docsPath)
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      SegmentBuilder.buildAll(spark, dir, cfg)
      SegmentMerger.mergeAll(spark, dir, out, cfg, maxRunPostings = 200)
      val multi = spark.read.parquet(s"$out/segments")
        .groupBy("term").agg(countDistinct("salt").as("runs"))
        .filter(col("runs") > 1).count()
      assert(multi > 0, "terms above the cap must keep multiple runs")
    } finally {
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("merged index, which has no postings table, serves match_phrase bit-identical to BM25.phraseTopK") {
    val dir = Files.createTempDirectory("graft_merge_phrase_").toString
    val out = Files.createTempDirectory("graft_merge_phrase_out_").toString
    try {
      val docs = spark.read.parquet(docsPath)
      SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      SegmentBuilder.buildAll(spark, dir, cfg)
      SegmentMerger.mergeAll(spark, dir, out, cfg)
      assert(!Files.exists(java.nio.file.Paths.get(out, "postings")))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
      for ((phrases, slop) <- Seq(SparkEntry.PhraseQuerySet -> 0,
          SparkEntry.PhraseSlopQuerySet -> SparkEntry.PhraseSlop)) {
        val served = rows(graft.query.BM25.phraseTopKIndexed(spark, out, phrases, cfg, slop))
        assert(served.nonEmpty)
        assert(served === rows(graft.query.BM25.phraseTopK(spark, docs, col("doc_id"), col("text"),
          phrases, cfg, slop)), s"slop $slop")
      }
    } finally {
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }
}
