package graft.index

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.reflect.io.Directory

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.config.EngineConfig
import graft.query.{BM25, QueryDsl, Wand}

/** The ingest marker's one parser ([[IngestMarker]]) and every refusal
  * it backs: each names its reason, and a serving refusal comes before
  * any Spark job. */
class IngestMarkerSpec extends SparkSuite {

  private val cfg = EngineConfig.default.copy(shards = 2, buildPartitions = 2, blockSize = 8)

  private def withIndex(c: EngineConfig, build: Boolean)(f: String => Unit): Unit = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_marker_").toString
    try {
      val docs = (0L until 60L).map(i => (i, s"alpha beta w${i % 5} gamma"))
      SegmentBuilder.ingest(spark, docs.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      if (build) SegmentBuilder.buildAll(spark, dir, c)
      f(dir)
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  /** The failure `f` raises and the Spark jobs it started. */
  private def refused(f: => Any): (Throwable, Int) = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val e = intercept[IllegalArgumentException](f)
      TestBus.drain(spark.sparkContext)
      (e, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the header round-trips through the one parser; another layout is not a completed ingest") {
    withIndex(cfg, build = false) { dir =>
      assert(IngestMarker.read(dir) === Some(IngestMarker(SegmentBuilder.LayoutVersion, true, 2)))
      assert(SegmentBuilder.ingestDone(dir, cfg) && SegmentBuilder.indexShards(dir) === 2)
      assert(IngestMarker.read(s"$dir/nope") === None)
    }
  }

  test("a v3 index fails loud with re-ingest, before any Spark job") {
    withIndex(cfg, build = true) { dir =>
      val marker = Paths.get(dir, "_ingested")
      val lines = Files.readString(marker).linesIterator.toSeq
      Files.writeString(marker, (IngestMarker(3, positions = true, 2).header +: lines.tail).mkString("\n"))
      assert(!SegmentBuilder.ingestDone(dir, cfg))
      val (e, jobs) = refused(Wand.handleFor(spark, dir, cfg))
      assert(e.getMessage.contains("re-ingest") && e.getMessage.contains("v3"), e.getMessage)
      assert(jobs === 0)
      assert(refused(SegmentBuilder.indexShards(dir))._1.getMessage.contains("re-ingest"))
    }
  }

  test("a phrase request on a freqs-only index fails loud with positions, before any Spark job; terms serve") {
    import spark.implicits._
    val c = cfg.copy(storePositions = false)
    withIndex(c, build = true) { dir =>
      val (e, jobs) = refused(BM25.phraseTopKIndexed(spark, dir, Seq(1 -> "alpha beta"), c))
      assert(e.getMessage.contains("positions"), e.getMessage)
      assert(jobs === 0)
      assert(refused(QueryDsl.phrasePrefixTopK(spark, dir, Seq(1 -> "alpha gam"), cfg = c))._1
        .getMessage.contains("positions"))
      // a freqs-only entry still carries every tf: term requests serve
      val docs = (0L until 60L).map(i => (i, s"alpha beta w${i % 5} gamma")).toDF("doc_id", "text")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
      val qs = Seq(1 -> "alpha w3", 2 -> "gamma")
      assert(rows(Wand.topK(spark, dir, qs, c)) === rows(BM25.topK(spark, docs, col("doc_id"), col("text"), qs, c)))
    }
  }

  test("an ingested index without segments fails loud with run build, before any Spark job") {
    withIndex(cfg, build = false) { dir =>
      val (e, jobs) = refused(Wand.handleFor(spark, dir, cfg))
      assert(e.getMessage.contains("run build"), e.getMessage)
      assert(jobs === 0)
    }
  }

  test("a replayed append's duplicate postings fail buildAll naming the pair, until compactShards removes them") {
    withIndex(cfg, build = true) { dir =>
      val sh = BM25.termShard("alpha", cfg.shards)
      val part = s"$dir/postings/shard=$sh"
      spark.read.parquet(part).filter(col("doc_id") === 7L && col("term") === "alpha")
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(part)
      val e = intercept[Exception](SegmentBuilder.buildAll(spark, dir, cfg))
      assert(e.getMessage.contains("(term <alpha>, doc 7)") && e.getMessage.contains("compactShards removes them"),
        e.getMessage)
      assert(!e.getMessage.contains("not docId-sorted"), e.getMessage)
      assert(SegmentBuilder.compactShards(spark, dir, Seq(sh), cfg) === Seq(sh))
      SegmentBuilder.buildAll(spark, dir, cfg)
      assert(Wand.topK(spark, dir, Seq(1 -> "alpha"), cfg).collect().length === cfg.topK)
    }
  }
}
