package graft.query

import java.nio.file.Files
import scala.reflect.io.Directory

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.config.EngineConfig
import graft.index.{RangeSaltExpr, SegmentBuilder}

/** Differential check of served phrase requests ([[BM25.PhraseHandle]]
  * over its positional cache): bit-equal (rank, doc_id, score) to the
  * corpus path [[BM25.phraseTopK]] on one small index built to hit the
  * edges — repeated-term phrases, slop 0/1/2, absent terms, a term in
  * every doc, a k-th score tie, doc ranges > 1 splitting candidates,
  * an empty shard, and appended postings files no compaction merged. */
class PhraseServingSpec extends SparkSuite {

  /** Tiny serve target: the df = N term fans a batch out over many doc
    * ranges. */
  private val cfg = EngineConfig.default.copy(shards = 4, buildPartitions = 4, topK = 5,
    serveTargetPostings = 16)

  /** Words that hash to shards 0-2 only, so `postings/shard=3` is never
    * written: the cache holds an empty partition for it. */
  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
    "theta", "iota", "kappa", "lambda", "omicron", "sigma", "upsilon", "omega")
    .filter(BM25.termShard(_, cfg.shards) != 3)
  private val Seq(every, a, b, c, d) = vocab.take(5)

  /** Seeded random texts over a few words (repeats and near-misses are
    * common), each holding `every`; docs 150-161 share one text (a tie
    * group larger than k); docs 162-175 hold `c a b d` and its reverse
    * at 14 doc lengths, so four-term phrases hit with their terms in two
    * orders, at most one of them term order;
    * `extra` docs land through appendDocs. */
  private val (base, extra): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val rnd = new scala.util.Random(5)
    val words = vocab.take(8)
    def text(i: Long): String =
      if (i >= 150 && i < 162) s"$a $b $every"
      else if (i >= 162 && i < 176) s"$c $a $b $d $b $a $c" + s" ${vocab(5)}" * (i - 162).toInt + s" $every"
      else ((0 until 3 + rnd.nextInt(8)).map(_ => words(rnd.nextInt(words.size))) :+ every)
        .mkString(" ")
    val docs = (0L until 220L).map(i => i -> text(i))
    (docs.take(180), docs.drop(180))
  }

  private lazy val indexDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_phrase_serve_").toString
    sys.addShutdownHook(new Directory(new java.io.File(dir)).deleteRecursively())
    SegmentBuilder.ingest(spark, base.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, cfg)
    SegmentBuilder.appendDocs(spark, extra.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, cfg)
    SegmentBuilder.restat(spark, dir, cfg)
    dir
  }

  private def rows(df: DataFrame): Seq[(Int, Long, Long, Long)] = df.collect().toSeq.map(r =>
    (r.getInt(0), r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))

  private val phrases = Seq(
    1 -> s"$a $b", 2 -> s"$a $a", 3 -> s"$a $b $a", 4 -> s"$c $d $c $d",
    5 -> s"$every", 6 -> s"$b $every", 7 -> s"$a zzznope", 8 -> "qqqabsent",
    9 -> s"$d $c $b $a", 10 -> s"$c $a $b $d", 11 -> s"$d $b $a $c")

  test("served phrases == BM25.phraseTopK, bit for bit, at slop 0, 1 and 2") {
    import spark.implicits._
    val corpus = (base ++ extra).toDF("doc_id", "text")
    val dir = indexDir
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/postings/shard=3")), "shard 3 must be empty")
    // the k-th hit of the tie group's phrase ties with the (k+1)-th
    val tied = graft.oracle.NaiveBM25.phraseTopK(base ++ extra, s"$a $b", cfg.topK + 1)
    assert(tied(cfg.topK - 1).score == tied(cfg.topK).score, "fixture must tie at the k-th score")
    val h = BM25.phraseHandleFor(spark, dir, cfg)
    assert(h.serveRanges > 1, "the batch must fan out over doc ranges")
    // the handle's doc ranges: its max df is the every-doc term's, N
    val (_, bounds) = Wand.docRanges(spark, dir, cfg, (base ++ extra).size.toLong)
    for (slop <- 0 to 2) {
      val served = rows(BM25.phraseTopKIndexed(spark, dir, phrases, cfg, slop))
      assert(served === rows(BM25.phraseTopK(spark, corpus, col("doc_id"), col("text"),
        phrases, cfg, slop)), s"slop $slop")
      assert(!served.exists(r => r._1 == 7 || r._1 == 8), "a phrase with an absent term matches nothing")
      assert(served.count(_._1 == 5) === cfg.topK, "the df = N term matches every doc")
      assert(served.groupBy(_._1).values.exists(_.map(r => RangeSaltExpr.bucketOf(bounds, r._3))
        .distinct.size > 1), "a phrase's top k must merge hits from several doc ranges")
    }
  }

  test("doc partitions: a rare term spanning several doc ranges, partly appended without buildAll, == BM25.phraseTopK") {
    import spark.implicits._
    val c = EngineConfig.default.copy(shards = 2, buildPartitions = 2, topK = 5, serveTargetPostings = 32)
    val words = Seq("alpha", "beta", "gamma", "delta")
    // hotp in every doc; rarep in every 60th doc of the ingest and in
    // two appended docs, next to hotp in some of them
    def text(i: Long): String = {
      val rare =
        if (i % 60 == 11 || i == 305 || i == 325) (if (i % 120 == 11) " rarep hotp" else " hotp rarep") else ""
      s"hotp ${words((i % 4).toInt)} ${words((i / 4 % 4).toInt)}$rare"
    }
    val base = (0L until 300L).map(i => i -> text(i))
    val extra = (300L until 340L).map(i => i -> text(i))
    val dir = Files.createTempDirectory("graft_phrase_docparts_").toString
    try {
      SegmentBuilder.ingest(spark, base.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      SegmentBuilder.appendDocs(spark, extra.toDF("doc_id", "text"), col("doc_id"), col("text"), dir, c)
      SegmentBuilder.restat(spark, dir, c)
      val h = BM25.phraseHandleFor(spark, dir, c)
      assert(h.serveRanges > 1, "the batch must fan out over doc partitions")
      val (_, bounds) = Wand.docRanges(spark, dir, c, (base ++ extra).size.toLong)
      val rareDocs = (base ++ extra).collect { case (i, t) if t.contains("rarep") => i }
      assert(rareDocs.map(RangeSaltExpr.bucketOf(bounds, _)).distinct.size >= 3,
        "the rare term's postings must span several doc partitions")
      val phrases = Seq(1 -> "rarep hotp", 2 -> "hotp rarep", 3 -> "rarep", 4 -> "hotp alpha",
        5 -> "rarep zzznope", 6 -> "alpha beta hotp")
      val corpus = (base ++ extra).toDF("doc_id", "text")
      for (slop <- 0 to 1) {
        val served = rows(h.topK(phrases, slop))
        assert(served === rows(BM25.phraseTopK(spark, corpus, col("doc_id"), col("text"), phrases, c, slop)),
          s"slop $slop")
        assert(served.exists(r => r._1 == 2 && r._3 >= 300L), "an appended doc matches through the cache")
      }
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  // runs last: it damages the shared index, then repairs it
  test("duplicate (term, doc) postings from a replayed append fail loud until compaction removes them") {
    import spark.implicits._
    val dir = indexDir
    val sh = BM25.termShard(a, cfg.shards)
    val part = s"$dir/postings/shard=$sh"
    // the appendDocs crash window: postings landed twice, docmap once
    spark.read.parquet(part).filter(col("doc_id") === 7L)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(part)
    val e = intercept[Exception](BM25.phraseTopKIndexed(spark, dir, Seq(1 -> s"$a $b"), cfg))
    assert(e.getMessage.contains("duplicate postings rows"), e.getMessage)
    assert(!spark.sparkContext.getPersistentRDDs.values.exists(_.name == BM25.positionalCacheName(dir)),
      "neither the replaced handle nor the one that failed to open may keep a cache")
    assert(SegmentBuilder.compactShard(spark, dir, sh, cfg))
    assert(rows(BM25.phraseTopKIndexed(spark, dir, phrases, cfg)) ===
      rows(BM25.phraseTopK(spark, (base ++ extra).toDF("doc_id", "text"), col("doc_id"), col("text"),
        phrases, cfg)))
  }
}
