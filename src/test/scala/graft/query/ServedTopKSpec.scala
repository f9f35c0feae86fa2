package graft.query

import java.nio.file.Files
import scala.reflect.io.Directory

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.index.SegmentRow

/** The served ranking tail ([[ServedTopK]]): per-task heaps plus the
  * driver merge must return exactly what Spark's own ordering returns —
  * the lazy per-qid aggregation for hits, `orderBy(...).limit(cap)` for
  * term expansions, including on terms where UTF-16 and UTF-8 order
  * disagree. */
class ServedTopKSpec extends SparkSuite {

  /** A serving handle over a bare term dictionary: `segments` holds
    * segment rows with no blocks, each df > 1 split over two salted
    * runs, and `stats` the corpus constants. */
  private def withDictHandle(dict: Seq[(String, Long)])(f: Wand.Handle => Unit): Unit = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dict_").toString
    try {
      dict.flatMap { case (t, df) =>
        if (df > 1) Seq((t, 0, 1L), (t, 1, df - 1)) else Seq((t, 0, df)) }
        .map { case (t, salt, n) => SegmentRow(t, salt, 0, n, 0L, 0L, 0.0, Nil) }
        .toDF().repartition(3).write.parquet(s"$dir/segments")
      Seq((1000L, 10.0)).toDF("n", "avgdl").write.parquet(s"$dir/stats")
      val h = new Wand.Handle(spark, dir)
      try f(h) finally h.close()
    } finally new Directory(new java.io.File(dir)).deleteRecursively()
  }

  private def terms(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq

  private def fuzzyMatches(dict: DataFrame, t: String, d: Int): DataFrame =
    dict.filter(abs(length(col("term")) - length(lit(t))) <= d &&
      levenshtein(col("term"), lit(t)) <= d)
      .orderBy(col("df").desc, col("term"))

  test("rank: per-task heaps + driver merge == the lazy per-qid aggregation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // coarse scores force ties across partitions; one qid gets < k hits
    val scored = (0 until 400).map { i =>
      val q = if (i % 50 == 0) 9 else rnd.nextInt(4)
      (q, rnd.nextInt(1000).toLong, rnd.nextInt(6) / 2.0)
    }.distinct.toDF("qid", "doc_id", "score").repartition(5)
    for (k <- Seq(1, 3, 10)) {
      val heaps = scored.select("qid", "score", "doc_id").as[(Int, Double, Long)]
        .mapPartitions(ServedTopK.bestPerQid(_, k)).collect()
      val served = ServedTopK.merge(spark, heaps, k).collect().toSeq
      val lazyRanked = BM25.rankTopK(scored, k).collect().toSeq
      assert(served === lazyRanked, s"k=$k")
    }
  }

  test("fuzzy batch keys by (term, dist): one term at dist 1 and dist 2 expands independently") {
    import spark.implicits._
    val dict = Seq("park" -> 9L, "spark" -> 5L, "span" -> 4L, "sparkle" -> 3L,
      "sparks" -> 2L, "stark" -> 2L, "spa" -> 1L, "spork" -> 1L, "engine" -> 7L)
    val dictDf = dict.toDF("term", "df")
    withDictHandle(dict) { h =>
      val cap = 3
      val exp = h.expandFuzzyBatch(Seq("spark" -> 1, "spark" -> 2), cap)
      val d1 = exp("spark", 1)
      val d2 = exp("spark", 2)
      assert(d1 === Seq("park", "spark", "sparks"))
      assert(d2 === Seq("park", "spark", "span"))
      for ((d, got) <- Seq(1 -> d1, 2 -> d2)) {
        assert(got === terms(fuzzyMatches(dictDf, "spark", d).limit(cap)), s"dist $d")
        assert(got === h.expandFuzzyBatch(Seq("spark" -> d), cap)("spark", d), s"dist $d alone")
      }
      assertThrows[NoSuchElementException](exp("spark"))
    }
  }

  test("property: expansion cap order is Spark's on non-ASCII terms (U+E000..U+FFFF vs U+10000+)") {
    import spark.implicits._
    // BMP chars at/above U+E000 sort ABOVE surrogate pairs under
    // String.compareTo and BELOW them in UTF-8 byte order
    val symbols = Seq("a", "b", "\uE000", "\uFB01", "\uFFFD", "\uD800\uDC00", "\uD83D\uDE00")
    val cap = 5
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val dict = Seq.fill(150)(
        Seq.fill(1 + rnd.nextInt(4))(symbols(rnd.nextInt(symbols.size))).mkString)
        .distinct.map(t => t -> (1L + rnd.nextInt(3)))
      val dictDf = dict.toDF("term", "df")
      val sparkOrder = terms(dictDf.orderBy("term"))
      assert(sparkOrder != sparkOrder.sorted, "fixture must separate UTF-16 from UTF-8 order")
      assert(dict.map(_._2).distinct.size < dict.size, "fixture must tie on df")
      withDictHandle(dict) { h =>
        val prefixes = Seq("", "a", "b", "\uE000", "\uFFFD", "\uD800\uDC00", "\uD83D\uDE00a")
        val byPrefix = h.expandPrefixBatch(prefixes, cap)
        for (p <- prefixes)
          assert(byPrefix(p) === terms(dictDf.filter(col("term").startsWith(p))
            .orderBy("term").limit(cap)), s"seed $seed prefix <$p>")
        val regexes = Seq(".*", "a.*", "[\uE000-\uFFFD].*", ".\uD83D\uDE00.*", "(b|\uFB01)+")
          .map(r => "^(?:" + r + ")$")
        val byRegex = h.expandRegexBatch(regexes, cap)
        for (rx <- regexes)
          assert(byRegex(rx) === terms(dictDf.filter(col("term").rlike(rx))
            .orderBy("term").limit(cap)), s"seed $seed regexp <$rx>")
        val inputs = dict.take(4).map(_._1).flatMap(t => Seq(t -> 1, t -> 2))
        val fuzzy = h.expandFuzzyBatch(inputs, cap)
        for ((t, d) <- inputs)
          assert(fuzzy(t, d) === terms(fuzzyMatches(dictDf, t, d).limit(cap)),
            s"seed $seed fuzzy <$t> d=$d")
      }
      // the per-task cap and the driver merge across several partitions
      val keyed = dict.flatMap { case (t, df) => Seq((0, t, df), (1, t, df)) }
        .toDS().repartition(5)
      assert(ServedTopK.capPerKey(keyed, ServedTopK.byTerm, cap)(0) === sparkOrder.take(cap))
      assert(ServedTopK.capPerKey(keyed, ServedTopK.byDfThenTerm, cap)(1) ===
        terms(dictDf.orderBy(col("df").desc, col("term")).limit(cap)))
    }
  }
}
