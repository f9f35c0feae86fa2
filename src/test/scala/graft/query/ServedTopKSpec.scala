package graft.query

import java.nio.file.{Files, Paths}
import scala.reflect.io.Directory

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.index.{IndexIo, SegmentBuilder, SegmentRow}

/** The served ranking tail ([[ServedTopK]]): per-task heaps plus the
  * driver merge must return exactly what Spark's own ordering returns —
  * the lazy per-qid aggregation for hits, `orderBy(...).limit(cap)` for
  * term expansions, including on terms where UTF-16 and UTF-8 order
  * disagree. */
class ServedTopKSpec extends SparkSuite {

  /** A serving handle over a bare term dictionary, in the layout a
    * build writes: `segments/shard=S` holds the segment rows (no blocks)
    * of the terms [[BM25.termShard]] puts in shard S, each df > 1 split
    * over two salted runs; the ingest marker carries the shard count,
    * and `stats` the corpus constants. */
  private def withDictHandle(dict: Seq[(String, Long)])(f: Wand.Handle => Unit): Unit = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dict_").toString
    val shards = 3
    try {
      dict.flatMap { case (t, df) =>
        if (df > 1) Seq((t, 0, 1L), (t, 1, df - 1)) else Seq((t, 0, df)) }
        .map { case (t, salt, n) => (SegmentRow(t, salt, 0, n, 0L, 0L, 0.0, Nil), BM25.termShard(t, shards)) }
        .groupMap(_._2)(_._1)
        .foreach { case (s, rows) => rows.toDF().write.parquet(s"$dir/segments/shard=$s") }
      IndexIo.commitFile(Paths.get(dir, "_ingested"),
        s"v${SegmentBuilder.LayoutVersion} pos=true shards=$shards\n")
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
      assert(ServedTopK.termsOf(ServedTopK.capPerKeyWithDf(keyed.rdd, ServedTopK.byTerm, cap))(0) ===
        sparkOrder.take(cap))
      assert(ServedTopK.termsOf(ServedTopK.capPerKeyWithDf(keyed.rdd, ServedTopK.byDfThenTerm, cap))(1) ===
        terms(dictDf.orderBy(col("df").desc, col("term")).limit(cap)))
    }
  }

  test("property: sorted-dictionary walks == brute-force filter in cap order (non-ASCII, empty literal runs, df ties)") {
    // terms over ASCII, BMP above U+E000 and supplementary code points,
    // where UTF-16 and code-point order disagree; dfs from 1 to 3 tie
    val symbols = Seq("a", "b", "\u00E9", "\uE000", "\uFB01", "\uD800\uDC00", "\uD83D\uDE00")
    def levenshtein(x: String, y: String): Int = {
      val (u, v) = (x.codePoints.toArray, y.codePoints.toArray)
      var prev = Array.range(0, v.length + 1)
      for (i <- 1 to u.length) {
        val cur = new Array[Int](v.length + 1)
        cur(0) = i
        for (j <- 1 to v.length)
          cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1, prev(j - 1) + (if (u(i - 1) == v(j - 1)) 0 else 1))
        prev = cur
      }
      prev(v.length)
    }
    for (seed <- 4 to 6; cap <- Seq(2, 6)) {
      val rnd = new scala.util.Random(seed)
      def word(n: Int) = Seq.fill(n)(symbols(rnd.nextInt(symbols.size))).mkString
      val dict = Seq.fill(120)(word(1 + rnd.nextInt(4))).distinct.map(t => t -> (1L + rnd.nextInt(3)))
      val inTermOrder = dict.sortBy(_._1)(ServedTopK.termOrder)
      def firstMatches(p: String => Boolean) = inTermOrder.collect { case (t, _) if p(t) => t }.take(cap)
      withDictHandle(dict) { h =>
        val prefixes = Seq("") ++ symbols ++ Seq.fill(6)(word(2)) :+ "\uD83D"
        val byPrefix = h.expandPrefixBatch(prefixes, cap)
        for (p <- prefixes) assert(byPrefix(p) === firstMatches(_.startsWith(p)), s"seed $seed prefix <$p>")
        // leading * and ? give an empty literal run: a whole-dictionary walk
        val wildcards = Seq("*", "?", "*a", "?b*", "a*", "\uD83D\uDE00*", "a?\uE000*", "\uFB01*?",
          "\u00E9*\uD800\uDC00") ++ Seq.fill(6) {
            val t = word(3)
            val i = rnd.nextInt(t.length)
            t.take(i) + (if (rnd.nextBoolean()) "*" else "?")
          }
        val byWildcard = h.expandWildcardBatch(wildcards, cap)
        for (w <- wildcards) {
          val rx = java.util.regex.Pattern.compile(Wand.wildcardRegex(w))
          assert(byWildcard(w) === firstMatches(rx.matcher(_).find()), s"seed $seed wildcard <$w>")
        }
        assert(byWildcard("\uD83D\uDE00*").nonEmpty, "a supplementary literal run must match")
        val inputs = dict.take(5).map(_._1).flatMap(t => Seq(t -> 1, t -> 2))
        val fuzzy = h.expandFuzzyBatch(inputs, cap)
        for ((t, d) <- inputs)
          assert(fuzzy(t, d) === dict.filter(e => levenshtein(e._1, t) <= d)
            .sorted(ServedTopK.byDfThenTerm).map(_._1).take(cap), s"seed $seed fuzzy <$t> d=$d")
      }
    }
  }
}
