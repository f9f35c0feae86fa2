package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.SegmentBuilder
import graft.metrics.Metrics

/** Benchmark main. Prints ONE JSON line:
  *  - per-query wall times for the headline operator set (sf dir from
  *    SPARK_GRAFT_SF_DIR, cores from SPARK_GRAFT_CPUS),
  *  - end-to-end indexing throughput (docs/sec) on a deterministic
  *    replicated corpus (FIXTURES.md: 200k+ docs for bench; default
  *    200 x 5000 = 1M docs — large enough that fixed job overhead stops
  *    distorting the N-vs-4N comparison), and
  *  - the north-rule scaling evidence: the SAME indexing job at
  *    local[N] and local[4N] (default 2 vs 8 — the range where this
  *    VM's vCPUs are linear; see BASELINE.md) on the SAME input,
  *    measured as INTERLEAVED samples with efficiency =
  *    thr(4N) / (4 * thr(N)) where each leg's throughput is its
  *    best interleaved sample — BASELINE.md's acceptance formula
  *    applied verbatim (see scalingPairs and the estimator note at
  *    the efficiency computation below).
  *    Fixed shuffle partitioning (32) in both runs so only the core
  *    count varies; one warmup build precedes the pairs so JIT state
  *    is comparable; index and shuffle dirs live on tmpfs so the
  *    measurement captures the engine, not the sandbox's virtio disk.
  */
object Bench {

  /** Serving-throughput floors (queries/sec at sf0.1 with the index on
    * tmpfs — the ONLY condition they are calibrated for; see
    * [[floorsArmed]]): a serving regression must fail the bench as
    * loudly as a broken query. Calibration (r04): across host
    * conditions this VM measures WAND at 12-32 qps and phrase at
    * 4.7-6.9; the floors sit at ~60%/~40% of the observed LOW end, so
    * they catch structural collapse (index back on virtio disk, lost
    * fan-out, per-batch rebuild, positions re-tokenize — all of which
    * measure <= 3 qps) without tripping on host-steal weather.
    * Override via GRAFT_QPS_FLOOR / GRAFT_PHRASE_QPS_FLOOR (0
    * disables). */
  val DefaultQpsFloor = 8.0
  val DefaultPhraseQpsFloor = 2.0

  /** Floor on the measured layout-v3 prune factor (bytes the pruned
    * phrase-postings read takes, ingest layout / clustered layout — see
    * lifecycleRun).
    * Rehearsal measured 16.7x; below 3x means structural collapse
    * (pushdown-breaking cast, compaction back to overlapping file
    * spans), not weather — the ratio is a bytes ratio, insensitive to
    * host steal. Armed under the same calibrated condition as the qps
    * floors; override via GRAFT_PRUNE_FACTOR_FLOOR (0 disables). */
  val DefaultPruneFactorFloor = 3.0

  /** Default floors arm ONLY under the calibrated condition — the sf0.1
    * corpus with a tmpfs index dir. On any other corpus or a host
    * without /dev/shm the numbers mean something else entirely, and a
    * spurious exit-1 would train operators to export floor=0 globally. */
  def floorsArmed(sfDir: String): Boolean =
    // normalized basename, not a raw suffix match: a trailing slash in
    // the env var must not silently disarm the floors
    new java.io.File(sfDir).getName == "sf0.1" && TmpFs.available

  def qpsFloorViolation(metric: String, qps: Double, floor: Double): Option[String] =
    if (floor > 0 && qps >= 0 && qps < floor)
      Some(f"$metric $qps%.1f below floor $floor%.1f")
    else None

  /** (headline, median-of-pairs) efficiency from interleaved
    * (secsN, secs4N) samples. Headline = thr(4N) / (4 * thr(N)) with
    * each leg's throughput taken from its best (minimum-time) sample
    * — BASELINE.md's acceptance formula over the same per-leg bests
    * the artifact prints as docs_per_sec_n / docs_per_sec_4n. See the
    * estimator note at the call site in [[main]]. */
  def scalingEfficiency(pairs: Seq[(Double, Double)]): (Double, Double) = {
    val headline = pairs.map(_._1).min / pairs.map(_._2).min / 4.0
    val effs = pairs.map { case (sN, s4N) => sN / s4N / 4.0 }.sorted
    val median =
      if (effs.size % 2 == 1) effs(effs.size / 2)
      else (effs(effs.size / 2 - 1) + effs(effs.size / 2)) / 2.0
    (headline, median)
  }

  private val HeadlineQueries = Seq(
    "q1_agg", "q3_topk", "q_count_lineitem", "q_topk_events", "q_dedup_latest",
    "q_antijoin", "q_validation_counts", "q_warnings_top", "q_sample_head",
    "q_window_running", "q_rollup", "q_distinct", "q_set_ops",
    "q_approx_distinct", "q_sessionize", "q_ts_coercion",
    "es_json_coercion", "csv_coercion",
    "ft_postings", "ft_df", "ft_bm25_topk", "ft_bm25_conj", "ft_phrase",
    "ft_phrase_slop",
    "ft_wand_topk", "ft_bool_topk", "ft_prefix_topk", "ft_fuzzy_topk",
    "ft_mlt_topk", "ft_terms_agg", "ft_highlight", "ft_range_topk",
    "ft_phrase_prefix", "ft_wildcard_topk", "ft_search_after",
    "ft_stats_agg", "ft_multi_match", "ft_histogram_agg",
    "ft_cardinality_agg", "ft_sort_topk", "ft_date_histogram",
    "ft_terms_stats", "ft_percentiles_agg", "ft_sig_terms",
    "ft_dismax_topk", "ft_boosting", "ft_constant_score", "ft_regexp_topk",
    "ft_range_agg", "ft_top_hits", "ft_extended_stats", "ft_explain",
    "ft_query_string", "ft_composite_agg", "ft_filters_agg",
    "ft_rescore", "ft_suggest", "ft_boosted_fields",
    "ft_has_child", "ft_function_score", "ft_pipeline_agg",
    "ing_docmap", "code_docmap", "code_ft_topk",
    "code_wand_topk",
    "dd_exact", "dd_minhash_lsh", "dd_cluster",
    "dd_simhash", "dd_embed_cosine", "sim_cosine_topk", "sim_batch_topk",
    "sim_ann_topk", "sim_ivf_topk",
    "txt_quality", "txt_repetition", "txt_tokens", "txt_fingerprint", "txt_langid",
    "mm_features")

  private def session(master: String, shufflePartitions: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(master)
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // shuffle/spill on tmpfs: measure the engine, not /dev/vda
    if (TmpFs.available)
      b.config("spark.local.dir", s"${TmpFs.base}/graft-spark-local")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Deterministic bench corpus: sf documents replicated with distinct
    * doc_ids (no external data; FIXTURES.md bench scale). The replica
    * range is the STREAMED side (32 partitions) with the small docs
    * table broadcast, so corpus generation itself is parallel — a
    * single-partition source file must never serialize the pipeline. */
  private[graft] def benchDocs(spark: SparkSession, sfDir: String, replicas: Int): DataFrame =
    // >=4 waves per core: the staged ingest runs its phases as BARRIERS
    // (tokenize -> derive), so a coarse 2-wave layout pays the full
    // straggler tail at each barrier on wide executors; finer tasks cut
    // the tail without a shuffle (range is generated, not read).
    spark.range(0, replicas, 1,
        math.max(32, spark.sparkContext.defaultParallelism * 4)).toDF("rep")
      .crossJoin(broadcast(spark.read.parquet(s"$sfDir/documents.parquet")))
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"), col("text"))

  /** One full measured index build (ingest + all shards); returns
    * (docs, seconds). */
  private def indexRun(spark: SparkSession, sfDir: String, replicas: Int): (Long, Double) = {
    val cfg = SparkEntry.IndexCfg.copy(buildPartitions = 32)
    val docs = benchDocs(spark, sfDir, replicas)
    val n = docs.count()
    // tmpfs when available: the bench measures the engine, not /dev/vda
    val dir = Files.createTempDirectory(TmpFs.basePath, "graft_bench_idx_").toString
    val t0 = System.nanoTime()
    SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
    SegmentBuilder.buildAll(spark, dir, cfg, concurrency = 4)
    val secs = (System.nanoTime() - t0) / 1e9
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    (n, secs)
  }

  /** One measured index build in its own session at `master`. */
  private def sampleRun(master: String, sfDir: String, replicas: Int): (Long, Double) = {
    val spark = session(master, 32)
    try indexRun(spark, sfDir, replicas)
    finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** INTERLEAVED A/B scaling measurement — the methodology the repo's
    * own round-3 notes proved necessary: separate best-of-N legs on
    * this time-shared VM swing up to 2x between identical runs, so two
    * non-interleaved legs can print any efficiency at all (r03's
    * canonical 0.675 vs five hand-runs at 0.825-0.893). Alternating
    * N-core and 4N-core samples puts both legs under the SAME host
    * weather; best-of per leg then estimates the uncontended machine.
    * One small warmup build precedes the pairs (JIT + codegen caches
    * are JVM-global, so it warms every later session). Returns
    * (docs, per-pair (sN, s4N) times). */
  private def scalingPairs(scaleN: Int, sfDir: String, replicas: Int,
                           pairs: Int): (Long, Seq[(Double, Double)]) = {
    sampleRun(s"local[${scaleN * 4}]", sfDir, math.max(1, replicas / 8)) // warmup
    var docs = 0L
    val samples = (1 to pairs).map { _ =>
      val (n, sN) = sampleRun(s"local[$scaleN]", sfDir, replicas)
      val (_, s4N) = sampleRun(s"local[${scaleN * 4}]", sfDir, replicas)
      docs = n
      (sN, s4N)
    }
    (docs, samples)
  }

  /** Serve-optimization file-size target for the lifecycle's force-
    * compact pass — smaller than the 64 MB default because targetBytes
    * IS the prune granularity (each range-partitioned output file owns
    * a disjoint thash span; a query reads only the files its terms'
    * hashes land in), and the lifecycle corpus is small enough that
    * 64 MB would collapse each shard to ~one file and measure nothing.
    * At production scale the default's 64 MB files play the same role
    * against thousands of files per shard. */
  val PruneTargetBytes: Long = 4L << 20

  /** Streaming-lifecycle timing: ingest+build a base corpus, append a
    * 5% micro-batch through the layout-aware idempotent path, compact
    * every shard, rebuild exactly the touched shards, then the
    * force-compact serve-optimization pass — the full
    * ingest->append->compact->rebuild->serve-optimize cycle as one
    * artifact-grade number per phase (seconds). Also measures the
    * layout-v3 PRUNE RATIO: postings bytes actually READ by the pruned
    * positional read of the phrase batch's terms
    * ([[graft.query.BM25.prunedPositionalPostings]], which the indexed
    * phrase_prefix and query_string paths use) on the fresh-ingest
    * layout vs after clustering compaction (listener inputMetrics —
    * VERDICT r4 #7's asked-for evidence).
    * Returns (phase timings, (bytes ingest-layout, bytes clustered)). */
  private def lifecycleRun(spark: SparkSession, sfDir: String, replicas: Int)
      : (Seq[(String, Double)], (Long, Long)) = {
    val cfg = SparkEntry.IndexCfg.copy(buildPartitions = 32)
    val dir = Files.createTempDirectory(TmpFs.basePath, "graft_bench_lc_").toString
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // served phrase batches read the executor-resident positional
    // cache, whose block reads Spark also counts as task input, so the
    // factor measures the file read that clustering prunes; opening the
    // frame (schema inference) stays outside the measured block
    val phraseTerms = SparkEntry.PhraseQuerySet
      .flatMap { case (_, t) => graft.analyze.CodeTokenizer.tokenize(t) }.distinct
    def phraseBytes(): Long = {
      val pruned = graft.query.BM25.prunedPositionalPostings(spark, dir, phraseTerms)
      Metrics.inputBytesDuring(spark)(pruned.write.mode("overwrite").format("noop").save())
    }
    try {
      val base = benchDocs(spark, sfDir, replicas)
      // batch ids offset ABOVE the base corpus's id space (base ids are
      // < replicas * 1e7 + 1e7): a fixed offset would collide with base
      // replicas past it, and appendDocs would silently no-op the
      // "append" as a replay, timing nothing
      val batch = benchDocs(spark, sfDir, math.max(1, replicas / 20))
        .withColumn("doc_id", col("doc_id") + lit((replicas.toLong + 1) * 10000000L))
      val tIngest = timed {
        SegmentBuilder.ingest(spark, base, col("doc_id"), col("text"), dir, cfg)
        SegmentBuilder.buildAll(spark, dir, cfg, concurrency = 4)
      }
      val bytesIngestLayout = phraseBytes()
      val tAppend = timed {
        SegmentBuilder.appendDocs(spark, batch, col("doc_id"), col("text"), dir, cfg)
      }
      val tCompact = timed {
        SegmentBuilder.compactShards(spark, dir, 0 until cfg.shards, cfg,
          concurrency = 4); ()
      }
      val tRebuild = timed {
        SegmentBuilder.buildAll(spark, dir, cfg, concurrency = 4)
      }
      val tForce = timed {
        SegmentBuilder.compactShards(spark, dir, 0 until cfg.shards, cfg,
          concurrency = 4, targetBytes = PruneTargetBytes, force = true); ()
      }
      val bytesClustered = phraseBytes()
      (Seq("ingest_build" -> tIngest, "append" -> tAppend,
        "compact" -> tCompact, "rebuild" -> tRebuild, "compact_force" -> tForce),
        (bytesIngestLayout, bytesClustered))
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  /** Best-of-2 per query, with BOTH raw samples kept for the artifact:
    * per-query times without samples made a contended query phase
    * indistinguishable from a regression inside the JSON (r04's suite
    * read +25% with no way to prove weather — VERDICT r4 #2; the
    * scaling section already records every raw sample for exactly this
    * reason). Failures are COLLECTED AND FATAL, never silently dropped
    * from the headline total (a query that starts throwing must fail
    * the bench, not make it look faster). */
  def timeQueries(spark: SparkSession, sfDir: String, names: Seq[String],
                  queries: Map[String, (SparkSession, String) => DataFrame])
      : (Seq[(String, Double, Seq[Double])], Seq[(String, String)]) = {
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val times = names.map { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      // best-of-2: single samples on time-shared vCPUs are noisy
      try {
        val s1 = once(); val s2 = once()
        (name, math.min(s1, s2), Seq(s1, s2))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          failures += name -> e.toString.take(200)
          (name, -1.0, Seq.empty[Double])
      }
    }
    (times, failures.toList)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val replicas = sys.env.getOrElse("GRAFT_BENCH_REPLICAS", "200").toInt

    // 1. headline operator timings at the driver-requested parallelism
    val skipQueries = sys.env.get("GRAFT_BENCH_MODE").contains("scaling")
    val spark = session(s"local[$cpus]", cpus.toInt)
    val metrics = Metrics.attach(spark)
    val queries = SparkEntry.queries
    val (results, failures) = timeQueries(spark, sfDir,
      if (skipQueries) Seq.empty[String] else HeadlineQueries.filter(queries.contains),
      queries)
    spark.stop()

    // 1b. serving throughput: repeated WAND top-10 batches against the
    // prebuilt compressed index, and repeated PHRASE batches against
    // the same index (queries/sec each), both through its one reusable
    // serving handle and that handle's phrase view (the documented
    // measurement condition: stats/metadata cached across batches)
    val (qps, phraseQps, lifecycle, pruneBytes)
        : (Double, Double, Seq[(String, Double)], (Long, Long)) =
      if (skipQueries) (-1.0, -1.0, Nil, (0L, 0L)) else {
        val s2 = session(s"local[$cpus]", cpus.toInt)
        try {
          val idx = SparkEntry.ensureIndex(s2, sfDir)
          val wandHandle = graft.query.Wand.handleFor(s2, idx, SparkEntry.IndexCfg)
          val phraseHandle = graft.query.BM25.phraseHandleFor(s2, idx, SparkEntry.IndexCfg)
          def timeReps(reps: Int, n: Int)(once: => Unit): Double = {
            once // warmup
            val t0 = System.nanoTime()
            (1 to reps).foreach(_ => once)
            reps * n / ((System.nanoTime() - t0) / 1e9)
          }
          val w = timeReps(10, SparkEntry.FtQuerySet.size) {
            wandHandle.topK(SparkEntry.FtQuerySet)
              .write.mode("overwrite").format("noop").save()
          }
          val p = timeReps(10, SparkEntry.PhraseQuerySet.size) {
            phraseHandle.topK(SparkEntry.PhraseQuerySet)
              .write.mode("overwrite").format("noop").save()
          }
          // 1c. streaming lifecycle (ingest->append->compact->rebuild->
          // serve-optimize) + the layout-v3 prune-ratio measurement
          val (lc, prune) = lifecycleRun(s2, sfDir, math.max(1, replicas / 4))
          (w, p, lc, prune)
        } finally s2.stop()
      }

    // 2. scaling evidence: same indexing job at N and 4N cores (the
    // sandbox stand-in for N vs 4N executors — see BASELINE.md),
    // INTERLEAVED (see scalingPairs). The scaling corpus is 3x the
    // headline corpus (default 3M docs): the ratio needs the 4N leg to
    // dwarf fixed driver overhead (job submission, manifest commits),
    // and the corpus must RISE whenever the engine gets faster — the
    // round-4 scanner tokenizer lifted 8-core indexing to ~80k docs/s,
    // at which 2M docs finish in ~25 s and the ratio visibly decays
    // toward the overhead floor (measured 0.797 at 2M vs 0.858 at 3M).
    val scaleN = sys.env.getOrElse("GRAFT_SCALE_N", "2").toInt
    val scaleReplicas = sys.env.getOrElse("GRAFT_SCALE_REPLICAS",
      (replicas * 3).toString).toInt
    val scalePairs = math.max(1, sys.env.getOrElse("GRAFT_SCALE_SAMPLES", "3").toInt)
    val (nDocs, pairTimes) = scalingPairs(scaleN, sfDir, scaleReplicas, scalePairs)
    val s2best = pairTimes.map(_._1).min
    val s8best = pairTimes.map(_._2).min
    val thr2 = nDocs / s2best
    val thr8 = nDocs / s8best
    // Headline efficiency = thr(4N) / (4 * thr(N)) over the SAME
    // per-leg best-of-samples throughputs the artifact prints —
    // BASELINE.md's acceptance formula ("throughput(4N) / (4 x
    // throughput(N))") applied to the reported throughputs, so the
    // scaling block is self-consistent (r04 rehearsal 7 printed leg
    // throughputs implying 0.857 next to a 0.793 median headline —
    // an artifact at war with itself). Estimator rationale: leg TIME
    // noise on a time-shared VM is ONE-SIDED (steal only adds time),
    // so min-over-interleaved-samples estimates each leg's
    // uncontended time, and interleaving keeps both legs' minima
    // drawn from the same weather window; per-PAIR ratios are noisy
    // in BOTH directions (the weather delta WITHIN a 165s+50s pair),
    // which is why the seven round-4 rehearsal medians spread
    // 0.757-0.967 while the leg-ratio read 0.806-0.879 on identical
    // samples. The median pair is still computed and printed —
    // contention that skews the legs asymmetrically stays visible.
    val pairEffs = pairTimes.map { case (sN, s4N) => sN / s4N / 4.0 }
    val (eff, effMedianPair) = scalingEfficiency(pairTimes)

    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // every raw sample in-artifact: weather vs regression must be
    // decidable for ANY query from the JSON alone (scatter across the
    // two samples = contention; both samples elevated = regression)
    val qSamples = results.map { case (k, _, ss) =>
      "\"" + k + "\":" + ss.map(s => math.rint(s * 1000) / 1000).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ > 0).sum
    // full JSON string escape — exception text can carry backslashes
    // (regexes), tabs, quotes; a blacklist would emit invalid JSON
    val failed = failures.map { case (k, e) => JsonUtil.q(s"$k: $e") }
      .mkString("[", ",", "]")
    val pairsJson = pairTimes.zip(pairEffs).map { case ((a, b), e) =>
      s"""{"secs_n":${math.rint(a * 100) / 100},"secs_4n":${math.rint(b * 100) / 100},""" +
        s""""efficiency":${math.rint(e * 1000) / 1000}}"""
    }.mkString("[", ",", "]")
    val lcJson = lifecycle.map { case (k, v) =>
      s""""$k":${math.rint(v * 100) / 100}""" }.mkString("{", ",", "}")
    val pruneFactor = {
      val (b, a) = pruneBytes
      if (a > 0) math.rint(b.toDouble / a * 100) / 100 else -1.0
    }
    val pruneJson = {
      val (b, a) = pruneBytes
      s"""{"bytes_ingest_layout":$b,"bytes_clustered":$a,"factor":$pruneFactor}"""
    }
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        s""""queries_samples":$qSamples,""" +
        s""""failed":$failed,""" +
        s""""indexing":{"docs":$nDocs,"secs":$s8best,"docs_per_sec":${thr8.round}},""" +
        s""""wand_queries_per_sec":${math.rint(qps * 10) / 10},""" +
        s""""phrase_queries_per_sec":${math.rint(phraseQps * 10) / 10},""" +
        s""""phrase_prune":$pruneJson,""" +
        s""""append_compact":$lcJson,""" +
        s""""scaling":{"cores_n":$scaleN,"cores_4n":${scaleN * 4},"docs_per_sec_n":${thr2.round},""" +
        s""""docs_per_sec_4n":${thr8.round},"efficiency":${math.rint(eff * 1000) / 1000},""" +
        s""""efficiency_median_pair":${math.rint(effMedianPair * 1000) / 1000},""" +
        s""""method":"interleaved_best_leg_of_$scalePairs","samples":$pairsJson},""" +
        s""""query_metrics":${metrics.json}}""")
    // fail loud: any broken headline query fails the bench run, and so
    // does a serving-throughput regression below a floor. Default
    // floors arm only under the condition they were calibrated for.
    val armed = !skipQueries && floorsArmed(sfDir)
    val floor = sys.env.get("GRAFT_QPS_FLOOR").map(_.toDouble)
      .getOrElse(if (armed) DefaultQpsFloor else 0.0)
    val phraseFloor = sys.env.get("GRAFT_PHRASE_QPS_FLOOR").map(_.toDouble)
      .getOrElse(if (armed) DefaultPhraseQpsFloor else 0.0)
    if (!armed && !skipQueries)
      System.err.println("[bench] serving floors UNARMED (corpus/host outside calibration)")
    val pruneFloor = sys.env.get("GRAFT_PRUNE_FACTOR_FLOOR").map(_.toDouble)
      .getOrElse(if (armed) DefaultPruneFactorFloor else 0.0)
    val violations =
      qpsFloorViolation("wand_queries_per_sec", qps, floor).toSeq ++
        qpsFloorViolation("phrase_queries_per_sec", phraseQps, phraseFloor).toSeq ++
        qpsFloorViolation("phrase_prune_factor", pruneFactor, pruneFloor).toSeq
    violations.foreach(msg => System.err.println(s"[bench] $msg"))
    if (violations.nonEmpty || failures.nonEmpty) sys.exit(1)
  }
}
