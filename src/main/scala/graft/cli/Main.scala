package graft.cli

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.CodeTokenizer
import graft.config.{EngineConfig, IndexNaming}
import graft.index.{Postings, SegmentBuilder}
import graft.metrics.Metrics
import graft.query.Wand

/** spark-submit entry point — the engine's operational surface
  * (ingest | append | build | compact | merge | query | analyze |
  * ping), mirroring the reference's four
  * IMigrationService operations (/root/reference/Interfaces/IMigrationService.cs:17-42)
  * including the dry-run analyzer (§3.3) and layered configuration with
  * environment overrides
  * (/root/reference/Services/ConfigurationService.cs:63-134).
  *
  * {{{
  * spark-submit --class graft.cli.Main graft.jar ingest  <docs.parquet> <indexDir>
  * spark-submit --class graft.cli.Main graft.jar build   <indexDir>
  * spark-submit --class graft.cli.Main graft.jar query   <indexDir> "<text>" [k]
  * spark-submit --class graft.cli.Main graft.jar analyze <docs.parquet>
  * }}}
  */
object Main {

  /** Settings-file key -> env key (the file uses the reference's
    * property-name style, appsettings.json's MigrationSettings section;
    * env vars keep the GRAFT_* convention). */
  val FileKeyToEnv: Map[String, String] = Map(
    "k1" -> "GRAFT_K1", "b" -> "GRAFT_B", "topK" -> "GRAFT_TOPK",
    "blockSize" -> "GRAFT_BLOCK_SIZE", "shards" -> "GRAFT_SHARDS",
    "buildPartitions" -> "GRAFT_BUILD_PARTITIONS",
    "saltTargetPostings" -> "GRAFT_SALT_TARGET",
    "serveTargetPostings" -> "GRAFT_SERVE_TARGET")

  /** Load a flat JSON settings file. Mirrors the reference's
    * AddJsonFile(optional: false) semantics
    * (ConfigurationService.cs:140-150): a NAMED but missing file fails
    * loud, and so does an unknown key (the validator battery would
    * silently ignore a typo otherwise). */
  def loadConfigFile(path: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p))
      throw new IllegalArgumentException(s"config file not found: $path")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(p))
    require(node != null && node.isObject, s"config file must be a JSON object: $path")
    val it = node.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next()
      val env = FileKeyToEnv.getOrElse(e.getKey,
        throw new IllegalArgumentException(
          s"unknown config key '${e.getKey}' in $path " +
            s"(known: ${FileKeyToEnv.keys.toSeq.sorted.mkString(", ")})"))
      // nested sections/arrays would asText() to "" and later surface as
      // a bare NumberFormatException with no key context — fail loud HERE
      require(e.getValue.isValueNode && !e.getValue.isNull,
        s"config key '${e.getKey}' in $path must be a scalar, got: ${e.getValue}")
      b += env -> e.getValue.asText()
    }
    b.result()
  }

  /** Layered config, reference order (ConfigurationService.cs:63-134):
    * defaults, then the JSON settings file (GRAFT_CONFIG names it), then
    * GRAFT_* env overrides — env wins, like OverrideFromEnvironment. */
  def configFromEnv(env: Map[String, String] = sys.env): EngineConfig = {
    val fromFile = env.get("GRAFT_CONFIG").map(loadConfigFile).getOrElse(Map.empty)
    val layered = fromFile ++ env.view.filterKeys(_.startsWith("GRAFT_")).toMap
    val d = EngineConfig.default
    def i(k: String, v: Int) = layered.get(k).map(_.toInt).getOrElse(v)
    def l(k: String, v: Long) = layered.get(k).map(_.toLong).getOrElse(v)
    EngineConfig(
      k1 = layered.get("GRAFT_K1").map(_.toDouble).getOrElse(d.k1),
      b = layered.get("GRAFT_B").map(_.toDouble).getOrElse(d.b),
      topK = i("GRAFT_TOPK", d.topK),
      blockSize = i("GRAFT_BLOCK_SIZE", d.blockSize),
      shards = i("GRAFT_SHARDS", d.shards),
      buildPartitions = i("GRAFT_BUILD_PARTITIONS", d.buildPartitions),
      saltTargetPostings = l("GRAFT_SALT_TARGET", d.saltTargetPostings),
      serveTargetPostings = l("GRAFT_SERVE_TARGET", d.serveTargetPostings))
  }

  /** Masks credential values in echoed configuration — the reference's
    * ConsoleLogger.MaskPassword (ConsoleLogger.cs:351-361), widened to
    * the usual secret key names. */
  def maskSecrets(s: String): String =
    s.replaceAll("(?i)(password|passwd|secret|token|api_key)(\\s*=\\s*)([^;,\\s]*)", "$1$2***")

  /** One-line GRAFT_* config echo with secrets masked (never prints a
    * credential in the clear, like the reference's settings dump). */
  def configEcho(env: Map[String, String] = sys.env): String =
    env.keys.filter(_.startsWith("GRAFT_")).toSeq.sorted
      .map(k => maskSecrets(s"$k=${env(k)}")).mkString(" ")

  def session(app: String): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** S7: connection/health probe — the reference's TestConnections
    * (ES ping + PG `SELECT 1`, IMigrationService.cs) re-targeted at the
    * engine's two "stores": the Spark session and an index directory.
    * Reports session liveness, ingest completeness, corpus stats
    * readability, and how many shards hold a checkpoint matching the
    * CURRENT lineage (a stale checkpoint is not healthy). When reading
    * the index fails, `error` carries the exception class and message
    * (null otherwise), so an unhealthy index says why. */
  def pingInfo(spark: SparkSession, indexDir: String,
               cfg: EngineConfig = EngineConfig.default): (Boolean, String) = {
    val sessionOk = !spark.sparkContext.isStopped
    val ingested = graft.index.SegmentBuilder.ingestDone(indexDir, cfg)
    val (n, avgdl, shardsBuilt, docmapN, error) =
      if (!ingested) (0L, 0.0, 0, 0L, None)
      else try {
        val (n0, a0) = graft.index.SegmentBuilder.readStats(spark, indexDir)
        val built = (0 until cfg.shards).count(sh =>
          graft.index.SegmentBuilder.manifestDone(indexDir, sh,
            graft.index.SegmentBuilder.lineage(spark, indexDir, cfg, sh)))
        (n0, a0, built, spark.read.parquet(s"$indexDir/docmap").count(), None)
      } catch {
        case e: Exception => (0L, 0.0, 0, 0L, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    val healthy = sessionOk && ingested && error.isEmpty && n > 0 && shardsBuilt == cfg.shards
    // appended_docs surfaces stats drift from incremental appends
    // (appendDocs deliberately leaves stats unrefreshed — see its doc):
    // an operator watching this number decide when to re-ingest.
    val json =
      s"""{"op":"ping","healthy":$healthy,"session_ok":$sessionOk,""" +
        s""""ingested":$ingested,"docs":$n,"appended_docs":${math.max(0L, docmapN - n)},""" +
        s""""avgdl":${jsonNum(avgdl)},""" +
        s""""shards_built":$shardsBuilt,"shards_expected":${cfg.shards},""" +
        s""""error":${error.fold("null")(graft.JsonUtil.q)}}"""
    (healthy, json)
  }

  /** A JSON number; null for NaN and infinities, which JSON cannot hold. */
  private def jsonNum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Dry-run analyzer (§3.3): sample, report token/skew stats and a
    * go/no-go validity gate (>=50% of sampled docs analyzable —
    * CSVService.cs:223's gate re-targeted at the corpus). */
  def analyze(spark: SparkSession, docsPath: String, sampleN: Int = 1000): DataFrame = {
    val sample = spark.read.parquet(docsPath)
      .orderBy("doc_id").limit(sampleN)
      .select(col("doc_id"), CodeTokenizer.tokensColFast(col("text")).as("tokens"))
      .cache()
    val total = spark.read.parquet(docsPath).count()
    val stats = sample.agg(
      count(lit(1)).as("sampled"),
      count(when(size(col("tokens")) > 0, 1)).as("analyzable"),
      avg(size(col("tokens"))).as("avgdl"),
      sum(size(col("tokens"))).as("sample_postings")).head()
    val hot = sample.select(explode(col("tokens")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc).limit(5).collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(",")
    val sampled = stats.getLong(0)
    val analyzable = stats.getLong(1)
    val validPct = 100.0 * analyzable / math.max(1, sampled)
    val projected = (stats.getLong(3).toDouble / math.max(1, sampled) * total).toLong
    import spark.implicits._
    Seq((total, sampled, analyzable, validPct, stats.getDouble(2), projected,
      hot, validPct >= 50.0))
      .toDF("total_docs", "sampled", "analyzable", "valid_pct", "avgdl",
        "projected_postings", "hot_terms", "go")
  }

  /** `query` argument grammar:
    * `[--phrase|--phrase-prefix|--prefix|--fuzzy|--wildcard] [--slop s]
    * <text> [k]`.
    * Phrase mode serves ES match_phrase (ordered adjacency; slop relaxes
    * to ordered proximity) from the positional index — the capability
    * the reference gets from its ES index's full query DSL
    * (/root/reference/ElasticSearchPostgreSQLMigrationTool.csproj:32)
    * and that layout v3 exists to serve; without this flag the engine's
    * marquee ES-parity feature was benchable but not operable.
    * Phrase-prefix serves ES match_phrase_prefix (autocomplete: exact
    * leading tokens + capped expansion of the last). Prefix / fuzzy /
    * wildcard modes serve the DSL's term-dictionary expansions
    * ([[graft.query.QueryDsl]]) through the same WAND handle. `--qs`
    * serves the flat Lucene query_string grammar (+must / -must_not /
    * bare should / "phrase" / prefix*) from the index — the Kibana
    * search-bar surface, compiled onto the pruned positional read. */
  final case class QueryArgs(text: String, k: Option[Int], phrase: Boolean, slop: Int,
                             prefix: Boolean = false, fuzzy: Boolean = false,
                             wildcard: Boolean = false, phrasePrefix: Boolean = false,
                             qs: Boolean = false)

  def parseQueryArgs(rest: List[String]): QueryArgs = {
    var phrase = false
    var slop = 0
    var prefix = false
    var fuzzy = false
    var wildcard = false
    var phrasePrefix = false
    var qs = false
    val pos = scala.collection.mutable.ListBuffer.empty[String]
    var it = rest
    while (it.nonEmpty) it = it match {
      case "--phrase" :: t => phrase = true; t
      case "--phrase-prefix" :: t => phrasePrefix = true; t
      case "--prefix" :: t => prefix = true; t
      case "--fuzzy" :: t => fuzzy = true; t
      case "--wildcard" :: t => wildcard = true; t
      case "--qs" :: t => qs = true; t
      case "--slop" :: v :: t => slop = v.toInt; t
      case "--slop" :: Nil =>
        throw new IllegalArgumentException("--slop needs a value")
      case x :: t => pos += x; t
      case Nil => Nil
    }
    require(pos.nonEmpty, "query needs <text>")
    // loud on extras, like every other verb: an unquoted multi-word
    // phrase must not silently run as its first word
    require(pos.size <= 2,
      s"query takes <text> [k], got extra args: ${pos.drop(2).mkString(" ")} " +
        "(quote multi-word text)")
    require(slop == 0 || phrase || phrasePrefix, "--slop requires --phrase/--phrase-prefix")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    require(Seq(phrase, prefix, fuzzy, wildcard, phrasePrefix, qs).count(identity) <= 1,
      "--phrase, --phrase-prefix, --prefix, --fuzzy, --wildcard and --qs are mutually exclusive")
    QueryArgs(pos.head, pos.lift(1).map(_.toInt), phrase, slop, prefix, fuzzy,
      wildcard, phrasePrefix, qs)
  }

  /** Serve one CLI query — WAND top-k, phrase/proximity, phrase-prefix,
    * prefix, fuzzy or wildcard — through the process-level serving
    * handles. */
  def runQuery(spark: SparkSession, indexDir: String, a: QueryArgs,
               cfg: EngineConfig): DataFrame = {
    val c = a.k.map(k => cfg.copy(topK = k)).getOrElse(cfg)
    if (a.phrase)
      graft.query.BM25.phraseTopKIndexed(spark, indexDir, Seq(1 -> a.text), c, a.slop)
    else if (a.phrasePrefix)
      graft.query.QueryDsl.phrasePrefixTopK(spark, indexDir, Seq(1 -> a.text),
        cfg = c, slop = a.slop)
    else if (a.prefix)
      graft.query.QueryDsl.prefixTopK(spark, indexDir, Seq(1 -> a.text), cfg = c)
    else if (a.fuzzy)
      graft.query.QueryDsl.fuzzyTopK(spark, indexDir, Seq(1 -> a.text), cfg = c)
    else if (a.wildcard)
      graft.query.QueryDsl.wildcardTopK(spark, indexDir, Seq(1 -> a.text), cfg = c)
    else if (a.qs)
      graft.query.QueryDsl.queryStringTopKIndexed(spark, indexDir, Seq(1 -> a.text), cfg = c)
    else Wand.topK(spark, indexDir, Seq(1 -> a.text), c)
  }

  /** The reference's core verb, operationalized: migrate an ES-JSON
    * export (scroll `_source` dump) through the shared coercion +
    * validation battery into a parquet table of the VALID rows —
    * ES -> PostgreSQL becomes ES-JSON -> parquet. `fields` is the
    * ES-mapping key set: when non-empty the read skips the inference
    * pre-pass entirely (ONE scan of the source — the only shape that
    * holds at 100 TB), exactly like the reference reads fields it knows
    * from the mapping. Batch counters ride the write via `observe`
    * (one pass total, no second stats scan). Returns the counters. */
  def migrate(spark: SparkSession, src: String, out: String,
              fields: Seq[String] = Nil): Map[String, Long] = {
    val validated = graft.accesslog.AccessLog.validate(
      graft.accesslog.AccessLog.readEsJson(spark, src, fields = fields))
    val obs = org.apache.spark.sql.Observation(s"migrate_${System.nanoTime()}")
    // same counter expressions batchStats aggregates — defined ONCE in
    // AccessLog so the two surfaces cannot drift
    val counters = graft.accesslog.AccessLog.batchCounters
    validated
      .observe(obs, counters.head, counters.tail: _*)
      .filter(col("is_valid"))
      .drop("errors", "warnings", "is_valid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    val m = obs.get
    Seq("total", "valid", "invalid", "with_warnings")
      .map(k => k -> m(k).asInstanceOf[Long]).toMap
  }

  def main(args: Array[String]): Unit = {
    val cfg = configFromEnv()
    val echo = configEcho()
    if (echo.nonEmpty) System.err.println(s"config: $echo")
    args.toList match {
      case "ingest" :: docs :: indexDir :: Nil =>
        // ES index-name pre-flight on the index's basename
        // (MigrationSettingsValidator.cs:114-144 semantics)
        val name = new java.io.File(indexDir).getName
        val bad = IndexNaming.violations(name)
        if (bad.nonEmpty) {
          System.err.println(s"invalid index name '$name': ${bad.mkString("; ")}")
          sys.exit(2)
        }
        runVerb("ingest", s"ingest $docs -> $indexDir") { spark =>
          SegmentBuilder.ingest(spark, spark.read.parquet(docs),
            col("doc_id"), col("text"), indexDir, cfg)
          Nil
        }
      case "build" :: indexDir :: Nil =>
        runVerb("build", s"build $indexDir") { spark =>
          val built = SegmentBuilder.buildAll(spark, indexDir, cfg,
            cancel = Cancellation.probe)
          Seq("shardsBuilt" -> built.size, "postings" -> built.map(_.postings).sum,
            "bytes" -> built.map(_.bytes).sum)
        }
      case "append" :: docs :: indexDir :: Nil =>
        runVerb("append", s"append $docs -> $indexDir") { spark =>
          SegmentBuilder.appendDocs(spark, spark.read.parquet(docs),
            col("doc_id"), col("text"), indexDir, cfg)
          Nil
        }
      case "compact" :: indexDir :: rest =>
        // `force` rewrites clean partitions too (serve-optimization of a
        // fresh bulk ingest — hash-clustered files); shard range from
        // the index's OWN marker, never the env config (a mismatched
        // cfg would silently skip shards or abort mid-run)
        val force = rest.contains("force")
        val shards = rest.filterNot(_ == "force") match {
          case Nil => 0 until SegmentBuilder.indexShards(indexDir)
          case xs  => xs.map(_.toInt)
        }
        runVerb("compact", s"compact $indexDir") { spark =>
          val rewritten = SegmentBuilder.compactShards(spark, indexDir, shards,
            cfg, concurrency = 4, force = force, cancel = Cancellation.probe).size
          Seq("shards" -> shards.size, "rewritten" -> rewritten)
        }
      case "restat" :: indexDir :: Nil =>
        // the graduated repair for append-induced stats drift: refresh
        // N/avgdl/qsplits from docmap, then stage the full rebuild the
        // lineage invalidation implies — resumable per shard, so a
        // cancelled/crashed restat rebuild continues where it stopped
        runVerb("restat", s"restat $indexDir") { spark =>
          val (n, avgdl) = SegmentBuilder.restat(spark, indexDir, cfg)
          val rebuilt = SegmentBuilder.buildAll(spark, indexDir, cfg,
            concurrency = 4, cancel = Cancellation.probe)
          Seq("docs" -> n, "avgdl" -> avgdl, "shardsRebuilt" -> rebuilt.size)
        }
      case "merge" :: indexDir :: outDir :: Nil =>
        runVerb("merge", s"merge $indexDir -> $outDir") { spark =>
          graft.index.SegmentMerger.mergeAll(spark, indexDir, outDir, cfg)
          Nil
        }
      case "migrate" :: src :: out :: rest =>
        val fields = rest match {
          case Nil => Nil
          case "--fields" :: fs :: Nil =>
            fs.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          case other =>
            System.err.println(s"migrate: unknown args ${other.mkString(" ")} " +
              "(usage: migrate <src.ndjson> <out.parquet> [--fields a,b,c])")
            sys.exit(2)
        }
        if (fields.isEmpty)
          System.err.println("[migrate] no --fields given: schema inference adds a " +
            "full pre-pass over the source — pass the ES-mapping field list at scale")
        runVerb("migrate", s"migrate $src -> $out") { spark =>
          val c = migrate(spark, src, out, fields)
          Seq("total", "valid", "invalid", "with_warnings").map(k => k -> c(k))
        }
      case "query" :: indexDir :: rest if rest.nonEmpty =>
        val a = parseQueryArgs(rest)
        runVerb("query", s"query $indexDir") { spark =>
          val hits = runQuery(spark, indexDir, a, cfg)
          // shown from the collected rows: a lazy frame would run its
          // query again
          val rows = hits.collect()
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), hits.schema)
            .show(a.k.getOrElse(cfg.topK), false)
          Seq("hits" -> rows.length, "caches" -> cachesField(Wand.openCaches(spark, indexDir)))
        }
      case "analyze" :: docs :: Nil =>
        val spark = session("graft-analyze")
        analyze(spark, docs).show(false)
        spark.stop()
      case "ping" :: indexDir :: Nil =>
        val spark = session("graft-ping")
        val (healthy, json) = pingInfo(spark, indexDir, cfg)
        println(json)
        spark.stop()
        if (!healthy) sys.exit(1)
      case other =>
        System.err.println(
          s"unknown command: ${other.mkString(" ")}\n" +
            "usage: ingest <docs.parquet> <indexDir> | " +
            "append <docs.parquet> <indexDir> | build <indexDir> | " +
            "compact <indexDir> [force] [shard...] | restat <indexDir> | " +
            "merge <indexDir> <outDir> | " +
            "migrate <src.ndjson> <out.parquet> [--fields a,b,c] | " +
            "query <indexDir> [--phrase|--prefix|--fuzzy] [--slop s] <text> [k] | " +
            "analyze <docs.parquet> | ping <indexDir>")
        sys.exit(2)
    }
  }

  /** The one lifecycle of a verb: session, cancellable job group,
    * metrics listener, `body`, the verb's JSON line, stop. `body`
    * returns the verb's own fields. If it dies BECAUSE the user cancelled
    * (cancelJobGroup aborts in-flight stages with a SparkException), the
    * line reports an orderly cancellation (no verb fields) instead of a
    * stack trace — committed work (shard manifests, ingest markers)
    * stays, and re-running the same command resumes it. A failure
    * without a cancel request still propagates loudly. A raised flag
    * exits 130 even when the body happened to finish (SIGINT during a
    * driver-side tail): the README's "Ctrl-C = exit 130" contract holds
    * for every verb. */
  private def runVerb(op: String, desc: String)(body: SparkSession => Seq[(String, Any)]): Unit = {
    val spark = session(s"graft-$op")
    Cancellation.install(spark, desc)
    val m = Metrics.attach(spark)
    val t0 = System.nanoTime()
    val fields =
      try body(spark)
      catch {
        case e: Throwable if Cancellation.isRequested =>
          System.err.println(s"[cancel] $op interrupted: ${e.getClass.getSimpleName}")
          Nil
      }
    println(verbLine(op, fields, Cancellation.isRequested, (System.nanoTime() - t0) / 1e9, m.json))
    spark.stop()
    if (Cancellation.isRequested) sys.exit(130)
  }

  /** A verb's JSON line: `op`, the verb's fields in order, then
    * `cancelled`, `secs` and `metrics` (a JSON object, inlined). Field
    * values are numbers, or objects given as a `ListMap` of fields;
    * doubles that JSON cannot hold (NaN, infinities) print as null. */
  def verbLine(op: String, fields: Seq[(String, Any)], cancelled: Boolean, secs: Double,
               metricsJson: String): String = {
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${graft.JsonUtil.q(k)}:$v" }.mkString("{", ",", "}")
    def value(v: Any): String = v match {
      case d: Double => jsonNum(d)
      case m: ListMap[String @unchecked, Any @unchecked] => obj(m.toSeq.map { case (k, x) => k -> value(x) })
      case x => x.toString
    }
    obj(("op" -> graft.JsonUtil.q(op)) +: fields.map { case (k, v) => k -> value(v) } :+
      ("cancelled" -> cancelled.toString) :+ ("secs" -> jsonNum(secs)) :+ ("metrics" -> metricsJson))
  }

  /** The `query` line's `caches` field: each open serving cache of the
    * index by name, with its resident `bytes` and `fill_s`. */
  def cachesField(caches: Seq[Wand.CacheStat]): ListMap[String, Any] =
    ListMap(caches.map(c => c.name -> ListMap("bytes" -> c.bytes, "fill_s" -> c.fillS)): _*)
}
