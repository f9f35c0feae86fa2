package graft.cli

import graft.SparkSuite

class MainSpec extends SparkSuite {

  test("env-layered config overrides (reference ConfigurationService semantics)") {
    val cfg = Main.configFromEnv(Map(
      "GRAFT_SHARDS" -> "16", "GRAFT_K1" -> "0.9", "GRAFT_TOPK" -> "25"))
    assert(cfg.shards === 16 && cfg.k1 === 0.9 && cfg.topK === 25)
    assert(cfg.b === 0.75, "unset keys keep defaults")
    assertThrows[IllegalArgumentException](
      Main.configFromEnv(Map("GRAFT_TOPK" -> "0"))) // settings validator battery
  }

  test("config-file layer: defaults < file < env (reference ConfigurationService order)") {
    val f = java.nio.file.Files.createTempFile("graft_cfg_", ".json")
    java.nio.file.Files.writeString(f,
      """{"topK": 42, "shards": 3, "k1": 0.8}""")
    // file values apply over defaults
    val cfg1 = Main.configFromEnv(Map("GRAFT_CONFIG" -> f.toString))
    assert(cfg1.topK === 42 && cfg1.shards === 3 && cfg1.k1 === 0.8)
    assert(cfg1.b === 0.75, "unset keys keep defaults")
    // env overrides the file (OverrideFromEnvironment semantics)
    val cfg2 = Main.configFromEnv(Map(
      "GRAFT_CONFIG" -> f.toString, "GRAFT_TOPK" -> "7"))
    assert(cfg2.topK === 7, "env must win over the file")
    assert(cfg2.shards === 3, "file keys without env overrides survive")
    // a NAMED but missing file fails loud (AddJsonFile optional:false)
    assertThrows[IllegalArgumentException](
      Main.configFromEnv(Map("GRAFT_CONFIG" -> "/no/such/file.json")))
    // unknown keys fail loud (a typo must not silently no-op)
    val bad = java.nio.file.Files.createTempFile("graft_cfg_bad_", ".json")
    java.nio.file.Files.writeString(bad, """{"topk": 5}""")
    assertThrows[IllegalArgumentException](
      Main.configFromEnv(Map("GRAFT_CONFIG" -> bad.toString)))
    // file values run through the same settings validator battery
    val oob = java.nio.file.Files.createTempFile("graft_cfg_oob_", ".json")
    java.nio.file.Files.writeString(oob, """{"topK": 0}""")
    assertThrows[IllegalArgumentException](
      Main.configFromEnv(Map("GRAFT_CONFIG" -> oob.toString)))
    // nested sections fail loud NAMING the key (not a bare NumberFormat)
    val nested = java.nio.file.Files.createTempFile("graft_cfg_nested_", ".json")
    java.nio.file.Files.writeString(nested, """{"topK": {"value": 5}}""")
    val ex = intercept[IllegalArgumentException](
      Main.configFromEnv(Map("GRAFT_CONFIG" -> nested.toString)))
    assert(ex.getMessage.contains("topK") && ex.getMessage.contains("scalar"))
  }

  test("ES index-name validation mirrors the reference's rule list") {
    import graft.config.IndexNaming._
    // accepted (MigrationSettingsValidator.cs:114-144)
    assert(valid("logs-2024"))
    assert(valid("graft_index_ab12")) // non-leading underscore is fine
    assert(valid("a" * 255))
    // rejected, one rule each
    assert(violations("").nonEmpty)
    assert(violations("a" * 256).exists(_.contains("255")))
    assert(violations(".").nonEmpty && violations("..").nonEmpty)
    assert(violations("-lead").nonEmpty && violations("_lead").nonEmpty &&
      violations("+lead").nonEmpty)
    for (c <- Seq('\\', '/', '*', '?', '"', '<', '>', '|', ' ', ',', '#'))
      assert(violations(s"ab${c}cd").nonEmpty, s"char '$c' must be invalid")
    assert(violations("Uppercase").exists(_.contains("lowercase")))
  }

  test("config echo masks credentials (ConsoleLogger.MaskPassword semantics)") {
    assert(Main.maskSecrets("Host=h;Password=hunter2;Db=x") ===
      "Host=h;Password=***;Db=x")
    assert(Main.maskSecrets("PASSWORD = abc") === "PASSWORD = ***")
    val echo = Main.configEcho(Map(
      "GRAFT_TOPK" -> "25", "GRAFT_API_KEY" -> "s3cr3t", "OTHER" -> "x"))
    assert(echo.contains("GRAFT_TOPK=25"))
    assert(echo.contains("GRAFT_API_KEY=***"))
    assert(!echo.contains("s3cr3t") && !echo.contains("OTHER"))
  }

  test("ping health probe: healthy only for a complete, lineage-current index") {
    import org.apache.spark.sql.functions.col
    val cfg = graft.config.EngineConfig.default.copy(
      shards = 2, buildPartitions = 2, saltTargetPostings = 128)
    val dir = java.nio.file.Files.createTempDirectory("graft_ping_").toString
    try {
      // empty dir: unhealthy, session still ok
      val (h0, j0) = Main.pingInfo(spark, dir, cfg)
      assert(!h0 && j0.contains("\"session_ok\":true") && j0.contains("\"ingested\":false"))
      // ingested but not built: still unhealthy
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      val (h1, j1) = Main.pingInfo(spark, dir, cfg)
      assert(!h1 && j1.contains("\"ingested\":true") && j1.contains("\"shards_built\":0"))
      // fully built: healthy
      graft.index.SegmentBuilder.buildAll(spark, dir, cfg)
      val (h2, j2) = Main.pingInfo(spark, dir, cfg)
      assert(h2, j2)
      assert(j2.contains("\"shards_built\":2") && j2.contains("\"docs\":500"))
      // lineage drift (different config) makes it unhealthy again
      val (h3, _) = Main.pingInfo(spark, dir, cfg.copy(blockSize = 32))
      assert(!h3, "stale checkpoints must not report healthy")
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("ping output is valid JSON and says why an index is unhealthy") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cfg = graft.config.EngineConfig.default.copy(shards = 2, buildPartitions = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ping_json_").toString
    // a strict parser: NaN or an unescaped quote fails the parse
    def ping(): com.fasterxml.jackson.databind.JsonNode =
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(Main.pingInfo(spark, dir, cfg)._2)
    try {
      val empty = ping()
      assert(!empty.get("healthy").asBoolean && empty.get("error").isNull, empty.toString)
      val docs = (0L until 30L).map(i => (i, s"ping probe doc w${i % 5}")).toDF("doc_id", "text")
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, cfg)
      val healthy = ping()
      assert(healthy.get("healthy").asBoolean && healthy.get("error").isNull, healthy.toString)
      assert(healthy.get("docs").asLong === 30L && healthy.get("avgdl").isNumber)
      // stats with no docs: avgdl 0/0 = NaN must not leak into the JSON
      Seq((0L, Double.NaN)).toDF("n", "avgdl")
        .write.mode("overwrite").parquet(s"$dir/stats")
      val nan = ping()
      assert(!nan.get("healthy").asBoolean && nan.get("avgdl").isNull, nan.toString)
      // corrupt stats/: the probe reports the failure instead of zeros
      val stats = new java.io.File(s"$dir/stats")
      stats.listFiles().foreach(_.delete())
      java.nio.file.Files.writeString(new java.io.File(stats, "part-00000.parquet").toPath,
        "not \"parquet\"\n")
      val corrupt = ping()
      assert(!corrupt.get("healthy").asBoolean, corrupt.toString)
      assert(corrupt.get("error").isTextual && corrupt.get("error").asText.contains("Exception"),
        corrupt.toString)
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("append/compact lifecycle keeps the probe healthy and the index searchable") {
    import org.apache.spark.sql.functions.col
    val cfg = graft.config.EngineConfig.default.copy(
      shards = 2, buildPartitions = 2, saltTargetPostings = 128)
    val dir = java.nio.file.Files.createTempDirectory("graft_lc_").toString
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, cfg)
      import spark.implicits._
      graft.index.SegmentBuilder.appendDocs(spark,
        Seq((990001L, "lifecycle needle appended")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), dir, cfg)
      (0 until cfg.shards).foreach(sh =>
        graft.index.SegmentBuilder.compactShard(spark, dir, sh, cfg))
      graft.index.SegmentBuilder.buildAll(spark, dir, cfg)
      val (h, j) = Main.pingInfo(spark, dir, cfg)
      assert(h, j)
      // the probe surfaces the append-induced stats drift
      assert(j.contains("\"appended_docs\":1"), j)
      val hits = graft.query.Wand.topK(spark, dir, Seq(1 -> "lifecycle"), cfg).collect()
      assert(hits.length === 1 && hits.head.getLong(2) === 990001L)
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("progress events: completed-average ETA model and per-shard emission (A6)") {
    import graft.metrics.Progress
    // ETA = remaining x avg completed (MigrationService.cs:657-667)
    assert(Progress.etaSecs(2, 4, 10.0) === 10.0)
    assert(Progress.etaSecs(4, 4, 10.0) === 0.0)
    assert(Progress.etaSecs(0, 4, 10.0).isNaN, "no ETA before the first unit")
    assert(Progress.line("build", "shard", 2, 4, 10.0) ===
      "[progress] build shard 2/4 elapsed=10.0s eta=10.0s")
    assert(Progress.line("ingest", "phase", 0, 2, 1.5) ===
      "[progress] ingest phase 0/2 elapsed=1.5s eta=?")
    // a real build emits one [progress] line per ingest phase and per
    // shard manifest commit
    import org.apache.spark.sql.functions.col
    val cfg = graft.config.EngineConfig.default.copy(
      shards = 2, buildPartitions = 2, saltTargetPostings = 128)
    val dir = java.nio.file.Files.createTempDirectory("graft_prog_").toString
    val err = new java.io.ByteArrayOutputStream()
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      Console.withErr(new java.io.PrintStream(err)) {
        val old = System.err
        System.setErr(new java.io.PrintStream(err))
        try {
          graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
          graft.index.SegmentBuilder.buildAll(spark, dir, cfg)
        } finally System.setErr(old)
      }
      val lines = err.toString.linesIterator.filter(_.startsWith("[progress]")).toSeq
      assert(lines.exists(_.startsWith("[progress] ingest phase 1/2")), lines.mkString("\n"))
      assert(lines.exists(_.startsWith("[progress] ingest phase 2/2")), lines.mkString("\n"))
      assert(lines.exists(_.startsWith("[progress] build shard 1/2")), lines.mkString("\n"))
      assert(lines.exists(_.startsWith("[progress] build shard 2/2")), lines.mkString("\n"))
      assert(lines.forall(_.matches(
        """\[progress\] \S+ \S+ \d+/\d+ elapsed=\d+\.\ds eta=(\d+\.\ds|\?)""")),
        lines.mkString("\n"))
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("query CLI grammar: --phrase/--slop parse; bad combinations fail loud") {
    assert(Main.parseQueryArgs(List("hello world")) ===
      Main.QueryArgs("hello world", None))
    assert(Main.parseQueryArgs(List("hello world", "25")) ===
      Main.QueryArgs("hello world", Some(25)))
    assert(Main.parseQueryArgs(List("--phrase", "spark fast", "5")) ===
      Main.QueryArgs("spark fast", Some(5), Main.QueryMode.Phrase))
    assert(Main.parseQueryArgs(List("--phrase", "--slop", "2", "a b")) ===
      Main.QueryArgs("a b", None, Main.QueryMode.Phrase, slop = 2))
    assertThrows[IllegalArgumentException](
      Main.parseQueryArgs(List("--slop", "2", "a b"))) // slop needs phrase
    assertThrows[IllegalArgumentException](
      Main.parseQueryArgs(List("--phrase", "--slop"))) // slop needs a value
    assertThrows[IllegalArgumentException](Main.parseQueryArgs(List("--phrase")))
    // extras fail loud: an unquoted multi-word phrase must not silently
    // run as its first word
    assertThrows[IllegalArgumentException](
      Main.parseQueryArgs(List("spark", "2", "query")))
    assert(Main.parseQueryArgs(List("--prefix", "spa")) ===
      Main.QueryArgs("spa", None, Main.QueryMode.Prefix))
    assert(Main.parseQueryArgs(List("--fuzzy", "spork", "5")) ===
      Main.QueryArgs("spork", Some(5), Main.QueryMode.Fuzzy))
    assertThrows[IllegalArgumentException](
      Main.parseQueryArgs(List("--phrase", "--prefix", "x"))) // modes are exclusive
    assertThrows[IllegalArgumentException](
      Main.parseQueryArgs(List("--prefix", "--fuzzy", "x")))
    assert(Main.parseQueryArgs(List("--wildcard", "cli*se")) ===
      Main.QueryArgs("cli*se", None, Main.QueryMode.Wildcard))
    assert(Main.parseQueryArgs(List("--phrase-prefix", "--slop", "1", "a b")) ===
      Main.QueryArgs("a b", None, Main.QueryMode.PhrasePrefix, slop = 1))
    assertThrows[IllegalArgumentException](
      Main.parseQueryArgs(List("--wildcard", "--prefix", "x")))
    assert(Main.parseQueryArgs(List("--qs", "+a -b")) ===
      Main.QueryArgs("+a -b", None, Main.QueryMode.Qs))
    assertThrows[IllegalArgumentException](
      Main.parseQueryArgs(List("--qs", "--phrase", "x")))
  }

  test("CLI query serves phrase and proximity from the positional index (ES match_phrase operability)") {
    import org.apache.spark.sql.functions.col
    val cfg = graft.config.EngineConfig.default.copy(
      shards = 2, buildPartitions = 2, saltTargetPostings = 128)
    val dir = java.nio.file.Files.createTempDirectory("graft_cliq_").toString
    try {
      import spark.implicits._
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .unionByName(Seq((980001L, "cliphrase alpha beta gamma needle"))
          .toDF("doc_id", "text"))
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, cfg)
      // exact adjacency finds the doc; reversed order does not
      val hit = Main.runQuery(spark, dir,
        Main.QueryArgs("alpha beta", None, Main.QueryMode.Phrase), cfg).collect()
      assert(hit.length === 1 && hit.head.getLong(2) === 980001L)
      assert(Main.runQuery(spark, dir,
        Main.QueryArgs("beta alpha", None, Main.QueryMode.Phrase), cfg).collect()
        .isEmpty, "match_phrase at slop 0 must be order-sensitive")
      // slop relaxes to ordered proximity: alpha .. gamma at distance 2
      assert(Main.runQuery(spark, dir,
        Main.QueryArgs("alpha gamma", None, Main.QueryMode.Phrase, slop = 1), cfg).collect()
        .map(_.getLong(2)).toSeq === Seq(980001L))
      // non-phrase path still serves WAND with a k override
      val wand = Main.runQuery(spark, dir,
        Main.QueryArgs("cliphrase", Some(3)), cfg).collect()
      assert(wand.length === 1 && wand.head.getLong(2) === 980001L)
      // prefix mode expands the term dictionary and serves through WAND
      val pref = Main.runQuery(spark, dir,
        Main.QueryArgs("cliphr", None, Main.QueryMode.Prefix), cfg)
        .collect()
      assert(pref.length === 1 && pref.head.getLong(2) === 980001L)
      // fuzzy mode: one deletion from 'cliphrase' still finds the doc
      val fuzz = Main.runQuery(spark, dir,
        Main.QueryArgs("cliphras", None, Main.QueryMode.Fuzzy), cfg)
        .collect()
      assert(fuzz.length === 1 && fuzz.head.getLong(2) === 980001L)
      // wildcard mode: infix gap over the term dictionary
      val wild = Main.runQuery(spark, dir,
        Main.QueryArgs("cli*rase", None, Main.QueryMode.Wildcard), cfg)
        .collect()
      assert(wild.length === 1 && wild.head.getLong(2) === 980001L)
      // phrase-prefix mode: exact lead + expanded last token, adjacent
      val pp = Main.runQuery(spark, dir,
        Main.QueryArgs("alpha bet", None, Main.QueryMode.PhrasePrefix), cfg).collect()
      assert(pp.length === 1 && pp.head.getLong(2) === 980001L)
      assert(Main.runQuery(spark, dir,
        Main.QueryArgs("beta alp", None, Main.QueryMode.PhrasePrefix), cfg).collect().isEmpty,
        "match_phrase_prefix is order-sensitive")
      // query_string mode: must + must_not + phrase from the index
      val qsHit = Main.runQuery(spark, dir,
        Main.QueryArgs("+cliphrase \"alpha beta\"", None, Main.QueryMode.Qs), cfg).collect()
      assert(qsHit.length === 1 && qsHit.head.getLong(2) === 980001L)
      assert(Main.runQuery(spark, dir,
        Main.QueryArgs("+cliphrase -needle", None, Main.QueryMode.Qs), cfg).collect().isEmpty,
        "query_string must_not excludes through the indexed path")
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("migrate: ES-JSON -> parquet of valid rows; --fields path matches the inference path") {
    val src = graft.accesslog.EsFixture.ensure()
    val out1 = java.nio.file.Files.createTempDirectory("graft_mig1_").toString + "/out"
    val out2 = java.nio.file.Files.createTempDirectory("graft_mig2_").toString + "/out"
    try {
      val c1 = Main.migrate(spark, src, out1)
      assert(c1("total") > 0)
      assert(c1("total") === c1("valid") + c1("invalid"))
      val written = spark.read.parquet(out1)
      assert(written.count() === c1("valid"),
        "the output table must hold exactly the valid rows")
      // the 100 TB path: caller-supplied field set, no inference pre-pass
      val rawFields = {
        spark.conf.set("spark.sql.caseSensitive", "true")
        try spark.read.json(src).schema.fieldNames.toSeq
        finally spark.conf.set("spark.sql.caseSensitive", "false")
      }
      val c2 = Main.migrate(spark, src, out2, rawFields)
      assert(c2 === c1, "fields= must be a pure I/O optimization, not a semantic change")
      // created_at is migration-time current_timestamp (the reference's
      // CreatedAt) — necessarily different between the two runs
      val a = spark.read.parquet(out1).drop("created_at")
      val b = spark.read.parquet(out2).drop("created_at")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "row sets must match between the inference and fields paths")
    } finally {
      new scala.reflect.io.Directory(
        new java.io.File(out1).getParentFile).deleteRecursively()
      new scala.reflect.io.Directory(
        new java.io.File(out2).getParentFile).deleteRecursively()
    }
  }

  test("every maintenance verb's JSON line parses strictly: normal, cancelled, NaN avgdl") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val metrics = new graft.metrics.Metrics().json
    // each verb's own fields, in the order its line carries them
    val verbs = Seq(
      "ingest" -> Nil,
      "build" -> Seq("shardsBuilt" -> 3, "postings" -> 1200L, "bytes" -> 4096L),
      "append" -> Nil,
      "compact" -> Seq("shards" -> 4, "rewritten" -> 2),
      "restat" -> Seq("docs" -> 540L, "avgdl" -> 7.25, "shardsRebuilt" -> 4),
      "merge" -> Nil,
      "migrate" -> Seq("total" -> 10L, "valid" -> 8L, "invalid" -> 2L, "with_warnings" -> 1L))
    def keys(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
      val b = Seq.newBuilder[String]
      n.fieldNames().forEachRemaining(k => { b += k; () })
      b.result()
    }
    for ((op, fields) <- verbs) {
      val line = mapper.readTree(Main.verbLine(op, fields, cancelled = false, 1.5, metrics))
      assert(keys(line) === ("op" +: fields.map(_._1)) ++ Seq("cancelled", "secs", "metrics"), op)
      assert(line.get("op").asText === op && !line.get("cancelled").asBoolean)
      assert(line.get("secs").asDouble === 1.5 && line.get("metrics").isObject, op)
      for ((k, v) <- fields)
        assert(line.get(k).isNumber && line.get(k).asText === v.toString, s"$op.$k")
      // cancelled mid-body: no verb fields, the rest of the line stays
      val cancelled = mapper.readTree(Main.verbLine(op, Nil, cancelled = true, 0.25, metrics))
      assert(keys(cancelled) === Seq("op", "cancelled", "secs", "metrics"), op)
      assert(cancelled.get("cancelled").asBoolean)
    }
    // restat over an empty docmap: avgdl is 0/0 = NaN, which JSON cannot hold
    val nan = mapper.readTree(Main.verbLine("restat",
      Seq("docs" -> 0L, "avgdl" -> Double.NaN, "shardsRebuilt" -> 0), cancelled = false, 0.1, metrics))
    assert(nan.get("avgdl").isNull && nan.get("docs").asLong === 0L, nan.toString)
  }

  test("the query line reports each open cache's resident bytes and fill seconds; it parses strictly") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cfg = graft.config.EngineConfig.default.copy(shards = 2, buildPartitions = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_caches_").toString
    try {
      val docs = (0L until 60L).map(i => (i, s"cache report w${i % 7} alpha beta")).toDF("doc_id", "text")
      graft.index.SegmentBuilder.ingest(spark, docs, col("doc_id"), col("text"), dir, cfg)
      graft.index.SegmentBuilder.buildAll(spark, dir, cfg)
      val n = Main.runQuery(spark, dir, Main.QueryArgs("alpha w3", None), cfg)
        .collect().length
      Main.runQuery(spark, dir, Main.QueryArgs("alpha beta", None, Main.QueryMode.Phrase), cfg).collect()
      val line = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Main.verbLine("query",
        Seq("hits" -> n, "caches" -> Main.cachesField(graft.query.Wand.openCaches(spark, dir))),
        cancelled = false, 0.5, new graft.metrics.Metrics().json))
      val keys = Seq.newBuilder[String]
      line.fieldNames().forEachRemaining(k => { keys += k; () })
      assert(keys.result() === Seq("op", "hits", "caches", "cancelled", "secs", "metrics"))
      assert(line.get("hits").asInt === n && n > 0)
      val caches = line.get("caches")
      val names = Seq.newBuilder[String]
      caches.fieldNames().forEachRemaining(k => { names += k; () })
      assert(names.result() === Seq("wand"))
      caches.elements().forEachRemaining { c =>
        assert(c.size === 2 && c.get("bytes").isIntegralNumber && c.get("bytes").asLong > 0, c.toString)
        assert(c.get("fill_s").isDouble && c.get("fill_s").asDouble >= 0, c.toString)
      }
    } finally new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("cancellation flag mechanics (CancellationTokenSource semantics)") {
    Cancellation.reset()
    assert(!Cancellation.isRequested)
    assert(!Cancellation.probe())
    Cancellation.request(spark) // no jobs in the group: still just raises the flag
    assert(Cancellation.isRequested && Cancellation.probe())
    Cancellation.reset()
    assert(!Cancellation.isRequested)
  }

  test("dry-run analyzer reports corpus stats and the go/no-go gate") {
    val r = Main.analyze(spark, "/root/testdata/sf0.001/documents.parquet").head()
    assert(r.getAs[Long]("total_docs") === 500)
    assert(r.getAs[Long]("sampled") === 500)
    assert(r.getAs[Double]("valid_pct") === 100.0)
    assert(r.getAs[Boolean]("go"))
    assert(r.getAs[Long]("projected_postings") > 0)
    assert(r.getAs[String]("hot_terms").nonEmpty)
  }
}
