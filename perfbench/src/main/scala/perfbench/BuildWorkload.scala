package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.analyze.CodeTokenizer
import graft.index.SegmentBuilder

/** `build`: each cycle ingests the seeded corpus into a fresh index and
  * builds every shard, then refreshes that index with a 5% append,
  * compaction of every shard and a rebuild. Loads the analyzer and the
  * index write path; never touches query serving. */
final class BuildWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.{cfg, probe, spark}

  val Docs: Long = 16000L
  val Extra: Long = Docs / 20
  /** The warm-up builds and refreshes a corpus this much smaller. */
  val WarmupShrink = 10
  val cycleSeconds = 16.0
  /** Set-up writes the corpus alone, which is cheap enough to repeat. */
  override val setupReps = 3
  private val corpusDir = ctx.dir("build-corpus")
  private val extraDir = ctx.dir("build-extra")
  private var textBytes = 0L
  private var idx: String = _

  def setup(): Unit = {
    textBytes = Corpus.write(spark, 0, Docs, ctx.seed, corpusDir)
    Corpus.write(spark, Docs, Docs + Extra, ctx.seed, extraDir)
  }

  /** One untimed build and refresh of a small corpus of its own: every
    * plan the loop runs is compiled and every class loaded before the
    * first timed cycle. */
  override def warmup(): Unit = {
    val (docs, extra) = (Docs / WarmupShrink, Extra / WarmupShrink)
    val (corpus, more, dir) = (ctx.dir("warmup-corpus"), ctx.dir("warmup-extra"), ctx.dir("warmup-index"))
    Corpus.write(spark, 0, docs, ctx.seed, corpus)
    Corpus.write(spark, docs, docs + extra, ctx.seed, more)
    SegmentBuilder.ingest(spark, spark.read.parquet(corpus), col("doc_id"), col("text"), dir, cfg)
    SegmentBuilder.buildAll(spark, dir, cfg, ctx.cores)
    SegmentBuilder.appendDocs(spark, spark.read.parquet(more), col("doc_id"), col("text"), dir, cfg)
    SegmentBuilder.compactShards(spark, dir, 0 until cfg.shards, cfg, ctx.cores)
    SegmentBuilder.buildAll(spark, dir, cfg, ctx.cores)
    IndexFiles.delete(dir)
  }

  private val indexBytes = mutable.ArrayBuffer.empty[Long]
  private val segmentBytes = mutable.ArrayBuffer.empty[Long]

  /** Docmap has exactly `n` rows, and each row's sha is sha2(text) of the
    * source row with that doc_id. Returns the reason when it does not. */
  private def docmapWrong(n: Long): Option[String] = {
    val src = spark.read.parquet(corpusDir).unionByName(spark.read.parquet(extraDir))
      .select(col("doc_id"), sha2(col("text"), 256).as("want"))
    val dm = spark.read.parquet(s"$idx/docmap")
    val r = dm.join(src, Seq("doc_id"), "left")
      .agg(count(lit(1)), count(when(col("sha") === col("want"), 1))).head()
    if (r.getLong(0) != n) Some(s"docmap has ${r.getLong(0)} rows, want $n")
    else if (r.getLong(1) != n) Some(s"docmap: ${n - r.getLong(1)} of $n rows have a wrong sha")
    else None
  }

  def cycle(c: Int): Unit = {
    if (idx != null) IndexFiles.delete(idx)
    idx = ctx.dir(s"build-index-$c")
    val built = ctx.op("build") {
      probe.call("index.ingest")(SegmentBuilder.ingest(spark, spark.read.parquet(corpusDir),
        col("doc_id"), col("text"), idx, cfg))
      probe.call("index.build")(SegmentBuilder.buildAll(spark, idx, cfg, ctx.cores))
    }
    if (built.isDefined) {
      indexBytes += IndexFiles.bytes(idx)
      segmentBytes += IndexFiles.bytes(s"$idx/segments")
      docmapWrong(Docs).foreach(ctx.fail(_))
      val refreshed = ctx.op("refresh") {
        probe.call("index.append")(SegmentBuilder.appendDocs(spark, spark.read.parquet(extraDir),
          col("doc_id"), col("text"), idx, cfg))
        probe.call("index.compact")(SegmentBuilder.compactShards(spark, idx, 0 until cfg.shards, cfg, ctx.cores))
        probe.call("index.rebuild")(SegmentBuilder.buildAll(spark, idx, cfg, ctx.cores))
      }
      if (refreshed.isDefined) docmapWrong(Docs + Extra).foreach(ctx.fail(_))
    }
  }

  def verify(): Unit = {
    ctx.report("corpus_docs") = Docs.toString
    ctx.report("append_docs") = Extra.toString
    ctx.report("input_text_bytes") = textBytes.toString
    if (idx != null && new java.io.File(s"$idx/segments").isDirectory) {
      val dict = spark.read.parquet(s"$idx/segments").groupBy("term").agg(sum("n_postings").as("df"))
        .agg(count(lit(1)), max("df")).head()
      ctx.report("vocabulary") = dict.getLong(0).toString
      ctx.report("top_term_df_share") = (dict.getLong(1).toDouble / (Docs + Extra)).toString
    }
  }

  def instrument(): Unit = {
    def put(name: String, v: Double, unit: String) = ctx.perLayer(name) = (v, unit)
    def callS(name: String) = { val l = probe.layer(name); l.perCall(l.wallS) }
    val ingest = probe.layer("index.ingest")
    put("index.ingest_s", callS("index.ingest"), "s")
    put("index.ingest_exec_s", ingest.perCall(ingest.execMs / 1e3), "s")
    put("index.ingest_gc_s", ingest.perCall(ingest.gcMs / 1e3), "s")
    put("index.ingest_busy_cores", ingest.busyCores, "cores")
    val build = probe.layer("index.build")
    put("index.build_s", callS("index.build"), "s")
    put("index.build_exec_s", build.perCall(build.execMs / 1e3), "s")
    put("index.build_gc_s", build.perCall(build.gcMs / 1e3), "s")
    put("index.build_shuffle_bytes", build.perCall(build.shuffleWriteBytes.toDouble), "bytes")
    put("index.segment_bytes", Stats.median(segmentBytes.map(_.toDouble).toSeq), "bytes")
    put("index.append_s", callS("index.append"), "s")
    val compact = probe.layer("index.compact")
    put("index.compact_s", callS("index.compact"), "s")
    put("index.compact_shuffle_bytes", compact.perCall(compact.shuffleWriteBytes.toDouble), "bytes")
    put("index.rebuild_s", callS("index.rebuild"), "s")
    // the analyzer alone over the corpus, output discarded
    probe.call("analyze.tokenize")(spark.read.parquet(corpusDir)
      .select(CodeTokenizer.tokenPosCol(col("text"))).write.format("noop").mode("overwrite").save())
    val tokens = spark.read.parquet(s"$idx/docmap").filter(col("doc_id") < Docs)
      .agg(sum("doclen")).head().getLong(0)
    put("analyze.tokenize_s", callS("analyze.tokenize"), "s")
    put("analyze.tokens_per_s", tokens / callS("analyze.tokenize"), "1/s")
    // the block encoder, one thread, on the serve workload's head and mid terms
    val (head, mid, head2) = ServeMix.headTerms(ctx.seed)
    val terms = Seq(head, mid, head2).distinct
    put("index.encode_mpostings_per_s", IndexFiles.encodeRate(
      IndexFiles.postings(spark, idx, terms), cfg, IndexFiles.avgdl(spark, idx)), "Mpostings/s")
  }

  /** End-to-end figures: build throughput of the best cycle (host noise
    * only ever slows a cycle down), and the process CPU of a build plus
    * refresh, averaged over every untraced cycle. The best cycle's wall
    * times go to the report. */
  def metrics(): Unit = {
    val cs = ctx.untracedCycles.map(_.samples).filter(_.size == 2)
    def best(f: Seq[Sample] => Double) = cs.map(f).min
    val docsPerS = Docs / best(_.head.ms / 1e3)
    ctx.endToEnd("ops_per_s") = (docsPerS, "1/s")
    ctx.endToEnd("cpu_ms_per_op") = (cs.map(_.map(_.cpuMs).sum).sum / cs.size, "ms")
    ctx.report("cycle_ms") = best(_.map(_.ms).sum).toString
    ctx.report("build_docs_per_s") = docsPerS.toString
    ctx.report("refresh_s") = best(_(1).ms / 1e3).toString
    ctx.report("index_bytes_per_input_byte") =
      (Stats.median(indexBytes.map(_.toDouble).toSeq) / textBytes).toString
  }
}
