package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.index.{BlockRow, Codec, SegmentBuilder}

/** The per-layer metrics a traced run prints, in order, with units. A
  * workload that never calls a layer reports 0 for it. */
object PerLayer {
  private val s = "s"
  val all: Seq[(String, String)] = Seq(
    "analyze.tokenize_s" -> s, "analyze.tokens_per_s" -> "1/s",
    "index.ingest_s" -> s, "index.ingest_exec_s" -> s, "index.ingest_gc_s" -> s,
    "index.ingest_busy_cores" -> "cores",
    "index.build_s" -> s, "index.build_exec_s" -> s, "index.build_gc_s" -> s,
    "index.build_shuffle_bytes" -> "bytes", "index.segment_bytes" -> "bytes",
    "index.append_s" -> s, "index.compact_s" -> s, "index.compact_shuffle_bytes" -> "bytes",
    "index.rebuild_s" -> s,
    "index.encode_mpostings_per_s" -> "Mpostings/s", "index.decode_mpostings_per_s" -> "Mpostings/s",
    "query.handle_init_s" -> s, "query.df_lookup_s" -> s,
    "query.wand_exec_s_per_query" -> s, "query.wand_busy_cores" -> "cores",
    "query.wand_input_bytes_per_query" -> "bytes", "query.wand_shuffle_bytes_per_query" -> "bytes",
    "query.wand_jobs_per_request" -> "count", "query.wand_tasks_per_request" -> "count",
    "query.wand_postings_fetched_per_query" -> "count", "query.wand_fetch_amplification" -> "ratio",
    "query.phrase_exec_s_per_query" -> s, "query.phrase_input_bytes_per_query" -> "bytes",
    "query.phrase_jobs_per_request" -> "count",
    "query.expand_dict_s" -> s, "query.expand_terms_per_pattern" -> "count",
    "query.expand_input_bytes" -> "bytes",
    "jvm.heap_peak_mb" -> "MB", "jvm.gc_s" -> s,
    "trace.overhead_ratio" -> "ratio",
    "analyze.self_s" -> s, "index.self_s" -> s, "query.self_s" -> s, "request.self_s" -> s)
}

/** Index-directory helpers and the single-thread codec kernels. */
object IndexFiles {
  def delete(dir: String): Unit = {
    new scala.reflect.io.Directory(new File(dir)).deleteRecursively(); ()
  }

  def bytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(walk).sum) else f.length()
    walk(new File(dir))
  }

  /** Each term's postings, doc-ordered, from the index's postings table. */
  def postings(spark: SparkSession, idx: String, terms: Seq[String]): Seq[Array[Codec.Posting]] =
    spark.read.parquet(s"$idx/postings").filter(col("term").isin(terms: _*))
      .select("term", "doc_id", "tf", "doclen").collect()
      .groupBy(_.getString(0)).values.toSeq
      .map(_.map(r => Codec.Posting(r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_.docId))

  /** The terms' compressed blocks, from the segment table. */
  def blocks(spark: SparkSession, idx: String, terms: Seq[String]): Array[Codec.Block] = {
    import spark.implicits._
    spark.read.parquet(s"$idx/segments").filter(col("term").isin(terms: _*))
      .select(explode(col("blocks")).as("b")).select("b.*").as[BlockRow].collect()
      .map(b => Codec.Block(b.first_doc, b.n, b.deltas, b.tfs, b.dls, b.max_u))
  }

  /** Repeats `once` (which returns the postings it handled) for at
    * least `minS` seconds after one warm-up pass; millions per second. */
  private def rate(minS: Double)(once: => Long): Double = {
    once
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < minS * 1e9) n += once
    n / ((System.nanoTime() - t0) / 1e9) / 1e6
  }

  def encodeRate(runs: Seq[Array[Codec.Posting]], cfg: EngineConfig, avgdl: Double): Double =
    rate(0.5)(runs.map { r =>
      Codec.encodeRun(r.iterator, cfg.blockSize, cfg.k1, cfg.b, avgdl).foreach(_ => ())
      r.length.toLong
    }.sum)

  def decodeRate(blocks: Array[Codec.Block]): Double =
    rate(0.5)(blocks.map(b => Codec.decodeBlock(b).length.toLong).sum)

  def avgdl(spark: SparkSession, idx: String): Double = SegmentBuilder.readStats(spark, idx)._2
}
