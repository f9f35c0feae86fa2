package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.EngineConfig

/** Segment consolidation (SURVEY.md §7.1 step 5): k-way merge the
  * salted runs of each term back into one docId-ordered run and
  * re-encode, positions included — denser blocks, and a merged index
  * serves every request kind without the postings table.
  *
  * Scale guard (DEFAULT-ON): a term whose runs total more than
  * `maxRunPostings` (default 8x the build's saltTargetPostings; pass a
  * non-positive value to inherit that default, `Long.MaxValue` to
  * disable) keeps its salted runs — forcing a monster posting list
  * through one task would recreate exactly the skew the salting
  * defused; the serving gather merges a term's runs into one entry,
  * so both layouts answer identically (tested).
  */
object SegmentMerger {

  /** Default-on cap: merged runs never exceed 8x the salt target. */
  def defaultCap(cfg: EngineConfig): Long =
    if (cfg.saltTargetPostings > Long.MaxValue / 8) Long.MaxValue
    else 8L * cfg.saltTargetPostings

  def mergeShard(spark: SparkSession, indexDir: String, shard: Int,
                 cfg: EngineConfig, outDir: String,
                 maxRunPostings: Long = -1L): Unit = {
    import spark.implicits._
    val cap = if (maxRunPostings <= 0) defaultCap(cfg) else maxRunPostings
    val (_, avgdl) = SegmentBuilder.readStats(spark, indexDir)
    val blockSize = cfg.blockSize
    val k1 = cfg.k1; val b = cfg.b
    spark.read.parquet(s"$indexDir/segments/shard=$shard")
      .as[SegmentRow]
      .groupByKey(_.term)
      .flatMapGroups { (term, rowsIt) =>
        val rows = rowsIt.toArray
        val bySalt = rows.groupBy(_.salt)
        val total = rows.map(_.n_postings).sum
        // single-run terms pass through with a normalized run id; terms
        // above the cap keep their doc-disjoint runs (skew guard)
        if (bySalt.size <= 1) rows.iterator.map(_.copy(salt = 0))
        else if (total > cap) rows.iterator
        else {
          val runs = bySalt.values.toSeq.map { rs =>
            rs.sortBy(_.row_seq).iterator.flatMap(_.blocks).flatMap(bl => Codec.decodeBlock(bl.block))
          }
          val merged = Codec.mergeRuns(runs).map(p =>
            PostingRec(term, 0, p.docId, p.tf, p.dl, p.positions))
          SegmentBuilder.encodeRuns(merged, blockSize,
            SegmentBuilder.BlocksPerRow, k1, b, avgdl)
        }
      }
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/segments/shard=$shard")
  }

  /** Merge every shard into `outDir` (stats/docmap are shared via copy
    * of the tiny tables so the merged index is self-contained). The
    * shards are the source index's own ([[SegmentBuilder.indexShards]]),
    * and the header line of its ingest marker ([[IngestMarker]]) is
    * committed last, so the merged index is servable: serving prunes by
    * the marker's shard count. */
  def mergeAll(spark: SparkSession, indexDir: String, outDir: String,
               cfg: EngineConfig = EngineConfig.default,
               maxRunPostings: Long = -1L): Unit = {
    val marker = Paths.get(outDir, "_ingested")
    Files.deleteIfExists(marker)
    (0 until SegmentBuilder.indexShards(indexDir))
      .foreach(s => mergeShard(spark, indexDir, s, cfg, outDir, maxRunPostings))
    spark.read.parquet(s"$indexDir/stats")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/stats")
    // docmap travels with the index: serving derives its doc-range
    // boundaries from it (Wand.Handle), and the identity surface must
    // survive consolidation
    spark.read.parquet(s"$indexDir/docmap")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/docmap")
    IndexIo.commitFile(marker, SegmentBuilder.marker(indexDir).header)
  }
}
