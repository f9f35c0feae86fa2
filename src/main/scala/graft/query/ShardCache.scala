package graft.query

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.config.EngineConfig
import graft.index.SegmentBuilder

/** The executor-resident serving cache behind both serving handles
  * ([[Wand.Handle]] over the segment store, [[BM25.PhraseHandle]] over
  * the positional postings) — REPOSE's local index per data partition,
  * pruned by partition at query time and never re-partitioned. A served
  * request is small, so its latency is the fixed cost of each Spark job
  * it runs; the index therefore stays RESIDENT, the way ES keeps its
  * term dictionary and postings loaded on its data nodes.
  *
  * Build, with no shuffle and no join: partition s reads `table`'s
  * `shard=s` directory — shard = pmod(xxhash64(term), shards), so all
  * of a term's rows land in one partition, which the driver finds with
  * [[BM25.termShard]], running no job — through one narrow scan
  * coalesced to one task (an absent shard directory gives an empty
  * partition), and `gather` turns its rows into one `term -> entry`
  * map. The shard count comes from the index's OWN ingest marker
  * ([[SegmentBuilder.indexShards]]), never from a caller config: a
  * count that disagreed with the writer's would silently prune to the
  * wrong partition. The maps are persisted `MEMORY_AND_DISK` under
  * `name`; a partition that does not fit spills to local disk.
  * [[close]] releases them; [[Wand.memoHandle]] closes a handle it
  * replaces.
  *
  * Once filled, the cache is locally checkpointed: its lineage — one
  * SQL scan plan per shard — is cut, so every request's tasks ship a
  * few kB instead of every shard's scan plan (measured on a 4-shard
  * index: a lookup task 111 kB -> 4.6 kB, a [[Wand.Handle.dfOf]] job
  * 32 -> 21 ms). The price: a block that is gone — a closed handle's
  * in-flight request, a lost executor — fails the request loudly
  * instead of re-reading its shard.
  *
  * Init reads the corpus stats, then the doc-range fan-out
  * ([[Wand.docRanges]]) from the max df over the dictionary — the first
  * job over the cache, so it also fills it. A cache that fails to open
  * releases what it cached: no memo entry exists yet to close it.
  *
  * A request touches only the cache: [[lookup]] reads its terms' entries
  * out of only the partitions that hold them, and [[topK]] serves a
  * ranked batch in ONE Spark job with no Catalyst plan and no file
  * read. */
private[query] final class ShardCache[R: ClassTag, E](
    spark: SparkSession, indexDir: String, cfg: EngineConfig,
    name: String, table: DataFrame, scan: DataFrame => RDD[R])
    (gather: (Iterator[R], Int) => Map[String, E], df: E => Long) extends AutoCloseable {
  val (n, avgdl) = SegmentBuilder.readStats(spark, indexDir)
  private val shards = SegmentBuilder.indexShards(indexDir)
  private val cache: RDD[Map[String, E]] = {
    val g = gather
    spark.sparkContext.union((0 until shards).map(s => scan(table.filter(table("shard") === s).coalesce(1))))
      .mapPartitionsWithIndex((s, rows) => Iterator(g(rows, s)))
      .setName(name)
      .persist(StorageLevel.MEMORY_AND_DISK)
      .localCheckpoint()
  }
  /** The cache's (term, df) dictionary, walked in place. */
  val dictionary: RDD[(String, Long)] = {
    val d = df
    cache.flatMap(_.iterator.map { case (t, e) => t -> d(e) })
  }
  /** The doc-range fan-out: `ranges` ranges, range i covering
    * [bounds(i-1), bounds(i)). */
  val (ranges, bounds) =
    try Wand.docRanges(spark, indexDir, cfg, dictionary.values.fold(0L)(math.max))
    catch { case e: Throwable => close(); throw e }

  /** `f` over the cached entry of each of `terms`, read out of only the
    * partitions that hold them; absent terms yield nothing. */
  def lookup[T: ClassTag](terms: Set[String])(f: (String, E) => Iterator[T]): RDD[T] =
    PartitionPruningRDD.create(cache, terms.map(BM25.termShard(_, shards)))
      .flatMap(m => terms.iterator.flatMap(t => m.get(t).iterator.flatMap(f(t, _))))

  /** A served batch of per-query term lists, ranked, in ONE Spark job.
    * The lookup stage reads each batch term's entry out of the
    * partitions that hold it, cuts it into (range, value) pieces with
    * `ranged`, and keys each piece once per (qid, range) for every qid
    * that asked for the term; absent terms yield nothing. The groups
    * land in min(#groups, defaultParallelism) partitions (derived, not
    * a knob); each task scores its groups with `hits` (qid, range,
    * values) => (score, doc_id) and keeps a heap of k per qid
    * ([[ServedTopK.bestPerQid]]); the driver collects at most
    * tasks x qids x k rows and [[ServedTopK.merge]]s them. EAGER:
    * returns a local `(qid, rank, doc_id, score)` frame in (qid, rank)
    * order; a batch with no terms runs no job. */
  def topK[V: ClassTag](queries: Seq[(Int, Seq[String])])(ranged: (String, E) => Iterator[(Int, V)])
                       (hits: (Int, Int, Iterable[V]) => Iterator[(Double, Long)]): DataFrame = {
    val qidsOf: Map[String, Array[Int]] = queries
      .flatMap { case (qid, ts) => ts.map(_ -> qid) }
      .groupMap(_._1)(_._2).map { case (t, qs) => t -> qs.distinct.toArray }
    if (qidsOf.isEmpty) return ServedTopK.noHits(spark)
    val parts = math.min(qidsOf.values.flatten.toSet.size.toLong * ranges,
      spark.sparkContext.defaultParallelism.toLong).toInt
    val k = cfg.topK
    val heaps = lookup(qidsOf.keySet)((t, e) =>
        ranged(t, e).flatMap { case (rid, v) => qidsOf(t).iterator.map(qid => (qid, rid) -> v) })
      .groupByKey(new HashPartitioner(parts))
      .mapPartitions { groups =>
        ServedTopK.bestPerQid(groups.flatMap { case ((qid, rid), vs) =>
          hits(qid, rid, vs).map { case (s, d) => (qid, s, d) }
        }, k)
      }
      .collect()
    ServedTopK.merge(spark, heaps, k)
  }

  /** Releases the cache without blocking (see [[Wand.memoHandle]]). */
  def close(): Unit =
    if (!spark.sparkContext.isStopped) { cache.unpersist(blocking = false); () }
}
