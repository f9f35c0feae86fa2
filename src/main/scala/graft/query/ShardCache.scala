package graft.query

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.GraftRddBridge
import org.apache.spark.GraftRddBridge.Sized
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SizeEstimator

import graft.config.EngineConfig
import graft.index.SegmentBuilder
import graft.query.ServedTopK.TermDict

/** The executor-resident serving caches behind both serving handles
  * ([[Wand.Handle]] over the segment store, [[BM25.PhraseHandle]] over
  * the positional postings) — the ES shard layout, REPOSE's local index
  * per data partition: the index is partitioned by DOCUMENT, and every
  * request goes to every partition. A served request is small, so its
  * latency is the fixed cost of each Spark job and stage it runs; the
  * index therefore stays RESIDENT, the way ES keeps its term dictionary
  * and postings loaded on its data nodes.
  *
  * Persisted (`MEMORY_AND_DISK`) RDDs, built with no shuffle, no
  * join and no driver collect from one transient term-partitioned
  * gather: partition s reads `table`'s `shard=S` directory
  * (shard = pmod(xxhash64(term), shards), so ALL of a term's rows land
  * in one partition) through one narrow scan coalesced to one task,
  * and `gather` turns its rows into one `term -> entry` map — every
  * entry sees all of its term's rows, so its df is the store's. The
  * shard count comes from the index's OWN ingest marker
  * ([[SegmentBuilder.indexShards]]), never from a caller config: a
  * count that disagreed with the writer's would silently prune to the
  * wrong partition. From that gather:
  *  - the DICTIONARY, kept `withDictionary` (the WAND handle: the phrase
  *    handle expands nothing), one partition per shard: a [[TermDict]]
  *    of the shard's terms, sorted in [[ServedTopK.termOrder]], and
  *    their store-wide df. It serves [[dfOf]] (the driver finds a
  *    term's partition with [[BM25.termShard]], running no job), the
  *    max df that sizes the doc ranges, and the expansion walks
  *    ([[Wand.expandCapped]]); filling it is the first job. Without it,
  *    the first job reads the max df straight off the gather;
  *  - the DOC PARTITIONS, one per doc range of [[Wand.docRanges]] (from
  *    that max df — derived, not a knob): range r's task reads every
  *    gathered shard map (a narrow coalesce) and keeps each entry `cut`
  *    to its docs, so a partition holds, per shard, one `term -> entry`
  *    map of every term with docs in the range, each entry carrying its
  *    term's store-wide df; a request finds a term's map by its shard.
  *    With one range nothing is cut: the shard maps serve as gathered.
  * The gather is released once the caches are filled.
  *
  * Init cost: each shard task sizes its map as it gathers it (Spark's
  * `SizeEstimator`, the walk the block store would make) and caches it
  * [[Sized]], so the block store takes the figure. With one range, the
  * one doc partition holds the maps as gathered and adds up their
  * sizes: its fill walks nothing, where walking the whole store in one
  * task cost 0.5–0.9 s per handle on the perfbench `serve` index. With
  * more ranges, each range's task reads the whole gather, keeps its cut
  * and sizes it, the ranges' tasks in parallel. More doc partitions
  * than ranges would repeat every entry cut at a partition bound (a
  * WAND row's blocks cannot be split): four doc partitions on the
  * `serve` index held 87.0 MB of WAND rows against one's 38.0 MB.
  *
  * Memory contract: the doc partitions hold the store once when there
  * is one range (the serve index), plus what entries cut at range
  * bounds repeat; the dictionary holds each term and its df once.
  * [[caches]] reports their sizes (Spark's `getRDDStorageInfo`) and the
  * seconds each took to fill.
  *
  * Once filled, both are locally checkpointed: their lineage — scan
  * plans — is cut, so a request's tasks ship a few kB. The price: a
  * block that is gone — a closed handle's in-flight request, a lost
  * executor — fails the request loudly instead of re-reading the
  * store. A cache that fails to open releases what it pinned: no memo
  * entry exists yet to close it.
  *
  * A ranked request ([[topK]]) is ONE Spark job of ONE stage with no
  * Catalyst plan and no file read; a dictionary walk is another. */
private[query] final class ShardCache[R: ClassTag, E](
    spark: SparkSession, indexDir: String, cfg: EngineConfig, name: String, label: String,
    table: DataFrame, scan: DataFrame => RDD[R], withDictionary: Boolean)
    (gather: (Iterator[R], Int) => Map[String, E], df: E => Long, cut: (E, Long, Long) => Option[E])
    extends AutoCloseable {
  val (n, avgdl) = SegmentBuilder.readStats(spark, indexDir)
  private val shards = SegmentBuilder.indexShards(indexDir)
  // (label, cache, fill seconds) of every RDD this cache pinned
  private val pinned = mutable.ArrayBuffer.empty[(String, RDD[_], Double)]

  /** `rdd` persisted under `as`, then filled (and locally checkpointed)
    * by the timed job `fill`; pinned BEFORE the job runs, so [[close]]
    * releases a half-filled cache too. */
  private def pin[T, A](as: String, rdd: RDD[T])(fill: RDD[T] => A): (RDD[T], A) = {
    rdd.setName(if (as == label) name else s"$name $as").persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
    val i = pinned.size
    pinned += ((as, rdd, 0.0))
    val t0 = System.nanoTime()
    val a = fill(rdd)
    pinned(i) = (as, rdd, (System.nanoTime() - t0) / 1e9)
    (rdd, a)
  }

  private def open(): (Option[RDD[TermDict]], Int, Array[Long], RDD[Sized[Array[Map[String, E]]]]) = {
    val sc = spark.sparkContext
    val g = gather; val d = df; val c = cut
    // each shard map sized where it is gathered, so the shard tasks size
    // the store in parallel and a doc partition that holds the maps as
    // gathered adds their sizes up instead of walking them again
    val byTerm = sc.union((0 until shards).map(s => scan(table.filter(table("shard") === s).coalesce(1))))
      .mapPartitionsWithIndex { (s, rows) => val m = g(rows, s); Iterator(new Sized(s -> m, SizeEstimator.estimate(m))) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the first job fills the gather, and the dictionary when kept
      val dict = Option.when(withDictionary)(
        byTerm.map(x => TermDict(x.value._2.iterator.map { case (t, e) => t -> d(e) })))
      val maxDf = dict match {
        case Some(ds) => pin(s"${label}_dictionary", ds)(_.map(_.dfs.fold(0L)(math.max)).fold(0L)(math.max))._2
        case None => byTerm.map(_.value._2.valuesIterator.map(d).foldLeft(0L)(math.max)).fold(0L)(math.max)
      }
      val (ranges, bounds) = Wand.docRanges(spark, indexDir, cfg, maxDf)
      val (docs, _) = pin(label, sc.union((0 to bounds.length).map { r =>
        val (lo, hi) = ShardCache.span(bounds, r)
        val whole = bounds.isEmpty
        byTerm.coalesce(1).mapPartitions { ms =>
          val byShard = ms.toArray.sortBy(_.value._1)
          // one range holds every doc: the shard maps serve as gathered
          Iterator(if (whole) new Sized(byShard.map(_.value._2), byShard.map(_.estimatedSize).sum)
          else {
            val cuts = byShard.map(_.value._2.flatMap { case (t, e) => c(e, lo, hi).map(t -> _) })
            new Sized(cuts, SizeEstimator.estimate(cuts))
          })
        }
      }))(_.count())
      (dict, ranges, bounds, docs)
    } finally GraftRddBridge.release(byTerm)
  }

  /** The dictionary, when kept; the doc-range fan-out, `ranges` ranges,
    * range r covering [bounds(r-1), bounds(r)); the doc partitions. */
  val (dictionary, ranges, bounds, docs) = try open() catch { case e: Throwable => close(); throw e }

  /** df of each of `terms` the store holds, out of only the dictionary
    * partitions that hold them: one single-stage job. */
  def dfOf(terms: Seq[String]): Map[String, Long] =
    if (terms.isEmpty) Map.empty
    else {
      val ts = terms.toSet
      val dict = dictionary.getOrElse(throw new UnsupportedOperationException(s"$name keeps no dictionary"))
      PartitionPruningRDD.create(dict, ts.map(BM25.termShard(_, shards)))
        .flatMap(d => ts.iterator.flatMap(t => d.df(t).map(t -> _))).collect().toMap
    }

  /** A served batch of per-query term lists, ranked, in ONE Spark job of
    * ONE stage. Every doc partition runs `hits` (qid, lo, hi, entries)
    * => (score, doc_id) once per qid that has any of its terms in the
    * partition, over the partition's entries of those terms (absent
    * terms yield nothing) and its range [lo, hi), and keeps a heap of k
    * per qid ([[ServedTopK.bestPerQid]]); the driver collects at most
    * partitions x qids x k rows and [[ServedTopK.merge]]s them. EAGER:
    * returns a local `(qid, rank, doc_id, score)` frame in (qid, rank)
    * order; a batch with no terms runs no job. Qids are distinct. */
  def topK(queries: Seq[(Int, Seq[String])])
          (hits: (Int, Long, Long, Array[(String, E)]) => Iterator[(Double, Long)]): DataFrame = {
    val qs = queries.collect { case (qid, ts) if ts.nonEmpty => qid -> ts.distinct.toArray }
    if (qs.isEmpty) return ServedTopK.noHits(spark)
    val k = cfg.topK; val bs = bounds; val h = hits
    val shardOf = qs.flatMap(_._2).distinct.map(t => t -> BM25.termShard(t, shards)).toMap
    val heaps = docs.mapPartitionsWithIndex { (r, parts) =>
      val (lo, hi) = ShardCache.span(bs, r)
      parts.flatMap(p => ServedTopK.bestPerQid(qs.iterator.flatMap { case (qid, ts) =>
        val es = ts.flatMap(t => p.value(shardOf(t)).get(t).map(t -> _))
        if (es.isEmpty) Iterator.empty else h(qid, lo, hi, es).map { case (s, d) => (qid, s, d) }
      }, k))
    }.collect()
    ServedTopK.merge(spark, heaps, k)
  }

  /** Each pinned RDD's resident bytes (memory + disk) and fill seconds. */
  def caches: Seq[Wand.CacheStat] = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    pinned.toSeq.map { case (as, rdd, s) => Wand.CacheStat(as, bytes.getOrElse(rdd.id, 0L), s) }
  }

  /** Releases every pinned RDD without blocking (see [[Wand.memoHandle]]). */
  def close(): Unit =
    if (!spark.sparkContext.isStopped) pinned.foreach { case (_, rdd, _) => GraftRddBridge.release(rdd) }
}

private[query] object ShardCache {

  /** Doc range r of `bounds`: [lo, hi), Long.MinValue / Long.MaxValue
    * standing for an open end. */
  def span(bounds: Array[Long], r: Int): (Long, Long) =
    (if (r == 0) Long.MinValue else bounds(r - 1), if (r >= bounds.length) Long.MaxValue else bounds(r))
}
