package graft.query

import scala.reflect.ClassTag

import org.apache.spark.{GraftRddBridge, TaskContext}
import org.apache.spark.GraftRddBridge.Sized
import org.apache.spark.rdd.RDD
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
  * One persisted (`MEMORY_AND_DISK`) RDD, built with no shuffle, no
  * join and no driver collect from one transient term-partitioned
  * gather: partition s reads `table`'s `shard=S` directory
  * (shard = pmod(xxhash64(term), shards), so ALL of a term's rows land
  * in one partition) through one narrow scan coalesced to one task,
  * and `gather` turns its rows into one `term -> entry` map — every
  * entry sees all of its term's rows, so its df is the store's — plus,
  * kept `withDictionary` (the WAND handle: the phrase handle expands
  * nothing), the shard's terms sorted in [[ServedTopK.termOrder]] with
  * their df. The shard count comes from the index's OWN ingest marker
  * ([[SegmentBuilder.indexShards]]), never from a caller config: a
  * count that disagreed with the writer's would silently prune to the
  * wrong partition. The first job fills the gather and reads the max
  * df off it. Then the DOC PARTITIONS, one per doc range of
  * [[Wand.docRanges]] (from that max df — derived, not a knob): range
  * r's task reads every gathered shard (a narrow coalesce) and keeps
  * each entry `cut` to its docs, so a partition holds, per shard, one
  * `term -> entry` map of every term with docs in the range, each entry
  * carrying its term's store-wide df; a request finds a term's map by
  * its shard. With one range nothing is cut: the shard maps serve as
  * gathered. Every doc partition also holds the store's WHOLE term
  * dictionary, one [[TermDict]] merged from the shards' sorted runs (no
  * task sorts the whole store), so a request that expands patterns
  * resolves them inside its scoring task ([[topKOf]]). The gather is
  * released once the doc partitions are filled.
  *
  * Init cost: each shard task sizes its map and dictionary as it
  * gathers them (Spark's `SizeEstimator`, the walk the block store
  * would make) and caches them [[Sized]], so the block store takes the
  * figure. With one range, the one doc partition holds the maps as
  * gathered and adds up their sizes: its fill walks nothing but the
  * merge, where walking the whole store in one task cost 0.5–0.9 s per
  * handle on the perfbench `serve` index. With more ranges, each
  * range's task reads the whole gather, keeps its cut and sizes it,
  * the ranges' tasks in parallel. More doc partitions than ranges would
  * repeat every entry cut at a partition bound (a WAND row's blocks
  * cannot be split): four doc partitions on the `serve` index held
  * 87.0 MB of WAND rows against one's 38.0 MB.
  *
  * Memory contract: the doc partitions hold the store once when there
  * is one range (the serve index), plus what entries cut at range
  * bounds repeat; R ranges hold R copies of the dictionary's term
  * array and dfs (the term strings are the maps' keys); with R = 1,
  * one copy. [[caches]] reports the size (Spark's
  * `getRDDStorageInfo`) and the seconds the fill took.
  *
  * Once filled, the doc partitions are locally checkpointed: their
  * lineage — scan plans — is cut, so a request's tasks ship a few kB.
  * The price: a block that is gone — a closed handle's in-flight
  * request, a lost executor — fails the request loudly instead of
  * re-reading the store. A cache that fails to open releases what it
  * pinned: no memo entry exists yet to close it.
  *
  * A ranked request ([[topK]], [[topKOf]]) is ONE Spark job of ONE
  * stage with no Catalyst plan and no file read, expansions included; a
  * dictionary-only call ([[dfOf]], [[onDictionary]]) is one job of one
  * task over doc partition 0. Each is one `SparkContext.runJob`
  * straight over the resident RDD, its partitions picked on the
  * driver, so a served request builds no RDD and calls no
  * `RDD.collect`; its task function captures local vals only, never
  * this cache. On the perfbench `serve` index (local[4]) an empty
  * request job took 10.4 ms as `mapPartitionsWithIndex(…).collect()`
  * over the doc partitions, 7.6 ms as a `runJob` over that per-request
  * RDD and 3.5 ms as a `runJob` over the resident one. What stays per
  * request is the caller's collect of the returned local frame, about
  * 5.8 ms of Catalyst planning and SQL-execution events, which graft
  * cannot remove while served calls return a `DataFrame`. */
private[query] final class ShardCache[R: ClassTag, E](
    spark: SparkSession, indexDir: String, cfg: EngineConfig, name: String, label: String,
    table: DataFrame, scan: DataFrame => RDD[R], withDictionary: Boolean)
    (gather: (Iterator[R], Int) => Map[String, E], df: E => Long, cut: (E, Long, Long) => Option[E])
    extends AutoCloseable {
  val (n, avgdl) = SegmentBuilder.readStats(spark, indexDir)
  private val shards = SegmentBuilder.indexShards(indexDir)
  // the doc partitions, pinned BEFORE their fill runs, so [[close]]
  // releases a half-filled cache too; and the seconds the fill took
  private var pinned: Option[RDD[_]] = None
  private var fillS = 0.0

  private def open(): (Int, Array[Long], RDD[Sized[ShardCache.Part[E]]]) = {
    val sc = spark.sparkContext
    val g = gather; val d = df; val c = cut; val withDict = withDictionary
    // each shard map, and its sorted dictionary when kept, sized where
    // they are gathered, so the shard tasks size the store in parallel
    // and a doc partition that holds them as gathered adds their sizes
    // up instead of walking them again
    val byTerm = sc.union((0 until shards).map(s => scan(table.filter(table("shard") === s).coalesce(1))))
      .mapPartitionsWithIndex { (s, rows) =>
        val m = g(rows, s)
        val dict = if (withDict) TermDict(m.iterator.map { case (t, e) => t -> d(e) }) else TermDict.empty
        Iterator(new Sized((s, m, dict), SizeEstimator.estimate((m, dict))))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the first job fills the gather and reads the max df off it
      val maxDf = byTerm.map(_.value._2.valuesIterator.map(d).foldLeft(0L)(math.max)).fold(0L)(math.max)
      val (ranges, bounds) = Wand.docRanges(spark, indexDir, cfg, maxDf)
      val docs = sc.union((0 to bounds.length).map { r =>
        val (lo, hi) = ShardCache.span(bounds, r)
        val whole = bounds.isEmpty
        byTerm.coalesce(1).mapPartitions { ms =>
          val byShard = ms.toArray.sortBy(_.value._1)
          // the shards' sorted runs merged: no task sorts the whole store
          val dict = if (withDict) TermDict.merge(byShard.map(_.value._3).toSeq) else TermDict.empty
          // one range holds every doc: the shard maps serve as gathered
          Iterator(if (whole) new Sized(new ShardCache.Part(dict, byShard.map(_.value._2)), byShard.map(_.estimatedSize).sum)
          else {
            val cuts = byShard.map(_.value._2.flatMap { case (t, e) => c(e, lo, hi).map(t -> _) })
            new Sized(new ShardCache.Part(dict, cuts), SizeEstimator.estimate((cuts, dict)))
          })
        }
      })
      docs.setName(name).persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
      pinned = Some(docs)
      val t0 = System.nanoTime()
      docs.count()
      fillS = (System.nanoTime() - t0) / 1e9
      (ranges, bounds, docs)
    } finally GraftRddBridge.release(byTerm)
  }

  /** The doc-range fan-out, `ranges` ranges, range r covering
    * [bounds(r-1), bounds(r)); the doc partitions. */
  val (ranges, bounds, docs) = try open() catch { case e: Throwable => close(); throw e }

  /** `f` of the store's term dictionary, in ONE single-task job over doc
    * partition 0 (every doc partition holds the whole dictionary) that
    * builds no RDD. */
  def onDictionary[A: ClassTag](f: TermDict => A): A = {
    if (!withDictionary) throw new UnsupportedOperationException(s"$name keeps no dictionary")
    spark.sparkContext.runJob(docs, (ps: Iterator[Sized[ShardCache.Part[E]]]) => f(ps.next().value.dict), Seq(0)).head
  }

  /** df of each of `terms` the store holds: one [[onDictionary]] job. */
  def dfOf(terms: Seq[String]): Map[String, Long] =
    if (terms.isEmpty) Map.empty
    else {
      val ts = terms.distinct
      onDictionary(d => ts.flatMap(t => d.df(t).map(t -> _))).toMap
    }

  /** A served batch of per-query term lists, ranked by [[topKOf]]; a
    * batch with no terms runs no job. Qids are distinct. */
  def topK(queries: Seq[(Int, Seq[String])])
          (hits: (Int, Long, Long, Array[(String, E)]) => Iterator[(Double, Long)]): DataFrame = {
    val qs = queries.collect { case (qid, ts) if ts.nonEmpty => qid -> ts.distinct }
    if (qs.isEmpty) ServedTopK.noHits(spark) else topKOf(_ => qs)(hits)
  }

  /** A served batch ranked in ONE Spark job of ONE stage: one `runJob`
    * straight over the resident doc partitions, every one of them,
    * building no RDD. Every doc partition resolves `terms` — each qid's
    * distinct terms, out of the partition's copy of the store's
    * dictionary when the request expands patterns, so every partition
    * resolves the same lists — and runs `hits` (qid, lo, hi, entries) =>
    * (score, doc_id) once per qid that has any of its terms in the
    * partition, over the partition's entries of those terms (absent
    * terms yield nothing) and its range [lo, hi) (the range is the
    * task's partition id), keeping a heap of k per qid
    * ([[ServedTopK.bestPerQid]]); the driver gets back at most
    * partitions x qids x k rows and [[ServedTopK.merge]]s them. EAGER:
    * returns a local `(qid, rank, doc_id, score)` frame in (qid, rank)
    * order. `terms` lists each qid once. */
  def topKOf(terms: TermDict => Seq[(Int, Seq[String])])
            (hits: (Int, Long, Long, Array[(String, E)]) => Iterator[(Double, Long)]): DataFrame = {
    val k = cfg.topK; val bs = bounds; val ns = shards; val h = hits
    val heaps = spark.sparkContext.runJob(docs, (tc: TaskContext, parts: Iterator[Sized[ShardCache.Part[E]]]) => {
      val (lo, hi) = ShardCache.span(bs, tc.partitionId())
      parts.flatMap { p =>
        val part = p.value
        ServedTopK.bestPerQid(terms(part.dict).iterator.flatMap { case (qid, ts) =>
          val es = ts.flatMap(t => part.byShard(BM25.termShard(t, ns)).get(t).map(t -> _)).toArray
          if (es.isEmpty) Iterator.empty else h(qid, lo, hi, es).map { case (s, d) => (qid, s, d) }
        }, k)
      }.toArray
    })
    ServedTopK.merge(spark, heaps.flatten, k)
  }

  /** The doc partitions' resident bytes (memory + disk) and fill
    * seconds, under the cache's label. */
  def caches: Seq[Wand.CacheStat] = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    pinned.toSeq.map(rdd => Wand.CacheStat(label, bytes.getOrElse(rdd.id, 0L), fillS))
  }

  /** Releases the doc partitions without blocking (see [[Wand.memoHandle]]). */
  def close(): Unit = if (!spark.sparkContext.isStopped) pinned.foreach(GraftRddBridge.release)
}

private[query] object ShardCache {

  /** Doc range r of `bounds`: [lo, hi), Long.MinValue / Long.MaxValue
    * standing for an open end. */
  def span(bounds: Array[Long], r: Int): (Long, Long) =
    (if (r == 0) Long.MinValue else bounds(r - 1), if (r >= bounds.length) Long.MaxValue else bounds(r))

  /** One doc partition: the store's whole term dictionary
    * ([[TermDict.empty]] when the cache keeps none) and, per shard, one
    * `term -> entry` map of the terms with docs in its range. */
  final class Part[E](val dict: TermDict, val byShard: Array[Map[String, E]]) extends Serializable
}
