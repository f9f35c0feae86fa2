package graft.query

import scala.reflect.ClassTag

import org.apache.spark.{GraftRddBridge, TaskContext}
import org.apache.spark.GraftRddBridge.Sized
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SizeEstimator

import graft.config.EngineConfig
import graft.index.{Codec, IngestMarker, SegmentBuilder, SegmentRow}
import graft.query.BM25.PosEntry
import graft.query.ServedTopK.TermDict

/** The one executor-resident serving cache of an index, behind its
  * [[Wand.Handle]] and that handle's [[BM25.PhraseHandle]] view — the ES
  * shard layout, REPOSE's local index per data partition: the index is
  * partitioned by DOCUMENT, and every request goes to every partition. A
  * served request is small, so its latency is the fixed cost of each
  * Spark job and stage it runs; the index therefore stays RESIDENT, the
  * way ES keeps its term dictionary and postings loaded on its data
  * nodes. It reads only the index's `segments` and `stats` (and, with
  * more than one doc range, `docmap` for the range bounds): the
  * positions ride in the segment blocks (layout v4).
  *
  * One persisted (`MEMORY_AND_DISK`) RDD, built with no shuffle, no
  * join and no driver collect from one transient term-partitioned
  * gather: partition s reads `segments/shard=S` (shard =
  * pmod(xxhash64(term), shards), so ALL of a term's rows land in one
  * partition) through one narrow scan coalesced to one task and decodes
  * each term's rows ONCE into one doc-sorted [[PosEntry]] ([[entries]]):
  * its salted runs merged, its df the store's — sum(n_postings) over all
  * of its rows — and its block maxima computed under the serving stats
  * and config; plus the shard's terms sorted in [[ServedTopK.termOrder]]
  * with their df. The shard count comes from the index's OWN ingest
  * marker ([[SegmentBuilder.servingMarker]], which fails loud, before any
  * Spark job, on another layout or a missing build), never from a
  * caller config: a count that disagreed with the writer's would
  * silently prune to the wrong partition. The first job fills the gather
  * and reads the max df off it. Then the DOC PARTITIONS, one per doc
  * range of [[Wand.docRanges]] (from that max df — derived, not a knob):
  * range r's task reads every gathered shard (a narrow coalesce) and
  * keeps each entry cut exactly to its docs ([[PosEntry.within]]), block
  * maxima recomputed over the cut, so a partition holds, per shard, one
  * `term -> entry` map of every term with docs in the range; a request
  * finds a term's map by its shard. With one range nothing is cut: the
  * shard maps serve as gathered. Every doc partition also holds the
  * store's WHOLE term dictionary, one [[TermDict]] merged from the
  * shards' sorted runs (no task sorts the whole store), so a request
  * that expands patterns resolves them inside its scoring task
  * ([[topKOf]]). The gather is released once the doc partitions are
  * filled.
  *
  * Init cost: each shard task sizes its map and dictionary as it
  * gathers them (Spark's `SizeEstimator`, the walk the block store
  * would make) and caches them [[Sized]], so the block store takes the
  * figure. With one range, the one doc partition holds the maps as
  * gathered and adds up their sizes: its fill walks nothing but the
  * merge. With more ranges, each range's task reads the whole gather,
  * keeps its cut and sizes it, the ranges' tasks in parallel.
  *
  * Memory contract: the store's postings DECODED, as flat primitive
  * arrays per term — docs, doclens, position offsets, positions, block
  * maxima — one object per term, never one per posting, each posting
  * held once, in executor storage memory; R doc ranges hold R copies of
  * the dictionary's term array and dfs (the term strings are the maps'
  * keys). [[caches]] reports the size (Spark's `getRDDStorageInfo`) and
  * the seconds the fill took.
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
  * this cache. Its task function takes the `TaskContext`: Spark wraps
  * one that does not in a closure declared in `SparkContext`, whose
  * cleaning parses that whole class file on every request — 1–3 ms on
  * the perfbench `serve` index. On that index (local[4]) an empty
  * request job took 10.4 ms as `mapPartitionsWithIndex(…).collect()`
  * over the doc partitions, 7.6 ms as a `runJob` over that per-request
  * RDD and 3.5 ms as a `runJob` over the resident one. What stays per
  * request is the caller's collect of the returned local frame, about
  * 5.8 ms of Catalyst planning and SQL-execution events, which graft
  * cannot remove while served calls return a `DataFrame`. */
private[query] final class ShardCache(spark: SparkSession, indexDir: String, cfg: EngineConfig)
    extends AutoCloseable {
  val marker: IngestMarker = SegmentBuilder.servingMarker(indexDir)
  val (n, avgdl) = SegmentBuilder.readStats(spark, indexDir)
  private val shards = marker.shards
  // the doc partitions, pinned BEFORE their fill runs, so [[close]]
  // releases a half-filled cache too; and the seconds the fill took
  private var pinned: Option[RDD[_]] = None
  private var fillS = 0.0

  private def open(): (Int, Array[Long], RDD[Sized[ShardCache.Part]]) = {
    val sc = spark.sparkContext
    val table = spark.read.parquet(s"$indexDir/segments")
    val bs = cfg.blockSize; val k1 = cfg.k1; val b = cfg.b; val avg = avgdl
    // each shard map and its sorted dictionary, sized where they are
    // gathered, so the shard tasks size the store in parallel and a doc
    // partition that holds them as gathered adds their sizes up instead
    // of walking them again
    val byTerm = sc.union((0 until shards).map(s =>
        table.filter(table("shard") === s).coalesce(1).as(Encoders.product[SegmentRow]).rdd))
      .mapPartitionsWithIndex { (s, rows) =>
        val m = ShardCache.entries(rows, bs, k1, b, avg)
        val dict = TermDict(m.iterator.map { case (t, e) => t -> e.df })
        Iterator(new Sized((s, m, dict), SizeEstimator.estimate((m, dict))))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the first job fills the gather and reads the max df off it
      val maxDf = byTerm.map(_.value._2.valuesIterator.map(_.df).foldLeft(0L)(math.max)).fold(0L)(math.max)
      val (ranges, bounds) = Wand.docRanges(spark, indexDir, cfg, maxDf)
      val docs = sc.union((0 to bounds.length).map { r =>
        val (lo, hi) = ShardCache.span(bounds, r)
        val whole = bounds.isEmpty
        byTerm.coalesce(1).mapPartitions { ms =>
          val byShard = ms.toArray.sortBy(_.value._1)
          // the shards' sorted runs merged: no task sorts the whole store
          val dict = TermDict.merge(byShard.map(_.value._3).toSeq)
          // one range holds every doc: the shard maps serve as gathered
          Iterator(if (whole) new Sized(new ShardCache.Part(dict, byShard.map(_.value._2)), byShard.map(_.estimatedSize).sum)
          else {
            val cuts = byShard.map(_.value._2.flatMap { case (t, e) =>
              e.within(lo, hi).map(c => t -> (if (c eq e) e else c.withBlockMax(bs, k1, b, avg)))
            })
            new Sized(new ShardCache.Part(dict, cuts), SizeEstimator.estimate((cuts, dict)))
          })
        }
      })
      docs.setName(Wand.cacheName(indexDir)).persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
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
  def onDictionary[A: ClassTag](f: TermDict => A): A =
    spark.sparkContext.runJob(docs, (_: TaskContext, ps: Iterator[Sized[ShardCache.Part]]) =>
      f(ps.next().value.dict), Seq(0)).head

  /** df of each of `terms` the store holds: one [[onDictionary]] job. */
  def dfOf(terms: Seq[String]): Map[String, Long] =
    if (terms.isEmpty) Map.empty
    else {
      val ts = terms.distinct
      onDictionary(d => ts.flatMap(t => d.df(t).map(t -> _))).toMap
    }

  /** A served batch of per-qid queries, ranked by [[topKOf]]; a batch in
    * which no query reads a term runs no job. Qids are distinct. */
  def topK[Q](queries: Seq[(Int, Q)], terms: Q => Seq[String])
             (hits: (Q, Array[(String, PosEntry)]) => Iterator[(Double, Long)]): DataFrame = {
    val qs = queries.filter(q => terms(q._2).nonEmpty)
    if (qs.isEmpty) ServedTopK.noHits(spark) else topKOf(_ => qs, terms)(hits)
  }

  /** A served batch ranked in ONE Spark job of ONE stage: one `runJob`
    * straight over the resident doc partitions, every one of them,
    * building no RDD. Every doc partition resolves `queries` — out of
    * the partition's copy of the store's dictionary when the request
    * expands patterns, so every partition resolves the same queries, each
    * qid once — and runs `hits` (query, entries) => (score, doc_id) once
    * per qid that has any of its `terms` in the partition, over the
    * partition's entries of those terms (absent terms yield nothing),
    * keeping a heap of k per qid ([[ServedTopK.bestPerQid]]); the driver
    * gets back at most partitions x qids x k rows and
    * [[ServedTopK.merge]]s them. EAGER: returns a local
    * `(qid, rank, doc_id, score)` frame in (qid, rank) order. */
  def topKOf[Q](queries: TermDict => Seq[(Int, Q)], terms: Q => Seq[String])
               (hits: (Q, Array[(String, PosEntry)]) => Iterator[(Double, Long)]): DataFrame = {
    val k = cfg.topK; val ns = shards; val h = hits; val ts = terms
    val heaps = spark.sparkContext.runJob(docs, (_: TaskContext, parts: Iterator[Sized[ShardCache.Part]]) => {
      parts.flatMap { p =>
        val part = p.value
        ServedTopK.bestPerQid(queries(part.dict).iterator.flatMap { case (qid, q) =>
          val es = ts(q).flatMap(t => part.byShard(BM25.termShard(t, ns)).get(t).map(t -> _)).toArray
          if (es.isEmpty) Iterator.empty else h(q, es).map { case (s, d) => (qid, s, d) }
        }, k)
      }.toArray
    })
    ServedTopK.merge(spark, heaps.flatten, k)
  }

  /** The doc partitions' resident bytes (memory + disk) and fill
    * seconds. */
  def caches: Seq[Wand.CacheStat] = {
    val bytes = spark.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    pinned.toSeq.map(rdd => Wand.CacheStat("wand", bytes.getOrElse(rdd.id, 0L), fillS))
  }

  /** Releases the doc partitions without blocking (see [[Wand.handleFor]]). */
  def close(): Unit = if (!spark.sparkContext.isStopped) pinned.foreach(GraftRddBridge.release)
}

private[query] object ShardCache {

  /** Doc range r of `bounds`: [lo, hi), Long.MinValue / Long.MaxValue
    * standing for an open end. */
  def span(bounds: Array[Long], r: Int): (Long, Long) =
    (if (r == 0) Long.MinValue else bounds(r - 1), if (r >= bounds.length) Long.MaxValue else bounds(r))

  /** One doc partition: the store's whole term dictionary and, per
    * shard, one `term -> entry` map of the terms with docs in its range. */
  final class Part(val dict: TermDict, val byShard: Array[Map[String, PosEntry]]) extends Serializable

  /** One shard's segment rows decoded per term into one doc-sorted
    * [[PosEntry]]: every block of every run, its runs merged, its df
    * sum(n_postings) over the term's rows (a row without blocks still
    * counts), its block maxima under the serving `k1`, `b` and `avgdl`
    * per `blockSize` postings. */
  def entries(rows: Iterator[SegmentRow], blockSize: Int, k1: Double, b: Double,
              avgdl: Double): Map[String, PosEntry] =
    rows.toArray.groupBy(_.term).map { case (t, rs) =>
      val e = new PosEntry.Builder
      rs.sortBy(r => (r.salt, r.row_seq)).foreach(_.blocks.foreach { bl =>
        val d = Codec.decodeFlat(bl.block)
        var i = 0; var off = 0
        while (i < bl.n) {
          val tf = d.tfs(i).toInt
          e.add(d.docs(i), d.dls(i), tf, d.positions, off)
          off += tf
          i += 1
        }
      })
      t -> e.result(rs.map(_.n_postings).sum, s"segments of term <$t>").withBlockMax(blockSize, k1, b, avgdl)
    }
}
