package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IndexIo

/** Persisted ANN indexes: the build/serve split the text index already
  * has (indexes are built ONCE at DDL time, not per query — the
  * reference anchors this at /root/reference/Services/PostgreSQLService.cs:121-133).
  *
  * Both index families write their corpus-sized artifact PARTITIONED BY
  * the probe key, so a query is a partition-pruned read of `nprobe`
  * lists (IVF) or the Hamming ball's buckets (LSH) — never a corpus
  * map, never a k-means job, never a `.cache()` of the full corpus
  * inside a lookup. At 100 TB the build is a batch job with a
  * checkpoint marker (resume = no-op, SegmentBuilder-style lineage);
  * the query path's input is `corpus x nprobe/nlist`.
  *
  * Layout under `dir`:
  * {{{
  *   centroids/            IVF only: (list, centroid)  — nlist x dims, tiny
  *   assign/list=L/        IVF: (vec_id, label, v)     — partition-pruned probes
  *   buckets/bucket=B/     LSH: (vec_id, label, v)     — partition-pruned probes
  *   _built                atomic completion marker carrying the lineage
  * }}}
  */
object AnnIndex {

  final case class IvfConfig(nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 3)
  final case class LshConfig(nPlanes: Int = 8, probeRadius: Int = 2)

  // --- lineage + marker (the index write path's protocols, IndexIo) ------------

  /** Algorithm version, part of every lineage string: BUMP THIS whenever
    * the hashing/bucketing/centroid math changes (planeComponent mix
    * constants, bucketOf, k-means init/rounds semantics, artifact
    * layout). Probe-side code recomputes planes/centroid ranking at
    * query time, so an artifact built by older math would silently
    * mis-prune if the lineage did not change with the code. */
  val AlgoVersion = 1

  /** Build lineage: algo version + params + the source's parquet file
    * listing (names + sizes — filesystem metadata only, no data scan),
    * so a changed/appended corpus, changed build params, or changed
    * algorithm invalidates the artifact and an identical re-ensure is a
    * no-op. */
  def lineageOf(srcPath: String, params: String): String = {
    val f = new java.io.File(srcPath)
    val files = if (f.isDirectory) IndexIo.parquetFiles(f) else Array(f)
    IndexIo.sha256Hex(s"v$AlgoVersion|$params|files=${IndexIo.listing(files)}")
  }

  def builtDone(dir: String, lineage: String): Boolean = {
    val p = Paths.get(dir, "_built")
    Files.exists(p) && Files.readString(p) == lineage
  }

  /** Resume: build (with the lineage) unless `dir` already holds a
    * completed build of exactly this lineage. Returns true iff a build
    * ran NOW — resume evidence. */
  private def ensure(dir: String, lineage: String)(build: String => Unit): Boolean =
    if (builtDone(dir, lineage)) false else { build(lineage); true }

  /** The marker protocol of both builds: invalidate `_built` first (a
    * crash mid-overwrite must not look complete), write the artifact,
    * then commit the lineage atomically. */
  private def markedBuild(dir: String, lineage: String)(write: => Unit): Unit = {
    val marker = Paths.get(dir, "_built")
    Files.deleteIfExists(marker)
    write
    IndexIo.commitFile(marker, lineage)
  }

  private def normalized(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))

  // --- IVF-flat ------------------------------------------------------------------

  /** Train coarse centroids (distributed Lloyd — [[Similarity.kmeansCentroids]],
    * deterministic init) and persist centroids + the full assignment
    * table partitioned by `list`. One training job + one narrow
    * assignment map over the corpus, at BUILD time only. */
  def buildIvf(spark: SparkSession, embeddings: DataFrame, dir: String,
               cfg: IvfConfig = IvfConfig(), lineage: String = ""): Unit = {
    import spark.implicits._
    markedBuild(dir, lineage) {
      val e = normalized(embeddings)
      val centroids = Similarity.kmeansCentroids(e, cfg.nlist, cfg.kmeansIters)
      centroids.toSeq.map { case (l, c) => (l, c.toSeq) }
        .toDF("list", "centroid")
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
      val bc = centroids
      e.as[(Long, Int, Array[Double])]
        .map { case (id, label, v) => (id, label, v, bc.maxBy(c => Similarity.cos(c._2, v))._1) }
        .toDF("vec_id", "label", "v", "list")
        .write.mode(SaveMode.Overwrite).partitionBy("list").parquet(s"$dir/assign")
    }
  }

  /** Build unless an identical build already completed (see [[ensure]]). */
  def ensureIvf(spark: SparkSession, embeddings: => DataFrame, dir: String,
                srcPath: String, cfg: IvfConfig = IvfConfig()): Boolean =
    ensure(dir, lineageOf(srcPath, s"ivf|nlist=${cfg.nlist}|iters=${cfg.kmeansIters}"))(
      buildIvf(spark, embeddings, dir, cfg, _))

  /** Probe-only IVF query: rank the persisted centroids against the
    * query vector (nlist rows, driver-side), then read ONLY the nprobe
    * nearest lists — `list` is a partition column, so the scan is
    * partition-pruned (PlanSpec-guarded) — and score candidates by
    * exact cosine through the bounded top-k plan. No corpus job, no
    * cache, no k-means anywhere in the query path. */
  def ivfQuery(spark: SparkSession, dir: String, qv: Array[Double], k: Int,
               nprobe: Int = 4): DataFrame =
    Similarity.rankTopK(ivfCandidates(spark, dir, qv, nprobe), k)

  /** The scored probe frame of [[ivfQuery]] (exposed so PlanSpec can pin
    * the physical shape: one partition-pruned artifact read). */
  def ivfCandidates(spark: SparkSession, dir: String, qv: Array[Double],
                    nprobe: Int = 4): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val probeLists = centroids.sortBy(c => -Similarity.cos(c._2, qv))
      .take(nprobe).map(_._1).toSeq
    val qvCol = array(qv.map(lit): _*)
    spark.read.parquet(s"$dir/assign")
      .filter(col("list").isin(probeLists: _*)) // partition pruning
      .withColumn("cos", Similarity.cosineCol(qvCol, col("v")))
  }

  // --- random-hyperplane LSH -------------------------------------------------------

  /** Persist the sign-pattern bucket table partitioned by `bucket` —
    * one narrow map over the corpus at BUILD time. */
  def buildLsh(spark: SparkSession, embeddings: DataFrame, dir: String,
               cfg: LshConfig = LshConfig(), lineage: String = ""): Unit =
    markedBuild(dir, lineage) {
      Similarity.bucketed(embeddings, cfg.nPlanes) // normalizes internally
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(s"$dir/buckets")
    }

  def ensureLsh(spark: SparkSession, embeddings: => DataFrame, dir: String,
                srcPath: String, cfg: LshConfig = LshConfig()): Boolean =
    ensure(dir, lineageOf(srcPath, s"lsh|planes=${cfg.nPlanes}"))(
      buildLsh(spark, embeddings, dir, cfg, _))

  /** Probe-only multi-probe LSH query: the query's bucket and its
    * Hamming ball are pure driver-side arithmetic; candidates come from
    * a partition-pruned read of those buckets, ranked by exact cosine. */
  def lshQuery(spark: SparkSession, dir: String, qv: Array[Double], k: Int,
               cfg: LshConfig = LshConfig()): DataFrame =
    Similarity.rankTopK(lshCandidates(spark, dir, qv, cfg), k)

  /** The scored probe frame of [[lshQuery]] (exposed for PlanSpec). */
  def lshCandidates(spark: SparkSession, dir: String, qv: Array[Double],
                    cfg: LshConfig = LshConfig()): DataFrame = {
    val pl = Similarity.planes(cfg.nPlanes, qv.length)
    val qBucket = Similarity.bucketOf(qv, pl)
    val probeBuckets = (0 until (1 << cfg.nPlanes))
      .filter(m => Integer.bitCount(m) <= cfg.probeRadius)
      .map(m => qBucket ^ m)
    val qvCol = array(qv.map(lit): _*)
    spark.read.parquet(s"$dir/buckets")
      .filter(col("bucket").isin(probeBuckets: _*)) // partition pruning
      .withColumn("cos", Similarity.cosineCol(qvCol, col("v")))
  }
}
