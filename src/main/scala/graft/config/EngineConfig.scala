package graft.config

/** Engine settings — the Spark-era analogue of the reference's
  * `MigrationSettings` (/root/reference/Models/MigrationSettings.cs:15-84)
  * including its `require`-battery validation
  * (/root/reference/Validators/MigrationSettingsValidator.cs:21-83).
  *
  * BM25 parameters are the Elasticsearch 7.x default similarity the
  * reference's ES index would use (k1=1.2, b=0.75 — public knowledge).
  */
final case class EngineConfig(
    // BM25 / scoring
    k1: Double = 1.2,
    b: Double = 0.75,
    topK: Int = 10,
    // segment layout
    blockSize: Int = 128,           // postings per compressed block
    // build partitioning
    shards: Int = 8,                // checkpointable independent build units
    buildPartitions: Int = 32,      // shuffle partitions inside a shard build
    // hot-term skew: a term whose postings exceed this count is salted
    // across ceil(df / saltTargetPostings) sub-runs
    saltTargetPostings: Long = 1L << 20,
    // serving: WAND runs per (query, doc-range) task and merges the
    // bounded top-k lists — per-task memory is the query's postings
    // within ONE range, never a whole hot term (ES-shard-style fan-out).
    // The RANGE COUNT is derived from index stats at serve time
    // (ceil(max term df / serveTargetPostings), capped at
    // serveMaxRanges), so the per-task decode bound is an invariant of
    // the config: corpus growth grows the fan-out, never the task.
    serveTargetPostings: Long = 1L << 16,
    serveMaxRanges: Int = 1024,
    // index_options (ES parity): text fields index positions by DEFAULT
    // (match_phrase works out of the box); opting out (ES
    // `index_options: freqs`) cuts ingest cost ~25-30% and staging
    // ~2.8x, and phrase queries against such an index fail loud —
    // exactly ES's "positions not indexed" error.
    storePositions: Boolean = true
) {
  // Reference-style settings validation
  // (/root/reference/Validators/MigrationSettingsValidator.cs:46-77):
  // every envelope is checked up front, not at failure time.
  require(k1 > 0 && k1 <= 10, s"k1 out of range: $k1")
  require(b >= 0 && b <= 1, s"b out of range: $b")
  require(topK >= 1 && topK <= 10000, s"topK out of range: $topK")
  require(blockSize >= 8 && blockSize <= 65536, s"blockSize out of range: $blockSize")
  require(shards >= 1 && shards <= 100000, s"shards out of range: $shards")
  require(buildPartitions >= 1, s"buildPartitions out of range: $buildPartitions")
  require(saltTargetPostings >= 16, s"saltTargetPostings too small: $saltTargetPostings")
  require(serveTargetPostings >= 16,
    s"serveTargetPostings too small: $serveTargetPostings")
  // fan-out cap: range assignment binary-searches the boundaries
  // (RangeSaltExpr), so deep fan-outs stay codegen-safe; the cap bounds
  // the quantile table and the per-query task count
  require(serveMaxRanges >= 1 && serveMaxRanges <= 65536,
    s"serveMaxRanges out of range: $serveMaxRanges")
}

object EngineConfig {
  val default: EngineConfig = EngineConfig()
}
