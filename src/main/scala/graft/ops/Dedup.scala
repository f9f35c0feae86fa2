package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analyze.CodeTokenizer

/** Deduplication operators for training-data pipelines: exact
  * (content-hash), n-gram Jaccard (exact pairwise), MinHash+LSH
  * (approximate, band-bucketed — the 100 TB path), and SimHash.
  *
  * Scale notes: exact dedup is one hash agg; MinHash is one explode +
  * one hash agg (64 `min` slots, map-side combined) + a band explode
  * whose self-join only materializes same-bucket pairs — never the
  * O(n^2) pair space. Verification joins run on the candidate set only.
  */
object Dedup {

  /** Word 3-gram shingles over analyzer tokens (order-preserving).
    * Native sliding-window expression; semantics equal to the
    * transform/sequence/element_at form (tested), ~100x faster. */
  def shinglesCol(tokens: Column): Column = shinglesColN(tokens, 3)

  def shinglesColN(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.toColumn(
      graft.analyze.ShinglesExpr(GraftColumnBridge.toExpression(tokens), n))
  }

  /** (doc_id, shingle) distinct. */
  def shingleTable(docs: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    docs.select(idCol.cast("long").as("doc_id"),
        explode(shinglesCol(CodeTokenizer.tokensColFast(contentCol))).as("shingle"))
      .distinct()

  /** Exact dedup: keep the lowest id per content hash. */
  def exact(docs: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    docs.groupBy(md5(contentCol).as("fp"))
      .agg(min(idCol.cast("long")).as("doc_id"), count(lit(1)).as("copies"))
      .select("doc_id", "copies", "fp")

  /** MinHash signatures straight from the per-doc shingle array — one
    * narrow map ([[MinHashSigExpr]]), no explode, no shuffle. Input
    * needs (doc_id, sh: array&lt;string&gt;). */
  def minhashSignatures(docsWithShingles: DataFrame, numHashes: Int): DataFrame =
    docsWithShingles.select(col("doc_id"),
      MinHashSigExpr.sigCol(col("sh"), numHashes).as("sig"))

  /** (bands, rowsPerBand) derived from the requested threshold: the
    * largest rowsPerBand r (fewest false candidates) whose candidate
    * recall 1-(1-J^r)^b is >= 0.99 at jDetect = min(0.95, t + 0.25).
    * Contract: pairs at J >= jDetect are found essentially always;
    * pairs in [t, jDetect) surface with probability 1-(1-J^r)^b and are
    * verified exactly when found (output precision is always 1 — the
    * exact-Jaccard verification step filters every candidate). */
  def lshPlan(threshold: Double, numHashes: Int): (Int, Int) = {
    require(threshold > 0 && threshold <= 1, s"threshold out of range: $threshold")
    val jDetect = math.min(0.95, threshold + 0.25)
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    val r = divisors.reverse.find { r =>
      1.0 - math.pow(1.0 - math.pow(jDetect, r), (numHashes / r).toDouble) >= 0.99
    }.getOrElse(1)
    (numHashes / r, r)
  }

  /** LSH banding: candidate pairs sharing any (band, band-hash) bucket.
    * bands * rowsPerBand must equal the signature length. */
  def lshCandidates(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = sig.select(col("doc_id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))).as(Seq("band", "key")))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Full MinHash+LSH near-dup pipeline: per-doc signatures (narrow
    * map), banded bucket self-join for candidates, exact set-Jaccard
    * verification via array_intersect on the candidates' shingle
    * arrays. Three light shuffles total (band self-join + two candidate
    * joins back to arrays); never the O(n^2) pair space, never a
    * corpus-wide exploded-shingle aggregation. Banding (bands,
    * rowsPerBand) is derived from `threshold` — see [[lshPlan]]. */
  def minhashNearDups(docs: DataFrame, idCol: Column, contentCol: Column,
                      threshold: Double, numHashes: Int = 64): DataFrame = {
    val (bands, rowsPerBand) = lshPlan(threshold, numHashes)
    // ONE tokenize+shingle pass over the corpus, cached as distinct
    // arrays (MinHash is duplicate-blind, so signatures come off the
    // distinct form too); all three consumers below reuse the cache.
    // Shingle-less docs (< n tokens) are excluded up front: their empty
    // arrays would all share the identical all-MaxValue signature and
    // collide in EVERY band, materializing O(m^2) candidate pairs for m
    // short docs (whose 0/0 Jaccard is NaN, not a match) — the exact
    // quadratic blowup LSH exists to avoid. A doc with no shingles has
    // no definable set-Jaccard neighbors, so dropping it is semantics-
    // preserving, not an approximation.
    // the MinHash signature rides the SAME persisted frame as the
    // shingle arrays: lshCandidates references its banded input from
    // both sides of the self-join, so a signature computed outside the
    // cache would evaluate once per side (64 hash slots x shingles,
    // twice) — materializing it here computes it exactly once per doc
    val arrs = docs.select(idCol.cast("long").as("doc_id"),
        array_distinct(shinglesCol(CodeTokenizer.tokensColFast(contentCol))).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", MinHashSigExpr.sigCol(col("sh"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cand = lshCandidates(arrs.select("doc_id", "sig"), bands, rowsPerBand)
      // exact verification on candidates only: set semantics
      val out = cand
        .join(arrs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(arrs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
      // materialize the (small) verified pair set before releasing the cache
      out.localCheckpoint(eager = true)
    } finally { arrs.unpersist(); () }
  }

  /** Connected components over an undirected near-dup edge list
    * (id_a, id_b) via alternating LARGE-STAR / SMALL-STAR contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm): every round is two edge-set
    * aggregations + joins (never the corpus), and the edge set contracts
    * toward a star forest rooted at each component's min doc_id in
    * O(log diameter) rounds — a diameter-10^6 chain converges in ~20
    * rounds where plain min-label propagation needs 10^6.
    *  - large-star(x): every neighbor GREATER than x re-points at
    *    min(N(x) ∪ x)
    *  - small-star(u), edges oriented toward their larger endpoint:
    *    u and its smaller neighbors all re-point at their min
    * Both steps preserve connectivity and never raise a vertex's
    * smallest reachable id; the fixed point is the star forest. Output:
    * (doc_id, canonical) for every vertex of the edge list, canonical =
    * min doc_id of its component. */
  /** Edge-count threshold below which [[components]] solves locally: a
    * driver union-find over the (deduped, canonical) edge list. 2^20
    * edges = ~16 MB of longs — far below driver headroom, far above any
    * per-round fixed cost the distributed loop would amortize. Above
    * it, star contraction runs distributed; near-dup graphs at corpus
    * scale are usually far SPARSER than the corpus, so the local path
    * also serves as the common fast path after LSH verification. */
  val LocalComponentsMaxEdges: Long = 1L << 20

  def components(edges: DataFrame, maxRounds: Int = 50,
                 localMaxEdges: Long = LocalComponentsMaxEdges): DataFrame = {
    // canonical (u > v) orientation, self-loops split out (a self-loop
    // names a vertex that must appear in the output but adds no edge)
    val selfVerts = edges.filter(col("id_a") === col("id_b"))
      .select(col("id_a").as("doc_id")).distinct()
    var cur = edges
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = true)
    val nEdges = cur.count()
    if (nEdges <= localMaxEdges)
      return componentsLocal(cur, selfVerts)
    // edge-set signature for the fixed-point test: (count, order-
    // independent hash XOR — edges are distinct, and xor never
    // overflows under ANSI mode) — one tiny agg per round
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var s = sig(cur)
    var round = 0
    var converged = s._1 == 0
    while (!converged && round < maxRounds) {
      // LARGE-STAR: per node x over both directions, larger neighbors
      // re-point at m = min(N(x) ∪ x)
      val sym = cur.select(col("u").as("x"), col("v").as("nbr"))
        .unionAll(cur.select(col("v").as("x"), col("u").as("nbr")))
      val mins = sym.groupBy("x").agg(min("nbr").as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      val large = sym.join(mins, "x")
        .filter(col("nbr") > col("x") && col("nbr") =!= col("m"))
        .select(col("nbr").as("u"), col("m").as("v"))
        .distinct()
      // SMALL-STAR: edges already oriented u > v; u and all its smaller
      // neighbors re-point at their min
      val minsS = large.groupBy("u").agg(min("v").as("m"))
      val next = large.join(minsS, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // v > m by minimality
        .unionAll(minsS.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(eager = true) // truncate per-round lineage
      val s2 = sig(next)
      converged = s2 == s
      s = s2
      cur = next
      round += 1
    }
    // fail loud: silently returning non-converged labels would split
    // one true component into several with no signal
    if (!converged)
      throw new IllegalStateException(
        s"components() did not converge within $maxRounds rounds — " +
          "star contraction needs O(log diameter); raise maxRounds")
    // fixed point = star forest: every edge is (member, root)
    cur.select(col("u").as("doc_id"), col("v").as("canonical"))
      .unionAll(cur.select(col("v").as("doc_id"), col("v").as("canonical")))
      .unionAll(selfVerts.withColumn("canonical", col("doc_id")))
      .groupBy("doc_id").agg(min("canonical").as("canonical"))
  }

  /** Driver union-find (path halving + union by min) over a BOUNDED
    * collected edge list — the sub-threshold fast path of
    * [[components]]. Identical output contract: (doc_id, canonical =
    * min reachable id) for every vertex. */
  private def componentsLocal(cur: DataFrame, selfVerts: DataFrame): DataFrame = {
    val spark = cur.sparkSession
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // min id becomes the root = the canonical doc
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val verts = new java.util.HashSet[Long]()
    cur.select("u", "v").collect().foreach { r =>
      val u = r.getLong(0); val v = r.getLong(1)
      verts.add(u); verts.add(v); union(u, v)
    }
    selfVerts.collect().foreach(r => verts.add(r.getLong(0)))
    val out = new Array[(Long, Long)](verts.size)
    var i = 0
    val it = verts.iterator()
    while (it.hasNext) { val x = it.next(); out(i) = (x, find(x)); i += 1 }
    out.toSeq.toDF("doc_id", "canonical")
  }

  /** Near-dup clusters at `threshold`: MinHash+LSH pairs, then
    * connected components; one row per clustered doc with its
    * canonical (min) doc_id and the cluster size. */
  def nearDupClusters(docs: DataFrame, idCol: Column, contentCol: Column,
                      threshold: Double, numHashes: Int = 64): DataFrame = {
    val pairs = minhashNearDups(docs, idCol, contentCol, threshold, numHashes)
    val comp = components(pairs.select("id_a", "id_b"))
    val sizes = comp.groupBy("canonical").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "canonical")
      .select(col("doc_id"), col("canonical"), col("cluster_size"))
  }

  // --- embedding-cosine near-dup ----------------------------------------------

  /** Embedding-cosine near-dup pairs (cos >= threshold), EXACT: a
    * broadcast nested-loop self-join with the native cosine expression.
    * Like [[shingleTable]]-based n-gram Jaccard for the MinHash path,
    * this is the exactness anchor at verification scale — the DuckDB
    * oracle computes the identical fold, bit-equal. The 100 TB path is
    * [[embedNearDupsLsh]]. */
  /** Ascending-index dot product — the exact accumulation of
    * [[CosineSimExpr]]/[[DotProductExpr]], shared by the pair scan. */
  private def dotAsc(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def embedNearDups(embeddings: DataFrame, threshold: Double): DataFrame = {
    // The exact O(n^2) anchor as a broadcast pair SCAN instead of a
    // broadcast nested-loop JOIN: the join materialized every pair as a
    // row carrying BOTH vectors (n^2/2 x 2 x dims x 8 bytes of copies)
    // before the cosine projection could discard it — the row churn,
    // not the flops, was the cost (guide §1.2 step 2). Here the
    // broadcast holds the same rows the join's build side broadcast
    // (documented non-scale-path boundedness; the 100 TB path stays
    // embedNearDupsLsh), each task loops its stream rows against it,
    // and only above-threshold pairs materialize.
    // Exactness: cos = dot / (sqrt(nasq) * sqrt(nbsq)) with every sum
    // accumulated ascending — the same IEEE expression, bit-equal to
    // the fused CosineSimExpr (property-tested in SimilaritySpec).
    // Length-mismatched pairs are skipped (the expression form nulled
    // them out of the filter identically). A zero-norm vector gives
    // cos = 0/0 = NaN, which Spark's and DuckDB's comparisons order
    // above every number, so NaN pairs pass the threshold. A null id
    // never pairs: in SQL, id_a < id_b is null for it, not true.
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .filter(col("vec_id").isNotNull)
      .as[(Long, Array[Double])]
    val all = e.collect().filter(_._2 != null).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(
      (all.map(_._1), all.map(_._2), all.map(t => math.sqrt(dotAsc(t._2, t._2)))))
    val thr = threshold
    e.mapPartitions { it =>
      val (ids, vecs, norms) = bc.value
      it.flatMap { case (idA, va) =>
        if (va == null) Iterator.empty
        else {
          val na = math.sqrt(dotAsc(va, va))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var j = 0
          while (j < ids.length) {
            if (ids(j) > idA && vecs(j).length == va.length) {
              val cos = dotAsc(va, vecs(j)) / (na * norms(j))
              if (java.lang.Double.isNaN(cos) || cos >= thr) out += ((idA, ids(j), cos))
            }
            j += 1
          }
          out.iterator
        }
      }
    }.toDF("id_a", "id_b", "cos")
  }

  /** Scale path: embedding near-dup candidates restricted to pairs
    * whose sign-pattern LSH buckets lie within Hamming distance
    * `probeRadius` (one side explodes to its probe ball, the bucket is
    * the join key — same-bucket shuffle join, never the O(n^2) pair
    * space), then exact-cosine verification on candidates only. Each
    * unordered pair surfaces exactly once (the id_a < id_b filter keeps
    * one orientation; XOR symmetry means no per-mask duplicates).
    * Recall is probabilistic in the LSH plan — asserted on clustered
    * corpora in DedupSpec against [[embedNearDups]]. */
  def embedNearDupsLsh(embeddings: DataFrame, threshold: Double,
                       nPlanes: Int = 8, probeRadius: Int = 1): DataFrame = {
    val b = Similarity.bucketed(embeddings, nPlanes)
    val masks = (0 until (1 << nPlanes)).filter(m => Integer.bitCount(m) <= probeRadius)
    val left = b.select(col("vec_id").as("id_a"), col("v").as("va"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bkt"))
    val right = b.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("bucket").as("bkt"))
    left.join(right, Seq("bkt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosineCol(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  // --- SimHash ---------------------------------------------------------------

  /** FNV-1a 64-bit — tiny, deterministic, public-domain hash for the
    * SimHash bit votes. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over tokens (tf-weighted bit votes). */
  def simhash64(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a64(t)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** (doc_id, simhash) via a typed map over analyzer tokens. */
  def simhashDf(docs: DataFrame, idCol: Column, contentCol: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(idCol.cast("long").as("doc_id"),
        CodeTokenizer.tokensColFast(contentCol).as("tokens"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) => (id, simhash64(toks)) }
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-dup candidates: block on 4x16-bit bands (any pair
    * within Hamming distance <= 3 shares at least one intact band), then
    * verify the true Hamming distance. */
  def simhashCandidates(sim: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bandExprs = (0 until 4).map(bnd => struct(lit(bnd).as("band"),
      shiftright(col("simhash"), bnd * 16).bitwiseAND(lit(0xffffL)).as("key")))
    val banded = sim.select(col("doc_id"), col("simhash"),
        explode(array(bandExprs: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
