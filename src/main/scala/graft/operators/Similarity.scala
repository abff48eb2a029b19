package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Random-hyperplane sign-LSH follows Charikar (2002); the IVF tier is
  * the inverted-file design of Sivic & Zisserman ("Video Google", 2003)
  * as popularized by FAISS (Johnson, Douze & Jégou, "Billion-scale
  * similarity search with GPUs", 2017) — centroid lists prune the
  * candidate set to nprobe/nlist of the corpus.
  *
  * Tiers:
  *  - [[cosineTopK]]: exact brute force — broadcast the (small) probe set
  *    against the corpus, rank with a per-probe window. The corpus is
  *    scanned once, never shuffled; cost is O(|probes| × |corpus| × dim)
  *    spread across all executors. Baseline and verifier.
  *  - [[signLshTopK]]: random-hyperplane sign-LSH — corpus and probes are
  *    bucketed by an h-bit sign signature; candidate generation joins on
  *    bucket equality so compared-pair volume scales with bucket occupancy.
  *    This is the 100 TB path (the IVF analogue: buckets = inverted lists).
  *    Recall is tunable via `hyperplanes` (fewer bits → bigger buckets →
  *    higher recall, more compute) and `probes` multi-bucket lookup.
  *
  * Hyperplanes are generated from a seeded deterministic hash (no RNG at
  * plan time), so results are reproducible run-to-run.
  */
object Similarity {

  /** Loud guard for the broadcast brute-force tiers: an unbounded probe
    * side would silently become a broadcast OOM at scale, so cap it and
    * fail with an actionable message. `limit(n+1).count()` bounds the
    * check's own cost — the scan short-circuits at maxProbes+1 rows. */
  private[operators] def requireBoundedProbes(
      probes: DataFrame, op: String, maxProbes: Int): DataFrame = {
    val n = probes.limit(maxProbes + 1).count()
    require(n <= maxProbes,
      s"$op: probe side exceeds maxProbes=$maxProbes (the probe set is " +
        "broadcast; an unbounded probe side is a broadcast OOM at scale). " +
        "Tighten probeFilter, raise maxProbes deliberately, or batch the " +
        "probe set and run the query per batch.")
    probes
  }

  /** Exact top-k cosine neighbors for each probe row.
    * Output: (probe_id, neighbor_id, rank), rank 1..k, self excluded,
    * ties broken by neighbor id for determinism. */
  def cosineTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      maxProbes: Int = 10000): DataFrame = {
    val probes = requireBoundedProbes(
      df.filter(probeFilter)
        .select(col(idCol).as("probe_id"), col(vecCol).as("_pv")),
      "cosineTopK", maxProbes)
    val corpus = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val scored = broadcast(probes)
      .join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
  }

  /** Exact top-k by MAXIMUM INNER PRODUCT — the recommender-retrieval
    * scoring ([[cosineTopK]]'s unnormalized sibling): user·item dot
    * product rewards large-norm items, so MIPS and cosine rank
    * DIFFERENTLY unless the corpus is L2-normalized (then they agree —
    * the classic reduction). Same bounded-probe broadcast against one
    * corpus scan; the corpus never shuffles.
    * Output: (probe_id, neighbor_id, rank), rank 1..k, self excluded,
    * ties broken by neighbor id. */
  def mipsTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      maxProbes: Int = 10000): DataFrame = {
    val probes = requireBoundedProbes(
      df.filter(probeFilter)
        .select(col(idCol).as("probe_id"), col(vecCol).as("_pv")),
      "mipsTopK", maxProbes)
    val corpus = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val scored = broadcast(probes)
      .join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("ip", VectorOps.dot(col("_pv"), col("_cv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("ip").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
  }

  /** Hard-negative mining for contrastive training (the in-batch-
    * negatives upgrade every two-tower / embedding-model recipe ships:
    * random negatives are too easy, so sample the nearest
    * OTHER-LABELED vectors — maximally confusing, maximally
    * informative gradients): per probe, exact top-k cosine neighbors
    * whose `labelCol` DIFFERS from the probe's. Same bounded-probe
    * broadcast against one corpus scan as [[cosineTopK]] — the label
    * inequality rides the broadcast-join condition, so mismatched
    * pairs are never materialized. The scale path swaps the corpus
    * scan for the IVF index exactly as s1 → s3 (mine within probed
    * cells, filter labels in the candidate list).
    * Output: (probe_id, probe_label, neighbor_id, neighbor_label,
    * rank), rank 1..k, ties to the smaller neighbor id. */
  def hardNegativesTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      probeFilter: Column,
      k: Int,
      maxProbes: Int = 10000): DataFrame = {
    val probes = requireBoundedProbes(
      df.filter(probeFilter)
        .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"),
          col(labelCol).as("probe_label")),
      "hardNegativesTopK", maxProbes)
    val corpus = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
      col(labelCol).as("neighbor_label"))
    val scored = broadcast(probes)
      .join(corpus, col("neighbor_label") =!= col("probe_label"))
      .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("probe_label"), col("neighbor_id"),
        col("neighbor_label"), col("rank").cast("int").as("rank"))
  }

  /** Bucketed k-NN self-JOIN — every vector's top-k cosine neighbors
    * WITHIN its h-bit sign-LSH bucket: the all-corpus neighbor-list
    * operator behind SemDeDup-style clustering and offline
    * recommendation candidates ([[cosineTopK]] serves a bounded probe
    * SET against the corpus; this serves the WHOLE corpus, which a
    * broadcast-probes plan cannot). The bucket key co-partitions the
    * self-join — ONE shuffle on the signature — and per-bucket work
    * is |bucket|², so buckets are CAPPED (the d3 `maxBucketSize`
    * discipline): an oversize bucket drops entirely rather than
    * detonating one task; a 100 TB run raises `h` (expected bucket
    * size halves per bit) before it raises the cap. Bucketing is
    * reproducible anywhere from the exported [[planeComponents]];
    * ranks use the native in-order double cosine with neighbor-id
    * tie-break, so the full output is deterministic. */
  def knnJoinBucketed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int = 64,
      h: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Int = 4096): DataFrame = {
    require(k >= 1 && maxBucketSize >= 2, s"bad k=$k / cap=$maxBucketSize")
    val sig = df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      signSignature(col(vecCol), dim, h, seed).as("_s"))
    val sizes = sig.groupBy(col("_s")).agg(count(lit(1)).as("_bsize"))
    val ok = sig.join(sizes, Seq("_s")).filter(col("_bsize") <= maxBucketSize)
    val a = ok.select(col("_s"), col("_id").as("probe_id"), col("_v").as("_pv"))
    val b = ok.select(col("_s"), col("_id").as("neighbor_id"), col("_v").as("_cv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    a.join(b, Seq("_s"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
  }

  /** Full hyperplane matrix as plain doubles — lets an oracle inline the
    * identical constants (the planes are a pure function of (h, dim,
    * seed), so the "engine-specific" signature is reproducible anywhere
    * once these are exported). */
  def planeComponents(dim: Int, h: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(h, dim)((p, d) => planeComponent(p, d, seed))

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a value in [-1, 1) derived from xxhash64 — seeded, engine-local. */
  private def planeComponent(plane: Int, d: Int, seed: Long): Double = {
    // splitmix64-style scramble of (plane, dim, seed) — public-domain mixer
    var z = seed + plane.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** Per-plane signed dot products (array<double>, one entry per plane):
    * bit i of the sign signature is sign(dots[i]), and |dots[i]| is the
    * margin of that bit — the multi-probe flip order flips low-margin
    * bits first (Lv et al., "Multi-probe LSH", VLDB 2007). */
  def planeDots(vecCol: Column, dim: Int, h: Int, seed: Long = 42L): Column =
    array((0 until h).map { p =>
      val planeArr = array((0 until dim).map(d => lit(planeComponent(p, d, seed))): _*)
      aggregate(
        zip_with(vecCol, planeArr, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
    }: _*)

  /** Fold a MATERIALIZED dot array into the h-bit signature Long. */
  private def sigFromDots(dots: Column, h: Int): Column =
    aggregate(
      zip_with(dots, sequence(lit(0), lit(h - 1)), (d, i) =>
        when(d >= 0d, call_function("shiftleft", lit(1L), i.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** h-bit sign signature of a vector under `h` seeded hyperplanes.
    * Bit i = sign(v · plane_i). Computed with one HOF pass per plane over
    * the array column; result is a Long bucket key. */
  def signSignature(vecCol: Column, dim: Int, h: Int, seed: Long = 42L): Column = {
    require(h <= 62, "signature must fit a Long")
    sigFromDots(planeDots(vecCol, dim, h, seed), h)
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    * out_i = (v · plane_i) / √outDim over the same seeded deterministic
    * hyperplanes as the sign-LSH tier — sign-LSH is exactly the 1-bit
    * quantization of this map. A storage/IO tier alongside int8
    * quantization: 64→16 dims is 4× fewer components, and downstream
    * cosine/top-k run unchanged on the projected column. Pure narrow
    * map, reproducible anywhere from the exported plane constants
    * ([[planeComponents]]) — division by a √ of an integer is one
    * correctly-rounded IEEE op, so any engine reproduces components
    * bit-exactly. */
  def randomProject(vecCol: Column, dim: Int, outDim: Int, seed: Long = 42L): Column =
    transform(planeDots(vecCol, dim, outDim, seed),
      d => d / sqrt(lit(outDim.toDouble)))

  /** Maximum useful `probes` for h hyperplanes: the base bucket, every
    * single-bit flip, and every two-bit flip. */
  def maxSignProbes(h: Int): Int = 1 + h + h * (h - 1) / 2

  /** XOR masks of the `probes` buckets to look up for one row, CHEAPEST
    * MISS FIRST: the base bucket (mask 0), then single-bit flips ordered
    * by ascending margin |dot|, then two-bit flips ordered by margin sum
    * — the standard multi-probe sequence (a near neighbor that misses
    * the base bucket most likely differs on the lowest-margin bits).
    * `dotsCol`/`flipCol` must be MATERIALIZED columns per the staging
    * contract (element_at inside the lambdas is then an O(1) array
    * access, not a recomputed subtree). */
  private def probeMasks(flipCol: Column, h: Int, probes: Int): Column = {
    def idxAt(i: Column) = element_at(flipCol, i + 1).getField("idx").cast("int")
    def confAt(i: Column) = element_at(flipCol, i + 1).getField("conf")
    def bit(i: Column) = call_function("shiftleft", lit(1L), idxAt(i))
    val base = array(struct(lit(0.0).as("score"), lit(0L).as("mask")))
    val singles = zip_with(flipCol, sequence(lit(0), lit(h - 1)), (s, _) =>
      struct(s.getField("conf").as("score"),
        call_function("shiftleft", lit(1L), s.getField("idx").cast("int")).as("mask")))
    val doubles = flatten(transform(sequence(lit(0), lit(h - 2)), i =>
      transform(sequence(i + 1, lit(h - 1)), j =>
        struct((confAt(i) + confAt(j)).as("score"),
          bit(i).bitwiseOR(bit(j)).as("mask")))))
    transform(slice(array_sort(concat(base, singles, doubles)), 1, probes),
      p => p.getField("mask"))
  }

  /** Candidate (probe, neighbor) rows of the multi-probe sign-LSH join —
    * exposed so the bench can report candidate volume next to recall.
    * Each neighbor appears at most once per probe: a corpus row has ONE
    * signature and the probed buckets are pairwise distinct, so no
    * dedup pass is needed. */
  def signLshCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      dim: Int,
      hyperplanes: Int,
      seed: Long = 42L,
      probes: Int = 1): DataFrame = {
    require(probes >= 1 && probes <= maxSignProbes(hyperplanes),
      s"probes=$probes must be in [1, ${maxSignProbes(hyperplanes)}] for $hyperplanes hyperplanes")
    val bucketed = df
      .withColumn("_dots", planeDots(col(vecCol), dim, hyperplanes, seed))
      .withColumn("_sig", sigFromDots(col("_dots"), hyperplanes))
    val corpus = bucketed
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"), col("_sig").as("_csig"))
    val probeSide =
      if (probes == 1)
        // single-probe: the only mask is 0 (the base bucket), so the
        // whole flip-staging + mask-sort machinery reduces to plain
        // signature equality — skip it (it cost s2 1.9× in round 4)
        bucketed.filter(probeFilter)
          .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"),
            col("_sig").as("_psig"))
      else
        // flip order staged as a column so probeMasks' element_at lambdas
        // index a materialized array
        bucketed.filter(probeFilter)
          .withColumn("_flip", array_sort(
            zip_with(col("_dots"), sequence(lit(0), lit(hyperplanes - 1)), (d, i) =>
              struct(abs(d).as("conf"), i.cast("long").as("idx")))))
          .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"),
            explode(transform(probeMasks(col("_flip"), hyperplanes, probes),
              m => col("_sig").bitwiseXOR(m))).as("_psig"))
    probeSide.join(corpus,
      col("_psig") === col("_csig") && col("probe_id") =!= col("neighbor_id"))
  }

  /** Approximate top-k: bucket corpus and probes by sign signature, join
    * bucket-to-bucket (equi-join → hash join, never a cross product),
    * rank within probe. `probes` > 1 enables multi-probe lookup: each
    * probe row also searches the buckets reached by flipping its
    * lowest-margin signature bits (cheapest misses first), trading
    * candidate volume for recall WITHOUT rebucketing the corpus —
    * probes = 1+h covers all single-bit flips (Hamming ≤ 1),
    * 1+h+h(h−1)/2 covers Hamming ≤ 2. Recall floors are asserted in
    * SimilaritySpec and measured per-round in the bench. */
  def signLshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      dim: Int,
      hyperplanes: Int = 8,
      seed: Long = 42L,
      probes: Int = 1): DataFrame = {
    val scored = signLshCandidates(df, idCol, vecCol, probeFilter, dim, hyperplanes, seed, probes)
      .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
  }

  /** Banded sign-LSH candidates — OR-amplification: `bands` INDEPENDENT
    * sign-signature tables (one seed per band), and a pair is a
    * candidate if ANY band's signatures collide. The classical
    * alternative to multi-probe (Indyk & Motwani 1998; MMDS ch. 3
    * banding): instead of searching more buckets of ONE table, build
    * more tables — collision probability amplifies as 1−(1−p^r)^L for
    * per-bit agreement p, which typically dominates multi-probe's
    * recall/candidate frontier on clustered (real) embeddings.
    * Measured on the fixture (UNCLUSTERED random vectors — the hardest
    * case): 5 tables × 4 bits reach recall 0.44 at 2.7k candidates vs
    * multi-probe's 0.60 at 3.0k, so multi-probe [[signLshTopK]] stays
    * the default here; prefer banding when the corpus is clustered or
    * when probe latency matters more than index size (banding pays
    * `bands`× signatures at INDEX time, multi-probe pays probe-time
    * flip staging per QUERY).
    * Generation stays hash-join shaped: both sides explode to
    * (band, signature) rows and equi-join, so compared-pair volume is
    * per-band bucket co-occupancy summed over bands — never n². Corpus
    * index cost is `bands` signatures per row (the storage/compute price
    * of OR-amplification; multi-probe keeps one). A pair colliding in
    * several bands appears once per colliding band — [[bandedSignTopK]]
    * dedups by (probe, neighbor) aggregation. */
  def bandedSignCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      dim: Int,
      bands: Int,
      bitsPerBand: Int,
      seed: Long = 42L): DataFrame = {
    require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 62)
    // band b's table uses seed+b: band 0 is exactly the single-table
    // signature (seed 42), so bands=1 degenerates to signLshCandidates
    val sigs = array((0 until bands).map(b =>
      signSignature(col(vecCol), dim, bitsPerBand, seed + b)): _*)
    val withSigs = df.withColumn("_bsigs", sigs)
    val corpus = withSigs
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"),
        posexplode(col("_bsigs")).as(Seq("_cband", "_csig")))
    val probes = withSigs.filter(probeFilter)
      .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"),
        posexplode(col("_bsigs")).as(Seq("_pband", "_psig")))
    probes.join(corpus,
      col("_pband") === col("_cband") && col("_psig") === col("_csig") &&
        col("probe_id") =!= col("neighbor_id"))
  }

  /** Top-k over banded sign-LSH candidates: score every (probe,
    * neighbor) candidate once (multi-band collisions dedup through the
    * aggregation — the cosine is identical in every copy, so max is
    * semantically a pick-one), then rank per probe. */
  def bandedSignTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      dim: Int,
      bands: Int = 4,
      bitsPerBand: Int = 4,
      seed: Long = 42L): DataFrame = {
    val scored = bandedSignCandidates(
        df, idCol, vecCol, probeFilter, dim, bands, bitsPerBand, seed)
      .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
  }

  /** Candidate-pair count per signature bucket — the observability hook
    * the scale tests assert on (Σ |bucket|² must be ≪ n²). */
  def bucketStats(df: DataFrame, vecCol: String, dim: Int, hyperplanes: Int, seed: Long = 42L): DataFrame =
    df.withColumn("_sig", signSignature(col(vecCol), dim, hyperplanes, seed))
      .groupBy(col("_sig"))
      .agg(count(lit(1)).as("bucket_size"))

  // --------------------------------------------------------------------
  // IVF (inverted-file) tier
  // --------------------------------------------------------------------

  /** Deterministic centroid sample: the `nlist` corpus vectors with the
    * smallest id-hash — stable across runs, no RNG, no k-means job (a
    * k-means refinement can swap in without changing the query shape). */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String, nlist: Int): DataFrame =
    df.withColumn("_h", xxhash64(col(idCol)))
      .orderBy(col("_h"), col(idCol))
      .limit(nlist)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))

  /** [[ivfCentroids]]'s SQL-reproducible twin: the `nlist` corpus
    * vectors ordered by the md5 sampling hex (identical string order in
    * any engine — the [[Sampling.uniformHex]] discipline the PQ codebook
    * sample already uses) instead of xxhash64. Use when downstream
    * artifacts must be replayed outside Spark — the residual-PQ tier's
    * codes depend on the assignment, so its oracle has to rebuild the
    * very same centroid set. */
  def ivfCentroidsMd5(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      salt: String = "ivfr"): DataFrame =
    df.orderBy(Sampling.uniformHex(col(idCol), salt), col(idCol))
      .limit(nlist)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))

  /** Lloyd refinement of IVF centroids: `iters` rounds of
    * assign-to-nearest + per-list mean. Each round is one narrow assign
    * pass (ivfAssign is shuffle-free) plus ONE small aggregation: the
    * native vector-sum aggregate partial-aggregates map-side, so the
    * exchange carries one array per (list, partition) — NOT the
    * dim-exploded corpus the previous posexplode formulation shuffled.
    * Empty lists keep their previous centroid.
    *
    * Centroid state lives on the DRIVER between rounds, the
    * [[pqRefineCodebooks]] shape (r17): the previous formulation
    * chained each round's centroid FRAME to the last through the
    * empty-list anti-join branch with nothing persisted, so round i's
    * centroid collect re-ran every prior round's corpus aggregation —
    * O(iters²) corpus passes in total, plus the caller's final
    * collect re-running the whole chain once more. Centroids are
    * maxNlist-bounded driver data by contract ([[collectCentroids]]'
    * guard), so each round now costs exactly ONE corpus aggregation,
    * empty-list carry-over is a driver-side map merge, and the result
    * returns as a LocalRelation the caller's collect reads for free.
    * Per-round math is unchanged (same assignment expression, same
    * vector-sum aggregate, same float cast), so refined centroids are
    * bit-identical to the chained form's. */
  def kmeansRefine(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int): DataFrame = {
    // zero rounds stays the identity — the caller's frame unchanged,
    // lazily, extra columns intact (the driver-state rewrite must not
    // silently turn a pass-through into a collect + normalize)
    if (iters == 0) return centroids
    val spark = df.sparkSession
    import spark.implicits._
    var cents = collectCentroids(centroids)
    for (_ <- 0 until iters) {
      val assigned = ivfAssignCollected(df, cents, idCol, vecCol)
      val means = assigned
        .groupBy(col("list_id"))
        // count(vecCol), not count(*): vecSum skips null vectors, so the
        // divisor must too, or centroids get biased toward zero
        .agg(VectorOps.vecSum(col(vecCol)).as("_vsum"), count(col(vecCol)).as("_n"))
        .select(col("list_id").cast("long").as("centroid_id"),
          transform(col("_vsum"), v => (v / col("_n")).cast("float")).as("centroid_vec"))
        .collect() // bounded: ≤ nlist rows (the collectCentroids contract)
      val refreshed = means.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      // lists that lost all members keep their old centroid
      cents = cents.map { case (id, v) => (id, refreshed.getOrElse(id, v)) }
    }
    cents.toSeq.toDF("centroid_id", "centroid_vec")
  }

  /** Assign every vector to its nearest centroid (highest cosine, ties to
    * the smallest centroid id).
    *
    * The centroid set is nlist-small by construction (an IVF index with
    * more than ~10^4 lists stops being an IVF index), so it is collected
    * once and inlined as literals: assignment becomes a pure per-row
    * `array_max` over struct(cos, -id) — a narrow map with NO join, NO
    * window, NO Exchange between the corpus scan and the list id. The
    * previous nested-loop-join + `row_number()` formulation shuffled a
    * corpus×nlist intermediate by id — a ~nlist× shuffle blow-up at scale. */
  def ivfAssign(df: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    ivfAssignCollected(df, collectCentroids(centroids), idCol, vecCol)

  /** Per-row array of struct(cos, -centroid_id) against the inlined
    * centroid set. The centroid matrix enters the plan as TWO literal
    * nodes (`typedlit` of the id array and of the vector matrix) zipped
    * with a HOF lambda — NOT nlist × dim individual `lit()` nodes, which
    * would blow up Catalyst analysis (and Janino codegen) around
    * nlist ≈ 10^3. Expression-tree size is O(1) in nlist; per-row eval
    * cost is the inherent O(nlist × dim). */
  private def centroidScores(cents: Array[(Long, Seq[Float])], vecCol: String): Column = {
    val ids = typedLit(cents.map(_._1).toSeq)
    val matrix = typedLit(cents.map(_._2).toSeq)
    zip_with(ids, matrix, (id, v) =>
      struct(VectorOps.cosineSim(col(vecCol), v).as("cos"), (-id).as("neg_id")))
  }

  /** Assignment against an already-materialized centroid set — lets
    * [[ivfTopK]] run the centroid job ONCE and reuse the result across
    * assign, refine, and probe ranking (at scale each centroid
    * re-computation is a full corpus scan). */
  def ivfAssignCollected(
      df: DataFrame,
      cents: Array[(Long, Seq[Float])],
      idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol),
      (-array_max(centroidScores(cents, vecCol)).getField("neg_id")).as("list_id"))

  /** [[ivfAssignCollected]] that also surfaces the winning cosine as
    * `list_cos` — the "how central is this row in its semantic
    * neighborhood" signal SemDeDup's keep-rule ranks on
    * ([[graft.operators.Dedup.semDedup]]). Same narrow shuffle-free
    * map; the struct max already carries the cosine, so this costs
    * nothing extra. */
  def ivfAssignScored(
      df: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val cents = collectCentroids(centroids)
    df.select(col(idCol), col(vecCol),
        array_max(centroidScores(cents, vecCol)).as("_best"))
      .select(col(idCol), col(vecCol),
        (-col("_best").getField("neg_id")).as("list_id"),
        col("_best").getField("cos").as("list_cos"))
  }

  /** Per-row top-`nprobe` nearest lists, EXPLODED: (idCol, vecCol,
    * list_id), nprobe rows per input row. A narrow map over the inlined
    * centroid matrix — no join, no window, no Exchange — shared by
    * [[ivfTopK]]'s probe side and the streaming embedding screen (which
    * re-probes each arriving micro-batch against a static index).
    * Ascending (cos, neg_id) reversed == (cos desc, centroid_id asc). */
  def ivfProbeLists(
      df: DataFrame,
      cents: Array[(Long, Seq[Float])],
      idCol: String,
      vecCol: String,
      nprobe: Int): DataFrame = {
    val topLists = slice(reverse(array_sort(centroidScores(cents, vecCol))), 1, nprobe)
    df.select(col(idCol), col(vecCol), explode(topLists).as("_sl"))
      .select(col(idCol), col(vecCol), (-col("_sl.neg_id")).as("list_id"))
  }

  /** Driver-side centroid materialization — bounded by nlist, which this
    * guard keeps honest. */
  def collectCentroids(centroids: DataFrame): Array[(Long, Seq[Float])] = {
    val rows = centroids
      .select(col("centroid_id").cast("long"), col("centroid_vec"))
      .limit(maxNlist + 1)
      .collect()
    require(rows.length <= maxNlist,
      s"ivfAssign: more than $maxNlist centroids — nlist must stay driver-small")
    rows.map(r => (r.getLong(0), r.getSeq[Float](1)))
  }

  private val maxNlist = 65536

  /** IVF top-k: probes search only their `nprobe` nearest inverted
    * lists. With nprobe == nlist this is exhaustive (equals
    * [[cosineTopK]] — the correctness anchor); with nprobe ≪ nlist,
    * compared-pair volume drops to ~(nprobe/nlist) × |corpus| per probe.
    * This is the scale path: lists are the unit of pruning, and a
    * 100 TB corpus only materializes candidates from probed lists. */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      nlist: Int,
      nprobe: Int,
      refineIters: Int = 0,
      maxProbes: Int = 10000): DataFrame = {
    val sampled = ivfCentroids(df, idCol, vecCol, nlist)
    val centroids =
      if (refineIters > 0) kmeansRefine(df, sampled, idCol, vecCol, refineIters)
      else sampled
    // ONE centroid materialization, reused by assignment and probe
    // ranking — at scale each re-computation of the centroid frame is a
    // full corpus scan (and was previously run 2-3x per query)
    val cents = collectCentroids(centroids)
    val assigned = ivfAssignCollected(df, cents, idCol, vecCol)

    // each probe picks its nprobe nearest lists — per-row array sort
    // over the inlined centroid set (no join, no window, no Exchange;
    // same shape as ivfAssignCollected, generalized to top-nprobe).
    // The probe side is later broadcast against the corpus, so it gets
    // the same loud cardinality guard as the brute-force tiers.
    val probeLists = ivfProbeLists(
      requireBoundedProbes(df.filter(probeFilter), "ivfTopK", maxProbes),
      cents, idCol, vecCol, nprobe)
      .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"), col("list_id"))

    // candidates = probed lists only (equi-join on list id, hash join)
    val corpus = assigned.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("_cv"), col("list_id"))
    val scored = broadcast(probeLists)
      .join(corpus, Seq("list_id"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
  }

  // --------------------------------------------------------------------
  // Product quantization (PQ) tier
  // --------------------------------------------------------------------

  /** Sampled PQ codebooks: the `ksub` corpus rows with the smallest
    * portable md5 draw ([[Sampling.uniformHex]], ties by id) each donate
    * their `m` subvectors — codebook(s)(j) = subvector s of sampled row
    * j. ENGINE-REPRODUCIBLE (the reason this is the oracled form): any
    * SQL engine re-derives the identical sample from md5 hex strings,
    * unlike k-means output, which depends on engine-local float
    * accumulation order. [[pqRefineCodebooks]] upgrades quality when
    * reproducibility-by-SQL is not required.
    *
    * Driver materialization is ksub rows — same bounded-metadata class
    * as [[collectCentroids]], same loud guard. */
  def pqSampledCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      salt: String = "pq"): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(ksub <= maxNlist, s"ksub=$ksub must stay driver-small (≤ $maxNlist)")
    val dsub = dim / m
    val rows = df
      .orderBy(Sampling.uniformHex(col(idCol), salt), col(idCol))
      .limit(ksub)
      .select(col(vecCol))
      .collect()
    require(rows.length == ksub,
      s"pqSampledCodebooks: corpus has only ${rows.length} rows, need ksub=$ksub")
    // float corpus vectors and double residual vectors both land here
    val full = rows.map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    Array.tabulate(m, ksub)((s, j) => full(j).slice(s * dsub, (s + 1) * dsub))
  }

  /** Squared-L2 distance between a materialized subvector column and an
    * inlined codeword, folded STRICTLY left-to-right in doubles (the
    * engine-portable summation order — 0.0 + x₁ ≡ x₁, so a fold from
    * zero equals a first-element-seeded reduce). */
  private def l2sq(sub: Column, cw: Column): Column =
    aggregate(
      zip_with(sub, cw, (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (a, b) => a + b)

  /** Append `_codes` (array<int>, length m): per subspace, the index of
    * the nearest codeword by squared L2, ties to the smallest index.
    * Subvectors are staged as a materialized column first (the HOF
    * staging contract — element_at inside the per-codeword lambdas is
    * then an O(1) array access), and each subspace's codebook enters the
    * plan as ONE typedlit matrix node, so expression-tree size is O(m)
    * regardless of ksub × dsub. Narrow map: no join, no shuffle. */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = dim / m
    val ksub = codebooks(0).length
    val subs = array((0 until m).map(s => slice(col(vecCol), s * dsub + 1, dsub)): _*)
    df.withColumn("_subs", subs)
      .withColumn("_codes", array((0 until m).map { s =>
        val ids = typedLit((0 until ksub).map(_.toLong))
        val mat = typedLit(codebooks(s).map(_.toSeq).toSeq)
        val sub = element_at(col("_subs"), s + 1)
        // max over struct(-dist, -idx) == (min dist, tie min idx) —
        // the centroidScores tie-break pattern
        (-array_max(zip_with(ids, mat, (j, cw) =>
          struct((-l2sq(sub, cw)).as("negd"), (-j).as("negj"))))
          .getField("negj")).cast("int")
      }: _*))
      .drop("_subs")
  }

  /** Reconstruction of a PQ-coded vector (array<double>, length dim):
    * the concatenation of each subspace's chosen codeword. This is what
    * ADC scores against — the fp32 corpus vector never rides the index.
    * m × log₂(ksub) bits per vector (m=4, ksub=16 → 16 bits vs 64×4
    * bytes fp32: 128× smaller index payload). */
  def pqReconstruct(codes: Column, codebooks: Array[Array[Array[Double]]]): Column =
    concat(codebooks.toSeq.zipWithIndex.map { case (cb, s) =>
      element_at(typedLit(cb.map(_.toSeq).toSeq),
        element_at(codes, s + 1) + 1)
    }: _*)

  /** Lloyd refinement of PQ codebooks — ONE narrow encode pass plus ONE
    * (subspace, code)-keyed aggregation per iteration REGARDLESS of m
    * (the per-subspace-loop alternative would scan the corpus m× per
    * iteration). The shuffle carries native vector-sum partials: one
    * array per (subspace, code, partition). Codewords that lost all
    * members keep their previous value. Output codebooks are
    * engine-LOCAL (float accumulation order) — use for quality; the
    * sampled codebooks remain the SQL-reproducible tier. */
  def pqRefineCodebooks(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      codebooks: Array[Array[Array[Double]]],
      iters: Int): Array[Array[Array[Double]]] = {
    val m = codebooks.length
    val dsub = dim / m
    var cur = codebooks
    for (_ <- 0 until iters) {
      val subs = array((0 until m).map(s => slice(col(vecCol), s * dsub + 1, dsub)): _*)
      val exploded = pqEncode(df.select(col(vecCol)), vecCol, dim, cur)
        .withColumn("_subs", subs)
        .select(posexplode(zip_with(col("_codes"), col("_subs"),
          (c, v) => struct(c.as("code"), v.as("sub")))).as(Seq("s", "cs")))
        .select(col("s"), col("cs.code").as("code"), col("cs.sub").as("sub"))
      val means = exploded
        .groupBy(col("s"), col("code"))
        .agg(VectorOps.vecSum(col("sub")).as("_vsum"), count(col("sub")).as("_n"))
        .select(col("s"), col("code"),
          transform(col("_vsum"), v => v / col("_n")).as("cw"))
        .collect() // bounded: ≤ m × ksub rows of dsub doubles
      val next = cur.map(_.map(identity)) // keep old codeword where no members
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      cur = next
    }
    cur
  }

  /** PQ top-k — asymmetric distance computation (ADC) over product-
    * quantized codes (Jégou, Douze & Schmid, "Product quantization for
    * nearest neighbor search", TPAMI 2011): the corpus is encoded once
    * into m sub-codes, probes stay full precision, and candidates are
    * ranked by cosine against the RECONSTRUCTED vectors. With sampled
    * codebooks (refineIters = 0) every step is engine-reproducible —
    * the oracled form (`s11`). `rerank > 0` adds the standard two-stage
    * refinement: top `rerank` by ADC score fetch fp32 vectors by id and
    * the final top-k is exact over that shortlist (identical to the s8
    * pattern; rerank ≥ |corpus| reproduces [[cosineTopK]] exactly).
    *
    * 100 TB: the index payload is m × log₂(ksub) bits per vector (128×
    * smaller than fp32 at m=4, ksub=16) — encode is a narrow map, and
    * scan IO over codes replaces scan IO over embeddings. This tier
    * composes with IVF the same way int8 does (codes inside lists).
    *
    * OPERATING-POINT WARNING: raw PQ over UNCLUSTERED vectors is near-
    * useless — on the uniform-random bench fixture recall@5 is ~0.04
    * (0.08 with re-rank), because codewords sampled from structureless
    * data carry almost no signal (Jégou et al. 2011 observe the same:
    * PQ exploits cluster structure). Real embedding corpora are
    * clustered and measure 1.0 on the clustered probe with a re-rank
    * sized to the cluster. On clustered data [[ivfTopKPqResidual]]
    * substantially lowers quantization distortion at identical index
    * bytes (bench `pq_clustered_res_recon_cos` 0.97 vs
    * `pq_clustered_recon_cos` 0.78); on genuinely uniform data NO PQ
    * variant helps — recon-cos sits near 0.4 either way, because that
    * data is incompressible from m·log₂(ksub) bits. If uniform-ish
    * data is a possibility, budget for the fp32 shortlist re-rank
    * (`rerank`) or the int8 tier ([[ivfTopKQuantized]]) instead. */
  def pqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      dim: Int,
      m: Int = 4,
      ksub: Int = 16,
      refineIters: Int = 0,
      rerank: Int = 0,
      maxProbes: Int = 10000): DataFrame = {
    val sampled = pqSampledCodebooks(df, idCol, vecCol, dim, m, ksub)
    val cb =
      if (refineIters > 0) pqRefineCodebooks(df, vecCol, dim, sampled, refineIters)
      else sampled
    val corpus = pqEncode(df, vecCol, dim, cb)
      .select(col(idCol).as("neighbor_id"), pqReconstruct(col("_codes"), cb).as("_rv"))
    val probes = requireBoundedProbes(df.filter(probeFilter), "pqTopK", maxProbes)
      .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"))
    val scored = broadcast(probes)
      .join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_q", VectorOps.cosineSim(col("_pv"), col("_rv")))
    val wq = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id").asc)
    if (rerank <= 0)
      scored
        .withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
    else {
      val shortlist = scored
        .withColumn("rank_q", row_number().over(wq))
        .filter(col("rank_q") <= rerank)
        .select(col("probe_id"), col("_pv"), col("neighbor_id"))
      val full = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      val wr = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      shortlist
        .join(full, Seq("neighbor_id"))
        .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
    }
  }

  /** IVF-PQ top-k — the full FAISS IVFPQ composition (Jégou et al.
    * 2011; Johnson, Douze & Jégou 2017): PQ codes live INSIDE the
    * inverted lists, so the index payload per vector is a list id plus
    * m sub-codes (m·log₂(ksub) bits — 128× under fp32 at m=4, ksub=16)
    * and probes scan only their `nprobe` lists, scoring candidates by
    * ADC against reconstructed codewords with full-precision queries.
    * This is the billion-scale retrieval shape: pruning bounds the rows
    * touched, quantization bounds the bytes per row.
    *
    * Anchor (oracled as `s12`): nprobe == nlist with rerank == 0 makes
    * the candidate set total, so the result is exhaustive ADC over
    * sampled codebooks — EXACTLY [[pqTopK]]'s oracled form; the s11 SQL
    * twin verifies the composed machinery (codes in lists, probe-list
    * join, reconstruction scoring) end to end. `rerank > 0` adds the
    * standard fp32 shortlist refinement (s8 pattern).
    *
    * `centroidSaltMd5 = Some(salt)` swaps the coarse-centroid sample
    * from xxhash64 ([[ivfCentroids]] — the s12 oracled default) to the
    * md5 sampler [[ivfCentroidsMd5]] with that salt. Exists so an A/B
    * against [[ivfTopKPqResidual]] (md5-sampled by construction — its
    * CODES depend on assignment) can run both tiers on the IDENTICAL
    * centroid set, leaving the residual encoding as the only variable;
    * round-8 advice flagged the bench comparison as confounded without
    * it. */
  def ivfTopKPq(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      dim: Int,
      nlist: Int,
      nprobe: Int,
      m: Int = 4,
      ksub: Int = 16,
      refineIters: Int = 0,
      rerank: Int = 0,
      maxProbes: Int = 10000,
      centroidSaltMd5: Option[String] = None): DataFrame = {
    val cents = collectCentroids(centroidSaltMd5 match {
      case Some(salt) => ivfCentroidsMd5(df, idCol, vecCol, nlist, salt)
      case None => ivfCentroids(df, idCol, vecCol, nlist)
    })
    val sampled = pqSampledCodebooks(df, idCol, vecCol, dim, m, ksub)
    val cb =
      if (refineIters > 0) pqRefineCodebooks(df, vecCol, dim, sampled, refineIters)
      else sampled
    // the index rows: (neighbor_id, list_id, codes) — fp32 never rides it
    val lists = pqEncode(ivfAssignCollected(df, cents, idCol, vecCol), vecCol, dim, cb)
      .select(col(idCol).as("neighbor_id"), col("list_id"), col("_codes"))
    val probeLists = ivfProbeLists(
      requireBoundedProbes(df.filter(probeFilter), "ivfTopKPq", maxProbes),
      cents, idCol, vecCol, nprobe)
      .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"), col("list_id"))
    val scored = broadcast(probeLists)
      .join(lists, Seq("list_id"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_q", VectorOps.cosineSim(
        col("_pv"), pqReconstruct(col("_codes"), cb)))
    val wq = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id").asc)
    if (rerank <= 0)
      scored
        .withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
    else {
      val shortlist = scored
        .withColumn("rank_q", row_number().over(wq))
        .filter(col("rank_q") <= rerank)
        .select(col("probe_id"), col("_pv"), col("neighbor_id"))
      val full = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      val wr = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      shortlist
        .join(full, Seq("neighbor_id"))
        .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
    }
  }

  /** Residual IVF-PQ top-k — IVF-PQ with the PQ stage quantizing the
    * RESIDUAL `vec − centroid(list)` instead of the raw vector (Jégou,
    * Douze & Schmid, TPAMI 2011, §III-C — the encoding FAISS's IVFPQ
    * uses by default). The coarse quantizer removes the between-list
    * component of every vector, so the codewords spend their
    * m·log₂(ksub) bits on the within-list spread.
    *
    * MEASURED operating points (bench `pq_res_*` keys + a synthetic
    * probe whose figures are recorded below; identical index bytes to
    * [[ivfTopKPq]]: list id + m codes either way):
    *  - CLUSTERED data (the realistic case, and §III-C's home turf):
    *    distortion drops hard — mean cosine(v, v̂) 0.78 → 0.97 on the
    *    bench clustered fixture at nlist = N/16 (synthetic probe:
    *    0.82 → 0.90/0.96/0.98 at nlist = N/16, N/8, N/4, monotone).
    *  - UNIFORM data: residual coding only helps once the coarse
    *    quantizer is fine enough — at nlist=16 on a 500-vector corpus
    *    recon-cos is ~equal to raw (0.39 vs 0.41) and ADC recall moves
    *    0.04 → 0.08; at nlist = N/8 distortion improves to 0.47. There
    *    is no free lunch here: uniform high-dim vectors are
    *    incompressible from m·log₂(ksub) bits, whatever the encoding —
    *    pair this tier with the fp32 `rerank` shortlist exactly as you
    *    would raw PQ.
    *  - DEGENERATE nlist caveat: as nlist → corpus size every vector
    *    becomes its own centroid, residuals → 0 and "recall" → 1.0 —
    *    but the index is then just the fp32 corpus under another name.
    *    Keep nlist ≪ N (the FAISS ~√N practice) and read recon-cos
    *    gains near nlist ≈ N as this artifact, not as quality.
    *
    * Everything is engine-reproducible when `refineIters == 0`
    * (oracled as `s14`): centroids are the md5-sampled rows
    * ([[ivfCentroidsMd5]] — xxhash64 isn't portable SQL, and unlike the
    * s12 anchor, exhaustive probing can NOT make assignment irrelevant
    * here because the CODES depend on it), assignment is argmax cosine
    * with ties to the smaller centroid id, residuals are exact double
    * subtractions, codebooks are md5-sampled residual rows, encode is
    * the strict left-fold L2 argmin, and candidates rank by cosine
    * against `centroid + reconstructed residual`. `rerank > 0` adds the
    * standard fp32 shortlist refinement (s8 pattern).
    *
    * 100 TB: identical plan shape to [[ivfTopKPq]] — centroid job once,
    * narrow encode, probes join only their `nprobe` lists; the residual
    * subtraction and the `centroid + r̂` reconstruction ride the rows as
    * HOF zips over the broadcast centroid map literal (no join added). */
  def ivfTopKPqResidual(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      dim: Int,
      nlist: Int,
      nprobe: Int,
      m: Int = 4,
      ksub: Int = 16,
      refineIters: Int = 0,
      rerank: Int = 0,
      maxProbes: Int = 10000,
      centroidSalt: String = "ivfr"): DataFrame = {
    val cents = collectCentroids(
      ivfCentroidsMd5(df, idCol, vecCol, nlist, centroidSalt))
    // centroid lookup by list id as ONE map literal (the typedlit
    // discipline of centroidScores — O(1) plan nodes in nlist)
    val centMap = typedLit(cents.map { case (id, v) =>
      id -> v.map(_.toDouble)
    }.toMap)
    val assigned = ivfAssignCollected(df, cents, idCol, vecCol)
      .withColumn("_res", zip_with(
        col(vecCol), element_at(centMap, col("list_id")),
        (v, c) => v.cast("double") - c))
    val sampled = pqSampledCodebooks(
      assigned, idCol, "_res", dim, m, ksub, salt = "pqr")
    val cb =
      if (refineIters > 0) pqRefineCodebooks(assigned, "_res", dim, sampled, refineIters)
      else sampled
    // index rows: (neighbor_id, list_id, codes) — fp32 never rides it
    val lists = pqEncode(assigned, "_res", dim, cb)
      .select(col(idCol).as("neighbor_id"), col("list_id"), col("_codes"))
    val probeLists = ivfProbeLists(
      requireBoundedProbes(df.filter(probeFilter), "ivfTopKPqResidual", maxProbes),
      cents, idCol, vecCol, nprobe)
      .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"), col("list_id"))
    val scored = broadcast(probeLists)
      .join(lists, Seq("list_id"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_q", VectorOps.cosineSim(
        col("_pv"), zip_with(
          element_at(centMap, col("list_id")),
          pqReconstruct(col("_codes"), cb),
          (c, r) => c + r)))
    val wq = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id").asc)
    if (rerank <= 0)
      scored
        .withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
    else {
      val shortlist = scored
        .withColumn("rank_q", row_number().over(wq))
        .filter(col("rank_q") <= rerank)
        .select(col("probe_id"), col("_pv"), col("neighbor_id"))
      val full = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      val wr = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      shortlist
        .join(full, Seq("neighbor_id"))
        .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
    }
  }

  /** Clusteredness diagnostic for the PQ tiers: mean cosine(v,
    * nearest-sampled-centroid) over a bounded md5-uniform sample of the
    * corpus. The PQ scaladoc warnings ("residual coding wins on
    * clustered data, no PQ variant helps on uniform data") previously
    * lived only in prose — this is the same signal as a NUMBER a
    * caller (or [[ivfTopKPqAuto]]) can branch on.
    *
    * Separation, measured on the bench fixtures (SimilaritySpec
    * asserts both sides): uniform-random 64-d embeddings ≈ 0.25–0.4
    * (the best of nlist random directions in 64-d is far from any
    * point); mixture-of-Gaussians at spread 0.5 ≈ 0.75–0.85 (a sampled
    * centroid is a cluster-mate: cos ≈ 1/(1+spread²)). The
    * [[ivfTopKPqAuto]] default threshold 0.6 sits between the bands.
    *
    * Cost: one centroid sample (nlist rows) + one TakeOrdered sample
    * of `sampleN` rows + one bounded aggregate — O(corpus scan), no
    * shuffle wider than the sample. Deterministic (md5 sampling both
    * times), so the steer is reproducible run-to-run. */
  def meanAssignmentCosine(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      sampleN: Int = 2048,
      centroidSalt: String = "ivfr"): Double = {
    require(sampleN > 0, s"sampleN must be positive, got $sampleN")
    val cents = collectCentroids(
      ivfCentroidsMd5(df, idCol, vecCol, nlist, centroidSalt))
    val row = df
      .orderBy(Sampling.uniformHex(col(idCol), s"$centroidSalt-diag"), col(idCol))
      .limit(sampleN)
      .select(array_max(centroidScores(cents, vecCol)).getField("cos").as("_c"))
      .agg(avg(col("_c")))
      .collect()(0)
    // avg over zero rows is null — surface "your corpus is empty (or
    // fully filtered)" instead of an opaque NPE from inside the steer
    // (round-9 advice; mirrors the bench's exact.nonEmpty require)
    require(!row.isNullAt(0),
      s"meanAssignmentCosine: input has no rows (empty or fully filtered " +
        s"corpus) — cannot steer the PQ tier")
    row.getDouble(0)
  }

  private val autoLog = org.slf4j.LoggerFactory.getLogger("graft.operators.Similarity")

  /** Self-steering IVF-PQ: measure [[meanAssignmentCosine]] on a
    * bounded sample, then run [[ivfTopKPqResidual]] when the corpus is
    * clustered (diagnostic ≥ `residualThreshold`) and [[ivfTopKPq]]
    * when it is not — the enforcement of the PQ tiers' documented
    * operating points (residual coding lifts clustered recon-cosine
    * 0.78 → 0.97 at equal bytes and does NOTHING on uniform data,
    * where the right spend is an fp32 `rerank` shortlist or the int8
    * tier instead). Both branches use the SAME md5-sampled centroid
    * set (`centroidSalt`), so the steer changes the ENCODING only,
    * never the probed lists. The chosen branch rides the output as a
    * `chose_residual` boolean (robust to cross-engine float noise —
    * the fixture diagnostics sit ≥ 0.15 from the threshold either
    * side, far beyond avg-accumulation ulp drift — so the steer is
    * oracle-checkable, `s15`); the diagnostic VALUE is logged, and on
    * the uniform branch with rerank == 0 the log warns that ADC ranks
    * will be near-noise. */
  def ivfTopKPqAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      dim: Int,
      nlist: Int,
      nprobe: Int,
      m: Int = 4,
      ksub: Int = 16,
      rerank: Int = 0,
      residualThreshold: Double = 0.6,
      diagnosticSampleN: Int = 2048,
      maxProbes: Int = 10000,
      centroidSalt: String = "ivfr"): DataFrame = {
    val diag = meanAssignmentCosine(
      df, idCol, vecCol, nlist, diagnosticSampleN, centroidSalt)
    val chosen = if (diag >= residualThreshold) {
      autoLog.info(
        f"ivfTopKPqAuto: mean assignment cosine $diag%.3f >= $residualThreshold%.2f " +
          "(clustered) - using residual IVF-PQ encoding")
      ivfTopKPqResidual(df, idCol, vecCol, probeFilter, k, dim, nlist, nprobe,
        m, ksub, refineIters = 0, rerank = rerank, maxProbes = maxProbes,
        centroidSalt = centroidSalt)
    } else {
      if (rerank <= 0)
        autoLog.warn(
          f"ivfTopKPqAuto: mean assignment cosine $diag%.3f < $residualThreshold%.2f " +
            "(uniform-ish corpus) with rerank=0 - ADC ranks over such data are " +
            "near-noise whatever the encoding; budget an fp32 rerank shortlist " +
            "or use ivfTopKQuantized")
      else
        autoLog.info(
          f"ivfTopKPqAuto: mean assignment cosine $diag%.3f < $residualThreshold%.2f " +
            s"(uniform-ish) - using raw-PQ encoding with rerank=$rerank")
      ivfTopKPq(df, idCol, vecCol, probeFilter, k, dim, nlist, nprobe,
        m, ksub, refineIters = 0, rerank = rerank, maxProbes = maxProbes,
        centroidSaltMd5 = Some(centroidSalt))
    }
    chosen.withColumn("chose_residual", lit(diag >= residualThreshold))
  }

  /** Quantized IVF top-k — the compressed-index retrieval tier: int8
    * codes live INSIDE the inverted lists (the fp32 vector never rides
    * the index), probes score candidates from probed lists against the
    * DEQUANTIZED codes with full-precision queries — asymmetric distance
    * computation, the IVF-SQ design of FAISS (Johnson, Douze & Jégou,
    * 2017). At 100 TB this is 4× less index storage and scan IO than
    * [[ivfTopK]] for a rank-quality cost bounded by the quantization
    * error (spec-measured).
    *
    * `rerank > 0` adds the standard two-stage refinement: the top
    * `rerank` candidates per probe by quantized score fetch their fp32
    * vectors by id (an equi-join against the corpus, shortlist-sized)
    * and the final top-k is exact over that shortlist. With
    * rerank ≥ |corpus| the result equals [[cosineTopK]] exactly.
    *
    * Anchors (oracled as `s8`): nprobe == nlist with rerank == 0 is
    * exhaustive ADC — brute force over dequantized codes, reproducible
    * bit-exactly by any engine from the explicit IEEE quantization ops
    * (see [[graft.functions.VectorOps.quantizeInt8]]). */
  def ivfTopKQuantized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      probeFilter: Column,
      k: Int,
      nlist: Int,
      nprobe: Int,
      rerank: Int = 0,
      refineIters: Int = 0,
      maxProbes: Int = 10000): DataFrame = {
    val sampled = ivfCentroids(df, idCol, vecCol, nlist)
    val cents = collectCentroids(
      if (refineIters > 0) kmeansRefine(df, sampled, idCol, vecCol, refineIters)
      else sampled)
    // scale staged as a column per the HOF contract; the list rows carry
    // (id, list, codes, scale) only — the 4× storage win is the point
    val lists = ivfAssignCollected(df, cents, idCol, vecCol)
      .withColumn("_qs", VectorOps.int8Scale(col(vecCol)))
      .select(col(idCol).as("neighbor_id"), col("list_id"),
        VectorOps.quantizeInt8(col(vecCol), col("_qs")).as("_q"), col("_qs"))
    val probeLists = ivfProbeLists(
      requireBoundedProbes(df.filter(probeFilter), "ivfTopKQuantized", maxProbes),
      cents, idCol, vecCol, nprobe)
      .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"), col("list_id"))
    val scored = broadcast(probeLists)
      .join(lists, Seq("list_id"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_q", VectorOps.cosineSim(
        col("_pv"), VectorOps.dequantizeInt8(col("_q"), col("_qs"))))
    val wq = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id").asc)
    if (rerank <= 0)
      scored
        .withColumn("rank", row_number().over(wq))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
    else {
      val shortlist = scored
        .withColumn("rank_q", row_number().over(wq))
        .filter(col("rank_q") <= rerank)
        .select(col("probe_id"), col("_pv"), col("neighbor_id"))
      val full = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
      val wr = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      shortlist
        .join(full, Seq("neighbor_id"))
        .withColumn("cos", VectorOps.cosineSim(col("_pv"), col("_cv")))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("rank").cast("int").as("rank"))
    }
  }
}
