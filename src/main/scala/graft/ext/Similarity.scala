package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and an IVF-style
  * bucketed variant as the scale path.
  *
  * Scale design:
  *   - The query set is broadcast (it is small by construction); the
  *     corpus is streamed once — similarity is a narrow per-row
  *     expression (the native [[graft.functions.DotFloat]] codegen
  *     loop, with norms precomputed per vector), no UDF.
  *   - Top-k uses TWO phases: a per-shuffle-partition top-k first
  *     (window over (query, physical partition) — keys are balanced by
  *     construction), then a global top-k over the tiny survivor set
  *     (k × #partitions rows per query). A single global window per
  *     query would funnel the whole corpus through |Q| reducers.
  *   - The IVF variant prunes the corpus with a coarse quantizer
  *     (bucket = sign pattern of leading components); each query probes
  *     only its bucket — an equi-join both sides can partition on.
  */
object Similarity {

  /** Element-wise dot product of two float arrays, accumulated in
    * double, strictly left-to-right (deterministic across engines).
    * Generic over array length, but the `aggregate`/`zip_with`
    * higher-order functions evaluate INTERPRETED — never put this on a
    * pair-join hot path; use [[dotNative]] there.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, null-safe for zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(null)).otherwise(dot(a, b) / d)
  }

  /** [[dot]] as a native codegen loop ([[graft.functions.DotFloat]]):
    * the per-pair kernel for the similarity hot paths. Identical
    * left-to-right accumulation, bit-equal to [[dot]] (unit-asserted),
    * ~10× faster on pair joins (HOFs evaluate interpreted; a statically
    * unrolled sum at dim 64 overflows the JIT's method budget).
    */
  def dotNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.DotFloat(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Cosine from a precomputed dot and precomputed norms (see
    * [[withNorm]]): on an n²-ish pair join, norms are per-VECTOR work
    * and must not be recomputed per PAIR.
    */
  def cosineFromParts(dotAB: Column, normA: Column, normB: Column): Column = {
    val d = normA * normB
    when(d === 0.0, lit(null)).otherwise(dotAB / d)
  }

  /** Append the vector's L2 norm (native codegen loop) as `normCol`. */
  def withNorm(df: DataFrame, vecCol: String = "embedding",
               normCol: String = "nrm"): DataFrame =
    df.withColumn(normCol, sqrt(dotNative(col(vecCol), col(vecCol))))

  /** Exact brute-force top-k: for each query vector, the k most
    * cosine-similar corpus vectors. Queries broadcast; two-phase top-k.
    * Ties broken by ascending corpus id for determinism. Similarity is
    * the native codegen dot with norms computed per vector, not per pair.
    *
    * `roundAt >= 0` rounds the cosine to that many decimals BEFORE the
    * ranking: raw-float ranks are accumulation-order sensitive (two
    * engines' dot kernels disagree in the last ulp, flipping near-tie
    * neighbor order), while ranks over rounded scores + the id
    * tie-break are deterministic cross-engine. Use it whenever the
    * RANKING (not the raw score) is the gated artifact.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     roundAt: Int = -1): DataFrame = {
    val q = withNorm(queries, vecCol, "q_nrm")
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), col("q_nrm"))
    val rawCos = cosineFromParts(
      dotNative(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm"))
    val scored = withNorm(corpus, vecCol, "c_nrm")
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col("c_nrm"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", if (roundAt >= 0) round(rawCos, roundAt) else rawCos)
      .select("query_id", "neighbor_id", "cosine")
    topKPerQuery(scored, k)
  }

  /** Two-phase top-k over a scored (query_id, neighbor_id, cosine)
    * frame. Phase 1 prunes within each physical partition (no data
    * movement beyond the final k×P survivors).
    */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val ord = Seq(desc("cosine"), asc("neighbor_id"))
    val local = Window.partitionBy(col("query_id"), spark_partition_id())
      .orderBy(ord: _*)
    val global = Window.partitionBy(col("query_id")).orderBy(ord: _*)
    scored
      .withColumn("r", row_number().over(local)).filter(col("r") <= k)
      .withColumn("rank", row_number().over(global)).filter(col("rank") <= k)
      .drop("r")
  }

  /** Fixed seeded random hyperplanes for the LSH quantizer: `nPlanes`
    * Gaussian vectors of `dim` components. Deterministic (seed fixed),
    * so the same planes can be inlined as literals into an external
    * SQL oracle. Random hyperplanes give balanced buckets on real
    * (correlated, non-centered) embedding distributions where raw
    * leading-component signs would be grossly skewed.
    */
  def defaultPlanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Johnson–Lindenstrauss random projection: compress a `dim`-vector
    * to `planes.size` components, each the dot with a fixed seeded
    * Gaussian plane scaled by 1/√k — the JL scaling that makes the
    * projection an unbiased estimator of the original norms, so
    * pairwise distances survive within (1±ε) w.h.p. for
    * k ≈ 8·ln(n)/ε². The cheap first stage of a 100-TB embedding
    * pipeline: cluster / bucket / near-dup in the compressed space,
    * re-verify survivors against full vectors.
    *
    * Scale shape: a narrow per-row map of k native-kernel dots
    * ([[planeDot]] — strict left-assoc IEEE, so every component is
    * bit-reproducible cross-engine); planes are literals compiled into
    * the plan, never a join or broadcast. No shuffle.
    */
  def projectRandom(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val inv = 1.0 / math.sqrt(planes.size.toDouble)
    array(planes.map(pl => planeDot(vec, pl) * lit(inv)): _*)
  }

  /** Plane count sized to the corpus: the smallest k ≥ 1 with
    * n ≤ targetBucketSize·2ᵏ (i.e. ⌈log2(n / targetBucketSize)⌉) puts
    * the EXPECTED bucket population at ~targetBucketSize, so a bucketed
    * self-join's pair cost stays ~n·targetBucketSize (linear in n)
    * instead of n²/2^planes going quadratic when the plane count is a
    * fixed literal.
    *
    * Computed as a pure INTEGER threshold loop clamped to [1,
    * maxPlanes], mirroring the DuckDB oracle CTE
    * (SparkEntry.sqlAutoPlaneCountCte) term for term: no libm
    * log/ceil, so exact power-of-two corpus sizes can never
    * desynchronize engine and oracle plane counts, and a corpus past
    * targetBucketSize·2^maxPlanes clamps to maxPlanes on BOTH sides
    * (the oracle's 12-plane candidate superset is the binding budget).
    */
  def planesForCount(n: Long, targetBucketSize: Long = 1000L,
                     maxPlanes: Int = 12): Int = {
    var k = 1
    var cap = math.max(1L, targetBucketSize) * 2L
    while (k < maxPlanes && n > cap) { k += 1; cap *= 2L }
    k
  }

  /** [[defaultPlanes]] with the plane count derived from the corpus
    * size via [[planesForCount]].
    */
  def planesForCorpus(corpus: DataFrame, targetBucketSize: Long = 1000L,
                      vecCol: String = "embedding", seed: Long = 42L): Seq[Seq[Double]] = {
    // two calibration jobs (count + head for the dimension) — trivial
    // next to the pair join they right-size
    val n = corpus.count()
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    defaultPlanes(dim, planesForCount(n, targetBucketSize), seed)
  }

  /** Dot of `vec` with a constant plane, as an explicit left-associated
    * sum of per-component products in double. Strict left-to-right IEEE
    * evaluation means any engine writing the same expression computes
    * the identical bits — so the *sign* (the bucket decision) can never
    * drift across engines, even for dots near zero.
    */
  def planeDot(vec: Column, plane: Seq[Double]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.PlaneDot(ColumnBridge.expression(vec), plane))
  }

  /** The Column-algebra SPEC of [[planeDot]] — the form the DuckDB
    * oracles transliterate. Kept for the bit-equality unit gate: the
    * native kernel must produce byte-identical doubles. Never put this
    * on a hot path: the 64-term tree degrades codegen and evaluates
    * effectively interpreted (~200 µs/row at 4 planes, measured).
    */
  def planeDotSpec(vec: Column, plane: Seq[Double]): Column =
    plane.zipWithIndex
      .map { case (p, j) => element_at(vec, j + 1).cast("double") * lit(p) }
      .reduce(_ + _)

  /** Signed-random-projection bucket: bit `i` of the bucket id is the
    * sign of the dot with plane `i` (SimHash for dense vectors).
    */
  def hyperplaneBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex
      .map { case (pl, i) => when(planeDot(vec, pl) >= 0.0, lit(1 << i)).otherwise(lit(0)) }
      .reduce(_ + _)

  /** Bucketed ANN: probe the query's coarse bucket, and with
    * `multiProbe` also every Hamming-1 neighbor bucket (one plane-sign
    * flip away) — the standard recall fix for signed-random-projection
    * LSH: a near neighbor on the wrong side of ONE hyperplane is still
    * found. Each corpus vector lives in exactly one bucket and the
    * probe set is distinct, so no pair dedup is needed; probe fan-out
    * multiplies only the (small, broadcast) query side.
    */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   planes: Seq[Seq[Double]], multiProbe: Boolean = false,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = withNorm(corpus, vecCol, "c_nrm")
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col("c_nrm"),
        hyperplaneBucket(col(vecCol), planes).as("bucket"))
    val q0 = withNorm(queries, vecCol, "q_nrm")
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), col("q_nrm"),
        hyperplaneBucket(col(vecCol), planes).as("b0"))
    val q =
      if (!multiProbe) q0.withColumnRenamed("b0", "bucket")
      else q0.select(col("query_id"), col("q_vec"), col("q_nrm"),
        explode(array(col("b0") +:
          planes.indices.map(i => col("b0").bitwiseXOR(lit(1 << i))): _*)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosineFromParts(
        dotNative(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")))
      .select("query_id", "neighbor_id", "cosine")
    topKPerQuery(scored, k)
  }

  /** [[bucketedTopK]] with the plane count derived from the corpus
    * size ([[planesForCorpus]]): buckets stay ~targetBucketSize as the
    * corpus grows, keeping probe cost per query bounded.
    */
  def bucketedTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                       targetBucketSize: Long = 1000L, multiProbe: Boolean = false,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    bucketedTopK(corpus, queries, k,
      planesForCorpus(corpus, targetBucketSize, vecCol), multiProbe, idCol, vecCol)

  /** [[embeddingNearDupPairs]] with the plane count derived from the
    * corpus size ([[planesForCorpus]]): total pair work stays
    * ~n·targetBucketSize (linear) as n grows instead of quadratic at a
    * fixed plane count.
    */
  def embeddingNearDupPairsAuto(corpus: DataFrame, threshold: Double,
                                targetBucketSize: Long = 1000L,
                                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddingNearDupPairs(corpus, threshold,
      planesForCorpus(corpus, targetBucketSize, vecCol), idCol, vecCol)

  /** IVF coarse assignment: each vector joins the (small, broadcast)
    * centroid set and keeps its `nProbe` highest-cosine centroids —
    * `nProbe = 1` is the index-build assignment, `nProbe > 1` the
    * query-time probe list. The argmax is a hash aggregate of
    * `max(struct(cosine, centroid))` when nProbe = 1 (map-side combine
    * collapses the k-fan-out before the shuffle, so shuffle volume is
    * one row per vector); the general nProbe path is a per-vector
    * row_number window (vec ids are high-cardinality, so the sort
    * spreads across reducers). Ties and null cosines (zero vectors)
    * break toward the smallest centroid id, deterministically.
    */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame, nProbe: Int = 1,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nProbe >= 1, "nProbe must be >= 1")
    val cent = withNorm(centroids, vecCol, "ct_nrm")
      .select(col(idCol).as("centroid_id"), col(vecCol).as("ct_vec"), col("ct_nrm"))
    val scored = withNorm(vecs, vecCol, "v_nrm")
      .select(col(idCol), col(vecCol), col("v_nrm"))
      .join(broadcast(cent))
      .withColumn("centroid_cos", cosineFromParts(
        dotNative(col(vecCol), col("ct_vec")), col("v_nrm"), col("ct_nrm")))
      // rank key: null cosine (zero vector) sorts below every real one;
      // -centroid_id second so the struct MAX picks the smallest id on ties
      .withColumn("_rk", struct(coalesce(col("centroid_cos"), lit(-2.0)),
        -col("centroid_id")))
    if (nProbe == 1)
      scored
        .groupBy(col(idCol))
        .agg(max(struct(col("_rk"), col("centroid_id"), col("centroid_cos"))).as("best"))
        .select(col(idCol), col("best.centroid_id").as("centroid_id"),
          col("best.centroid_cos").as("centroid_cos"))
    else {
      // struct order is lexicographic: cosine desc, then -id desc = id asc
      val w = Window.partitionBy(col(idCol)).orderBy(col("_rk").desc)
      scored
        .withColumn("probe_rank", row_number().over(w))
        .filter(col("probe_rank") <= nProbe)
        .select(col(idCol), col("probe_rank"), col("centroid_id"), col("centroid_cos"))
    }
  }

  /** IVF-style ANN search: corpus vectors are pre-assigned to their
    * nearest centroid's inverted list ([[ivfAssign]], nProbe = 1); each
    * query probes its `nProbe` nearest lists and ranks candidates by
    * exact cosine. The centroid equi-join replaces the hyperplane
    * bucket equi-join of [[bucketedTopK]] — same partitionable shape,
    * but the quantizer adapts to the data (centroids sit where the
    * vectors are) instead of being data-oblivious random planes.
    * Centroid count at real scale: ~√n lists keeps list length and
    * probe cost both ~√n; train centroids upstream (sampled k-means)
    * and pass them in — assignment itself never iterates here.
    */
  def ivfTopK(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
              k: Int, nProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val lists = ivfAssign(corpus, centroids, nProbe = 1, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
      .join(withNorm(corpus, vecCol, "c_nrm")
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col("c_nrm")),
        Seq("neighbor_id"))
    val probes = ivfAssign(queries, centroids, nProbe, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("centroid_id"))
      .join(withNorm(queries, vecCol, "q_nrm")
        .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), col("q_nrm")),
        Seq("query_id"))
    val scored = lists.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosineFromParts(
        dotNative(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")))
      .select("query_id", "neighbor_id", "cosine")
    topKPerQuery(scored, k)
  }

  /** Embedding near-duplicate pairs: corpus self-join within coarse
    * buckets, keep pairs with cosine >= threshold. The bucket join
    * bounds the pair space; at 100 TB add multi-probe + AQE skew join.
    * Size `planes` to the corpus ([[planesForCorpus]] /
    * [[embeddingNearDupPairsAuto]]) — a fixed plane count goes
    * quadratic as n grows past 2^planes · bucket_target.
    */
  def embeddingNearDupPairs(corpus: DataFrame, threshold: Double,
                            planes: Seq[Seq[Double]],
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = withNorm(corpus, vecCol)
      .select(col(idCol), col(vecCol), col("nrm"),
        hyperplaneBucket(col(vecCol), planes).as("bucket"))
    c.as("a").join(c.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        cosineFromParts(
          dotNative(col(s"a.$vecCol"), col(s"b.$vecCol")),
          col("a.nrm"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Semantic dedup (SemDeDup shape): cluster the corpus coarsely,
    * then prune near-duplicates WITHIN each cluster only — the cluster
    * assignment bounds the pair space exactly like the LSH bucket in
    * [[embeddingNearDupPairs]], but with data-adaptive regions, so
    * boilerplate-dense corpora (where one hyperplane bucket would
    * drown) still split into balanced lists. Keep rule: a vector
    * survives unless a SMALLER-id vector in its cluster sits at
    * cosine ≥ threshold — deterministic, one self-join, no iteration
    * (the transitive-closure variant is [[Dedup.connectedComponents]]
    * over these pairs when chain-merging is wanted).
    *
    * Returns one row per input vector: (idCol, centroid_id, kept).
    * Scale: pair work is Σ |cluster|² / 2 — size the centroid count so
    * clusters hold ~√(pair budget) vectors; the per-pair kernel is the
    * native codegen dot.
    */
  def semanticDedup(vecs: DataFrame, centroids: DataFrame, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asg = ivfAssign(vecs, centroids, 1, idCol, vecCol)
      .select(col(idCol), col("centroid_id"))
      .join(withNorm(vecs, vecCol).select(col(idCol), col(vecCol), col("nrm")),
        Seq(idCol))
    val dropped = asg.as("a").join(asg.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(cosineFromParts(
        dotNative(col(s"a.$vecCol"), col(s"b.$vecCol")),
        col("a.nrm"), col("b.nrm")) >= threshold)
      .select(col(s"b.$idCol").as(idCol))
      .distinct()
      .withColumn("_dropped", lit(true))
    asg.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        coalesce(!col("_dropped"), lit(true)).as("kept"))
  }

  /** Semantic decontamination: flag corpus vectors whose cosine to ANY
    * eval vector reaches `threshold` — the embedding-space complement
    * of n-gram decontamination ([[graft.ext.Corpus]].decontaminate):
    * paraphrased eval leakage that shares no shingle still sits next to
    * the eval point in embedding space, and production pipelines run
    * BOTH screens before training.
    *
    * Scale shape: the pair space is EVAL × corpus within shared
    * hyperplane buckets — never corpus × corpus (the incremental-dedup
    * discipline) — and the eval side is the small one, so it
    * broadcasts; per-corpus-vector work is the bucket's eval density.
    * The max over eval cosines is order-independent (each cosine is the
    * strict native-kernel dot), so the verdict is engine-exact. A
    * corpus row whose bucket holds no eval vector reports a null
    * max_eval_cos and contaminated = false; an eval doc present
    * verbatim in the corpus scores cosine 1 and is flagged — the
    * correct reading, not a self-match artifact.
    *
    * Returns one row per corpus vector: (idCol, max_eval_cos rounded
    * 1e-6, contaminated).
    */
  def semanticContamination(corpus: DataFrame, eval: DataFrame,
                            threshold: Double, planes: Seq[Seq[Double]],
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val c = withNorm(corpus, vecCol, "c_nrm")
      .select(col(idCol), col(vecCol).as("c_vec"), col("c_nrm"),
        hyperplaneBucket(col(vecCol), planes).as("bucket"))
    val e = withNorm(eval, vecCol, "e_nrm")
      .select(col(vecCol).as("e_vec"), col("e_nrm"),
        hyperplaneBucket(col(vecCol), planes).as("bucket"))
    val hits = c.join(broadcast(e), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(max(cosineFromParts(dotNative(col("c_vec"), col("e_vec")),
        col("c_nrm"), col("e_nrm"))).as("_mc"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        round(col("_mc"), 6).as("max_eval_cos"),
        coalesce(col("_mc") >= threshold, lit(false)).as("contaminated"))
  }

  /** Symmetric per-vector int8 quantization: scale = max|v_i| / 127,
    * q_i = round(v_i / scale) ∈ [−127, 127] (all-zero vectors quantize
    * to zeros). 4× less memory bandwidth per vector than float32 — at
    * 100 TB of embeddings the scan is bandwidth-bound, so the quantized
    * table IS the serving artifact (write it once, keep the float
    * originals cold). Returns struct(scale double, q array<bigint>);
    * the quantized dot over `q` is exact integer arithmetic
    * (|q|≤127, so 64 dims sum to <2^21 — no overflow), making the
    * whole approximate score bit-reproducible cross-engine.
    */
  def quantizeInt8(vec: Column): Column = {
    val scale = array_max(transform(vec, x => abs(x.cast("double")))) / 127.0
    val q = when(scale === 0.0, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec, x => round(x.cast("double") / scale).cast("long")))
    struct(scale.as("scale"), q.as("q"))
  }

  /** Exact integer dot of two quantized arrays. */
  def quantizedDot(qa: Column, qb: Column): Column =
    aggregate(zip_with(qa, qb, _ * _), lit(0L), _ + _)

  /** Approximate top-k over int8-quantized vectors: score =
    * qdot · scale_a · scale_b ≈ ⟨a,b⟩. Quantize once per vector (narrow
    * projection — at scale this is a precomputed table), broadcast the
    * quantized queries, rank by the approximate dot with id tie-breaks.
    * The returned `qdot` is exact integer; `approx_dot` is two IEEE
    * multiplies over it — deterministic. Callers wanting exact ranks
    * rerank the top-m with [[dotNative]] on the float originals (the
    * classic quantize-then-rerank serving pattern).
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), quantizeInt8(col(vecCol)).as("qq"))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), quantizeInt8(col(vecCol)).as("cq"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("qdot", quantizedDot(col("cq.q"), col("qq.q")))
      .withColumn("cosine", col("qdot") * col("cq.scale") * col("qq.scale"))
      .select("query_id", "neighbor_id", "cosine", "qdot")
    topKPerQuery(scored, k)
      .withColumnRenamed("cosine", "approx_dot")
  }

  /** Product quantization with asymmetric-distance (ADC) top-k — the
    * memory-compression half of IVF-PQ, the serving layout every
    * billion-vector ANN system uses: each vector is stored as
    * `subspaces` one-byte CODES (here 4 codes for a 64-dim float
    * vector = 64× compression), and a query scores a vector by summing
    * `subspaces` LOOKUPS instead of a d-dim dot.
    *
    * Stages, all deterministic integer arithmetic:
    *  1. ONE global int8 scale (max |component| / 127 — a scalar
    *     aggregate, broadcast) quantizes every vector; unlike the
    *     per-vector scale of [[quantizeInt8]], a shared scale makes
    *     subvectors of DIFFERENT vectors directly comparable, which
    *     codebook assignment needs.
    *  2. The codebook is the sub-vectors of `codebook`'s rows (code id
    *     = row id) — supplied data, like [[ivfTopK]]'s centroids, so
    *     training stays a separate concern.
    *  3. Assignment: per (vector, subspace), the code minimizing the
    *     exact integer L2 distance, ties to the smallest code id. The
    *     codebook is broadcast (subspaces × codes × dim/subspaces
    *     longs); the argmin window partitions on (vector, subspace) —
    *     maximum key cardinality, reducers spread.
    *  4. ADC: the query-side lookup table (query × subspace × code
    *     integer dots) is broadcast; scoring joins the corpus CODES
    *     (never the vectors) against it and sums `subspaces` integers
    *     per (query, vector) — map-side-combined, so the shuffle
    *     carries one row per (query, vector).
    *
    * At 100 TB only stage-4 touches the full corpus, reading 4 longs
    * per vector (the codes) instead of 64 floats — the scan is
    * bandwidth-bound, which is the entire point of PQ. Returns
    * (query_id, rank, neighbor_id, adc) with `adc` the exact integer
    * ADC score (scale²-proportional to the approximate dot).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
             k: Int, subspaces: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && subspaces >= 1, "k and subspaces must be positive")
    // the sub-vector slice length is dim/subspaces; a non-dividing
    // subspace count would silently DROP the trailing dim % subspaces
    // components from assignment and ADC scoring — fail loudly instead.
    // One 1-row probe, trivial next to the assignment join it guards.
    corpus.select(size(col(vecCol)).as("d")).limit(1).collect().foreach { r =>
      val dim = r.getInt(0)
      require(dim % subspaces == 0,
        s"pqTopK: embedding dimension $dim is not divisible by " +
          s"subspaces=$subspaces — the tail ${dim % subspaces} components " +
          "would be silently excluded from ADC distances")
    }
    val sc = corpus.agg(
      (max(array_max(transform(col(vecCol), x => abs(x.cast("double"))))) / 127.0)
        .as("_scale"))
    def q8(df: DataFrame, id: String): DataFrame = df
      .crossJoin(broadcast(sc)) // 1-row scalar
      .select(col(idCol).as(id),
        when(col("_scale") === 0.0, transform(col(vecCol), _ => lit(0L)))
          .otherwise(transform(col(vecCol),
            x => round(x.cast("double") / col("_scale")).cast("long"))).as("q"))
    // sub-vector explode: row → (row, j) with the j-th slice; subDim is
    // resolved per row from the array length so dim stays data-driven
    def subs(df: DataFrame, id: String): DataFrame = df
      .select(col(id), explode(sequence(lit(0), lit(subspaces - 1))).as("j"),
        col("q"))
      .select(col(id), col("j"),
        slice(col("q"), col("j") * (size(col("q")) / subspaces) + 1,
          size(col("q")) / subspaces).as("s"))
    val cb = subs(q8(codebook, "code_id"), "code_id")
      .select(col("code_id"), col("j"), col("s").as("c"))
    val l2 = aggregate(zip_with(col("s"), col("c"),
      (a, b) => (a - b) * (a - b)), lit(0L), _ + _)
    val wAssign = Window.partitionBy(col("vid"), col("j"))
      .orderBy(col("dist"), col("code_id"))
    val codes = subs(q8(corpus, "vid"), "vid")
      .join(broadcast(cb), Seq("j"))
      .withColumn("dist", l2)
      .withColumn("r", row_number().over(wAssign)).filter(col("r") === 1)
      .select(col("vid"), col("j"), col("code_id"))
    val lut = subs(q8(queries, "query_id"), "query_id")
      .join(broadcast(cb), Seq("j"))
      .select(col("query_id"), col("j"), col("code_id"),
        aggregate(zip_with(col("s"), col("c"), _ * _), lit(0L), _ + _).as("d"))
    val scored = codes
      .join(broadcast(lut), Seq("j", "code_id"))
      .filter(col("vid") =!= col("query_id"))
      .groupBy(col("query_id"), col("vid").as("neighbor_id"))
      .agg(sum("d").as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adc")
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the k most cosine-similar corpus vectors whose LABEL differs from
    * the query's — the near-misses that teach a retriever its decision
    * boundary. The label-mismatch predicate sits in the broadcast join
    * condition, so same-label pairs are dropped before any score is
    * computed. Same two-phase top-k as [[bruteForceTopK]]; swap in the
    * ANN/IVF searchers as the candidate source at corpus scale.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = withNorm(queries, vecCol, "q_nrm")
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col(labelCol).as("q_label"), col("q_nrm"))
    val scored = withNorm(corpus, vecCol, "c_nrm")
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("n_label"), col("c_nrm"))
      .join(broadcast(q),
        col("neighbor_id") =!= col("query_id") && col("n_label") =!= col("q_label"))
      .withColumn("cosine", cosineFromParts(
        dotNative(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")))
      .select("query_id", "neighbor_id", "n_label", "cosine")
    topKPerQuery(scored, k)
  }

  /** Pairwise cosine similarity between per-label centroid embeddings —
    * the class-geometry audit (which labels' examples occupy the same
    * region? is a merge/split warranted? does a new labeling scheme
    * separate?). Components are quantized to scaled longs on the way in
    * (`floor(v·scale + 0.5)` — identical half-up semantics on every
    * engine), so the per-(label, component) sums are EXACT integers;
    * cosine is computed over the label SUM vectors, which equals the
    * centroid cosine exactly (cosine is scale-invariant and the
    * centroid is sum/n), so no division happens until the final
    * fixed float tower (one exact-long dot, two sqrt, one divide) —
    * bit-identical cross-engine.
    *
    * Scale shape: posexplode is narrow; the component-sum shuffle
    * carries labels×dim rows (k·d, not corpus); the pairwise join is
    * over the k·d centroid table with k² output — for label
    * cardinality past ~10³, block the pair space (the LSH/IVF rule)
    * or feed the centroids to [[bucketedTopK]]. Overflow bound:
    * (n_max·v_max·scale)²·d < 2⁶³ — at scale=10⁶ that holds through
    * ~10⁵ unit-normed vectors per label; shrink `scale` past that.
    */
  def labelCentroidSims(vecs: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding", scale: Long = 1000000L): DataFrame = {
    val comps = vecs
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("idx", "v")))
      .select(col("label"), col("idx"),
        floor(col("v").cast("double") * lit(scale) + lit(0.5)).cast("long").as("q"))
    val cent = comps.groupBy("label", "idx").agg(sum("q").as("sq"))
    val norms = cent.groupBy("label")
      .agg(sum(col("sq") * col("sq")).as("nrm"), count(lit(1)).as("d"))
    val counts = vecs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))
    val a = cent.select(col("label").as("label_a"), col("idx"), col("sq").as("qa"))
    val b = cent.select(col("label").as("label_b"), col("idx"), col("sq").as("qb"))
    a.join(b, Seq("idx"))
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("qa") * col("qb")).as("dt"))
      .join(broadcast(norms.select(col("label").as("label_a"), col("nrm").as("na"))), "label_a")
      .join(broadcast(norms.select(col("label").as("label_b"), col("nrm").as("nb"))), "label_b")
      .join(broadcast(counts.select(col("label").as("label_a"), col("n").as("n_a"))), "label_a")
      .join(broadcast(counts.select(col("label").as("label_b"), col("n").as("n_b"))), "label_b")
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(col("dt").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6)
          .as("centroid_cos"))
  }

  /** Reciprocal best match: pairs (a, b) where b is a's single nearest
    * neighbor AND a is b's — the high-precision entity-matching filter
    * (two records that each consider the other their best candidate
    * are near-certainly the same entity; a one-directional best match
    * is routinely a hub attracting many records). Candidates come from
    * the hyperplane-bucket join — the pair space is bucketed, never
    * all-pairs — so "best" means best among LSH candidates, the
    * standard production semantics (with multiprobe widening when
    * recall matters).
    *
    * Determinism: per-side argmax ranks on the ROUNDED cosine with the
    * neighbor id as tie-break — a total order, so the winner cannot
    * flip on float re-association across engines, retries, or AQE.
    *
    * Scale: bucket equi-join (same bound as [[embeddingNearDupPairs]]);
    * the two argmax windows partition by the high-cardinality vector
    * id; the reciprocity check is a self-equi-join on (src, dst) of
    * the one-row-per-vector best table.
    */
  def reciprocalBestMatch(corpus: DataFrame, planes: Seq[Seq[Double]],
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val pairs = embeddingNearDupPairs(corpus, threshold = -1.0, planes, idCol, vecCol)
      .withColumn("c", round(col("cosine"), 6))
    val sym = pairs.select(col("id1").as("src"), col("id2").as("dst"), col("c"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst"), col("c")))
    val best = sym
      .withColumn("r", row_number().over(
        Window.partitionBy("src").orderBy(col("c").desc, col("dst"))))
      .filter(col("r") === 1)
      .select(col("src"), col("dst"), col("c"))
    best.as("f")
      .join(best.as("g"),
        col("f.src") === col("g.dst") && col("f.dst") === col("g.src"))
      .filter(col("f.src") < col("f.dst"))
      .select(col("f.src").as("id1"), col("f.dst").as("id2"),
        col("f.c").as("cosine"))
  }
}
