package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.qcew.{NaicsAgg, Resample, Series}
import graft.ext.{Affinity, AsofJoin, Bloom, Corpus, Dedup, EventsStream, Forecast, Graph, Inference, Multimodal, Privacy, Quantiles, ScaleOps, Sessionize, Similarity, Sketch, Spatial, StatefulOps, TextStats, TimeFill}

/** dedup + similarity + ANN + embeddings + multimodal.
  *
  * One registry shard of [[SparkEntry]] (split in round 9 —
  * the single 11k-line object was the repo's one
  * maintainability hazard). Entries are verbatim; the shared
  * helpers live in [[QueryShared]]. SparkEntry concatenates
  * all shards and unit gates assert name uniqueness and
  * query/oracle set equality.
  */
private[graft] object QueriesSim {
  import QueryShared._

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // exact moving median over a trailing 7-row window — Spark has no
    // percentile window function, so the frame's values collect into
    // an array (bounded: 7 elements), sort, and index — exact discrete
    // median of integer-rounded daily totals, drift-free. The robust
    // twin of q_moving_avg (one outlier day cannot drag it).
    "q_moving_median" -> ((s, dir) => {
      val daily = EventsStream.readEvents(s, s"$dir/events.parquet")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(round(sum("value"), 2).as("day_total"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
      daily
        .withColumn("vals", array_sort(collect_list("day_total").over(w)))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("day_total"),
          element_at(col("vals"),
            ((size(col("vals")) + 1) / 2).cast("int")).as("moving_median"))
        .orderBy("event_type", "day")
    }),


    // ext: blocked fuzzy matching — edit-distance pairs inside
    // (brand, size) blocks; Dedup.fuzzyPairs scaladoc for why blocking
    // is the scale lever. Bounded levenshtein short-circuits past the
    // threshold; DuckDB computes the full distance — equal on kept rows.
    "q_fuzzy_pairs" -> ((s, dir) => {
      Dedup.fuzzyPairs(
          t(s, dir, "part"), "p_partkey", "p_name", Seq("p_brand", "p_size"), 8)
        .select(col("p_brand"), col("p_size"), col("id_a"), col("id_b"), col("dist"))
        .orderBy("p_brand", "p_size", "id_a", "id_b")
    }),


    // ext dedup: exact duplicate groups (on a 20-char prefix fingerprint
    // so the synthetic corpus actually collides)
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactDuplicates(
          t(s, dir, "documents").select(col("doc_id"), substring(col("text"), 1, 20).as("text")))
        .orderBy("fingerprint")
    }),


    // ext dedup: normalized content fingerprint per doc
    "q_dedup_normfp" -> ((s, dir) => {
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), Dedup.normalizedFingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),


    // ext dedup: bloom-filter ingest prefilter — the join-free fast
    // path for batch-vs-corpus dedup (Bloom scaladoc). The corpus
    // compresses to ONE aggregate's bit array; the batch probes it
    // with a narrow expression, and only the admitted sliver joins the
    // corpus for the exact verdict. Gate encodes the contract: exact
    // dup counts (both engines), no-false-negatives (every true dup
    // was admitted by the filter), and the false-positive bound.
    "q_bloom_prefilter" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), md5(substring(col("text"), 1, 20)).as("fp"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      // 100k capacity rides every sf this repo tests (45k docs at sf1)
      // at ~120 KB of bits; real deployments size to the corpus count
      val (_, maybeDup) = Bloom.prefilterNew(batch, corpus, col("fp"),
        expectedItems = 100000L, fpp = 0.01)
      val corpusFp = corpus.select("fp").distinct()
      val agg = batch.agg(count(lit(1)).as("n_batch"))
        .crossJoin(batch.join(corpusFp, Seq("fp"), "left_semi")
          .agg(count(lit(1)).as("n_true_dup")))
        .crossJoin(maybeDup.join(corpusFp, Seq("fp"), "left_semi")
          .agg(count(lit(1)).as("n_dup_admitted")))
        .crossJoin(maybeDup.agg(count(lit(1)).as("n_maybe")))
      agg.select(col("n_batch"), col("n_true_dup"),
        (col("n_dup_admitted") === col("n_true_dup")).as("no_false_negatives"),
        ((col("n_maybe") - col("n_true_dup")) <=
          ceil(col("n_batch") * lit(0.1))).as("fp_within_bound"))
    }),


    // ext dedup: MinHash signatures (k=4 perms, 3-gram shingles)
    "q_minhash" -> ((s, dir) => {
      Dedup.minhashSignatures(spread(t(s, dir, "documents")), k = 4, n = 3)
        .orderBy("doc_id")
    }),


    // ext: vector hygiene gate — dimensionality bounds, null/zero
    // vectors, norm distribution. Norms use the native codegen dot
    // kernel; per-vector values round at 1e-6 before min/max so the
    // extrema are taken over already-stable numbers.
    "q_vector_stats" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("nrm",
          round(sqrt(Similarity.dotNative(col("embedding"), col("embedding"))), 6))
      e.agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("embedding").isNull, 1L).otherwise(0L)).as("n_null"),
        min(size(col("embedding"))).as("min_dims"),
        max(size(col("embedding"))).as("max_dims"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        // mean norm via FIXED-POINT micro-units: sum exact longs, one
        // final division — avg over doubles is summation-order
        // sensitive at 1e-4 rounding (engines/versions disagree)
        round(sum(round(col("nrm") * 1e6).cast("long")).cast("double") /
          (count(col("nrm")) * lit(1e6)), 4).as("avg_norm"),
        min("nrm").as("min_norm"),
        max("nrm").as("max_norm"))
    }),


    // ext eval: kNN majority-vote classification over the embeddings'
    // ground-truth labels — eval split (vec_id < 50) scored against the
    // train split by exact cosine top-3 (broadcast queries, two-phase
    // top-k), majority vote tie-broken to the smallest label. The scale
    // path swaps bruteForceTopK for the IVF/ANN searchers — same vote.
    "q_knn_eval" -> ((s, dir) => {
      val emb = spread(t(s, dir, "embeddings"))
      val queries = emb.filter(col("vec_id") < 50)
      val train = emb.filter(col("vec_id") >= 50)
      val topk = Similarity.bruteForceTopK(
        train.select("vec_id", "embedding"),
        queries.select("vec_id", "embedding"), k = 3, roundAt = 6)
      val votes = topk
        .join(train.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
          "neighbor_id")
        .groupBy("query_id", "n_label").agg(count(lit(1)).as("v"))
      val pred = votes.groupBy("query_id")
        .agg(max_by(col("n_label"), struct(col("v"), -col("n_label")))
          .as("pred_label"))
      pred
        .join(queries.select(col("vec_id").as("query_id"), col("label")), "query_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred_label") === col("label"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy", round(col("n_correct") * lit(1.0) / col("n"), 4))
        .orderBy("label")
    }),


    // ext dedup: LSH banding (2 bands x 2 rows) -> candidate pairs.
    // NO persist on the signature frame: lshBands reads it exactly once
    // (explode over an in-row band array), so a persist is a pure
    // materialization barrier — the round-10 A/B measured 0.89 s
    // persisted vs 0.52 s without (min-of-5, quiet host). On a real
    // pipeline signatures would be a parquet table written once and
    // joined many times; inside one job, single-consumer frames flow.
    "q_lsh_pairs" -> ((s, dir) => {
      val sig = Dedup.minhashSignatures(spread(t(s, dir, "documents")), k = 4, n = 3)
      Dedup.lshCandidatePairs(Dedup.lshBands(sig, k = 4, rowsPerBand = 2))
        .orderBy("id1", "id2")
    }),


    // ext dedup: cluster resolution — LSH candidate pairs -> connected
    // components -> per-doc cluster id + canonical flag (the last step
    // of a real training-data dedup pipeline)
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val sig = Dedup.minhashSignatures(docs, k = 4, n = 3)
      val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, k = 4, rowsPerBand = 2))
      Dedup.resolveClusters(docs, pairs)
        .orderBy("doc_id")
    }),


    // ext dedup: exact pairwise n-gram Jaccard on a bounded subset
    "q_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
          spread(t(s, dir, "documents").filter(col("doc_id") < 100)), n = 3, threshold = 0.03)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")
    }),


    // ext dedup: prefix-filtered exact Jaccard (PPJoin-style) — same
    // answer as q_jaccard_pairs by construction (the prefix lemma
    // loses no pair at the threshold), so the ORACLE IS the naive
    // form's SQL; what changes is the work: only each doc's rarest
    // shingles enter the inverted index, so boilerplate postings never
    // explode the candidate space. Candidate reduction is unit-gated.
    "q_jaccard_prefix" -> ((s, dir) => {
      Dedup.jaccardPairsPrefix(
          spread(t(s, dir, "documents").filter(col("doc_id") < 100)), n = 3, threshold = 0.03)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")
    }),


    // ext dedup: SimHash Hamming-radius near-dups (Manku/WWW'07) —
    // 4x16-bit chunk pigeonhole join guarantees every pair within
    // distance 3; bit_count(xor) verifies. The shingle-free dedup
    // path: 2 longs per doc instead of a shingle table.
    "q_simhash_dedup" -> ((s, dir) => {
      Dedup.simhashNearDupPairs(spread(t(s, dir, "documents")), maxHamming = 3)
        .orderBy("id1", "id2")
    }),


    // ext dedup: 16-bit SimHash per doc
    "q_simhash" -> ((s, dir) => {
      Dedup.simhash16(spread(t(s, dir, "documents"))).orderBy("doc_id")
    }),


    // ext dedup: production-width 64-bit SimHash (md5-slice form so the
    // oracle can mirror it)
    "q_simhash64" -> ((s, dir) => {
      Dedup.simhash64(spread(t(s, dir, "documents"))).orderBy("doc_id")
    }),


    // ext similarity: exact brute-force cosine top-k (k=3, 5 queries)
    "q_sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(spread(emb), emb.filter(col("vec_id") < 5), k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),


    // ext similarity: random-hyperplane bucket histogram (the ANN
    // partitioner). Seeded hyperplane signs, not raw leading-component
    // signs: real embedding dims are correlated/non-centered, which
    // skews naive sign buckets badly.
    "q_embed_bucket" -> ((s, dir) => {
      spread(t(s, dir, "embeddings"))
        .groupBy(Similarity.hyperplaneBucket(col("embedding"), annPlanes).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),


    // ext similarity: bucketed (LSH) ANN top-k — probe only the query's
    // hyperplane bucket; exact cosine within the bucket
    "q_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bucketedTopK(spread(emb), emb.filter(col("vec_id") < 8), k = 3, planes = annPlanes)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),


    // ext similarity: multi-probe ANN — each query also probes its
    // Hamming-1 neighbor buckets, recovering neighbors lost to a single
    // plane-sign flip
    "q_ann_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bucketedTopK(spread(emb), emb.filter(col("vec_id") < 8), k = 3,
          planes = annPlanes, multiProbe = true)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),


    // ext similarity: embedding near-duplicate pairs via bucketed
    // self-join (cosine >= threshold within shared bucket). The oracle
    // pins the 4-plane literal form; q_embed_neardup_auto below gates
    // the production corpus-sized-plane path.
    "q_embed_neardup" -> ((s, dir) => {
      Similarity.embeddingNearDupPairs(spread(t(s, dir, "embeddings")),
          threshold = 0.2, planes = annPlanes)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id1", "id2")
    }),


    // ext similarity: the PRODUCTION auto-plane path, oracle-gated —
    // bucketedTopKAuto derives ⌈log2(n/64)⌉ planes from the MEASURED
    // corpus count (3 planes at sf0.01's 500 vectors, 5 at sf0.1's
    // 2000), so buckets stay ~64 vectors and probe cost per query is
    // bounded as the corpus grows; the oracle re-derives the same
    // count by integer thresholds (sqlAutoPlaneCountCte) and gates a
    // 12-plane candidate set per-plane, so it adapts with the data
    // exactly like the engine.
    "q_ann_topk_auto" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bucketedTopKAuto(spread(emb), emb.filter(col("vec_id") < 8),
          k = 3, targetBucketSize = 64)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),


    // ext similarity: near-dup pairs with corpus-sized planes — the
    // linear-pair-work production form of q_embed_neardup (total pair
    // cost ~n·targetBucketSize instead of n²/2^planes at a literal)
    "q_embed_neardup_auto" -> ((s, dir) => {
      Similarity.embeddingNearDupPairsAuto(spread(t(s, dir, "embeddings")),
          threshold = 0.2, targetBucketSize = 64)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id1", "id2")
    }),


    // ext similarity: SemDeDup — coarse-cluster the corpus (IVF
    // assignment to the 4 seed centroids), prune near-duplicates
    // within clusters only (smaller-id keeps), summarize survivors
    // per cluster. Cluster boundaries bound the pair space; the keep
    // rule is deterministic so the oracle reproduces it exactly.
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // centroid count from the MEASURED corpus count (pure-integer
      // ceil, mirrored by the oracle): clusters stay ~128 vectors so
      // the within-cluster pair space is LINEAR in n — a fixed
      // centroid literal is n²/k forever (measured 18.5× at 10× data)
      val k = math.max(4L, (emb.count() + 127L) / 128L)
      Similarity.semanticDedup(spread(emb), emb.filter(col("vec_id") < k),
          threshold = 0.2)
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
        .orderBy("centroid_id")
    }),


    // ext similarity: IVF index build — every vector assigned to the
    // nearest (max-cosine) of the 4 seed centroids. Centroids
    // broadcast; the argmax is a map-side-combined hash aggregate, so
    // shuffle volume is one row per vector regardless of centroid count.
    "q_ivf_assign" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfAssign(spread(emb), emb.filter(col("vec_id") < 4))
        .select(col("vec_id"), col("centroid_id"),
          round(col("centroid_cos"), 6).as("centroid_cos"))
        .orderBy("vec_id")
    }),


    // ext similarity: IVF ANN search — queries probe their 2 nearest
    // centroids' inverted lists; exact cosine ranks the candidates.
    // The data-adaptive quantizer counterpart of the hyperplane-bucket
    // ANN above (same partitionable equi-join shape).
    "q_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(spread(emb), emb.filter(col("vec_id") < 4),
          emb.filter(col("vec_id") < 8), k = 3, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),


    // ext multimodal: hash-derived feature vector — the SQL-only
    // feature path (bit-identical to the batched mapPartitions stub,
    // unit-asserted); features are exact multiples of 1/256 so the
    // cross-engine compare is drift-free
    "q_media_features" -> ((s, dir) => {
      val media = Multimodal.asMedia(spread(t(s, dir, "documents")), "doc_id", "text", "image")
      val f = Multimodal.sqlFeatures(col("payload"), 4)
      media.select(col("media_id") +:
          (0 until 4).map(j => round(element_at(f, j + 1), 6).as(s"f$j")): _*)
        .orderBy("media_id")
    }),


    // ext multimodal: per-partition batched decode (stub codec) metadata
    // multimodal step 0: two-level binary dedup — hash the first
    // 64-byte CHUNK as the cheap prefilter, confirm with the full
    // content hash (dedup BEFORE decode: a chunk hash costs a fraction
    // of a scan, a codec costs orders more). Groups sharing a header
    // chunk are dedup candidates; n_distinct_full separates true
    // copies from header-only collisions that need a byte compare.
    // Payloads are ASCII here (probed at every SF), so DuckDB's char
    // slicing equals Spark's byte slicing — the q_frame_sample device.
    "q_media_dedup" -> ((s, dir) => {
      Multimodal.asMedia(spread(t(s, dir, "documents")), "doc_id", "text", "image")
        .select(col("media_id"),
          md5(substring(col("payload"), 1, 64)).as("chunk_md5"),
          md5(col("payload")).as("full_md5"))
        .groupBy("chunk_md5")
        .agg(min("media_id").as("keep_id"), count(lit(1)).as("n_copies"),
          countDistinct("full_md5").as("n_distinct_full"))
        .filter(col("n_copies") > 1)
        .orderBy("keep_id")
    }),


    "q_multimodal_meta" -> ((s, dir) => {
      Multimodal.decodeBatches(
          Multimodal.asMedia(spread(t(s, dir, "documents")), "doc_id", "text", "image"))
        .toDF()
        .orderBy("media_id")
    }),


    // ext multimodal: frame-sampling plumbing. Oracle-able because the
    // synthetic documents are pure ASCII (verified at every SF), so
    // DuckDB's char-slicing equals Spark's byte-slicing of the payload.
    "q_frame_sample" -> ((s, dir) => {
      Multimodal.sampleFrames(
          Multimodal.asMedia(spread(t(s, dir, "documents")), "doc_id", "text", "image"),
          frameBytes = 64, stride = 2)
        .select(col("media_id"), col("frame_idx"), md5(col("frame")).as("frame_md5"))
        .orderBy("media_id", "frame_idx")
    }),


    // ext capstone: ENSEMBLE dedup — surface duplicates (MinHash-LSH
    // text pairs) unioned with semantic duplicates (hyperplane-bucketed
    // embedding pairs), resolved TOGETHER by connected components into
    // one cluster space, which is how production training-data dedup
    // actually runs (near-identical text and paraphrases must collapse
    // into the same cluster, not two overlapping cluster sets). The
    // doc_id == vec_id linkage holds in the testdata by construction
    // (both tables enumerate the same corpus).
    "q_dedup_ensemble" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val sig = Dedup.minhashSignatures(docs, k = 4, n = 3)
      val txtPairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, k = 4, rowsPerBand = 2))
        .select(col("id1"), col("id2"))
      val embPairs = Similarity.embeddingNearDupPairs(
          spread(t(s, dir, "embeddings")), threshold = 0.2, planes = annPlanes)
        .select(col("id1"), col("id2"))
      Dedup.resolveClusters(docs, txtPairs.unionByName(embPairs))
        .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") > 1)
        .orderBy("cluster_id")
    }),


    // ext eval: MinHash calibration — the signature-agreement Jaccard
    // estimate (k-permutation match fraction, exact multiples of 1/4)
    // against the TRUE n-gram Jaccard, per LSH candidate pair on a
    // bounded doc subset. The "measure, don't guess" check a pipeline
    // runs before trusting k and the banding scheme at full scale;
    // both columns are exact-integer ratios, drift-free cross-engine.
    // The subset bound is MEASURED, not fixed (round-11): doc_id < 200
    // was 40% of the sf0.01 corpus but 4% at sf0.1 — too thin a slice
    // to contain any near-dup pair, so the eval went vacuous while
    // still paying its cost. cap = max(200, 2·n_docs/5) keeps sf0.01
    // bit-identical and the subset FRACTION scale-stable; the exact-
    // Jaccard join stays bounded by the subset, which is the point of
    // the subset.
    "q_minhash_eval" -> ((s, dir) => {
      val all = spread(t(s, dir, "documents"))
      val cap = math.max(200L, 2L * all.count() / 5L)
      val docs = all.filter(col("doc_id") < cap)
      // persist KEPT by measurement (round-10 A/B: 0.95 s persisted vs
      // 1.07–1.28 s without, min-of-5 ×2 runs): sig has THREE consumers
      // (bands + both sides of the signature-agreement join), and only
      // the exchange below the agg is reused without it
      val sig = Dedup.minhashSignatures(docs, k = 4, n = 3).persist()
      val cand = Dedup.lshCandidatePairs(Dedup.lshBands(sig, k = 4, rowsPerBand = 2))
      val s1 = sig.select(col("doc_id").as("id1"),
        col("mh0").as("a0"), col("mh1").as("a1"), col("mh2").as("a2"), col("mh3").as("a3"))
      val s2 = sig.select(col("doc_id").as("id2"),
        col("mh0").as("b0"), col("mh1").as("b1"), col("mh2").as("b2"), col("mh3").as("b3"))
      val est = cand.join(s1, "id1").join(s2, "id2")
        .select(col("id1"), col("id2"),
          ((0 until 4).map(i => (col(s"a$i") === col(s"b$i")).cast("int"))
            .reduce(_ + _).cast("double") / lit(4.0)).as("est_jaccard"))
      val exact = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.0)
        .select(col("id1"), col("id2"), col("jaccard").as("true_jaccard"))
      est.join(exact, Seq("id1", "id2"), "left")
        .select(col("id1"), col("id2"), col("est_jaccard"),
          round(coalesce(col("true_jaccard"), lit(0.0)), 6).as("true_jaccard"))
        .orderBy("id1", "id2")
    }),


    // ext dedup: quality-aware canonical selection — clusters resolve
    // as in q_dedup_clusters, but the kept doc is the HIGHEST
    // quality_score member (ties → smallest id), via one
    // map-side-combining max_by per cluster (resolveClustersBy
    // scaladoc). quality_score is categorical after round(.,2), so
    // the argmax is drift-free cross-engine.
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = TextStats.withQuality(spread(t(s, dir, "documents")))
      val sig = Dedup.minhashSignatures(docs, k = 4, n = 3)
      val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, k = 4, rowsPerBand = 2))
      Dedup.resolveClustersBy(docs, pairs, "quality_score")
        .orderBy("doc_id")
    }),


    // ext dedup: asymmetric n-gram CONTAINMENT — the superset-duplicate
    // detector Jaccard misses (a doc embedded in a larger doc scores
    // near-zero Jaccard but 1.0 containment on the smaller side). Same
    // inverted-index join as q_jaccard_pairs; bigrams + a 0.25 gate on
    // the larger-side ratio keep the demo non-vacuous on synthetic text.
    "q_containment" -> ((s, dir) => {
      Dedup.containmentPairs(
          spread(t(s, dir, "documents").filter(col("doc_id") < 100)), n = 2, threshold = 0.25)
        .select(col("id1"), col("id2"), col("n_inter"),
          round(col("c1"), 6).as("c1"), round(col("c2"), 6).as("c2"),
          round(col("containment"), 6).as("containment"))
        .orderBy("id1", "id2")
    }),


    // ext similarity: int8-quantized approximate top-k — the
    // memory-bandwidth scale path (4× smaller vectors; the quantized
    // table is the serving artifact). qdot is EXACT integer
    // arithmetic; the approximate score is two IEEE multiplies over
    // it, so ranks are bit-reproducible cross-engine. Rerank the
    // survivors with exact cosine on the float originals at serving
    // time (q_sim_topk's kernel).
    "q_quantized_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedTopK(spread(emb), emb.filter(col("vec_id") < 8), k = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("qdot"),
          round(col("approx_dot"), 6).as("approx_dot"))
        .orderBy("query_id", "rank")
    }),


    // ext eval: hard-negative mining — per query, the nearest
    // neighbors with a DIFFERENT ground-truth label, the contrastive
    // training pairs that teach a retriever its decision boundary.
    // Label mismatch sits in the broadcast join condition, so
    // same-label pairs never materialize a score.
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(spread(emb), emb.filter(col("vec_id") < 8), k = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("n_label"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),


    // ext eval: ANN recall@k — the quality metric that justifies (or
    // vetoes) swapping brute force for the hyperplane index: per
    // query, |ANN top-k ∩ exact top-k| / k. Integer overlap counts +
    // one IEEE division, drift-free. At corpus scale the exact side
    // runs on a hash-sampled query subset (the q_hash_sample pattern)
    // — recall needs a few hundred queries, never the corpus.
    "q_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val exact = Similarity.bruteForceTopK(spread(emb), queries, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val ann = Similarity.bucketedTopK(spread(emb), queries, k = 3, planes = annPlanes)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(ann, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / 3.0, 6).as("recall_at_3"))
        .orderBy("query_id")
    }),


    // Johnson–Lindenstrauss random projection 64→8: per-vector
    // compressed components (bit-reproducible native-kernel dots ×
    // 1/√8) plus the norm-distortion ratio the JL lemma bounds — the
    // cheap first stage before clustering/bucketing at 100 TB. Narrow,
    // zero-shuffle; planes are plan literals.
    "q_random_projection" -> ((s, dir) => {
      val planes = Similarity.defaultPlanes(dim = 64, nPlanes = 8, seed = 7L)
      val e = spread(t(s, dir, "embeddings"))
        .withColumn("proj", Similarity.projectRandom(col("embedding"), planes))
        .withColumn("nrm",
          round(sqrt(Similarity.dotNative(col("embedding"), col("embedding"))), 6))
      val pCols = (0 until planes.size).map(i =>
        round(element_at(col("proj"), i + 1), 6).as(s"p$i"))
      val withP = e.select(col("vec_id") +: col("nrm") +: pCols: _*)
      val projNormSq = (0 until planes.size).map(i => col(s"p$i") * col(s"p$i")).reduce(_ + _)
      withP.select(col("vec_id") +: (0 until planes.size).map(i => col(s"p$i")) :+
          when(col("nrm") === 0.0, lit(null))
            .otherwise(round(sqrt(projNormSq) / col("nrm"), 6)).as("distortion"): _*)
        .orderBy("vec_id")
    }),


    // Fellegi–Sunter record linkage over (nation, segment)-blocked
    // customer pairs: two compared fields (name-suffix digit, balance
    // bucket), literal log-likelihood weights folded at plan time,
    // fixed-order sum (Dedup.linkageScore scaladoc). Output is the
    // score histogram — 4 weight combinations — not the pair list.
    "q_linkage" -> ((s, dir) => {
      // Fellegi–Sunter over exact-equality fields: the histogram is
      // agreement-pattern combinatorics over GROUP SIZES (Möbius over
      // the field-subset lattice) — no pair enumeration, no bucket
      // caps, exact at any scale. The enumerated form (round-7's
      // refined pair join) measured 94× slower at 30× data because
      // replicas share compared fields; this form is 2^k = 4 group
      // aggregates, linear forever. Equivalence to the pair-join form
      // is ExtSpec-gated.
      val c = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        expr("right(c_name, 1)").as("sfx"),
        floor(col("c_acctbal") / 1000).as("balk"))
      Dedup.linkagePatternHistogram(c,
          blockCols = Seq("c_nationkey", "c_mktsegment"),
          fields = Seq("balk", "sfx"),
          weights = Map("sfx" -> (0.9, 0.1), "balk" -> (0.3, 0.05)),
          threshold = 1.0)
        .orderBy("score")
    }),


    // embedding-distribution drift between two shards (vec_id parity
    // as ref/cur): IVF-assign every vector to the fixed centroids,
    // then PSI over the per-centroid assignment distribution — the
    // embedding-space analogue of q_psi_drift that catches semantic
    // mix shift before any scalar feature moves. Emits per-centroid
    // terms (exact counts, one float tower each) rather than the
    // order-dependent global Σ; the caller sums 4 rounded terms.
    // Assignment is the map-side-combined argmax against broadcast
    // centroids (Similarity.ivfAssign) — one shuffled row per vector.
    "q_embed_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val asg = Similarity.ivfAssign(spread(emb), emb.filter(col("vec_id") < 4))
        .select(col("vec_id"), col("centroid_id"))
      val counts = asg
        .groupBy("centroid_id")
        .agg(count(when(col("vec_id") % 2 === 0, 1)).as("c_ref"),
          count(when(col("vec_id") % 2 === 1, 1)).as("c_cur"))
      val tot = counts.agg(sum("c_ref").as("n_ref"), sum("c_cur").as("n_cur"))
      counts.crossJoin(broadcast(tot))
        .withColumn("p_ref",
          greatest(col("c_ref").cast("double") / col("n_ref"), lit(1e-6)))
        .withColumn("p_cur",
          greatest(col("c_cur").cast("double") / col("n_cur"), lit(1e-6)))
        .select(col("centroid_id"), col("c_ref"), col("c_cur"),
          round((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")), 6)
            .as("psi_term"))
        .orderBy("centroid_id")
    }),


    // Mann–Whitney rank-sum between the user_id%2 arms on the
    // cent-quantized value — the nonparametric twin of q_ab_ttest,
    // with the AUC effect size. Doubled-rank integer machinery on the
    // distinct-value grid (Inference.mannWhitney scaladoc).
    "q_mann_whitney" -> ((s, dir) => {
      Inference.mannWhitney(
          spread(EventsStream.readEvents(s, s"$dir/events.parquet")),
          arm = col("user_id") % 2, x = floor(col("value") * 100))
        .orderBy("n0")
    }),


    // stats: Mann–Kendall monotone-trend test on the same daily cents
    // grid as q_theil_sen — exact integer S over the bounded pair
    // space, tau-a as truncated-division ppb, no float anywhere in the
    // gated row.
    "q_mann_kendall" -> ((s, dir) => {
      val daily = EventsStream.readEvents(s, s"$dir/events.parquet")
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("x"))
        .agg(sum(floor(col("value") * 100)).cast("long").as("y"))
      Forecast.mannKendall(daily, Seq("event_type"), col("x"), col("y"))
        .orderBy("event_type")
    }),


    // record-linkage blocking quality: pairs completeness / pair
    // quality / reduction ratio of the LSH blocking scheme against the
    // exact-duplicate ground truth (shared normalized fingerprint).
    // No pair space ever enumerates beyond the capped LSH candidates:
    // truth pairs COUNT as Σ m(m−1)/2 per fingerprint group, and the
    // intersection tests each candidate's two fingerprints for
    // equality — so the metrics that judge the blocking cost only the
    // blocking.
    "q_blocking_eval" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val fp = docs.select(col("doc_id"),
        Dedup.normalizedFingerprint(col("text")).as("fp"))
      // persist REMOVED (round-11 re-adjudication of the round-10
      // keep): sig has exactly ONE consumer (the bands explode), so
      // there is nothing for a cache to deduplicate — the round-10
      // "known-small stats" hypothesis is falsified by the plans
      // (candidate joins broadcast identically either way), and a
      // same-JVM interleaved A/B shows parity on wall (1.055 vs
      // 1.050 s) with the persist paying 11 extra cache-fill tasks.
      // The round-10 cross-JVM 1.05-vs-1.4 reading was host-load
      // noise, the same artifact class its own verdict flagged for
      // q_fleiss_kappa/q_spearman. PlanSpec pins the shape: minhash
      // derivation exactly once, no cache scan.
      val sig = Dedup.minhashSignatures(docs, k = 4, n = 3)
      val cand = Dedup.lshCandidatePairs(
        Dedup.lshBands(sig, k = 4, rowsPerBand = 2))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val truth = fp.groupBy("fp").agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(expr("m * (m - 1) DIV 2")), lit(0L)).as("n_truth"))
      val hits = cand
        .join(fp.select(col("doc_id").as("id1"), col("fp").as("f1")), "id1")
        .join(fp.select(col("doc_id").as("id2"), col("fp").as("f2")), "id2")
        .agg(count(lit(1)).as("n_cand"),
          coalesce(sum(when(col("f1") === col("f2"), 1L).otherwise(0L)),
            lit(0L)).as("n_hit"))
      nDocs.crossJoin(truth).crossJoin(hits) // three 1-row scalars
        .select(col("n_docs"), col("n_truth"), col("n_cand"), col("n_hit"),
          round(col("n_hit") / nullif(col("n_truth"), lit(0L)).cast("double"),
            6).as("completeness"),
          round(col("n_hit") / nullif(col("n_cand"), lit(0L)).cast("double"),
            6).as("quality"),
          round(lit(1.0) - col("n_cand") /
            (col("n_docs") * (col("n_docs") - 1L) / lit(2.0)), 6)
            .as("reduction_ratio"))
        .orderBy("n_docs")
    }),


    // train/val/test leakage audit: normalized-fingerprint collisions
    // that CROSS the hash-split boundary — the contamination a random
    // row split invites and a key split prevents. Exact counts.
    "q_split_leakage" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), ScaleOps.splitByKey(col("doc_id")).as("split"),
          Dedup.normalizedFingerprint(col("text")).as("fp"))
      val fpSplits = docs.groupBy("fp")
        .agg(countDistinct("split").as("n_splits"))
      docs.join(fpSplits, "fp")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n_splits") > 1, 1)).as("n_leaky_docs"),
          countDistinct(when(col("n_splits") > 1, col("fp"))).as("n_leaky_fps"))
        .orderBy("split")
    }),


    // product-quantization ADC top-k — the memory-compression half of
    // IVF-PQ: vectors stored as 4 one-byte codes (64× smaller than the
    // floats), queries score by summing 4 table lookups. Codebook =
    // designated data rows (vec_id < 16), like q_ivf_topk's centroids;
    // every stage is exact integer arithmetic under ONE global int8
    // scale (Similarity.pqTopK scaladoc), so the gate is hash-exact.
    "q_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(spread(emb), emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") < 16), k = 3, subspaces = 4)
        .orderBy("query_id", "rank")
    }),


    // negative sampling for recommender / contrastive training: per
    // customer, 5 popular parts they have NEVER bought, chosen by
    // deterministic hash order — the classic popularity-negative
    // sampler. The candidate pool is the top-50 popular parts
    // (broadcast), so the per-customer explode is bounded by the pool,
    // never |items|; interactions are removed by one anti-join on the
    // (customer, part) key; md5 ordering makes the draw reproducible
    // on any engine with no RNG state.
    "q_neg_sample" -> ((s, dir) => {
      val inter = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val pop = t(s, dir, "lineitem").groupBy(col("l_partkey").as("p"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("p")).limit(50).select("p")
      val w = Window.partitionBy("c")
        .orderBy(md5(concat(col("c").cast("string"), lit("_"),
          col("p").cast("string"))), col("p"))
      t(s, dir, "customer").select(col("c_custkey").as("c"))
        .crossJoin(broadcast(pop)) // bounded: 50-part pool per customer
        .join(inter, Seq("c", "p"), "left_anti")
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("c").as("c_custkey"), col("rank"), col("p").as("p_partkey"))
        .orderBy("c_custkey", "rank")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(

      "q_media_dedup" ->
        """WITH m AS (
          |  SELECT doc_id AS media_id,
          |         md5(substring(text, 1, 64)) AS chunk_md5,
          |         md5(text) AS full_md5
          |  FROM documents)
          |SELECT chunk_md5, min(media_id) AS keep_id, count(*) AS n_copies,
          |       count(DISTINCT full_md5) AS n_distinct_full
          |FROM m GROUP BY 1 HAVING count(*) > 1
          |ORDER BY keep_id""".stripMargin,


      // mirrors Dedup.fuzzyPairs' oversize-block refinement: blocks
      // past 128 rows sub-block on the text's md5 nibble (below the
      // cap the sub-key is '' and the join is the plain blocked form)
      "q_fuzzy_pairs" ->
        """WITH bs AS (
          |  SELECT p_brand, p_size, count(*) AS bn FROM part GROUP BY 1, 2),
          |pp AS (
          |  SELECT p.*, CASE WHEN bs.bn > 128 THEN substring(md5(p_name), 1, 1)
          |                   ELSE '' END AS sub
          |  FROM part p JOIN bs USING (p_brand, p_size))
          |SELECT a.p_brand, a.p_size, a.p_partkey AS id_a, b.p_partkey AS id_b,
          |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
          |FROM pp a JOIN pp b
          |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.sub = b.sub
          |     AND a.p_partkey < b.p_partkey
          |WHERE levenshtein(a.p_name, b.p_name) <= 8
          |ORDER BY 1, 2, 3, 4""".stripMargin,


      "q_dedup_exact" ->
        """SELECT md5(substring(text, 1, 20)) AS fingerprint, min(doc_id) AS canonical_id,
          |       count(*) AS n_dups
          |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin,


      "q_dedup_normfp" ->
        """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
          |FROM documents ORDER BY doc_id""".stripMargin,


      // the bloom bits are engine-specific, so the gate pins the exact
      // counts plus the CONTRACT the filter must satisfy (no false
      // negatives; fp rate within bound) as literal-true booleans
      "q_bloom_prefilter" ->
        """WITH d AS (
          |  SELECT doc_id, md5(substring(text, 1, 20)) AS fp FROM documents),
          |b AS (SELECT * FROM d WHERE doc_id % 10 = 0),
          |c AS (SELECT DISTINCT fp FROM d WHERE doc_id % 10 <> 0)
          |SELECT (SELECT count(*) FROM b) AS n_batch,
          |       (SELECT count(*) FROM b WHERE fp IN (SELECT fp FROM c)) AS n_true_dup,
          |       TRUE AS no_false_negatives,
          |       TRUE AS fp_within_bound
          |ORDER BY n_batch""".stripMargin,


      "q_minhash" ->
        s"""WITH $sqlMinhashCtes
           |SELECT doc_id, mh0, mh1, mh2, mh3 FROM sig ORDER BY doc_id""".stripMargin,


      "q_vector_stats" ->
        """WITH v AS (
          |  SELECT embedding,
          |         round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
          |                                       CAST(embedding AS DOUBLE[]))), 6) AS nrm
          |  FROM embeddings)
          |SELECT count(*) AS n_vectors,
          |       CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          |       min(len(embedding)) AS min_dims, max(len(embedding)) AS max_dims,
          |       CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
          |       round(CAST(sum(CAST(round(nrm * 1000000.0) AS BIGINT)) AS DOUBLE)
          |             / (count(nrm) * 1000000.0), 4) AS avg_norm,
          |       min(nrm) AS min_norm, max(nrm) AS max_norm
          |FROM v ORDER BY n_vectors""".stripMargin,


      "q_knn_eval" ->
        """WITH q AS (
          |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS true_label
          |  FROM embeddings WHERE vec_id < 50),
          |t AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS tv, label
          |  FROM embeddings WHERE vec_id >= 50),
          |s AS (
          |  SELECT query_id, t.vec_id AS nid, t.label AS n_label,
          |         round(list_cosine_similarity(tv, qv), 6) AS c
          |  FROM t, q),
          |r AS (
          |  SELECT query_id, n_label,
          |         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nid) AS rk
          |  FROM s),
          |v AS (SELECT query_id, n_label, count(*) AS nv FROM r WHERE rk <= 3 GROUP BY 1, 2),
          |p AS (
          |  SELECT query_id, n_label AS pred_label,
          |         row_number() OVER (PARTITION BY query_id ORDER BY nv DESC, n_label) AS pr
          |  FROM v),
          |j AS (SELECT q.true_label AS label, p.pred_label FROM p JOIN q USING (query_id) WHERE pr = 1)
          |SELECT label, count(*) AS n,
          |       CAST(sum(CASE WHEN pred_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
          |       round(sum(CASE WHEN pred_label = label THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS accuracy
          |FROM j GROUP BY 1 ORDER BY label""".stripMargin,


      // NOTE: the sized CTEs' `BETWEEN 2 AND 316` mirrors
      // lshCandidatePairs' default admission cap
      // lshAdmissionCap(maxBucketSize=1000, maxPairsPerBucket=50000)
      // = 316; ContractSpec pins the literal to the formula
      // cap so Spark and oracle agree even if a band bucket blows up at
      // larger scale factors (boilerplate-heavy corpora).
      "q_lsh_pairs" ->
        s"""WITH $sqlMinhashCtes,
           |bands AS (
           |  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bh FROM sig
           |  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig),
           |sized AS (
           |  SELECT band, bh FROM bands GROUP BY band, bh
           |  HAVING count(*) BETWEEN 2 AND 316)
           |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |JOIN sized s ON s.band = a.band AND s.bh = a.bh
           |ORDER BY id1, id2""".stripMargin,


      // Transitive closure via recursive CTE: reach(id, r) holds every
      // node r reachable from id over the (capped, mirrored) LSH pair
      // graph; the component label is the least reachable id.
      "q_dedup_clusters" ->
        s"""WITH RECURSIVE $sqlMinhashCtes,
           |bands AS (
           |  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bh FROM sig
           |  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig),
           |sized AS (
           |  SELECT band, bh FROM bands GROUP BY band, bh
           |  HAVING count(*) BETWEEN 2 AND 316),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |  JOIN sized s ON s.band = a.band AND s.bh = a.bh),
           |edges AS (
           |  SELECT id1 AS src, id2 AS dst FROM pairs
           |  UNION SELECT id2, id1 FROM pairs),
           |reach AS (
           |  SELECT src AS id, dst AS r FROM edges
           |  UNION
           |  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
           |labels AS (SELECT id, min(r) AS min_r FROM reach GROUP BY id)
           |SELECT d.doc_id,
           |       COALESCE(least(l.min_r, d.doc_id), d.doc_id) AS cluster_id,
           |       COALESCE(least(l.min_r, d.doc_id), d.doc_id) = d.doc_id AS is_canonical
           |FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
           |ORDER BY doc_id""".stripMargin,


      // identical construction on both sides (sorted trailing-frame
      // list, lower-middle index) — no reliance on either engine's
      // quantile_disc window tie rule
      "q_moving_median" ->
        """WITH daily AS (
          |  SELECT event_type, date_trunc('day', ts) AS dday,
          |         round(sum(value), 2) AS day_total
          |  FROM events GROUP BY 1, 2),
          |win AS (
          |  SELECT event_type, strftime(dday, '%Y-%m-%d') AS day, day_total,
          |         list_sort(list(day_total) OVER (PARTITION BY event_type ORDER BY dday
          |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS vals
          |  FROM daily)
          |SELECT event_type, day, day_total,
          |       vals[CAST((len(vals) + 1) // 2 AS INTEGER)] AS moving_median
          |FROM win ORDER BY event_type, day""".stripMargin,


      "q_jaccard_pairs" -> jaccardPairsSql,


      // the prefix filter is lossless at the threshold, so the
      // prefix-join query answers to the SAME oracle as the naive form
      "q_jaccard_prefix" -> jaccardPairsSql,


      "q_simhash" -> {
        val sums = (0 until 16).map(b => s"sum(${sqlSimhashBit(b)}) AS s$b").mkString(",\n         ")
        val assemble = (0 until 16)
          .map(b => s"CASE WHEN s$b >= 0 THEN ${1 << b} ELSE 0 END").mkString(" + ")
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS t
           |  FROM documents),
           |h AS (SELECT doc_id, md5(t) AS h FROM tok),
           |bits AS (
           |  SELECT doc_id,
           |         $sums
           |  FROM h GROUP BY doc_id)
           |SELECT doc_id, CAST($assemble AS INTEGER) AS simhash FROM bits ORDER BY doc_id""".stripMargin
      },


      "q_simhash64" -> {
        val sums = (0 until 64).map(b => s"sum(${sqlSimhashBit(b)}) AS s$b").mkString(",\n         ")
        // disjoint bit powers: plain addition assembles the exact
        // two's-complement BIGINT (bit 63's power is Long.MinValue)
        val assemble = (0 until 64)
          .map(b => s"CASE WHEN s$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS t
           |  FROM documents),
           |h AS (SELECT doc_id, md5(t) AS h FROM tok),
           |bits AS (
           |  SELECT doc_id,
           |         $sums
           |  FROM h GROUP BY doc_id)
           |SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bits ORDER BY doc_id""".stripMargin
      },


      // same 64-bit signature CTE as q_simhash64, then the 4x16-bit
      // chunk pigeonhole join with bit_count(xor) verification
      "q_simhash_dedup" -> {
        val sums = (0 until 64).map(b => s"sum(${sqlSimhashBit(b)}) AS s$b").mkString(",\n         ")
        val assemble = (0 until 64)
          .map(b => s"CASE WHEN s$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END").mkString(" + ")
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS t
           |  FROM documents),
           |h AS (SELECT doc_id, md5(t) AS h FROM tok),
           |bits AS (
           |  SELECT doc_id,
           |         $sums
           |  FROM h GROUP BY doc_id),
           |sig AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bits),
           |chunks AS (
           |  SELECT doc_id, simhash, i AS ck, (simhash >> CAST(i * 16 AS INTEGER)) & 65535 AS cv
           |  FROM sig, range(4) t(i))
           |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           |FROM chunks a JOIN chunks b ON a.ck = b.ck AND a.cv = b.cv AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY id1, id2""".stripMargin
      },


      "q_ann_multiprobe" ->
        s"""WITH b AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |         CAST(${sqlHyperplaneBucket("embedding")} AS INTEGER) AS bucket
           |  FROM embeddings),
           |q AS (SELECT vec_id, v, bucket FROM b WHERE vec_id < 8),
           |probes AS (
           |  SELECT vec_id, v, bucket AS probe FROM q
           |  UNION ALL SELECT vec_id, v, xor(bucket, 1) FROM q
           |  UNION ALL SELECT vec_id, v, xor(bucket, 2) FROM q
           |  UNION ALL SELECT vec_id, v, xor(bucket, 4) FROM q
           |  UNION ALL SELECT vec_id, v, xor(bucket, 8) FROM q),
           |s AS (
           |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
           |         list_cosine_similarity(c.v, p.v) AS c
           |  FROM b c JOIN probes p ON c.bucket = p.probe AND c.vec_id <> p.vec_id)
           |SELECT query_id,
           |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank,
           |       neighbor_id, round(c, 6) AS cosine
           |FROM s QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin,


      "q_sim_topk" ->
        """WITH q AS (
          |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id < 5),
          |s AS (
          |  SELECT query_id, e.vec_id AS neighbor_id,
          |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv) AS c
          |  FROM embeddings e, q WHERE e.vec_id <> query_id)
          |SELECT query_id,
          |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank,
          |       neighbor_id, round(c, 6) AS cosine
          |FROM s QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin,


      "q_embed_bucket" ->
        s"""SELECT CAST(${sqlHyperplaneBucket("embedding")} AS INTEGER) AS bucket, count(*) AS n
           |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin,


      "q_ann_topk" ->
        s"""WITH b AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |         CAST(${sqlHyperplaneBucket("embedding")} AS INTEGER) AS bucket
           |  FROM embeddings),
           |s AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |         list_cosine_similarity(c.v, q.v) AS c
           |  FROM b c JOIN b q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
           |  WHERE q.vec_id < 8)
           |SELECT query_id,
           |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank,
           |       neighbor_id, round(c, 6) AS cosine
           |FROM s QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin,


      "q_embed_neardup" ->
        s"""WITH b AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |         CAST(${sqlHyperplaneBucket("embedding")} AS INTEGER) AS bucket
           |  FROM embeddings)
           |SELECT a.vec_id AS id1, bb.vec_id AS id2,
           |       round(list_cosine_similarity(a.v, bb.v), 6) AS cosine
           |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
           |WHERE list_cosine_similarity(a.v, bb.v) >= 0.2
           |ORDER BY id1, id2""".stripMargin,


      // same top-k shape as q_ann_topk, but the bucket adapts to the
      // measured corpus count via the nps CTE — per-plane gating over
      // the 12-plane candidate set
      "q_ann_topk_auto" ->
        s"""WITH $sqlAutoPlaneCountCte,
           |b AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |         CAST(${sqlHyperplaneBucketAuto("embedding")} AS INTEGER) AS bucket
           |  FROM embeddings CROSS JOIN nps),
           |s AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |         list_cosine_similarity(c.v, q.v) AS c
           |  FROM b c JOIN b q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
           |  WHERE q.vec_id < 8)
           |SELECT query_id,
           |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank,
           |       neighbor_id, round(c, 6) AS cosine
           |FROM s QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin,


      "q_embed_neardup_auto" ->
        s"""WITH $sqlAutoPlaneCountCte,
           |b AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |         CAST(${sqlHyperplaneBucketAuto("embedding")} AS INTEGER) AS bucket
           |  FROM embeddings CROSS JOIN nps)
           |SELECT a.vec_id AS id1, bb.vec_id AS id2,
           |       round(list_cosine_similarity(a.v, bb.v), 6) AS cosine
           |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
           |WHERE list_cosine_similarity(a.v, bb.v) >= 0.2
           |ORDER BY id1, id2""".stripMargin,


      // SemDeDup: same assignment CTE as q_ivf_assign, pair prune
      // within clusters, smaller-id-keeps drop rule; centroid count
      // derived from the corpus count by pure-integer ceiling math —
      // mirrors the Spark side exactly with no libm boundary risk
      "q_semantic_dedup" ->
        """WITH kk AS (
          |  SELECT GREATEST(4, (count(*) + 127) // 128) AS k FROM embeddings),
          |e AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |c AS (SELECT vec_id AS centroid_id, v AS cv
          |      FROM e CROSS JOIN kk WHERE vec_id < kk.k),
          |s AS (
          |  SELECT e.vec_id, centroid_id, list_cosine_similarity(v, cv) AS cc
          |  FROM e, c),
          |asg AS (
          |  SELECT vec_id, centroid_id
          |  FROM (SELECT vec_id, centroid_id,
          |               row_number() OVER (PARTITION BY vec_id
          |                                  ORDER BY cc DESC, centroid_id) AS rn
          |        FROM s) WHERE rn = 1),
          |dropped AS (
          |  SELECT DISTINCT b.vec_id
          |  FROM asg a JOIN asg b
          |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
          |  JOIN e ea ON ea.vec_id = a.vec_id
          |  JOIN e eb ON eb.vec_id = b.vec_id
          |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.2)
          |SELECT centroid_id, count(*) AS n_vectors,
          |       CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |       CAST(sum(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
          |FROM asg LEFT JOIN dropped d USING (vec_id)
          |GROUP BY 1 ORDER BY 1""".stripMargin,


      // IVF assignment: the argmax is re-derived as a per-vector
      // row_number over (cosine DESC, centroid_id) — same tie-break as
      // the Spark struct-max
      "q_ivf_assign" ->
        """WITH e AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 4),
          |s AS (
          |  SELECT e.vec_id, centroid_id, list_cosine_similarity(v, cv) AS cc
          |  FROM e, c)
          |SELECT vec_id, centroid_id, round(cc, 6) AS centroid_cos
          |FROM (SELECT vec_id, centroid_id, cc,
          |             row_number() OVER (PARTITION BY vec_id
          |                                ORDER BY cc DESC, centroid_id) AS rn
          |      FROM s) WHERE rn = 1
          |ORDER BY vec_id""".stripMargin,


      "q_ivf_topk" ->
        """WITH e AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
          |sc AS (
          |  SELECT e.vec_id, cid, list_cosine_similarity(v, cv) AS cc,
          |         row_number() OVER (PARTITION BY e.vec_id
          |                            ORDER BY list_cosine_similarity(v, cv) DESC, cid) AS rn
          |  FROM e, c),
          |asg AS (SELECT vec_id AS neighbor_id, cid FROM sc WHERE rn = 1),
          |probe AS (SELECT vec_id AS query_id, cid FROM sc WHERE vec_id < 8 AND rn <= 2),
          |s AS (
          |  SELECT p.query_id, a.neighbor_id,
          |         list_cosine_similarity(eq.v, en.v) AS cos_qn
          |  FROM probe p
          |  JOIN asg a ON p.cid = a.cid
          |  JOIN e eq ON eq.vec_id = p.query_id
          |  JOIN e en ON en.vec_id = a.neighbor_id
          |  WHERE a.neighbor_id <> p.query_id)
          |SELECT query_id,
          |       CAST(row_number() OVER (PARTITION BY query_id
          |                               ORDER BY cos_qn DESC, neighbor_id) AS INTEGER) AS rank,
          |       neighbor_id, round(cos_qn, 6) AS cosine
          |FROM s QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin,


      // hex-pair parse of the md5 digest (DuckDB has no hex→int conv;
      // two instr lookups per byte reconstruct it exactly)
      "q_media_features" -> {
        def hexv(p: Int) = s"(instr('0123456789abcdef', substring(h, $p, 1)) - 1)"
        val feats = (0 until 4).map { j =>
          s"round((${hexv(2 * j + 1)} * 16 + ${hexv(2 * j + 2)}) / 256.0, 6) AS f$j"
        }.mkString(",\n          |       ")
        s"""WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents)
           |SELECT media_id,
           |       $feats
           |FROM m ORDER BY media_id""".stripMargin
      },


      "q_multimodal_meta" ->
        """SELECT doc_id AS media_id, 'image' AS kind,
          |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
          |       CAST(64 + octet_length(encode(text)) % 193 AS INTEGER) AS width,
          |       CAST(64 + (octet_length(encode(text)) * 31) % 131 AS INTEGER) AS height,
          |       CAST(1 AS INTEGER) AS n_frames,
          |       md5(text) AS checksum
          |FROM documents ORDER BY media_id""".stripMargin,


      // char-slice == byte-slice because the corpus is pure ASCII
      // (md5 of the substring's UTF-8 bytes == md5 of the byte frame)
      "q_frame_sample" ->
        """WITH m AS (
          |  SELECT doc_id AS media_id, text,
          |         CAST(ceil(length(text) / 64.0) AS INTEGER) AS nt
          |  FROM documents),
          |f AS (
          |  SELECT media_id, text, unnest(range(0, greatest(nt - 1, 0) + 1)) AS frame_idx
          |  FROM m)
          |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
          |       md5(substring(text, CAST(frame_idx AS INTEGER) * 64 + 1, 64)) AS frame_md5
          |FROM f WHERE frame_idx % 2 = 0
          |ORDER BY media_id, frame_idx""".stripMargin,


      // text pairs (same CTEs as q_dedup_clusters) ∪ embedding pairs
      // (same bucket predicate as q_embed_neardup) → one recursive
      // reachability closure → per-cluster member counts
      "q_dedup_ensemble" ->
        s"""WITH RECURSIVE $sqlMinhashCtes,
           |bands AS (
           |  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bh FROM sig
           |  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig),
           |sized AS (
           |  SELECT band, bh FROM bands GROUP BY band, bh
           |  HAVING count(*) BETWEEN 2 AND 316),
           |tpairs AS (
           |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |  JOIN sized s ON s.band = a.band AND s.bh = a.bh),
           |eb AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |         CAST(${sqlHyperplaneBucket("embedding")} AS INTEGER) AS bucket
           |  FROM embeddings),
           |epairs AS (
           |  SELECT a.vec_id AS id1, bb.vec_id AS id2
           |  FROM eb a JOIN eb bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
           |  WHERE list_cosine_similarity(a.v, bb.v) >= 0.2),
           |allp AS (SELECT id1, id2 FROM tpairs UNION SELECT id1, id2 FROM epairs),
           |edges AS (
           |  SELECT id1 AS src, id2 AS dst FROM allp
           |  UNION SELECT id2, id1 FROM allp),
           |reach AS (
           |  SELECT src AS id, dst AS r FROM edges
           |  UNION
           |  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
           |labels AS (SELECT id, min(r) AS min_r FROM reach GROUP BY id),
           |assign AS (
           |  SELECT d.doc_id,
           |         COALESCE(least(l.min_r, d.doc_id), d.doc_id) AS cluster_id
           |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
           |SELECT cluster_id, count(*) AS n_members
           |FROM assign GROUP BY cluster_id HAVING count(*) > 1
           |ORDER BY cluster_id""".stripMargin,


      // signature-agreement estimate vs true n-gram Jaccard on the
      // same MEASURED subset bound (max(200, 2·n_docs/5), exact
      // integer floor division) the Spark side derives
      "q_minhash_eval" ->
        """WITH toks AS (
          |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS l
          |  FROM documents
          |  WHERE doc_id < (SELECT greatest(200, (count(*) * 2) // 5) FROM documents)),
          |sh AS (
          |  SELECT doc_id, unnest([array_to_string(l[i:i+2], ' ') for i in range(1, len(l) - 1)]) AS shingle
          |  FROM toks),
          |hs AS (SELECT doc_id, md5(shingle) AS h FROM sh),
          |sig AS (
          |  SELECT doc_id,
          |         min(substring(h, 1, 8)) AS mh0, min(substring(h, 9, 8)) AS mh1,
          |         min(substring(h, 17, 8)) AS mh2, min(substring(h, 25, 8)) AS mh3
          |  FROM hs GROUP BY doc_id),
          |bands AS (
          |  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bh FROM sig
          |  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig),
          |sized AS (
          |  SELECT band, bh FROM bands GROUP BY band, bh
          |  HAVING count(*) BETWEEN 2 AND 316),
          |cand AS (
          |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
          |  JOIN sized s ON s.band = a.band AND s.bh = a.bh),
          |dsh AS (SELECT DISTINCT doc_id AS id, shingle FROM sh),
          |sizes AS (SELECT id, count(*) AS n_sh FROM dsh GROUP BY id),
          |inter AS (
          |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_inter
          |  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)
          |SELECT c.id1, c.id2,
          |       (CASE WHEN s1.mh0 = s2.mh0 THEN 1 ELSE 0 END +
          |        CASE WHEN s1.mh1 = s2.mh1 THEN 1 ELSE 0 END +
          |        CASE WHEN s1.mh2 = s2.mh2 THEN 1 ELSE 0 END +
          |        CASE WHEN s1.mh3 = s2.mh3 THEN 1 ELSE 0 END) / 4.0 AS est_jaccard,
          |       round(COALESCE(CAST(i.n_inter AS DOUBLE) / (z1.n_sh + z2.n_sh - i.n_inter), 0.0), 6) AS true_jaccard
          |FROM cand c
          |JOIN sig s1 ON s1.doc_id = c.id1
          |JOIN sig s2 ON s2.doc_id = c.id2
          |JOIN sizes z1 ON z1.id = c.id1
          |JOIN sizes z2 ON z2.id = c.id2
          |LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
          |ORDER BY c.id1, c.id2""".stripMargin,


      // same CC closure as q_dedup_clusters + the quality CTEs; the
      // keep-best argmax re-derives as row_number over
      // (quality_score DESC, doc_id)
      "q_dedup_keep_best" ->
        s"""WITH RECURSIVE $sqlMinhashCtes,
           |bands AS (
           |  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bh FROM sig
           |  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig),
           |sized AS (
           |  SELECT band, bh FROM bands GROUP BY band, bh
           |  HAVING count(*) BETWEEN 2 AND 316),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |  JOIN sized s ON s.band = a.band AND s.bh = a.bh),
           |edges AS (
           |  SELECT id1 AS src, id2 AS dst FROM pairs
           |  UNION SELECT id2, id1 FROM pairs),
           |reach AS (
           |  SELECT src AS id, dst AS r FROM edges
           |  UNION
           |  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
           |labels AS (SELECT id, min(r) AS min_r FROM reach GROUP BY id),
           |$sqlQualityFeatureCte,
           |q AS (SELECT doc_id, $sqlQualityScore AS quality_score FROM f),
           |assign AS (
           |  SELECT d.doc_id, q.quality_score,
           |         COALESCE(least(l.min_r, d.doc_id), d.doc_id) AS cluster_id
           |  FROM documents d
           |  LEFT JOIN labels l ON l.id = d.doc_id
           |  JOIN q ON q.doc_id = d.doc_id),
           |ranked AS (
           |  SELECT doc_id, cluster_id, quality_score,
           |         row_number() OVER (PARTITION BY cluster_id
           |                            ORDER BY quality_score DESC, doc_id) AS rn
           |  FROM assign)
           |SELECT doc_id, cluster_id, quality_score, rn = 1 AS is_canonical
           |FROM ranked ORDER BY doc_id""".stripMargin,


      // bigram containment: same inverted-index CTE shape as
      // q_jaccard_pairs, ratios against EACH side's shingle count
      "q_containment" ->
        """WITH toks AS (
          |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS l
          |  FROM documents WHERE doc_id < 100),
          |sh AS (
          |  SELECT DISTINCT id, shingle FROM (
          |    SELECT doc_id AS id, unnest([array_to_string(l[i:i+1], ' ') for i in range(1, len(l))]) AS shingle
          |    FROM toks)),
          |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
          |inter AS (
          |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_inter
          |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)
          |SELECT id1, id2, n_inter,
          |       round(CAST(n_inter AS DOUBLE) / s1.n_sh, 6) AS c1,
          |       round(CAST(n_inter AS DOUBLE) / s2.n_sh, 6) AS c2,
          |       round(greatest(CAST(n_inter AS DOUBLE) / s1.n_sh,
          |                      CAST(n_inter AS DOUBLE) / s2.n_sh), 6) AS containment
          |FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2
          |WHERE greatest(CAST(n_inter AS DOUBLE) / s1.n_sh,
          |               CAST(n_inter AS DOUBLE) / s2.n_sh) >= 0.25
          |ORDER BY id1, id2""".stripMargin,


      // int8 quantization mirrored term-for-term: scale division, round,
      // exact integer dot, then (qdot * c.scale) * q.scale in the SAME
      // association order as the Spark column expression
      "q_quantized_topk" ->
        """WITH qz AS (
          |  SELECT vec_id,
          |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
          |         CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |q8 AS (
          |  SELECT vec_id, scale,
          |         CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
          |              ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) END AS q
          |  FROM qz),
          |s AS (
          |  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
          |         CAST(list_sum([c.q[i] * p.q[i] for i in range(1, len(c.q) + 1)]) AS BIGINT) AS qdot,
          |         c.scale AS cs, p.scale AS ps
          |  FROM q8 c JOIN q8 p ON p.vec_id < 8 AND c.vec_id <> p.vec_id)
          |SELECT query_id,
          |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY (qdot * cs) * ps DESC, neighbor_id) AS INTEGER) AS rank,
          |       neighbor_id, qdot, round((qdot * cs) * ps, 6) AS approx_dot
          |FROM s QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin,


      "q_hard_negatives" ->
        """WITH b AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
          |q AS (SELECT vec_id AS query_id, v AS qv, label AS q_label FROM b WHERE vec_id < 8),
          |s AS (
          |  SELECT query_id, c.vec_id AS neighbor_id, c.label AS n_label,
          |         list_cosine_similarity(c.v, qv) AS c
          |  FROM b c, q WHERE c.vec_id <> query_id AND c.label <> q_label)
          |SELECT query_id,
          |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank,
          |       neighbor_id, n_label, round(c, 6) AS cosine
          |FROM s QUALIFY rank <= 2 ORDER BY query_id, rank""".stripMargin,


      "q_ann_recall" ->
        s"""WITH b AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |         CAST(${sqlHyperplaneBucket("embedding")} AS INTEGER) AS bucket
           |  FROM embeddings),
           |q AS (SELECT vec_id, v, bucket FROM b WHERE vec_id < 8),
           |exact AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |           row_number() OVER (PARTITION BY q.vec_id
           |             ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.vec_id) AS r
           |    FROM b c JOIN q ON c.vec_id <> q.vec_id) WHERE r <= 3),
           |ann AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |           row_number() OVER (PARTITION BY q.vec_id
           |             ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.vec_id) AS r
           |    FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id) WHERE r <= 3),
           |hits AS (
           |  SELECT e.query_id, count(*) AS n_hit
           |  FROM exact e JOIN ann a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
           |  GROUP BY 1)
           |SELECT q.vec_id AS query_id, COALESCE(h.n_hit, 0) AS n_hit,
           |       round(COALESCE(h.n_hit, 0) / 3.0, 6) AS recall_at_3
           |FROM q LEFT JOIN hits h ON h.query_id = q.vec_id
           |ORDER BY query_id""".stripMargin,


      "q_random_projection" -> {
        val planes = Similarity.defaultPlanes(dim = 64, nPlanes = 8, seed = 7L)
        val inv = 1.0 / math.sqrt(8.0)
        val pDefs = planes.zipWithIndex.map { case (pl, i) =>
          s"round((${sqlPlaneDot(pl, "embedding")}) * $inv, 6) AS p$i"
        }.mkString(",\n         ")
        val pNames = (0 until 8).map(i => s"p$i").mkString(", ")
        val sumSq = (0 until 8).map(i => s"p$i * p$i").reduce((a, b) => s"$a + $b")
        s"""WITH v AS (
           |  SELECT vec_id,
           |         round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
           |                                       CAST(embedding AS DOUBLE[]))), 6) AS nrm,
           |         $pDefs
           |  FROM embeddings)
           |SELECT vec_id, $pNames,
           |       CASE WHEN nrm = 0.0 THEN NULL
           |            ELSE round(sqrt($sumSq) / nrm, 6) END AS distortion
           |FROM v ORDER BY vec_id""".stripMargin
      },


      "q_linkage" -> {
        def wa(m: Double, u: Double) = math.log(m / u)
        def wd(m: Double, u: Double) = math.log((1.0 - m) / (1.0 - u))
        // the same Möbius-over-group-sizes form as the engine: A(T) =
        // pairs agreeing on at least T, patterns by inclusion-exclusion
        s"""WITH c AS (
           |  SELECT c_custkey, c_nationkey, c_mktsegment,
           |         right(c_name, 1) AS sfx,
           |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS balk
           |  FROM customer),
           |a00 AS (SELECT CAST(coalesce(sum((n * (n - 1)) // 2), 0) AS BIGINT) AS a
           |        FROM (SELECT count(*) AS n FROM c GROUP BY c_nationkey, c_mktsegment)),
           |a10 AS (SELECT CAST(coalesce(sum((n * (n - 1)) // 2), 0) AS BIGINT) AS a
           |        FROM (SELECT count(*) AS n FROM c GROUP BY c_nationkey, c_mktsegment, balk)),
           |a01 AS (SELECT CAST(coalesce(sum((n * (n - 1)) // 2), 0) AS BIGINT) AS a
           |        FROM (SELECT count(*) AS n FROM c GROUP BY c_nationkey, c_mktsegment, sfx)),
           |a11 AS (SELECT CAST(coalesce(sum((n * (n - 1)) // 2), 0) AS BIGINT) AS a
           |        FROM (SELECT count(*) AS n FROM c GROUP BY c_nationkey, c_mktsegment, balk, sfx)),
           |pat AS (
           |  SELECT round(${wd(0.3, 0.05)} + ${wd(0.9, 0.1)}, 6) AS score,
           |         (SELECT a FROM a00) - (SELECT a FROM a10)
           |           - (SELECT a FROM a01) + (SELECT a FROM a11) AS n_pairs
           |  UNION ALL
           |  SELECT round(${wa(0.3, 0.05)} + ${wd(0.9, 0.1)}, 6),
           |         (SELECT a FROM a10) - (SELECT a FROM a11)
           |  UNION ALL
           |  SELECT round(${wd(0.3, 0.05)} + ${wa(0.9, 0.1)}, 6),
           |         (SELECT a FROM a01) - (SELECT a FROM a11)
           |  UNION ALL
           |  SELECT round(${wa(0.3, 0.05)} + ${wa(0.9, 0.1)}, 6),
           |         (SELECT a FROM a11))
           |SELECT score, score >= 1.0 AS is_link, CAST(n_pairs AS BIGINT) AS n_pairs
           |FROM pat WHERE n_pairs > 0 ORDER BY 1""".stripMargin
      },


      // same brute-force assignment CTE as q_ivf_assign (only the
      // argmax is consumed), then exact counts into one PSI tower per
      // centroid
      "q_embed_drift" ->
        """WITH e AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 4),
          |s AS (
          |  SELECT e.vec_id, centroid_id,
          |         row_number() OVER (PARTITION BY e.vec_id
          |                            ORDER BY list_cosine_similarity(v, cv) DESC,
          |                                     centroid_id) AS rn
          |  FROM e, c),
          |a AS (SELECT vec_id, centroid_id FROM s WHERE rn = 1),
          |counts AS (
          |  SELECT centroid_id,
          |         CAST(count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT) AS c_ref,
          |         CAST(count(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS BIGINT) AS c_cur
          |  FROM a GROUP BY 1),
          |tot AS (SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
          |               CAST(sum(c_cur) AS BIGINT) AS n_cur FROM counts)
          |SELECT centroid_id, c_ref, c_cur,
          |       round((greatest(CAST(c_cur AS DOUBLE) / n_cur, 1e-6) -
          |              greatest(CAST(c_ref AS DOUBLE) / n_ref, 1e-6)) *
          |             ln(greatest(CAST(c_cur AS DOUBLE) / n_cur, 1e-6) /
          |                greatest(CAST(c_ref AS DOUBLE) / n_ref, 1e-6)), 6) AS psi_term
          |FROM counts, tot ORDER BY centroid_id""".stripMargin,


      // doubled midranks keep every aggregate an exact long; the
      // halving happens in the final float tower (x.5 is IEEE-exact)
      "q_mann_whitney" ->
        """WITH cells AS (
          |  SELECT CAST(floor(value * 100) AS BIGINT) AS v,
          |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
          |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
          |  FROM events GROUP BY 1),
          |c2 AS (
          |  SELECT c0, c1, c0 + c1 AS cnt,
          |         COALESCE(CAST(sum(c0 + c1) OVER (ORDER BY v ROWS BETWEEN
          |           UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
          |  FROM cells),
          |s AS (
          |  SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1,
          |         CAST(sum(c1 * (2*cb + cnt + 1)) AS BIGINT) AS r2,
          |         CAST(sum(cnt*cnt*cnt - cnt) AS BIGINT) AS t3
          |  FROM c2)
          |SELECT n0, n1,
          |       CAST(r2 - n1*(n1+1) AS DOUBLE) / 2.0 AS u1,
          |       round(CAST(r2 - n1*(n1+1) AS DOUBLE) /
          |             (2.0 * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)), 6) AS auc,
          |       CASE WHEN CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0 *
          |                 (CAST(n0 + n1 + 1 AS DOUBLE) - CAST(t3 AS DOUBLE) /
          |                  (CAST(n0 + n1 AS DOUBLE) * CAST(n0 + n1 - 1 AS DOUBLE))) > 0
          |            THEN round(CAST((r2 - n1*(n1+1)) - n0*n1 AS DOUBLE) / 2.0 /
          |                 sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0 *
          |                      (CAST(n0 + n1 + 1 AS DOUBLE) - CAST(t3 AS DOUBLE) /
          |                       (CAST(n0 + n1 AS DOUBLE) * CAST(n0 + n1 - 1 AS DOUBLE)))), 6)
          |       END AS z
          |FROM s ORDER BY n0""".stripMargin,


      // Mann–Kendall on the identical daily-cents grid; DuckDB's
      // integer // truncates toward zero exactly like Spark's div
      "q_mann_kendall" ->
        """WITH grid AS (
          |  SELECT event_type,
          |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
          |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
          |  FROM events GROUP BY 1, 2),
          |p AS (
          |  SELECT a.event_type,
          |         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
          |  FROM grid a JOIN grid b
          |    ON a.event_type = b.event_type AND a.x < b.x),
          |s AS (SELECT event_type, CAST(sum(sgn) AS BIGINT) AS s_stat,
          |             CAST(count(*) AS BIGINT) AS n_pairs
          |      FROM p GROUP BY 1),
          |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
          |      FROM grid GROUP BY 1)
          |SELECT n.event_type, n.n_points, s.s_stat,
          |       (s.s_stat * 1000000000) // s.n_pairs AS tau_ppb,
          |       CASE WHEN s.s_stat > 0 THEN 'increasing'
          |            WHEN s.s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend
          |FROM n JOIN s USING (event_type) ORDER BY event_type""".stripMargin,


      // blocking-vs-truth clearing: truth pairs count combinatorially
      // per fingerprint group, the intersection tests each capped LSH
      // candidate's fingerprints — the pair space never exceeds the
      // blocking's own output
      "q_blocking_eval" ->
        s"""WITH $sqlMinhashCtes,
           |bands AS (
           |  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bh FROM sig
           |  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig),
           |sized AS (
           |  SELECT band, bh FROM bands GROUP BY band, bh
           |  HAVING count(*) BETWEEN 2 AND 316),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |  JOIN sized s ON s.band = a.band AND s.bh = a.bh),
           |fps AS (
           |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
           |  FROM documents),
           |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
           |tr AS (SELECT CAST(COALESCE(sum(m * (m - 1) // 2), 0) AS BIGINT) AS n_truth
           |       FROM (SELECT fp, count(*) AS m FROM fps GROUP BY 1)),
           |ht AS (SELECT CAST(count(*) AS BIGINT) AS n_cand,
           |              CAST(COALESCE(sum(CASE WHEN f1.fp = f2.fp THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
           |       FROM pairs p
           |       JOIN fps f1 ON f1.doc_id = p.id1
           |       JOIN fps f2 ON f2.doc_id = p.id2)
           |SELECT n_docs, n_truth, n_cand, n_hit,
           |       round(n_hit / CAST(nullif(n_truth, 0) AS DOUBLE), 6) AS completeness,
           |       round(n_hit / CAST(nullif(n_cand, 0) AS DOUBLE), 6) AS quality,
           |       round(1.0 - n_cand / (n_docs * (n_docs - 1) / 2.0), 6) AS reduction_ratio
           |FROM nd CROSS JOIN tr CROSS JOIN ht ORDER BY n_docs""".stripMargin,


      // same md5 split-bucket mirror as q_group_split; fingerprint =
      // md5 of whitespace-normalized lowercased text
      "q_split_leakage" ->
        """WITH d AS (
          |  SELECT doc_id,
          |         CASE WHEN b < 13 THEN 'train' WHEN b < 15 THEN 'val' ELSE 'test' END AS split,
          |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
          |  FROM (SELECT doc_id, text,
          |          instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS b
          |        FROM documents)),
          |f AS (SELECT fp, count(DISTINCT split) AS n_splits FROM d GROUP BY 1)
          |SELECT split, count(*) AS n_docs,
          |       count(CASE WHEN n_splits > 1 THEN 1 END) AS n_leaky_docs,
          |       count(DISTINCT CASE WHEN n_splits > 1 THEN fp END) AS n_leaky_fps
          |FROM d JOIN f USING (fp)
          |GROUP BY 1 ORDER BY 1""".stripMargin,


      // PQ mirrored stage-for-stage: one global int8 scale, codebook =
      // sub-vectors of rows vec_id<16, integer-L2 argmin assignment
      // (ties to smallest code), integer ADC lookup sums
      "q_pq_topk" ->
        """WITH base AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |sc AS (
          |  SELECT max(list_max(list_transform(v, x -> abs(x)))) / 127.0 AS scale FROM base),
          |q8 AS (
          |  SELECT vec_id,
          |         CASE WHEN sc.scale = 0 THEN [CAST(0 AS BIGINT) for x in v]
          |              ELSE [CAST(round(x / sc.scale) AS BIGINT) for x in v] END AS q
          |  FROM base, sc),
          |sub AS (
          |  SELECT vec_id, j, list_slice(q, j * (len(q) // 4) + 1,
          |                               (j + 1) * (len(q) // 4)) AS s
          |  FROM q8, range(0, 4) r(j)),
          |cb AS (SELECT vec_id AS code_id, j, s AS c FROM sub WHERE vec_id < 16),
          |assign AS (
          |  SELECT vec_id, j, code_id,
          |         list_sum([(s[i] - c[i]) * (s[i] - c[i])
          |                   for i in range(1, len(s) + 1)]) AS dist
          |  FROM sub JOIN cb USING (j)),
          |codes AS (
          |  SELECT vec_id, j, code_id FROM assign
          |  QUALIFY row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code_id) = 1),
          |lut AS (
          |  SELECT qs.vec_id AS query_id, qs.j, cb.code_id,
          |         CAST(list_sum([qs.s[i] * cb.c[i]
          |                        for i in range(1, len(qs.s) + 1)]) AS BIGINT) AS d
          |  FROM sub qs JOIN cb ON qs.j = cb.j WHERE qs.vec_id < 8),
          |score AS (
          |  SELECT l.query_id, c.vec_id AS neighbor_id, CAST(sum(l.d) AS BIGINT) AS adc
          |  FROM codes c JOIN lut l ON l.j = c.j AND l.code_id = c.code_id
          |  WHERE c.vec_id <> l.query_id
          |  GROUP BY 1, 2)
          |SELECT query_id,
          |       CAST(row_number() OVER (PARTITION BY query_id
          |                               ORDER BY adc DESC, neighbor_id) AS INTEGER) AS rank,
          |       neighbor_id, adc
          |FROM score QUALIFY rank <= 3 ORDER BY query_id, rank""".stripMargin,


      // md5 over the identical "c_p" string reproduces the draw
      "q_neg_sample" ->
        """WITH inter AS (
          |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |pop AS (
          |  SELECT l_partkey AS p FROM lineitem GROUP BY 1
          |  ORDER BY count(*) DESC, l_partkey LIMIT 50),
          |cand AS (SELECT c_custkey AS c, pop.p FROM customer CROSS JOIN pop),
          |neg AS (
          |  SELECT c, p FROM cand
          |  WHERE NOT EXISTS (SELECT 1 FROM inter i WHERE i.c = cand.c AND i.p = cand.p))
          |SELECT c AS c_custkey,
          |       CAST(row_number() OVER (PARTITION BY c
          |            ORDER BY md5(c || '_' || p), p) AS INTEGER) AS rank,
          |       p AS p_partkey
          |FROM neg QUALIFY rank <= 5 ORDER BY c_custkey, rank""".stripMargin,
  )
}
