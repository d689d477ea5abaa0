package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for LLM training-data pipelines:
  * sliding-window document chunking, eval-set decontamination by
  * n-gram overlap, repetition statistics (Gopher-style quality rule),
  * and unigram surprisal scoring.
  *
  * All four follow the tokenize-once discipline ([[TextStats]]): each
  * document is split exactly once and every feature derives from that
  * token array, in whole-stage-codegen expressions — no UDFs.
  *
  * Scale design (100 TB corpus):
  *   - [[chunkDocs]] is narrow (explode only) — chunk count scales with
  *     corpus size but needs no shuffle at all; writers downstream
  *     partition by hash(doc_id) to keep a doc's chunks co-located.
  *   - [[contamination]] joins train-side shingles against the DISTINCT
  *     eval-side shingles. The eval set (benchmarks) is tiny relative
  *     to training data, so the right plan broadcasts it — asserted in
  *     the spec. At petabyte scale hash the shingles (xxhash64) before
  *     the join so the broadcast ships 8-byte keys, not strings.
  *   - [[repetitionStats]] aggregates per (doc, ngram) then per doc:
  *     both shuffles key on doc_id, and map-side combine collapses each
  *     doc's repeated n-grams before the exchange (a doc's shingles
  *     start on one input split), so shuffle volume ~ distinct n-grams.
  *   - [[unigramSurprisal]] builds the vocabulary with one hash
  *     aggregate (map-side combined; vocab size is sub-linear in corpus
  *     size by Zipf) and joins it back to exploded tokens. The demo
  *     broadcasts the vocab; past broadcast size, keep the shuffle join
  *     — both sides are already keyed by token.
  */
object Corpus {

  /** Phrase-blocklist filter — find every (doc, phrase) hit of a
    * banned-phrase list against the corpus, the policy-filtering pass
    * (unsafe content, PII trigger phrases, license boilerplate) that
    * runs before training-data export. Matching is TOKEN-SEQUENCE
    * containment on the canonical token stream ([[Dedup.tokens]]):
    * both the document and the phrase are lowercased, whitespace-
    * tokenized, and re-joined by single spaces, and a hit means the
    * phrase's token sequence appears contiguously in the document's —
    * so "fast table" does NOT match "breakfast tables" (raw substring
    * matching would), and any whitespace/casing difference is
    * normalized away.
    *
    * Scale design (the reason this isn't |docs| × |phrases| contains
    * calls): the blocklist broadcasts, keyed by each phrase's FIRST
    * token; the corpus side explodes each document's DISTINCT tokens
    * (vocab-bounded per doc) and the broadcast join keeps only (doc,
    * phrase) pairs whose anchor token the document actually contains —
    * sound, because a token-sequence match implies its first token is
    * present in the token set. Only those candidates pay the padded
    * `contains` verification over the normalized text. With a 10⁵-
    * phrase blocklist a document therefore verifies only the phrases
    * anchored at tokens it contains, not all 10⁵ — and the whole
    * operator is one broadcast join plus narrow codegen expressions,
    * zero shuffles on the corpus side.
    *
    * Returns (idCol, phrase) — one row per matched (document, phrase),
    * phrases in normalized form.
    */
  def blocklistFilter(docs: DataFrame, phrases: Seq[String],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty, "blocklist must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val ph = phrases.toDF("raw")
      .select(array_join(TextStats.tokens(col("raw")), " ").as("phrase"))
      .filter(col("phrase") =!= "").distinct()
      .withColumn("anchor", split(col("phrase"), " ").getItem(0))
    val norm = docs.select(col(idCol),
      concat(lit(" "), array_join(TextStats.tokens(col(textCol)), " "),
        lit(" ")).as("ntext"))
    norm
      .select(col(idCol), col("ntext"),
        explode(array_distinct(TextStats.tokens(col("ntext")))).as("anchor"))
      .join(broadcast(ph), "anchor")
      .filter(col("ntext").contains(concat(lit(" "), col("phrase"), lit(" "))))
      .select(col(idCol), col("phrase"))
  }

  /** ROUGE-1/ROUGE-2 recall for (candidate, reference) document pairs
    * — the n-gram-overlap eval metric (summarization QA, paraphrase
    * mining, distillation-output scoring): what fraction of the
    * REFERENCE's unigrams / bigrams does the candidate recover, with
    * CLIPPED multiset counts (a candidate repeating "the" 50 times
    * credits at most the reference's own count — Σ_g min(c_cand(g),
    * c_ref(g))). Tokenization is the canonical stream
    * ([[TextStats.tokens]]); bigrams are the narrow zip_with form
    * ([[bigramSurprisal]]).
    *
    * All overlap and total counts are exact longs; the two recalls are
    * one division each, rounded at 6, null when the reference has no
    * grams of that order. Pairs whose candidate shares nothing still
    * emit a row (zero overlap) via the join-back to the pair list.
    *
    * Scale: per-doc gram COUNT tables (doc, gram, c) are built once —
    * Zipf-bounded per doc, never a doc×doc product — and each pair
    * costs two hash joins keyed (doc) then (doc, gram), work ∝
    * |pairs| · grams-per-doc, linear in corpus for a bounded pair
    * list. The pair list is the caller's contract (aligned eval sets;
    * for mining use [[Dedup]] candidates first — never all-pairs).
    *
    * Round 14 (guide §2.4/§5; measured at sf0.1, 3.01 s → see
    * OPTIMIZATION_r14.md): unigrams and bigrams come from ONE
    * tokenize+explode pass (an order tag `o` distinguishes them,
    * carried through every downstream key) and BOTH orders score in
    * one join/aggregate chain, pivoted apart only in the final
    * aggregate — the previous per-order form consumed each gram table
    * 3× (ref totals + cand leg + ref leg, all pruning differently, so
    * no ReusedExchange: the full scan+tokenize chain ran 6× — 28
    * parquet scans in the plan), re-derived the caller's `pairs` 4×,
    * and paid the whole join/agg stage chain TWICE (the probe put the
    * gram build at 0.83 s of the 3.09 s total — the rest was ~20
    * stages of scheduling over kilobyte frames). The gram table and
    * `pairs` are persisted and self-release after the result's first
    * materialization ([[Materialize.releaseAfterUse]]). Duplicate rows
    * in `pairs` are deduped by the final rollup (the join form
    * multiplied them — aligned eval sets carry distinct pairs either
    * way).
    *
    * Returns (cand_id, ref_id, ref_uni, ov1, rouge1, ref_bi, ov2,
    * rouge2).
    */
  def rougeOverlap(docs: DataFrame, pairs: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("d"),
      TextStats.tokens(col(textCol)).as("l"))
    // one pass: o = 1 unigrams, o = 2 bigrams (the zip_with form)
    val grams = Materialize.persist(toks.select(col("d"), explode(expr(
        """concat(
          |  transform(l, x -> struct(1 AS o, x AS g)),
          |  zip_with(slice(l, 1, greatest(size(l) - 1, 0)),
          |           slice(l, 2, greatest(size(l) - 1, 0)),
          |           (x, y) -> struct(2 AS o, concat(x, ' ', y) AS g)))""".stripMargin))
        .as("og"))
      .select(col("d"), col("og.o").as("o"), col("og.g").as("g"))
      .groupBy("d", "o", "g").agg(count(lit(1)).as("c")))
    // persist `pairs` only if the CALLER hasn't: the CacheManager keys
    // entries by plan, so persisting (and later self-releasing) a frame
    // the caller independently cached would evict THEIR entry after this
    // operator's first materialization (round-14 ADVICE). A
    // caller-cached frame is reused as-is and never released here.
    val callerCachedPairs = pairs.storageLevel.isValid
    val pairsP = if (callerCachedPairs) pairs else Materialize.persist(pairs)
    val refTot = grams.groupBy(col("d").as("ref_id"), col("o"))
      .agg(sum("c").as("tot"))
    val clipped = pairsP
      .join(grams.select(col("d").as("cand_id"), col("o"), col("g"),
        col("c").as("cc")), "cand_id")
      .join(grams.select(col("d").as("ref_id"), col("o"), col("g"),
        col("c").as("cr")), Seq("ref_id", "o", "g"))
      .groupBy("cand_id", "ref_id", "o")
      .agg(sum(least(col("cc"), col("cr"))).as("ov"))
    // spine: every pair × both orders, so zero-overlap and
    // gramless-reference pairs still emit a row
    val spine = pairsP.crossJoin(
      pairs.sparkSession.range(1, 3).select(col("id").cast("int").as("o")))
    def rec(tot: Column, ov: Column): Column =
      when(tot > 0, round(ov.cast("double") / tot.cast("double"), 6))
    Materialize.releaseAfterUse(
      spine.join(clipped, Seq("cand_id", "ref_id", "o"), "left")
        .join(refTot, Seq("ref_id", "o"), "left")
        .na.fill(0L, Seq("ov", "tot"))
        .groupBy("cand_id", "ref_id")
        .agg(
          max(when(col("o") === 1, col("tot"))).as("ref_uni"),
          max(when(col("o") === 1, col("ov"))).as("ov1"),
          max(when(col("o") === 2, col("tot"))).as("ref_bi"),
          max(when(col("o") === 2, col("ov"))).as("ov2"))
        .select(col("cand_id"), col("ref_id"), col("ref_uni"), col("ov1"),
          rec(col("ref_uni"), col("ov1")).as("rouge1"), col("ref_bi"),
          col("ov2"), rec(col("ref_bi"), col("ov2")).as("rouge2")),
      (if (callerCachedPairs) Seq(grams) else Seq(grams, pairsP)): _*)
  }

  /** Fixed-size sliding-window chunks over the token array: starts at
    * token 1, 1+stride, ... (1-based), each chunk `chunkTokens` tokens
    * (the final chunks clamp at the document end). `stride` <
    * `chunkTokens` gives overlapping context windows, the standard
    * shape for training-sequence packing and RAG indexing.
    *
    * Output: (idCol, chunk_ix, start_token, n_chunk_tokens,
    * chunk_text); empty/null docs produce no rows.
    */
  def chunkDocs(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", chunkTokens: Int = 32,
                stride: Int = 24): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1, "chunkTokens and stride must be >= 1")
    val toks = TextStats.tokens(col(textCol))
    docs
      .select(col(idCol), toks.as("l"))
      .filter(size(col("l")) > 0) // sequence(1, 0) would be an error
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(1), size(col("l")), lit(stride)),
          i => struct(
            i.as("s"),
            array_join(slice(col("l"), i, lit(chunkTokens)), " ").as("c"),
            size(slice(col("l"), i, lit(chunkTokens))).as("n")))))
      .select(col(idCol), col("pos").cast("long").as("chunk_ix"),
        col("col.s").cast("long").as("start_token"),
        col("col.n").cast("long").as("n_chunk_tokens"),
        col("col.c").as("chunk_text"))
  }

  /** [[chunkDocs]] through the native [[graft.functions.SlidingChunks]]
    * Generator: same output (unit-gated), but chunks stream out one at
    * a time instead of materializing every window of a document in
    * memory first — per-row memory O(chunkTokens) instead of
    * O(|doc| × chunkTokens / stride), the form that survives the
    * long-document tail of a real corpus.
    */
  def chunkDocsGen(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", chunkTokens: Int = 32,
                   stride: Int = 24): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    docs.select(col(idCol), ColumnBridge.column(
      graft.functions.SlidingChunks(
        ColumnBridge.expression(TextStats.tokens(col(textCol))),
        chunkTokens, stride)))
  }

  /** Distinct word n-gram shingles per doc — the unit of overlap for
    * decontamination. Docs shorter than `n` tokens contribute nothing.
    */
  private def distinctShingles(docs: DataFrame, idCol: String,
                               textCol: String, n: Int): DataFrame =
    docs.select(col(idCol),
        explode(array_distinct(Dedup.shingles(col(textCol), n))).as("ng"))

  /** Eval-set decontamination: for every training doc sharing at least
    * one word `n`-gram with any eval doc, the number of distinct shared
    * n-grams and of distinct eval docs hit. Train docs in the output
    * are contaminated — drop or flag them before training.
    *
    * The eval side is deduplicated then BROADCAST (benchmarks are tiny
    * next to a training corpus); the train side streams past it with no
    * shuffle of the corpus itself. Real deployments use 8–13-gram
    * windows (the GPT-3/PaLM decontamination range); the demo corpus
    * has ~50-token docs so the gated query uses a proportionate n.
    */
  def contamination(train: DataFrame, eval: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    n: Int = 8): DataFrame = {
    val trainSh = distinctShingles(train, idCol, textCol, n)
    val evalSh = distinctShingles(eval, idCol, textCol, n)
      .withColumnRenamed(idCol, "eval_id").distinct()
    trainSh.join(broadcast(evalSh), "ng")
      .groupBy(idCol)
      .agg(countDistinct(col("ng")).as("n_shared_ngrams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** Repetition statistics per doc (Gopher-style quality rule): token
    * count, distinct-token fraction, the corpus-frequency share of the
    * doc's most repeated word bigram, and a repetitive flag at
    * `topBigramThreshold`. Comparisons use the unrounded ratio so the
    * flag is bit-stable across engines (single IEEE division of two
    * exact integers); the reported fractions are rounded for the gate.
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      topBigramThreshold: Double = 0.06): DataFrame = {
    val toks = docs.select(col(idCol), TextStats.tokens(col(textCol)).as("l"))
      .filter(size(col("l")) >= 2)
    val top = toks
      .select(col(idCol), explode(Dedup.shingles(concat_ws(" ", col("l")), 2)).as("ng"))
      .groupBy(idCol, "ng").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(sum("c").as("total"), max("c").as("top"))
    val ratio = col("top") * lit(1.0) / col("total")
    toks.join(top, idCol)
      .select(col(idCol),
        size(col("l")).cast("long").as("n_tokens"),
        round(size(array_distinct(col("l"))) * lit(1.0) / size(col("l")), 4)
          .as("uniq_token_frac"),
        round(ratio, 4).as("top_bigram_frac"),
        (ratio >= topBigramThreshold).cast("int").as("repetitive"))
  }

  /** Training-sequence packing: concatenate chunks in a deterministic
    * order and slice the stream every `budgetTokens` tokens — the
    * standard document-boundary-agnostic packing that fills fixed
    * context windows with no padding waste. A chunk belongs to
    * sequence floor(tokens_before_it / budget) of its bucket (a chunk
    * may straddle a boundary; the overfill is < one chunk, exactly the
    * concat-then-split semantics of real pretraining pipelines).
    *
    * Packing is PER BUCKET: a global token order would be one reducer
    * sorting the corpus; a deterministic bucket key (e.g.
    * `doc_id % shards`) makes each shard an independent window sort —
    * embarrassingly parallel, reproducible on any cluster layout.
    * Returns one row per packed sequence: (bucketCol, seq_id,
    * n_chunks, n_tokens, n_docs) — all integers, drift-free.
    */
  def packSequences(chunks: DataFrame, bucketCol: String,
                    orderCols: Seq[String], idCol: String = "doc_id",
                    tokenCol: String = "n_chunk_tokens",
                    budgetTokens: Long = 1024L): DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bucketCol).orderBy(orderCols.map(col): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    chunks
      .withColumn("_cum", sum(col(tokenCol)).over(w))
      // integer floor-division (`div`), never FP: exact at any scale
      .withColumn("seq_id", expr(s"(_cum - `$tokenCol`) div ${budgetTokens}L"))
      .groupBy(col(bucketCol), col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col(tokenCol)).as("n_tokens"),
        countDistinct(col(idCol)).as("n_docs"))
  }

  /** Per-doc token entropy: −Σ p ln p over the doc's OWN token
    * distribution — the within-doc diversity signal ([[unigramSurprisal]]
    * measures drift from the corpus; entropy measures internal
    * repetitiveness: spam/boilerplate scores low). Shuffles key on
    * (doc, token) then doc with map-side combine; the float sum is per
    * doc over ≤ distinct-token terms, rounded 1e-4.
    */
  def tokenEntropy(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(TextStats.tokens(col(textCol))).as("w"))
      .groupBy(idCol, "w").agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum("c").cast("long").as("n_tokens"),
        round(
          log(sum(col("c"))) -
            sum(col("c") * log(col("c"))) / sum(col("c")), 4)
          .as("entropy"))

  /** Unigram surprisal: per-doc mean of -ln p(token) under the corpus'
    * own unigram distribution — a zero-dependency language-model
    * quality score (gibberish and boilerplate both drift from the
    * corpus mean). p(w) = count(w) / total tokens, so the per-token
    * term is ln(total) - ln(count); the mean of ~doc-length doubles is
    * rounded at 1e-4, absorbing cross-engine reassociation drift.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextStats.tokens(col(textCol))).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum("c").as("n"))
    tok.join(broadcast(vocab), "w")
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("n")) - log(col("c"))), 4).as("surprisal"))
  }

  /** Top-`vocabSize` corpus vocabulary by frequency, ties broken by
    * token (fully deterministic rank). One map-side-combined hash
    * aggregate over exploded tokens (distinct-token-sized by Zipf),
    * then a TakeOrdered top-k — each partition keeps its local top-V,
    * the driver merges V-sized lists, never the token table.
    */
  def topVocab(docs: DataFrame, vocabSize: Int,
               textCol: String = "text"): DataFrame =
    docs.select(explode(TextStats.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w"))
      .limit(vocabSize)

  /** Out-of-vocabulary rate per document against a fixed top-V
    * vocabulary: the tokenizer-coverage health metric (a rising OOV
    * rate on a new source means the tokenizer — or the corpus — is
    * off-distribution). Tokens explode once; membership is a broadcast
    * left join against the (tiny) vocab; the rate is ONE IEEE division
    * of exact counts — bit-stable cross-engine. Empty docs produce no
    * rows (explode of an empty token array).
    */
  def oovRate(docs: DataFrame, vocab: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(TextStats.tokens(col(textCol))).as("w"))
      .join(broadcast(vocab.select(col("w"), lit(1).as("_in"))), Seq("w"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_in").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))

  /** BPE merge-candidate mining: adjacent character-pair frequencies
    * over the corpus, weighted by word frequency — the corpus-scale
    * primitive inside byte-pair-encoding tokenizer training. (The BPE
    * training LOOP — apply top merge, recount — is a driver iteration
    * over this primitive on an ever-smaller word table; the expensive
    * distributed step is this first full-corpus count.)
    *
    * Scale shape: the corpus collapses to the DISTINCT-WORD table
    * before any character work (one map-side-combined count — shuffle
    * bounded by vocabulary, not tokens), so the character-pair explode
    * runs over |vocab| short strings, and the final aggregate is over
    * the tiny symbol-pair grid. All counts exact longs.
    */
  def bpeMergeCandidates(docs: DataFrame, topK: Int,
                         textCol: String = "text"): DataFrame = {
    val wc = docs.select(explode(TextStats.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .filter(length(col("w")) >= 2)
    wc
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("n").as("n_pair"))
      .orderBy(desc("n_pair"), asc("pair"))
      .limit(topK)
  }

  /** Multi-round BPE tokenizer TRAINING — the iterative complement of
    * [[bpeMergeCandidates]] (mining is one round's pair count;
    * training APPLIES the winning merge and re-mines). Round r over
    * the distinct-word symbol table: (1) count adjacent symbol pairs
    * weighted by word frequency; (2) take the top pair by
    * (count DESC, pair ASC) — a total order over exact longs and
    * strings, so the rule sequence is engine- and retry-stable;
    * (3) rewrite every word by merging that pair greedily
    * left-to-right (the standard BPE application order: a left-fold
    * whose accumulator is the emitted sequence, so "a a a" under
    * (a,a) gives "aa a", never "a aa"). Words are restricted to
    * `^[a-z0-9]+$` (tokenizer training runs on cleaned words; it also
    * keeps the '|' symbol separator unambiguous).
    *
    * Returns the merge TABLE a tokenizer ships: one row per executed
    * round, (round, lhs, rhs, n_pair), ending early when no adjacent
    * pair remains anywhere (every word fully merged).
    *
    * Scale design: the corpus collapses to the DISTINCT-word table
    * before any character work ([[bpeMergeCandidates]]'s bound — the
    * per-round shuffle is vocabulary-sized, never token-sized), the
    * merge application is a NARROW per-word fold (no shuffle), and
    * the per-round state is snapshotted with its predecessor
    * released, the iterative-kernel discipline. The one
    * driver scalar per round is the winning rule itself — the A4-mode
    * bounded collect: k rules ARE the model being trained. Exhausting
    * the vocabulary ends the loop early on any engine (an empty top-1
    * cascades through the remaining rounds identically in the oracle's
    * unrolled CTEs).
    */
  def bpeTrain(docs: DataFrame, rounds: Int,
               textCol: String = "text"): DataFrame = {
    require(rounds >= 1 && rounds <= 32, "rounds must be in [1, 32]")
    val spark = docs.sparkSession
    val wc = docs.select(explode(TextStats.tokens(col(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("n"))
    var state = Materialize.snapshot(wc.select(col("n"), concat_ws("|", expr(
      "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("seq")))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val top = state
        .select(col("n"), split(col("seq"), "\\|").as("l"))
        .filter(size(col("l")) >= 2) // sequence(1, 0) would DESCEND
        .select(col("n"), explode(expr(
          """transform(sequence(1, size(l) - 1),
            |  i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"""
            .stripMargin)).as("pair"))
        .groupBy("pair").agg(sum("n").as("n_pair"))
        .orderBy(desc("n_pair"), asc("pair"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        merges += ((r, a, b, top(0).getLong(1)))
        // greedy leftmost single-rule application: acc is the emitted
        // '|'-joined sequence; a merge replaces its LAST symbol when
        // that symbol is `a` and the incoming one is `b`. The merged
        // token a+b is strictly longer than `a`, so it can never
        // re-match as the left side within the same round. Symbols
        // are alnum (filtered above), so inlining them is safe and
        // '|' boundaries are unambiguous.
        val fold =
          s"""aggregate(slice(l, 2, size(l) - 1), element_at(l, 1),
             |  (acc, x) -> CASE
             |    WHEN (acc = '$a' OR endswith(acc, '|$a')) AND x = '$b'
             |    THEN concat(substring(acc, 1, length(acc) - ${a.length}), '$a$b')
             |    ELSE concat(acc, '|', x) END)""".stripMargin
        val next = Materialize.snapshot(state
          .select(col("n"), split(col("seq"), "\\|").as("l"))
          .select(col("n"), expr(fold).as("seq")))
        Materialize.release(state)
        state = next
      }
      r += 1
    }
    Materialize.release(state)
    import spark.implicits._
    merges.toSeq.toDF("round", "lhs", "rhs", "n_pair")
      .select(col("round").cast("int").as("round"), col("lhs"), col("rhs"),
        col("n_pair"))
  }

  /** Bigram conditional-surprisal quality score per document: the mean
    * of −ln P(w₂|w₁) = ln c(w₁·) − ln c(w₁w₂) over the document's
    * bigrams, with probabilities from the corpus's own bigram counts —
    * the next step up from [[unigramSurprisal]]: a document of common
    * WORDS in implausible SEQUENCE (shuffled text, keyword stuffing,
    * template spam) scores high here while the unigram score stays
    * low. Out-of-corpus bigrams can't occur (the corpus is the model);
    * to score a held-out batch against a frozen corpus, add-one or
    * backoff smoothing goes in the c12 join (documented, not built).
    *
    * Scale shape: bigrams are built NARROWLY with `zip_with` over the
    * tokenized array (no per-doc window sort, no shuffle before the
    * count); the c12 aggregate and the join back share the bigram
    * shuffle key; the conditional margin c1 collapses c12 map-side
    * (vocab-sized) and broadcasts. Docs with < 2 tokens emit no rows
    * on any engine (empty zip). The per-doc mean is over ln's of
    * exact-integer ratios, rounded at 4 — the [[unigramSurprisal]]
    * convention.
    */
  /** Skip-gram (center, context) pair counts — the word2vec / fastText
    * training-pair extraction: every ordered token pair at positional
    * distance 1..`window`, counted corpus-wide, top `topK` by count.
    *
    * Generation is NARROW (the [[bigramSurprisal]] zip_with discipline,
    * generalized): one `flatten(transform(sequence(1, w), d ->
    * zip_with(slice, slice, ...)))` per document — token arrays never
    * self-join, no shuffle happens until the (w1, w2, dist) count,
    * which map-side-combines to the distinct-pair grid (Zipf-bounded,
    * ≪ corpus). The top-k is a total order (count desc, then the pair
    * itself), so the cut is engine-exact; at 100 TB swap the single
    * TakeOrdered for a count threshold if k·groups stops fitting the
    * driver.
    */
  def skipgramPairs(docs: DataFrame, window: Int = 2, topK: Int = 30,
                    textCol: String = "text"): DataFrame = {
    require(window >= 1 && window <= 8, "window must be in [1, 8]")
    require(topK >= 1, "topK must be positive")
    docs.select(TextStats.tokens(col(textCol)).as("l"))
      .select(explode(expr(
        s"""flatten(transform(sequence(1, $window), d ->
           |  zip_with(slice(l, 1, greatest(size(l) - d, 0)),
           |           slice(l, d + 1, greatest(size(l) - d, 0)),
           |           (x, y) -> named_struct('w1', x, 'w2', y, 'dist', d))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.dist").as("dist"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w1"), asc("w2"), asc("dist"))
      .limit(topK)
  }

  /** Kneser–Ney continuation statistics per word: the KN-smoothing
    * signal that a word's unigram probability should reflect how many
    * DISTINCT contexts it completes, not how often it occurs ("San
    * Francisco" makes "Francisco" frequent but single-context). For
    * each word `w` seen as the second element of a bigram:
    * `n_ctx` = |{w₁ : (w₁,w) occurs}| (the continuation count
    * N₁₊(·w)), `n_tok` = token occurrences as a bigram completion, and
    * `cont_ppb` = the KN continuation probability
    * N₁₊(·w) / |distinct bigram types|, scaled to integer parts per
    * billion (exact long division — engine-independent). Words below
    * `minCtx` distinct contexts are dropped (their continuation signal
    * is noise, and the cut bounds output to the frequent-word head).
    *
    * Scale: one tokenize pass, a narrow zip_with bigram explode, and
    * two hash aggregates — per-word distinct-context counting
    * map-side-combines on (w₁,w) pairs first (distinct bigram types
    * are sub-linear in corpus size by Zipf), and the single-row type
    * total attaches as a broadcast nested-loop, never a shuffle.
    */
  def knContinuation(docs: DataFrame, minCtx: Long = 5,
                     textCol: String = "text"): DataFrame = {
    val pairs = docs.select(TextStats.tokens(col(textCol)).as("l"))
      .select(explode(expr(
        """zip_with(slice(l, 1, greatest(size(l) - 1, 0)),
          |         slice(l, 2, greatest(size(l) - 1, 0)),
          |         (x, y) -> struct(x AS w1, y AS w2))""".stripMargin)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // distinct bigram TYPES once; both the per-word continuation count
    // and the normalizer derive from the same pair-keyed exchange
    // (ReuseExchange dedupes the shuffle — the plan shuffles pairs once)
    val types = pairs.groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_tok"))
    val total = types.agg(count(lit(1)).cast("long").as("n_types"))
    types.groupBy(col("w2").as("w"))
      .agg(count(lit(1)).as("n_ctx"), sum("n_tok").as("n_tok"))
      .filter(col("n_ctx") >= minCtx)
      .crossJoin(broadcast(total))
      .select(col("w"), col("n_ctx"), col("n_tok"),
        expr("(n_ctx * CAST(1000000000 AS BIGINT)) div n_types").as("cont_ppb"))
  }

  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val big = docs.select(col(idCol), TextStats.tokens(col(textCol)).as("l"))
      .select(col(idCol), explode(expr(
        """zip_with(slice(l, 1, greatest(size(l) - 1, 0)),
          |         slice(l, 2, greatest(size(l) - 1, 0)),
          |         (x, y) -> concat(x, ' ', y))""".stripMargin)).as("bg"))
    val c12 = big.groupBy("bg").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("c12").as("c1"))
    big.join(c12, Seq("bg"))
      .join(broadcast(c1), substring_index(col("bg"), " ", 1) === col("w1"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c1").cast("double")) - log(col("c12").cast("double"))), 4)
          .as("bigram_surprisal"))
  }
}
