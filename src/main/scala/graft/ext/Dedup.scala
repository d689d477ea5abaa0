package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash group-by), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Portability note: every hash here is built from `md5` so results are
  * reproducible across engines (the DuckDB oracle computes the same
  * hex). `xxhash64` would be faster but is Spark-specific; for a 100 TB
  * run swap [[permDigest]] to `xxhash64` — the operator shapes are
  * hash-agnostic.
  *
  * Scale design:
  *   - Exact dedup is one hash-aggregate: map-side combine collapses
  *     duplicates before the shuffle, so shuffle volume is bounded by
  *     the number of DISTINCT fingerprints per partition (not rows).
  *   - MinHash/LSH avoids the O(n²) pair space: signatures are a
  *     narrow per-doc aggregate over exploded shingles; candidate
  *     generation is an equi-join on (band, bandHash) — only docs
  *     sharing a band bucket ever meet. Hot buckets (boilerplate docs)
  *     are the skew risk: AQE skew-join handles moderate skew, and
  *     `maxBucketSize` hard-caps pathological buckets.
  *   - Pairwise n-gram Jaccard is exact verification, meant to run on
  *     LSH candidates (or small corpora), never the full cross product.
  *
  * Storage follows [[Materialize]]'s rules; the connected-components
  * operators return a label snapshot on their distributed path, the
  * caller's to [[Materialize.release]].
  */
object Dedup {

  /** Whitespace word tokens, lowercased, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Word n-gram shingles joined by single spaces: one array per doc.
    *
    * Codegen-native: normalize whitespace once, then extract every
    * shingle in a single `regexp_extract_all` pass. The pattern anchors
    * a lookahead capture of `n` tokens at each token start and consumes
    * exactly one token per match, so matches are overlapping n-grams:
    * for n=3, `(?=((?:\S+ ){2}\S+))\S+ ?` over "a b c d" yields
    * ["a b c", "b c d"]. This keeps the whole dedup hot path inside
    * whole-stage codegen — the previous `transform(sequence, slice,
    * array_join)` higher-order-function chain (kept as [[shinglesHof]]
    * for the equivalence spec) evaluated interpreted, ~15× slower per
    * row, which dominates a 100-TB text corpus.
    */
  def shingles(text: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    val norm = trim(regexp_replace(lower(text), "\\s+", " "))
    val pat = s"(?=((?:\\S+ ){${n - 1}}\\S+))\\S+ ?"
    // null text -> null (regexp_extract_all propagates), matching the
    // HOF form where size(null tokens) is null so `when` falls through
    // to a null transform. Downstream explode() drops null the same as
    // an empty array, so the dedup path is unaffected either way.
    regexp_extract_all(norm, lit(pat), lit(1))
  }

  /** Reference (interpreted) form of [[shingles]]: the higher-order
    * `transform`/`slice`/`array_join` chain. Semantically identical;
    * kept only as the readable spec the codegen form is tested against.
    */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Cross-engine-stable 'permutation' hashes for MinHash: one md5
    * digest per shingle covers 4 permutations as disjoint 8-hex-char
    * slices (one-permutation style — 4× cheaper than hashing per
    * permutation; the lexicographic min of a fixed-length hex slice
    * over a doc's shingles is a valid min-wise signature). Digest group
    * `j` > 0 salts the shingle to stay independent of group 0.
    */
  private def permDigest(j: Int, shingle: Column): Column =
    if (j == 0) md5(shingle) else md5(concat(lit(s"$j:"), shingle))

  /** Exact duplicate groups: fingerprint by md5(text); returns one row
    * per duplicated fingerprint with the canonical (min) doc id and
    * the duplicate count. (SURVEY extension: exact dedup.)
    */
  def exactDuplicates(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)

  /** Normalized fingerprint: md5 over lowercased, whitespace-collapsed
    * text — catches trivially-reformatted duplicates.
    */
  def normalizedFingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Cross-source duplicate overlap matrix: for every source pair, how
    * many distinct fingerprints they share, each side's distinct
    * fingerprint count, and the Jaccard of the two fingerprint sets —
    * the dedup-audit readout that tells a corpus owner WHICH feeds
    * duplicate each other (mirror crawls, re-posts) before any
    * row-level dedup runs. The caller picks the fingerprint
    * granularity (exact [[normalizedFingerprint]], a prefix hash, a
    * shingle min-hash) — coarser fingerprints surface near-miss
    * mirroring that exact hashing misses.
    *
    * Scale shape: the corpus collapses to distinct (source,
    * fingerprint) — one map-side-combined aggregate — and the pair
    * fan-out per fingerprint is bounded by the SOURCE count (a handful),
    * not by how many documents share the fingerprint, so no bucket cap
    * is needed: k sources sharing a fingerprint contribute k·(k−1)/2
    * pairs, full stop. Counts exact; one division for the Jaccard.
    */
  def sourceOverlap(docs: DataFrame, fp: Column,
                    sourceCol: String = "source"): DataFrame = {
    val sf = docs
      .select(col(sourceCol).as("src"), fp.as("fp"))
      .distinct()
    val perSource = sf.groupBy("src").agg(count(lit(1)).as("n_fp"))
    sf.as("a").join(sf.as("b"),
        col("a.fp") === col("b.fp") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source1"), col("b.src").as("source2"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(perSource.select(col("src").as("source1"), col("n_fp").as("n1"))), "source1")
      .join(broadcast(perSource.select(col("src").as("source2"), col("n_fp").as("n2"))), "source2")
      .select(col("source1"), col("source2"), col("n_shared"), col("n1"), col("n2"),
        round(col("n_shared").cast("double") /
          (col("n1") + col("n2") - col("n_shared")).cast("double"), 6).as("jaccard"))
  }

  /** MinHash signatures: `k` columns `mh0..mh{k-1}`, each the min over
    * the doc's distinct `n`-gram shingles of an independent hash.
    * One explode + one hash-aggregate. Docs with fewer than `n` tokens
    * are OMITTED from the output (the explode of their empty shingle
    * array produces no rows); left-join back to the doc table if such
    * docs must appear with null signatures.
    */
  def minhashSignatures(docs: DataFrame, k: Int, n: Int = 3,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // ceil(k/4) digests per shingle, each sliced 4 ways — the digest
    // dominates cost, so this is ~4× cheaper than one md5 per perm
    val nDigests = (k + 3) / 4
    val hashed = docs
      .select(col(idCol), explode(shingles(col(textCol), n)).as("shingle"))
      .select(col(idCol) +:
        (0 until nDigests).map(j => permDigest(j, col("shingle")).as(s"h$j")): _*)
    val aggs = (0 until k).map(i =>
      min(substring(col(s"h${i / 4}"), i % 4 * 8 + 1, 8)).as(s"mh$i"))
    hashed.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over a signature frame: emits (id, band, band_hash)
    * where `band_hash` concatenates `rowsPerBand` adjacent signature
    * columns. Docs sharing any (band, band_hash) are candidates.
    */
  def lshBands(signatures: DataFrame, k: Int, rowsPerBand: Int,
               idCol: String = "doc_id"): DataFrame = {
    require(k % rowsPerBand == 0, "k must be divisible by rowsPerBand")
    val bands = (0 until k / rowsPerBand).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat(cols: _*)).as("band_hash"))
    }
    signatures
      .select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.band_hash"))
  }

  /** Largest bucket size whose pair fan-out m(m-1)/2 stays within
    * `maxPairs`, additionally clamped by `maxBucketSize` — the shared
    * admission formula for [[lshCandidatePairs]] and its oracle SQL
    * (one definition, two engines).
    */
  def lshAdmissionCap(maxBucketSize: Int, maxPairs: Long): Long = {
    require(maxBucketSize >= 2 && maxPairs >= 1, "caps must admit at least one pair")
    val fromPairs = ((1.0 + math.sqrt(1.0 + 8.0 * maxPairs.toDouble)) / 2.0).toLong
    math.min(maxBucketSize.toLong, fromPairs)
  }

  /** Candidate near-duplicate pairs from LSH bands: self-equi-join on
    * (band, band_hash), `id1 < id2`, distinct. Bucket admission is the
    * min of two caps: `maxBucketSize` bounds the collect_list buffer,
    * and `maxPairsPerBucket` bounds the m(m-1)/2 explode fan-out — the
    * cap that actually matters at 100x, since the old 1000-doc bucket
    * cap alone still admitted ~500k pairs from ONE degenerate bucket
    * (e.g. empty-shingle docs hashing identically). An over-full
    * bucket signals a degenerate band hash, not real near-duplicates,
    * so dropping it whole costs ~no recall.
    */
  def lshCandidatePairs(bands: DataFrame, idCol: String = "doc_id",
                        maxBucketSize: Int = 1000,
                        maxPairsPerBucket: Long = 50000L): DataFrame = {
    val cap = lshAdmissionCap(maxBucketSize, maxPairsPerBucket)
    val sized = bands.groupBy("band", "band_hash")
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, cap))
    // explode the (small, capped) bucket into ordered pairs
    sized
      .select(explode(col("ids")).as("id1"), col("ids"))
      .select(col("id1"), explode(col("ids")).as("id2"))
      .filter(col("id1") < col("id2"))
      .distinct()
  }

  /** Exact pairwise n-gram Jaccard via a shingle inverted index:
    * docs sharing >= 1 shingle meet in the join; similarity =
    * |A∩B| / (|A|+|B|-|A∩B|). Returns pairs with `jaccard >= threshold`.
    * Run on LSH candidates at scale; exact and oracle-friendly.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("shingle"))
      .distinct()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n_sh", "n1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n_sh", "n2"), "id2")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n1") + col("n2") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Asymmetric n-gram containment: |A∩B|/|A| and |A∩B|/|B| per pair,
    * keeping pairs whose LARGER side reaches `threshold`. Jaccard
    * dilutes doc-within-doc duplication — a page embedded verbatim in
    * a 10×-longer page scores ≤0.1 Jaccard but 1.0 containment on the
    * smaller side — so superset-style duplicates (boilerplate wrappers,
    * quote-heavy articles) sail through a Jaccard gate; containment is
    * the standard complement (ref: the reference has no dedup at all;
    * this extends the Jaccard operator above). Same inverted-index
    * equi-join shape as [[ngramJaccardPairs]] — shuffle is the shingle
    * postings, never the pair cross product — and meant to run on LSH
    * candidates at corpus scale. Divisions are single IEEE ops over
    * exact integer counts: bit-stable cross-engine.
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("shingle"))
      .distinct()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n_sh", "n1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n_sh", "n2"), "id2")
      .withColumn("c1", col("n_inter").cast("double") / col("n1"))
      .withColumn("c2", col("n_inter").cast("double") / col("n2"))
      .withColumn("containment", greatest(col("c1"), col("c2")))
      .filter(col("containment") >= threshold)
      .select(col("id1"), col("id2"), col("n_inter"), col("c1"), col("c2"),
        col("containment"))
  }

  /** Incremental dedup: near-duplicate matches of a NEW ingest batch
    * against the EXISTING corpus — the production shape, where corpus
    * signatures are a precomputed table written once and each batch
    * joins against it instead of re-deduping the world. Candidates
    * come from the same LSH banding as [[lshCandidatePairs]] but the
    * join is batch-bands × corpus-bands (never corpus × corpus); each
    * candidate is then verified with exact shingle Jaccard.
    *
    * Scale: per-batch cost is batch-signature computation + one
    * equi-join against the (bucketed, persisted) corpus band table +
    * verification on candidates only. Compose with the banding bucket
    * cap upstream when boilerplate buckets appear; new docs that match
    * nothing produce no rows (filter the batch by anti-join on new_id
    * to get the keep set).
    */
  def incrementalDupes(existing: DataFrame, batch: DataFrame, k: Int = 4,
                       n: Int = 3, rowsPerBand: Int = 2,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bandsE = lshBands(minhashSignatures(existing, k, n, idCol, textCol), k, rowsPerBand, idCol)
      .withColumnRenamed(idCol, "old_id")
    val bandsB = lshBands(minhashSignatures(batch, k, n, idCol, textCol), k, rowsPerBand, idCol)
      .withColumnRenamed(idCol, "new_id")
    val cand = bandsB.join(bandsE, Seq("band", "band_hash"))
      .select("new_id", "old_id").distinct()
    val shE = existing
      .select(col(idCol).as("old_id"), explode(shingles(col(textCol), n)).as("shingle"))
      .distinct()
    val shB = batch
      .select(col(idCol).as("new_id"), explode(shingles(col(textCol), n)).as("shingle"))
      .distinct()
    val inter = cand.as("c")
      .join(shB.as("s1"), col("c.new_id") === col("s1.new_id"))
      .join(shE.as("s2"),
        col("c.old_id") === col("s2.old_id") && col("s2.shingle") === col("s1.shingle"))
      .groupBy(col("c.new_id").as("new_id"), col("c.old_id").as("old_id"))
      .agg(count(lit(1)).as("n_inter"))
    val sizesE = shE.groupBy("old_id").agg(count(lit(1)).as("n_old"))
    val sizesB = shB.groupBy("new_id").agg(count(lit(1)).as("n_new"))
    inter.join(sizesB, "new_id").join(sizesE, "old_id")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_new") + col("n_old") - col("n_inter")))
      .select(col("new_id"), col("old_id"), col("n_inter"), col("jaccard"))
  }

  /** Prefix-filtered exact Jaccard join (PPJoin-style, Xiao et al.
    * 2008): identical OUTPUT to [[ngramJaccardPairs]], strictly less
    * work. Two docs with Jaccard ≥ t must share a shingle among the
    * first |d| − ⌈t·|d|⌉ + 1 of each doc's shingles when every doc
    * orders its shingles the same GLOBAL way (rarest first) — so the
    * inverted index posts only those prefixes, and candidate volume
    * collapses: frequent (boilerplate) shingles sit at the tail of
    * every doc's ordering and mostly never enter the index, exactly
    * the postings that blow up the naive join. The exact-verification
    * stage then runs on candidates only.
    *
    * Scale: posting volume drops from Σ|d| to Σ prefix(|d|) with the
    * heavy head removed; the global frequency order costs one extra
    * hash-agg + broadcast-sized join (shingle→freq is vocab-sized).
    * Unit-gated equal to the naive form; candidate-count reduction is
    * asserted, not assumed.
    */
  def jaccardPairsPrefix(docs: DataFrame, n: Int, threshold: Double,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    val sh = docs
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("shingle"))
      .distinct()
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("_f"))
    // global order: rarest shingle first, ties lexicographic — every
    // doc ranks its shingles identically, the prefix-lemma requirement
    val byRarity = Window.partitionBy("id").orderBy(col("_f"), col("shingle"))
    val ranked = sh.join(freq, "shingle")
      .withColumn("_pos", row_number().over(byRarity))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("id")))
    val prefix = ranked
      .filter(col("_pos") <= col("_n") - ceil(col("_n") * threshold) + 1)
      .select("id", "shingle")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    // exact verification on candidates only: count the FULL shingle
    // intersection per surviving pair
    val inter = cand
      .join(sh.as("s1"), col("s1.id") === col("id1"))
      .join(sh.as("s2"),
        col("s2.id") === col("id2") && col("s2.shingle") === col("s1.shingle"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_inter"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n_sh", "n1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n_sh", "n2"), "id2")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n1") + col("n2") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Shared SimHash shape: explode tokens, hash each, sum the ±1 bit
    * contributions per signature position, assemble the sign pattern.
    * Variants differ only in the per-token hash column, the per-bit
    * extractor, and the assembled power's type.
    */
  private def simhashAgg(docs: DataFrame, width: Int, hashOfToken: Column => Column,
                         bitOfHash: Int => Column, power: Int => Column, zero: Column,
                         idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .withColumn("h", hashOfToken(col("t")))
    val bitSums = (0 until width).map(b => sum(bitOfHash(b) * 2 - 1).as(s"s$b"))
    tok.groupBy(idCol)
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until width).map(b => when(col(s"s$b") >= 0, power(b)).otherwise(zero))
          .reduce(_ + _).as("simhash"))
  }

  /** Bit `b` of an md5 hex digest: nibble value of hex char ⌊b/4⌋,
    * then bit (3 − b%4) of that nibble.
    */
  private def md5Bit(b: Int): Column = expr(
    s"shiftright(instr('0123456789abcdef', substring(h, ${b / 4 + 1}, 1)) - 1, ${3 - b % 4}) % 2")

  /** 16-bit SimHash from md5 nibbles of word tokens: bit j of the
    * signature is the sign of Σ_tokens (2·bit_j(md5(token)) − 1).
    * Cheap, oracle-portable; at production scale widen to 64 bits and
    * swap in xxhash64.
    */
  def simhash16(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    simhashAgg(docs, 16, md5, md5Bit, b => lit(1 << b), lit(0), idCol, textCol)

  /** Hamming distance between two small int signatures (bit_count of
    * xor) — pairs with distance <= d are near-duplicates.
    */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b).cast("long"))

  /** Production-width 64-bit SimHash: bit `b` of the signature is the
    * sign of Σ_tokens (2·bit_b(md5(token)) − 1), over all 64 bits of
    * the first 16 hex chars of the digest. One token explode + one
    * 64-column hash-aggregate, all codegen'd. Disjoint bit powers sum
    * to the exact two's-complement long (bit 63 contributes
    * Long.MinValue), so the assembled signature is oracle-portable as
    * BIGINT arithmetic. Swapping md5 for xxhash64 (same shape, one call
    * instead of a digest slice) is the faster form when cross-engine
    * parity is not needed.
    */
  def simhash64(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    simhashAgg(docs, 64, md5, md5Bit, b => lit(1L << b), lit(0L), idCol, textCol)

  /** SimHash near-duplicate pairs within a Hamming radius (Manku et
    * al., WWW 2007): split the 64-bit signature into 4 disjoint 16-bit
    * chunks — any pair within Hamming distance ≤ 3 must agree on at
    * least one whole chunk (pigeonhole), so an equi-join on
    * (chunk_index, chunk_value) generates ALL qualifying candidates,
    * and bit_count(xor) verifies each. The signature table is 2 longs
    * per doc; candidate volume is collisions on 16-bit chunks, never
    * n². The classic web-scale near-dup shape when shingle storage is
    * too expensive for MinHash.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4 chunks guarantee recall only up to Hamming distance 3")
    val sig = simhash64(docs, idCol, textCol)
    val chunks = sig.select(col(idCol).as("id"), col("simhash"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("ck"),
            shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("c"))
      .select(col("id"), col("simhash"), col("c.ck"), col("c.cv"))
    chunks.as("a").join(chunks.as("b"),
        col("a.ck") === col("b.ck") && col("a.cv") === col("b.cv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over an undirected pair set by iterative
    * min-label propagation: every node starts labeled with its own id;
    * each round a node takes the min of its own and its neighbors'
    * labels; at fixpoint the label is the component's minimum id — the
    * [[Graph.relax]] min recurrence with w = 0 over the symmetrized
    * pairs, one Spark action per round.
    *
    * Scale design: the graph is the CANDIDATE PAIR set (LSH survivors),
    * orders of magnitude smaller than the corpus, and the edge set is
    * laid out over partitions sized from the MEASURED pair count
    * (`ScaleOps.graphPartitions`), so LSH-survivor graphs keep O(1)
    * tasks per round while a 100 TB pair graph gets tasks proportional
    * to its edges. Rounds needed = component diameter; near-dup
    * components are dense (near-cliques), so 3-5 rounds typically
    * converge and `maxIter` hard-bounds pathology.
    *
    * `checkpointDir`: on a real cluster pass a reliable-storage path —
    * per-round lineage truncation then survives executor loss;
    * unset, `localCheckpoint` (executor memory) is used, which is fine
    * for local/bench runs but ties the result to executor lifetimes.
    *
    * Small-graph fast path: below [[Graph.localEdgeCap]] measured pairs
    * with integral ids, the edges are pulled to the driver and resolved
    * by union-find. An LSH-survivor graph can have diameter ≫ 5
    * (embedding near-dup CHAINS, not cliques: round-10 measured
    * diameter 11 at sf0.1), and each distributed round is a full job —
    * ~0.4 s of fixed scheduling/checkpoint cost for a 12 k-edge graph,
    * so 11 rounds cost ~4.5 s where union-find costs milliseconds.
    * Labels are identical (component minimum).
    *
    * Storage: the pair and edge persists are released before returning;
    * the distributed path returns its final label snapshot, the
    * caller's to [[Materialize.release]].
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          id1Col: String = "id1", id2Col: String = "id2",
                          checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // persist the pair set FIRST: the sizing count and the symmetrizing
    // union below read it, and `pairs` is typically an expensive LSH plan
    val p = Materialize.persist(pairs)
    val nPairs = p.count()
    val idType = p.schema(id1Col).dataType
    if (Graph.integralType(idType) && nPairs <= Graph.localEdgeCap(spark)) {
      val out = localMinLabelComponents(p, id1Col, id2Col, idType)
      Materialize.release(p)
      return out
    }
    val edges = Materialize.persist(
      p.select(col(id1Col).as("src"), col(id2Col).as("dst"))
        .union(p.select(col(id2Col).as("src"), col(id1Col).as("dst")))
        .distinct()
        .repartition(ScaleOps.graphPartitions(nPairs), col("src")))
    val (labels, converged) = Graph.relax(edges,
      edges.select(col("src").as("id"), col("src").as("v")).distinct(),
      maxIter, maximize = false, "label", reliable = checkpointDir.isDefined)
    Materialize.release(p, edges)
    // correctness-first: a silent non-converged result would be WRONG
    // labels (components split in two), not slow labels — fail loudly
    // and let the caller raise maxIter (rounds needed = graph diameter)
    if (!converged) {
      Materialize.release(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "component diameter exceeds maxIter — raise it")
    }
    labels
  }

  /** Driver-side union-find over a BOUNDED pair graph (the
    * [[connectedComponents]] fast path — callers go through that entry
    * point, which gates on the measured edge count). Union-by-minimum
    * keeps every tree's root equal to the minimum member seen, so after
    * full path resolution each node's root IS the component minimum —
    * bit-identical to the distributed min-label fixpoint. Path
    * compression bounds find cost at amortized ~O(log n); 2 M edges
    * resolve in well under a second on one core.
    */
  private def localMinLabelComponents(p: DataFrame, id1Col: String,
      id2Col: String, idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    // typed collect (round-10 ADVICE): the tuple encoder yields
    // primitive longs straight from the unsafe rows — no Row boxing
    // on a path whose whole point is driver-side speed
    val edges = p.select(col(id1Col).cast("long"), col(id2Col).cast("long"))
      .as[(Long, Long)].collect()
    val parent = new scala.collection.mutable.LongMap[Long](
      math.max(16, edges.length * 2))
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    // nodes appear in the map iff seen (roots map to themselves so the
    // key set is exactly the node set)
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    Graph.localLabels(spark, parent.keysIterator.map(k => (k, find(k))).toArray,
      idType, "label", idType)
  }

  /** Connected components by the ALTERNATING star algorithm (Kiveris
    * et al. 2014, "Connected Components in MapReduce and Beyond"):
    * each round rewires every node's strictly-larger neighbors to its
    * neighborhood minimum (large-star), then contracts the
    * max-oriented edges onto that minimum (small-star). Both
    * operations preserve connectivity, and alternating them converges
    * in O(log² n) ROUNDS — versus component DIAMETER rounds for
    * [[connectedComponents]]'s min-label propagation.
    *
    * When to use which: min-label wins on LSH-survivor graphs (dense
    * near-cliques, diameter 3–5 — one cheap aggregate per round); the
    * star algorithm wins on HIGH-DIAMETER graphs — grids, chains, road
    * networks — where diameter ≫ log² n (a fully-core 50×50 DBSCAN
    * cell grid is diameter ~49 but converges here in ~6 rounds). Same
    * output contract as [[connectedComponents]]: (id, label) with
    * label = component minimum, every node of the edge set present.
    *
    * Each round is two map-side-combined aggregates + two edge-keyed
    * joins; the edge set is snapshotted per round (superseded snapshots
    * released) and convergence is detected inside the same action via
    * an order-independent edge-set fingerprint (count + XOR of per-edge
    * xxhash64 — a 64-bit collision while the count also matches is
    * negligible, and a spurious EARLY match is harmless only at a true
    * fixpoint; the closing star-shape check below fails loudly if
    * convergence was misdetected).
    *
    * Storage: every internal snapshot is released before returning;
    * the distributed path returns its label snapshot, the caller's to
    * [[Materialize.release]].
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 60): DataFrame = {
    val spark = pairs.sparkSession
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val ori = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = ori.groupBy("u").agg(min("v").as("m"))
      ori.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("src"), col("m").as("dst"))
        .union(mins.select(col("u").as("src"), col("m").as("dst")))
        .distinct()
    }
    // self-loops declare singleton membership (the same contract as
    // min-label: a node exists iff it appears in the edge set) but
    // large-star would drop an isolated self-loop — strip them here and
    // re-attach unlabeled ones as their own component at the end
    // same size-gated union-find fast path as [[connectedComponents]]
    // (identical labels; self-loops resolve to themselves either way);
    // the gate's count rides on the snapshot's own job
    val (raw, Row(nRaw: Long)) = Materialize.snapshot(
      pairs.select(col(pairs.columns.head).as("src"), col(pairs.columns(1)).as("dst")),
      count(lit(1)))
    val idType = raw.schema("src").dataType
    if (Graph.integralType(idType) && nRaw <= Graph.localEdgeCap(spark)) {
      val out = localMinLabelComponents(raw, "src", "dst", idType)
      Materialize.release(raw)
      return out
    }
    var edges = Materialize.snapshot(raw.filter(col("src") =!= col("dst")))
    var fp = (-1L, -1L)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val (next, Row(n: Long, h)) = Materialize.snapshot(
        smallStar(largeStar(edges)), count(lit(1)),
        // bit_xor: order-independent, overflow-free under ANSI; the
        // edge set is distinct so no two rows cancel
        expr("bit_xor(xxhash64(src, dst))"))
      Materialize.release(edges)
      edges = next
      val nfp = (n, Option(h).fold(0L)(_.asInstanceOf[Long]))
      converged = nfp == fp
      fp = nfp
      i += 1
    }
    if (!converged) {
      Materialize.release(raw, edges)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    }
    // at the star fixpoint every edge points at its component minimum:
    // a leaf (src) takes its center (dst), a center itself, and a
    // self-loop node no edge reaches is its own component. One job
    // snapshots the labels and proves the star-forest shape: the edge
    // labels of a node must agree — a node that is both a leaf and a
    // center, or a leaf of two centers, would get two — which turns the
    // astronomically unlikely fingerprint-collision misdetection into a
    // loud failure. A self-loop node inside a component keeps the
    // component minimum, which is at most its own id.
    val (labels, Row(split: Long)) = Materialize.snapshot(
      edges.select(col("src").as("id"), col("dst").as("label"), lit(true).as("e"))
        .unionAll(edges.select(col("dst").as("id"), col("dst").as("label"), lit(true).as("e")))
        .unionAll(raw.filter(col("src") === col("dst"))
          .select(col("src").as("id"), col("src").as("label"), lit(false).as("e")))
        .groupBy("id")
        .agg(min("label").as("label"), min(when(col("e"), col("label"))).as("lo"),
          max(when(col("e"), col("label"))).as("hi"))
        .select(col("id"),
          when(col("lo").isNull || col("lo") === col("hi"), col("label")).as("label")),
      count(when(col("label").isNull, 1)))
    Materialize.release(raw, edges)
    if (split > 0) {
      Materialize.release(labels)
      throw new IllegalStateException(
        "connectedComponentsStar fixpoint is not a star forest — " +
          "convergence was misdetected, raise maxIter")
    }
    labels
  }

  /** Final dedup step a training-data pipeline runs: resolve candidate
    * near-dup pairs into cluster assignments for EVERY doc. Docs in no
    * pair are their own singleton cluster; `cluster_id` is the minimum
    * doc id of the component and `is_canonical` marks the one doc per
    * cluster to keep. `checkpointDir` forwards to
    * [[connectedComponents]] for reliable-storage lineage truncation on
    * real clusters.
    */
  def resolveClusters(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id", maxIter: Int = 50,
                      checkpointDir: Option[String] = None): DataFrame = {
    val cc = connectedComponents(pairs, maxIter, checkpointDir = checkpointDir)
      .withColumnRenamed("id", idCol)
    docs.select(col(idCol))
      .join(cc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
      .withColumn("is_canonical", col("cluster_id") === col(idCol))
  }

  /** Quality-aware cluster resolution: same connected components as
    * [[resolveClusters]], but the canonical member is the one with the
    * HIGHEST `scoreCol` (ties → smallest id) — what a production dedup
    * keeps: the best copy, not the lexicographically-first one. The
    * argmax is a map-side-combining `max_by(id, (score, -id))`
    * aggregate co-partitioned with the join-back on `cluster_id`, so
    * the extra cost over resolveClusters is one exchange of one row
    * per cluster.
    */
  def resolveClustersBy(docs: DataFrame, pairs: DataFrame, scoreCol: String,
                        idCol: String = "doc_id", maxIter: Int = 50,
                        checkpointDir: Option[String] = None): DataFrame = {
    val cc = connectedComponents(pairs, maxIter, checkpointDir = checkpointDir)
      .withColumnRenamed("id", idCol)
    val assigned = docs.select(col(idCol), col(scoreCol))
      .join(cc, Seq(idCol), "left")
      .select(col(idCol), col(scoreCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
    val best = assigned.groupBy("cluster_id")
      .agg(max_by(col(idCol), struct(col(scoreCol), -col(idCol))).as("keep_id"))
    assigned.join(best, Seq("cluster_id"))
      .select(col(idCol), col("cluster_id"), col(scoreCol),
        (col(idCol) === col("keep_id")).as("is_canonical"))
  }

  /** Blocked fuzzy matching (record linkage): pairs of rows whose
    * `textCol` values are within `maxDist` edit operations, compared
    * ONLY inside equal-`blockCols` blocks. Blocking is the scale
    * lever — it turns the quadratic all-pairs comparison into an
    * equi-join whose cost is Σ block². Pick blocks the way record
    * linkage always has: attributes a true match can't disagree on.
    * The distance uses Spark's bounded form `levenshtein(l, r, max)`,
    * which abandons a pair as soon as the running distance exceeds the
    * bound (returns -1) — O(max·len) per pair instead of O(len²).
    *
    * Oversize-block refinement (the LSH bucket-cap discipline, record-
    * linkage form): a block whose population exceeds `maxBlockSize`
    * refines into 16 md5-nibble sub-blocks of the TEXT, so its pair
    * work drops ~256× while every exact-duplicate pair (equal text ⇒
    * equal nibble) is still found; only near-pairs CROSSING sub-blocks
    * of an oversize block are lost — the recall price of bounding a
    * blocking key that stopped discriminating. Below the cap the
    * sub-key is constant and results are exactly the unrefined form.
    * Without this, one hot block (one city, one brand) makes the whole
    * job quadratic: measured 76 s at 10× data where the refined form
    * stays linear.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
                 blockCols: Seq[String], maxDist: Int,
                 maxBlockSize: Int = 128): DataFrame = {
    require(blockCols.nonEmpty,
      "fuzzyPairs without blocking is an all-pairs cartesian — block on something")
    require(maxBlockSize >= 2, "maxBlockSize must be at least 2")
    val sizes = df.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("_bn"))
    val sub = df.join(sizes, blockCols)
      .withColumn("_sub", when(col("_bn") > maxBlockSize,
        substring(md5(col(textCol)), 1, 1)).otherwise(lit("")))
    val keys = blockCols :+ "_sub"
    val a = sub.select(keys.map(col) ++
      Seq(col(idCol).as("id_a"), col(textCol).as("t_a")): _*)
    val b = sub.select(keys.map(col) ++
      Seq(col(idCol).as("id_b"), col(textCol).as("t_b")): _*)
    a.join(b, keys)
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("dist") >= 0)
      .drop("_sub")
  }

  /** Fellegi–Sunter-style record linkage scoring over blocked
    * candidate pairs: per compared field, an agreement weight
    * (`ln(m/u)`, the log-likelihood ratio of a match) is added when the
    * field agrees and a disagreement weight (`ln((1−m)/(1−u))`) when it
    * doesn't; pairs at or above `threshold` link. `fields` maps field
    * name → (m, u) — m the agreement probability among true matches,
    * u among non-matches (in production estimated by EM; here supplied,
    * the public textbook form).
    *
    * Determinism: each weight is ONE `ln` of a literal ratio folded at
    * plan time; the score is a fixed left-assoc sum of per-field
    * `when` terms over exact equality tests — bit-identical
    * cross-engine, rounded 1e-6 only for reporting.
    *
    * Scale shape: inherits [[fuzzyPairs]]' discipline — candidates come
    * from the caller's blocking (LSH bands, phonetic keys, sorted
    * neighborhoods); this function is a narrow projection over that
    * pair frame, shuffle-free. Σ block² is the cost; the score is not.
    */
  def linkageScore(pairs: DataFrame, fields: Map[String, (Double, Double)],
                   threshold: Double,
                   leftPrefix: String = "a_", rightPrefix: String = "b_"): DataFrame = {
    require(fields.nonEmpty, "linkageScore needs at least one field")
    val terms = fields.toSeq.sortBy(_._1).map { case (f, (m, u)) =>
      require(m > u && u > 0.0 && m < 1.0, s"field $f needs 0 < u < m < 1")
      val agree = math.log(m / u)
      val disagree = math.log((1.0 - m) / (1.0 - u))
      when(col(s"$leftPrefix$f") === col(s"$rightPrefix$f"), lit(agree))
        .otherwise(lit(disagree))
    }
    pairs
      .withColumn("score", round(terms.reduce(_ + _), 6))
      .withColumn("is_link", col("score") >= lit(threshold))
  }

  /** Fellegi–Sunter linkage HISTOGRAM without pair enumeration. When
    * every compared field is an exact-equality test (the classic FS
    * setup), a pair's score depends only on its agreement PATTERN —
    * which subset of fields agrees — so the (score, n_pairs) histogram
    * is pure combinatorics over group sizes:
    *
    *   A(T) = Σ_groups C(n_g, 2) over groups keyed by block ∪ T
    *        = pairs agreeing on AT LEAST the fields in T, and
    *   pairs agreeing on EXACTLY S = Σ_{T ⊇ S} (−1)^{|T∖S|} · A(T)
    *
    * (Möbius inversion over the subset lattice). Cost: ONE
    * grouping-sets aggregate computes every subset's group sizes — the
    * Expand carries 2^k copies of each row through a single scan and a
    * single map-side-combined exchange (k = #fields, small by
    * construction) — plus a 2^k × 2^k broadcast join. The pair join,
    * Σ block² work that forces bucket caps and recall-losing
    * refinements in [[fuzzyPairs]], disappears entirely. This is THE
    * scalable form of equality-field FS linkage: exact at any data
    * size, linear in rows. (The 30× sweep motivated it: the enumerated
    * form was 94× slower at 30× data.) Use [[linkageScore]] only when
    * the matched PAIRS themselves are the product, or when a field
    * comparison is non-equality (edit distance), where patterns don't
    * factor.
    *
    * NULL contract — aligned with [[linkageScore]]: a null BLOCK key
    * never joins (the row is dropped, as the enumerated form's
    * blocking equi-join does), and a null FIELD value never agrees
    * (`===` is false on null there; here each null becomes a
    * per-row-unique sentinel whose singleton groups contribute no
    * pairs). Field values group by their canonical string form.
    *
    * Returns (score, is_link, n_pairs) rows with n_pairs > 0, the same
    * shape `linkageScore(...).groupBy(score, is_link).count` yields —
    * equivalence is unit-gated on real data (including a null case).
    * Weights/threshold follow [[linkageScore]]'s contract: the score
    * folds per-field terms in FIELD-NAME order (the enumerated form's
    * association order), rounded 1e-6.
    */
  def linkagePatternHistogram(df: DataFrame, blockCols: Seq[String],
                              fields: Seq[String],
                              weights: Map[String, (Double, Double)],
                              threshold: Double): DataFrame = {
    require(fields.nonEmpty && fields.size <= 16,
      "pattern histogram wants 1..16 equality fields")
    require(fields.forall(weights.contains), "every field needs (m, u) weights")
    val spark = df.sparkSession
    val k = fields.size
    val base = df
      .filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("_uid", monotonically_increasing_id())
      .select(blockCols.map(col) ++ fields.map(f =>
        coalesce(col(f).cast("string"),
          concat(lit("\u0000null#"), col("_uid").cast("string"))).as(f)): _*)
    val allCols = (blockCols ++ fields).map(col)
    val sets: Seq[Seq[Column]] = (0 until (1 << k)).map { mask =>
      (blockCols ++ fields.zipWithIndex.collect {
        case (f, i) if ((mask >> i) & 1) == 1 => f }).map(col)
    }
    // grouping_id bit for field i (groupBy order blockCols ++ fields):
    // weight 2^(k-1-i), value 0 when the column IS in the grouping set
    val amask = (0 until k).map { i =>
      (lit(1L) - shiftright(col("_gid"), k - 1 - i).bitwiseAND(lit(1L))) *
        lit(1L << i)
    }.reduce(_ + _)
    val aT = base.groupingSets(sets, allCols: _*)
      .agg(count(lit(1)).as("_n"), grouping_id().as("_gid"))
      .select(amask.as("amask"), col("_n"))
      .groupBy("amask")
      .agg(coalesce(sum(expr("(_n * (_n - 1)) div 2")), lit(0L))
        .cast("long").as("a"))
    // one row per agreement pattern, score precomputed at plan time —
    // summed in field-NAME order, the exact IEEE association order of
    // linkageScore's sorted when-term fold
    val patterns = spark.createDataFrame(
      (0 until (1 << k)).map { pmask =>
        val score = fields.zipWithIndex.sortBy(_._1).map { case (f, i) =>
          val (m, u) = weights(f)
          require(m > u && u > 0.0 && m < 1.0, s"field $f needs 0 < u < m < 1")
          if (((pmask >> i) & 1) == 1) math.log(m / u)
          else math.log((1.0 - m) / (1.0 - u))
        }.sum
        // HALF_UP at 1e-6 — the exact rounding Spark's round(col, 6)
        // applies in linkageScore, so the equivalence gate is bit-for-bit
        (pmask, BigDecimal(score)
          .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
      })
      .toDF("pmask", "score")
    // Möbius: n_pairs(S) = Σ_{T ⊇ S} (−1)^|T∖S| A(T); both frames are
    // 2^k rows — broadcast, never a shuffle
    broadcast(patterns)
      .join(aT, expr("(amask & pmask) = pmask"))
      .groupBy("pmask", "score")
      .agg(sum(when(expr("pmod(bit_count(amask ^ pmask), 2)") === 0,
        col("a")).otherwise(-col("a"))).as("n_pairs"))
      // distinct patterns can round to one score — collapse like the
      // enumerated form's groupBy(score, is_link) would
      .groupBy("score").agg(sum("n_pairs").as("n_pairs"))
      .filter(col("n_pairs") > 0)
      .select(col("score"),
        (col("score") >= lit(threshold)).as("is_link"), col("n_pairs"))
  }
}
