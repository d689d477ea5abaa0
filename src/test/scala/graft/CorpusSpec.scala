package graft

import org.apache.spark.sql.functions._
import graft.ext.Corpus

/** Corpus-preparation operators: chunking, decontamination, repetition
  * stats, unigram surprisal (fixture-exact semantics + the plan shapes
  * their scaladocs claim).
  */
class CorpusSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("chunkDocs: sliding windows with clamped tail, empty docs dropped") {
    val d = docs(
      1L -> "a b c d e f g",
      2L -> "x y",
      3L -> "",
      4L -> null.asInstanceOf[String])
    val out = Corpus.chunkDocs(d, chunkTokens = 3, stride = 2)
      .orderBy("doc_id", "chunk_ix")
      .select("doc_id", "chunk_ix", "start_token", "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 1L, 3L, "a b c"),
      (1L, 1L, 3L, 3L, "c d e"),
      (1L, 2L, 5L, 3L, "e f g"),
      (1L, 3L, 7L, 1L, "g"), // tail clamps at the doc end
      (2L, 0L, 1L, 2L, "x y")))
  }

  test("chunkDocs plan is narrow: no exchange before the explode") {
    val d = docs(1L -> "a b c d e")
    val p = Corpus.chunkDocs(d).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "chunking must not shuffle")
  }

  test("contamination: shared n-grams counted distinct, clean docs absent") {
    val train = docs(
      10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "completely different words here entirely",
      12L -> "quick brown fox jumps again and again")
    val eval = docs(
      90L -> "a quick brown fox jumps story",
      91L -> "the lazy dog sleeps")
    val out = Corpus.contamination(train, eval, n = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    // doc 10 shares "quick brown fox jumps" with eval 90; doc 12 shares
    // the same 4-gram; doc 11 shares nothing; no 4-gram hits eval 91.
    assert(out == Seq((10L, 1L, 1L), (12L, 1L, 1L)))
  }

  test("contamination broadcasts the eval shingle side") {
    val train = docs(1L -> "a b c d e f")
    val eval = docs(2L -> "c d e f g h")
    val p = Corpus.contamination(train, eval, n = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "eval side must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("repetitionStats: fractions and flag; short docs dropped") {
    val d = docs(
      1L -> "spam spam spam spam", // top bigram "spam spam" = 3/3
      2L -> "all words unique here today",
      3L -> "x") // < 2 tokens: no bigram, dropped
    val out = Corpus.repetitionStats(d, topBigramThreshold = 0.5)
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double, Int)].collect().toSeq
    assert(out == Seq(
      (1L, 4L, 0.25, 1.0, 1),
      (2L, 5L, 1.0, 0.25, 0)))
  }

  test("packSequences: cumsum slicing per bucket, straddling chunk overfills") {
    val chunks = Seq(
      // bucket 0: token counts 100, 100, 100 with budget 256 ->
      // seq 0 holds chunks at cum-before 0, 100, 200 (overfills to 300)
      (0L, 1L, 0L, 100L), (0L, 1L, 1L, 100L), (0L, 2L, 0L, 100L),
      (0L, 2L, 1L, 60L), // cum-before 300 -> seq 1
      (1L, 3L, 0L, 50L)) // other bucket packs independently
      .toDF("bucket", "doc_id", "chunk_ix", "n_chunk_tokens")
    val out = Corpus.packSequences(chunks, "bucket", Seq("doc_id", "chunk_ix"),
        budgetTokens = 256L)
      .orderBy("bucket", "seq_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, 0L, 3L, 300L, 2L),
      (0L, 1L, 1L, 60L, 1L),
      (1L, 0L, 1L, 50L, 1L)))
  }

  test("unigramSurprisal: rare tokens score higher than common ones") {
    val d = docs(
      1L -> "common common common common",
      2L -> "common rareword")
    val rows = Corpus.unigramSurprisal(d).orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    // p(common)=5/6, p(rareword)=1/6: doc 1 = -ln(5/6); doc 2 =
    // (-ln(5/6) - ln(1/6)) / 2 — the rare doc is more surprising.
    val exp1 = BigDecimal(-math.log(5.0 / 6)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal((-math.log(5.0 / 6) - math.log(1.0 / 6)) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.toSeq == Seq((1L, 4L, exp1), (2L, 2L, exp2)))
  }

  test("chunkDocsGen: native Generator equals the declarative chunkDocs everywhere") {
    val real = spark.read.parquet(s"${SparkSpec.sf0001}/documents.parquet")
      .select("doc_id", "text")
    val edge = docs(
      9000001L -> "",            // empty -> no rows
      9000002L -> "one",         // single token, shorter than chunk
      9000003L -> (1 to 70).map(i => s"t$i").mkString(" ")) // clamped tail
    for (d <- Seq(real, edge); (ct, st) <- Seq((32, 24), (5, 5), (4, 1))) {
      val a = Corpus.chunkDocs(d, chunkTokens = ct, stride = st)
      val b = Corpus.chunkDocsGen(d, chunkTokens = ct, stride = st)
      // names and types must agree; the generator's nullability is
      // strictly tighter (it proves n_chunk_tokens non-null)
      assert(a.schema.map(f => (f.name, f.dataType)) ==
        b.schema.map(f => (f.name, f.dataType)), s"schema drift at ($ct,$st)")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"generator diverged from declarative form at ($ct,$st)")
    }
  }

  test("oovRate: counts tokens outside the top-V vocab; frequency ties break by token") {
    val d = docs(
      1L -> "aa aa aa bb bb cc",   // aa x3, bb x2, cc x1
      2L -> "aa zz yy xx")
    // V=2 -> vocab {aa, bb} (cc ties nothing; bb beats cc on count)
    val vocab = Corpus.topVocab(d, vocabSize = 2).as[(String, Long)].collect().toSeq
    assert(vocab == Seq(("aa", 4L), ("bb", 2L)))
    val got = Corpus.oovRate(d, Corpus.topVocab(d, 2)).orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 6L, 1L, 1.0 / 6), (2L, 4L, 3L, 0.75)))
  }

  test("bigramSurprisal: deterministic sequences score 0; short docs drop") {
    // corpus: "a b" always (a is only ever followed by b) → P(b|a)=1 →
    // surprisal 0 for a doc made of that bigram; "c d" vs "c e" split
    // evenly → P(d|c)=1/2 → a "c d" doc scores ln 2
    val d = docs(
      1L -> "a b",
      2L -> "a b",
      3L -> "c d",
      4L -> "c e",
      5L -> "solo") // 1 token -> no bigrams -> absent from output
    val out = Corpus.bigramSurprisal(d).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(out.take(2).forall(_.getAs[Double]("bigram_surprisal") === 0.0))
    val ln2 = math.BigDecimal(math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(2).getAs[Double]("bigram_surprisal") === ln2)
    assert(out(2).getAs[Long]("n_bigrams") === 1L)
  }

  test("skipgramPairs: window-2 pairs by hand; short docs contribute nothing") {
    val d = docs(
      1L -> "a b c",   // d1: (a,b),(b,c); d2: (a,c)
      2L -> "a b",     // d1: (a,b)
      3L -> "solo",    // 1 token -> nothing
      4L -> "")        // empty -> nothing
    val out = Corpus.skipgramPairs(d, window = 2, topK = 10).collect()
    val m = out.map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(m === Map(("a", "b", 1) -> 2L, ("b", "c", 1) -> 1L, ("a", "c", 2) -> 1L))
    // total order: count desc then pair — (a,b,1) must lead
    assert(out.head.getString(0) === "a" && out.head.getLong(3) === 2L)
    // topK cuts after ordering
    assert(Corpus.skipgramPairs(d, window = 2, topK = 1).collect().length === 1)
    intercept[IllegalArgumentException](Corpus.skipgramPairs(d, window = 0))
  }

  test("knContinuation: distinct-context counts and exact ppb by hand") {
    // bigrams: (a,b)x2, (c,b), (a,c) -> 3 distinct types
    // b completes 2 contexts {a,c} over 3 tokens; c completes 1 over 1
    val d = docs(1L -> "a b", 2L -> "a b", 3L -> "c b", 4L -> "a c")
    val out = Corpus.knContinuation(d, minCtx = 1).orderBy("w").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(
      "b" -> (2L, 3L, 2L * 1000000000L / 3L),
      "c" -> (1L, 1L, 1000000000L / 3L)))
    // the minCtx cut drops single-context words
    val cut = Corpus.knContinuation(d, minCtx = 2).collect()
    assert(cut.map(_.getString(0)).toSeq === Seq("b"))
  }

  test("bpeTrain: rule sequence by hand; greedy leftmost merge application") {
    // vocab: "aaab" x3, "ab" x2, "cd" (all alnum, len >= 2).
    // round 0 pairs (weighted): a-a from aaab = 2 adjacencies x3 = 6,
    //   a-b = 3 (aaab) + 2 (ab) = 5, c-d = 1 -> top = (a,a,6)
    // greedy leftmost on "a|a|a|b": merges positions 1-2 -> "aa|a|b"
    //   (NOT "a|aa|b") — the overlap case the fold exists for
    // round 1 pairs: aa-a = 3, a-b = 5 (3 from aaab + 2 from ab), c-d=1
    //   -> top = (a,b,5); "aa|a|b" -> "aa|ab", "a|b" -> "ab"
    // round 2: aa-ab = 3, c-d = 1 -> (aa,ab,3) -> "aaab"
    // round 3: c-d = 1 -> (c,d,1) -> "cd"
    // round 4: nothing adjacent anywhere -> training exhausts early
    val d = docs(1L -> "aaab aaab aaab ab ab cd")
    val out = Corpus.bpeTrain(d, rounds = 6).orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (0, "a", "a", 6L), (1, "a", "b", 5L),
      (2, "aa", "ab", 3L), (3, "c", "d", 1L)))
    // non-alnum and single-char words never enter training
    val skip = Corpus.bpeTrain(docs(1L -> "x y|z ."), rounds = 2).collect()
    assert(skip.isEmpty)
  }
}
