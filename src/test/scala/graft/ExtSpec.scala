package graft

import scala.jdk.CollectionConverters._

import graft.ext._
import org.apache.spark.sql.functions._

class ExtSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = spark.read.parquet(s"${SparkSpec.sf0001}/documents.parquet").cache()
  lazy val embs = spark.read.parquet(s"${SparkSpec.sf0001}/embeddings.parquet").cache()

  test("dedup: exact duplicates found with canonical min id") {
    val d = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y"), (4L, "a b c"))
      .toDF("doc_id", "text")
    val got = Dedup.exactDuplicates(d).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("canonical_id") == 1L)
    assert(got(0).getAs[Long]("n_dups") == 3L)
  }

  test("dedup: shingles produce n-grams; short docs give empty array") {
    val d = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
    val sh = d.select(Dedup.shingles($"text", 3).as("s")).as[Seq[String]].head()
    assert(sh == Seq("the quick brown", "quick brown fox"))
    val short = Seq((1L, "hi there")).toDF("doc_id", "text")
    assert(short.select(Dedup.shingles($"text", 3)).as[Seq[String]].head().isEmpty)
  }

  test("dedup: codegen shingles equal HOF shingles on corpus + edge cases") {
    val edge = Seq(
      (9000001L, ""), (9000002L, "   "), (9000003L, "one"),
      (9000004L, "one two"), (9000005L, "  Spaced   OUT\ttabs\nnew\nlines  "),
      (9000006L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val all = docs.select("doc_id", "text").unionByName(edge)
    for (n <- Seq(1, 2, 3, 5)) {
      val mismatch = all.select(
          Dedup.shingles($"text", n).as("a"),
          Dedup.shinglesHof($"text", n).as("b"))
        .filter(not($"a" <=> $"b")).count()
      assert(mismatch == 0, s"shingles != shinglesHof for n=$n")
    }
  }

  test("dedup: minhash identical docs share signatures; lsh finds the pair") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this unrelated document here")
    ).toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(d, k = 8, n = 3)
    val rows = sig.orderBy("doc_id").collect()
    (1 to 8).foreach { i => assert(rows(0).getString(i) == rows(1).getString(i)) }
    val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, 8, 2)).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("dedup: ngram jaccard exact on known sets") {
    // doc1: shingles {a b c, b c d}; doc2: {a b c, b c e} -> inter=1, union=3
    val d = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.0).collect()
    assert(got.length == 1)
    assert(math.abs(got(0).getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-12)
  }

  test("dedup: connected components resolve transitive chains and singletons") {
    // path graph 1-2-3-4-5 (diameter 4, needs several propagation
    // rounds), separate pair (20,21), singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (20L, 21L))
      .toDF("id1", "id2")
    val docs = (Seq(1L, 2L, 3L, 4L, 5L, 9L, 20L, 21L)).toDF("doc_id")
    val got = Dedup.resolveClusters(docs, pairs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (5L, 1L, false), (9L, 9L, true), (20L, 20L, true), (21L, 20L, false)))
  }

  test("dedup: connected components with a reliable checkpoint dir") {
    val dir = java.nio.file.Files.createTempDirectory("ccchk").toString
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    // force the DISTRIBUTED loop (the fast path would bypass the
    // checkpoint machinery this test exists to exercise)
    spark.conf.set("spark.graft.graph.localEdges", "0")
    try {
      val got = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    } finally spark.conf.unset("spark.graft.graph.localEdges")
  }

  test("dedup: connected components on empty pair set leaves all docs singleton") {
    val pairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    val docs = Seq(1L, 2L).toDF("doc_id")
    val got = Dedup.resolveClusters(docs, pairs).orderBy("doc_id").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(got.forall(_.getBoolean(2)))
  }

  test("dedup: simhash equal for identical docs, differs for unrelated; hamming=0 on dup") {
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zq xw vv uu tt ss rr")).toDF("doc_id", "text")
    val s = Dedup.simhash16(d).orderBy("doc_id").collect()
    assert(s(0).getInt(1) == s(1).getInt(1))
    val df = Dedup.simhash16(d)
    val h = df.as("a").join(df.as("b"), $"a.doc_id" < $"b.doc_id")
      .select(Dedup.hamming($"a.simhash", $"b.simhash").as("h"), $"a.doc_id", $"b.doc_id")
      .filter($"a.doc_id" === 1 && $"b.doc_id" === 2)
      .select("h").as[Long].head()
    assert(h == 0L)
  }

  test("dedup: 64-bit simhash clusters duplicates") {
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zq xw vv uu tt ss rr")).toDF("doc_id", "text")
    val s = Dedup.simhash64(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(s(0).getLong(1) == s(1).getLong(1))
    assert(s(0).getLong(1) != s(2).getLong(1))
    // md5 form agrees with the 16-bit demo on the low 16 bits' structure:
    // identical docs -> hamming 0
    val df = Dedup.simhash64(d)
    val h = df.as("a").join(df.as("b"), $"a.doc_id" === 1 && $"b.doc_id" === 2)
      .select(Dedup.hamming($"a.simhash", $"b.simhash")).as[Long].head()
    assert(h == 0L)
  }

  test("similarity: multi-probe ANN recall covers single-probe and adds neighbors") {
    val planes = Similarity.defaultPlanes(64, 4)
    val q = embs.filter($"vec_id" < 4)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = keys(Similarity.bucketedTopK(embs, q, k = 50, planes))
    val multi = keys(Similarity.bucketedTopK(embs, q, k = 50, planes, multiProbe = true))
    assert(multi.size > single.size, "multi-probe should reach more candidates")
    // scores still exact: spot-check against brute force
    val bf = Similarity.bruteForceTopK(embs, q, k = 200)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.bucketedTopK(embs, q, k = 10, planes, multiProbe = true).collect()
      .foreach { r =>
        val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        bf.get(key).foreach(v => assert(math.abs(v - r.getAs[Double]("cosine")) < 1e-12))
      }
  }

  test("similarity: cosine of identical vector is 1, orthogonal is 0") {
    val d = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(d, d.filter($"vec_id" === 1), k = 2)
      .orderBy("rank").collect()
    assert(got(0).getAs[Long]("neighbor_id") == 3L)
    assert(math.abs(got(0).getAs[Double]("cosine") - 1.0) < 1e-12)
    assert(got(1).getAs[Long]("neighbor_id") == 2L)
    assert(math.abs(got(1).getAs[Double]("cosine")) < 1e-12)
  }

  test("similarity: brute force topk on real embeddings is deterministic and ranked") {
    val q = embs.filter($"vec_id" < 3)
    val got = Similarity.bruteForceTopK(embs, q, k = 5)
    val rows = got.orderBy("query_id", "rank").collect()
    assert(rows.length == 15)
    rows.grouped(5).foreach { g =>
      val sims = g.map(_.getAs[Double]("cosine"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("similarity: bucketed ANN returns a subset of brute-force candidates with same scores") {
    val q = embs.filter($"vec_id" < 2)
    val bf = Similarity.bruteForceTopK(embs, q, k = 50)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bk = Similarity.bucketedTopK(embs, q, k = 10,
      planes = Similarity.defaultPlanes(64, 2)).collect()
    assert(bk.nonEmpty)
    bk.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      bf.get(key).foreach(v => assert(math.abs(v - r.getAs[Double]("cosine")) < 1e-12))
    }
  }

  test("similarity: native dot is bit-equal to the HOF dot on real embeddings") {
    val pairs = embs.as("a").join(embs.as("b"),
      $"a.vec_id" + 1 === $"b.vec_id")
    val mismatch = pairs.select(
        Similarity.dot($"a.embedding", $"b.embedding").as("hof"),
        Similarity.dotNative($"a.embedding", $"b.embedding").as("native"))
      .filter(not($"hof" <=> $"native")).count()
    assert(mismatch == 0)
    // interpreted eval path (no codegen) must agree too
    val one = embs.filter($"vec_id" === 0)
      .select(Similarity.dot($"embedding", $"embedding").as("hof"),
        Similarity.dotNative($"embedding", $"embedding").as("native"))
      .head()
    assert(one.getDouble(0) == one.getDouble(1))
  }

  test("similarity: hyperplane buckets are populated and not grossly skewed") {
    val planes = Similarity.defaultPlanes(64, 4)
    val hist = embs
      .groupBy(Similarity.hyperplaneBucket($"embedding", planes).as("bucket"))
      .count().collect()
    val total = hist.map(_.getLong(1)).sum
    assert(hist.length >= 12, s"only ${hist.length}/16 buckets populated")
    // no bucket holds more than half the corpus (raw first-4-dim sign
    // buckets on correlated embeddings fail this badly)
    assert(hist.map(_.getLong(1)).max < total / 2)
  }

  test("similarity: corpus-derived plane count keeps pair work sub-quadratic") {
    // derivation: ⌈log2(n/target)⌉, clamped to >= 1
    assert(Similarity.planesForCount(500, 1000) == 1)
    assert(Similarity.planesForCount(2000, 1000) == 1)
    assert(Similarity.planesForCount(16000, 1000) == 4)
    assert(Similarity.planesForCount(1000000, 1000) == 10)
    // empirical: with derived planes, Σ bucket² (the bucketed self-join's
    // pair work) must grow sub-quadratically when the corpus doubles —
    // a fixed plane count would grow it ~4×
    val target = 50L
    def pairWork(n: Int): Double = {
      val c = embs.filter($"vec_id" < n)
      val planes = Similarity.planesForCorpus(c, target)
      assert(planes.length == Similarity.planesForCount(n, target))
      c.groupBy(Similarity.hyperplaneBucket($"embedding", planes).as("b"))
        .count().collect().map(r => math.pow(r.getLong(1).toDouble, 2)).sum
    }
    val half = pairWork(250)
    val full = pairWork(500)
    assert(full / half < 3.0,
      s"pair work grew ${full / half}x on a 2x corpus — quadratic, planes not scaling")
    // and buckets stay near the target occupancy, not n
    assert(full <= 3.0 * 500 * target, s"Σ bucket² = $full exceeds ~n·target")
  }

  test("similarity: near-dup pairs are symmetric-free, thresholded, bucket-bounded") {
    val planes = Similarity.defaultPlanes(64, 4)
    val pairs = Similarity.embeddingNearDupPairs(embs, threshold = 0.2, planes = planes)
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Long]("id1") < r.getAs[Long]("id2"))
      assert(r.getAs[Double]("cosine") >= 0.2)
    }
  }

  test("textstats: langid votes, token counts, quality bands") {
    val d = Seq(
      (1L, "the cat and the dog sat in the house of wonder"),
      (2L, "el perro y la casa de la gente en una ciudad con sol"),
      (3L, "zzz qqq www"),
      // de: stopword-membership votes, same mechanism as en/es/fr
      (4L, "der hund und die katze sind nicht mit dem kind im haus"),
      // zh: whitespace tokenization yields ONE token — the char-class
      // vote must fire where membership voting is structurally blind
      (5L, "今天天气很好我们一起去公园散步吧"),
      // zh embedded in latin boilerplate: 12 CJK chars outvote the
      // single 'the' stopword hit
      (6L, "the 今天天气很好我们去公园散步 page")
    ).toDF("doc_id", "text")
    val got = d.select($"doc_id", TextStats.langId($"text").as("lang"))
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(got(0)._2 == "en" && got(1)._2 == "es" && got(2)._2 == "und")
    assert(got(3)._2 == "de" && got(4)._2 == "zh" && got(5)._2 == "zh")
    val counts = d.filter($"doc_id" === 1)
      .select(TextStats.bpeishTokenCount($"text")).head()
    assert(counts.getInt(0) == 11) // pure words, no punct
    val q = TextStats.withQuality(d).select("quality_score").as[Double].collect()
    assert(q.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("textstats: native CjkCount matches the regex spelling byte-for-byte") {
    // parity fixtures: pure latin (zero matches), pure CJK, CJK mixed
    // into latin, range boundaries (U+4E00 and U+9FFF in, U+4DFF and
    // U+A000 out — the E4-block second-byte check and the E9 ceiling),
    // other multi-byte scripts (é, ß, я, emoji — 2- and 4-byte
    // sequences must never phantom-match), and empty/null
    val fixtures = Seq(
      (1L, "plain latin text with no ideographs at all"),
      (2L, "今天天气很好我们一起去公园散步吧"),
      (3L, "the 今天天气很好我们去公园散步 page"),
      (4L, "一鿿"), // first and last in range
      (5L, "䷿ꀀ"), // one below, one above — zero
      (6L, "café straße язык 😀"),
      (7L, ""),
      (8L, null.asInstanceOf[String]))
    val d = fixtures.toDF("id", "text")
    val rows = d.select($"id",
        TextStats.zhVotesText($"text").as("native"),
        coalesce(size(regexp_extract_all($"text",
          lit(TextStats.ZhClass), lit(0))), lit(0)).as("regex"))
      .orderBy("id").collect()
    rows.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"CjkCount mismatch on id=${r.getLong(0)}: " +
          s"native=${r.getInt(1)} regex=${r.getInt(2)}")
    }
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 16, 13, 2, 0, 0, 0, 0))
  }

  test("textstats: CjkCount never phantom-counts on ill-formed UTF-8") {
    // round-14 ADVICE: a lone E5..E9 lead followed by non-continuation
    // bytes previously counted as an ideograph and the walk
    // mis-advanced past real characters. Build raw invalid byte
    // strings via binary->string cast (no validation in non-ANSI
    // mode); for each, assert the count equals the number of
    // WELL-FORMED in-range sequences only, and that a genuine
    // ideograph after a corrupt lead still counts (maximal-subpart
    // advance does not swallow it). The regex forms decode invalid
    // bytes to U+FFFD and never match either, so both spellings agree
    // on the phantom-free contract.
    val zh = "中".getBytes("UTF-8") // E4 B8 AD
    def bytes(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    val fixtures: Seq[(Long, Array[Byte], Int)] = Seq(
      (1L, bytes(0xE5), 0),                        // lone lead at EOS
      (2L, bytes(0xE5, 'A', 'B'), 0),              // lead + ASCII
      (3L, bytes(0xE5, 0xB8), 0),                  // truncated pair at EOS
      (4L, bytes(0xE5, 0xB8, 'x'), 0),             // truncated pair + ASCII
      (5L, bytes(0xE4, 0xB8), 0),                  // truncated E4 pair
      (6L, bytes(0xB8, 0xAD), 0),                  // stray continuations
      (7L, bytes(0xE5, 'A') ++ zh ++ bytes('z'), 1), // corrupt lead must not swallow 中
      (8L, bytes(0xE9) ++ zh, 1),                  // lone lead directly before 中
      (9L, zh ++ bytes(0xE5) ++ zh, 2),            // corrupt byte between two real
      (10L, bytes(0xF0, 0x9F, 0x98), 0))           // truncated 4-byte emoji
    val d = fixtures.map { case (id, bs, exp) => (id, bs, exp) }
      .toDF("id", "raw", "expected")
      .select($"id", $"raw".cast("string").as("text"), $"expected")
    val rows = d.select($"id", $"expected",
        TextStats.zhVotesText($"text").as("native")).orderBy("id").collect()
    rows.foreach { r =>
      assert(r.getInt(2) == r.getInt(1),
        s"ill-formed fixture id=${r.getLong(0)}: native=${r.getInt(2)} expected=${r.getInt(1)}")
    }
  }

  test("textstats: fingerprints stable under case/whitespace noise") {
    val d = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other text"))
      .toDF("doc_id", "text")
    val msf = d.select(TextStats.minShingleFingerprint($"text").as("f")).as[String].collect()
    assert(msf(0) == msf(1))
  }

  test("multimodal: binaryFile source ingests raw media files as binary rows") {
    // how real media lands in the engine: one row per FILE (path, mtime,
    // length, content) — the ingestion front door for Multimodal's
    // binary-payload operators. pathGlobFilter prunes at listing time.
    val dir = java.nio.file.Files.createTempDirectory("media")
    val payloads = Map("a.img" -> "AAAA", "b.img" -> "BBBBBBBB", "skip.txt" -> "nope")
    payloads.foreach { case (name, content) =>
      java.nio.file.Files.write(dir.resolve(name), content.getBytes("UTF-8"))
    }
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img")
      .load(dir.toString)
    assert(df.columns.toSet == Set("path", "modificationTime", "length", "content"))
    val got = df.collect()
      .map(r => (new java.io.File(r.getString(0).stripPrefix("file:")).getName,
        r.getLong(2), new String(r.getAs[Array[Byte]](3), "UTF-8")))
      .toSet
    assert(got == Set(("a.img", 4L, "AAAA"), ("b.img", 8L, "BBBBBBBB")))
    // and it pipes straight into the multimodal operators
    val media = df.select(expr("row_number() over (order by path)").cast("long").as("media_id"),
      lit("image").as("kind"), col("content").as("payload"))
    assert(Multimodal.decodeBatches(media).count() == 2)
  }

  test("multimodal: byte meta, batched stub decode, frame sampling shapes") {
    val media = Multimodal.asMedia(docs, "doc_id", "text", kind = "video")
    val decoded = Multimodal.decodeBatches(media)
    val lens = media.select($"media_id", octet_length($"payload"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(decoded.collect().forall(m => m.byte_len == lens(m.media_id)))
    val r = decoded.filter($"media_id" === 0).head()
    assert(r.width >= 64 && r.height >= 64 && r.n_frames >= 1)
    assert(decoded.count() == docs.count())
    val frames = Multimodal.sampleFrames(media.limit(5), frameBytes = 16, stride = 2)
    val f = frames.collect()
    assert(f.forall(_.getAs[Int]("frame_idx") % 2 == 0))
    assert(f.forall(_.getAs[Array[Byte]]("frame").length <= 16))
  }

  test("dedup: connected components fails loudly when diameter exceeds maxIter") {
    // a chain 1-2-3-...-8 has diameter 7: min-label propagation needs
    // ~7 rounds, so maxIter=2 must throw rather than return split labels
    // (distributed loop forced — the union-find fast path never splits)
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("id1", "id2")
    spark.conf.set("spark.graft.graph.localEdges", "0")
    try {
      intercept[IllegalStateException] {
        Dedup.connectedComponents(chain, maxIter = 2)
      }
      val labels = Dedup.connectedComponents(chain, maxIter = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(labels.length == 8 && labels.forall(_._2 == 1L))
    } finally spark.conf.unset("spark.graft.graph.localEdges")
  }

  test("asof tolerance: stale matches null out, fresh ones survive") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, "k", ts("2024-01-10 00:00:00")),
      (2L, "k", ts("2024-01-02 00:00:00"))).toDF("event_id", "key", "t")
    val right = Seq(("k", ts("2024-01-01 00:00:00"), 5.0)).toDF("key", "rt", "v")
    val got = AsofJoin.asofJoinLast(left, right, Seq("key"), "t", "rt",
        Seq("rt", "v"), toleranceSec = Some(86400L))
      .orderBy("event_id").collect()
    assert(got(0).isNullAt(got(0).fieldIndex("v")), "9-day-stale match must be null")
    assert(got(1).getDouble(got(1).fieldIndex("v")) == 5.0, "1-day-old match must survive")
    // and without tolerance both match
    val plain = AsofJoin.asofJoinLast(left, right, Seq("key"), "t", "rt", Seq("rt", "v"))
      .collect()
    assert(plain.forall(r => !r.isNullAt(r.fieldIndex("v"))))
  }

  test("similarity: native PlaneDot bit-equals the element_at spec form") {
    val planes = Similarity.defaultPlanes(dim = 64, nPlanes = 4)
    for (pl <- planes) {
      val mismatch = embs.select(
          Similarity.planeDot($"embedding", pl).as("a"),
          Similarity.planeDotSpec($"embedding", pl).as("b"))
        .filter(not($"a" <=> $"b")).count()
      assert(mismatch == 0, "native plane dot diverged from the spec form")
    }
    // degenerate vectors -> null, matching the spec form under ANSI-off
    // (the spec form THROWS under ANSI for short arrays; the native
    // kernel is null-on-short in both modes — strictly better behaved)
    val edge = Seq(
      (9000001L, Array(1.0f, 2.0f)),             // shorter than the plane
      (9000002L, Array.empty[Float]),            // empty
      (9000003L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val nulls = edge.select(Similarity.planeDot($"embedding", planes.head).as("a"))
      .collect().map(r => r.isNullAt(0))
    assert(nulls.forall(identity), "degenerate vectors must yield null plane dots")
    // and the composed bucket assignment is unchanged
    val bm = embs.select(
        Similarity.hyperplaneBucket($"embedding", planes).as("a"),
        planes.zipWithIndex
          .map { case (pl, i) =>
            when(Similarity.planeDotSpec($"embedding", pl) >= 0.0, lit(1 << i)).otherwise(lit(0)) }
          .reduce(_ + _).as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(bm == 0, "bucket assignment changed under the native kernel")
  }

  test("asof forward/nearest: direction mirror and pandas tie rule") {
    val left = Seq(
      (1L, 10, "a"),  // equidistant from rt=5 and rt=15 -> backward wins
      (2L, 12, "a"),  // nearer to rt=15 -> forward
      (3L, 6, "a"),   // nearer to rt=5 -> backward
      (4L, 30, "a"),  // after the last right row -> forward null, backward 15
      (5L, 1, "a")    // before the first right row -> backward null, forward 5
    ).toDF("id", "t", "k")
    val right = Seq(("a", 5, 50.0), ("a", 15, 150.0)).toDF("k", "rt", "v")
    def run(dir: String) = AsofJoin.asofJoinLast(
        left, right, Seq("k"), "t", "rt", Seq("rt", "v"), direction = dir)
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(run("backward") == Seq((1L, Some(50.0)), (2L, Some(50.0)),
      (3L, Some(50.0)), (4L, Some(150.0)), (5L, None)))
    assert(run("forward") == Seq((1L, Some(150.0)), (2L, Some(150.0)),
      (3L, Some(150.0)), (4L, None), (5L, Some(50.0))))
    val near = AsofJoin.asofJoinNearest(left, right, Seq("k"), "t", "rt", Seq("rt", "v"))
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(near == Seq(
      (1L, Some(50.0)),   // tie -> backward (pandas rule)
      (2L, Some(150.0)), (3L, Some(50.0)),
      (4L, Some(150.0)), (5L, Some(50.0))))
  }

  test("asof join: latest right row at-or-before each left time, per key") {
    val left = Seq(
      (1L, 5, "a"), (2L, 10, "a"), (3L, 15, "a"),  // t=10 exact match incl.
      (4L, 9, "b"),                                 // before any b row -> null
      (5L, 30, "b")
    ).toDF("id", "t", "k")
    val right = Seq(
      ("a", 10, 1.0), ("a", 14, 2.0),
      ("b", 20, 9.0)
    ).toDF("k", "rt", "v")
    val got = AsofJoin.asofJoinLast(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(got.toSeq == Seq(
      (1L, None),          // t=5 before first a row
      (2L, Some(1.0)),     // t=10 inclusive match
      (3L, Some(2.0)),     // t=15 takes rt=14
      (4L, None),
      (5L, Some(9.0))))
  }

  test("asof join: null payload in the newest right row is NOT skipped or mixed") {
    // right at t=20 has v1=null: the match at t=25 must return
    // (null, 30), not resurrect v1=1.0 from t=10 or mix rows
    val left = Seq((1L, 25, "a")).toDF("id", "t", "k")
    val right = Seq(("a", 10, Some(1.0), Some(2.0)), ("a", 20, None, Some(30.0)))
      .toDF("k", "rt", "v1", "v2")
    val r = AsofJoin.asofJoinLast(left, right, Seq("k"), "t", "rt", Seq("v1", "v2"))
      .select("v1", "v2").head()
    assert(r.isNullAt(0), s"stale v1 resurrected: ${r.get(0)}")
    assert(r.getDouble(1) == 30.0)
  }

  test("similarity: native dot returns null on mismatched dims (matches HOF)") {
    val d = Seq((1L, Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("id", "a", "b")
    val r = d.select(Similarity.dotNative($"a", $"b").as("n"),
      Similarity.dot($"a", $"b").as("h")).head()
    assert(r.isNullAt(0), "truncated partial dot instead of null")
    assert(r.isNullAt(1))
  }

  test("scaleops: saltedJoin rejects dim-preserving join types") {
    val f = Seq(("a", 1)).toDF("k", "v")
    intercept[IllegalArgumentException](
      graft.ext.ScaleOps.saltedJoin(f, f, "k", 4, joinType = "right"))
    intercept[IllegalArgumentException](
      graft.ext.ScaleOps.saltedJoin(f, f, "k", 4, joinType = "full_outer"))
  }

  test("range join: bin-crossing intervals, boundary inclusivity, no duplicates") {
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000)
    val left = Seq((1L, ts(50), "a"), (2L, ts(100), "a"), (3L, ts(150), "a"),
      (4L, ts(100), "b")).toDF("id", "t", "k")
    // interval [40,100] spans bins 0 and 1 at bin=60; [100,160] touches at t=100
    val right = Seq(("a", ts(40), ts(100), 10L), ("a", ts(100), ts(160), 20L),
      ("b", ts(0), ts(99), 30L)).toDF("k", "lo", "hi", "iv")
    val got = AsofJoin.rangeJoinBinned(left, right, Seq("k"), "t", "lo", "hi", binSeconds = 60)
      .select("id", "iv").orderBy("id", "iv").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq(
      (1L, 10L),            // mid-interval
      (2L, 10L), (2L, 20L), // boundary t=100 inclusive in both
      (3L, 20L)))           // id 4: b@100 outside [0,99] -> dropped
  }

  test("events: streaming hourly agg matches batch hourly agg") {
    val path = s"${SparkSpec.sf0001}/events.parquet"
    val batch = EventsStream.hourlyStats(EventsStream.readEvents(spark, path))
      .withColumn("hour", $"hour".cast("string"))
      .collect().map(_.toSeq).toSet
    val stream = EventsStream.runStreamOnce(spark, path)
      .orderBy("hour", "event_type")
      .withColumn("hour", $"hour".cast("string"))
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("events: streaming SLIDING window equals the batch two-window explode") {
    val path = s"${SparkSpec.sf0001}/events.parquet"
    // batch truth: every event belongs to the 2h windows starting at
    // floor(ts, 1h) and floor(ts, 1h) - 1h
    val batch = EventsStream.readEvents(spark, path)
      .select($"event_type", explode(array(
        date_trunc("hour", $"ts"),
        date_trunc("hour", $"ts") - expr("INTERVAL 1 HOUR"))).as("w_start"))
      .groupBy("w_start", "event_type").agg(count(lit(1)).as("n_events"))
      .withColumn("w_start", $"w_start".cast("string"))
      .collect().map(_.toSeq).toSet
    val stream = EventsStream.runSlidingOnce(spark, path)
      .withColumn("w_start", $"w_start".cast("string"))
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("events: transformWithState running totals equal the batch groupBy") {
    val path = s"${SparkSpec.sf0001}/events.parquet"
    val batch = EventsStream.readEvents(spark, path)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(floor($"value" * 100)).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = graft.ext.StatefulOps.runRunningTotalsOnce(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("events: streaming dedup summary equals batch COUNT(DISTINCT)") {
    val path = s"${SparkSpec.sf0001}/events.parquet"
    val batch = EventsStream.readEvents(spark, path)
      .groupBy("event_type")
      .agg(countDistinct($"user_id").as("n_users"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val streamed = EventsStream.runDedupOnce(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("events: within-watermark dedup equals exact dedup on a bounded run") {
    // one file + AvailableNow = a single micro-batch, so no key state
    // is evicted mid-run and the bounded-state operator must land on
    // the same surviving key set as exact dropDuplicates
    val path = s"${SparkSpec.sf0001}/events.parquet"
    val exact = EventsStream.runDedupOnce(spark, path, "wm_ref")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val wm = EventsStream.runDedupWithinWatermarkOnce(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(wm == exact)
    assert(wm.nonEmpty)
  }

  test("events: stream-stream funnel join emits exactly the batch join rows") {
    val path = s"${SparkSpec.sf0001}/events.parquet"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getTimestamp(3), r.getTimestamp(4))
    val batch = EventsStream.funnelBatch(
        EventsStream.readEvents(spark, path), windowSec = 3600)
      .collect().map(key).toSet
    val streamed = EventsStream.runFunnelOnce(spark, path, windowSec = 3600)
      .collect().map(key).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty) // 3600 s window: non-vacuous even at sf0.001
  }

  test("events: streaming rollup equals batch recompute and survives replay") {
    val path = s"${SparkSpec.sf0001}/events.parquet"
    val state = java.nio.file.Files.createTempDirectory("rollup").toString
    def served: Map[String, (Long, Double)] =
      EventsStream.readRollup(spark, state, Seq("event_type"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), math.round(r.getDouble(2) * 1e4) / 1e4)))
        .toMap
    val expected = EventsStream.readEvents(spark, path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), math.round(r.getDouble(2) * 1e4) / 1e4)))
      .toMap

    EventsStream.maintainRollup(
      EventsStream.readEventsStream(spark, path), Seq("event_type"), "value",
      state, java.nio.file.Files.createTempDirectory("rckpt1").toString)
    assert(served == expected)

    // fresh checkpoint = full replay: partials OVERWRITE their own
    // batch_id partitions, so the served rollup must not double-count
    EventsStream.maintainRollup(
      EventsStream.readEventsStream(spark, path), Seq("event_type"), "value",
      state, java.nio.file.Files.createTempDirectory("rckpt2").toString)
    assert(served == expected, "replayed batches double-merged into the rollup")
  }

  test("events: same-checkpoint restart resumes exactly-once (no reprocessing)") {
    val path = s"${SparkSpec.sf0001}/events.parquet"
    val state = java.nio.file.Files.createTempDirectory("resume_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("resume_ckpt").toString
    EventsStream.maintainRollup(
      EventsStream.readEventsStream(spark, path), Seq("event_type"), "value",
      state, ckpt)
    val after1 = EventsStream.readRollup(spark, state, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // SAME checkpoint: the source offsets are committed, so a restart
    // finds no new data — no batch runs, state bytes stay identical
    EventsStream.maintainRollup(
      EventsStream.readEventsStream(spark, path), Seq("event_type"), "value",
      state, ckpt)
    val after2 = EventsStream.readRollup(spark, state, Seq("event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after2 == after1, "committed offsets were reprocessed on restart")
  }

  test("similarity: IVF assignment is the brute-force argmax; probes rank by cosine") {
    val cents = embs.filter($"vec_id" < 4)
    // reference argmax: score every (vector, centroid) pair with the
    // interpreted HOF cosine, pick max cosine / min id per vector
    val ref = embs.as("v").crossJoin(cents.as("c"))
      .select($"v.vec_id".as("vec_id"), $"c.vec_id".as("cid"),
        Similarity.cosine($"v.embedding", $"c.embedding").as("cos"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (vid, rows) =>
        vid -> rows.maxBy(r => (r.getDouble(2), -r.getLong(1))).getLong(1) }
    val got = Similarity.ivfAssign(embs, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
    // the nProbe window path's rank-1 row agrees with the aggregate path
    val probe1 = Similarity.ivfAssign(embs, cents, nProbe = 2)
      .filter($"probe_rank" === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(probe1 == got)
  }

  test("similarity: IVF topk candidates come only from probed lists, scores exact") {
    val cents = embs.filter($"vec_id" < 4)
    val queries = embs.filter($"vec_id" < 8)
    val lists = Similarity.ivfAssign(embs, cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probes = Similarity.ivfAssign(queries, cents, nProbe = 2)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val brute = Similarity.bruteForceTopK(embs, queries, k = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Similarity.ivfTopK(embs, cents, queries, k = 3, nProbe = 2).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (q, n, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(probes(q).contains(lists(n)), s"neighbor $n of query $q not in a probed list")
      assert(c == brute((q, n)), s"IVF cosine for ($q,$n) differs from brute force")
    }
  }

  test("approx_count_distinct (HLL++) lands within its rsd bound on real keys") {
    val li = spark.read.parquet(s"${SparkSpec.sf0001}/lineitem.parquet")
    val rsd = 0.02
    val r = li.agg(
      countDistinct($"l_partkey").as("exact"),
      approx_count_distinct($"l_partkey", rsd).as("approx")).head()
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    // HLL++ standard error = rsd; 5 sigma is a deterministic-enough gate
    assert(math.abs(approx - exact) <= math.max(1, (5 * rsd * exact).toLong),
      s"approx $approx vs exact $exact beyond 5x rsd")
  }

  test("textstats: strided min-shingle fingerprint stable, whitespace-invariant") {
    val d = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "The  quick\tbrown   fox jumps  over the lazy dog"), // ws noise only
      (3L, "an entirely different document about spark engines")
    ).toDF("doc_id", "text")
    val fp = d.select($"doc_id",
        TextStats.minShingleFingerprint($"text", w = 8, stride = 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L)) // normalization collapses whitespace runs
    assert(fp(1L) != fp(3L))
    // stride 1 samples a superset of windows: its min is <= the strided min
    val full = d.filter($"doc_id" === 1)
      .select(TextStats.minShingleFingerprint($"text", w = 8, stride = 1))
      .head().getString(0)
    assert(full <= fp(1L))
  }

  test("timefill: lead+explode forward fill equals the spine-join witness; gaps carry values") {
    val obs = Seq(
      ("a", "2024-01-01", 10L), ("a", "2024-01-04", 40L), ("a", "2024-01-05", 50L),
      ("b", "2024-02-10", 7L), ("b", "2024-02-13", 9L),
      ("c", "2024-03-01", 1L) // single observation: no gap rows
    ).toDF("k", "d", "n").withColumn("d", $"d".cast("date"))

    val fast = TimeFill.forwardFillDaily(obs, Seq("k"), "d", Seq("n"))
    val spine = TimeFill.forwardFillViaSpine(obs, Seq("k"), "d", Seq("n"))
    assert(fast.unionByName(spine).except(fast.intersect(spine)).isEmpty,
      "one-shuffle path diverges from spine-join witness")

    val byKey = fast.collect().map(r =>
      (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getBoolean(3)))
      .sortBy(t => (t._1, t._2))
    // a: 01-01..01-05 dense, gap days 02/03 carry n=10
    assert(byKey.filter(_._1 == "a").map(t => (t._2, t._3, t._4)).toSeq == Seq(
      ("2024-01-01", 10L, false), ("2024-01-02", 10L, true), ("2024-01-03", 10L, true),
      ("2024-01-04", 40L, false), ("2024-01-05", 50L, false)))
    // b: two gap days carrying 7
    assert(byKey.count(t => t._1 == "b" && t._4) == 2)
    assert(byKey.filter(t => t._1 == "b" && t._4).forall(_._3 == 7L))
    // c: lone observation emits exactly itself
    assert(byKey.filter(_._1 == "c").toSeq == Seq(("c", "2024-03-01", 1L, false)))
  }

  test("sketch: count-min never underestimates; merge of halves equals whole") {
    val li = spark.read.parquet(s"${SparkSpec.sf0001}/lineitem.parquet")
      .select($"l_partkey".as("item"))
    val cms = Sketch.countMin(li, $"item", depth = 4, width = 64)
    // d x w bound on sketch size regardless of input
    assert(cms.table.count() <= 4L * 64)
    val exact = li.groupBy("item").agg(count(lit(1)).as("exact_n"))
    val est = Sketch.cmsEstimate(cms, exact, $"item")
    val bad = est.filter($"est" < $"exact_n").count()
    assert(bad == 0, s"$bad probes underestimated — CMS guarantee broken")

    // mergeability: sketch(A) + sketch(B) == sketch(A union B)
    val (a, b) = (li.filter($"item" % 2 === 0), li.filter($"item" % 2 =!= 0))
    val merged = Sketch.countMin(a, $"item", 4, 64).merge(Sketch.countMin(b, $"item", 4, 64))
    assert(merged.table.exceptAll(cms.table).isEmpty && cms.table.exceptAll(merged.table).isEmpty,
      "merged half-sketches differ from the whole-corpus sketch")
    // geometry mismatches are unrepresentable at probe time and rejected at merge
    intercept[IllegalArgumentException] {
      Sketch.countMin(a, $"item", 4, 64).merge(Sketch.countMin(b, $"item", 4, 128))
    }
  }

  test("sessionize: built-in session_window equals the lag+cumsum batch form on real data") {
    val ev = EventsStream.readEvents(spark, s"${SparkSpec.sf0001}/events.parquet")
    val viaBatch = Sessionize.sessionizeBatch(ev, gapSeconds = 300, keyCol = "user_id")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
    val viaBuiltin = ev
      .groupBy($"user_id", session_window($"ts", "5 minutes").as("w"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"session_start", $"session_end", $"n_events")
    assert(viaBatch.exceptAll(viaBuiltin).isEmpty && viaBuiltin.exceptAll(viaBatch).isEmpty,
      "session_window sessions diverge from lag+cumsum sessions")
  }

  test("dedup: fuzzyPairs finds in-block edit-distance matches only") {
    val d = Seq(
      (1L, "blk1", "kitten"), (2L, "blk1", "sitten"),  // dist 1
      (3L, "blk1", "zzzzzzzzzzzz"),                    // > maxDist from both
      (4L, "blk2", "kitten")                           // would match 1 but other block
    ).toDF("id", "blk", "name")
    val got = Dedup.fuzzyPairs(d, "id", "name", Seq("blk"), 3)
      .select("id_a", "id_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1)))
  }

  test("textstats: redactPii scrubs emails, IPs, phones; leaves clean text alone") {
    val d = Seq(
      (1L, "Email john.doe+spam@corp.example.io, call +1 (415) 555-0199 now."),
      (2L, "server 192.168.0.1 and 10.255.3.77 replied"),
      (3L, "totally clean sentence with nothing to hide"),
      (4L, "overlap: 555-867-5309 next to bob@x.co"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = d.select($"doc_id", TextStats.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "Email <EMAIL>, call <PHONE> now.")
    assert(got(2L) == "server <IP> and <IP> replied")
    assert(got(3L) == "totally clean sentence with nothing to hide")
    assert(got(4L) == "overlap: <PHONE> next to <EMAIL>")
    assert(got(5L) == null)
  }

  test("timefill: linear interpolation hits exact anchor-to-anchor values") {
    val obs = Seq(
      ("a", "2024-01-01", 10L), ("a", "2024-01-04", 40L), ("a", "2024-01-06", 30L),
      ("c", "2024-03-01", 5L)
    ).toDF("k", "d", "n").withColumn("d", $"d".cast("date"))
    val got = TimeFill.interpolateDaily(obs, Seq("k"), "d", "n")
      .collect().map(r =>
        (r.getString(0), r.getDate(1).toString, r.getDouble(2), r.getBoolean(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      ("a", "2024-01-01", 10.0, false), ("a", "2024-01-02", 20.0, true),
      ("a", "2024-01-03", 30.0, true), ("a", "2024-01-04", 40.0, false),
      ("a", "2024-01-05", 35.0, true), ("a", "2024-01-06", 30.0, false),
      ("c", "2024-03-01", 5.0, false)))
  }

  test("dedup: containment catches a doc embedded in a larger doc that Jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 60).map(i => s"word$i").mkString(" ")
    val d = Seq((1L, small), (2L, s"$filler $small $filler"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, n = 2, threshold = 0.9).collect()
    assert(got.length == 1)
    val r = got(0)
    // every bigram of doc 1 appears in doc 2 -> containment on side 1 is 1.0
    assert(r.getAs[Double]("c1") == 1.0)
    assert(r.getAs[Double]("containment") == 1.0)
    // ... while Jaccard dilutes the same pair below any useful gate
    val j = Dedup.ngramJaccardPairs(d, n = 2, threshold = 0.0).collect()
    assert(j.length == 1 && j(0).getAs[Double]("jaccard") < 0.1)
  }

  test("dedup: prefix-filtered Jaccard equals the naive join") {
    val d = docs.filter($"doc_id" < 150)
    for (t <- Seq(0.03, 0.2)) {
      val naive = Dedup.ngramJaccardPairs(d, n = 3, threshold = t)
        .select("id1", "id2", "jaccard")
      val pref = Dedup.jaccardPairsPrefix(d, n = 3, threshold = t)
        .select("id1", "id2", "jaccard")
      assert(naive.exceptAll(pref).isEmpty && pref.exceptAll(naive).isEmpty,
        s"prefix join diverged from naive at threshold $t")
    }
  }

  test("textstats: bm25 weights rare matched terms above common ones; unmatched docs absent") {
    val d = (Seq(
      (1L, "alpha beta gamma"),          // matches the RARE term
      (2L, "common beta gamma")) ++      // matches the COMMON term, same dl/tf
      (3L to 8L).map(i => (i, "common beta filler")) // inflate df(common)
    ).toDF("doc_id", "text")
    val got = TextStats.bm25(d, terms = Seq("alpha", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(99L) && got.size == 8, s"got ${got.keySet}")
    assert(got(1L) > got(2L),
      s"rare-term doc must outscore common-term doc: ${got(1L)} vs ${got(2L)}")
    // exact closed form for doc 1: df(alpha)=1, N=8, tf=1, dl=3=avgLen
    val idf = math.log(1.0 + (8 - 1 + 0.5) / (1 + 0.5))
    val expected = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 1.0))
    assert(math.abs(got(1L) - expected) < 1e-12, s"${got(1L)} vs $expected")
  }

  test("dedup: simhash chunk join finds ALL pairs within Hamming 3 (pigeonhole recall)") {
    val d = docs.filter($"doc_id" < 200).select("doc_id", "text")
    val got = Dedup.simhashNearDupPairs(d, maxHamming = 3)
    // ground truth: brute-force cross join over the signature table
    val sig = Dedup.simhash64(d)
    val truth = sig.as("a").join(sig.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id1"), $"b.doc_id".as("id2"),
        Dedup.hamming($"a.simhash", $"b.simhash").as("hamming"))
      .filter($"hamming" <= 3)
    assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty,
      "chunk-join pair set diverged from brute force")
  }

  test("similarity: int8 quantization bounds |q| by 127 and keeps the dot within the error budget") {
    val qd = embs.limit(100)
      .select($"vec_id", Similarity.quantizeInt8($"embedding").as("qq"),
        $"embedding")
    // q in [-127, 127]; all-zero vector quantizes to zeros, not nulls
    val bad = qd.select(array_max(transform($"qq.q", c => abs(c))).as("m"))
      .filter($"m" > 127).count()
    assert(bad == 0L)
    val zero = Seq(Tuple1(Array.fill(4)(0.0f))).toDF("embedding")
      .select(Similarity.quantizeInt8($"embedding").as("qq"))
      .select($"qq.scale", array_max($"qq.q").as("mx"), array_min($"qq.q").as("mn"))
      .head()
    assert(zero.getDouble(0) == 0.0 && zero.getLong(1) == 0L && zero.getLong(2) == 0L)
    // per-element quantization error <= scale/2, so |approx - exact|
    // <= (scale_a * sum|b_i| + scale_b * sum|a_i|) / 2 (+ cross term,
    // absorbed by assertion slack x2)
    val pair = qd.limit(2).collect()
    val (qa, qb) = (pair(0), pair(1))
    def vec(r: org.apache.spark.sql.Row) =
      r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble)
    def qq(r: org.apache.spark.sql.Row) =
      r.getStruct(1).getAs[scala.collection.Seq[Long]]("q")
    def sc(r: org.apache.spark.sql.Row) = r.getStruct(1).getAs[Double]("scale")
    val exact = vec(qa).zip(vec(qb)).map { case (x, y) => x * y }.sum
    val approx = qq(qa).zip(qq(qb)).map { case (x, y) => x * y }.sum * sc(qa) * sc(qb)
    val budget = (sc(qa) * vec(qb).map(math.abs).sum +
      sc(qb) * vec(qa).map(math.abs).sum)
    assert(math.abs(approx - exact) <= budget,
      s"approx $approx vs exact $exact budget $budget")
  }

  test("similarity: pqTopK hand example — assignment argmin, ADC sums, id tiebreak") {
    // 2-dim vectors, 2 subspaces of 1 dim; codebook = rows 0,1.
    // Global scale = 1/127 so q = round(127·v). Codes: axis-0 vs axis-1.
    val d = Seq(
      (0L, Array(1.0f, 0.0f)),  // codebook code 0 = (127 | 0)
      (1L, Array(0.0f, 1.0f)),  // codebook code 1 = (0 | 127)
      (2L, Array(1.0f, 1.0f)),  // assigns (code0, code1)
      (3L, Array(-1.0f, 0.0f))  // j0: closer to code1 (16129 < 64516); j1: code0
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(d, d.filter($"vec_id" === 0),
        d.filter($"vec_id" < 2), k = 3, subspaces = 2)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    // query 0 LUT: j0 -> (code0: 127·127 = 16129, code1: 0); j1 -> (0, 0).
    // Scores: id2 = 16129, id1 = 0, id3 = 0 — zero tie breaks on id.
    assert(got.toSeq === Seq((1, 2L, 16129L), (2, 1L, 0L), (3, 3L, 0L)))
  }

  test("similarity: hardNegatives never returns a same-label neighbor and ranks by cosine") {
    val q = embs.filter($"vec_id" < 4)
    val got = Similarity.hardNegatives(embs, q, k = 3)
    val labeled = got.join(
      q.select($"vec_id".as("query_id"), $"label".as("q_label")), "query_id")
    assert(labeled.filter($"n_label" === $"q_label").count() == 0L)
    // ranks are 1..k and cosine non-increasing within a query
    val rows = got.orderBy("query_id", "rank")
      .select("query_id", "rank", "cosine").as[(Long, Int, Double)].collect()
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).toSeq == (1 to g.length))
      assert(g.sortBy(_._2).sliding(2).forall(p => p.length < 2 || p(0)._3 >= p(1)._3))
    }
  }

  test("semanticDedup: near-dups drop within a cluster (smaller id keeps), " +
    "cross-cluster near-vectors both survive") {
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)),   // cluster 0
      (11L, Array(0.99f, 0.01f)), // cluster 0, ~dup of 10 → dropped
      (12L, Array(0.0f, 1.0f)),   // cluster 1
      (13L, Array(-1.0f, 0.1f))   // cluster 0's antipode — far from all
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(vecs, cents, threshold = 0.95)
      .orderBy("vec_id")
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toSeq
    assert(got == Seq((10L, true), (11L, false), (12L, true), (13L, true)))
  }

  test("classifier: hashed linear scores are in (0,1), tokenless docs score 0.5, " +
    "n_feats equals token count") {
    val d = Seq((1L, "alpha beta gamma alpha"), (2L, ""), (3L, "delta")).toDF("doc_id", "text")
    val model = TextStats.hashedModel(spark, 64)
    val got = TextStats.classifierScore(d, model, dim = 64)
      .orderBy("doc_id")
      .select("doc_id", "n_feats", "score").as[(Long, Long, Double)].collect()
    assert(got.map(_._2).toSeq == Seq(4L, 0L, 1L), "n_feats must equal token count")
    assert(got.forall { case (_, _, s) => s > 0.0 && s < 1.0 })
    assert(got(1)._3 == 0.5, "no features → sigmoid(0)")
    // deterministic: same doc twice scores identically
    val again = TextStats.classifierScore(d, model, dim = 64)
      .orderBy("doc_id").select("score").as[Double].collect()
    assert(again.toSeq == got.map(_._3).toSeq)
  }

  test("classifier: model weights are deterministic, bounded, and bucket-keyed 0..dim-1") {
    val m = TextStats.hashedModel(spark, 128).orderBy("bucket")
      .as[(Long, Double)].collect()
    assert(m.map(_._1).toSeq == (0L until 128L))
    assert(m.forall { case (_, w) => w >= -1.0 && w <= 1.0 })
  }

  test("stream upsert snapshot: equals batch latest-by-key; replay rewrites identically") {
    val path = s"${SparkSpec.sf0001}/events.parquet"
    val snap = java.nio.file.Files.createTempDirectory("snapspec").toString
    def run(): Unit = EventsStream.maintainSnapshot(
      EventsStream.readEventsStream(spark, path)
        .select("user_id", "event_id", "event_type", "ts", "value"),
      Seq("user_id"), Seq("ts", "event_id"), snap,
      java.nio.file.Files.createTempDirectory("snapspec_ckpt").toString)
    run()
    val want = ScaleOps.latestByKey(
        EventsStream.readEvents(spark, path)
          .select("user_id", "event_id", "event_type", "ts", "value"),
        Seq("user_id"), Seq("ts", "event_id"))
      .orderBy("user_id").collect()
    def got() = EventsStream.readSnapshot(spark, snap)
      .orderBy("user_id").select("user_id", "event_id", "event_type", "ts", "value")
      .collect()
    assert(got().toSeq === want.toSeq)
    // replay: a fresh checkpoint re-runs batch 0 against the same
    // snapDir — the `< batchId` generation filter ignores the stale
    // gen=0, and the deterministic merge rewrites it byte-identically
    run()
    assert(got().toSeq === want.toSeq)
  }

  test("linkage pattern histogram == enumerated pair-join histogram") {
    import org.apache.spark.sql.functions._
    val c = spark.read.parquet(s"${SparkSpec.sf0001}/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        expr("right(c_name, 1)").as("sfx"),
        floor(col("c_acctbal") / 1000).as("balk"))
    val weights = Map("sfx" -> (0.9, 0.1), "balk" -> (0.3, 0.05))
    val fast = Dedup.linkagePatternHistogram(c,
        Seq("c_nationkey", "c_mktsegment"), Seq("balk", "sfx"),
        weights, threshold = 1.0)
      .orderBy("score").collect().toSeq
    // reference: enumerate every within-block pair and score it
    val a = c.select(col("c_nationkey"), col("c_mktsegment"),
      col("c_custkey").as("id_a"), col("sfx").as("a_sfx"), col("balk").as("a_balk"))
    val b = c.select(col("c_nationkey"), col("c_mktsegment"),
      col("c_custkey").as("id_b"), col("sfx").as("b_sfx"), col("balk").as("b_balk"))
    val slow = Dedup.linkageScore(
        a.join(b, Seq("c_nationkey", "c_mktsegment"))
          .filter(col("id_a") < col("id_b")),
        weights, threshold = 1.0)
      .groupBy("score", "is_link").agg(count(lit(1)).as("n_pairs"))
      .select("score", "is_link", "n_pairs")
      .orderBy("score").collect().toSeq
    assert(fast === slow, s"pattern combinatorics diverged:\n$fast\n$slow")
  }

  test("linkage pattern histogram: NULL semantics match the enumerated form") {
    import org.apache.spark.sql.functions._
    // null field values must never AGREE (=== is null-false in the pair
    // join); a null block key must drop the row (equi-join semantics);
    // and field order in the call must not change the folded score
    val rows = Seq(
      (1L, "b1", "x", 10L), (2L, "b1", "x", 10L),        // full agree
      (3L, "b1", null, 10L), (4L, "b1", null, 10L),      // null sfx: balk-only
      (5L, "b1", "y", 99L),
      (6L, null, "x", 10L), (7L, null, "x", 10L))        // null block: dropped
    val c = spark.createDataFrame(rows)
      .toDF("id", "blk", "sfx", "balk")
    val weights = Map("sfx" -> (0.9, 0.1), "balk" -> (0.3, 0.05))
    // deliberately UNSORTED field list: the score fold must sort by name
    val fast = Dedup.linkagePatternHistogram(c, Seq("blk"), Seq("sfx", "balk"),
        weights, threshold = 1.0)
      .orderBy("score").collect().toSeq
    val a = c.select(col("blk"), col("id").as("id_a"),
      col("sfx").as("a_sfx"), col("balk").as("a_balk"))
    val b = c.select(col("blk"), col("id").as("id_b"),
      col("sfx").as("b_sfx"), col("balk").as("b_balk"))
    val slow = Dedup.linkageScore(
        a.join(b, Seq("blk")).filter(col("id_a") < col("id_b")),
        weights, threshold = 1.0)
      .groupBy("score", "is_link").agg(count(lit(1)).as("n_pairs"))
      .select("score", "is_link", "n_pairs")
      .orderBy("score").collect().toSeq
    assert(fast === slow, s"null semantics diverged:\n$fast\n$slow")
  }
}
