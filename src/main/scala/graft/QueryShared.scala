package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.qcew.{NaicsAgg, Resample, Series}
import graft.ext.{Affinity, AsofJoin, Bloom, Corpus, Dedup, EventsStream, Forecast, Graph, Inference, Multimodal, Privacy, Quantiles, ScaleOps, Sessionize, Similarity, Sketch, Spatial, StatefulOps, TextStats, TimeFill}

/** Helpers shared by every query-registry shard and by the
  * oracle-SQL builders: table readers, synthetic frames, SQL CTE
  * snippet builders, and the LSH plane constants. Split out of
  * SparkEntry in round 9; bodies are verbatim.
  */
private[graft] object QueryShared {

  /** Registry table `name` under `dir`: one parquet file, read with the
    * schema from its footer ([[ColumnBridge.parquetFile]]), so opening
    * a table starts no Spark job. A table that is not one file fails.
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    ColumnBridge.parquetFile(s, s"$dir/$name.parquet")

  /** One-time-per-(JVM, dir) setup for q_dsv2_scan's fixed-width
    * fixture: verifies the on-disk extract still matches the live
    * lineitem table by (row count, Σ l_orderkey) and (re)exports it if
    * stale, then memoizes so warm bench runs time ONLY the source read.
    * computeIfAbsent gives per-key once-semantics under Bench's
    * single-threaded loop and Verify's sequential run alike; the value
    * is the fixture path. Thread-safe: concurrent first calls for the
    * same dir would serialize on the map entry.
    */
  val dsv2FixtureReady =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def ensureDsv2Fixture(s: SparkSession, dir: String): String = {
    val dirKey = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fwDir = s"${System.getProperty("java.io.tmpdir")}/graft_dsv2_$dirKey"
    dsv2FixtureReady.computeIfAbsent(fwDir, _ => {
      val liveSig = t(s, dir, "lineitem")
        .agg(count(lit(1)), sum(col("l_orderkey"))).head()
      val fresh =
        java.nio.file.Files.exists(java.nio.file.Paths.get(fwDir, "_SUCCESS")) && {
          val fix = s.read.text(fwDir)
            .select(expr("try_cast(trim(substring(value, 1, 12)) AS BIGINT)").as("okey"))
            .agg(count(lit(1)), sum(col("okey"))).head()
          fix.getLong(0) == liveSig.getLong(0) && !fix.isNullAt(1) &&
            fix.getLong(1) == liveSig.getLong(1)
        }
      if (!fresh)
        t(s, dir, "lineitem")
          .select(concat(
            rpad(col("l_orderkey").cast("string"), 12, " "),
            rpad(col("l_partkey").cast("string"), 12, " "),
            rpad(floor(col("l_quantity")).cast("string"), 8, " "),
            rpad(col("l_returnflag"), 4, " "),
            rpad(date_format(col("l_shipdate"), "yyyy-MM-dd"), 12, " ")).as("value"))
          .coalesce(2)
          .write.mode("overwrite").text(fwDir)
      fwDir
    })
  }

  // ---- SQL-snippet builders shared with the oracles ------------------

  /** DuckDB tokenization matching [[TextStats.tokens]]: lowercased
    * whitespace split, empties dropped. Queries that consume it alias
    * the result `l` and count votes by list membership — the same
    * tokenize-once shape as the Spark side.
    */
  val sqlTokens =
    """list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"""

  /** Membership-count votes over the token list `l`, DuckDB form of
    * [[TextStats.langVotes]].
    */
  def sqlVotesOver(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString(", ")
    s"COALESCE(len(list_filter(l, t -> list_contains([$lst], t))), 0)"
  }

  def sqlLangVotes(lang: String): String =
    sqlVotesOver(TextStats.stopwords(lang))

  /** DuckDB mirror of [[TextStats.zhVotes]]/[[TextStats.zhVotesText]]:
    * CJK ideograph count over the token list aliased `l` — same
    * code-point range (U+4E00..U+9FFF) as `TextStats.ZhClass`, RE2
    * hex-escape spelling. The Spark side counts by LENGTH DIFFERENCE
    * (round-13 perf fix — no match-array materialization); this
    * extract-and-count form is value-identical (both are the number of
    * CJK code points, an exact integer — no float order to mirror) and
    * the oracle's cost is irrelevant.
    */
  val sqlZhVotes =
    """len(regexp_extract_all(array_to_string(l, ' '), '[\x{4E00}-\x{9FFF}]'))"""

  /** The five vote columns (en/es/fr/de from stopword membership, zh
    * from the CJK char class) over the token list `l` — one shared
    * snippet so every oracle votes identically.
    */
  val sqlLangVoteCols: String =
    Seq("en", "es", "fr", "de").map(lg => s"(${sqlLangVotes(lg)}) AS $lg")
      .mkString(", ") + s", ($sqlZhVotes) AS zh"

  /** DuckDB mirror of [[TextStats.langIdFromTokens]]'s argmax with the
    * en > es > fr > de > zh tie-break (an earlier language keeps the
    * argmax unless a later one is STRICTLY greater), over vote columns
    * named en/es/fr/de/zh.
    */
  val sqlLangCase =
    """CASE WHEN greatest(en, es, fr, de, zh) <= 0 THEN 'und'
      |            WHEN zh > greatest(en, es, fr, de) THEN 'zh'
      |            WHEN de > greatest(en, es, fr) THEN 'de'
      |            WHEN fr > greatest(en, es) THEN 'fr'
      |            WHEN es > en THEN 'es' ELSE 'en' END""".stripMargin

  /** Literal polyglot micro-corpus for q_langid_poly (round-13 verdict
    * item 3): the shipped documents table is the same latin vocabulary
    * under EVERY lang label (zero CJK), so no data-derived query can
    * ever show a de/zh diagonal — these plan-literal sentences,
    * identical in the Spark query and the DuckDB oracle, carry the
    * oracle-gated diagonal proof for all five languages plus the
    * zh-embedded-in-latin case from ExtSpec. Vote margins are designed
    * to clear every stopword-list overlap (la ∈ es∩fr, etc.) under the
    * strict en > es > fr > de > zh tie-break.
    */
  val polyglotCorpus: Seq[(Int, String, String)] = Seq(
    (1, "en", "the cat sat on the mat and the dog is in the yard with that stick of wood to chew"),
    (2, "en", "this is the end of the story and that is all there is to say in the book"),
    (3, "es", "el perro y la gata de la casa que los vecinos en una calle con luz"),
    (4, "es", "la vida de los campos en una manana con el sol y con la luna que brilla"),
    (5, "fr", "le chien et la ville les amis des montagnes dans une maison pour le soir est la"),
    (6, "fr", "les fleurs des champs dans le jardin pour une saison est la vie des gens"),
    (7, "de", "der hund und die katze das ist nicht mit ein haus und der baum im garten"),
    (8, "de", "die kinder und der garten das wetter ist nicht gut mit ein buch und der tee"),
    (9, "zh", "我们的数据处理系统每天分析大量文本数据"),
    (10, "zh", "这个查询引擎在大规模集群上运行得很快"),
    (11, "zh", "mixed latin 前缀 with embedded 中文字符 inside the frame"))

  /** The polyglot corpus as a DuckDB VALUES body — same tuples
    * verbatim (single quotes doubled).
    */
  def sqlPolyglotValues: String =
    polyglotCorpus.map { case (i, lg, tx) =>
      s"($i, '$lg', '${tx.replace("'", "''")}')"
    }.mkString(", ")

  /** Blocklist for q_blocklist_filter: token-normalized phrases over
    * the corpus vocabulary (two- and three-token sequences). Shared
    * verbatim by the Spark query and the DuckDB oracle's VALUES list.
    */
  val blockPhrases = Seq(
    "fast table", "spark data", "window merge", "slow scan",
    "big vector", "key agg", "customer line", "stream batch fast")

  /** Closed date-interval predicates for q_zonemap_prune: a mix of
    * month-aligned ranges (skip whole monthly files), one misaligned
    * range (straddling files must scan), and one fully-out-of-range
    * probe. Shared by the Spark query (as epoch days) and the oracle
    * (as DATE literals).
    */
  val zonePreds = Seq(
    ("1996q1", "1996-01-01", "1996-03-31"),
    ("1998h2", "1998-07-01", "1998-12-31"),
    ("2001", "2001-01-01", "2001-12-31"),
    ("mid1999", "1999-06-15", "1999-08-15"),
    ("pre1995", "1990-01-01", "1994-12-31"))

  /** Local-parallelism shim: the testdata parquet files are single
    * row-groups, so Spark reads each table as ONE input partition and
    * every narrow expression-heavy stage would run on 1 of 32 cores
    * until the first shuffle. On a real cluster input splits provide
    * this fan-out for free; locally an explicit repartition makes the
    * bench reflect the machine. Only applied where downstream
    * aggregates are order-insensitive-exact (ints, min/max, counts).
    * GUARDED: when the input already arrives split to ≥ parallelism
    * (a real cluster's input splits, or an upstream shuffle), this is
    * the identity — no Exchange is added, so the shim costs nothing
    * exactly where it isn't needed.
    */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }

  /** [[spread]] keyed on upcoming join/aggregation columns: hash-
    * partitions instead of round-robin, so the fan-out exchange IS the
    * distribution the downstream equi-join needs and Catalyst inserts
    * no second exchange per leg. Measured on the co-purchase pair
    * derivation (round-11 profile, min-of-3 at sf0.1/local[32]): RR
    * spread 1.76 s vs keyed 1.16 s — the RR exchange was pure overhead
    * ahead of the join's own hash exchange. Same identity guard as
    * [[spread]]; on a real cluster the join's exchange happens either
    * way, so porting this costs nothing (SCALING.md, spread rows).
    */
  def spreadBy(df: DataFrame, keys: Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par, keys: _*)
  }

  /** Synthetic uniform 2-D points for the spatial queries: two
    * independent 32-bit halves of md5(event_id), mod 10⁴ — nonlinear
    * in the id (a multiplicative hash would lattice both coords), and
    * reproducible in DuckDB by the same md5-hex-slice arithmetic.
    * The md5+conv derivation is the CPU-dense stage of every spatial
    * query, so the 8-byte id column is [[spread]] BEFORE hashing — the
    * sf1 parallelism probe showed q_spatial_nn flat (1.01× from 8→32
    * cores) because this stage inherited the single input split.
    */
  def eventPoints(s: SparkSession, dir: String): DataFrame =
    spread(EventsStream.readEvents(s, s"$dir/events.parquet")
        .select(col("event_id")))
      .select(col("event_id"),
        (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % lit(10000L)).as("x"),
        (conv(substring(md5(col("event_id").cast("string")), 9, 8), 16, 10)
          .cast("long") % lit(10000L)).as("y"))

  /** Part co-purchase graph: symmetric edges between parts appearing in
    * the same order at least `minCount` times. The pair explode is the
    * q_assoc_rules shape — a self-equi-join on the order key, fan-out
    * bounded by basket size (~4–7 lines/order), never all-pairs — and
    * the multiplicity HAVING runs map-side-combined on the pair key.
    * Shared spine of the graph-algorithm queries (BFS, k-core).
    */
  def coPurchasePairs(s: SparkSession, dir: String, minCount: Long): DataFrame =
    coPurchasePairsWithCount(s, dir, minCount).select("id1", "id2")

  def coPurchaseEdges(s: SparkSession, dir: String, minCount: Long): DataFrame =
    Graph.symmetrize(coPurchasePairs(s, dir, minCount))

  /** [[coPurchasePairs]] keeping an affinity-derived integer edge COST:
    * w = 11 − min(m, 10) ∈ [1, 10] — frequently co-purchased parts are
    * "close". Long weights so [[Graph.sssp]] distances stay exact.
    * Derived from the unweighted pair graph by KEEPING its multiplicity
    * column (via [[coPurchasePairsWithCount]]) so there is exactly one
    * definition of the pair graph to drift (round-8 advice).
    */
  def coPurchaseWeightedPairs(s: SparkSession, dir: String,
      minCount: Long): DataFrame =
    coPurchasePairsWithCount(s, dir, minCount)
      .select(col("id1"), col("id2"),
        (lit(11L) - least(col("m"), lit(10L))).as("w"))

  /** The single self-join/groupBy/HAVING pair-graph definition both
    * variants share: (id1, id2, m) with m = co-purchase multiplicity.
    */
  def coPurchasePairsWithCount(s: SparkSession, dir: String,
      minCount: Long): DataFrame = {
    // keyed spread (round-11): the fan-out exchange doubles as the
    // join's ok-hash distribution — one exchange per leg instead of
    // RR + hash, 1.76 s -> 1.16 s on the shared spine every graph
    // query pays (spreadBy scaladoc holds the measurement)
    val li = spreadBy(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
      col("ok"))
    li.as("a").join(li.as("b"), col("a.ok") === col("b.ok") &&
        col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("id1"), col("b.pk").as("id2"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") >= minCount)
  }

  /** DuckDB mirror of [[coPurchaseEdges]]: CTEs `p` (ordered pairs) and
    * `e` (symmetrized), shared by the graph-algorithm oracles.
    */
  def sqlCoPurchaseCtes(minCount: Int): String =
    s"""p AS (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $minCount),
       |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p)""".stripMargin

  /** DuckDB mirror of [[Graph.linkPredictionParams]]: the measured
    * cap/floor derivation over a `deg` CTE (src, deg per node of the
    * symmetrized edge list). sum(deg) is the edge-row count and
    * count(*) the node count, so `cap = greatest(8, 20·⌊rows/nodes⌋)`
    * and `mc = greatest(1, ⌊rows/nodes⌋ // 2)` replay the Spark-side
    * integer arithmetic exactly. Shared by the link-prediction trio.
    */
  val sqlLinkPredParams: String =
    """prm AS (
      |  SELECT greatest(8, 20 * (CAST(sum(deg) AS BIGINT) // count(*))) AS cap,
      |         greatest(1, (CAST(sum(deg) AS BIGINT) // count(*)) // 2) AS mc
      |  FROM deg)""".stripMargin

  /** DuckDB mirror of [[eventPoints]] + cell assignment + the ×9
    * neighbor-cell probe explode, shared by the spatial oracles.
    */
  val sqlGridCtes =
    """c AS (
      |  SELECT event_id,
      |         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS x,
      |         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 9, 8)) AS BIGINT) % 10000 AS y
      |  FROM events),
      |g AS (SELECT event_id, x, y, x // 8 AS cx, y // 8 AS cy FROM c),
      |o AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
      |                            (0,1),(1,-1),(1,0),(1,1)) AS t(dx, dy)),
      |pr AS (
      |  SELECT a.event_id AS id_a, a.x AS ax, a.y AS ay,
      |         a.cx + dx AS ncx, a.cy + dy AS ncy
      |  FROM g a CROSS JOIN o)""".stripMargin

  /** DuckDB mirror of [[Dedup.simhash16]]'s per-bit expression. */
  def sqlSimhashBit(b: Int): String =
    s"(((instr('0123456789abcdef', substring(h, ${b / 4 + 1}, 1)) - 1) >> ${3 - b % 4}) % 2 * 2 - 1)"

  /** The fixed seeded hyperplanes shared by every ANN query (and
    * inlined, literal-for-literal, into the DuckDB oracles below).
    */
  val annPlanes = Similarity.defaultPlanes(dim = 64, nPlanes = 4)

  /** DuckDB mirror of [[Similarity.planeDot]]: the same explicit
    * left-associated sum over the same double literals. Java's
    * Double.toString round-trips, so the SQL parser reconstructs
    * bit-identical plane coefficients and the IEEE arithmetic — hence
    * the sign decision — matches Spark exactly.
    */
  def sqlPlaneDot(plane: Seq[Double], vecExpr: String): String =
    plane.zipWithIndex
      .map { case (p, j) => s"CAST($vecExpr[${j + 1}] AS DOUBLE) * $p" }
      .mkString(" + ")

  /** Shared CTE chain: gap-based sessions of `events` at a 300 s gap
    * (DuckDB mirror of [[Sessionize.sessionizeBatch]]), keyed by the
    * HIGH-CARDINALITY `user_id` — the key a real deployment uses, so
    * the per-key window sort spreads across reducers instead of
    * funneling all events through a handful of event_type partitions.
    * Ends in `sess` = (user_id, sess_id, session_start, session_end,
    * n_events). Tie rows (equal ts) are order-insensitive: their gap
    * is 0, so session membership and min/max/count agree whatever the
    * within-tie order.
    */
  val sqlSessionCtes =
    """e AS (
      |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts,
      |         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 300 THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |s AS (
      |  SELECT user_id, ts,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM m),
      |sess AS (
      |  SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
      |         min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events
      |  FROM s GROUP BY user_id, sess_id)""".stripMargin

  /** DuckDB mirror of [[Similarity.hyperplaneBucket]] over [[annPlanes]]. */
  def sqlHyperplaneBucket(vecExpr: String): String =
    annPlanes.zipWithIndex
      .map { case (pl, i) =>
        s"(CASE WHEN ${sqlPlaneDot(pl, vecExpr)} >= 0 THEN ${1 << i} ELSE 0 END)" }
      .mkString(" + ")

  /** Candidate planes for the AUTO-sized ANN oracles: a 12-plane
    * prefix-consistent superset of [[annPlanes]] (defaultPlanes draws
    * sequentially from one seeded stream, so plane i is identical for
    * every requested count — the first `planesForCount(n)` of these ARE
    * the planes `planesForCorpus` derives at runtime). 12 planes covers
    * corpora to 64·2¹² ≈ 262k vectors at targetBucketSize 64 — far past
    * every driver sf; a bigger corpus would need this literal raised.
    */
  val autoPlanes = Similarity.defaultPlanes(dim = 64, nPlanes = 12)

  /** DuckDB mirror of the auto-sized hyperplane bucket: every candidate
    * plane gated by the MEASURED plane count `nps.np` (CTE from
    * [[sqlAutoPlaneCountCte]]), so the SQL adapts to the corpus size
    * exactly like [[Similarity.planesForCorpus]].
    */
  def sqlHyperplaneBucketAuto(vecExpr: String): String =
    autoPlanes.zipWithIndex
      .map { case (pl, i) =>
        s"(CASE WHEN nps.np >= ${i + 1} AND ${sqlPlaneDot(pl, vecExpr)} >= 0" +
          s" THEN ${1 << i} ELSE 0 END)" }
      .mkString(" + ")

  /** CTE `nps`: [[Similarity.planesForCount]] (n, targetBucketSize=64)
    * re-expressed as INTEGER thresholds — np = k ⇔ n ∈ (64·2ᵏ⁻¹, 64·2ᵏ],
    * clamped to [1, 12] — so no log/ceil float boundary can ever
    * disagree between engines (exact powers of two are the only inputs
    * where a libm log2 could straddle the ceil; integer comparison has
    * no such edge).
    */
  val sqlAutoPlaneCountCte: String = {
    val cases = (1 to 11)
      .map(k => s"WHEN count(*) <= ${64L * (1L << k)} THEN $k")
      .mkString("\n      |  ")
    s"""nps AS (SELECT CASE
      |  $cases
      |  ELSE 12 END AS np FROM embeddings)""".stripMargin
  }

  /** Shared CTE: tokens / 3-gram shingles / 4-perm minhash signatures of
    * `documents` (DuckDB mirror of [[Dedup.minhashSignatures]]).
    */
  val sqlMinhashCtes =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest([array_to_string(l[i:i+2], ' ') for i in range(1, len(l) - 1)]) AS shingle
      |  FROM toks),
      |hs AS (SELECT doc_id, md5(shingle) AS h FROM sh),
      |sig AS (
      |  SELECT doc_id,
      |         min(substring(h, 1, 8)) AS mh0, min(substring(h, 9, 8)) AS mh1,
      |         min(substring(h, 17, 8)) AS mh2, min(substring(h, 25, 8)) AS mh3
      |  FROM hs GROUP BY doc_id)""".stripMargin

  // --------------------------------------------------------------------

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  val eventsHourlySql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |       event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // shared by the batch twin and the real stream-stream join run
  val funnelSql =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       round(epoch(p.ts) - epoch(c.ts), 6) AS secs_to_convert
      |FROM events c JOIN events p ON c.user_id = p.user_id
      |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND epoch(p.ts) - epoch(c.ts) BETWEEN 0 AND 600
      |ORDER BY click_id, purchase_id""".stripMargin

  val punct = "[!-/:-@\\[-`{-~]"
  val allStopwords = TextStats.stopwords.values.flatten.toSeq.distinct

  // BM25 term-weight CTEs shared by the lexical ranker and the
  // hybrid RRF fusion (terms: spark, table, fast; k1=1.2, b=0.75)
  val sqlBm25Cte =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($sqlTokens) AS term FROM documents),
       |lens AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |corpus AS (
       |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM lens),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks
       |  WHERE term IN ('spark', 'table', 'fast') GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |w AS (
       |  SELECT tf.doc_id,
       |         ln(CAST(1.0 AS DOUBLE) + (n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
       |           * (tf * CAST(2.2 AS DOUBLE))
       |           / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
       |              + CAST(0.75 AS DOUBLE) * (dl / (CAST(total_len AS DOUBLE) / n_docs)))) AS weight
       |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), corpus)""".stripMargin

  // shared by the declarative chunker and the native Generator form
  val docChunksSql =
    s"""WITH toks AS (
       |  SELECT doc_id, $sqlTokens AS l FROM documents),
       |ch AS (
       |  SELECT doc_id,
       |         unnest([{'s': i, 'c': array_to_string(l[i:i+31], ' '),
       |                  'n': len(l[i:i+31])} for i in range(1, len(l)+1, 24)]) AS u
       |  FROM toks WHERE len(l) > 0)
       |SELECT doc_id, CAST((u.s - 1) / 24 AS BIGINT) AS chunk_ix,
       |       CAST(u.s AS BIGINT) AS start_token,
       |       CAST(u.n AS BIGINT) AS n_chunk_tokens, u.c AS chunk_text
       |FROM ch ORDER BY doc_id, chunk_ix""".stripMargin

  // shared by the naive inverted-index Jaccard and its prefix-
  // filtered twin (identical output by the prefix lemma)
  val jaccardPairsSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS l
      |  FROM documents WHERE doc_id < 100),
      |sh AS (
      |  SELECT DISTINCT id, shingle FROM (
      |    SELECT doc_id AS id, unnest([array_to_string(l[i:i+2], ' ') for i in range(1, len(l) - 1)]) AS shingle
      |    FROM toks)),
      |sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id1, b.id AS id2, count(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)
      |SELECT id1, id2,
      |       round(CAST(n_inter AS DOUBLE) / (s1.n_sh + s2.n_sh - n_inter), 6) AS jaccard
      |FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2
      |WHERE CAST(n_inter AS DOUBLE) / (s1.n_sh + s2.n_sh - n_inter) >= 0.03
      |ORDER BY id1, id2""".stripMargin

  // quality features + score, shared by q_text_quality and the
  // composite q_corpus_pipeline (DuckDB mirror of TextStats.withQuality
  // — tokenize once into `l`, count stopword hits by list membership)
  val sqlQualityFeatureCte =
    s"""qtok AS (
       |  SELECT doc_id, text, $sqlTokens AS l FROM documents),
       |f AS (
       |  SELECT doc_id, text,
       |         CAST(length(text) AS INTEGER) AS n_chars,
       |         CAST(len(l) AS INTEGER) AS n_tok,
       |         CAST(len(regexp_extract_all(text, '$punct')) AS INTEGER) AS n_punct,
       |         (${sqlVotesOver(allStopwords)}) AS stop_hits
       |  FROM qtok)""".stripMargin
  val sqlQualityScore =
    """round(CAST(CASE WHEN n_tok >= 5 THEN 0.4 ELSE 0.0 END
      |           + CASE WHEN (CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_chars END) <= 0.2 THEN 0.3 ELSE 0.0 END
      |           + CASE WHEN (CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok END) BETWEEN 2.0 AND 12.0 THEN 0.3 ELSE 0.0 END
      |         AS DOUBLE), 2)""".stripMargin

}
