package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Driver-contract invariants that need no SparkSession. A query
  * without an oracle silently downgrades to a rows-only check in the
  * driver's correctness gate — this spec turns that drift into a test
  * failure at build time.
  */
class ContractSpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty, s"queries missing oracles: ${q.diff(o).toSeq.sorted}")
    assert(o.diff(q).isEmpty, s"orphan oracles: ${o.diff(q).toSeq.sorted}")
  }

  test("query names follow the q_ convention and are non-empty SQL") {
    assert(SparkEntry.queries.keys.forall(_.startsWith("q_")))
    assert(SparkEntry.oracleSql.values.forall(_.trim.toUpperCase.contains("SELECT")))
  }

  test("oracle SQL ends in a total ORDER BY (determinism discipline)") {
    // every oracle must impose an output order — the driver compare
    // hashes rows in sequence
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.toUpperCase.contains("ORDER BY"), s"$name oracle has no ORDER BY")
    }
  }

  test("registry shards: disjoint names, census equals the aggregated maps") {
    // the round-9 split of the 11k-line SparkEntry into per-domain
    // shards must never silently drop or shadow an entry: a duplicate
    // name across shards would vanish inside toMap
    val shards = Seq(
      "core" -> QueriesCore.queries, "lake" -> QueriesLake.queries,
      "stream" -> QueriesStream.queries, "text" -> QueriesText.queries,
      "sim" -> QueriesSim.queries, "graph" -> QueriesGraph.queries,
      "stats" -> QueriesStats.queries, "ts" -> QueriesTs.queries)
    shards.foreach { case (n, qs) => assert(qs.nonEmpty, s"empty shard $n") }
    val names = shards.flatMap(_._2.map(_._1))
    assert(names.distinct.size == names.size,
      "duplicate query across shards: " +
        names.diff(names.distinct).distinct.mkString(", "))
    assert(names.toSet == SparkEntry.queries.keySet)
    // ratchet: equals the declared surface — bump in the SAME commit
    // that adds a query, so a shard-merge error can never silently
    // drop entries (round-9 verdict item 5)
    assert(names.size >= 358, s"query census shrank to ${names.size}")
    val oracleNames = Seq(QueriesCore.oracles, QueriesLake.oracles,
      QueriesStream.oracles, QueriesText.oracles, QueriesSim.oracles,
      QueriesGraph.oracles, QueriesStats.oracles, QueriesTs.oracles)
      .flatMap(_.map(_._1))
    assert(oracleNames.distinct.size == oracleNames.size)
    assert(oracleNames.toSet == SparkEntry.oracleSql.keySet)
  }

  test("oracle LSH bucket-cap literal matches lshCandidatePairs' admission formula") {
    // the five LSH oracles hardcode `BETWEEN 2 AND <cap>`; the Spark
    // side computes the cap as lshAdmissionCap(maxBucketSize,
    // maxPairsPerBucket). Pin the literal to the formula so a default
    // change on either side fails here instead of at the driver gate.
    val cap = graft.ext.Dedup.lshAdmissionCap(1000, 50000L)
    assert(cap == 316L, s"admission formula moved: $cap")
    val users = Seq("q_lsh_pairs", "q_dedup_clusters", "q_dedup_keep_best",
      "q_dedup_ensemble", "q_minhash_eval")
    val withCap = SparkEntry.oracleSql.filter(_._2.contains(s"BETWEEN 2 AND $cap")).keySet
    users.foreach { q =>
      assert(withCap.contains(q),
        s"$q oracle bucket cap does not match lshAdmissionCap = $cap")
    }
    assert(SparkEntry.oracleSql.forall { case (n, s) =>
      !s.contains("BETWEEN 2 AND 1000") },
      "stale 1000-doc bucket cap survives in an oracle")
  }

  test("ext storage lifetimes go through Materialize alone") {
    // every snapshot, persist and release in ext/ belongs to
    // ext.Materialize; a hand-rolled one elsewhere escapes its rules
    val dir = java.nio.file.Paths.get("src/main/scala/graft/ext")
    val files = dir.toFile.listFiles().filter(_.getName.endsWith(".scala"))
      .filter(_.getName != "Materialize.scala")
    assert(files.length >= 20, s"ext sources not found under $dir")
    val banned = Seq("localCheckpoint", "(?<!Materialize)\\.persist\\(",
      "\\.cache\\(\\)", "\\.unpersist\\(", "StorageLevel",
      "QueryExecutionListener").map(_.r)
    val comment = "^\\s*(//|\\*|/\\*)".r
    val hits = for {
      f <- files.toSeq.sortBy(_.getName)
      (line, i) <- java.nio.file.Files.readString(f.toPath).split("\n").zipWithIndex
      if comment.findFirstIn(line).isEmpty
      b <- banned if b.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("storage outside Materialize:\n", "\n", ""))
  }

  test("single parquet files open through the footer reader alone") {
    // a plain `.read.parquet(` infers the schema with a Spark job; tables
    // and the events file take it from their footer
    // (ColumnBridge.parquetFile / parquetSchema). Only directories of
    // many files may infer (line -> what it reads)
    val multiFile = Map(
      "s.read.parquet(s\"$snapDir/gen=$g\")" -> "maintainSnapshot's previous generation",
      "spark.read.parquet(s\"$snapDir/gen=$latest\")" -> "readSnapshot's newest generation",
      "spark.read.parquet(stateDir)" -> "readRollup's per-batch partials")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = root.resolve("QueryShared.scala") +: Seq("registry", "ext").flatMap(d =>
      root.resolve(d).toFile.listFiles().filter(_.getName.endsWith(".scala")).map(_.toPath))
    assert(files.size >= 30, s"sources not found under $root")
    val comment = "^\\s*(//|\\*|/\\*)".r
    val reads = for {
      f <- files.sortBy(_.toString)
      (line, i) <- java.nio.file.Files.readString(f).split("\n").zipWithIndex
      if comment.findFirstIn(line).isEmpty && line.contains(".read.parquet(")
    } yield (s"${f.getFileName}:${i + 1}", line.trim)
    val hits = reads.filterNot { case (_, line) => multiFile.keys.exists(line.contains) }
    assert(hits.isEmpty, hits.map { case (at, l) => s"$at: $l" }
      .mkString("parquet read outside the footer reader:\n", "\n", ""))
    // a stale entry would let a new single-file read in under its text
    multiFile.keys.foreach(k => assert(reads.exists(_._2.contains(k)), s"no longer read: $k"))
  }

  test("every public ext def is reached from src/main or is a kept reference") {
    // a def nothing in src/main names is library surface no query,
    // pipeline or main runs; it stays only as the reference a spec
    // compares a reached operator against (name -> that spec and test)
    val kept = Map(
      "Dedup.shinglesHof" ->
        ("ExtSpec", "dedup: codegen shingles equal HOF shingles"),
      "Dedup.linkageScore" ->
        ("ExtSpec", "linkage pattern histogram == enumerated pair-join histogram"),
      "EventsStream.hourlyStats" ->
        ("ExtSpec", "events: streaming hourly agg matches batch hourly agg"),
      "Forecast.ewma" ->
        ("ForecastChunkedSpec", "chunked folds match the collected fold at round-6"),
      "ScaleOps.zorderDim" ->
        ("ScaleSpec", "zorderKey: deinterleave roundtrips arbitrary coordinates"),
      "Similarity.dot" ->
        ("ExtSpec", "similarity: native dot is bit-equal to the HOF dot"),
      "Similarity.cosine" ->
        ("ExtSpec", "similarity: IVF assignment is the brute-force argmax"),
      "Similarity.planeDotSpec" ->
        ("ExtSpec", "similarity: native PlaneDot bit-equals the element_at spec form"),
      "TimeFill.forwardFillViaSpine" ->
        ("ExtSpec", "timefill: lead+explode forward fill equals the spine-join witness"))
    def read(p: java.nio.file.Path) = java.nio.file.Files.readString(p)
    val comment = "^\\s*(//|\\*|/\\*)".r
    val word = "[A-Za-z_]\\w*".r
    // a string literal names no def, so a def mentioned only in its own
    // require message is still unreached
    def code(p: java.nio.file.Path) = stripLiterals(
      read(p).split("\n").filter(comment.findFirstIn(_).isEmpty).mkString("\n")).split("\n").toSeq
    val main = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    // occurrences of every identifier in the non-comment code of src/main
    val uses = main.flatMap(code).flatMap(word.findAllIn)
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val ext = main.filter(_.getParent.endsWith("ext"))
    assert(ext.size >= 20, "ext sources not found under src/main/scala/graft/ext")
    // private[graft] defs are checked too: a qualified-private def with no
    // src/main caller is as dead as a public one
    val decl = "^\\s*((?:\\w+(?:\\[\\w+\\])?\\s+)*)def\\s+([A-Za-z_]\\w*)".r.unanchored
    val unreached = (for {
      f <- ext
      line <- code(f)
      m <- decl.findFirstMatchIn(line).toSeq
      mods = m.group(1).split("\\s+").toSet
      if !mods("override") && !mods("private")
      name = m.group(2)
      if uses(name) == word.findAllIn(line).count(_ == name)
    } yield s"${f.getFileName.toString.stripSuffix(".scala")}.$name").toSet
    assert(unreached.diff(kept.keySet).isEmpty,
      s"ext defs nothing in src/main reaches: ${unreached.diff(kept.keySet).toSeq.sorted}")
    kept.foreach { case (ref, (spec, test)) =>
      val text = read(java.nio.file.Paths.get(s"src/test/scala/graft/$spec.scala"))
      assert(text.contains(ref) && text.contains(s"test(\"$test"),
        s"$ref: $spec no longer compares against it in \"$test\"")
    }
  }

  /** `src` without the text of its string literals. What an
    * interpolated literal splices in (`$name`, `${expr}`) stays: those
    * are real uses. A char literal is skipped whole, so `'"'` opens no
    * string.
    */
  private def stripLiterals(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(k: Int) = if (k < src.length) src(k) else ' '
    def ident(c: Char) = c.isLetterOrDigit || c == '_'
    // code up to the end, or up to the `}` closing a `${` splice
    def code(splice: Boolean): Unit = {
      var depth = 0
      while (i < src.length) {
        val c = src(i)
        if (c == '\'' && at(i + 2) == '\'') i += 3
        else if (c == '\'' && at(i + 1) == '\\' && at(i + 3) == '\'') i += 4
        else if (c == '"') string(interpolated = i > 0 && ident(src(i - 1)))
        else if (splice && c == '}' && depth == 0) return
        else {
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          out += c
          i += 1
        }
      }
    }
    def string(interpolated: Boolean): Unit = {
      val triple = src.startsWith("\"\"\"", i)
      i += (if (triple) 3 else 1)
      out += ' '
      while (i < src.length) {
        val c = src(i)
        if (triple && src.startsWith("\"\"\"", i)) {
          i += 3
          while (at(i) == '"') i += 1
          return
        } else if (!triple && (c == '"' || c == '\n')) {
          i += 1
          return
        } else if (!triple && c == '\\') i += 2
        else if (interpolated && c == '$' && at(i + 1) == '{') {
          i += 2
          out += ' '
          code(splice = true)
          i += 1
          out += ' '
        } else if (interpolated && c == '$' && ident(at(i + 1))) {
          i += 1
          out += ' '
          while (i < src.length && ident(src(i))) { out += src(i); i += 1 }
          out += ' '
        } else if (interpolated && c == '$') i += 2
        else i += 1
      }
    }
    code(splice = false)
    out.toString
  }
}
