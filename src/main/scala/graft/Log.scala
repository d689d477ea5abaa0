package graft

/** Logging hygiene for the mains (through [[LocalSession]]) and the
  * test JVM.
  *
  * WindowExec logs "No Partition Defined for Window operation!" at WARN
  * once per TASK. The handful of global windows in this library are
  * individually audited (each carries a scaladoc contract that its
  * input is a grid-sized aggregate — day grids, vocab tables, score
  * deciles — and PlanAuditSpec walks every plan), so the per-task
  * repeat carries no information; at 346 queries x 32 tasks it flooded
  * the round-11 driver bench's captured stdout tail and made the
  * partial artifact unreadable (BENCH_r11.json's tail was nothing but
  * this line). Raise that one logger to ERROR in the session every main
  * builds and in the test session — library code never touches global
  * log config.
  *
  * DAGScheduler logs "Failed to cancel job group ... Cannot find active
  * jobs for it" twice on every streaming query stop, once the query's
  * jobs are already done. That one message is filtered out; the
  * logger's other WARNs ("Broadcasting large task binary") stay.
  *
  * Every streaming query start logs three lines about what Spark does
  * on its own: ResolveWriteToStream's "spark.sql.adaptive.enabled is
  * not supported in streaming…" and MicroBatchExecution's "Disabling
  * AQE…" (Spark turns AQE off for the stream), and
  * ResolveWriteToStream's "Temporary checkpoint location created…"
  * (Spark deletes that directory when the query stops). Those three
  * messages are filtered out; the loggers' other messages stay.
  */
object Log {
  def silenceNoisyWarnings(): Unit = {
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
      // same per-task repetition, same audited-pattern story: single-
      // partition warnings from coalesce(1) writes in Verify
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowGroupLimitExec",
        org.apache.logging.log4j.Level.ERROR)
      // "RDD was locally checkpointed, its lineage has been truncated"
      // fires once per RDD on every snapshot/release cycle — the
      // release discipline is deliberate (Graph/Dedup scaladoc
      // contracts) and the warning repeats hundreds of times across a
      // full bench run
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD",
        org.apache.logging.log4j.Level.ERROR)
      dropMessage("org.apache.spark.scheduler.DAGScheduler", "Failed to cancel job group")
      val stream = "org.apache.spark.sql.execution.streaming.runtime."
      dropMessage(stream + "ResolveWriteToStream", "spark.sql.adaptive.enabled is not supported in streaming")
      dropMessage(stream + "ResolveWriteToStream", "Temporary checkpoint location created")
      dropMessage(stream + "MicroBatchExecution", "Disabling AQE since AQE is not supported in stateful")
    } catch { case _: Throwable => () } // logging config must never fail a run
  }

  /** Deny one message (by substring) on one logger, leaving the
    * logger's level and every other message as they are.
    */
  private def dropMessage(logger: String, text: String): Unit = {
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.StringMatchFilter
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val own = Option(conf.getLoggers.get(logger)).getOrElse {
      // no level of its own: it inherits its parent's, as before
      val c = new LoggerConfig(logger, null, true)
      conf.addLogger(logger, c)
      c
    }
    own.addFilter(StringMatchFilter.newBuilder().setMatchString(text)
      .setOnMatch(Filter.Result.DENY).setOnMismatch(Filter.Result.NEUTRAL).build())
    ctx.updateLoggers()
  }
}
