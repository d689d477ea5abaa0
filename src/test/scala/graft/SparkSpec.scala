package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import java.util.concurrent.ConcurrentLinkedQueue

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-table tests write managed tables; keep them out of the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Log.silenceNoisyWarnings()
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** The Spark jobs `body` starts on this thread (a listener keyed on a
    * job group), as their group ids: one entry per job.
    */
  protected def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(10, Seconds))) { assert(seen.contains(s"$group-end")) }
      seen.toArray(Array.empty[String]).toSeq.filter(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
