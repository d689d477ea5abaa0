package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters of one job group (= one span), summed over its tasks. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  /** (submission, completion) of every finished stage, epoch ms */
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output; stageSpans ++= o.stageSpans
  }
}

/** Aggregates jobs, stages and task metrics per owner. Registered only
  * in traced runs. A job's owner is its job group when a span set it
  * ("span-<id>"); any other job (no group, or a group Spark sets
  * itself, as StreamExecution does with the stream's runId) is owned by
  * its submission time, "at-<epoch ms>", and `Tracer.finish` files it
  * under the innermost span open at that moment.
  */
final class GroupListener extends SparkListener {
  private val byOwner = mutable.HashMap.empty[String, Counters]
  private val stageOwner = mutable.HashMap.empty[Int, String]

  private def of(g: String): Counters = byOwner.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).getOrElse(s"at-${e.time}")
    of(g).jobs += 1
    e.stageIds.foreach(stageOwner(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = of(stageOwner.getOrElse(info.stageId, ""))
    c.stages += 1
    for (s <- info.submissionTime; d <- info.completionTime) c.stageSpans += ((s, d))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val c = of(stageOwner.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.runMs += m.executorRunTime
    c.cpuNs += m.executorCpuTime
    c.gcMs += m.jvmGCTime
    // the Spark UI's definition of scheduler delay
    c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
    c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
    c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    c.input += m.inputMetrics.bytesRead
    c.output += m.outputMetrics.bytesWritten
  }

  def owners: Map[String, Counters] = synchronized(byOwner.toMap)
}

/** One timed call into a layer. */
final case class Span(id: Int, name: String, key: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long, c: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Off: `span` just runs its body. On: every span gets
  * its own job group, so the listener's counters are the span's own
  * (child spans set theirs); spans stay in memory until `finish`.
  * `key` names the operation a span times ("" for inner spans).
  */
final class Tracer(sc: SparkContext, val on: Boolean, runId: String) {
  private val listener = if (on) Some(new GroupListener) else None
  listener.foreach(sc.addSparkListener)
  private val open = mutable.Stack.empty[Int]
  private final case class Raw(id: Int, name: String, key: String, parent: Int,
                               startNs: Long, endNs: Long, startMs: Long, endMs: Long)
  private val raw = mutable.ArrayBuffer.empty[Raw]
  private var nextId = 0

  def span[T](name: String, key: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val ms0 = System.currentTimeMillis()
      try body
      finally {
        raw += Raw(id, name, key, parent, t0, System.nanoTime(), ms0, System.currentTimeMillis())
        open.pop()
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Spans with their listener counters, once the listener bus drained.
    * Jobs no span's group owns go to the innermost span open when they
    * were submitted (the latest-started span containing that moment).
    */
  def finish(): Seq[Span] = listener match {
    case None => Seq.empty
    case Some(l) =>
      org.apache.spark.perfbench.Bus.drain(sc)
      val owners = l.owners
      val counters = raw.map(r => r.id -> owners.getOrElse(s"span-${r.id}", new Counters)).toMap
      for ((g, c) <- owners if g.startsWith("at-")) {
        val t = g.stripPrefix("at-").toLong
        val within = raw.filter(r => r.startMs <= t && t <= r.endMs)
        if (within.nonEmpty) counters(within.maxBy(_.startNs).id) += c
      }
      raw.toSeq.map(r => Span(r.id, r.name, r.key, r.parent, runId, r.startNs, r.endNs, counters(r.id)))
  }
}

object Trace {
  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var first = true
    for ((s, e) <- iv.sortBy(_._1)) {
      if (first || s > curE) {
        if (!first) total += curE - curS
        curS = s; curE = e; first = false
      } else curE = math.max(curE, e)
    }
    if (first) 0L else total + curE - curS
  }

  /** Time spent in a span minus its direct children. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }

  def toJson(s: Span): String = {
    val c = s.c
    s"""{"id":${s.id},"name":"${s.name}","key":"${s.key}","parent":${s.parent},"run":"${s.runId}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},"stages":${c.stages},""" +
      s""""tasks":${c.tasks},"task_run_ms":${c.runMs},"task_cpu_ns":${c.cpuNs},"gc_ms":${c.gcMs},""" +
      s""""sched_delay_ms":${c.schedDelayMs},"shuffle_read":${c.shuffleRead},""" +
      s""""shuffle_write":${c.shuffleWrite},"spill":${c.spill},"input":${c.input},"output":${c.output}}"""
  }
}
