package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** One timed call: `name` is `<module>.<op>`, times are nanoTime. */
final case class Span(name: String, start: Long, end: Long, parent: String, runId: String) {
  def seconds: Double = (end - start) / 1e9
}

/** Task counters of one module, summed over the stages its spans ran. */
final class ModuleCounters {
  var tasks = 0L
  var busyMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsIn = 0L
  var recordsOut = 0L
  /** Task run times per stage, for the skew figure. */
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  /** Largest max ÷ median task time over the module's stages of ≥ 2 tasks. */
  def skew: Double = {
    val r = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }
    if (r.isEmpty) 1.0 else r.max
  }
}

/** Spans around the benchmark's calls into the library, plus a listener that
  * ties every stage to the span that ran it (through a job group per span)
  * and every SQL execution to the library call site that started it.
  * Everything stays in memory until the run ends.
  */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private var stack: List[String] = Nil

  def span[T](module: String, op: String)(body: => T): T = {
    val name = s"$module.$op"
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    // no description: SQL executions then keep their call site ("count at …")
    sc.setJobGroup(name, null)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, t0, System.nanoTime(), parent, runId)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p, null)
        case None => sc.clearJobGroup()
      }
    }
  }

  def count(module: String, metric: String, v: Double): Unit = counts(s"$module.$metric") = v

  // ---- listener state (written on the listener thread, read after drain)
  private val stageGroup = mutable.Map.empty[Int, String]
  val modules: mutable.Map[String, ModuleCounters] = mutable.Map.empty
  /** SQL executions: id → (short call site, long call site, start ms, end ms). */
  private val execs = mutable.Map.empty[Long, (String, String, Long, Long)]
  private val execGroup = mutable.Map.empty[Long, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(s => stageGroup(s) = group)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).foreach { id =>
        if (group.nonEmpty) execGroup.getOrElseUpdate(id.toLong, group)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val g = stageGroup.getOrElse(e.stageId, "")
      val m = e.taskMetrics
      if (g.nonEmpty && m != null) {
        val c = modules.getOrElseUpdate(g.takeWhile(_ != '.'), new ModuleCounters)
        c.tasks += 1
        c.busyMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.recordsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        c.recordsOut += m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = (s.description, s.details, s.time, -1L)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach { case (d, l, t0, _) => execs(s.executionId) = (d, l, t0, s.time) }
        case _ =>
      }
    }
  }
  sc.addSparkListener(listener)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def stop(): Unit = { drain(); sc.removeSparkListener(listener) }

  /** Wall seconds of the SQL executions whose call stack passes through
    * `frame` (e.g. `GraphWriter$.writeLineage`).
    */
  def execSeconds(frame: String): Double = synchronized {
    execs.values.collect { case (_, details, t0, t1) if t1 >= 0 && details.contains(frame) => (t1 - t0) / 1e3 }.sum
  }

  /** SQL executions run inside span `group` whose short call site starts with `prefix`. */
  def execCount(group: String, prefix: String): Int = synchronized {
    execs.count { case (id, (desc, _, _, _)) => execGroup.get(id).contains(group) && desc.startsWith(prefix) }
  }
}
