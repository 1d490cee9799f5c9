package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SQLExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Spans around the benchmark's calls into each library layer.
  *
  * A span records its name (`<layer>.<call>`), start, end and parent. Spans
  * are kept in memory and written as JSON to `out` when the run ends. Every
  * Spark job a span submits carries the span id as its job group, so the
  * listener ties jobs, stages and task metrics back to the span that caused
  * them.
  * With tracing off (or paused) a span only runs its body.
  */
final class Tracer(spark: SparkSession, enabled: Boolean, out: String) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long = 0L) {
    def secs: Double = (end - start) / 1e9
    def layer: String = name.takeWhile(_ != '.')
  }

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener: Option[TaskStats] =
    if (enabled) { val l = new TaskStats; sc.addSparkListener(l); Some(l) } else None

  /** False while a traced run measures its untraced half. */
  var active: Boolean = enabled

  def apply[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val s = Span(spans.size + 1, stack.headOption.fold(0)(_.id), name, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def secs(name: String): Seq[Double] = named(name).map(_.secs)

  /** Ids of the spans named `root` and of everything beneath them. */
  def subtree(root: String): Set[Int] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).toSeq.flatMap(s => walk(s.id))
    named(root).flatMap(s => walk(s.id)).toSet
  }

  /** Self time per layer: each span's duration minus its children's (the
    * client is one thread, so children never overlap). */
  def selfSecs: Map[String, Double] = {
    val childSecs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.secs - childSecs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Spark work submitted under the given spans. */
  def spark(ids: Set[Int]): TaskStats.Agg = listener.fold(new TaskStats.Agg) { l =>
    l.drain()
    l.sum(ids)
  }

  /** A SQL plan metric (as the program's plan reports it) summed over the
    * plan nodes named `node…` that ran under the given spans. */
  def sqlMetric(ids: Set[Int], node: String, metric: String): Long = listener.fold(0L) { l =>
    l.drain()
    l.sqlMetric(ids, node, metric)
  }

  def close(): Unit = if (enabled) {
    val f = new java.io.File(out)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("[")
      w.println(spans.map(s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
          s""""start_ns": ${s.start}, "end_ns": ${s.end}}""").mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}

/** Job, stage and task counters keyed by the submitting span (job group),
  * and the SQL plan metrics of each SQL execution those jobs ran. */
final class TaskStats extends SparkListener {
  import TaskStats.Agg

  private val stageSpan = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, Agg]
  private var jobsStarted = 0
  private var jobsEnded = 0
  private var events = 0L
  // SQL executions: their span, their plan's (node, metric, accumulator id)
  // triples, and the metric values reported while each ran
  private val execSpan = mutable.Map.empty[Long, Int]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val planMetrics = mutable.Map.empty[Long, Seq[(String, String, Long)]]
  private val metricValue = mutable.Map.empty[(Long, Long), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop("spark.jobGroup.id").flatMap(_.toIntOption).getOrElse(0)
    e.stageIds.foreach(stageSpan(_) = span)
    prop(SQLExecution.EXECUTION_ID_KEY).flatMap(_.toLongOption).foreach { ex =>
      execSpan.getOrElseUpdate(ex, span)
      e.stageIds.foreach(stageExec(_) = ex)
    }
    bySpan.getOrElseUpdate(span, new Agg).jobs += 1
    jobsStarted += 1; events += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        def walk(p: SparkPlanInfo): Seq[(String, String, Long)] =
          p.metrics.map(m => (p.nodeName, m.name, m.accumulatorId)) ++ p.children.flatMap(walk)
        planMetrics(s.executionId) = walk(s.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          metricValue((d.executionId, id)) = metricValue.getOrElse((d.executionId, id), 0L) + v
        }
      case _ =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1; events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val a = bySpan.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0), new Agg)
    a.tasks += 1
    a.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    stageExec.get(e.stageId).foreach { ex =>
      val ids = planMetrics.get(ex).fold(Set.empty[Long])(_.map(_._3).toSet)
      e.taskInfo.accumulables.foreach { acc =>
        (acc.update: Option[Any]) match {
          case Some(v: Long) if ids(acc.id) =>
            metricValue((ex, acc.id)) = metricValue.getOrElse((ex, acc.id), 0L) + v
          case _ =>
        }
      }
    }
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Waits until the listener bus has delivered every job's events. */
  def drain(): Unit = {
    var last = -1L
    val until = System.nanoTime() + 10000000000L
    while (System.nanoTime() < until && synchronized(jobsEnded < jobsStarted || events != last)) {
      last = synchronized(events)
      Thread.sleep(100)
    }
  }

  /** A SQL plan metric summed over the plan nodes whose name starts with
    * `node`, across the SQL executions whose jobs ran under the spans. */
  def sqlMetric(ids: Set[Int], node: String, metric: String): Long = synchronized {
    execSpan.collect { case (ex, span) if ids(span) => ex }.toSeq.map { ex =>
      planMetrics.getOrElse(ex, Nil).collect {
        case (n, m, acc) if n.startsWith(node) && m == metric => metricValue.getOrElse((ex, acc), 0L)
      }.sum
    }.sum
  }

  def sum(ids: Set[Int]): Agg = synchronized {
    val t = new Agg
    ids.flatMap(bySpan.get).foreach { a =>
      t.jobs += a.jobs; t.tasks += a.tasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs
      t.gcMs += a.gcMs; t.inputBytes += a.inputBytes; t.outputBytes += a.outputBytes
      t.shuffleWriteBytes += a.shuffleWriteBytes; t.spillBytes += a.spillBytes
      a.stageTaskMs.foreach { case (st, ms) => t.stageTaskMs.getOrElseUpdate(st, ArrayBuffer.empty) ++= ms }
    }
    t
  }
}

object TaskStats {
  final class Agg {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]

    /** max ÷ median task time in the stage with the most task time. */
    def skew: Double =
      if (stageTaskMs.isEmpty) 0.0
      else {
        val heaviest = stageTaskMs.values.maxBy(_.sum)
        val med = Stats.median(heaviest.map(_.toDouble).toSeq)
        if (med <= 0) heaviest.max.toDouble else heaviest.max / med
      }

    /** Share of `cores` kept busy by tasks over `wallSecs`. */
    def coresBusy(wallSecs: Double, cores: Int): Double =
      if (wallSecs <= 0) 0.0 else runMs / 1000.0 / (wallSecs * cores)
  }
}
