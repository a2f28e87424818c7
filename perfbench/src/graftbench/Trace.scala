package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around public engine calls: (name, start, end, parent, run id),
  * kept in memory and written as JSON lines at exit. Disabled spans cost
  * one branch, so the timed runs leave tracing off. */
final class Spans(val runId: String, enabled: Boolean) {
  import Spans.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, t0, System.nanoTime(), parent)
        stack = stack.tail
      }
    }

  /** Durations (s) of every finished span called `name`, in call order. */
  def seconds(name: String): Seq[Double] =
    done.filter(_.name == name).sortBy(_.id).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def write(path: String): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      s"""{"run_id":"$runId","id":${s.id},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs + epochNs},"end_ns":${s.endNs + epochNs},""" +
        s""""parent":${if (s.parent < 0) "null" else s.parent.toString}}"""
    }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Spans {
  private final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)
}

/** Counters of one traced window, from a SparkListener and a
  * QueryExecutionListener registered by the benchmark itself. */
final case class LayerCounts(
    jobs: Long, stages: Long, tasks: Long,
    executorRunS: Double, executorCpuS: Double, jvmGcS: Double,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    planS: Double, compileS: Double, driverGapS: Double,
    fallbackExprs: Long, wscgOperators: Long, operators: Long) {
  def wscgShare: Double = if (operators == 0) 0.0 else wscgOperators.toDouble / operators
}

final class LayerListener extends SparkListener with QueryExecutionListener {
  private var jobs, stages, tasks, runMs, cpuNs, gcMs, shW, shR, spill = 0L
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var planMs = 0L
  private var fallbacks, covered, operators = 0L
  private val cachedSeen = mutable.Set.empty[AnyRef]

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += (s -> e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
    walk(qe.executedPlan, inside = false)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Plan facts: operators inside whole-stage codegen, and expression
    * nodes that are CodegenFallback (interpreted inside generated code). */
  private def walk(p: SparkPlan, inside: Boolean): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inside = false)
    case q: QueryStageExec => walk(q.plan, inside = false)
    case w: WholeStageCodegenExec => walk(w.child, inside = true)
    case i: InputAdapter => walk(i.child, inside = false)
    case _: ReusedExchangeExec => ()
    case op =>
      operators += 1
      if (inside) covered += 1
      fallbacks += op.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
      op.children.foreach(walk(_, inside))
      op.subqueries.foreach(walk(_, inside = false))
      // a cached frame's plan ran when the cache filled: count it once
      op match {
        case m: InMemoryTableScanExec if cachedSeen.add(m.relation.cacheBuilder) =>
          walk(m.relation.cachedPlan, inside = false)
        case _ => ()
      }
  }

  /** Counters since install, for a window of wall time [t0, t1]
    * (epoch ms). Drains the listener bus first. */
  def snapshot(spark: SparkSession, t0Ms: Long, t1Ms: Long, compileNs0: Long): LayerCounts = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized {
      val merged = jobSpans.map { case (s, e) => (math.max(s, t0Ms), math.min(e, t1Ms)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var busy, end = 0L
      var start = Long.MinValue
      merged.foreach { case (s, e) =>
        if (start == Long.MinValue || s > end) {
          if (start != Long.MinValue) busy += end - start
          start = s; end = e
        } else end = math.max(end, e)
      }
      if (start != Long.MinValue) busy += end - start
      LayerCounts(jobs, stages, tasks, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
        shW, shR, spill, planMs / 1e3, (CodeGenerator.compileTime - compileNs0) / 1e9,
        math.max(0L, (t1Ms - t0Ms) - busy) / 1e3, fallbacks, covered, operators)
    }
  }
}

object LayerListener {
  /** A listener that sees only events after this call: the bus is drained
    * of earlier ones first. */
  def install(spark: SparkSession): LayerListener = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}
