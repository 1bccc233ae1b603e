package org.apache.spark.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters read at call boundaries. Lives under org.apache.spark
  * only to reach the listener bus (a span must flush pending task-end
  * events before it snapshots) and the codegen compile histogram.
  */
final class Counters(sc: SparkContext) {
  private val names = Seq("jobs", "tasks", "task_ms", "gc_ms", "spill_b",
    "shuffle_write_b", "shuffle_read_b", "fetch_wait_ms", "scan_b",
    "scan_rows", "exchanges")
  private val acc: Map[String, AtomicLong] =
    names.map(_ -> new AtomicLong).toMap
  /** (launch, finish) epoch ms of every finished task. */
  private val taskSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  /** Largest join output (rows) in the last query's executed plan. */
  val lastMaxJoinRows = new AtomicLong

  def add(k: String, v: Long): Unit = acc(k).addAndGet(v)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val i = e.taskInfo
      if (i != null) taskSpans.add((i.launchTime, i.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime)
        add("gc_ms", m.jvmGCTime)
        add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("scan_b", m.inputMetrics.bytesRead)
        add("scan_rows", m.inputMetrics.recordsRead)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      var exchanges = 0L
      var maxJoin = 0L
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
          case q: QueryStageExec => walk(q.plan); return
          case _: ReusedExchangeExec => return
          case _: ShuffleExchangeLike => exchanges += 1
          case j: BaseJoinExec =>
            j.metrics.get("numOutputRows").foreach(m => maxJoin = math.max(maxJoin, m.value))
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      try walk(qe.executedPlan) catch { case _: Throwable => () }
      add("exchanges", exchanges)
      lastMaxJoinRows.set(maxJoin)
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def flush(): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def snapshot(): Map[String, Long] =
    acc.map { case (k, v) => k -> v.get } + ("codegen" -> codegenCompiles)

  /** Milliseconds of [t0, t1] during which no task ran. */
  def idleMs(t0: Long, t1: Long): Long = {
    val it = taskSpans.iterator()
    val ivs = mutable.ArrayBuffer[(Long, Long)]()
    while (it.hasNext) {
      val (a, b) = it.next()
      val lo = math.max(a, t0); val hi = math.min(b, t1)
      if (hi > lo) ivs += ((lo, hi))
    }
    var covered = 0L; var end = t0
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0) - covered
  }
}

/** One call into a layer, with the engine counters it consumed. */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long, counts: Map[String, Long],
                      idleMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's own calls into graft; spans are
  * kept in memory and written out once at the end of the run. With
  * `enabled = false` a span is only a timer: no listener flush, no
  * counter snapshot, nothing kept.
  */
final class Tracer(val counters: Option[Counters], runId: String) {
  var enabled: Boolean = counters.isDefined
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0

  def span[T](name: String)(body: => T): (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    val c = counters.get
    c.flush()
    val id = nextId; nextId += 1
    val parent = if (stack.isEmpty) -1 else stack.top
    stack.push(id)
    val before = c.snapshot()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      c.flush()
      val after = c.snapshot()
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
      spans += Span(id, parent, name, runId, t0, t1, delta, c.idleMs(w0, w1))
      (r, (t1 - t0) / 1e9)
    } finally stack.pop()
  }

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJsonLines: String = spans.map { s =>
    val cs = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }
      .mkString(", ")
    f"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "run": "${s.run}", """ +
      f""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": ${selfSeconds(s)}%.6f, """ +
      s""""idle_ms": ${s.idleMs}, "counts": {$cs}}"""
  }.mkString("\n")
}
