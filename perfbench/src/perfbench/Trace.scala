package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** One traced interval: a public call the harness made (or a request,
  * batch or pass that groups such calls). Times are wall-clock ms for
  * the job-interval arithmetic and ns for durations. */
final case class Span(id: Long, name: String, parent: Long, req: Long,
                      startMs: Long, endMs: Long, durNs: Long)

/** Spark work attributed to one span by the listener. Every counter is a
  * LongAdder: task-end events of concurrent stages update them without a
  * read-modify-write race. */
final class SparkAcc {
  val jobs, tasks, cpuNs, gcMs, inputBytes, shuffleWrite, spill =
    new LongAdder
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]
}

/** Spans in memory plus a listener that attributes jobs to them.
  *
  * The calling thread names its current span in a Spark local property
  * ([[Prop]]); jobs submitted from that thread carry it in their
  * properties, and the listener maps each job's stages to the span. Only
  * stages of tracked jobs are attributed: an event of an untracked stage
  * is skipped, never folded into some default span. Readers call
  * [[drain]] first, which waits for the listener bus to deliver every
  * event posted so far. With tracing off nothing is registered and
  * [[span]] only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  val spans = new ConcurrentLinkedQueue[Span]
  val acc = new ConcurrentHashMap[Long, SparkAcc]
  /** Task run times per stage, for the max/median skew ratio. */
  val stageTasks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val ids = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .foreach { s =>
          val span = java.lang.Long.valueOf(s.toLong)
          jobSpan.put(e.jobId, span)
          jobStart.put(e.jobId, e.time)
          e.stageIds.foreach(st => stageSpan.put(st, span))
          accOf(span).jobs.increment()
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { span =>
        val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue)
          .getOrElse(e.time)
        accOf(span).jobIntervals.add((t0, e.time))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val a = accOf(span)
        a.tasks.increment()
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs.add(m.executorCpuTime)
          a.gcMs.add(m.jvmGCTime)
          a.inputBytes.add(m.inputMetrics.bytesRead)
          a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          a.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
          stageTasks.computeIfAbsent(e.stageId,
            _ => new ConcurrentLinkedQueue[Long]).add(m.executorRunTime)
        }
      }
  }

  private def accOf(span: java.lang.Long): SparkAcc =
    acc.computeIfAbsent(span.longValue, _ => new SparkAcc)

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` inside a new span; jobs it submits are attributed to it.
    * Returns the body's value; the span id is passed to the body so it
    * can parent child spans. */
  def span[A](name: String, parent: Long = 0L, req: Long = 0L)
             (body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, id.toString)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body(id)
      finally {
        spans.add(Span(id, name, parent, req, w0, System.currentTimeMillis(),
          System.nanoTime() - t0))
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit =
    if (enabled) org.apache.spark.BenchBridge.drainListenerBus(spark)

  /** Drain, then detach the listener. */
  def close(): Unit =
    if (enabled) {
      drain()
      spark.sparkContext.removeSparkListener(listener)
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spans grouped by parent id. */
  def children: Map[Long, Seq[Span]] = all.groupBy(_.parent)

  /** The span and all its descendants. */
  def subtree(root: Span, kids: Map[Long, Seq[Span]]): Seq[Span] =
    root +: kids.getOrElse(root.id, Nil).flatMap(subtree(_, kids))

  /** Self time: the span's duration minus the part of its interval its
    * direct children cover (children of one span never overlap here:
    * every traced call is synchronous on the calling thread). */
  def selfNs(s: Span, kids: Map[Long, Seq[Span]]): Long =
    s.durNs - kids.getOrElse(s.id, Nil).map(_.durNs).sum

  /** Sum of a listener counter over a set of spans. */
  def sum(spans: Seq[Span])(f: SparkAcc => LongAdder): Long =
    spans.flatMap(s => Option(acc.get(s.id))).map(f(_).sum).sum

  /** Milliseconds of the root span's interval covered by no Spark job of
    * its subtree: driver-side planning, collects and bookkeeping. */
  def driverGapMs(root: Span, kids: Map[Long, Seq[Span]]): Double = {
    val ivs = subtree(root, kids).flatMap(s => Option(acc.get(s.id)))
      .flatMap(_.jobIntervals.asScala)
      .map { case (a, b) => (a max root.startMs, b min root.endMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += (curB - curA).max(0); curA = a; curB = b }
      else curB = curB max b
    }
    covered += (curB - curA).max(0)
    (root.durNs / 1e6 - covered).max(0.0)
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Operator-level facts read from a drained DataFrame's final (AQE)
  * physical plan: scan rows, the layout directories scanned, and rows in
  * and out of filters. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Scan(rootPaths: Seq[String], rows: Long)

  def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  def scans(df: DataFrame): Seq[Scan] =
    collectWithSubqueries(plan(df)) { case s: FileSourceScanExec =>
      Scan(s.relation.location.rootPaths.map(_.toString),
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }

  /** (rows in, rows out) of every filter or join whose condition's text
    * contains `token`, summed over the plan; rows in are the first
    * (streamed) child's output. */
  def condRows(df: DataFrame, token: String): (Long, Long) = {
    def hit(c: Option[Expression]) = c.exists(_.toString.contains(token))
    val hits = collectWithSubqueries(plan(df)) {
      case p: FilterExec if hit(Some(p.condition)) => p
      case p: BaseJoinExec if hit(p.condition) => p
    }
    (hits.map(p => rowsOut(p.children.head)).sum,
      hits.map(p => p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }

  /** Output rows of the first node at or below `p` that counts them. */
  private def rowsOut(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value)
      .orElse(p.children.headOption.map(rowsOut)).getOrElse(0L)
}
