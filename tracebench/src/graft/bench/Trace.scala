package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work the executors did for one span, summed over its tasks. */
final class SpanTotals {
  var jobs = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesRead = 0L
}

/** Spans of the traced run. The benchmark labels the jobs it causes with
  * [[Trace.span]]; the recorder keeps, per span, the jobs' intervals and
  * the task metrics of their stages, the bytes held in RDD blocks
  * (persisted or checkpointed), and every finished query's plan.
  *
  * It is attached only for the traced run: the end-to-end metrics are
  * measured without it.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  private case class Job(span: String, start: Long, var end: Long)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, SpanTotals]
  private val blocks = mutable.Map.empty[String, Long]
  private var held = 0L
  private var peak = 0L
  private val queries = mutable.ArrayBuffer.empty[QueryExecution]

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Trace.this.synchronized { queries += qe }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    this
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Forget everything recorded so far: one traced execution starts. */
  def reset(): Unit = { drain(); synchronized {
    jobs.clear(); stageSpan.clear(); totals.clear(); blocks.clear()
    held = 0L; peak = 0L; queries.clear()
  } }

  /** Run `body` with its jobs labelled `name`. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.Key)
    sc.setLocalProperty(Trace.Key, name)
    try body finally sc.setLocalProperty(Trace.Key, prev)
  }

  private def totalsOf(span: String) = totals.getOrElseUpdate(span, new SpanTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Key)))
      .getOrElse("unlabelled")
    jobs(e.jobId) = Job(span, e.time, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    totalsOf(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totalsOf(stageSpan.getOrElse(e.stageId, "unlabelled"))
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.diskBytesSpilled
      t.bytesRead += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      held += size - blocks.getOrElse(id, 0L)
      blocks(id) = size
      peak = math.max(peak, held)
    }
  }

  /** Seconds covered by the union of the job intervals of `span` (all
    * spans when None): concurrent jobs are counted once. */
  def covered(span: Option[String] = None): Double = { drain(); synchronized {
    val iv = jobs.values.filter(j => span.forall(_ == j.span))
      .map(j => (j.start, j.end)).toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (iv.nonEmpty) total += curE - curS
    total / 1e3
  } }

  def totals(span: String): SpanTotals = { drain(); synchronized {
    totals.getOrElse(span, new SpanTotals)
  } }

  /** Totals over every span. */
  def all(): SpanTotals = { drain(); synchronized {
    val t = new SpanTotals
    totals.values.foreach { s =>
      t.jobs += s.jobs; t.cpuNs += s.cpuNs; t.gcMs += s.gcMs
      t.shuffleWrite += s.shuffleWrite; t.spill += s.spill
      t.bytesRead += s.bytesRead
    }
    t
  } }

  def jobCount: Int = { drain(); synchronized(jobs.size) }

  def peakBlockBytes: Long = { drain(); synchronized(peak) }

  /** Queries that finished since [[reset]] and began planning at or after
    * `sinceMs` (wall clock). */
  def queriesSince(sinceMs: Long): Seq[QueryExecution] = { drain(); synchronized {
    queries.filter(_.tracker.phases.values.forall(_.startTimeMs >= sinceMs)).toSeq
  } }
}

object Trace {
  val Key = "graft.bench.span"

  /** Analysis, optimization and physical planning time of `qe`, seconds. */
  def planSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum / 1e3

  /** Every node of an executed plan, looking through adaptive query
    * stages into the plan that actually ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** SQL metrics of executed plans summed by node class: milliseconds of
    * the node's timing metrics and its output rows. */
  def opMetrics(plans: Seq[SparkPlan]): Map[String, (Double, Long)] = {
    val acc = mutable.Map.empty[String, (Double, Long)]
    plans.flatMap(nodes).foreach { n =>
      var ms = 0.0
      var rows = 0L
      n.metrics.foreach { case (k, m) =>
        m.metricType match {
          case "timing" => ms += m.value
          case "nsTiming" => ms += m.value / 1e6
          case "sum" if k == "numOutputRows" => rows += m.value
          case _ =>
        }
      }
      val (ms0, rows0) = acc.getOrElse(n.getClass.getSimpleName, (0.0, 0L))
      acc(n.getClass.getSimpleName) = (ms0 + ms, rows0 + rows)
    }
    acc.toMap
  }
}
