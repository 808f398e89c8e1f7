package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one tagged operation, summed over its jobs and queries. */
final class OpStats {
  var jobs, stages, tasks, taskFailures = 0L
  var shuffleRead, shuffleWrite, spill, runMs = 0L
  var inBytes, outBytes = 0L
  var queries, exchanges, fallbacks, scanRows, confChanges = 0L
  var planMs = 0.0

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "run_ms" -> runMs, "input_bytes" -> inBytes, "output_bytes" -> outBytes,
    "queries" -> queries, "exchanges" -> exchanges,
    "codegen_fallbacks" -> fallbacks, "scan_rows" -> scanRows,
    "conf_changes" -> confChanges, "plan_ms" -> planMs)
}

/** The traced run's probe: a public `SparkListener` for jobs, stages and
  * tasks and a public `QueryExecutionListener` for planning time and the
  * executed plan. Work is attributed to the tag that was current when a
  * job was submitted (a local property) or a query was created (its id
  * falls inside the tag's id range). Nothing inside the engine changes.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val Prop = "perfbench.tag"
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val qes = new ConcurrentHashMap[Long, (Double, Long, Long, Long)]()
  private val ranges = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val stats = new ConcurrentHashMap[String, OpStats]()
  private val hookNanos = new AtomicLong()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def stat(tag: String): OpStats = stats.computeIfAbsent(tag, _ => new OpStats)

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally hookNanos.addAndGet(System.nanoTime() - t0)
  }

  /** The id the next `QueryExecution` will get, minus one. */
  private def lastQueryId(): Long = spark.range(1).queryExecution.id

  def attribute[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val (prev, idLo, conf0) = timed {
      val p = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, tag)
      (p, lastQueryId(), spark.conf.getAll)
    }
    try body finally timed {
      val idHi = lastQueryId()
      ranges.synchronized { ranges += ((idLo, idHi, tag)) }
      val conf1 = spark.conf.getAll
      val changed = (conf0.keySet ++ conf1.keySet).count(k => conf0.get(k) != conf1.get(k))
      stat(tag).synchronized { stat(tag).confChanges += changed }
      sc.setLocalProperty(Prop, prev)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
    tag.foreach { t =>
      e.stageIds.foreach(stageTag.put(_, t))
      val s = stat(t); s.synchronized { s.jobs += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    Option(stageTag.get(e.stageInfo.stageId)).foreach { t =>
      val s = stat(t); s.synchronized { s.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stageTag.get(e.stageId)).foreach { t =>
      val s = stat(t)
      s.synchronized {
        s.tasks += 1
        if (e.reason != Success) s.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.diskBytesSpilled
          s.runMs += m.executorRunTime
          s.inBytes += m.inputMetrics.bytesRead
          s.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => Iterator.single(o) ++
      (o.children.iterator ++ o.subqueries.iterator).flatMap(nodes)
  }

  private val ScanNodes = Set("BatchScanExec", "FileSourceScanExec", "RowDataSourceScanExec")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val all = nodes(qe.executedPlan).toSeq
    val exchanges = all.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }.toLong
    val fallbacks = all.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum)
      .sum.toLong
    val scanRows = all.filter(n => ScanNodes.contains(n.getClass.getSimpleName))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    qes.put(qe.id, (planMs, exchanges, fallbacks, scanRows))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Waits until the listener buses have delivered everything submitted
    * so far, then folds query-level figures into their tags.
    */
  def flush(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Prop, "flush")
    val probe = spark.range(1)
    probe.collect()
    sc.setLocalProperty(Prop, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while ((!qes.containsKey(probe.queryExecution.id) || !stats.containsKey("flush")) &&
      System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    val rs = ranges.synchronized(ranges.toList)
    qes.asScala.foreach { case (id, (planMs, ex, fb, rows)) =>
      rs.find { case (lo, hi, _) => id > lo && id < hi }.foreach { case (_, _, t) =>
        val s = stat(t)
        s.synchronized {
          s.queries += 1; s.planMs += planMs; s.exchanges += ex
          s.fallbacks += fb; s.scanRows += rows
        }
      }
    }
    qes.clear()
  }

  /** Per-tag counters (call after [[flush]]). */
  def byTag: Map[String, Map[String, Any]] =
    stats.asScala.iterator.filter(_._1 != "flush").map { case (k, v) => k -> v.toMap }.toMap

  /** Seconds spent in the tracing hooks since the last call. */
  def takeHookSeconds(): Double = hookNanos.getAndSet(0L) / 1e9
}
