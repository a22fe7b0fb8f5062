package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program's layers. Kept in
  * memory and written when the run ends; a disabled tracer only runs the
  * body.
  */
final class Tracer(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  def span[T](name: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val start = System.nanoTime()
      try body(id)
      finally spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_s" -> (start - t0) / 1e9, "end_s" -> (System.nanoTime() - t0) / 1e9))
    }

  def all: Seq[Map[String, Any]] = spans.asScala.toSeq
}

/** Spark work attributed to a job group: the benchmark sets the group on
  * its own thread before each call it makes into a layer.
  */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var oneTaskStages = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var executions = 0
  var exchanges = 0
  var filesRead = 0L
  var bytesRead = 0L
  var rowsRead = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "one_task_stages" -> oneTaskStages,
    "tasks" -> tasks, "task_s" -> taskMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "executions" -> executions, "exchanges" -> exchanges,
    "files_read" -> filesRead, "bytes_read" -> bytesRead, "rows_read" -> rowsRead)
}

/** The traced run's listeners, on Spark's public buses: job/stage/task
  * totals per job group (SparkListener), final-plan Exchanges and scan
  * metrics per execution (QueryExecutionListener), and micro-batch
  * progress of the ingest queries (StreamingQueryListener).
  */
final class Listeners extends SparkListener with QueryExecutionListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  // the benchmark call whose SQL executions are being delivered: query
  // executions carry no job group, so the harness drains the bus before it
  // moves to the next call (`settle`)
  @volatile private var current = ""
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  def snapshot: Map[String, GroupStats] = synchronized(groups.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    stats(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g =>
      val s = stats(g)
      s.stages += 1
      if (e.stageInfo.numTasks == 1) s.oneTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val s = stats(current)
      s.executions += 1
      val plan = qe.executedPlan
      s.exchanges += PlanWalk.walk(plan) { case x: ShuffleExchangeLike => x }.size
      PlanWalk.walk(plan) { case x: FileSourceScanLike => x }.foreach { scan =>
        def metric(k: String): Long = scan.metrics.get(k).map(_.value).getOrElse(0L)
        s.filesRead += metric("numFiles")
        s.bytesRead += metric("filesSize")
        s.rowsRead += metric("numOutputRows")
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val lines = Option(p.observedMetrics.get("graft_ingest"))
        .map(_.getAs[Long]("lines")).getOrElse(0L)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      progress.add(Map("query" -> p.id.toString, "batch" -> p.batchId,
        "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "lines" -> lines, "duration_ms" -> d))
    }
  }

  /** Deliver every pending event, then attribute executions to `group`. */
  def settle(spark: SparkSession, group: String): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    current = group
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }
}

/** Walks a physical plan through adaptive wrappers and query stages. */
private object PlanWalk extends AdaptiveSparkPlanHelper {
  def walk[B](plan: SparkPlan)(pf: PartialFunction[SparkPlan, B]): Seq[B] =
    super.collectWithSubqueries(plan)(pf)
}
