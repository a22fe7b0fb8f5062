package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{BenchFormat, GraftSession, SparkEntry}

/** Where does a registered query's time go? Two subcommands over the
  * shared session (`GraftSession`):
  *
  * `run <sfDir> <runs> <name-or-prefix…>` times every query whose name
  * starts with one of the arguments (all queries if none), in `runs`
  * interleaved passes as `graft.Bench` does, and prints one JSON line per
  * query per run, named like the benchmark's per-layer metrics:
  *  - `entry.build_s`, `entry.build_jobs`: `SparkEntry.queries(name)`
  *    itself (operator code, memo builds and lookups) and the jobs it ran;
  *  - `plan_s`: analysis and physical planning (no Spark job);
  *  - `exec.s`: a noop-sink write, which evaluates every column of every
  *    row (under `count()` column pruning can drop a map-only query's work
  *    and time parquet metadata instead);
  *  - `exec.jobs`, `exec.stages`, `exec.tasks`, `exec.task_s`,
  *    `exec.shuffle_read_mb`, `exec.shuffle_write_mb`, `exec.spill_mb`:
  *    what that write scheduled and its tasks' totals;
  *  - `exec.exchanges`: shuffle Exchanges in the write's AQE-final plan.
  * Run 1 of the first query also pays JVM and codegen warm-up.
  *
  * `plan <q1,q2,…> [outDir tag]` prints each query's formatted plan and,
  * after one noop write, its AQE-final plan; with `outDir tag` it writes
  * them to `<outDir>/<q>_<tag>.txt` and `<outDir>/<q>_<tag>_final.txt`
  * (the `plans/rNN/` evidence). Its fixture is `$SPARK_GRAFT_SF_DIR`.
  */
object Probe extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: sfDir :: runs :: prefixes => run(sfDir, runs.toInt, prefixes)
    case "plan" :: names :: out if out.isEmpty || out.length == 2 =>
      plan(names.split(",").toSeq, out.headOption.zip(out.lift(1)))
    case _ =>
      System.err.println(
        "usage: Probe run <sfDir> <runs> <name-or-prefix...> | Probe plan <q1,q2,...> [outDir tag]")
      sys.exit(2)
  }

  private def run(sfDir: String, runs: Int, prefixes: Seq[String]): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    val spark = GraftSession.create()
    val sc = spark.sparkContext
    val listener = new ProbeListener
    listener.attach(spark)
    for (pass <- 1 to runs; name <- names) {
      val head = s"""{"query":${BenchFormat.jstrFull(name)},"run":$pass,"""
      // one group per query and pass: a failed run's counts stay its own
      val group = s"$name#$pass"
      try {
        sc.setJobGroup(s"$group#build", "probe build")
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        sc.setJobGroup(group, "probe exec")
        val qe = listener.noopWrite(df)
        val t3 = System.nanoTime()
        val build = listener.take(s"$group#build")
        val exec = listener.take(group)
        val mb = 1048576.0
        println(head +
          f""""entry.build_s":${(t1 - t0) / 1e9}%.3f,"entry.build_jobs":${build.jobs},""" +
          f""""plan_s":${(t2 - t1) / 1e9}%.3f,"exec.s":${(t3 - t2) / 1e9}%.3f,""" +
          f""""exec.jobs":${exec.jobs},"exec.stages":${exec.stages},"exec.tasks":${exec.tasks},""" +
          f""""exec.task_s":${exec.taskMs / 1e3}%.3f,""" +
          f""""exec.shuffle_read_mb":${exec.shuffleRead / mb}%.3f,""" +
          f""""exec.shuffle_write_mb":${exec.shuffleWrite / mb}%.3f,""" +
          f""""exec.spill_mb":${exec.spill / mb}%.3f,"exec.exchanges":${exchanges(qe)}}""")
      } catch {
        case NonFatal(e) =>
          println(head + s""""error":${BenchFormat.jstr(Option(e.getMessage).getOrElse(e.toString))}}""")
      } finally sc.clearJobGroup()
    }
    spark.stop()
  }

  private def plan(names: Seq[String], out: Option[(String, String)]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("Probe plan reads its fixture directory from SPARK_GRAFT_SF_DIR"))
    val spark = GraftSession.create()
    val listener = new ProbeListener
    listener.attach(spark)
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      val aqeFinal = listener.noopWrite(df).executedPlan.treeString
      out match {
        case Some((dir, tag)) =>
          for ((suffix, txt) <- Seq("" -> formatted, "_final" -> aqeFinal)) {
            val path = Paths.get(dir, s"${name}_$tag$suffix.txt")
            Files.write(path, txt.getBytes(UTF_8))
            System.err.println(s"[probe] wrote $path")
          }
        case None =>
          println(s"== $name: formatted plan ==\n$formatted\n== $name: AQE-final plan ==\n$aqeFinal")
      }
    }
    spark.stop()
  }

  private def exchanges(qe: QueryExecution): Int =
    collectWithSubqueries(qe.executedPlan) { case x: ShuffleExchangeLike => x }.size
}

/** Job, stage and task totals per job group, and the executions of noop
  * writes. Both ride Spark's shared listener queue, which delivers events
  * in the order they were posted: a write's execution end arrives after
  * every job, stage and task event of that write, so once `noopWrite`
  * returns, the counters of the groups it ran under are final.
  */
private final class ProbeListener extends SparkListener with QueryExecutionListener {
  final class Counts {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val groups = mutable.Map.empty[String, Counts]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val writes = new LinkedBlockingQueue[QueryExecution]()

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Removes and returns a group's totals. */
  def take(group: String): Counts = synchronized(groups.remove(group).getOrElse(new Counts))

  /** Writes `df` to the noop sink; returns the write's execution. */
  def noopWrite(df: DataFrame): QueryExecution = {
    df.write.format("noop").mode("overwrite").save()
    Option(writes.poll(60, TimeUnit.SECONDS)).getOrElse(
      throw new IllegalStateException("noop write finished but its execution was not reported"))
  }

  private def counts(g: String): Counts = groups.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    counts(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.remove(e.stageInfo.stageId).foreach(counts(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counts(g)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.logical.isInstanceOf[V2WriteCommand]) writes.put(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
