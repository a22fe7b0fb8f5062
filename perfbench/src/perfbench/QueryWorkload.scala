package perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One closed-loop client running registered queries one at a time, in an
  * order drawn from the seed. Each query is timed from
  * `SparkEntry.queries(name)(spark, dir)` through a noop-sink write, in one
  * pass that starts with cold `SessionCache` memos. After the pass the results of the `checked` queries are written
  * as parquet for the runner's digest check.
  */
final class QueryWorkload(
    work: String,
    fixture: String,
    names: Seq[String],
    seed: Long,
    tracer: Tracer,
    listeners: Option[Listeners],
    rec: Record,
    resultsDir: Option[String],
    checked: Seq[String],
    fixedTail: Seq[String],
    warmup: Seq[String],
    setupRounds: Int = 3) {

  private def session(): SparkSession = {
    val spark = Session.create(work)
    listeners.foreach(_.attach(spark))
    spark
  }

  def run(): Unit = {
    // set-up, several times (the median is the set-up time): a session
    // plus the JVM/codegen warm-up of the fixed `warmup` queries. From JVM
    // start to the end of the first round is the cold start. The timed
    // pass then gets a fresh session, so its memos start cold.
    for (round <- 0 until setupRounds) {
      val t0 = System.nanoTime()
      val s = session()
      warmup.foreach(n => SparkEntry.queries(n)(s, fixture).write.format("noop").mode("overwrite").save())
      rec.add("setup_s", (System.nanoTime() - t0) / 1e9)
      if (round == 0) Host.coldStart(rec)
      rec.note(s"query set-up round $round done")
      s.stop()
    }
    val spark = session()
    rec.set("session", Session.settings(spark))
    rec.set("host_start", Host.gauges(spark))
    val sc = spark.sparkContext
    // the seed orders the list except `fixedTail`, which runs last in its
    // own order: its queries share memos, so their cost depends on which
    // of them runs first
    val rnd = new Random(new java.util.SplittableRandom(seed).nextLong())
    val order = rnd.shuffle(names.filterNot(fixedTail.contains)) ++ fixedTail
    rec.set("order", order)

    val cold = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    def one(name: String): Unit = {
      rec.attempt()
      try {
        listeners.foreach(_.settle(spark, s"$name#build"))
        val t0 = System.nanoTime()
        sc.setJobGroup(s"$name#build", "query build")
        val df = tracer.span("entry.build") { _ => SparkEntry.queries(name)(spark, fixture) }
        val t1 = System.nanoTime()
        listeners.foreach(_.settle(spark, name))
        val t1x = System.nanoTime()
        sc.setJobGroup(name, "query execution")
        tracer.span("exec.noop_write") { _ =>
          df.write.format("noop").mode("overwrite").save()
        }
        val t2 = System.nanoTime()
        // the traced run's bus drain between build and execution is left out
        val m = Map("s" -> (t2 - t1x + t1 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
          "exec_s" -> (t2 - t1x) / 1e9)
        cold(name) = m
      } catch {
        // a query that cannot run has no output to pass its check: wrong
        case NonFatal(e) => rec.wrong(name, Option(e.getMessage).getOrElse(e.toString))
      } finally {
        sc.clearJobGroup()
        listeners.foreach(_.settle(spark, ""))
      }
    }

    val w0 = System.nanoTime()
    order.foreach(one)
    rec.set("pass_s", (System.nanoTime() - w0) / 1e9)
    rec.note("cold pass done")
    rec.set("queries", cold.toMap)
    rec.set("memo.persisted_rdds", sc.getPersistentRDDs.size)
    rec.set("memo.storage_mb",
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    rec.set("layout.report", graft.plans.FactLayout.report(spark))
    rec.add("live_heap_mb", Host.liveHeapMb())
    rec.set("jvm.codecache_mb", Host.codeCacheMb())

    // results for the digest check, outside the timed window
    resultsDir.foreach { dir =>
      checked.foreach { name =>
        try SparkEntry.queries(name)(spark, fixture).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name")
        catch { case NonFatal(e) => rec.wrong(s"$name.result", e.toString) }
      }
    }
    rec.set("host_end", Host.gauges(spark))
    spark.stop()
    rec.note("query workload done")
  }
}
