package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.jdk.CollectionConverters._

/** One benchmark run inside a fresh JVM; the runner (run.py) starts it.
  *
  *   perfbench.Main --workload logdriver|queries
  *     --seed N --seconds S --trace 0|1 --fixture DIR --work DIR --out FILE
  *     [--queries FILE --fixed FILE] [--probe-queries FILE] [--warmup FILE]
  *     [--check FILE --results DIR]
  *
  * Writes the raw record (values, samples, failures, listener totals,
  * spans) to `--out` as JSON. A traced run also measures the layers the
  * workload itself does not exercise, with a small fixed probe of the
  * other kind (a short log-driver session, or one query per family), and
  * the codec and kernel probes.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val fixture = args("fixture")
    val work = args("work")
    def lines(k: String): Seq[String] =
      args.get(k).toSeq.flatMap(f => Source.fromFile(f, "UTF-8").getLines().map(_.trim).filter(_.nonEmpty).toList)

    if (workload == "oracle-sql") { // for derive.py: the twins the digests come from
      Files.write(Paths.get(args("out")), graft.Verify.oracleJson.getBytes(UTF_8))
      return
    }
    val rec = new Record
    rec.note(s"$workload seed=$seed seconds=$seconds trace=$traced")
    val tracer = new Tracer(traced)
    val listeners = if (traced) Some(new Listeners) else None
    val probe = new Record
    workload match {
      case "logdriver" =>
        new LogDriverWorkload(s"$work/main", seed, seconds, tracer, listeners, rec).run()
        if (traced)
          new QueryWorkload(s"$work/probe", fixture, lines("probe-queries"), seed,
            tracer, listeners, probe, None, Nil, Nil, lines("warmup"), setupRounds = 1).run()
      case "queries" =>
        new QueryWorkload(s"$work/main", fixture, lines("queries"), seed, tracer, listeners,
          rec, args.get("results"), lines("check"), lines("fixed"), lines("warmup")).run()
        if (traced)
          new LogDriverWorkload(s"$work/probe", seed, 3.0, tracer, listeners, probe,
            readsK = 4, backfillPerContainer = 2000, setupRounds = 1).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) {
      Probes.codec(seed, rec)
      val spark = Session.create(s"$work/main")
      try Probes.kernels(spark, fixture, rec) finally spark.stop()
    }
    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "record" -> rec.toMap, "probe" -> probe.toMap,
      "groups" -> listeners.map(_.snapshot.map { case (g, s) => g -> s.toMap }).getOrElse(Map.empty),
      "progress" -> listeners.map(_.progress.asScala.toSeq).getOrElse(Nil),
      "spans" -> tracer.all)
    Files.write(Paths.get(args("out")), Json.write(out).getBytes(UTF_8))
    // the plugin's per-connection threads can outlive the run by seconds
    System.exit(0)
  }
}
