package perfbench

import java.io.{File, FileOutputStream, OutputStream}
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length, sum}

import graft.Graft
import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.LogEntry
import graft.streaming.{IngestMetrics, LogDriverServer}

/** The reference's own traffic: a docker daemon's side of the log-driver
  * plugin, driving `LogDriverServer` over its unix socket and real FIFOs.
  *
  *  - set-up: StartLogging for one container per core, each with a FIFO;
  *  - phase A (backfill): `backfillPerContainer` lines per container,
  *    time-stamped over three past days, written as fast as the FIFOs
  *    drain; timed until every line is committed;
  *  - phase B (steady, `seconds` long): one open-loop writer at `rate`
  *    lines/s per container, each line stamped with its due time; beside
  *    it one closed-loop ReadLogs client (half Since/Until ranges, half
  *    Tail) and one Follow reader on container 0;
  *  - between the phases, one maintenance pass (cleanup then compact): the
  *    reference's LogCleaner sweeps every 600 s, so a run of seconds sees at
  *    most one sweep. It runs while no line is in flight and no read is
  *    open, because the program's quiesce does not survive concurrent
  *    reads, follow streams or appends (README, "Defects").
  *
  * Output checks (outside the timed phases): a final ReadLogs per container
  * returns every steady-phase line once, in order, byte-identical; the
  * follower saw every line of its container once; no frame was skipped.
  */
final class LogDriverWorkload(
    work: String,
    seed: Long,
    seconds: Double,
    tracer: Tracer,
    listeners: Option[Listeners],
    rec: Record,
    readsK: Int = 24,
    backfillPerContainer: Int = 25000,
    rate: Int = 1000,
    setupRounds: Int = 3) {

  private val containers = Session.cores
  private val ids = (0 until containers).map(c => f"ctr$c%02d")
  // java.util.Random's first draws are close for close seeds: mix the seed first
  private val rnd = new Random(new java.util.SplittableRandom(seed).nextLong())
  private val words = Array("GET", "POST", "/api/v1/items", "/healthz", "/login",
    "user", "cache", "miss", "hit", "db", "query", "slow", "ok", "error", "retry")
  private def lineText(i: Long): String =
    s"level=${if (rnd.nextInt(10) == 0) "warn" else "info"} req=$i " +
      s"msg=${words(rnd.nextInt(words.length))} ${words(rnd.nextInt(words.length))} " +
      s"latency_ms=${rnd.nextInt(900)} user=u${rnd.nextInt(5000)}"

  private lazy val spark: SparkSession = {
    val s = Session.create(work)
    listeners.foreach(_.attach(s))
    s
  }

  /** One plugin instance over its own directories; the session is shared. */
  private final class Rig(val root: String) {
    // the program's own per-batch rate listener: how the benchmark sees
    // commits (ingest queries of earlier set-up rounds are left out)
    val rates = IngestMetrics.rates(spark)
    private val earlier = rates.trackedQueries
    val graft: Graft = Graft(spark, root)
    // relative: unix socket paths are limited to ~100 bytes
    val sock: Path = Paths.get(s"${Paths.get("").toAbsolutePath.relativize(Paths.get(root))}/p.sock")
    val server = new LogDriverServer(graft, sock)
    val fifos: Seq[String] = ids.map(id => s"$root/$id.fifo")
    var writers: Seq[OutputStream] = Nil

    private def mine: Seq[java.util.UUID] = (rates.trackedQueries -- earlier).toSeq

    def committed: Long = mine.flatMap(rates.lifetime).map(_._1).sum

    def start(): Unit = {
      Files.createDirectories(Paths.get(root))
      server.start()
      UnixHttp.post(sock, "/Plugin.Activate", "{}")
      fifos.zip(ids).foreach { case (fifo, id) =>
        val p = new ProcessBuilder("mkfifo", fifo).start()
        require(p.waitFor() == 0, s"mkfifo $fifo failed")
        val t0 = System.nanoTime()
        val resp = tracer.span("http.start_logging") { _ =>
          UnixHttp.post(sock, "/LogDriver.StartLogging",
            s"""{"File":${Json.quote(fifo)},"Info":{"ContainerID":"$id","Config":{}}}""")
        }
        rec.add("server.start_logging_s", (System.nanoTime() - t0) / 1e9)
        require(resp.contains("\"Err\":\"\""), s"StartLogging $id: $resp")
      }
      // opening for write rendezvous with the plugin's FIFO reader
      writers = fifos.map(f => new FileOutputStream(f))
      require(waitUntil(60.0, tick = true)(started), "no line committed by some container")
    }

    /** Every container's ingest has committed a line. */
    def started: Boolean = {
      val qs = mine
      qs.size >= containers && qs.forall(q => rates.lifetime(q).exists(_._1 > 0))
    }

    def waitCommitted(n: Long, timeoutS: Double, tick: Boolean = true): Boolean =
      waitUntil(timeoutS, tick)(committed >= n)

    /** Wait until `done`. Meanwhile (with `tick`) every container logs
      * one keep-alive line per 100 ms: the FIFO pump flushes a burst only
      * when a read returns, so a container's newest line stays buffered
      * until its next one arrives.
      */
    def waitUntil(timeoutS: Double, tick: Boolean)(done: => Boolean): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      var next = 0L
      while (!done && System.nanoTime() < deadline) {
        if (tick && System.nanoTime() >= next) {
          val e = LogEntry("stdout", LogDriverWorkload.nanos(Instant.now()),
            "keepalive".getBytes("UTF-8"), partial = false, None)
          writers.foreach(_.write(frame(e)))
          next = System.nanoTime() + 100000000L
        }
        Thread.sleep(5)
      }
      done
    }

    def stop(): Unit = {
      writers.foreach(w => try w.close() catch { case NonFatal(_) => })
      try graft.stopAll() catch { case NonFatal(_) => }
      server.stop()
    }
  }

  private def frame(e: LogEntry): Array[Byte] = ProtoLogCodec.frame(ProtoLogCodec.encode(e))

  /** The frame the table stores for a written line: newline appended. */
  private def storedFrame(source: String, nano: Long, text: String): Array[Byte] =
    frame(LogEntry(source, nano, (text + "\n").getBytes("UTF-8"), partial = false, None))

  def run(): Unit = {
    // ---- set-up, several times: the median is the set-up time. The first
    // round pays the cold JVM: from JVM start to its end is the cold start.
    // host gauges before anything of the program runs, and after it stopped
    rec.set("host_start", Host.gauges(spark))
    var rig: Rig = null
    for (round <- 0 until setupRounds) {
      if (rig != null) { rig.stop(); deleteTree(new File(rig.root)) }
      val t0 = System.nanoTime()
      rig = new Rig(s"$work/ld$round")
      rig.start()
      rec.add("setup_s", (System.nanoTime() - t0) / 1e9)
      if (round == 0) Host.coldStart(rec)
      rec.note(s"logdriver set-up round $round done")
    }
    val r = rig
    rec.set("session", Session.settings(spark))
    rec.set("containers", containers)

    // ---- phase A: backfill ------------------------------------------------
    // the history fills the three UTC days before today: they are closed
    // date partitions, and today's partition holds only what phase B writes,
    // so what a read touches does not depend on the time of day
    val today = LogDriverWorkload.nanos(Instant.now().truncatedTo(java.time.temporal.ChronoUnit.DAYS))
    val histFrom = today - 3L * 86400 * 1000000000L
    val histTo = today - 120L * 1000000000L
    val step = (histTo - histFrom) / backfillPerContainer
    val payloads = ids.indices.map { c =>
      val out = new java.io.ByteArrayOutputStream(backfillPerContainer * 120)
      var bytes = 0L
      for (i <- 0 until backfillPerContainer) {
        val text = lineText(i)
        bytes += text.length + 1
        out.write(frame(LogEntry(if (i % 5 == 0) "stderr" else "stdout",
          histFrom + i * step + rnd.nextInt(1000), text.getBytes("UTF-8"),
          partial = false, None)))
      }
      (out.toByteArray, bytes)
    }
    val before = r.committed
    val total = before + containers.toLong * backfillPerContainer
    val a0 = System.nanoTime()
    val fills = r.writers.zip(payloads).map { case (w, (p, _)) =>
      val t = new Thread(() => w.write(p)); t.start(); t
    }
    fills.foreach(_.join())
    if (!r.waitCommitted(total, 120.0)) rec.fail("backfill", s"committed ${r.committed} of $total lines")
    val backfillS = (System.nanoTime() - a0) / 1e9
    rec.note(f"backfill committed in $backfillS%.2f s")
    rec.set("backfill_s", backfillS)
    rec.set("backfill_lines", containers.toLong * backfillPerContainer)
    rec.set("backfill_line_bytes", payloads.map(_._2).sum)

    // ---- maintenance, between the phases ----------------------------------
    // the age rule drops the oldest day's partitions, the count rule keeps
    // the newest half of the backfill
    val ageCut = java.time.Duration.ofNanos(
      LogDriverWorkload.nanos(Instant.now()) - (histFrom + 86400L * 1000000000L))
    try maintain(r, ageCut, backfillPerContainer / 2L)
    catch { case NonFatal(e) => rec.fail("retention", e.toString) }
    val resumed = r.committed
    if (!r.waitCommitted(resumed + 2L * containers, 60.0))
      rec.fail("retention.restart", s"ingest committed ${r.committed - resumed} lines after the pass")
    rec.note("maintenance pass done")

    // one untimed ReadLogs of each shape first: the read path's first plans
    // and codegen belong to no timed request
    val warmSince = Instant.ofEpochSecond(0, histTo - 3600L * 1000000000L)
    val warmUntil = Instant.ofEpochSecond(0, histTo)
    for (cfg <- Seq(s""""Since":"$warmSince","Until":"$warmUntil","Tail":0""", """"Tail":100""")) {
      rec.attempt()
      try UnixHttp.readLogs(r.sock, s"""{"Config":{$cfg},"Info":{"ContainerID":"${ids(0)}"}}""",
          System.nanoTime())((_, _) => ()).err.foreach(e => rec.fail("readlogs.warmup", e))
      catch { case NonFatal(e) => rec.fail("readlogs.warmup", e.toString) }
    }

    // ---- phase B: steady ----------------------------------------------
    val steadyWall = Instant.now()
    val steadyNano = System.nanoTime() + 200000000L // first line due in 200 ms
    val wall0 = LogDriverWorkload.nanos(steadyWall) + 200000000L
    val loop = new OpenLoop(steadyNano, rate.toDouble * containers)
    val endNano = steadyNano + (seconds * 1e9).toLong
    val sent = ids.map(_ => mutable.ArrayBuffer.empty[(Long, String, String)])
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val running = new AtomicBoolean(true)
    def dueOf(timeNano: Long): Long = steadyNano + (timeNano - wall0)
    val sinceSteady = Instant.ofEpochSecond(0, wall0 - 1).toString

    // follower on container 0, attached before the first line is due. A
    // stream the plugin ends early is a failed operation; the follower then
    // reconnects from the line after the last one it saw, as a user
    // re-running `docker logs -f --since` would.
    val followed = new ConcurrentHashMap[Long, Integer]()
    val followCh = new AtomicReference[java.nio.channels.SocketChannel]()
    val following = new AtomicBoolean(true)
    var beforeSince = 0L
    val follower = new Thread(() => {
      var lastSeen = wall0 - 1
      var lastBurst = 0L
      var burstFrames = 0
      while (following.get()) {
        rec.attempt()
        val since = Instant.ofEpochSecond(0, lastSeen + 1).toString
        try {
          UnixHttp.readLogs(r.sock,
            s"""{"Config":{"Follow":true,"Since":"$since"},"Info":{"ContainerID":"${ids(0)}"}}""",
            System.nanoTime(), ch => followCh.set(ch)) { (fr, at) =>
            val e = ProtoLogCodec.decode(java.util.Arrays.copyOfRange(fr, 4, fr.length))
            if (e.timeNano < wall0) beforeSince += 1
            else {
              rec.add("follow_lag_s", (at - dueOf(e.timeNano)) / 1e9)
              followed.merge(e.timeNano, 1, (a: Integer, b: Integer) => a + b)
              lastSeen = math.max(lastSeen, e.timeNano)
              if (at - lastBurst > 50000000L) {
                if (lastBurst > 0) {
                  rec.add("follow_burst_gap_s", (at - lastBurst) / 1e9)
                  rec.add("follow_frames_per_burst", burstFrames)
                }
                burstFrames = 0
              }
              lastBurst = at
              burstFrames += 1
            }
          }
          if (following.get()) rec.fail("follow.hangup", "the plugin ended the stream")
        } catch {
          case NonFatal(e) => if (following.get()) rec.fail("follow.hangup", e.toString)
        }
      }
    }, "follower")
    follower.setDaemon(true)
    follower.start()

    // open-loop writer: all containers, one thread
    val writer = new Thread(() => {
      var next = 0L
      val bufs = ids.map(_ => new java.io.ByteArrayOutputStream(1 << 16))
      // the window lasts `seconds`, or until the reader has made its
      // `readsK` requests (at most a minute longer)
      def open: Boolean = System.nanoTime() < endNano ||
        (reads.get() < readsK && System.nanoTime() < endNano + 60000000000L)
      while (open) {
        val upto = loop.dueBy(next, System.nanoTime())
        while (next < upto) {
          val c = (next % containers).toInt
          val text = lineText(next)
          val source = if (next % 5 == 0) "stderr" else "stdout"
          val nano = wall0 + (loop.dueNanos(next) - steadyNano)
          bufs(c).write(frame(LogEntry(source, nano, text.getBytes("UTF-8"), partial = false, None)))
          sent(c) += ((nano, source, text))
          next += 1
        }
        for (c <- ids.indices if bufs(c).size() > 0) {
          r.writers(c).write(bufs(c).toByteArray); bufs(c).reset()
        }
        val sentAt = System.nanoTime()
        // lateness of the newest line of this tick stands for the tick
        if (upto > 0) rec.add("gen_late_s", loop.lateNanos(upto - 1, sentAt) / 1e9)
        val wait = loop.dueNanos(next) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      }
      r.writers.foreach(_.flush())
    }, "writer")

    // closed-loop ReadLogs client with think time: `readsK` answered
    // requests, request i sent no earlier than i * seconds / readsK into the
    // phase. A quarter are Since/Until over the retained history, a quarter
    // over the last minute, half Tail, in a fixed interleaving. The answer to
    // a last-minute read grows through the phase, so each request goes out
    // at the same point of it in every run: a seeded order, or requests sent
    // back to back, would make that cost follow the seed or the latency of
    // the requests before it. Containers go round, so every kind visits each
    // of them; the seed picks the first container and the windows. A failed
    // request is a failed operation and is made again.
    val requests = mutable.ArrayBuffer.empty[(String, String, Option[String], Option[String], Long)]
    val reader = new Thread(() => {
      val qr = new Random(rnd.nextLong())
      val first = qr.nextInt(containers)
      val kinds = Seq.tabulate(readsK)(i => Seq("history", "tail", "recent", "tail")(i % 4))
      // within yesterday's partition
      val hist0 = histTo - 23L * 3600 * 1000000000L
      val pace = seconds * 1e9 / readsK
      while (running.get() && reads.get() < readsK) {
        val i = reads.get()
        val wait = steadyNano + (i * pace).toLong - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val what = kinds(i)
        val id = ids((first + i + i / 4) % containers)
        val nowN = LogDriverWorkload.nanos(Instant.now())
        val (kind, since, until, tail) = what match {
          case "tail" => ("tail", None, None, 100L)
          case w =>
            val (s, u) =
              if (w == "history") {
                val s = hist0 + (qr.nextDouble() * (histTo - hist0 - 3600e9)).toLong
                (s, s + 3600L * 1000000000L)
              } else (nowN - 60L * 1000000000L, nowN)
            ("range", Some(Instant.ofEpochSecond(0, s).toString),
              Some(Instant.ofEpochSecond(0, u).toString), 0L)
        }
        requests += ((kind, id, since, until, tail))
        val cfg = (since.map(s => s""""Since":"$s"""").toSeq ++
          until.map(u => s""""Until":"$u"""").toSeq :+ s""""Tail":$tail""").mkString(",")
        rec.attempt()
        val t0 = System.nanoTime()
        try {
          val res = tracer.span("http.readlogs") { _ =>
            UnixHttp.readLogs(r.sock, s"""{"Config":{$cfg},"Info":{"ContainerID":"$id"}}""",
              t0)((_, _) => ())
          }
          val dt = (System.nanoTime() - t0) / 1e9
          res.err match {
            case Some(e) => rec.fail(s"readlogs.$kind", e)
            case None if kind == "tail" && res.frames != tail =>
              rec.wrong("readlogs.tail", s"$id returned ${res.frames} of $tail frames")
            case None =>
              rec.add(s"readlogs_${kind}_s", dt)
              if (kind == "range") rec.add(s"readlogs_${what}_s", dt)
              rec.add("readlogs_s", dt)
              rec.add("readlogs_ttfb_s", res.ttfbNanos / 1e9)
              rec.add("readlogs_body_s", dt - res.ttfbNanos / 1e9)
              rec.add("readlogs_frames", res.frames)
              reads.incrementAndGet()
          }
        } catch { case NonFatal(e) => rec.fail(s"readlogs.$kind", e.toString) }
      }
      rec.set("readlogs_batch_s", (System.nanoTime() - steadyNano) / 1e9)
    }, "readlogs")

    Seq(writer, reader).foreach(_.start())
    writer.join()
    if (reads.get() < readsK) rec.fail("readlogs", s"only ${reads.get()} of $readsK requests made")
    // the containers exit: end of stream flushes each pump's last burst
    r.writers.foreach(_.close())
    running.set(false)
    reader.join()
    val steadyS = (System.nanoTime() - steadyNano) / 1e9
    rec.note("steady phase done")
    rec.set("steady_s", steadyS)
    val steadyLines = sent.map(_.size.toLong).sum
    rec.set("steady_lines", steadyLines)

    // ---- drain, then the output checks ------------------------------------
    // drained = every steady line is in the table. Counted in the table: the
    // rate listener misses batches whose progress a quiesce stop cut off
    def stored: Map[String, Long] = r.graft.logs.where(col("ts_nano") >= wall0)
      .groupBy("container_id").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = ids.zip(sent.map(_.size.toLong)).toMap
    val dDeadline = System.nanoTime() + 60000000000L
    var have = stored
    def drained = want.forall { case (c, n) => have.getOrElse(c, 0L) >= n }
    while (!drained && System.nanoTime() < dDeadline) { Thread.sleep(250); have = stored }
    if (have != want) rec.wrong("ingest.drain", s"stored $have of $want steady lines")
    rec.set("ingest.listener_lines", r.committed)
    rec.set("ingest.sent_lines", total + steadyLines)
    val c0 = sent(0).size
    val fDeadline = System.nanoTime() + 20000000000L
    while (followed.size() < c0 && System.nanoTime() < fDeadline) Thread.sleep(20)
    following.set(false)
    Option(followCh.get()).foreach(ch => try ch.close() catch { case NonFatal(_) => })
    follower.join(5000)
    rec.set("follow.frames_before_since", beforeSince)
    rec.add("live_heap_mb", Host.liveHeapMb())
    rec.note("drained; checking outputs")

    rec.attempt()
    val dup = followed.asScala.count(_._2 > 1)
    val missing = sent(0).count(l => !followed.containsKey(l._1))
    if (dup > 0 || missing > 0)
      rec.wrong(s"follow.${ids(0)}", s"$missing of $c0 lines missing, $dup duplicated")

    // one reader per container, all at once (outside the timed phases)
    val finals = ids.zipWithIndex.map { case (id, c) =>
      new Thread(() => {
        rec.attempt()
        val got = mutable.ArrayBuffer.empty[Array[Byte]]
        try {
          val res = UnixHttp.readLogs(r.sock,
            s"""{"Config":{"Since":"$sinceSteady"},"Info":{"ContainerID":"$id"}}""",
            System.nanoTime())((fr, _) => got += fr)
          val expect = sent(c).map { case (n, s, t) => storedFrame(s, n, t) }
          val bad = expect.indices.find(i => i >= got.size || !java.util.Arrays.equals(expect(i), got(i)))
          if (res.err.nonEmpty) rec.fail(s"final.$id", res.err.get)
          else if (got.size != expect.size || bad.nonEmpty)
            rec.wrong(s"final.$id", s"returned ${got.size} of ${expect.size} lines; " +
              s"first mismatch at ${bad.getOrElse(-1)}")
        } catch { case NonFatal(e) => rec.fail(s"final.$id", e.toString) }
      }, s"final-$id")
    }
    finals.foreach(_.start())
    finals.foreach(_.join())
    rec.note("final reads checked")
    rec.attempt()
    val skipped = IngestMetrics.skippedFrames(spark).value
    if (skipped != 0) rec.wrong("ingest.skipped_frames", s"$skipped frames skipped")
    rec.set("ingest.skipped_frames", skipped)
    rec.set("ingest.committed_lines", r.committed)

    // ---- layer readings, after the timed phases (traced runs report them) ---
    if (tracer.enabled) {
      tableStats(r)
      pumpStats(r, wall0)
      rec.note("table and pump read")
      logopsReplay(r, requests.toSeq)
    }
    rec.set("jvm.codecache_mb", Host.codeCacheMb())
    r.stop()
    rec.set("host_end", Host.gauges(spark))
    spark.stop()
    rec.note("logdriver workload done")
  }

  private def maintain(r: Rig, age: java.time.Duration, maxLines: Long): Unit = {
    val t0 = System.nanoTime()
    val st = tracer.span("graft.cleanup") { _ =>
      r.graft.cleanup(Some(age), Some(maxLines))
    }
    val t1 = System.nanoTime()
    val filesBefore = tableFiles(r.root).size
    val n = tracer.span("graft.compact") { _ => r.graft.compact() }
    val t2 = System.nanoTime()
    rec.add("retention.sweep_s", (t1 - t0) / 1e9)
    rec.add("retention.compact_s", (t2 - t1) / 1e9)
    rec.add("retention.dropped", st.dropped)
    rec.add("retention.rewritten", st.rewritten)
    rec.add("retention.partitions_compacted", n)
    rec.add("retention.files_compacted", filesBefore - tableFiles(r.root).size)
  }

  private def tableFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root, "logs")
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.walk(dir)
    try s.iterator().asScala.filter { p =>
      val rel = dir.relativize(p).toString
      rel.endsWith(".parquet") && !rel.split('/').exists(_.startsWith("_"))
    }.toSeq finally s.close()
  }

  private def tableStats(r: Rig): Unit = {
    val files = tableFiles(r.root)
    val bytes = files.map(Files.size).sum
    rec.set("table.files", files.size)
    rec.set("table.bytes", bytes)
    files.groupBy(_.getParent).values.foreach(fs => rec.add("table.files_per_partition", fs.size))
    val lineBytes = r.graft.logs.agg(sum(length(col("line")))).head().getLong(0)
    rec.set("table.line_bytes", lineBytes)
  }

  /** The FIFO pump's bursts, read back from the staging directory. */
  private def pumpStats(r: Rig, steadyWall0: Long): Unit = {
    val staging = Paths.get(r.root, "staging")
    val s = Files.walk(staging)
    val bursts = try s.iterator().asScala.filter(_.toString.endsWith(".pblog")).toSeq finally s.close()
    rec.set("pump.bursts", bursts.size)
    var codecFrames = 0L
    bursts.foreach { b =>
      val bytes = Files.readAllBytes(b)
      rec.add("pump.burst_bytes", bytes.length)
      val staged = Files.getLastModifiedTime(b).toInstant
      val stagedN = LogDriverWorkload.nanos(staged)
      ProtoLogCodec.deframe(bytes).foreach { f =>
        val t = ProtoLogCodec.decode(f).timeNano
        codecFrames += 1
        if (t >= steadyWall0) rec.add("pump.stage_lag_s", (stagedN - t) / 1e9)
      }
    }
    rec.set("pump.frames", codecFrames)
  }

  /** Traced only: the client's ReadLogs replayed in-process through
    * `Graft.readLogs`, timed as plan build and execution, with the scan
    * figures of their Spark work.
    */
  private def logopsReplay(r: Rig, reqs: Seq[(String, String, Option[String], Option[String], Long)]): Unit = {
    val sample = new Random(rnd.nextLong()).shuffle(reqs).take(24)
    listeners.foreach(_.settle(spark, "logops"))
    spark.sparkContext.setJobGroup("logops", "logops replay")
    var rows = 0L
    sample.foreach { case (_, id, since, until, tail) =>
      val t0 = System.nanoTime()
      val df = tracer.span("graft.readLogs") { _ => r.graft.readLogs(Some(id), since, until, tail) }
      val t1 = System.nanoTime()
      rows += df.select("seq", "message").collect().length
      rec.add("logops.build_s", (t1 - t0) / 1e9)
      rec.add("logops.exec_s", (System.nanoTime() - t1) / 1e9)
    }
    spark.sparkContext.clearJobGroup()
    listeners.foreach(_.settle(spark, ""))
    rec.set("logops.reads", sample.size)
    rec.set("logops.rows_returned", rows)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

object LogDriverWorkload {
  def nanos(i: Instant): Long = i.getEpochSecond * 1000000000L + i.getNano
}
