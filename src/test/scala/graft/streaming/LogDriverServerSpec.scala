package graft.streaming

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.SocketChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.{Graft, SparkSpec}
import graft.functions.ProtoLogCodec
import graft.functions.ProtoLogCodec.LogEntry

/** The plugin wire protocol end-to-end over a real unix socket: recorded
  * docker-daemon request shapes (docker.rs:59-187's serde structs) round-
  * tripped through StartLogging → ReadLogs (plain and follow) →
  * StopLogging, with the framed-protobuf response body deframed and
  * decoded back to lines.
  */
class LogDriverServerSpec extends SparkSpec {

  private val t0 = 1700000000000000000L

  private def entryBytes(i: Int): Array[Byte] =
    ProtoLogCodec.frame(ProtoLogCodec.encode(LogEntry(
      "stdout", t0 + i * 1000000000L, s"wire $i".getBytes(UTF_8),
      partial = false, None)))

  /** One-shot HTTP POST over the unix socket; returns the raw response. */
  private def post(sock: java.nio.file.Path, path: String, body: String): Array[Byte] = {
    val ch = SocketChannel.open(StandardProtocolFamily.UNIX)
    try {
      ch.connect(UnixDomainSocketAddress.of(sock))
      val payload = body.getBytes(UTF_8)
      // docker's plugin client often omits content-type; the adapter must
      // treat the body as JSON anyway (normalize_dockerjson, main.rs:17)
      val head = s"POST $path HTTP/1.1\r\nHost: d\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n"
      ch.write(ByteBuffer.wrap(head.getBytes(UTF_8)))
      ch.write(ByteBuffer.wrap(payload))
      val out = new java.io.ByteArrayOutputStream()
      val buf = ByteBuffer.allocate(64 * 1024)
      while (ch.read(buf) >= 0) {
        buf.flip()
        val arr = new Array[Byte](buf.remaining())
        buf.get(arr)
        out.write(arr)
        buf.clear()
      }
      out.toByteArray
    } finally ch.close()
  }

  private def bodyOf(response: Array[Byte]): Array[Byte] = {
    val s = response
    var i = 0
    while (!(s(i) == '\r' && s(i + 1) == '\n' && s(i + 2) == '\r' && s(i + 3) == '\n')) i += 1
    val headers = new String(s, 0, i, UTF_8)
    val rest = java.util.Arrays.copyOfRange(s, i + 4, s.length)
    if (headers.toLowerCase.contains("transfer-encoding: chunked")) dechunk(rest)
    else rest
  }

  private def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < b.length) {
      val lineEnd = {
        var j = i
        while (!(b(j) == '\r' && b(j + 1) == '\n')) j += 1
        j
      }
      val size = Integer.parseInt(new String(b, i, lineEnd - i, UTF_8).trim, 16)
      if (size == 0) return out.toByteArray
      out.write(b, lineEnd + 2, size)
      i = lineEnd + 2 + size + 2
    }
    out.toByteArray
  }

  private def decodedLines(framedBody: Array[Byte]): Seq[String] =
    ProtoLogCodec.deframe(framedBody).map(m =>
      new String(ProtoLogCodec.decode(m).line, UTF_8)).toSeq

  private def jsonStr(response: Array[Byte]): String =
    new String(bodyOf(response), UTF_8)

  test("Activate / Capabilities / fallback speak the recorded shapes") {
    val root = Files.createTempDirectory("graft-wire0").toString
    val sock = Paths.get(root, "graft.sock")
    val server = new LogDriverServer(Graft(spark, root), sock)
    server.start()
    try {
      assert(jsonStr(post(sock, "/Plugin.Activate", "")) ===
        """{"Implements":["LogDriver"]}""")
      assert(jsonStr(post(sock, "/LogDriver.Capabilities", "{}")) ===
        """{"Cap":{"ReadLogs":true}}""")
      assert(jsonStr(post(sock, "/NoSuch.Endpoint", "{}")) === "not found")
    } finally server.stop()
  }

  test("StartLogging → ReadLogs → follow picks up late bursts → StopLogging") {
    val root = Files.createTempDirectory("graft-wire1").toString
    val sock = Paths.get(root, "graft.sock")
    val g = Graft(spark, root)
    val server = new LogDriverServer(g, sock,
      followPollMs = 200L, followIdlePolls = 4)
    server.start()
    try {
      // the "fifo" docker hands the driver — a framed protobuf stream
      val fifo = Paths.get(root, "c1.fifo")
      Files.write(fifo, (0 until 5).map(entryBytes)
        .foldLeft(Array.emptyByteArray)(_ ++ _))

      // recorded StartLoggingConf shape (docker.rs:52-57)
      val startReq =
        s"""{"File": "$fifo", "Info": {"Config": {},
           |  "ContainerID": "c1", "ContainerName": "/wire_test",
           |  "DaemonName": "docker", "LogPath": ""}}""".stripMargin
      assert(jsonStr(post(sock, "/LogDriver.StartLogging", startReq)) ===
        """{"Err":""}""")

      // pump lands the fifo into staging; the 100 ms ingest commits it
      def committed(): Long =
        if (!Files.exists(Paths.get(root, "logs"))) 0L
        else g.countLogs("c1")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (committed() < 5 && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(committed() === 5)

      // recorded ReadLogsConf shape with docker's zero-time sentinels
      val readReq =
        """{"Config": {"Follow": false, "Since": "0001-01-01T00:00:00Z",
          |  "Tail": -1, "Until": "0001-01-01T00:00:00Z"},
          | "Info": {"Config": {}, "ContainerID": "c1"}}""".stripMargin
      val lines = decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", readReq)))
      assert(lines === (0 until 5).map(i => s"wire $i\n"))

      // tail applies when not following
      val tailReq = readReq.replace("\"Tail\": -1", "\"Tail\": 2")
      assert(decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", tailReq)))
        === Seq("wire 3\n", "wire 4\n"))

      // follow: a late burst staged while the stream is open must be
      // emitted before the idle give-up closes it. A second follower whose
      // Since lies after the committed lines starts with an empty range;
      // its polls must keep that range and deliver only the late burst.
      val followReq = readReq.replace("\"Follow\": false", "\"Follow\": true")
      val sinceReq = followReq.replaceFirst("\"Since\": \"[^\"]*\"",
        s"\"Since\": \"${java.time.Instant.ofEpochSecond(0, t0 + 4500000000L)}\"")
      val readers = Seq(followReq, sinceReq).map { req =>
        val collected = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
        val reader = new Thread(() => collected.set(
          decodedLines(bodyOf(post(sock, "/LogDriver.ReadLogs", req)))))
        reader.start()
        (reader, collected)
      }
      Thread.sleep(400) // initial batches emitted, streams idling
      val late = Paths.get(g.stagingDir("c1"))
      Files.write(late.resolve("late.pblog"),
        (5 until 8).map(entryBytes).foldLeft(Array.emptyByteArray)(_ ++ _))
      readers.foreach(_._1.join(30000))
      assert(readers.forall(!_._1.isAlive), "follow stream must give up after idle polls")
      assert(readers(0)._2.get() === (0 until 8).map(i => s"wire $i\n"))
      assert(readers(1)._2.get() === (5 until 8).map(i => s"wire $i\n"))

      // StopLogging resolves by fifo path (docker.rs:88-91)
      assert(jsonStr(post(sock, "/LogDriver.StopLogging",
        s"""{"File": "$fifo"}""")) === """{"Err":""}""")
      assert(g.activeContainers.isEmpty)
    } finally {
      server.stop()
      g.stopAll()
    }
  }

  test("StartLogging with an invalid option map returns the parse error") {
    val root = Files.createTempDirectory("graft-wire2").toString
    val sock = Paths.get(root, "graft.sock")
    val server = new LogDriverServer(Graft(spark, root), sock)
    server.start()
    try {
      val req =
        s"""{"File": "$root/x.fifo", "Info": {
           |  "Config": {"cleanup_age": "10 parsecs"},
           |  "ContainerID": "bad"}}""".stripMargin
      val err = jsonStr(post(sock, "/LogDriver.StartLogging", req))
      assert(err.startsWith("""{"Err":""""))
      assert(err !== """{"Err":""}""")
    } finally server.stop()
  }
}
