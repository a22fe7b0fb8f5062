package perfbench

import java.io.{ByteArrayOutputStream, EOFException, InputStream}
import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.{Channels, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

/** The docker daemon's side of the log-driver plugin protocol: one HTTP/1.1
  * POST per connection over the plugin's unix socket.
  */
object UnixHttp {

  /** What a ReadLogs client observed. */
  final case class Stream(ttfbNanos: Long, frames: Int, err: Option[String])

  private def open(sock: Path, path: String, body: String): (SocketChannel, InputStream) = {
    val ch = SocketChannel.open(StandardProtocolFamily.UNIX)
    ch.connect(UnixDomainSocketAddress.of(sock))
    val bytes = body.getBytes(UTF_8)
    val head = s"POST $path HTTP/1.1\r\nHost: plugin\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${bytes.length}\r\n\r\n"
    val buf = ByteBuffer.wrap(head.getBytes(UTF_8) ++ bytes)
    while (buf.hasRemaining) ch.write(buf)
    (ch, new java.io.BufferedInputStream(Channels.newInputStream(ch), 1 << 16))
  }

  private def line(in: InputStream): String = {
    val out = new ByteArrayOutputStream()
    var b = in.read()
    while (b >= 0 && b != '\n') { if (b != '\r') out.write(b); b = in.read() }
    if (b < 0 && out.size() == 0) throw new EOFException("connection closed")
    out.toString("ISO-8859-1")
  }

  private def headers(in: InputStream): Map[String, String] = {
    val status = line(in)
    require(status.startsWith("HTTP/1.1 200"), s"bad status: $status")
    Iterator.continually(line(in)).takeWhile(_.nonEmpty).map { h =>
      val i = h.indexOf(':')
      h.substring(0, i).trim.toLowerCase -> h.substring(i + 1).trim
    }.toMap
  }

  private def readN(in: InputStream, n: Int): Array[Byte] = {
    val a = in.readNBytes(n)
    if (a.length < n) throw new EOFException("truncated body")
    a
  }

  /** POST a JSON body and return the (non-streamed) response body. */
  def post(sock: Path, path: String, body: String): String = {
    val (ch, in) = open(sock, path, body)
    try {
      val h = headers(in)
      new String(readN(in, h.getOrElse("content-length", "0").toInt), UTF_8)
    } finally ch.close()
  }

  /** POST /LogDriver.ReadLogs and deframe the chunked response: `onFrame`
    * gets every u32-length-prefixed LogEntry frame (prefix included) with
    * the nanoTime its last byte arrived. An `{"Err": ...}` JSON answer is
    * returned as `err`. `onOpen` receives the connection, so a follower
    * can be hung up from another thread.
    */
  def readLogs(sock: Path, body: String, started: Long,
      onOpen: SocketChannel => Unit = _ => ())(
      onFrame: (Array[Byte], Long) => Unit): Stream = {
    val (ch, in) = open(sock, "/LogDriver.ReadLogs", body)
    onOpen(ch)
    try {
      val h = headers(in)
      val ttfb = System.nanoTime() - started
      if (!h.get("transfer-encoding").contains("chunked")) {
        val text = new String(readN(in, h.getOrElse("content-length", "0").toInt), UTF_8)
        return Stream(ttfb, 0, Some(text))
      }
      // chunks carry whole frames (the server writes one frame per chunk),
      // but deframe across chunk boundaries all the same
      var pending = Array.emptyByteArray
      var frames = 0
      var size = Integer.parseInt(line(in).trim, 16)
      while (size > 0) {
        pending = pending ++ readN(in, size)
        line(in)
        val now = System.nanoTime()
        var off = 0
        var done = false
        while (!done && pending.length - off >= 4) {
          val len = ByteBuffer.wrap(pending, off, 4).getInt
          if (pending.length - off - 4 < len) done = true
          else {
            onFrame(java.util.Arrays.copyOfRange(pending, off, off + 4 + len), now)
            frames += 1
            off += 4 + len
          }
        }
        pending = java.util.Arrays.copyOfRange(pending, off, pending.length)
        size = Integer.parseInt(line(in).trim, 16)
      }
      Stream(ttfb, frames, None)
    } finally ch.close()
  }
}
