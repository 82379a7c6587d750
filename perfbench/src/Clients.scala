package perfbench

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{HttpURLConnection, InetSocketAddress, Socket, URI}
import java.nio.charset.StandardCharsets.UTF_8

/** A server-side refusal or error reply, classified by its status code. */
final class ServerError(val code: String, msg: String) extends RuntimeException(s"$code: $msg")

/** Minimal Bolt 4.4 client written from the published protocol
  * (handshake, chunked framing, PackStream v1): what a driver session
  * does for an autocommit read, and nothing that shares code with the
  * server under test. Not thread-safe: one connection per client. */
final class BoltClient(port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress("127.0.0.1", port), 10000)
  sock.setSoTimeout(120000)
  private val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
  private var bytesIn = 0L

  out.writeInt(0x6060B017)
  out.writeInt(0x00000404); out.writeInt(0); out.writeInt(0); out.writeInt(0)
  out.flush()
  require(in.readInt() == 0x00000404, "server did not accept Bolt 4.4")
  send(0x01, Seq(Map("user_agent" -> "perfbench/1", "scheme" -> "none")))
  expectSuccess(pullPending = false)

  /** Timings of one autocommit statement, in nanoseconds since its RUN. */
  final case class Result(rows: Seq[Seq[Any]], runNs: Long, totalNs: Long, bytes: Long)

  /** RUN then PULL all; `runNs` ends at RUN's SUCCESS, `totalNs` at the
    * final PULL SUCCESS. A FAILURE is reset and thrown as [[ServerError]]. */
  def run(query: String, params: Map[String, Any]): Result = {
    val b0 = bytesIn
    val t0 = System.nanoTime()
    send(0x10, Seq(query, params, Map.empty[String, Any]))
    send(0x3F, Seq(Map("n" -> -1L)))
    expectSuccess(pullPending = true)
    val t1 = System.nanoTime()
    val rows = Vector.newBuilder[Seq[Any]]
    var done = false
    while (!done) {
      val (tag, fields) = readMessage()
      tag match {
        case 0x71 => rows += fields.head.asInstanceOf[Seq[Any]]
        case 0x70 => done = true
        case _ => throw failed(tag, fields, pullPending = false)
      }
    }
    val t2 = System.nanoTime()
    Result(rows.result(), t1 - t0, t2 - t0, bytesIn - b0)
  }

  private def failed(tag: Int, fields: Seq[Any], pullPending: Boolean): ServerError = {
    val meta = fields.headOption.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty[String, Any])
    // after a FAILURE the server IGNOREs until RESET: drain the pipelined
    // PULL's reply, then reset the connection for the next statement
    if (tag == 0x7F) {
      if (pullPending) readMessage()
      send(0x0F, Nil); expectSuccess(pullPending = false)
    }
    new ServerError(String.valueOf(meta.getOrElse("code", f"tag 0x$tag%02X")),
      String.valueOf(meta.getOrElse("message", "")))
  }

  private def expectSuccess(pullPending: Boolean): Map[String, Any] = {
    val (tag, fields) = readMessage()
    if (tag != 0x70) throw failed(tag, fields, pullPending)
    fields.headOption.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty)
  }

  private def send(tag: Int, fields: Seq[Any]): Unit = {
    val buf = new ByteArrayOutputStream()
    val d = new DataOutputStream(buf)
    d.writeByte(0xB0 + fields.size); d.writeByte(tag)
    fields.foreach(Pack.write(d, _))
    val bytes = buf.toByteArray
    var off = 0
    while (off < bytes.length) {
      val n = math.min(0xFFFF, bytes.length - off)
      out.writeShort(n); out.write(bytes, off, n); off += n
    }
    out.writeShort(0)
    out.flush()
  }

  private def readMessage(): (Int, Seq[Any]) = {
    val buf = new ByteArrayOutputStream()
    var n = in.readUnsignedShort()
    while (n != 0) {
      val chunk = new Array[Byte](n)
      in.readFully(chunk); buf.write(chunk)
      bytesIn += n + 2
      n = in.readUnsignedShort()
    }
    bytesIn += 2
    val d = new DataInputStream(new java.io.ByteArrayInputStream(buf.toByteArray))
    val marker = d.readUnsignedByte()
    if (marker < 0xB0 || marker > 0xBF) throw new EOFException("not a Bolt message")
    val tag = d.readUnsignedByte()
    (tag, Seq.fill(marker - 0xB0)(Pack.read(d)))
  }

  def close(): Unit = {
    try { send(0x02, Nil) } catch { case _: Exception => () }
    sock.close()
  }
}

/** PackStream v1 values: null, Boolean, Long, Double, String, List, Map;
  * structures (nodes, relationships) decode to their field list. */
object Pack {
  def write(out: DataOutputStream, v: Any): Unit = v match {
    case null => out.writeByte(0xC0)
    case b: Boolean => out.writeByte(if (b) 0xC3 else 0xC2)
    case i: Int => write(out, i.toLong)
    case l: Long =>
      if (l >= -16 && l <= 127) out.writeByte(l.toInt)
      else if (l >= Int.MinValue && l <= Int.MaxValue) { out.writeByte(0xCA); out.writeInt(l.toInt) }
      else { out.writeByte(0xCB); out.writeLong(l) }
    case d: Double => out.writeByte(0xC1); out.writeDouble(d)
    case s: String =>
      val b = s.getBytes(UTF_8)
      if (b.length < 16) out.writeByte(0x80 + b.length)
      else if (b.length < 256) { out.writeByte(0xD0); out.writeByte(b.length) }
      else if (b.length < 65536) { out.writeByte(0xD1); out.writeShort(b.length) }
      else { out.writeByte(0xD2); out.writeInt(b.length) }
      out.write(b)
    case m: Map[_, _] =>
      header(out, m.size, 0xA0, 0xD8)
      m.foreach { case (k, x) => write(out, String.valueOf(k)); write(out, x) }
    case xs: Iterable[_] =>
      header(out, xs.size, 0x90, 0xD4)
      xs.foreach(write(out, _))
    case other => throw new IllegalArgumentException(s"cannot pack ${other.getClass}")
  }

  private def header(out: DataOutputStream, n: Int, tiny: Int, wide: Int): Unit =
    if (n < 16) out.writeByte(tiny + n)
    else if (n < 256) { out.writeByte(wide); out.writeByte(n) }
    else if (n < 65536) { out.writeByte(wide + 1); out.writeShort(n) }
    else { out.writeByte(wide + 2); out.writeInt(n) }

  def read(in: DataInputStream): Any = {
    val m = in.readUnsignedByte()
    if (m <= 0x7F) m.toLong
    else if (m >= 0xF0) (m - 0x100).toLong
    else if (m >= 0x80 && m <= 0x8F) str(in, m - 0x80)
    else if (m >= 0x90 && m <= 0x9F) Seq.fill(m - 0x90)(read(in))
    else if (m >= 0xA0 && m <= 0xAF) map(in, m - 0xA0)
    else if (m >= 0xB0 && m <= 0xBF) { in.readUnsignedByte(); Seq.fill(m - 0xB0)(read(in)) }
    else m match {
      case 0xC0 => null
      case 0xC1 => in.readDouble()
      case 0xC2 => false
      case 0xC3 => true
      case 0xC8 => in.readByte().toLong
      case 0xC9 => in.readShort().toLong
      case 0xCA => in.readInt().toLong
      case 0xCB => in.readLong()
      case 0xD0 => str(in, in.readUnsignedByte())
      case 0xD1 => str(in, in.readUnsignedShort())
      case 0xD2 => str(in, in.readInt())
      case 0xD4 => Seq.fill(in.readUnsignedByte())(read(in))
      case 0xD5 => Seq.fill(in.readUnsignedShort())(read(in))
      case 0xD6 => Seq.fill(in.readInt())(read(in))
      case 0xD8 => map(in, in.readUnsignedByte())
      case 0xD9 => map(in, in.readUnsignedShort())
      case 0xDA => map(in, in.readInt())
      case other => throw new IllegalArgumentException(f"unknown PackStream marker 0x$other%02X")
    }
  }

  private def str(in: DataInputStream, n: Int): String = {
    val b = new Array[Byte](n); in.readFully(b); new String(b, UTF_8)
  }
  private def map(in: DataInputStream, n: Int): Map[String, Any] =
    (0 until n).map(_ => str(in, strLen(in)) -> read(in)).toMap
  private def strLen(in: DataInputStream): Int = {
    val m = in.readUnsignedByte()
    if (m >= 0x80 && m <= 0x8F) m - 0x80
    else m match {
      case 0xD0 => in.readUnsignedByte()
      case 0xD1 => in.readUnsignedShort()
      case 0xD2 => in.readInt()
      case other => throw new IllegalArgumentException(f"map key marker 0x$other%02X")
    }
  }
}

/** The HTTP transactional API as a client sees it: open a transaction
  * with statements, then commit it. JSON via the Jackson Spark ships. */
final class HttpTxClient(port: Int) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val base = s"http://127.0.0.1:$port"

  /** Timings of one open→commit transaction, in nanoseconds. */
  final case class TxTiming(openNs: Long, commitNs: Long)

  private def post(path: String, body: AnyRef): (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val c = URI.create(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(10000); c.setReadTimeout(120000)
    c.setRequestProperty("Content-Type", "application/json")
    val bytes = mapper.writeValueAsBytes(body)
    c.setFixedLengthStreamingMode(bytes.length)
    val o = c.getOutputStream; o.write(bytes); o.close()
    val status = c.getResponseCode
    val s = if (status >= 400) c.getErrorStream else c.getInputStream
    val node = try mapper.readTree(s) finally s.close()
    (status, node)
  }

  private def check(status: Int, node: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val errs = node.path("errors")
    if (status >= 300 || (errs.isArray && errs.size > 0)) {
      val e = errs.path(0)
      throw new ServerError(e.path("code").asText(s"HTTP $status"), e.path("message").asText(""))
    }
  }

  /** `POST /db/neo4j/tx` with one statement, then `POST …/commit`. */
  def openAndCommit(statement: String, params: java.util.Map[String, AnyRef]): TxTiming = {
    val st = new java.util.HashMap[String, AnyRef]()
    st.put("statement", statement); st.put("parameters", params)
    val body = java.util.Map.of[String, AnyRef]("statements", java.util.List.of(st))
    val t0 = System.nanoTime()
    val (s1, n1) = post("/db/neo4j/tx", body)
    check(s1, n1)
    val t1 = System.nanoTime()
    val commit = new URI(n1.path("commit").asText()).getPath
    val (s2, n2) = post(commit, java.util.Map.of("statements", java.util.List.of()))
    check(s2, n2)
    TxTiming(t1 - t0, System.nanoTime() - t1)
  }

  def available(): Int = {
    val c = URI.create(base + "/db/neo4j/cluster/available").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try { c.getResponseCode } finally c.disconnect()
  }
}
