package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** A PostgreSQL v3 simple-query client: enough of the protocol to send a
  * statement and read its rows, command tag or error. */
final class Wire(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(120000)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  startup()

  private def startup(): Unit = {
    val body = new ByteArrayOutputStream()
    val d = new DataOutputStream(body)
    d.writeInt(196608)
    def c(s: String): Unit = { d.write(s.getBytes(UTF_8)); d.writeByte(0) }
    c("user"); c("perfbench"); c("database"); c("graft"); d.writeByte(0)
    out.writeInt(body.size + 4); body.writeTo(out); out.flush()
    val r = untilReady()
    r.error.foreach(e => throw new IllegalStateException(s"startup refused: $e"))
  }

  def query(sql: String): Wire.Reply = {
    val b = sql.getBytes(UTF_8)
    out.writeByte('Q'); out.writeInt(b.length + 5); out.write(b); out.writeByte(0); out.flush()
    untilReady()
  }

  private def untilReady(): Wire.Reply = {
    val rows = Seq.newBuilder[Seq[Option[String]]]
    var tag = ""
    var error: Option[String] = None
    var done = false
    while (!done) {
      val t = in.readByte().toChar
      val body = new Array[Byte](in.readInt() - 4)
      in.readFully(body)
      t match {
        case 'D' => rows += row(body)
        case 'C' => tag = new String(body.takeWhile(_ != 0), UTF_8)
        case 'E' => error = Some(errorText(body))
        case 'Z' => done = true
        case _ => ()
      }
    }
    Wire.Reply(rows.result(), tag, error)
  }

  private def row(b: Array[Byte]): Seq[Option[String]] = {
    val d = new DataInputStream(new java.io.ByteArrayInputStream(b))
    (0 until d.readShort()).map { _ =>
      val n = d.readInt()
      if (n < 0) None else { val v = new Array[Byte](n); d.readFully(v); Some(new String(v, UTF_8)) }
    }
  }

  /** The 'M' (message) field of an ErrorResponse. */
  private def errorText(b: Array[Byte]): String = {
    var i = 0
    var msg = "error"
    while (i < b.length && b(i) != 0) {
      val code = b(i).toChar
      val end = b.indexOf(0.toByte, i + 1)
      if (code == 'M') msg = new String(b, i + 1, end - i - 1, UTF_8)
      i = end + 1
    }
    msg
  }

  def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Throwable => () }
    sock.close()
  }
}

object Wire {
  /** Rows (text columns, null as None), the command tag, and the error
    * message if the statement failed. */
  final case class Reply(rows: Seq[Seq[Option[String]]], tag: String, error: Option[String])
}
