package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sdk.GraftClient

/** Rows as text, the common denominator of the three protocols. */
final case class Reply(rows: Seq[Seq[String]], bytes: Long)

/** One closed-loop client session on one protocol tier. */
trait Tier {
  def name: String
  def query(sql: String): Reply
  def close(): Unit
}

/** Native binary protocol through the SDK's connection pool. `bytes`
  * is unknown here (the pool hides the socket), so it reports 0. */
final class NativeTier(port: Int) extends Tier {
  val name = "native"
  val client: GraftClient =
    GraftClient.open(GraftClient.Options(port = port, maxOpenConns = 2, maxIdleConns = 2))
  private var acquires = 0L
  private var reused = 0L

  /** Acquires served by an already-open idle connection over all
    * acquires, observed from the pool's public stats before each call. */
  def reuseRatio: Double = if (acquires == 0) 0.0 else reused.toDouble / acquires

  private def counted[A](body: => A): A = {
    acquires += 1
    if (client.stats.idle > 0) reused += 1
    body
  }

  def query(sql: String): Reply = counted {
    Reply(client.query(sql).rows.map(_.values), 0L)
  }

  def close(): Unit = client.close()
}

/** Minimal Postgres v3 simple-query client: startup, 'Q', and the
  * T/D/C/Z replies in text format. */
final class PgTier(port: Int) extends Tier {
  val name = "pgwire"
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  startup()

  private def startup(): Unit = {
    val params = Seq("user" -> "bench", "database" -> "default")
      .flatMap { case (k, v) => Seq(k, v) }
      .map(_.getBytes(UTF_8) :+ 0.toByte).reduce(_ ++ _) :+ 0.toByte
    out.writeInt(8 + params.length)
    out.writeInt(196608)
    out.write(params)
    out.flush()
    drain()
  }

  /** Reads messages up to ReadyForQuery; returns rows and bytes read. */
  private def drain(): Reply = {
    val rows = Seq.newBuilder[Seq[String]]
    var bytes = 0L
    var error: String = null
    var done = false
    while (!done) {
      val tpe = in.readByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      bytes += len + 1
      tpe match {
        case 'D' =>
          val bb = java.nio.ByteBuffer.wrap(body)
          val n = bb.getShort.toInt
          rows += (0 until n).map { _ =>
            val l = bb.getInt
            if (l < 0) null
            else { val s = new String(body, bb.position(), l, UTF_8); bb.position(bb.position() + l); s }
          }
        case 'E' => // fields: a type byte and a C string each; 'M' is the message
          error = new String(body, UTF_8).split('\u0000').find(_.startsWith("M"))
            .map(_.drop(1)).getOrElse("error")
        case 'Z' => done = true
        case _ =>
      }
    }
    if (error != null) throw new IllegalStateException(s"pgwire: $error")
    Reply(rows.result(), bytes)
  }

  def query(sql: String): Reply = {
    val b = sql.getBytes(UTF_8)
    out.writeByte('Q')
    out.writeInt(4 + b.length + 1)
    out.write(b)
    out.writeByte(0)
    out.flush()
    drain()
  }

  def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Exception => }
    sock.close()
  }
}

/** HTTP `/query` with a JSON body, one request per statement. */
final class HttpTier(port: Int) extends Tier {
  val name = "http"
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/query")
  private val mapper = new ObjectMapper()

  def query(sql: String): Reply = {
    val body = mapper.writeValueAsString(java.util.Map.of("query", sql))
    val resp = http.send(
      HttpRequest.newBuilder(uri).POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    val tree = mapper.readTree(resp.body())
    if (resp.statusCode() != 200 || tree.has("error"))
      throw new IllegalStateException(s"http ${resp.statusCode()}: ${tree.path("error").asText()}")
    val rows = Seq.newBuilder[Seq[String]]
    tree.path("data").elements().forEachRemaining { r =>
      val cells = Seq.newBuilder[String]
      r.elements().forEachRemaining(c => cells += (if (c.isNull) null else c.asText()))
      rows += cells.result()
    }
    Reply(rows.result(), resp.body().length.toLong)
  }

  def close(): Unit = ()
}
