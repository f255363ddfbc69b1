package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine
import graft.server.pgwire.PgWireServer

/** Drives the pg-wire slice with a hand-rolled v3-protocol client:
  * SSLRequest refusal, startup handshake, simple-query results, and
  * the reference's CommandComplete tags
  * (protocol.go:11-44, sql_parser_middleware.go:377-418). */
class PgWireSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)
  lazy val server: PgWireServer = {
    val s = new PgWireServer(engine, port = 0)
    s.start()
    s
  }

  /** Minimal psql-protocol client. */
  final class Client(ssl: Boolean) {
    private val sock = new Socket("127.0.0.1", server.boundPort)
    private val in = new DataInputStream(sock.getInputStream)
    private val out = new DataOutputStream(sock.getOutputStream)
    val params = scala.collection.mutable.Map[String, String]()

    // optional SSLRequest: server must answer 'N'
    if (ssl) {
      out.writeInt(8); out.writeInt(80877103); out.flush()
      assert(in.readUnsignedByte() == 'N')
    }
    // StartupMessage: version 3.0 + params
    locally {
      val body = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(body)
      d.writeInt(196608) // 3 << 16
      for ((k, v) <- Seq("user" -> "tester", "database" -> "default")) {
        d.write(k.getBytes(UTF_8)); d.writeByte(0)
        d.write(v.getBytes(UTF_8)); d.writeByte(0)
      }
      d.writeByte(0)
      out.writeInt(4 + body.size()); body.writeTo(out); out.flush()
    }

    /** Reads messages until ReadyForQuery; returns (typeByte, payload) list. */
    def drain(): Seq[(Char, Array[Byte])] = {
      val msgs = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val tpe = in.readUnsignedByte().toChar
        val len = in.readInt()
        val payload = new Array[Byte](len - 4)
        in.readFully(payload)
        msgs += ((tpe, payload))
        if (tpe == 'Z') done = true
      }
      msgs.result()
    }

    val startupMsgs: Seq[(Char, Array[Byte])] = drain()

    def query(sql: String): Seq[(Char, Array[Byte])] = {
      val b = sql.getBytes(UTF_8)
      out.writeByte('Q'); out.writeInt(4 + b.length + 1)
      out.write(b); out.writeByte(0); out.flush()
      drain()
    }

    def close(): Unit = {
      out.writeByte('X'); out.writeInt(4); out.flush()
      sock.close()
    }
  }

  private def cstr(b: Array[Byte]): String = {
    val end = b.indexOf(0.toByte)
    new String(b, 0, if (end < 0) b.length else end, UTF_8)
  }

  private def tagOf(msgs: Seq[(Char, Array[Byte])]): String =
    cstr(msgs.find(_._1 == 'C').get._2)

  /** Text values of one DataRow payload. */
  private def rowValues(payload: Array[Byte]): Seq[String] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(payload))
    val n = in.readShort()
    (0 until n).map { _ =>
      val len = in.readInt()
      if (len < 0) null
      else { val b = new Array[Byte](len); in.readFully(b); new String(b, UTF_8) }
    }
  }

  test("startup handshake: SSL refusal, AuthenticationOk, params, ReadyForQuery") {
    val c = new Client(ssl = true)
    val types = c.startupMsgs.map(_._1)
    assert(types.head == 'R') // AuthenticationOk first
    assert(types.contains('S') && types.contains('K'))
    assert(types.last == 'Z')
    // AuthenticationOk body is int32 0
    assert(java.nio.ByteBuffer.wrap(c.startupMsgs.head._2).getInt == 0)
    c.close()
  }

  test("simple query: RowDescription + DataRows + SELECT tag") {
    val c = new Client(ssl = false)
    val msgs = c.query("SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, NULL ORDER BY a")
    assert(msgs.map(_._1).startsWith(Seq('T', 'D', 'D', 'C')))
    assert(rowValues(msgs(1)._2) == Seq("1", "x"))
    assert(rowValues(msgs(2)._2) == Seq("2", null))
    assert(tagOf(msgs) == "SELECT 2")
    c.close()
  }

  test("DDL + DML produce the reference CommandComplete tags") {
    val c = new Client(ssl = false)
    assert(tagOf(c.query("CREATE DATABASE IF NOT EXISTS pgw")) == "CREATE DATABASE")
    c.query("DROP TABLE IF EXISTS pgw.t")
    assert(tagOf(c.query(
      "CREATE TABLE pgw.t (id int64 NOT NULL, v string) STORAGE filesystem"))
      == "CREATE TABLE")
    assert(tagOf(c.query("INSERT INTO pgw.t VALUES (1,'a'),(2,'b')")) == "INSERT 0 2")
    assert(tagOf(c.query("UPDATE pgw.t SET v = 'z' WHERE id = 1")) == "UPDATE 1")
    assert(tagOf(c.query("DELETE FROM pgw.t WHERE id = 2")) == "DELETE 1")
    assert(tagOf(c.query("SHOW TABLES")) == "SHOW")
    assert(tagOf(c.query("DROP TABLE pgw.t")) == "DROP TABLE")
    c.close()
  }

  test("errors arrive as ErrorResponse and the session continues") {
    val c = new Client(ssl = false)
    val msgs = c.query("SELECT * FROM no_such_table_pgw")
    val err = msgs.find(_._1 == 'E')
    assert(err.isDefined)
    // severity/code/message fields, null-separated
    val fields = new String(err.get._2, UTF_8)
    assert(fields.contains("ERROR") && fields.contains("XX000"))
    assert(msgs.last._1 == 'Z')
    // connection still works
    assert(tagOf(c.query("SELECT 5 AS v")) == "SELECT 1")
    c.close()
  }

  test("extended protocol: Parse/Bind/Execute with parameters") {
    val c = new Client(ssl = false)
    // raw access to the socket streams via a second client is clunky;
    // reuse the Client's underlying connection through reflection-free
    // helpers added below
    val sock = new Socket("127.0.0.1", server.boundPort)
    val sin = new DataInputStream(sock.getInputStream)
    val sout = new DataOutputStream(sock.getOutputStream)
    // startup
    val body = new java.io.ByteArrayOutputStream()
    val bd = new DataOutputStream(body)
    bd.writeInt(196608)
    bd.write("user".getBytes(UTF_8)); bd.writeByte(0)
    bd.write("t".getBytes(UTF_8)); bd.writeByte(0)
    bd.writeByte(0)
    sout.writeInt(4 + body.size()); body.writeTo(sout); sout.flush()
    def drain(): Seq[(Char, Array[Byte])] = {
      val out = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val tpe = sin.readUnsignedByte().toChar
        val len = sin.readInt()
        val p = new Array[Byte](len - 4); sin.readFully(p)
        out += ((tpe, p))
        if (tpe == 'Z') done = true
      }
      out.result()
    }
    drain() // startup messages
    def msg(tpe: Char, bodyFn: DataOutputStream => Unit): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      bodyFn(new DataOutputStream(buf))
      sout.writeByte(tpe); sout.writeInt(4 + buf.size()); buf.writeTo(sout)
      sout.flush()
    }
    def cz(d: DataOutputStream, s: String): Unit = {
      d.write(s.getBytes(UTF_8)); d.writeByte(0)
    }
    // Parse named statement with two parameters
    msg('P', d => { cz(d, "s1"); cz(d, "SELECT $1 + $2 AS total, 'p' AS tag"); d.writeShort(0) })
    // Bind portal with text params 40 and 2
    msg('B', d => {
      cz(d, "p1"); cz(d, "s1")
      d.writeShort(0) // no format codes
      d.writeShort(2)
      d.writeInt(2); d.write("40".getBytes(UTF_8))
      d.writeInt(1); d.write("2".getBytes(UTF_8))
      d.writeShort(0) // no result formats
    })
    // Describe portal, Execute, Sync
    msg('D', d => { d.writeByte('P'); cz(d, "p1") })
    msg('E', d => { cz(d, "p1"); d.writeInt(0) })
    msg('S', _ => ())
    val flow = drain()
    val types = flow.map(_._1)
    assert(types.startsWith(Seq('1', '2', 'T', 'D', 'C')), s"got $types")
    assert(rowValues(flow(3)._2) == Seq("42", "p"))
    assert(cstr(flow(4)._2) == "SELECT 1")
    // a parameter VALUE containing a $1 token must stay data
    msg('P', d => { cz(d, "s2"); cz(d, "SELECT $1 AS a, $2 AS b"); d.writeShort(0) })
    msg('B', d => {
      cz(d, "p3"); cz(d, "s2")
      d.writeShort(0); d.writeShort(2)
      d.writeInt(1); d.write("x".getBytes(UTF_8))
      d.writeInt(6); d.write("see $1".getBytes(UTF_8))
      d.writeShort(0)
    })
    msg('E', d => { cz(d, "p3"); d.writeInt(0) })
    msg('S', _ => ())
    val flow3 = drain()
    assert(rowValues(flow3.find(_._1 == 'D').get._2) == Seq("x", "see $1"))
    // null parameter binds as NULL
    msg('B', d => {
      cz(d, "p2"); cz(d, "s1")
      d.writeShort(0); d.writeShort(2)
      d.writeInt(-1) // null
      d.writeInt(1); d.write("5".getBytes(UTF_8))
      d.writeShort(0)
    })
    msg('E', d => { cz(d, "p2"); d.writeInt(0) })
    msg('S', _ => ())
    val flow2 = drain()
    assert(rowValues(flow2.find(_._1 == 'D').get._2).head == null)
    // values bind as literals, never as text: spliced in, the `\`
    // escaped its closing quote and ` OR true --` matched all 10 rows
    msg('P', d => { cz(d, "s3"); cz(d, "SELECT id FROM range(10) WHERE " +
      "CAST(id AS STRING) = $1 AND CAST(id AS STRING) = $2"); d.writeShort(0) })
    msg('B', d => {
      cz(d, "p4"); cz(d, "s3")
      d.writeShort(0); d.writeShort(2)
      d.writeInt(1); d.write("\\".getBytes(UTF_8))
      val inj = " OR true --".getBytes(UTF_8)
      d.writeInt(inj.length); d.write(inj)
      d.writeShort(0)
    })
    msg('E', d => { cz(d, "p4"); d.writeInt(0) })
    msg('S', _ => ())
    val flow4 = drain()
    assert(!flow4.exists(_._1 == 'D'), "injected parameters matched rows")
    assert(cstr(flow4.find(_._1 == 'C').get._2) == "SELECT 0")
    // the search terms and k of a table function bind as well
    c.query("CREATE DATABASE IF NOT EXISTS pgwx")
    c.query("DROP TABLE IF EXISTS pgwx.docs")
    c.query("CREATE TABLE pgwx.docs (doc_id int64, text string) STORAGE filesystem")
    c.query("INSERT INTO pgwx.docs VALUES (1, 'the quick brown fox'), " +
      "(2, 'a lazy dog'), (3, 'fox and hound')")
    msg('P', d => { cz(d, "s4"); cz(d, "SELECT doc_id FROM " +
      "INDEX_PROBE(pgwx.docs, 'bm25', doc_id, text, $1, $2) ORDER BY doc_id"); d.writeShort(0) })
    msg('B', d => {
      cz(d, "p5"); cz(d, "s4")
      d.writeShort(0); d.writeShort(2)
      d.writeInt(3); d.write("fox".getBytes(UTF_8))
      d.writeInt(1); d.write("5".getBytes(UTF_8))
      d.writeShort(0)
    })
    msg('E', d => { cz(d, "p5"); d.writeInt(0) })
    msg('S', _ => ())
    val flow5 = drain()
    assert(flow5.filter(_._1 == 'D').map(m => rowValues(m._2)) == Seq(Seq("1"), Seq("3")),
      s"got ${flow5.map(_._1)}")
    c.query("DROP TABLE pgwx.docs")
    sock.close()
    c.close()
  }

  test("unknown message types are refused politely") {
    val sock = new Socket("127.0.0.1", server.boundPort)
    val sin = new DataInputStream(sock.getInputStream)
    val sout = new DataOutputStream(sock.getOutputStream)
    val body = new java.io.ByteArrayOutputStream()
    val bd = new DataOutputStream(body)
    bd.writeInt(196608)
    bd.write("user".getBytes(UTF_8)); bd.writeByte(0)
    bd.write("t".getBytes(UTF_8)); bd.writeByte(0)
    bd.writeByte(0)
    sout.writeInt(4 + body.size()); body.writeTo(sout); sout.flush()
    // drain startup
    var done = false
    while (!done) {
      val tpe = sin.readUnsignedByte().toChar
      val len = sin.readInt(); val p = new Array[Byte](len - 4); sin.readFully(p)
      if (tpe == 'Z') done = true
    }
    // 'F' (FunctionCall) is outside the slice
    sout.writeByte('F'); sout.writeInt(5); sout.writeByte(0); sout.flush()
    val tpe = sin.readUnsignedByte().toChar
    assert(tpe == 'E')
    sock.close()
  }

  test("corrupt frame length tears the connection down without allocating it") {
    val sock = new Socket("127.0.0.1", server.boundPort)
    val sin = new DataInputStream(sock.getInputStream)
    val sout = new DataOutputStream(sock.getOutputStream)
    val body = new java.io.ByteArrayOutputStream()
    val bd = new DataOutputStream(body)
    bd.writeInt(196608)
    bd.write("user".getBytes(UTF_8)); bd.writeByte(0)
    bd.write("t".getBytes(UTF_8)); bd.writeByte(0)
    bd.writeByte(0)
    sout.writeInt(4 + body.size()); body.writeTo(sout); sout.flush()
    var ready = false
    while (!ready) {
      val t = sin.readUnsignedByte().toChar
      val l = sin.readInt(); val p = new Array[Byte](l - 4); sin.readFully(p)
      if (t == 'Z') ready = true
    }
    // a 1.9 GB frame header (round-2 ADVICE: allocated verbatim before)
    sout.writeByte('Q'); sout.writeInt(0x70000000); sout.flush()
    // the server must close the connection promptly, not wait for 1.9 GB
    sock.setSoTimeout(10000)
    val e = intercept[java.io.IOException] {
      while (true) sin.readUnsignedByte()
    }
    assert(e.isInstanceOf[java.io.EOFException] ||
      !e.isInstanceOf[java.net.SocketTimeoutException], s"hung instead of closing: $e")
    sock.close()
    // and the server still serves new connections
    val c = new Client(false)
    assert(c.query("SELECT 5 AS v").exists(_._1 == 'D'))
    c.close()
  }

  test("COPY FROM STDIN bulk-loads rows through the v3 copy sub-protocol") {
    engine.execute("CREATE DATABASE IF NOT EXISTS pgc")
    engine.execute("DROP TABLE IF EXISTS pgc.cp")
    engine.execute(
      "CREATE TABLE pgc.cp (id int64, name string, age int32) STORAGE filesystem")
    val sock = new Socket("127.0.0.1", server.boundPort)
    val sin = new DataInputStream(sock.getInputStream)
    val sout = new DataOutputStream(sock.getOutputStream)
    // startup
    val body = new java.io.ByteArrayOutputStream()
    val bd = new DataOutputStream(body)
    bd.writeInt(196608)
    for ((k, v) <- Seq("user" -> "t", "database" -> "default")) {
      bd.write(k.getBytes(UTF_8)); bd.writeByte(0)
      bd.write(v.getBytes(UTF_8)); bd.writeByte(0)
    }
    bd.writeByte(0)
    sout.writeInt(4 + body.size()); body.writeTo(sout); sout.flush()
    var ready = false
    while (!ready) {
      val t = sin.readUnsignedByte().toChar
      val l = sin.readInt(); val p = new Array[Byte](l - 4); sin.readFully(p)
      if (t == 'Z') ready = true
    }
    // COPY statement
    val q = "COPY pgc.cp (id, name, age) FROM STDIN".getBytes(UTF_8)
    sout.writeByte('Q'); sout.writeInt(4 + q.length + 1)
    sout.write(q); sout.writeByte(0); sout.flush()
    // CopyInResponse: format 0, 3 columns
    assert(sin.readUnsignedByte().toChar == 'G')
    val glen = sin.readInt(); val gp = new Array[Byte](glen - 4)
    sin.readFully(gp)
    assert(gp(0) == 0)
    assert(((gp(1) & 0xFF) << 8 | (gp(2) & 0xFF)) == 3)
    // two CopyData frames, one row SPLIT across the frame boundary,
    // a \N null, and the \. terminator — the exact psql framing
    def copyData(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      sout.writeByte('d'); sout.writeInt(4 + b.length); sout.write(b)
    }
    copyData("1\tann\t34\n2\t\\N\t19\n3\tch")
    copyData("o\t45\n\\.\n")
    sout.writeByte('c'); sout.writeInt(4); sout.flush() // CopyDone
    // CommandComplete COPY 3, then ReadyForQuery
    var tag = ""
    var done = false
    while (!done) {
      val t = sin.readUnsignedByte().toChar
      val l = sin.readInt(); val p = new Array[Byte](l - 4); sin.readFully(p)
      if (t == 'C') tag = new String(p, UTF_8).takeWhile(_ != 0)
      if (t == 'Z') done = true
    }
    assert(tag == "COPY 3", s"got tag '$tag'")
    sock.close()
    val r = engine.execute(
      "SELECT count(*) AS n, sum(age) AS total FROM pgc.cp")
    assert(r.data.head == Seq(3L, 98L))
    // the null landed as NULL, the split row reassembled
    assert(engine.execute(
      "SELECT name FROM pgc.cp WHERE id = 2").data.head.head == null)
    assert(engine.execute(
      "SELECT name FROM pgc.cp WHERE id = 3").data.head.head == "cho")

    // ---- COPY ... TO STDOUT round-trips what COPY FROM loaded ----
    val sock2 = new Socket("127.0.0.1", server.boundPort)
    val sin2 = new DataInputStream(sock2.getInputStream)
    val sout2 = new DataOutputStream(sock2.getOutputStream)
    val body2 = new java.io.ByteArrayOutputStream()
    val bd2 = new DataOutputStream(body2)
    bd2.writeInt(196608)
    for ((k, v) <- Seq("user" -> "t", "database" -> "default")) {
      bd2.write(k.getBytes(UTF_8)); bd2.writeByte(0)
      bd2.write(v.getBytes(UTF_8)); bd2.writeByte(0)
    }
    bd2.writeByte(0)
    sout2.writeInt(4 + body2.size()); body2.writeTo(sout2); sout2.flush()
    var ready2 = false
    while (!ready2) {
      val t = sin2.readUnsignedByte().toChar
      val l = sin2.readInt(); val p = new Array[Byte](l - 4); sin2.readFully(p)
      if (t == 'Z') ready2 = true
    }
    val q2 = "COPY (SELECT id, name, age FROM pgc.cp ORDER BY id) TO STDOUT"
      .getBytes(UTF_8)
    sout2.writeByte('Q'); sout2.writeInt(4 + q2.length + 1)
    sout2.write(q2); sout2.writeByte(0); sout2.flush()
    var sawH = false
    val data = new StringBuilder
    var tag2 = ""
    var done2 = false
    while (!done2) {
      val t = sin2.readUnsignedByte().toChar
      val l = sin2.readInt(); val p = new Array[Byte](l - 4); sin2.readFully(p)
      t match {
        case 'H' => sawH = true
        case 'd' => data.append(new String(p, UTF_8))
        case 'C' => tag2 = new String(p, UTF_8).takeWhile(_ != 0)
        case 'Z' => done2 = true
        case _ => ()
      }
    }
    assert(sawH, "no CopyOutResponse")
    assert(tag2 == "COPY 3", s"got tag '$tag2'")
    assert(data.toString == "1\tann\t34\n2\t\\N\t19\n3\tcho\t45\n",
      s"unexpected copy-out payload: ${data.toString}")
    sock2.close()
    engine.execute("DROP TABLE pgc.cp")
  }

  test("cleartext-password auth: accepted credentials run queries, bad ones get 28P01") {
    val secured = new PgWireServer(engine, port = 0,
      auth = Some(new graft.server.SimpleAuthProvider()))
    secured.start()
    def startupThenPassword(user: String, password: String)
        : (Socket, DataInputStream, DataOutputStream, Seq[(Char, Array[Byte])]) = {
      val sock = new Socket("127.0.0.1", secured.boundPort)
      val sin = new DataInputStream(sock.getInputStream)
      val sout = new DataOutputStream(sock.getOutputStream)
      val body = new java.io.ByteArrayOutputStream()
      val bd = new DataOutputStream(body)
      bd.writeInt(196608)
      for ((k, v) <- Seq("user" -> user, "database" -> "default")) {
        bd.write(k.getBytes(UTF_8)); bd.writeByte(0)
        bd.write(v.getBytes(UTF_8)); bd.writeByte(0)
      }
      bd.writeByte(0)
      sout.writeInt(4 + body.size()); body.writeTo(sout); sout.flush()
      // AuthenticationCleartextPassword: 'R' with code 3
      assert(sin.readUnsignedByte().toChar == 'R')
      val rlen = sin.readInt(); val rbody = new Array[Byte](rlen - 4)
      sin.readFully(rbody)
      assert(java.nio.ByteBuffer.wrap(rbody).getInt == 3)
      // PasswordMessage
      val pw = password.getBytes(UTF_8)
      sout.writeByte('p'); sout.writeInt(4 + pw.length + 1)
      sout.write(pw); sout.writeByte(0); sout.flush()
      val msgs = Seq.newBuilder[(Char, Array[Byte])]
      var done = false
      try {
        while (!done) {
          val tpe = sin.readUnsignedByte().toChar
          val len = sin.readInt(); val p = new Array[Byte](len - 4)
          sin.readFully(p)
          msgs += ((tpe, p))
          if (tpe == 'Z' || tpe == 'E') done = true
        }
      } catch { case _: java.io.EOFException => () }
      (sock, sin, sout, msgs.result())
    }
    try {
      // good credentials: AuthenticationOk (R code 0) then ReadyForQuery
      val (sock, sin, sout, msgs) = startupThenPassword("admin", "admin123")
      assert(msgs.exists { case (t, p) =>
        t == 'R' && java.nio.ByteBuffer.wrap(p).getInt == 0 })
      assert(msgs.last._1 == 'Z')
      val q = "SELECT 1 AS x".getBytes(UTF_8)
      sout.writeByte('Q'); sout.writeInt(4 + q.length + 1)
      sout.write(q); sout.writeByte(0); sout.flush()
      var sawData = false; var done = false
      while (!done) {
        val tpe = sin.readUnsignedByte().toChar
        val len = sin.readInt(); val p = new Array[Byte](len - 4); sin.readFully(p)
        if (tpe == 'D') sawData = true
        if (tpe == 'Z') done = true
      }
      assert(sawData)
      sock.close()
      // wrong password: ErrorResponse naming 28P01, then close
      val (sock2, _, _, msgs2) = startupThenPassword("admin", "wrong")
      assert(msgs2.exists { case (t, p) =>
        t == 'E' && new String(p, UTF_8).contains("28P01") })
      sock2.close()
    } finally secured.stop()
  }

  test("INDEX_PROBE answers q33's question over the wire, SQL only") {
    // full lifecycle through simple queries: table -> rows -> index ->
    // probe, no programmatic engine face involved (r10 verdict Next #5)
    val c = new Client(ssl = false)
    c.query("CREATE DATABASE IF NOT EXISTS pgwip")
    c.query("DROP TABLE IF EXISTS pgwip.docs")
    assert(tagOf(c.query(
      "CREATE TABLE pgwip.docs (doc_id int64, text string) STORAGE filesystem"))
      == "CREATE TABLE")
    c.query("INSERT INTO pgwip.docs VALUES " +
      "(1, 'alpha beta gamma delta epsilon zeta eta theta iota kappa'), " +
      "(2, 'alpha beta gamma delta epsilon zeta eta theta iota kappa'), " +
      "(3, 'nothing like the others at all in any way whatsoever today')")
    val ciTag = tagOf(c.query(
      "CREATE INDEX bix ON pgwip.docs (doc_id, text) USING bands"))
    assert(ciTag == "OK" || ciTag.startsWith("CREATE"), ciTag)
    val msgs = c.query(
      "SELECT doc1, doc2 FROM INDEX_PROBE(pgwip.docs, 'neardup', doc_id, text) " +
        "ORDER BY doc1, doc2")
    val dataRows = msgs.filter(_._1 == 'D').map(m => rowValues(m._2))
    assert(dataRows == Seq(Seq("1", "2")),
      s"expected the duplicate pair over the wire, got $dataRows")
    assert(tagOf(msgs) == "SELECT 1")
    c.close()
  }
}
