package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.QueryEngine
import graft.sdk.GraftClient
import graft.server.native.NativeServer

/** SDK client over the native protocol, mirroring the reference Go
  * SDK's surface (pkg/sdk/client.go: Query/QueryRow/Exec,
  * PrepareBatch/Append/Send, AsyncInsert, pooling + stats). */
class SdkClientSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)
  lazy val server: NativeServer = {
    val s = new NativeServer(engine, port = 0)
    s.start()
    s
  }
  lazy val client: GraftClient =
    GraftClient.open(GraftClient.Options(port = server.boundPort, maxOpenConns = 4))

  test("query / queryRow / exec round-trip") {
    assert(client.ping())
    val r = client.query("SELECT 1 AS a, 'x' AS b")
    assert(r.columns == Seq("a", "b"))
    assert(r.head.getLong(0) == 1L && r.head.getString(1) == "x")
    assert(client.queryRow("SELECT 42 AS v").get.getLong(0) == 42L)
    client.exec("CREATE DATABASE IF NOT EXISTS sdk")
  }

  test("? parameter binding renders literals safely (reference SDK drops args)") {
    client.exec("CREATE DATABASE IF NOT EXISTS sdk")
    client.exec("DROP TABLE IF EXISTS sdk.bindt")
    client.exec("CREATE TABLE sdk.bindt (id int64, name string) STORAGE filesystem")
    client.exec("INSERT INTO sdk.bindt VALUES (?, ?), (?, ?)",
      1L, "ann", 2L, "o'brien")
    // quoting: embedded quote round-trips; ? inside a literal is data
    val r = client.queryRow(
      "SELECT name FROM sdk.bindt WHERE id = ? AND name <> 'not?me'", 2L)
    assert(r.get.getString(0) == "o'brien")
    assert(client.queryRow(
      "SELECT count(*) AS n FROM sdk.bindt WHERE name = ?", "o'brien")
      .get.getLong(0) == 1L)
    // null binding and count mismatches
    client.exec("INSERT INTO sdk.bindt VALUES (?, ?)", 3L, null)
    assert(client.queryRow(
      "SELECT count(*) AS n FROM sdk.bindt WHERE name IS NULL").get.getLong(0) == 1L)
    assertThrows[IllegalArgumentException](
      client.query("SELECT ? AS a", 1L, 2L))
    assertThrows[IllegalArgumentException](
      client.query("SELECT ? + ? AS a", 1L))
    // a backslash cannot escape its literal's closing quote
    assert(client.query("SELECT id FROM range(10) WHERE CAST(id AS STRING) = ? " +
      "AND CAST(id AS STRING) = ?", "\\", " OR true --").rows.isEmpty)
    assert(client.serverVersion().startsWith("Graft Server"))
    client.exec("DROP TABLE sdk.bindt")
  }

  test("PrepareBatch / Append / Send lands rows") {
    client.exec("CREATE DATABASE IF NOT EXISTS sdk")
    client.exec("DROP TABLE IF EXISTS sdk.events")
    client.exec(
      "CREATE TABLE sdk.events (id int64 NOT NULL, kind string, score float64) STORAGE filesystem")
    val batch = client.prepareBatch("sdk.events", Seq("id", "kind", "score"))
    (1 to 50).foreach(i => batch.append(i, s"kind${i % 3}", i / 10.0))
    assert(batch.rows == 50)
    assert(batch.send() == 50)
    assert(batch.rows == 0) // drained
    val r = client.query("SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM sdk.events")
    assert(r.head.values == Seq("50", "1", "50"))
    // reuse after send
    batch.append(51, "kindx", 5.1)
    batch.send()
    assert(client.queryRow("SELECT count(*) AS n FROM sdk.events").get.getLong(0) == 51L)
    client.exec("DROP TABLE sdk.events")
  }

  test("AsyncInsert: wait=true is synchronous, wait=false lands eventually") {
    client.exec("CREATE DATABASE IF NOT EXISTS sdk")
    client.exec("DROP TABLE IF EXISTS sdk.ai")
    client.exec("CREATE TABLE sdk.ai (id int64) STORAGE filesystem")
    client.asyncInsert("INSERT INTO sdk.ai VALUES (1)", wait = true)
    assert(client.queryRow("SELECT count(*) AS n FROM sdk.ai").get.getLong(0) == 1L)
    client.asyncInsert("INSERT INTO sdk.ai VALUES (2)", wait = false)
    val deadline = System.currentTimeMillis() + 30000
    var n = 0L
    while (n < 2 && System.currentTimeMillis() < deadline) {
      n = client.queryRow("SELECT count(*) AS n FROM sdk.ai").get.getLong(0)
      if (n < 2) Thread.sleep(100)
    }
    assert(n == 2L)
    client.exec("DROP TABLE sdk.ai")
  }

  test("pool caps open connections and reuses idle ones") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 12).map(i =>
      Future(client.queryRow(s"SELECT $i AS v").get.getLong(0)))), 120.seconds)
    assert(results.sorted == (1L to 12L))
    val s = client.stats
    assert(s.open <= 4, s"pool exceeded maxOpenConns: $s")
    assert(s.idle <= 4)
    // errors propagate and do not poison the pool
    assertThrows[RuntimeException](client.query("SELECT * FROM missing_sdk_t"))
    assert(client.queryRow("SELECT 9 AS v").get.getLong(0) == 9L)
  }
}
