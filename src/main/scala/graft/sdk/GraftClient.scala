package graft.sdk

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

import graft.server.native.NativeClient

/** Client library over the native protocol — the analog of the
  * reference's Go SDK (pkg/sdk/client.go:245-829): Query / QueryRow /
  * Exec, PrepareBatch → Append → Send, AsyncInsert, and a connection
  * pool with max-open/max-idle caps and idle reaping (reference
  * defaults: 10 open / 5 idle / 1 h lifetime, client.go pool fields
  * at :182-186).
  */
object GraftClient {
  final case class Options(
      host: String = "127.0.0.1",
      port: Int = 2849,
      database: String = "default",
      user: String = "default",
      maxOpenConns: Int = 10,
      maxIdleConns: Int = 5,
      connMaxLifetimeMs: Long = 60L * 60 * 1000,
      idleReapIntervalMs: Long = 30_000)

  def open(opt: Options = Options()): GraftClient = new GraftClient(opt)

  final case class Row(values: Seq[String]) {
    def getString(i: Int): String = values(i)
    def getLong(i: Int): Long = values(i).toLong
    def getDouble(i: Int): Double = values(i).toDouble
  }
  final case class Rows(columns: Seq[String], rows: Seq[Row]) {
    def isEmpty: Boolean = rows.isEmpty
    def head: Row = rows.head
  }
  final case class Stats(open: Int, idle: Int)
}

final class GraftClient private[sdk] (opt: GraftClient.Options) {
  import GraftClient._

  private final case class Pooled(conn: NativeClient, createdAt: Long) {
    @volatile var lastUsed: Long = System.currentTimeMillis()
  }

  private val idle = new ConcurrentLinkedQueue[Pooled]()
  private val openCount = new AtomicInteger(0)
  @volatile private var closed = false

  private val reaper = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "graft-sdk-reaper"); t.setDaemon(true); t
  }
  reaper.scheduleAtFixedRate(() => reapIdle(),
    opt.idleReapIntervalMs, opt.idleReapIntervalMs, TimeUnit.MILLISECONDS)

  private val asyncPool = Executors.newFixedThreadPool(2, r => {
    val t = new Thread(r, "graft-sdk-async"); t.setDaemon(true); t
  })

  // ------------------------------------------------------------ pool

  private def acquire(): Pooled = {
    if (closed) throw new IllegalStateException("client is closed")
    val now = System.currentTimeMillis()
    var p = idle.poll()
    while (p != null && now - p.createdAt > opt.connMaxLifetimeMs) {
      discard(p); p = idle.poll()
    }
    if (p != null) p
    else if (openCount.incrementAndGet() <= opt.maxOpenConns) {
      var c: NativeClient = null
      try {
        c = new NativeClient(opt.host, opt.port)
        c.hello(opt.database, opt.user)
        Pooled(c, now)
      } catch {
        case NonFatal(e) =>
          openCount.decrementAndGet()
          if (c != null) { try c.close() catch { case NonFatal(_) => () } }
          throw e
      }
    } else {
      openCount.decrementAndGet()
      // pool exhausted: brief wait-and-retry (the Go SDK blocks on a
      // channel; a bounded spin keeps this dependency-free)
      Thread.sleep(10)
      acquire()
    }
  }

  private def release(p: Pooled, failed: Boolean): Unit = {
    if (failed || closed || idle.size() >= opt.maxIdleConns) discard(p)
    else { p.lastUsed = System.currentTimeMillis(); idle.offer(p) }
  }

  private def discard(p: Pooled): Unit = {
    openCount.decrementAndGet()
    try p.conn.close() catch { case NonFatal(_) => () }
  }

  private def reapIdle(): Unit = {
    // drain via poll (atomic hand-off — an iterator's remove would
    // race acquire() and double-discard a connection), keep the young
    val cutoff = System.currentTimeMillis() - opt.connMaxLifetimeMs
    val keep = scala.collection.mutable.ArrayBuffer[Pooled]()
    var p = idle.poll()
    while (p != null) {
      if (p.createdAt < cutoff) discard(p) else keep += p
      p = idle.poll()
    }
    // a close() racing this drain must not have connections re-offered
    // behind its back — discard instead
    if (closed) keep.foreach(discard)
    else keep.foreach(idle.offer)
  }

  private def withConn[A](body: NativeClient => A): A = {
    val p = acquire()
    try { val r = body(p.conn); release(p, failed = false); r }
    catch { case NonFatal(e) => release(p, failed = true); throw e }
  }

  // ------------------------------------------------------------ API

  def ping(): Boolean = withConn { c => c.ping(); true }

  /** Runs `sql` with client-side `?` parameter binding. The reference
    * SDK's Query accepts variadic args but drops them on the floor
    * (client.go:905-960 never references them); here each `?` outside
    * a string literal is rendered as an escaped SQL literal — a
    * deliberate behavioral superset. */
  def query(sql: String, args: Any*): Rows = withConn { c =>
    val (cols, rows) = c.query(bind(sql, args))
    Rows(cols, rows.map(Row))
  }

  /** First row of the result (reference QueryRow, client.go:489). */
  def queryRow(sql: String, args: Any*): Option[Row] = {
    val r = query(sql, args: _*)
    r.rows.headOption
  }

  /** Statement executed for effect; result discarded (client.go:504). */
  def exec(sql: String, args: Any*): Unit = { query(sql, args: _*); () }

  /** ServerVersion from the connection handshake (client.go:547-556). */
  def serverVersion(): String = withConn { c => c.ping(); c.serverName }

  /** Quote-aware `?` substitution: literals copied verbatim ('' is the
    * escape), placeholders bound left-to-right, count mismatches
    * refused. */
  private def bind(sql: String, args: Seq[Any]): String = {
    if (args.isEmpty) return sql
    val out = new StringBuilder
    var ai = 0
    var i = 0
    val n = sql.length
    while (i < n) {
      val ch = sql.charAt(i)
      if (ch == '\'') {
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          if (sql.charAt(j) == '\'') {
            if (j + 1 < n && sql.charAt(j + 1) == '\'') j += 2
            else { j += 1; closed = true }
          } else j += 1
        }
        out.append(sql.substring(i, j)); i = j
      } else if (ch == '?') {
        require(ai < args.length,
          s"${args.length} arg(s) given but more '?' placeholders found")
        out.append(renderArg(args(ai))); ai += 1; i += 1
      } else { out.append(ch); i += 1 }
    }
    require(ai == args.length,
      s"${args.length} arg(s) given, $ai placeholder(s) found")
    out.toString
  }

  private def renderArg(v: Any): String = v match {
    case null => "NULL"
    case None => "NULL"
    case Some(x) => renderArg(x)
    // Spark's lexer reads backslash as an escape inside a literal, so
    // it is doubled along with the quote
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    case b: Boolean => b.toString
    case d: java.sql.Date => s"DATE'$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP'$t'"
    case n: java.math.BigDecimal => n.toPlainString
    case other => other.toString // numeric types
  }

  /** Batch insert builder (client.go:515-533; Append/Send as in the
    * reference's ClickHouse-style API). */
  def prepareBatch(table: String, columns: Seq[String]): Batch =
    new Batch(this, table, columns)

  /** Fire-and-forget (wait=false) or synchronous (wait=true) insert of
    * one VALUES statement (client.go:536-545). */
  def asyncInsert(sql: String, wait: Boolean): Unit =
    if (wait) exec(sql)
    else { asyncPool.submit(new Runnable { def run(): Unit = exec(sql) }); () }

  def stats: Stats = Stats(openCount.get(), idle.size())

  def close(): Unit = {
    closed = true
    reaper.shutdownNow()
    asyncPool.shutdown()
    asyncPool.awaitTermination(30, TimeUnit.SECONDS)
    var p = idle.poll()
    while (p != null) { discard(p); p = idle.poll() }
  }

  private[sdk] def sendBlock(table: String, columns: Seq[String],
                             rows: Seq[Seq[String]]): Unit =
    withConn { c =>
      c.insert(table, columns, rows)
      // ClientData has no success reply; a follow-up ping on the same
      // connection serializes behind the insert, so errors surface and
      // Send() returning means the server consumed the block
      c.ping()
    }
}

/** Accumulates rows client-side, ships one ClientData block on Send —
  * the reference's PrepareBatch/Append/Send lifecycle. */
final class Batch private[sdk] (client: GraftClient, table: String,
                                columns: Seq[String]) {
  private val buf = Seq.newBuilder[Seq[String]]
  private var count = 0

  def append(values: Any*): Batch = {
    require(values.length == columns.length,
      s"expected ${columns.length} values, got ${values.length}")
    buf += values.map(v => if (v == null) "NULL" else v.toString)
    count += 1
    this
  }

  def rows: Int = count

  def send(): Int = {
    val data = buf.result()
    if (data.nonEmpty) client.sendBlock(table, columns, data)
    buf.clear()
    val n = count
    count = 0
    n
  }
}
