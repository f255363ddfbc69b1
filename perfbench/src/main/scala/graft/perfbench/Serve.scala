package graft.perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.engine.QueryEngine
import graft.server.HttpApi
import graft.server.native.NativeServer
import graft.server.pgwire.PgWireServer
import graft.streaming.AsthaScheduler

/** The three protocol tiers and the in-server Astha consumer on one
  * engine, bound to ephemeral loopback ports (what
  * `GraftServer.startTiers` starts, minus its fixed ports). */
final class Tiers(val engine: QueryEngine) {
  val http: HttpApi = new HttpApi(engine, 0, None, "127.0.0.1").start()
  val pg = new PgWireServer(engine, 0, auth = None, host = "127.0.0.1")
  pg.start()
  val native = new NativeServer(engine, 0, auth = None, host = "127.0.0.1")
  native.start()
  val astha: AsthaScheduler = graft.server.GraftServer.startAstha(engine.spark)

  def stop(): Unit = { astha.stop(); native.stop(); pg.stop(); http.stop() }
}

/** Engine tables copied from the source parquet through `QueryEngine`,
  * so they get the engine defaults: commit log and Iceberg mirror. */
object ServeTables {
  val OrderCols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
    "o_orderpriority", "o_orderstatus")

  def create(spark: SparkSession, engine: QueryEngine, data: String, db: String): Unit = {
    Seq("orders", "lineitem", "documents").foreach(t =>
      spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(s"src_$t"))
    def ex(sql: String): Unit = {
      val t0 = System.nanoTime()
      engine.execute(sql)
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.2fs ${sql.take(60)}")
    }
    ex(s"CREATE DATABASE IF NOT EXISTS $db")
    // o_orderstatus is the partition column, declared last
    ex(s"CREATE TABLE $db.orders (o_orderkey int64, o_custkey int64, o_totalprice float64, " +
      "o_orderdate timestamp, o_orderpriority string, o_orderstatus string) " +
      "STORAGE filesystem PARTITION BY (o_orderstatus)")
    ex(s"INSERT INTO $db.orders SELECT o_orderkey, o_custkey, o_totalprice, " +
      "CAST(o_orderdate AS TIMESTAMP), o_orderpriority, o_orderstatus FROM src_orders")
    // snapshot 1 = the loaded table, for VERSION AS OF reads: an empty
    // INSERT with insert-versioning on records the pre-insert state
    spark.conf.set("spark.graft.snapshots.oninsert", "true")
    ex(s"INSERT INTO $db.orders SELECT * FROM $db.orders WHERE false")
    spark.conf.unset("spark.graft.snapshots.oninsert")
    ex(s"CREATE INDEX ${db}_orders_key ON $db.orders (o_orderkey)")
    // lineitem and documents carry the columns the statements read: all
    // rows are copied, and a run's set-up stays within its time budget
    ex(s"CREATE TABLE $db.lineitem (l_orderkey int64, l_linenumber int32, l_quantity float64, " +
      "l_extendedprice float64, l_shipdate timestamp) STORAGE filesystem")
    ex(s"INSERT INTO $db.lineitem SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
      "CAST(l_shipdate AS TIMESTAMP) FROM src_lineitem")
    ex(s"CREATE TABLE $db.documents (doc_id int64, text string) STORAGE filesystem")
    ex(s"INSERT INTO $db.documents SELECT doc_id, text FROM src_documents")
    ex(s"CREATE INDEX ${db}_docs_bm25 ON $db.documents (doc_id, text) USING postings")
  }
}

/** A generated statement and how to check its reply. */
final case class Stmt(cls: String, sql: String, check: Seq[Seq[String]] => Boolean)

/** serve_point: 4 closed-loop clients (2 native SDK, 1 pgwire, 1 HTTP)
  * sending read-only statements to the served engine. */
final class Serve(o: Main.Opts, r: Main.Result) {
  val Db = "pb"
  val Reads = Seq("point", "range_agg", "time_travel", "index_probe")
  val ClientTiers = Seq("native", "native", "pgwire", "http")
  /** Reads an untraced window must hold, so the tail percentile never
    * changes: 100 reads, p90. Fewer would give p75, which falls on the
    * edge between the slowest class (a quarter of the reads) and the
    * rest, where a run's figure swings. */
  val MinReads = 100

  var spark: SparkSession = _
  var engine: QueryEngine = _
  var tiers: Tiers = _
  var clients: Seq[Tier] = Nil
  val counters = new Counters

  private def warehouse(rep: Int): Path = o.work.resolve(s"warehouse-$rep")

  /** Session, engine tables, indexes, tiers and client connections. */
  def setup(rep: Int): Unit = {
    val t0 = System.nanoTime()
    attach(Main.session(o, warehouse(rep)))
    r.setupS += (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup $rep: ${r.setupS.last}%.2fs")
  }

  def attach(session: SparkSession): Unit = {
    spark = session
    spark.sparkContext.addSparkListener(counters)
    engine = new QueryEngine(spark)
    ServeTables.create(spark, engine, o.data, Db)
    val t1 = System.nanoTime()
    tiers = new Tiers(engine)
    clients = ClientTiers.map {
      case "native" => new NativeTier(tiers.native.boundPort)
      case "pgwire" => new PgTier(tiers.pg.boundPort)
      case "http" => new HttpTier(tiers.http.boundPort)
    }
    clients.foreach(_.query("SELECT 1"))
    System.err.println(f"[perfbench] ${(System.nanoTime() - t1) / 1e9}%.2fs tiers+clients")
  }

  def teardown(): Unit = {
    clients.foreach(c => try c.close() catch { case _: Exception => })
    tiers.stop()
    spark.stop()
  }

  // ------------------------------------------------------------ inputs

  /** Reads drawn from the seed, each with its expected answer computed
    * once with bare Spark on the source parquet (index probes: by the
    * in-process engine, before any client runs). The draws run in a
    * fixed order; the independent Spark jobs behind them run at once. */
  def readPool(rnd: Random): Map[String, IndexedSeq[Stmt]] = {
    val session = spark
    import session.implicits._
    def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)
    val keysF = Future(spark.table("src_orders").select("o_orderkey").as[Long].collect().sorted)
    val liMaxF = Future(spark.sql("SELECT max(l_orderkey) FROM src_lineitem").head().getLong(0))
    val vocabF = Future(spark.sql("SELECT w FROM (SELECT explode(split(lower(text), '[^a-z]+')) AS w " +
      "FROM src_documents) WHERE length(w) >= 3 GROUP BY w ORDER BY count(*) DESC, w LIMIT 300")
      .as[String].collect())
    val keys = await(keysF)
    val liMax = await(liMaxF)
    // a small pool, all of it run once before timing: the window sees
    // statements the server has compiled before (plan and codegen caches)
    val n = 8
    val pointKeys = IndexedSeq.fill(n)(keys(rnd.nextInt(keys.length)))
    val pointRowsF = Future(spark.table("src_orders")
      .where($"o_orderkey".isin(pointKeys: _*))
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority", $"o_orderstatus")
      .collect().map(row => row.getLong(0) -> row.toSeq.map(v => String.valueOf(v))).toMap)
    // range aggregates over ~100 l_orderkey values (~25 lineitem rows)
    val ranges = IndexedSeq.fill(n) { val a = 1 + (rnd.nextDouble() * (liMax - 100)).toLong; (a, a + 99) }
    ranges.toDF("a", "b").createOrReplaceTempView("pb_ranges")
    val rangeAggF = Future(spark.sql("SELECT a, count(*), sum(l_quantity), sum(l_extendedprice) " +
      "FROM pb_ranges JOIN src_lineitem ON l_orderkey BETWEEN a AND b GROUP BY a")
      .collect().map(x => x.getLong(0) -> Seq(x.get(1), x.get(2), x.get(3)).map(String.valueOf)).toMap)
    // time travel to the first snapshot: the table as setup loaded it
    val tts = IndexedSeq.fill(n) { val i = rnd.nextInt(keys.length - 200); (keys(i), keys(i + 199)) }
    tts.toDF("a", "b").createOrReplaceTempView("pb_tt")
    val ttAggF = Future(spark.sql("SELECT a, count(*), sum(o_totalprice) FROM pb_tt JOIN src_orders " +
      "ON o_orderkey BETWEEN a AND b GROUP BY a")
      .collect().map(x => x.getLong(0) -> Seq(x.get(1), x.get(2)).map(String.valueOf)).toMap)
    val vocab = await(vocabF)
    val probeSqls = IndexedSeq.fill(n)(s"${vocab(rnd.nextInt(vocab.length))} ${vocab(rnd.nextInt(vocab.length))}")
      .map(terms => s"SELECT * FROM INDEX_PROBE($Db.documents, 'bm25', doc_id, text, '$terms', 10) ORDER BY 1")
    val expectF = probeSqls.map(sql =>
      Future(engine.newConnectionEngine().execute(sql).data.map(_.map(v => String.valueOf(v)))))
    val probes = probeSqls.zip(expectF).map { case (sql, f) =>
      val expect = await(f)
      Stmt("index_probe", sql, rows => rows.size == expect.size &&
        rows.zip(expect).forall { case (a, b) => same(a, b) })
    }
    val pointRows = await(pointRowsF)
    val point = pointKeys.map { k =>
      Stmt("point", s"SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, o_orderstatus " +
        s"FROM $Db.orders WHERE o_orderkey = $k", rows => rows.size == 1 && same(rows.head, pointRows(k)))
    }
    val rangeAgg = await(rangeAggF)
    val rangeStmts = ranges.map { case (a, b) =>
      Stmt("range_agg", s"SELECT count(*) AS n, sum(l_quantity) AS q, sum(l_extendedprice) AS p " +
        s"FROM $Db.lineitem WHERE l_orderkey BETWEEN $a AND $b",
        rows => rows.size == 1 && same(rows.head, rangeAgg.getOrElse(a, Seq("0", "null", "null"))))
    }
    val ttAgg = await(ttAggF)
    val ttStmts = tts.map { case (a, b) =>
      Stmt("time_travel", s"SELECT count(*) AS n, sum(o_totalprice) AS p FROM $Db.orders " +
        s"VERSION AS OF 1 WHERE o_orderkey BETWEEN $a AND $b", rows => rows.size == 1 && same(rows.head, ttAgg(a)))
    }
    Map("point" -> point, "range_agg" -> rangeStmts, "time_travel" -> ttStmts, "index_probe" -> probes)
  }

  /** Cells equal as text, or as numbers within 1e-9 relative. */
  def same(a: Seq[String], b: Seq[String]): Boolean =
    a.size == b.size && a.zip(b).forall {
      case (x, y) if x == y => true
      case (x, y) if x == null || y == null => false
      case (x, y) => (x.toDoubleOption, y.toDoubleOption) match {
        case (Some(p), Some(q)) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
        case _ => false
      }
    }

  /** Client `c`'s statement sequence: the read classes in rotation, so
    * every seed runs the same class mix, each a seeded draw from its pool. */
  def sequence(c: Int, pool: Map[String, IndexedSeq[Stmt]], rnd: Random, length: Int): IndexedSeq[Stmt] =
    (0 until length).map { i =>
      val cls = Reads((c + i) % Reads.size)
      pool(cls)(rnd.nextInt(pool(cls).size))
    }

  // -------------------------------------------------------------- loop

  private val cursor = Array.fill(ClientTiers.size)(0)
  val wrongAnswers = new java.util.concurrent.atomic.AtomicLong

  /** Every pool statement once, unmeasured, spread over the clients. */
  def warm(stmts: IndexedSeq[Stmt]): Unit = {
    val threads = clients.zipWithIndex.map { case (client, c) =>
      val t = new Thread(() => stmts.indices.filter(_ % clients.size == c)
        .foreach(i => client.query(stmts(i).sql)), s"perfbench-warm-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** Runs every client closed-loop for `seconds`; returns the window.
    * With an enabled tracer each client traces every other rotation of
    * the read classes: traced and untraced statements share the window,
    * and so its warm-up drift, and every client traces every class. */
  def loop(seqs: Seq[IndexedSeq[Stmt]], seconds: Double, tracer: Tracer, minReads: Int): Double = {
    val off = new Tracer(false)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val reads = new java.util.concurrent.atomic.AtomicInteger
    def more: Boolean = System.nanoTime() < deadline || reads.get < minReads
    val t0 = System.nanoTime()
    val threads = clients.zipWithIndex.map { case (client, c) =>
      val t = new Thread(() => {
        val seq = seqs(c)
        while (more && cursor(c) < seq.size) {
          val i = cursor(c); cursor(c) += 1
          val s = seq(i)
          val traced = tracer.enabled && i / Reads.size % 2 == 1
          val sink = if (traced) r.tracedOps else r.ops
          val s0 = System.nanoTime()
          val ok = try (if (traced) tracer else off).span(s"client.request.${client.name}.${s.cls}") {
            val rep = client.query(s.sql)
            if (!s.check(rep.rows)) {
              wrongAnswers.incrementAndGet()
              throw new IllegalStateException(s"wrong answer: ${rep.rows.take(3)}")
            }
            true
          } catch { case e: Exception => r.fail(s"${client.name} ${s.cls} `${s.sql.take(120)}`", e); false }
          val ms = (System.nanoTime() - s0) / 1e6
          if (ok) reads.incrementAndGet()
          sink.synchronized { sink += ((s.cls, client.name, ms, ok)) }
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join(120000))
    if (threads.exists(_.isAlive)) throw new IllegalStateException("a client did not finish within 120 s")
    (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------------- run

  def run(): Unit = {
    // a traced run reports no setup_s, so it sets up once
    (1 to (if (o.trace) 1 else Main.Setups)).foreach { rep =>
      if (rep > 1) {
        teardown()
        deleteTree(warehouse(rep - 1))
      }
      setup(rep)
    }
    r.info("parallelism") = spark.sparkContext.defaultParallelism
    r.info("spark") = spark.version
    val rnd = new Random(o.seed)
    val t0 = System.nanoTime()
    val pool = readPool(rnd)
    System.err.println(f"[perfbench] inputs ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val seqs = clients.indices.map(c => sequence(c, pool, rnd, 4000))
    // index probes already ran in-process for their expected answers
    warm(pool.filter(_._1 != "index_probe").values.flatten.toIndexedSeq)
    counters.reset()
    counters.quiesce()
    counters.reset()
    // a traced run splits the window's reads between its two halves,
    // compared by their medians only
    r.minSamples = if (o.trace) MinReads / 4 else MinReads
    val tracer = new Tracer(o.trace)
    r.windowS = loop(seqs, o.seconds, tracer, MinReads)
    counters.quiesce()
    val delta = counters.total()
    r.info("heap_live_mb") = LiveHeap.mb()
    if (o.trace)
      new Probe(o, r, spark, engine, tiers, clients, Db, pool.map { case (k, v) => k -> v.map(_.sql) },
        tracer, counters).run(delta, r.ops.size + r.tracedOps.size,
        Suite.load(o.programs).map(_._1))
    r.check("reads.answers", wrongAnswers.get == 0, s"${wrongAnswers.get} reads returned a wrong answer")
    teardown()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}
