package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

import graft.engine.{Changefeed, CommitLog, IcebergMetadata, IndexManager, QueryEngine, Snapshots}

/** The traced run's per-layer measurements. Every layer is timed from
  * outside, by calling its public functions, on the same statements in
  * every workload; only the state the workload left behind differs.
  * Writes go to a scratch copy (`<db>.probe_orders`), never to a table
  * a workload checks. */
final class Probe(o: Main.Opts, r: Main.Result, spark: SparkSession, engine: QueryEngine,
                  tiers: Tiers, clients: Seq[Tier], db: String, reads: Map[String, Seq[String]],
                  tracer: Tracer, counters: Counters) {
  val N = 2
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)
  private def put(k: String, v: Double): Unit = r.layers(k) = v

  private def timed[A](span: String, group: String = "")(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = tracer.span(span, group)(body)
    (a, ms(t0))
  }

  /** Loop-window counts, per operation (per program for the suite). */
  def window(delta: Map[String, Double], ops: Int): Unit = {
    put("sched.jobs", delta("jobs") / ops)
    put("sched.stages", delta("stages") / ops)
    put("sched.tasks", delta("tasks") / ops)
    put("sched.queue_ms", if (delta("stages") > 0) delta("queue_ms") / delta("stages") else 0.0)
    put("exec.task_s", delta("task_s") / ops)
    put("exec.cpu_s", delta("cpu_s") / ops)
    put("exec.gc_s", delta("gc_s") / ops)
    put("exec.shuffle_write_mb", delta("shuffle_write_mb") / ops)
    put("exec.shuffle_read_mb", delta("shuffle_read_mb") / ops)
    put("exec.spill_mb", delta("spill_mb") / ops)
    put("exec.par", if (delta("stage_wall_s") > 0) delta("task_s") / delta("stage_wall_s") else 0.0)
    put("commit.astha_lag_events",
      tiers.astha.subscriberRows(Changefeed.maxId(spark)).map(_.lag).maxOption.getOrElse(0L).toDouble)
  }

  def run(delta: Map[String, Double], ops: Int, buildProgram: Seq[String]): Unit = {
    window(delta, ops)
    put("sched.floor_ms", med((1 to 3 * N).map { _ =>
      timed("sched.floor")(spark.sparkContext.parallelize(Seq(1), 1).count())._2 }))
    put("server.http.session_clone_ms", med((1 to 3 * N).map { _ =>
      timed("server.http.session_clone")(engine.newConnectionEngine())._2 }))
    def phase(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      System.err.println(f"[perfbench] probe $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    phase("reads")(readLayers())
    phase("writes")(writeLayers())
    phase("commit")(commitCalls())
    phase("build")(buildLayers(buildProgram))
    put("engine.registry_entries", engine.executions.list().size.toDouble)
    val natives = clients.collect { case n: NativeTier => n }
    put("sdk.conn_reuse_ratio", natives.map(_.reuseRatio).sum / natives.size)
    put("commit.space_amp", spaceAmp())
    Files.writeString(o.work.resolveSibling(o.work.getFileName.toString + "-spans.json"), tracer.json(counters.group))
  }

  /** Wire, facade, engine and planning time of the read classes. */
  def readLayers(): Unit = {
    val wire = mutable.Map[String, mutable.Buffer[Double]]()
    val bytes = mutable.Map[String, mutable.Buffer[Double]]()
    reads.foreach { case (cls, texts) =>
      val execMs = mutable.Buffer[Double]()
      val facade = mutable.Buffer[Double]()
      (0 until N).foreach { i =>
        val sql = texts(i % texts.size)
        tracer.span(s"probe.$cls") {
          val rt = clients.distinctBy(_.name).map { c =>
            val (rep, t) = timed(s"client.request.${c.name}")(c.query(sql))
            if (cls == "point" && rep.bytes > 0) bytes.getOrElseUpdate(c.name, mutable.Buffer()) +=
              rep.bytes.toDouble / math.max(1, rep.rows.size)
            c.name -> t
          }
          val conn = engine.newConnectionEngine()
          val (_, ex) = timed("engine.execute")(conn.execute(sql))
          execMs += ex
          rt.foreach { case (n, t) => wire.getOrElseUpdate(n, mutable.Buffer()) += t - ex }
          if (cls == "point" || cls == "range_agg") {
            val (_, bare) = timed("bare.statement") {
              val plan = timed("plan.parse")(spark.sessionState.sqlParser.parsePlan(sql))._2
              val df = timed("plan.analyze")(spark.sql(sql))._1
              timed("plan.optimize")(df.queryExecution.optimizedPlan)
              timed("plan.physical")(df.queryExecution.executedPlan)
              timed("exec.collect")(df.collect())
              plan
            }
            facade += ex - bare
          }
        }
      }
      put(s"engine.execute_ms.$cls", med(execMs))
      if (facade.nonEmpty && cls == "point") put("engine.facade_ms", med(facade))
    }
    Seq("native", "pgwire", "http").foreach(n => put(s"server.$n.wire_ms", med(wire.getOrElse(n, Nil))))
    Seq("pgwire", "http").foreach(n => put(s"server.$n.bytes_per_row", med(bytes.getOrElse(n, Nil))))
    val self = tracer.selfMs
    Seq("parse", "analyze", "optimize", "physical").foreach(p =>
      put(s"plan.${p}_ms", med(self.getOrElse(s"plan.$p", Nil))))
  }

  private val warehouse: Path = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))

  /** Every file under the warehouse: path -> (size, mtime). */
  private def files(): Map[String, (Long, Long)] =
    Files.walk(warehouse).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap

  private def area(p: String): String =
    if (p.contains("/.graft-cdc/")) "cdc"
    else if (p.contains("/.graft-indexes/")) "index"
    else if (p.contains("/.graft-snapshots/")) "snapshot"
    else if (p.contains("/_graft_log/")) "manifest"
    else if (p.contains("/metadata/")) "iceberg"
    else if (p.endsWith(".parquet")) "data"
    else "other"

  /** Write statements on the scratch table through an in-process
    * connection engine, with the bytes each one adds per area. */
  def writeLayers(): Unit = {
    val t = s"$db.probe_orders"
    val cols = ServeTables.OrderCols
    engine.execute(s"CREATE TABLE $t (o_orderkey int64, o_custkey int64, o_totalprice float64, " +
      "o_orderdate timestamp, o_orderpriority string, o_orderstatus string) " +
      "STORAGE filesystem PARTITION BY (o_orderstatus)")
    engine.execute(s"INSERT INTO $t SELECT * FROM $db.orders WHERE o_orderkey <= 20000")
    engine.execute(s"CREATE INDEX ${db}_probe_key ON $t (o_orderkey)")
    val conn = engine.newConnectionEngine()
    val base = 1L << 40
    def row(k: Long) = s"($k, 7, ${k % 1000 + 0.25}, TIMESTAMP'1998-08-02 00:00:00', '3-MEDIUM', 'O')"
    val rowBytes = row(base).length.toDouble
    val written = mutable.Map[String, Double]().withDefaultValue(0.0)
    var userBytes = 0.0
    var dml = 0
    var rewritten = 0.0
    var cdc = 0.0
    val refresh = mutable.Buffer[Double]()
    var next = base
    val statements: Seq[(String, () => Unit, Int)] = (0 until N).flatMap { i =>
      val k = next; next += 600
      Seq(
        ("insert", () => conn.execute(s"INSERT INTO $t VALUES ${row(k)}"), 1),
        ("batch", () => conn.appendBatch(t, spark.range(k + 1, k + 501).selectExpr(
          "id AS o_orderkey", "7L AS o_custkey", "CAST(id % 1000 AS DOUBLE) + 0.25 AS o_totalprice",
          "TIMESTAMP'1998-08-02 00:00:00' AS o_orderdate", "'3-MEDIUM' AS o_orderpriority",
          "'O' AS o_orderstatus")), 500),
        ("update", () => conn.execute(s"UPDATE $t SET o_totalprice = 1.5 WHERE o_orderkey = ${k + 1}"), 1),
        ("delete", () => conn.execute(s"DELETE FROM $t WHERE o_orderkey = ${k + 2}"), 1),
        ("merge", () => conn.execute(s"MERGE INTO $t AS t USING (VALUES ${row(k + 3)}, ${row(k + 501)}) " +
          s"AS s(${cols.mkString(", ")}) ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice " +
          s"WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")}) VALUES (${cols.map("s." + _).mkString(", ")})"), 2))
    }
    val execMs = mutable.Map[String, mutable.Buffer[Double]]()
    statements.foreach { case (cls, body, rows) =>
      val before = files()
      val live0 = spark.table(t).inputFiles.toSet
      val cdc0 = Changefeed.maxId(spark)
      val (_, t0) = timed(s"engine.execute.$cls")(body())
      execMs.getOrElseUpdate(cls, mutable.Buffer()) += t0
      val after = files()
      after.foreach { case (p, (size, mt)) =>
        if (!before.get(p).contains((size, mt))) written(area(p)) += size
      }
      refresh += timed("engine.refresh")(spark.catalog.refreshTable(t))._2
      rewritten += (live0 -- spark.table(t).inputFiles).size
      cdc += Changefeed.maxId(spark) - cdc0
      userBytes += rows * rowBytes
      dml += 1
    }
    execMs.foreach { case (cls, xs) => put(s"engine.execute_ms.$cls", med(xs)) }
    put("engine.refresh_ms", med(refresh))
    put("commit.data_mb", written("data") / 1e6 / dml)
    put("commit.files_rewritten", rewritten / dml)
    put("commit.manifest_kb", written("manifest") / 1e3 / dml)
    put("commit.iceberg_kb", written("iceberg") / 1e3 / dml)
    put("commit.snapshot_kb", written("snapshot") / 1e3 / dml)
    put("commit.index_kb", written("index") / 1e3 / dml)
    put("commit.cdc_events", cdc / dml)
    put("commit.write_amp", written.values.sum / userBytes)
  }

  /** Direct calls into each commit step on the scratch table. */
  def commitCalls(): Unit = {
    val t = s"$db.probe_orders"
    val ct = spark.sessionState.catalog.getTableMetadata(TableIdentifier("probe_orders", Some(db)))
    val loc = new HPath(ct.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    def series(name: String)(body: => Unit): Unit =
      put(s"commit.${name}_ms", med((1 to N).map(_ => timed(s"commit.$name")(body)._2)))
    series("snapshot")(Snapshots.create(spark, t, "PROBE"))
    series("publish")(CommitLog.publish(spark, loc, Nil))
    series("cdc_emit")(Changefeed.emit(spark, t, "PROBE", Map("table" -> t)))
    series("iceberg")(IcebergMetadata.emit(spark, ct, CommitLog.current(fs, loc).get))
    series("index_sync")(IndexManager.sync(spark, t))
  }

  /** Driver-side DataFrame build of the suite's programs. */
  def buildLayers(programs: Seq[String]): Unit = {
    val qs = graft.SparkEntry.queries
    var buildS = 0.0
    var jobs = 0.0
    programs.foreach { name =>
      val g = s"perfbench.build.$name"
      spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
      try buildS += timed(s"operators.build.$name", g)(qs(name)(spark, o.data))._2 / 1e3
      finally spark.sparkContext.clearJobGroup()
    }
    counters.quiesce()
    programs.foreach(n => jobs += counters.group(s"perfbench.build.$n")("jobs"))
    put("operators.build_s", buildS)
    put("operators.build_jobs", jobs)
  }

  /** Warehouse bytes over the bytes of the live data files of every
    * table in the benchmark database. */
  def spaceAmp(): Double = {
    val total = files().values.map(_._1).sum.toDouble
    val live = spark.sessionState.catalog.listTables(db).filter(_.database.contains(db))
      .map(_.table).flatMap { t =>
      spark.table(s"$db.$t").inputFiles.toSeq
    }.distinct.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum.toDouble
    total / live
  }
}
