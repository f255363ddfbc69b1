package graft.perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** suite: `SparkEntry` programs run one at a time by one client, warm,
  * each written in full to the `noop` sink after its own memo is
  * cleared (as `graft.Bench` does). The programs and the row count each
  * must produce are listed in `--programs`. */
final class Suite(o: Main.Opts, r: Main.Result) {
  val programs: Seq[(String, Long)] = Suite.load(o.programs)
  val counters = new Counters
  var spark: SparkSession = _

  def setup(rep: Int): Unit = {
    val t0 = System.nanoTime()
    spark = Main.session(o, o.work.resolve(s"warehouse-$rep"))
    spark.sparkContext.addSparkListener(counters)
    graft.sources.Tables.registerAll(spark, o.data)
    r.setupS += (System.nanoTime() - t0) / 1e9
  }

  /** One program: memo cleared, DataFrame built, rows written to noop.
    * Returns (build ms, total ms). */
  def runOne(name: String, group: String, tracer: Tracer): (Double, Double) = {
    graft.Bench.MemoBypass.get(name).foreach(clear => clear())
    val fn = graft.SparkEntry.queries(name)
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      tracer.span(s"suite.program.$name", group) {
        val df = tracer.span("operators.build")(fn(spark, o.data))
        val t1 = System.nanoTime()
        tracer.span("exec.write")(df.write.format("noop").mode("overwrite").save())
        ((t1 - t0) / 1e6, (System.nanoTime() - t0) / 1e6)
      }
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Whole passes in a seeded order until `seconds` have elapsed and
    * at least `minPasses` passes ran. */
  def loop(rnd: Random, seconds: Double, minPasses: Int, tracer: Tracer): Double = {
    val off = new Tracer(false)
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass += 1
      rnd.shuffle(programs.zipWithIndex).foreach { case ((name, _), k) =>
        // an enabled tracer traces each program in every other pass
        val traced = tracer.enabled && (pass + k) % 2 == 0
        val tag = if (traced) "traced" else "run"
        val (ok, ms) = try { (true, runOne(name, s"$tag.$pass.$name", if (traced) tracer else off)._2) }
          catch { case e: Exception => r.fail(s"suite $name", e); (false, 0.0) }
        (if (traced) r.tracedOps else r.ops) += ((name, "suite", ms, ok))
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Warm-up pass: each program once, its rows counted and checked
    * against the count kept for it (the noop sink reports no rows).
    * Untimed, so the programs run concurrently, `cpus` at a time, as
    * `graft.Bench`'s concurrent pass runs them. */
  def warmAndCheck(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cpus)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val bad = try Await.result(Future.traverse(programs) { case (name, expected) => Future {
      graft.Bench.MemoBypass.get(name).foreach(clear => clear())
      val got = try graft.SparkEntry.queries(name)(spark, o.data).queryExecution.toRdd.count()
        catch { case e: Exception => r.fail(s"suite $name", e); -1L }
      if (got == expected) None else Some(s"$name produced $got rows, expected $expected")
    } }, Duration.Inf).flatten finally pool.shutdown()
    r.check("suite.row_counts", bad.isEmpty, bad.mkString("; "))
  }

  def run(): Unit = {
    // a traced run reports no setup_s, so it sets up once
    (1 to (if (o.trace) 1 else Main.Setups)).foreach { rep =>
      if (rep > 1) spark.stop()
      setup(rep)
    }
    r.info("parallelism") = spark.sparkContext.defaultParallelism
    r.info("spark") = spark.version
    val rnd = new Random(o.seed)
    // the counting pass also warms: each plan is compiled before timing
    warmAndCheck()
    counters.quiesce()
    counters.reset()
    // a traced run's two halves hold each program once a pair of
    // passes; they are compared by their medians only
    val passes = if (o.trace) 2 else Suite.MinPasses
    r.minSamples = if (o.trace) programs.size else passes * programs.size
    val tracer = new Tracer(o.trace)
    r.windowS = loop(rnd, o.seconds, passes, tracer)
    counters.quiesce()
    val delta = counters.total()
    r.info("heap_live_mb") = LiveHeap.mb()
    if (o.trace) {
      // the serving layers are probed on the same tables the serve
      // workloads use, set up here outside any timing
      val serve = new Serve(o, new Main.Result)
      serve.attach(spark)
      val pool = serve.readPool(rnd)
      new Probe(o, r, spark, serve.engine, serve.tiers, serve.clients, serve.Db,
        pool.map { case (k, v) => k -> v.map(_.sql) }, tracer, counters)
        .run(delta, r.ops.size + r.tracedOps.size, programs.map(_._1))
      serve.clients.foreach(_.close())
      serve.tiers.stop()
    }
  }
}

object Suite {
  /** 4 passes of the 11 programs: 44 samples, enough for a p75 tail. */
  val MinPasses = 4

  /** `name rows` per line; `#` starts a comment. */
  def load(p: Path): Seq[(String, Long)] =
    Files.readAllLines(p).asScala.map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).map { l =>
      val Array(n, rows) = l.split("\\s+")
      n -> rows.toLong
    }.toSeq
}
