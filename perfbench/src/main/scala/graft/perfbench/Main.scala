package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark main. Runs one workload in this JVM and writes its raw
  * samples as JSON to `--out`; `perfbench/run.py` turns them into the
  * metrics. Arguments:
  *   --workload serve_point|suite  --seed N  --seconds S
  *   --trace 0|1  --data <sf dir>  --work <scratch dir>  --out <file>
  *   --cpus N  --programs <suite list> */
object Main {
  /** Set-ups per untraced run; `setup_s` is their median. */
  val Setups = 2

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: Path, out: Path, cpus: Int, programs: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath,
      need("cpus").toInt, Paths.get(need("programs")))
  }

  /** Raw results, serialised by [[Json]]. */
  final class Result {
    val info = mutable.LinkedHashMap[String, Any]()
    val setupS = mutable.ArrayBuffer[Double]()
    /** (class, tier, ms, ok) of every untraced operation in the window. */
    val ops = mutable.ArrayBuffer[(String, String, Double, Boolean)]()
    /** Same, for the traced operations of a traced run's window. */
    val tracedOps = mutable.ArrayBuffer[(String, String, Double, Boolean)]()
    var windowS = 0.0
    val failures = mutable.ArrayBuffer[String]()
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    val layers = mutable.LinkedHashMap[String, Double]()
    /** The fewest samples the tail percentile may rest on: the loop
      * runs past its window until it has this many. */
    var minSamples = 0

    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      checks += ((name, ok, if (ok) "" else detail))
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }

    def fail(what: String, e: Throwable): Unit = failures.synchronized {
      if (failures.size < 50) failures += s"$what: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
    }

    def json: String = Json(Map(
      "info" -> info.toMap, "setup_s" -> setupS.toSeq,
      "window_s" -> windowS, "min_samples" -> minSamples,
      "ops" -> ops.toSeq.map(o => Seq(o._1, o._2, o._3, o._4)),
      "traced_ops" -> tracedOps.toSeq.map(o => Seq(o._1, o._2, o._3, o._4)),
      "failures" -> failures.toSeq,
      "checks" -> checks.toSeq.map(c => Map("name" -> c._1, "ok" -> c._2, "detail" -> c._3)),
      "layers" -> layers.toMap))
  }

  /** The engine's session as a server would build it: local[cpus],
    * graft's extensions and tuning, FAIR pools, scratch under `work`. */
  def session(o: Opts, warehouse: Path): SparkSession = {
    val local = o.work.resolve("spark-local")
    Files.createDirectories(local)
    val pools = o.work.resolve("pools.xml")
    if (!Files.exists(pools)) Files.writeString(pools, (0 until 8).map(i =>
      s"""<pool name="graft-$i"><schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>0</minShare></pool>""")
      .mkString("<?xml version=\"1.0\"?>\n<allocations>\n", "\n", "\n</allocations>\n"))
    val spark = graft.SparkTuning.tuned(SparkSession.builder())
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", pools.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", warehouse.toUri.toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def loadavg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val r = new Result
    r.info ++= Seq("workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cpus" -> o.cpus, "loadavg_start" -> loadavg,
      "java" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    // server and scheduler threads are not daemons: exit explicitly,
    // and write no result when the workload itself threw
    val code = try {
      o.workload match {
        case "serve_point" => new Serve(o, r).run()
        case "suite" => new Suite(o, r).run()
        case w => sys.error(s"unknown workload '$w'")
      }
      r.info("loadavg_end") = loadavg
      Files.writeString(o.out, r.json)
      0
    } catch { case e: Throwable => e.printStackTrace(); 1 }
    try SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    catch { case _: Throwable => }
    System.exit(code)
  }
}

/** Heap in use after full collections, once the memos the suite
  * programs keep are cleared: what the process retains for itself
  * (registries, caches, compiled code metadata). */
object LiveHeap {
  def mb(): Double = {
    graft.Bench.MemoBypass.values.foreach(clear => clear())
    System.gc()
    Thread.sleep(200) // lets Spark's cleaner drop what the first pass freed
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON writer for maps, sequences, numbers, strings, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
