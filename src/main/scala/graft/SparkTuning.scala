package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide core-conf tuning applied at session build time (core
  * confs cannot change after the SparkContext exists — unlike the SQL
  * confs the extensions/operators manage).
  *
  * `spark.shuffle.sort.bypassMergeThreshold=1` (round 17): Spark's
  * bypass-merge shuffle writer opens R compressed partition-file
  * streams PER MAP TASK whenever R <= 200. Measured on this engine's
  * dominant shuffle shape (32 map tasks x 32 reduce partitions,
  * kilobyte-to-megabyte payloads): 2.5-2.8 s of shuffle-write time to
  * move 1.3-2.5 MB — ~2.5 ms of stream setup per (task, partition),
  * 1024 streams per stage, charged to every Exchange in every query.
  * Forcing the regular sort writer (one spill-merged file per map
  * task + index) cut the same stage's write time to 4-11 ms and total
  * stage CPU 3-5x (stage-metric A/B, min-of-run, both orders). At production scale the law is the same per stage: the
  * sort writer pays an in-memory partition-id sort per task (cheap,
  * cache-friendly) instead of R stream setups + R-way tiny-file
  * output; large shuffles (R > 200) already use it. Parameterised for
  * A/B and rollback: SPARK_GRAFT_SHUFFLE_BYPASS_THR (unset -> 1;
  * "default" -> leave Spark's 200). */
object SparkTuning {
  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    val b1 = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_BYPASS_THR", "1") match {
      case "default" => b
      case v => b.config("spark.shuffle.sort.bypassMergeThreshold", v)
    }
    // Optional scratch-dir override (r17): shuffle-map commits run
    // under ONE synchronized IndexShuffleBlockResolver per JVM (thread
    // dumps: 14/32 executor threads blocked there mid-q61d), so the
    // held time of each commit's create+write+rename bounds map-task
    // throughput at high stage counts. SPARK_GRAFT_LOCAL_DIR points
    // spark.local.dir at faster ephemeral storage (e.g. /dev/shm) —
    // the standard "fastest local scratch" deployment choice. Unset =
    // Spark's default (java.io.tmpdir).
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty) match {
      case Some(d) => b1.config("spark.local.dir", d)
      case None => b1
    }
  }
}
