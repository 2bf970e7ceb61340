package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graftmetrics.GraftTaskMetrics
import org.apache.spark.sql.SparkSession

/** The one session shape of this engine's mains: Bench, Verify, the
  * Probe modes, GenPlans and ScaleCheck all build through [[create]], so
  * a probe measures the session Bench times and Verify checks. Also the
  * one copy of the helpers those mains share (warm-up, host load,
  * task-metric cuts).
  */
object GraftSession {

  /** Local thread count: `SPARK_GRAFT_CPUS`, else every host core. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Dataset dir of the timing mains: `SPARK_GRAFT_SF_DIR`, default sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The session's whole conf as data — [[create]] applies exactly
    * these pairs, so a spec can pin the shape without a session.
    */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    // pin the zone Verify validated under: q54/q56/q57 derive epoch
    // micros from ntz columns, and a host-local zone would run
    // different (unverified) work
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // the generated-code cache (STATIC conf, default 100 entries)
    // evicts long before Bench's pass 2 re-plans the same 294 queries,
    // so every pass-2 stage re-ran Janino on an identical source; 4096
    // entries keeps both passes' classes resident — compiled-code
    // reuse, never data reuse (results are recomputed from parquet
    // every pass)
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // dynamic partition pruning searches every join for a
    // partitioned-scan side it could filter; this engine's tables are
    // UNPARTITIONED parquet files (TESTDATA.md layout), so the rule
    // never fires (0 effective invocations board-wide) yet costs
    // optimizer time on join-dense plans (q227: 0.56–0.71 s per
    // planning pass)
    "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false",
    // SQL functions + the RangeJoinRewrite rule, installed the standard
    // way: q205 gates the rule from naive SQL text, so every main must
    // plan with it
    "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName)

  def create(cores: Int = GraftSession.cores): SparkSession = {
    val spark = conf(cores)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Count every testdata table once, so first-touch costs (codegen
    * JIT, parquet footer reads, FileSourceScan setup) land here instead
    * of on whichever query a timed loop runs first.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    Tables.all.foreach { n =>
      try Tables.load(spark, sfDir, n).count() catch { case _: Throwable => () }
    }

  /** Host-load marker: identical-code sweeps have ranged 191→240 s
    * under host steal from OUTSIDE the guest, and a before/after
    * loadavg separates steal from regressions.
    */
  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Throwable => "" }

  /** Installs a task-end counter and returns its cut: (executor CPU ns,
    * shuffle-read bytes, shuffle-write bytes) since install. The bus is
    * drained before each read, so deltas between two cuts are exact
    * per-region values (async listener delivery would otherwise smear a
    * region's tail into its successor).
    */
  def metricsCut(spark: SparkSession): () => (Long, Long, Long) = {
    val sc = spark.sparkContext
    val m = GraftTaskMetrics.install(sc)
    () => { GraftTaskMetrics.flush(sc); m.snapshot() }
  }
}
