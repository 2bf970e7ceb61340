package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <fs_lifecycle|curation> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * Main --selfcheck --work <dir> --out <dir>
  * }}}
  *
  * The preparation (input generation and program state) runs three
  * times; `setup_s` is its median plus the warm-up units. The
  * closed loop then runs `--seconds` of the workload's nominal unit time
  * (see [[Workload.nominalUnitMs]]). With `--trace 1` every second unit
  * runs with the Spark listeners attached; the per-layer metrics come
  * from those units and `trace.overhead_pct` compares them with the
  * others. The last stdout line is the result object.
  */
object Main {

  val Ops: Seq[String] = Seq(
    "fs.create_write", "fs.merge", "fs.apply_changes", "fs.training_set",
    "fs.pit_training_set", "fs.score_batch", "fs.publish", "fs.lookup_online",
    "streaming.refresh",
    "ext.minhash_pairs", "ext.retain_from_pairs", "ext.jaccard_join",
    "ext.cosine_lsh_pairs", "ext.brute_topk")

  /** A reported metric; `n` is its sample count. */
  final case class Metric(name: String, value: Double, unit: String, n: Int)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val selfCheck = args.contains("--selfcheck")
    val work = opts("work")
    val out = opts("out")
    Files.createDirectories(Paths.get(out))
    val hostBefore = Host.sample()
    val spark = session(work)
    val code =
      try {
        if (selfCheck) runSelfCheck(spark, work, out)
        else {
          val r = run(spark, opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
            opts("trace") == "1", sf = 0.1, setups = 3, work, out, hostBefore)
          println(r)
          0
        }
      } catch {
        case e: Throwable =>
          Console.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          2
      }
    spark.stop()
    // streaming state-store threads can keep a finished JVM alive
    System.exit(code)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, rec: Recorder, gen: Gen, work: String): Workload =
    name match {
      case "fs_lifecycle" => new FsLifecycle(spark, rec, gen, work)
      case "curation" => new Curation(spark, rec, gen, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Run one workload and return the result line. */
  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
      sf: Double, setups: Int, work: String, out: String, hostBefore: Host.Sample,
      minUnits: Int = 1, allTraced: Boolean = false, warm: Boolean = true): String = {
    val rec = new Recorder(spark)
    val wl = workload(name, spark, rec, new Gen(seed, sf), work)
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val prepS = (1 to setups).map(_ => timed(wl.prepare()))
    val checkPrepS = timed(wl.prepareChecks())
    val warmS = if (warm) timed(wl.warmUp()) else 0.0
    val setupS = Stats.median(prepS) + warmS
    rec.reset()
    wl.resetTally()

    val unitCount = math.max(minUnits, math.ceil(seconds * 1000 / wl.nominalUnitMs).toInt)
    val loopS = timed {
      (0 until unitCount).foreach(i => wl.next(traced = trace && (allTraced || i % 2 == 1)))
    }

    val units = rec.spans.filter(s => s.parent == -1 && s.name == wl.unitName).toSeq
    val failed = wl.opsFailed + wl.checksFailed
    val e2e = Seq(
      Metric("setup_s", setupS, "s", prepS.size),
      Metric("unit_ms.p50", Stats.median(units.map(_.wallMs)), "ms", units.size),
      Metric("unit_cpu_ms.p50", Stats.median(units.map(_.cpuMs)), "ms", units.size),
      Metric("peak_rss_mb", Host.peakRssMb(), "MB", 1))
    val layers = if (trace) perLayer(rec, wl, units) else Nil

    val tag = s"$name-seed$seed-trace${if (trace) 1 else 0}"
    val hostAfter = Host.sample()
    val summary = Seq(
      s"# perfbench $tag sf=$sf units=${units.size}",
      f"# setup_s = median of ${prepS.map(x => f"$x%.3f").mkString(", ")} s (preparation) + $warmS%.3f s (warm-up)",
      f"# untimed: $checkPrepS%.3f s expected outputs, $loopS%.3f s unit loop of which " +
        f"${loopS - rec.spans.filter(_.parent == -1).map(_.wallMs).sum / 1e3}%.3f s outside units (checks)",
      s"# error_rate ${if (wl.opsAttempted == 0) 1.0 else failed.toDouble / wl.opsAttempted}" +
        s" (${wl.opsFailed} failed ops of ${wl.opsAttempted}, ${wl.checksFailed} failed checks of ${wl.checksRun})") ++
      (e2e ++ layers).map(m => f"# ${m.name}%-44s ${m.value}%14.4f ${m.unit}%-6s (n=${m.n})") ++
      (if (trace) "# per-layer self time (traced units, totals):" +: rec.layerTable().map("#   " + _) else Nil) :+
      s"# host ${Host.json(hostBefore, hostAfter)}"
    summary.foreach(println)

    val dir = Paths.get(out, tag)
    Files.createDirectories(dir)
    rec.writeSpans(dir.resolve("spans.jsonl"))
    Files.write(dir.resolve("summary.txt"), summary.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(dir.resolve("host.json"), Host.json(hostBefore, hostAfter).getBytes("UTF-8"))

    val metrics = (if (trace) layers else e2e)
      .map(m => s""""${m.name}":{"value":${Stats.num(m.value)},"unit":"${m.unit}"}""")
    s"""{"correct":${failed == 0 && wl.opsAttempted > 0},"attempted":${math.max(1, wl.opsAttempted)},""" +
      s""""failed":$failed,"metrics":{${metrics.mkString(",")}}}"""
  }

  /** Per-op metrics over the traced calls (0 for an op this workload
    * does not call), plus the workload-level layer metrics.
    */
  def perLayer(rec: Recorder, wl: Workload, units: Seq[Span]): Seq[Metric] = {
    val attr = rec.attribution
    def ex(s: Span, k: String) = rec.extras.get((s.id, k))
    def med(name: String, xs: Seq[Double], unit: String) =
      Metric(name, if (xs.isEmpty) 0.0 else Stats.median(xs), unit, xs.size)
    def traced(op: String) = rec.spans.filter(s => s.name == op && s.traced && !s.failed).toSeq
    val perOp = Ops.flatMap { op =>
      val calls = traced(op)
      val as = calls.map(s => attr(s.id))
      Seq(
        med(s"$op.wall_ms", calls.map(_.wallMs), "ms"),
        med(s"$op.plan_ms", as.map(_.planMs), "ms"),
        med(s"$op.driver_ms", calls.map(s => s.wallMs - attr(s.id).coveredMs), "ms"),
        med(s"$op.jobs", as.map(_.jobs.toDouble), "count"),
        med(s"$op.cpu_ms", as.map(_.cpuMs), "ms"),
        med(s"$op.shuffle_bytes", as.map(_.shuffleBytes.toDouble), "bytes"),
        Metric(s"$op.failed", rec.spans.count(s => s.name == op && s.failed).toDouble, "count",
          rec.spans.count(_.name == op)))
    }
    def extra(op: String, k: String, unit: String) = med(s"$op.$k", traced(op).flatMap(ex(_, k)), unit)
    val lookups = traced("fs.lookup_online")
    val rowsOut = lookups.flatMap(ex(_, "rows_out")).sum
    val rowsRead = lookups.map(s => attr(s.id).recordsRead).sum.toDouble
    val filesRead = lookups.flatMap(ex(_, "files_read"))
    val specific = Seq(
      extra("fs.merge", "write_amp", "ratio"),
      Metric("fs.lookup_online.files_read",
        if (filesRead.isEmpty) 0.0 else filesRead.sum / filesRead.size, "count", filesRead.size),
      Metric("fs.lookup_online.rows_read_per_row", if (rowsOut == 0) 0.0 else rowsRead / rowsOut,
        "ratio", lookups.size),
      extra("fs.publish", "files", "count"),
      extra("ext.minhash_pairs", "pairs_out", "count"),
      extra("ext.jaccard_join", "pairs_out", "count"),
      extra("ext.cosine_lsh_pairs", "pairs_out", "count"),
      extra("streaming.refresh", "query_planning_ms", "ms"),
      extra("streaming.refresh", "add_batch_ms", "ms"),
      extra("streaming.refresh", "start_stop_ms", "ms"))
    val (on, off) = units.partition(_.traced)
    val workload = Seq(
      Metric("unit.samples", units.size.toDouble, "count", units.size),
      Metric("unit_ms.p90", Stats.quantile(units.map(_.wallMs), 0.9), "ms", units.size),
      med("unit.self_ms", on.map(rec.selfMs), "ms"),
      Metric("gc_ms_per_unit", units.map(_.gcMs).sum / units.size, "ms", units.size),
      Metric("trace.overhead_pct",
        if (on.isEmpty || off.isEmpty) 0.0
        else (Stats.median(on.map(_.wallMs)) / Stats.median(off.map(_.wallMs)) - 1) * 100, "%",
        units.size),
      med("store_bytes_ratio", units.flatMap(ex(_, "store_bytes_ratio")), "ratio"))
    perOp ++ specific ++ workload
  }

  /** Every workload at sf 0.001 with every unit traced and checked. */
  def runSelfCheck(spark: SparkSession, work: String, out: String): Int = {
    val results = Seq("fs_lifecycle", "curation").map { w =>
      val line = run(spark, w, seed = 1, seconds = 0, trace = true, sf = 0.001, setups = 1,
        work = s"$work/$w", out = out, hostBefore = Host.sample(),
        minUnits = 2, allTraced = true, warm = false)
      println(line)
      line.startsWith("""{"correct":true""")
    }
    println(s"# selfcheck ${if (results.forall(identity)) "passed" else "FAILED"}")
    if (results.forall(identity)) 0 else 1
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString
}

/** Host-noise record: load, steal and the JVM's settings. */
object Host {
  final case class Sample(loadavg: String, steal: Long, total: Long)

  def sample(): Sample = {
    val load = read("/proc/loadavg").trim
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).fold(Array.empty[Long])(
      _.split("\\s+").drop(1).map(_.toLong))
    Sample(load, if (cpu.length > 7) cpu(7) else -1L, cpu.sum)
  }

  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "UTF-8") catch { case _: Exception => "" }

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .fold(Runtime.getRuntime.totalMemory / 1048576.0)(_.split("\\s+")(1).toDouble / 1024.0)

  def json(before: Sample, after: Sample): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    val stealPct = if (after.total > before.total && before.steal >= 0)
      100.0 * (after.steal - before.steal) / (after.total - before.total) else -1.0
    val args = rt.getInputArguments.asScala.map(a => "\"" + a.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map("\"" + _.getName + "\"")
    s"""{"loadavg_before":"${before.loadavg}","loadavg_after":"${after.loadavg}",""" +
      f""""steal_pct":$stealPct%.3f,"cpus":${Runtime.getRuntime.availableProcessors},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"java":"${System.getProperty("java.version")}",""" +
      s""""gc":[${gcs.mkString(",")}],"jvm_args":[${args.mkString(",")}]}"""
  }
}
