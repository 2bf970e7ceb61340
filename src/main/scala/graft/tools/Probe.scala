package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.graftmetrics.GraftTaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftSession, Pipelines, SparkEntry}

/** Diagnostic probes on the Bench session (guide §1.1 / §7 — where does
  * a query's time go?). Diagnostic only — never part of a query path.
  *
  * Usage: sbt "runMain graft.tools.Probe <mode> [q1,q2,...] [suffix]"
  *
  * Every mode builds the [[GraftSession]], warms the tables, then runs
  * each named query (default: all, sorted) twice, dropping the
  * feature-store memos and the plan-keyed cache before each pass so
  * both passes do the same cold work: pass 1 is JIT/codegen-cold like
  * Bench pass 1, pass 2 is the steady state. Env: SPARK_GRAFT_SF_DIR
  * (default sf0.1), SPARK_GRAFT_CPUS. Modes:
  *
  *   - `driver`: one CSV line per query, pass 2 only — build_s (time
  *     INSIDE the query function before its DataFrame returns:
  *     fixtures, sub-jobs, checkpoints, streaming runs), exec_s (the
  *     noop save), stage_s (summed per-stage wall spans), njobs,
  *     nstages, cpu_s and gc_s. exec_s − stage_s ≈ planning + codegen +
  *     job-submission latency of the final action.
  *   - `phases`: forces analysis/optimization/planning and prints the
  *     QueryPlanningTracker phase durations, the top rules by time and
  *     the optimized plan's expression-node count.
  *   - `stages`: the headless Stages tab — per completed stage of the
  *     noop save (top 25 by CPU): task count, wall span, executor
  *     run/CPU/GC/deserialize time, shuffle read/write, records and
  *     callsite.
  *   - `stream`: every micro-batch's progress (durationMs breakdown,
  *     state operators) plus query start/stop stamps.
  *   - `plan`: one pass; writes `.explain("formatted")` to
  *     `plans/<SPARK_GRAFT_PLANS_DIR, default r19>/<query>_<suffix>.txt`.
  */
object Probe {
  private val usage =
    "usage: Probe <driver|phases|stages|stream|plan> [q1,q2,...] [suffix]"

  /** One pass of one query: (name, pass number, query builder). */
  private type Pass = (String, Int, () => DataFrame) => Unit

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse(sys.error(usage))
    val names = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val queries = names match {
      case Some(ns) => ns.map(n =>
        n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n")))
      case None => SparkEntry.queries.toSeq.sortBy(_._1)
    }
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.create()
    val probe: Pass = mode match {
      case "driver" => driver(spark)
      case "phases" => phases
      case "stages" => stages(spark)
      case "stream" => stream(spark)
      case "plan" => plan(args.lift(2).getOrElse(sys.error(usage)))
      case _ => sys.error(usage)
    }
    GraftSession.warmUp(spark, sfDir)
    val passes = if (mode == "plan") 1 else 2
    queries.foreach { case (name, fn) =>
      (1 to passes).foreach { pass =>
        Pipelines.invalidateStoreCaches()
        spark.catalog.clearCache()
        probe(name, pass, () => fn(spark, sfDir))
      }
    }
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def driver(spark: SparkSession): Pass = {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val stageWallMs = new AtomicLong
    val gcMs = new AtomicLong
    val cpuNs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val i = e.stageInfo
        stageWallMs.addAndGet(
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L))
        gcMs.addAndGet(i.taskMetrics.jvmGCTime)
        cpuNs.addAndGet(i.taskMetrics.executorCpuTime)
      }
    })
    println("query,build_s,exec_s,stage_s,njobs,nstages,cpu_s,gc_s")
    (name, pass, build) => {
      GraftTaskMetrics.flush(spark.sparkContext)
      jobs.set(0); stages.set(0); stageWallMs.set(0); gcMs.set(0); cpuNs.set(0)
      val t0 = System.nanoTime()
      val df = try Some(build()) catch { case _: Throwable => None }
      val t1 = System.nanoTime()
      df.foreach { d => try noop(d) catch { case _: Throwable => () } }
      val t2 = System.nanoTime()
      GraftTaskMetrics.flush(spark.sparkContext)
      if (pass == 2) {
        println(f"$name,${(t1 - t0) / 1e9}%.3f,${(t2 - t1) / 1e9}%.3f," +
          f"${stageWallMs.get / 1e3}%.3f,${jobs.get},${stages.get}," +
          f"${cpuNs.get / 1e9}%.3f,${gcMs.get / 1e3}%.3f")
      }
    }
  }

  private def phases(name: String, pass: Int, build: () => DataFrame): Unit = {
    val t0 = System.nanoTime()
    val df = build()
    val t1 = System.nanoTime()
    val qe = df.queryExecution
    qe.executedPlan // force analysis + optimization + planning
    val t2 = System.nanoTime()
    val timings = qe.tracker.phases.map { case (k, v) =>
      s"$k=${v.durationMs}ms"
    }.mkString(" ")
    println(f"== $name pass $pass build=${(t1 - t0) / 1e9}%.3f s " +
      f"plan=${(t2 - t1) / 1e9}%.3f s  $timings")
    qe.tracker.rules.toSeq.sortBy(-_._2.totalTimeNs).take(12).foreach {
      case (rule, m) =>
        println(f"   ${m.totalTimeNs / 1e6}%8.1f ms  inv=${m.numInvocations}%5d " +
          f"eff=${m.numEffectiveInvocations}%4d  ${rule.split('.').last}")
    }
    val nodes = qe.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case e => e }.size).sum
    }.sum
    println(s"   optimizedPlan expr-node count ≈ $nodes")
  }

  private final case class Stage(name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, srB: Long, swB: Long, recs: Long, gcMs: Long,
      deserMs: Long, deserCpuMs: Long)

  private def stages(spark: SparkSession): Pass = {
    val done = mutable.ArrayBuffer.empty[Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        done.synchronized {
          done += Stage(i.name.linesIterator.next().take(120), i.numTasks,
            i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten,
            m.jvmGCTime, m.executorDeserializeTime,
            m.executorDeserializeCpuTime / 1000000)
        }
      }
    })
    (name, pass, build) => {
      done.synchronized(done.clear())
      val t0 = System.nanoTime()
      noop(build())
      val wall = (System.nanoTime() - t0) / 1e9
      GraftTaskMetrics.flush(spark.sparkContext)
      val snap = done.synchronized(done.toVector)
      println(f"== $name pass $pass wall=$wall%.3f s, ${snap.size} stages, " +
        f"cpu=${snap.map(_.cpuMs).sum / 1e3}%.3f s ==")
      snap.sortBy(-_.cpuMs).take(25).foreach { s =>
        println(f"  tasks=${s.tasks}%3d wall=${s.wallMs}%6d ms run=${s.runMs}%6d " +
          f"cpu=${s.cpuMs}%6d ms gc=${s.gcMs}%5d deser=${s.deserMs}%5d/" +
          f"${s.deserCpuMs}%5d sr=${s.srB / 1024}%7d KB sw=${s.swB / 1024}%7d KB " +
          f"recs=${s.recs}%9d  ${s.name}")
      }
    }
  }

  private def stream(spark: SparkSession): Pass = {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[stream] started ${e.name} at ${System.nanoTime() / 1000000} ms")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[stream] batch ${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs} state=${p.stateOperators.mkString(";")}")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[stream] terminated at ${System.nanoTime() / 1000000} ms")
    })
    (name, pass, build) => {
      val t0 = System.nanoTime()
      noop(build())
      println(f"== $name pass $pass wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
  }

  private def plan(suffix: String): Pass = {
    val dir = Paths.get("plans", sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "r19"))
    Files.createDirectories(dir)
    (name, _, build) => {
      val plan = build().queryExecution.explainString(FormattedMode)
      Files.writeString(dir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
  }
}
