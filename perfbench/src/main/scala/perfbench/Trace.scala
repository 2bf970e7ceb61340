package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler._

/** Wall clock in epoch nanoseconds, monotonic within the process, on
  * the same axis as Spark's epoch-millisecond event times.
  */
object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)
}

/** One timed interval: a unit of a workload, or one call into a layer
  * of the program inside it. Spans of one unit share `unit`.
  */
final case class Span(id: Int, name: String, parent: Int, unit: Int, traced: Boolean,
    startNs: Long, var endNs: Long = 0L, var failed: Boolean = false) {
  /** Java-thread CPU and GC time over the span (recorded for units). */
  var cpuMs = 0.0
  var gcMs = 0.0
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** What a traced span caused: its Spark jobs with their task totals,
  * and the time covered by planning phases and by jobs (ms).
  */
final case class Attribution(jobs: Int, cpuMs: Double, shuffleBytes: Long,
    recordsRead: Long, planMs: Double, coveredMs: Double)

/** Spans in memory, plus (while tracing) the Spark jobs, tasks and
  * planning phases each span caused. Jobs are tagged with the innermost
  * open span through a Spark local property, which threads started
  * inside the span (streaming micro-batches, broadcast exchanges)
  * inherit; a job without the tag goes to the innermost span open at its
  * start. Planning phases carry no thread identity: each goes to the
  * innermost span open at its midpoint.
  */
final class Recorder(spark: SparkSession) {
  private val Prop = "perfbench.span"
  private val sc = spark.sparkContext
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var unitId = -1
  private var tracing = false
  /** Per-span measurements taken by the workloads (pairs out, files read, ...). */
  val extras = mutable.Map[(Int, String), Double]()

  private val jobs = new JobListener(Prop)
  private val plans = new PlanListener

  private val threads = ManagementFactory.getThreadMXBean
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** CPU time of every live Java thread: the client, Spark's scheduler
    * and its task threads, but not the JIT compiler or GC threads, so a
    * unit's CPU does not depend on how far JIT compilation has got.
    */
  private def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Time one unit; `traced` attaches the listeners for its duration. A
    * failure inside the unit is logged and leaves the span marked failed.
    */
  def unit(name: String, traced: Boolean)(body: => Unit): Span = {
    unitId += 1
    if (traced) {
      sc.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }
    tracing = traced
    val id = spans.size
    val (cpu0, gc0) = (threadCpuNs(), gcMs)
    try span(name)(body)
    catch { case e: Exception => Console.err.println(s"[perfbench] $name $unitId failed: $e") }
    finally {
      if (traced) {
        // drain before detaching, so the unit's own events are kept
        org.apache.spark.graftmetrics.GraftTaskMetrics.flush(sc)
        sc.removeSparkListener(jobs)
        spark.listenerManager.unregister(plans)
        tracing = false
      }
    }
    val s = spans(id)
    s.cpuMs = threadCpuNs().map { case (id, ns) => ns - cpu0.getOrElse(id, 0L) }.sum / 1e6
    s.gcMs = (gcMs - gc0).toDouble
    s
  }

  /** Forget everything recorded so far (the set-up's warm-up spans). */
  def reset(): Unit = {
    spans.clear(); extras.clear(); stack = Nil; unitId = -1
  }

  /** Time one call into the program; failures are marked and rethrown. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), unitId, tracing, Clock.nowNs)
    spans += s
    stack = s :: stack
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endNs = Clock.nowNs
      stack = stack.tail
      sc.setLocalProperty(Prop, prev)
    }
  }

  def isTracing: Boolean = tracing
  def last(name: String): Span = spans.findLast(_.name == name).get
  def extra(s: Span, key: String, v: Double): Unit = extras((s.id, key)) = v

  // ------------------------------------------------------------ attribution

  /** Jobs, task totals and covered time of every traced span. */
  lazy val attribution: Map[Int, Attribution] = {
    val traced = spans.filter(_.traced).toIndexedSeq
    val bySpan = jobs.records.groupBy { j =>
      if (j.tag >= 0) j.tag
      else innermost(traced, j.startMs * 1000000L).fold(-1)(_.id)
    }
    val phasesBySpan = plans.phases.groupBy { case (a, b) =>
      innermost(traced, (a + b) * 500000L).fold(-1)(_.id)
    }
    traced.map { s =>
      val js = bySpan.getOrElse(s.id, Nil)
      val (lo, hi) = (s.startNs / 1e6, s.endNs / 1e6)
      def clip(a: Double, b: Double) = (math.max(a, lo), math.min(b, hi))
      val planIv = phasesBySpan.getOrElse(s.id, Nil)
        .map { case (a, b) => clip(a.toDouble, b.toDouble) }.filter(p => p._2 > p._1)
      val jobIv = js.map(j => clip(j.startMs.toDouble, j.endMs.toDouble)).filter(p => p._2 > p._1)
      s.id -> Attribution(js.size, js.map(_.cpuNs).sum / 1e6, js.map(_.shuffleBytes).sum,
        js.map(_.recordsRead).sum,
        unionLength(planIv), unionLength(planIv ++ jobIv))
    }.toMap
  }

  private def innermost(ss: IndexedSeq[Span], tNs: Long): Option[Span] =
    ss.filter(s => s.startNs <= tNs && tNs <= s.endNs).maxByOption(_.startNs)

  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Self time of a span: its wall minus the part its children cover. */
  def selfMs(s: Span): Double =
    s.wallMs - spans.filter(_.parent == s.id).map(_.wallMs).sum

  /** Spans as JSON lines, one per span, with their attribution. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val a = attribution.get(s.id).fold("") { a =>
        f""","jobs":${a.jobs},"cpu_ms":${a.cpuMs}%.3f,"shuffle_bytes":${a.shuffleBytes},""" +
          f""""plan_ms":${a.planMs}%.3f,"covered_ms":${a.coveredMs}%.3f"""
      }
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"unit":${s.unit},""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f,""" +
        s""""traced":${s.traced},"failed":${s.failed}$a}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }

  /** Per-layer self-time table over the traced spans, one row per span
    * name: calls, wall, self, planning, Spark-job and driver time (ms,
    * totals), CPU and shuffle.
    */
  def layerTable(): Seq[String] = {
    val traced = spans.filter(_.traced)
    val header = f"${"span"}%-26s ${"calls"}%6s ${"wall_ms"}%10s ${"self_ms"}%10s " +
      f"${"plan_ms"}%9s ${"job_ms"}%9s ${"driver_ms"}%10s ${"cpu_ms"}%10s ${"shuffle_kb"}%10s"
    header +: traced.groupBy(_.name).toSeq.sortBy(-_._2.map(_.wallMs).sum).map { case (n, ss) =>
      val as = ss.flatMap(s => attribution.get(s.id))
      val wall = ss.map(_.wallMs).sum
      val self = ss.map(selfMs).sum
      val plan = as.map(_.planMs).sum
      val covered = as.map(_.coveredMs).sum
      f"$n%-26s ${ss.size}%6d $wall%10.1f $self%10.1f $plan%9.1f ${covered - plan}%9.1f " +
        f"${self - covered}%10.1f ${as.map(_.cpuMs).sum}%10.1f ${as.map(_.shuffleBytes).sum / 1024.0}%10.1f"
    }
  }
}

/** Jobs with their tag, interval and task totals. */
final class JobListener(prop: String) extends SparkListener {
  final class Job(val tag: Int, val startMs: Long) {
    @volatile var endMs: Long = startMs
    var cpuNs = 0L; var shuffleBytes = 0L; var recordsRead = 0L
  }
  private val byId = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()

  def records: Seq[Job] = synchronized(byId.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(prop))).fold(-1)(_.toInt)
    val j = new Job(tag, e.time)
    byId(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.cpuNs += m.executorCpuTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.recordsRead += m.inputMetrics.recordsRead
    }
  }
}

/** Analysis, optimization and planning intervals of every executed query. */
final class PlanListener extends QueryExecutionListener {
  private val buf = ArrayBuffer[(Long, Long)]()
  def phases: Seq[(Long, Long)] = synchronized(buf.toSeq)
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => buf += ((p.startTimeMs, p.endTimeMs)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

object Trace {
  /** Bytes of every regular file under `dir` (0 if absent). */
  def duBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally st.close()
    }
  }

  /** Parquet data files directly under `dir`. */
  def dataFiles(dir: String): Int = {
    val f = new java.io.File(dir).listFiles()
    if (f == null) 0 else f.count(x => x.isFile && x.getName.endsWith(".parquet"))
  }
}
