package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark workload: a set-up that can be repeated, and a closed
  * loop of timed units with one client (the calling thread). Each unit
  * calls the program's public functions through [[op]], so every call
  * is a span; outputs are checked after the unit, outside its timing.
  */
abstract class Workload(val spark: SparkSession, val rec: Recorder, val gen: Gen,
    val work: String) {

  /** Name of the timed unit (the span every end-to-end timing is over). */
  def unitName: String
  /** One complete preparation: generate the inputs and bring the
    * program's state to where the units start. Repeated; the last one
    * is the state the warm-up and the measured units use.
    */
  def prepare(): Unit

  /** A unit's work, without its timing and checks. */
  protected def runUnit(): Unit

  /** JIT and code-generation warm-up, counted in set-up: enough units
    * that the timed units start past the steep part of the JIT's
    * progress (measured on a 4-core host; full convergence takes a few
    * more, which the run time does not allow).
    */
  protected def warmUnits: Int
  def warmUp(): Unit = (1 to warmUnits).foreach(_ => runUnit())

  /** A unit's wall time on a quiet 4-core host, which sizes the run:
    * `--seconds` of nominal unit time is a fixed number of units, so a
    * run's median sits at the same point of the JIT's progress whatever
    * the host's speed, and both sides of a comparison do the same work.
    */
  def nominalUnitMs: Double

  /** Expected outputs, computed once after the preparation with plain
    * DataFrame code or plain Scala over the generated inputs.
    */
  def prepareChecks(): Unit

  /** Run one timed unit (plus any maintenance due before it), then check
    * its outputs.
    */
  def next(traced: Boolean): Unit

  /** Ops attempted, ops failed, checks run and checks failed since the last reset. */
  var opsAttempted = 0
  var opsFailed = 0
  var checksRun = 0
  var checksFailed = 0
  def resetTally(): Unit = { opsAttempted = 0; opsFailed = 0; checksRun = 0; checksFailed = 0 }

  def op[T](name: String)(body: => T): T = {
    opsAttempted += 1
    try rec.span(name)(body)
    catch { case e: Exception => opsFailed += 1; throw e }
  }

  /** Run a check; a false result or an exception counts as one failure. */
  def check(what: String)(ok: => Boolean): Unit = {
    checksRun += 1
    val passed =
      try ok
      catch { case e: Exception => Console.err.println(s"[perfbench] check $what threw: $e"); false }
    if (!passed) {
      checksFailed += 1
      Console.err.println(s"[perfbench] check failed: $what")
    }
  }

  protected def path(name: String) = s"$work/$name"
  protected def read(name: String): DataFrame = spark.read.parquet(path(name))
  protected val parts: Int = spark.sparkContext.defaultParallelism

  protected def rmrf(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally st.close()
    }
  }
}

/** Row comparison by column name, as a multiset of canonical values. */
object Rows {
  private def canon(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.getTime
    case x => x
  }

  def bag(rows: Iterable[Row], cols: Seq[String]): Map[Seq[Any], Int] = {
    val m = mutable.Map[Seq[Any], Int]()
    rows.foreach { r =>
      val k = cols.map(c => canon(r.get(r.fieldIndex(c))))
      m(k) = m.getOrElse(k, 0) + 1
    }
    m.toMap
  }

  /** Same rows (as multisets) over `cols`; logs the first difference. */
  def same(what: String, got: Iterable[Row], want: Iterable[Row], cols: Seq[String]): Boolean = {
    val (g, w) = (bag(got, cols), bag(want, cols))
    if (g != w) {
      val extra = g.keys.find(k => g(k) != w.getOrElse(k, 0))
      val missing = w.keys.find(k => w(k) != g.getOrElse(k, 0))
      Console.err.println(s"[perfbench] $what: ${got.size} rows vs ${want.size} expected; " +
        s"unexpected ${extra.getOrElse("-")}; missing ${missing.getOrElse("-")}")
    }
    g == w
  }
}
