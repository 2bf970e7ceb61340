package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session shape every main builds, as data — no second
  * SparkSession starts in the test JVM. A drift here fails this spec
  * instead of silently skewing a probe against the bench.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("conf: local[cores], shuffle partitions = cores, UTC, UI off, codegen cache 4096, DPP off, GraftExtensions") {
    for (cores <- Seq(1, 8, 32)) {
      val conf = GraftSession.conf(cores)
      assert(conf.map(_._1).distinct.size == conf.size, "a key is set twice")
      assert(conf.toMap == Map(
        "spark.master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false",
        "spark.sql.codegen.cache.maxEntries" -> "4096",
        "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false",
        "spark.sql.extensions" -> "graft.functions.GraftExtensions"))
    }
  }

  test("conf: the extensions class loads and applies the way spark.sql.extensions does") {
    val cls = GraftSession.conf(1).toMap.apply("spark.sql.extensions")
    val ext = Class.forName(cls).getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    ext(new SparkSessionExtensions)
  }
}
