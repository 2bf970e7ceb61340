package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.fs._
import graft.streaming.StreamingFeatures

/** fs_lifecycle: the flight-school notebook, one cycle per unit, each on
  * a fresh store root over the same seeded inputs: create and write two
  * feature tables, merge a refresh that adds a column, apply a CDC batch
  * with deletes, build a training set and a point-in-time training set,
  * score a batch, publish, serve six online lookups, and run one
  * AvailableNow streaming refresh.
  */
final class FsLifecycle(spark: SparkSession, rec: Recorder, gen: Gen, work: String)
    extends Workload(spark, rec, gen, work) {

  def unitName = "cycle"
  def nominalUnitMs = 5000.0

  private val Profile = "customer_profile"
  private val Monthly = "order_monthly"
  private val EventAgg = "event_agg"
  private val Model = "models:/churn/1"

  private val profileFn = FeatureFunction(Profile, df => df.select(
    col("c_custkey"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"),
    floor(col("c_acctbal") / 1000.0).cast("int").as("balance_band")))

  private val monthlyFn = FeatureFunction(Monthly, df => df
    .groupBy(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("month_ts"))
    .agg(count(lit(1)).as("n_orders"),
      sum(col("o_totalprice").cast(DecimalType(12, 2))).as("spend")))

  private val weights = Map("c_acctbal" -> 0.0004, "balance_band" -> -0.35, "acct_score" -> 1.5)
  private val bias = -0.6
  private val registry = new ScorerRegistry()
  registry.register(LogisticScorer("churn", 1,
    weights.keys.toSeq.sorted.map(f => FeatureLookup(Profile, f, "c_custkey")), weights, bias))

  private var cycles = 0

  def prepare(): Unit = {
    Gen.write(spark, gen.customers(), gen.customerSchema, path("customer"), parts)
    Gen.write(spark, gen.orders(), gen.orderSchema, path("orders"), parts)
    Gen.write(spark, gen.events(), gen.eventSchema, path("events"), parts)
    Gen.write(spark, gen.refreshBatch(), gen.refreshSchema, path("refresh"), 1)
    Gen.write(spark, gen.cdcBatch(), gen.cdcSchema, path("cdc"), 1)
    Gen.write(spark, gen.trainingSpine(), gen.spineSchema, path("spine"), 1)
    Gen.write(spark, gen.pitSpine(), gen.pitSchema, path("pit"), 1)
    Gen.write(spark, gen.scoreBatch(), gen.scoreSchema, path("score"), 1)
    requests = gen.lookupRequests()
  }

  protected def runUnit(): Unit = { cycle(); rmrf(root) }
  protected def warmUnits = 2

  // ---------------------------------------------------------------- cycle

  private var root = ""
  private var store: FeatureStore = _
  private var train, pit, scores: Array[Row] = Array.empty
  private var requests: Seq[Seq[Long]] = Nil
  private var served: Seq[Array[Row]] = Nil

  private def cycle(): Unit = {
    root = path(s"store-$cycles")
    cycles += 1
    store = new FeatureStore(spark, root)
    op("fs.create_write") {
      val in = read("customer")
      store.createTable(FeatureTableSpec(Profile, Seq("c_custkey"), profileFn(in).schema))
      profileFn.computeAndWrite(store, in, Profile, WriteMode.Overwrite)
    }
    op("fs.create_write") {
      val in = read("orders")
      store.createTable(FeatureTableSpec(Monthly, Seq("o_custkey", "month_ts"), monthlyFn(in).schema))
      monthlyFn.computeAndWrite(store, in, Monthly, WriteMode.Overwrite)
    }
    op("fs.merge")(store.writeTable(Profile, read("refresh"), WriteMode.Merge))
    if (rec.isTracing) rec.extra(rec.last("fs.merge"), "write_amp",
      Trace.duBytes(versionDir(Profile)).toDouble / Trace.duBytes(path("refresh")))
    op("fs.apply_changes")(store.applyChanges(Profile, read("cdc")))
    train = op("fs.training_set") {
      TrainingSet(store, read("spine"),
        FeatureLookup.allFeatures(store, Profile, Seq("c_custkey")), Some("churn")).loadDf.collect()
    }
    pit = op("fs.pit_training_set") {
      PointInTime.createTrainingSet(store, read("pit"), Monthly, Seq("n_orders", "spend"),
        spineTs = "ts", featTs = "month_ts").collect()
    }
    scores = op("fs.score_batch")(registry.scoreBatch(store, Model, read("score")).collect())
    op("fs.publish")(store.publishTable(Profile))
    if (rec.isTracing) rec.extra(rec.last("fs.publish"), "files",
      Trace.dataFiles(s"$root/_online/$Profile"))
    served = requests.map { keys =>
      val (df, rows) = op("fs.lookup_online") {
        val df = store.lookupOnline(Profile, keys)
        (df, df.collect())
      }
      if (rec.isTracing) {
        val s = rec.last("fs.lookup_online")
        rec.extra(s, "files_read", df.inputFiles.length)
        rec.extra(s, "rows_out", rows.length)
      }
      rows
    }
    val progress = op("streaming.refresh") {
      store.createTable(FeatureTableSpec(EventAgg, Seq("user_id"), aggSchema))
      val q = StreamingFeatures.maintainAggState(
        spark.readStream.schema(gen.eventSchema).parquet(path("events")),
        store, EventAgg, Seq("user_id"), "value", s"$root/_checkpoint")
      q.awaitTermination()
      q.recentProgress
    }
    if (rec.isTracing) {
      val s = rec.last("streaming.refresh")
      def total(k: String) = progress.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum
      rec.extra(s, "query_planning_ms", total("queryPlanning").toDouble)
      rec.extra(s, "add_batch_ms", total("addBatch").toDouble)
      rec.extra(s, "start_stop_ms", s.wallMs - total("triggerExecution"))
    }
  }

  private def versionDir(t: String) = s"$root/$t/v${store.currentVersion(t)}"

  private lazy val aggSchema = aggOf(read("events")).schema

  private def aggOf(events: DataFrame): DataFrame = events.groupBy(col("user_id")).agg(
    count(lit(1)).as("cnt"),
    sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sm"),
    min(col("value")).as("mn"), max(col("value")).as("mx"))

  /** Store bytes on disk per byte of the current snapshots. */
  private def storeBytesRatio(): Double =
    Trace.duBytes(root).toDouble / Seq(Profile, Monthly, EventAgg).map(t => Trace.duBytes(versionDir(t))).sum

  def next(traced: Boolean): Unit = {
    val u = rec.unit(unitName, traced)(cycle())
    if (!u.failed) {
      if (traced) rec.extra(u, "store_bytes_ratio", storeBytesRatio())
      verify()
    }
    rmrf(root)
  }

  // --------------------------------------------------------------- checks

  private var wantMerged, wantCdc, wantTrain, wantPit, wantScores, wantAgg: Array[Row] = Array.empty
  private val profileCols = Seq("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment",
    "balance_band", "acct_score")

  def prepareChecks(): Unit = {
    val base = profileFn(read("customer"))
    val refresh = read("refresh")
    val merged = base.join(refresh.select("c_custkey"), Seq("c_custkey"), "left_anti")
      .withColumn("acct_score", lit(null).cast("double"))
      .unionByName(refresh)
    val cdc = read("cdc")
    val afterCdc = merged.join(cdc.select("c_custkey"), Seq("c_custkey"), "left_anti")
      .unionByName(cdc.filter(col("_op") === "upsert").drop("_op"))
    wantMerged = merged.collect()
    wantCdc = afterCdc.collect()
    wantTrain = read("spine").join(afterCdc, Seq("c_custkey"), "left").collect()

    val feats = monthlyFn(read("orders"))
    val probes = read("pit")
    val w = Window.partitionBy(col("sid")).orderBy(col("month_ts").desc_nulls_last)
    wantPit = probes.join(feats, probes("o_custkey") === feats("o_custkey") &&
        feats("month_ts") <= probes("ts"), "left")
      .select(probes("sid"), probes("o_custkey"), probes("ts"), col("month_ts"),
        col("n_orders"), col("spend"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .collect()

    // the scorer's documented model, evaluated in the same term order
    val z = weights.toSeq.sortBy(_._1).map { case (c, wt) =>
      coalesce(col(c).cast("double"), lit(0.0)) * lit(wt)
    }.foldLeft(lit(bias))(_ + _)
    wantScores = read("score").join(afterCdc.select("c_custkey", weights.keys.toSeq: _*),
        Seq("c_custkey"), "left")
      .withColumn("prediction", when(z > 0, "True").otherwise("False"))
      .collect()
    wantAgg = aggOf(read("events")).collect()
  }

  private def verify(): Unit = {
    check("merged table")(Rows.same("merged", store.readTableVersion(Profile, 2).collect(),
      wantMerged, profileCols))
    check("CDC table")(Rows.same("cdc", store.readTable(Profile).collect(), wantCdc, profileCols))
    check("training set")(Rows.same("training set", train, wantTrain, "churn" +: profileCols))
    check("PIT training set")(Rows.same("pit", pit, wantPit,
      Seq("sid", "o_custkey", "ts", "n_orders", "spend")))
    check("scores")(Rows.same("scores", scores, wantScores,
      Seq("c_custkey", "prediction") ++ weights.keys.toSeq.sorted))
    check("published rows")(store.readOnlineTable(Profile).count() == wantCdc.length)
    val byKey = wantCdc.map(r => r.getLong(r.fieldIndex("c_custkey")) -> r).toMap
    requests.zip(served).foreach { case (keys, rows) =>
      check("online lookup")(Rows.same("lookup", rows, keys.distinct.flatMap(byKey.get), profileCols))
    }
    check("streaming state")(Rows.same("streaming state", store.readTable(EventAgg).collect(),
      wantAgg, Seq("user_id", "cnt", "sm", "mn", "mx")))
  }
}
