package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every input a workload hands to the program
  * is a pure function of (seed, sf): the raw tables, the refresh and CDC
  * batches, the training and scoring spines, the stream event files,
  * the online lookup-key stream, and the curation corpus with its
  * planted near-duplicates. Each input draws from its own named random
  * stream, so resizing one input never shifts another.
  *
  * Sizes scale linearly with `sf`; at sf 0.1 the raw tables match the
  * TPC-H-shaped test data the program is verified on (15k customers,
  * 150k orders, 100k events).
  */
final class Gen(seed: Long, sf: Double) {

  def rng(stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream.hashCode.toLong)

  private def scaled(perSf: Double, floor: Int) = math.max(floor, math.round(perSf * sf).toInt)

  val nCustomers: Int = scaled(150000, 60)
  val nOrders: Int = 10 * nCustomers
  val nEvents: Int = scaled(1000000, 400)
  val nDocsBase: Int = scaled(25000, 100)
  val docReplicas = 2
  val nVectors: Int = scaled(50000, 200)
  val dim = 64

  private def round2(x: Double) = math.round(x * 100.0) / 100.0

  /** Cumulative Zipf(s) distribution over ranks 0 until n. */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    var acc = 0.0
    val c = Array.tabulate(n) { i => acc += 1.0 / math.pow(i + 1.0, s); acc }
    c.map(_ / acc)
  }

  private def zipfRank(cdf: Array[Double], r: SplittableRandom): Int =
    java.util.Arrays.binarySearch(cdf, r.nextDouble()) match {
      case i if i >= 0 => i
      case i => math.min(-i - 1, cdf.length - 1)
    }

  // ------------------------------------------------------------ fs tables

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("view", "click", "cart", "purchase")
  private val day0 = Timestamp.valueOf("1992-01-01 00:00:00").getTime
  private val orderDays = 2405 // through 1998-08-02, as TPC-H
  private val event0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_nationkey", IntegerType, nullable = false),
    StructField("c_acctbal", DoubleType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false)))

  def customers(): Seq[Row] = {
    val r = rng("customer")
    (1 to nCustomers).map { k =>
      Row(k.toLong, r.nextInt(25), round2(r.nextDouble(-999.99, 9999.99)),
        segments(r.nextInt(segments.length)))
    }
  }

  val orderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", TimestampType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  def orders(): Seq[Row] = {
    val r = rng("orders")
    (1 to nOrders).map { k =>
      // a third of the customers never order, as in TPC-H
      val c0 = 1 + r.nextInt(nCustomers)
      val c = if (c0 % 3 == 0) c0 - 1 else c0
      Row(k.toLong, c.toLong, round2(r.nextDouble(900.0, 500000.0)),
        new Timestamp(day0 + r.nextInt(orderDays) * 86400000L),
        priorities(r.nextInt(priorities.length)))
    }
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def events(): Seq[Row] = {
    val r = rng("events")
    (1 to nEvents).map { k =>
      Row(k.toLong, new Timestamp(event0 + r.nextLong(30L * 86400000L)),
        (1 + r.nextInt(nCustomers)).toLong, eventTypes(r.nextInt(eventTypes.length)),
        round2(r.nextDouble(0.0, 1000.0)))
    }
  }

  val refreshSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType),
    StructField("balance_band", IntegerType),
    StructField("acct_score", DoubleType)))

  private def profileRow(r: SplittableRandom, key: Long): Row = {
    val bal = round2(r.nextDouble(-999.99, 9999.99))
    Row(key, r.nextInt(25), bal, segments(r.nextInt(segments.length)),
      math.floor(bal / 1000.0).toInt, round2(r.nextDouble(0.0, 1.0)))
  }

  /** Merge refresh for customer_profile: 10 % of the keys re-valued and
    * 1 % new keys, carrying one column the table does not have yet.
    */
  def refreshBatch(): Seq[Row] = {
    val r = rng("refresh")
    val updated = (1 to nCustomers).filter(_ => r.nextInt(10) == 0)
    val added = (1 to math.max(1, nCustomers / 100)).map(nCustomers + _)
    (updated ++ added).map(k => profileRow(r, k.toLong))
  }

  val cdcSchema: StructType = refreshSchema.add(StructField("_op", StringType, nullable = false))

  /** CDC batch for customer_profile: 2 % deletes and 3 % upserts of
    * existing keys plus a few new keys; every key appears once.
    */
  def cdcBatch(): Seq[Row] = {
    val r = rng("cdc")
    val rows = Seq.newBuilder[Row]
    (1 to nCustomers).foreach { k =>
      val d = r.nextInt(100)
      if (d < 2) rows += Row(k.toLong, null, null, null, null, null, "delete")
      else if (d < 5) rows += Row.fromSeq(profileRow(r, k.toLong).toSeq :+ "upsert")
    }
    (1 to math.max(1, nCustomers / 200)).foreach { i =>
      rows += Row.fromSeq(profileRow(r, (2 * nCustomers + i).toLong).toSeq :+ "upsert")
    }
    rows.result()
  }

  val spineSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("churn", BooleanType, nullable = false)))

  /** Training spine: every customer plus 1 % unknown keys, with a label. */
  def trainingSpine(): Seq[Row] = {
    val r = rng("spine")
    (1 to nCustomers + math.max(1, nCustomers / 100)).map(k => Row(k.toLong, r.nextInt(4) == 0))
  }

  val pitSchema: StructType = StructType(Seq(
    StructField("sid", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  /** Point-in-time spine: (customer, instant) probes across the order
    * date range; `sid` identifies a probe.
    */
  def pitSpine(): Seq[Row] = {
    val r = rng("pit")
    (1 to nCustomers / 2).map { i =>
      Row(i.toLong, (1 + r.nextInt(nCustomers)).toLong,
        new Timestamp(day0 + r.nextLong(orderDays * 86400000L)))
    }
  }

  val scoreSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false)))

  /** Scoring batch: a third of the key space, unknown keys included. */
  def scoreBatch(): Seq[Row] = {
    val r = rng("score")
    (1 to nCustomers + nCustomers / 50).filter(_ => r.nextInt(3) == 0).map(k => Row(k.toLong))
  }

  // --------------------------------------------------------- online lookups

  /** Online lookup requests against customer_profile as published after
    * the CDC batch: 4 of one Zipf(1.1)-ranked customer key, 1 of one
    * absent key (past the largest key, so the manifest prunes every
    * file) and 1 batch of 50 keys, one in ten absent. Ranks map
    * through a fixed permutation, so hot keys scatter across files.
    */
  def lookupRequests(): Seq[Seq[Long]] = {
    val r = rng("lookups")
    val n = nCustomers
    val cdf = zipfCdf(n, 1.1)
    var mult = 2654435761L % n
    while (BigInt(mult).gcd(BigInt(n)) != 1) mult += 1
    def present(): Long = 1L + (zipfRank(cdf, r) * mult) % n
    def absent(): Long = 3L * n + 1 + r.nextInt(n)
    Seq.fill(4)(Seq(present())) ++ Seq(Seq(absent())) ++
      Seq(Seq.fill(50)(if (r.nextInt(10) == 0) absent() else present()))
  }

  // --------------------------------------------------------------- corpus

  private lazy val vocabCdf = zipfCdf(20000, 1.0)
  private def word(r: SplittableRandom): String = "w" + Integer.toString(zipfRank(vocabCdf, r), 36)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Offset of a planted copy's id from its original's; keeps `id % 10`. */
  val plantOffset = 1000000L

  /** Corpus: `docReplicas` salted replicas of `nDocsBase` Zipf-worded
    * documents (replica r appends `_r<r>` to every token, so replicas
    * share no words), plus for one document in 20 a planted copy that
    * drops the first word and appends a new one. Returns the documents
    * and the planted (original, copy) id pairs.
    */
  def corpus(): (Seq[(Long, String)], Seq[(Long, Long)]) = {
    val r = rng("corpus")
    val base = (0 until nDocsBase).map(_ => Array.fill(40 + r.nextInt(80))(word(r)))
    val docs = Seq.newBuilder[(Long, String)]
    val planted = Seq.newBuilder[(Long, Long)]
    for (rep <- 0 until docReplicas; (words, i) <- base.zipWithIndex) {
      val id = rep * 10000000L + i
      val salted = if (rep == 0) words else words.map(_ + "_r" + rep)
      docs += id -> salted.mkString(" ")
      if (r.nextInt(20) == 0) {
        val copy = salted.drop(1) :+ ("edit" + r.nextInt(1000000))
        docs += (id + plantOffset) -> copy.mkString(" ")
        planted += id -> (id + plantOffset)
      }
    }
    (docs.result(), planted.result())
  }

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Gaussian embeddings plus, for one vector in 20, a planted copy with
    * small noise (cosine about 0.999). Returns vectors and planted pairs.
    */
  def vectors(): (Seq[(Long, Array[Float])], Seq[(Long, Long)]) = {
    val r = rng("vectors")
    def gauss(): Double = {
      // Box-Muller from the seeded stream
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
    }
    val vs = Seq.newBuilder[(Long, Array[Float])]
    val planted = Seq.newBuilder[(Long, Long)]
    (0 until nVectors).foreach { i =>
      val v = Array.fill(dim)(gauss().toFloat)
      vs += i.toLong -> v
      if (r.nextInt(20) == 0) {
        vs += (i + plantOffset) -> v.map(x => (x + 0.03 * gauss()).toFloat)
        planted += i.toLong -> (i + plantOffset)
      }
    }
    (vs.result(), planted.result())
  }
}

object Gen {
  /** Write generated rows as parquet with `files` output files. */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String,
      files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)
}
