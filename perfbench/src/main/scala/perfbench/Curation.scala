package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, SetSimJoin, Similarity}

/** curation: one pass per unit over a seeded corpus of salted document
  * replicas and an embedding table, both with planted near-duplicates.
  * A pass runs the five corpus operators: MinHash candidate pairs,
  * retention over those pairs, the exact Jaccard join on the
  * `doc_id % 10 = 0` slice, cosine LSH pairs and brute-force top-k.
  * No feature-store code runs here.
  */
final class Curation(spark: SparkSession, rec: Recorder, gen: Gen, work: String)
    extends Workload(spark, rec, gen, work) {

  def unitName = "pass"
  def nominalUnitMs = 3500.0

  private val MinJaccard = 0.8
  private val MinCosine = 0.9
  private val TopK = 5

  private var docs: Map[Long, String] = Map.empty
  private var plantedDocs: Seq[(Long, Long)] = Nil
  private var vecs: Map[Long, Array[Float]] = Map.empty
  private var plantedVecs: Seq[(Long, Long)] = Nil
  private var queries: Seq[Long] = Nil

  def prepare(): Unit = {
    val (d, pd) = gen.corpus()
    val (v, pv) = gen.vectors()
    docs = d.toMap; plantedDocs = pd; vecs = v.toMap; plantedVecs = pv
    val qr = gen.rng("queries")
    queries = Seq.fill(20)(v(qr.nextInt(v.size))._1).distinct
    Gen.write(spark, d.map { case (i, t) => Row(i, t) }, gen.docSchema, path("documents"), parts)
    Gen.write(spark, v.map { case (i, e) => Row(i, e.toSeq) }, gen.vecSchema, path("embeddings"), parts)
  }

  protected def runUnit(): Unit = pass()
  protected def warmUnits = 3

  // ----------------------------------------------------------------- pass

  private var mh: Array[Row] = Array.empty
  private var kept: Array[Row] = Array.empty
  private var jj: Array[Row] = Array.empty
  private var lsh: Array[Row] = Array.empty
  private var topk: Array[Row] = Array.empty

  private def pass(): Unit = {
    val corpus = read("documents")
    mh = op("ext.minhash_pairs") {
      Dedup.minhashPairs(corpus, "text", "doc_id", k = 3, numHashes = 64, bands = 16,
        minJaccard = 0.5).collect()
    }
    kept = op("ext.retain_from_pairs") {
      val pairs = spark.createDataFrame(
        spark.sparkContext.parallelize(mh.map(r => Row(r.getLong(0), r.getLong(1))).toSeq, 1),
        new org.apache.spark.sql.types.StructType().add("src", "long").add("dst", "long"))
      Dedup.retainFromPairs(corpus, pairs, "doc_id").select("doc_id").collect()
    }
    jj = op("ext.jaccard_join") {
      SetSimJoin.jaccardJoinExact(corpus.filter(col("doc_id") % 10 === 0), "text", "doc_id",
        minJaccard = MinJaccard).collect()
    }
    val emb = read("embeddings")
    lsh = op("ext.cosine_lsh_pairs") {
      Similarity.cosineNearDupPairsLsh(emb, threshold = MinCosine, dim = gen.dim).collect()
    }
    topk = op("ext.brute_topk") {
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id").isin(queries: _*)), k = TopK).collect()
    }
    if (rec.isTracing) {
      rec.extra(rec.last("ext.minhash_pairs"), "pairs_out", mh.length)
      rec.extra(rec.last("ext.jaccard_join"), "pairs_out", jj.length)
      rec.extra(rec.last("ext.cosine_lsh_pairs"), "pairs_out", lsh.length)
    }
  }

  def next(traced: Boolean): Unit =
    if (!rec.unit(unitName, traced)(pass()).failed) verify()

  // --------------------------------------------------------------- checks

  private def words(id: Long): Set[String] = docs(id).split(" ").toSet
  private def shingles(id: Long): Set[Seq[String]] = docs(id).split(" ").toSeq.sliding(3).toSet
  private def jaccard[T](a: Set[T], b: Set[T]): Double =
    (a & b).size.toDouble / (a | b).size

  private def cosine(a: Long, b: Long): Double = {
    val (x, y) = (vecs(a), vecs(b))
    var (d, nx, ny) = (0.0, 0.0, 0.0)
    x.indices.foreach { i => d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i) }
    d / (math.sqrt(nx) * math.sqrt(ny))
  }

  private var wantJj: Set[(Long, Long)] = Set.empty
  private var wantTopk: Map[Long, Seq[Long]] = Map.empty
  private var firstCounts: Option[Seq[Int]] = None

  /** The exact Jaccard pairs of the slice and the exact top-k, both by
    * brute force.
    */
  def prepareChecks(): Unit = {
    val slice = docs.keys.filter(_ % 10 == 0).toIndexedSeq.sorted
    val sets = slice.map(words)
    wantJj = (for {
      i <- slice.indices; j <- i + 1 until slice.size
      if jaccard(sets(i), sets(j)) >= MinJaccard
    } yield (slice(i), slice(j))).toSet
    wantTopk = queries.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq.map(n => (n, cosine(q, n)))
        .sortBy { case (n, c) => (-c, n) }.take(TopK).map(_._1)
    }.toMap
  }

  private def verify(): Unit = {
    val mhPairs = mh.map(r => (r.getLong(0), r.getLong(1))).toSet
    // MinHash estimates: a reported pair must truly share most 3-shingles,
    // and every planted copy must be found
    check("minhash pairs verify")(mh.forall { r =>
      r.getDouble(2) >= 0.5 && jaccard(shingles(r.getLong(0)), shingles(r.getLong(1))) >= 0.3
    })
    check("minhash planted recall")(plantedDocs.forall(mhPairs.contains))
    check("retained documents")(kept.map(_.getLong(0)).toSet == survivors(mhPairs))
    check("jaccard join pairs")(jj.forall { r =>
      val j = jaccard(words(r.getLong(0)), words(r.getLong(1)))
      j >= MinJaccard && r.getLong(2) == math.floor(j * 1e9 + 0.5).toLong
    } && jj.map(r => (r.getLong(0), r.getLong(1))).toSet == wantJj && jj.length == wantJj.size)
    check("cosine LSH pairs verify")(lsh.forall { r =>
      val c = cosine(r.getLong(0), r.getLong(1))
      c >= MinCosine - 1e-9 && math.abs(c - r.getDouble(2)) < 1e-9
    })
    check("cosine LSH planted recall")({
      val got = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
      plantedVecs.forall(got.contains)
    })
    check("brute top-k")(topk.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    } == wantTopk)
    val counts = Seq(mh.length, kept.length, jj.length, lsh.length, topk.length)
    check("pair counts stable across passes")(firstCounts.forall(_ == counts))
    if (firstCounts.isEmpty) firstCounts = Some(counts)
  }

  /** Documents a min-id-per-component retention keeps, by union-find. */
  private def survivors(pairs: Set[(Long, Long)]): Set[Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    docs.keySet.filter(d => find(d) == d)
  }
}
