package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.index.HexCell
import graft.geo.join.SpatialJoins

/** Seeded clustered points and queries. Point `i` is a pure function of
  * (seed, i), so executors generate the table and the driver regenerates any
  * point for the brute-force gate. */
final case class KnnData(seed: Long, nPoints: Long, nQueries: Int) {
  /** Cluster centres (lng, lat), then the share of queries above |lat| 85 —
    * the S2 route of knnJoin. Every cluster has the same spread, so the
    * candidates a job ranks, and with them its cost, do not swing with the
    * seed. */
  val (clusters: Array[(Double, Double)], polarShare: Double) = {
    val rng = new SplittableRandom(seed)
    (Array.fill(32)((rng.nextDouble() * 360.0 - 180.0, rng.nextDouble() * 120.0 - 60.0)),
     0.015 + rng.nextDouble() * 0.01)
  }
  private val ClusterSdDeg = 3.0
  private val BackgroundShare = 0.7

  private def uniformSphere(r: SplittableRandom, maxAbsLat: Double): (Double, Double) = {
    val s = math.sin(math.toRadians(maxAbsLat))
    (r.nextDouble() * 360.0 - 180.0, math.toDegrees(math.asin((2.0 * r.nextDouble() - 1.0) * s)))
  }
  private def nearCluster(r: SplittableRandom): (Double, Double) = {
    val (cx, cy) = clusters(r.nextInt(clusters.length))
    val lng = cx + r.nextGaussian() * ClusterSdDeg / math.cos(math.toRadians(cy))
    (((lng + 540.0) % 360.0) - 180.0, math.max(-89.0, math.min(89.0, cy + r.nextGaussian() * ClusterSdDeg)))
  }

  def point(i: Long): (Double, Double) = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    if (r.nextDouble() < BackgroundShare) uniformSphere(r, 90.0) else nearCluster(r)
  }

  /** (qid, lng, lat): polar queries first, then a 70/30 mix of queries near
    * clusters and queries anywhere below |lat| 85. */
  lazy val queries: Seq[(Long, Double, Double)] = {
    val r = new SplittableRandom(seed ^ 0x51L)
    val nPolar = math.round(nQueries * polarShare).toInt
    (0 until nQueries).map { q =>
      val (lng, lat) =
        if (q < nPolar) {
          val lat = 85.0 + r.nextDouble() * 4.9
          (r.nextDouble() * 360.0 - 180.0, if (r.nextBoolean()) lat else -lat)
        } else if (r.nextDouble() < 0.7) nearCluster(r)
        else uniformSphere(r, 84.9)
      (q.toLong, lng, lat)
    }
  }
  def nPolar: Int = queries.count(q => math.abs(q._3) > 85.0)
}

/** Driver-bound iteration: kNN (k=10) of seeded queries over clustered
  * points; the hex-ring rounds of knnJoin plus its S2 route for polar
  * queries. */
final class KnnRounds(seed: Long, cpus: Int) extends Workload {
  val name = "knn_rounds"
  private val K = 10
  private val Res = 6
  private val data = KnnData(seed, nPoints = 100000L, nQueries = 500)
  val rowsPerJob: Long = data.nQueries.toLong

  private var points: DataFrame = _
  private var queries: DataFrame = _

  override def open(spark: SparkSession): Unit = {
    import spark.implicits._
    val d = data
    points = spark.range(0, d.nPoints, 1, cpus).as[Long]
      .map { i => val (lng, lat) = d.point(i); (i, lng, lat) }
      .toDF("pid", "plng", "plat").persist(StorageLevel.MEMORY_ONLY)
    queries = d.queries.toDF("qid", "qlng", "qlat").persist(StorageLevel.MEMORY_ONLY)
    points.count(); queries.count()
  }

  private def knn(qs: DataFrame, t: Tracer): DataFrame =
    t.span("geo.join.knn")(SpatialJoins.knnJoin(qs, "qid", "qlng", "qlat", points, "plng", "plat", k = K, res = Res))
      .select("qid", "pid", "dist_m", "rank")

  def job(spark: SparkSession, t: Tracer): Unit = {
    val out = knn(queries, t)
    t.span("action")(Workload.noop(t.analyzed(out)))
  }

  def check(spark: SparkSession): Seq[String] = {
    val rng = new SplittableRandom(seed ^ 0xc0ffeeL)
    val polar = data.queries.filter(q => math.abs(q._3) > 85.0).take(6)
    val other = Seq.fill(24)(data.queries(rng.nextInt(data.queries.size)))
      .filter(q => math.abs(q._3) <= 85.0).distinct
    val sample = (polar ++ other).distinct
    val got = knn(queries, new Tracer("check")).where(col("qid").isin(sample.map(_._1): _*))
      .collect().groupBy(_.getLong(0))
    // brute force over every point, regenerated on the driver
    val pts = Array.tabulate(data.nPoints.toInt)(i => data.point(i.toLong))
    val tol = 1e-6
    val bad = sample.flatMap { case (qid, lng, lat) =>
      val all = new Array[Double](pts.length)
      var i = 0
      while (i < pts.length) { all(i) = haversine(lng, lat, pts(i)._1, pts(i)._2); i += 1 }
      java.util.Arrays.sort(all)
      val truth = all.take(K)
      val rows = got.getOrElse(qid, Array.empty)
      val byRank = rows.sortBy(_.getInt(3))
      val dists = byRank.map(_.getDouble(2))
      // each returned point's distance is re-derived; ties at the k-th
      // distance may return any of the tied points
      val honest = byRank.forall { r =>
        val (x, y) = pts(r.getLong(1).toInt)
        math.abs(haversine(lng, lat, x, y) - r.getDouble(2)) <= tol * (1.0 + r.getDouble(2))
      }
      val same = dists.length == truth.length &&
        dists.zip(truth).forall { case (a, b) => math.abs(a - b) <= tol * (1.0 + b) }
      if (honest && same && byRank.map(_.getInt(3)).toSeq == (1 to K)) None
      else Some(s"query $qid at ($lng, $lat): kNN differs from brute force")
    }
    if (polar.isEmpty) Seq("knn gate has no polar query") ++ bad else bad
  }

  /** Great-circle distance on the engine's sphere (mean Earth radius). */
  private def haversine(lng1: Double, lat1: Double, lng2: Double, lat2: Double): Double = {
    val (p1, p2) = (math.toRadians(lat1), math.toRadians(lat2))
    val h = math.pow(math.sin((p2 - p1) / 2), 2) +
      math.cos(p1) * math.cos(p2) * math.pow(math.sin(math.toRadians(lng2 - lng1) / 2), 2)
    2.0 * 6371008.8 * math.asin(math.min(1.0, math.sqrt(h)))
  }

  def layers(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val pts = (0 until 4096).map(i => data.point(i.toLong))
    Map(
      "index.s2_share"    -> data.nPolar.toDouble / data.nQueries,
      "index.hex_cell_ns" -> Host.nsPerCall(200000) { i =>
        val p = pts(i & 4095); HexCell.cellId(p._1, p._2, Res)
      })
  }
}
