package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.geo.json.GeoJsonCodec

/** One benchmark workload. Inputs are derived from the seed alone; the
  * engine only ever sees the generated inputs. */
trait Workload {
  def name: String
  /** Input rows one job consumes (images, features or queries). */
  def rowsPerJob: Long
  /** Driver-side input generation; runs once, before any session exists,
    * and is not part of set-up time. */
  def prepare(): Unit = ()
  /** Per-session state (cached input tables); part of set-up time. */
  def open(spark: SparkSession): Unit = ()
  /** One closed-loop job through the engine's public functions. */
  def job(spark: SparkSession, t: Tracer): Unit
  /** Correctness gate on a seeded sample; returns the mismatches found. */
  def check(spark: SparkSession): Seq[String]
  /** Layer metrics of the traced run (prefix timings, counters, kernels). */
  def layers(spark: SparkSession, t: Tracer): Map[String, Double]
}

object Workload {
  def named(name: String, seed: Long, cpus: Int, work: Path): Workload = name match {
    case "pip_tile"        => new PipTile(seed, cpus)
    case "geojson_rewrite" => new GeojsonRewrite(seed, cpus, work)
    case "knn_rounds"      => new KnnRounds(seed, cpus)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Layer readings for the layers workload `own` never calls: the owning
    * workload's prefix chains and kernels on a small input from the same
    * seed (500k images; one file of 3000 features). */
  def probes(own: String, seed: Long, cpus: Int, work: Path, spark: SparkSession,
             t: Tracer): Map[String, Double] = {
    val small = Seq(new PipTile(seed, cpus, rowsPerJob = 500000L),
                    new GeojsonRewrite(seed, cpus, work, files = 1)).filter(_.name != own)
    small.flatMap { w => w.prepare(); w.open(spark); w.layers(spark, t) }.toMap
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median wall time of `reps` runs of each chain, interleaved so a slow
    * window hits every chain alike. */
  def prefixTimes(reps: Int, chains: Seq[(String, () => Unit)]): Map[String, Double] = {
    val times = chains.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    (0 until reps).foreach(_ => chains.foreach { case (n, f) => times(n) += Host.timeS(f()) })
    times.map { case (n, ts) => n -> Host.median(ts.toSeq) }
  }

  /** Single-thread codec kernels, per document, over a workload's own texts. */
  def codecKernelNs(docs: IndexedSeq[String]): Map[String, Double] = {
    val parsed = docs.map(d => GeoJsonCodec.parse(d).fold(e => sys.error(s"codec rejects input: $e"), identity))
    val calls = math.max(2000, math.min(100000, 4000000 / math.max(1, docs.map(_.length).sum / docs.length)))
    Map(
      "codec.parse_ns"   -> Host.nsPerCall(calls)(i => GeoJsonCodec.parse(docs(i % docs.length)).fold(_ => 0L, _ => 1L)),
      "codec.render_ns"  -> Host.nsPerCall(calls)(i => GeoJsonCodec.render(parsed(i % parsed.length)).length.toLong),
      "sql.fastparse_ns" -> Host.nsPerCall(calls)(i =>
        System.identityHashCode(graft.geo.sql.GeoParse.parseTopFast(docs(i % docs.length))).toLong))
  }
}
