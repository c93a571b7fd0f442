package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark suites (guide: one session per
  * suite via lazy val; sharing across suites keeps `sbt -batch test` fast).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a janino compile failure fails the spec instead of silently running
      // the stage interpreted
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.geo.sql.GeoFunctions.register(s)
    graft.ops.TextFunctions.register(s)
    graft.ops.Multimodal.register(s)
    graft.ops.Sketches.register(s)
    s
  }
}
