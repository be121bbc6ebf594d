package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark startup dominates
  * test wall-clock otherwise). Built through [[SessionTuning]], like every
  * runner's session, and mirrors the Verify/Bench session config: UTC,
  * ANSI off (lenient casts), nanos-as-long for events.parquet.
  */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SessionTuning.tuned(SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", 4))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.spark
}
