package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft harness opens its Spark session. Bench,
  * Verify, Prof, ScaleStress and the test session all start from the
  * same settings, so every tool measures and prints the plans the
  * engine runs under the bench:
  *
  *  - `local[cores]`, with one shuffle partition per core;
  *  - UI off, AQE on, session time zone UTC;
  *  - `nanosAsLong` (events.parquet may carry TIMESTAMP(NANOS);
  *    [[graft.Tables.events]] converts it back to a timestamp);
  *  - [[graft.plans.GraftExtensions]] (SQL functions, ANN rewrite);
  *  - a 64m broadcast-join threshold;
  *  - WARN logging.
  *
  * `conf` pairs are applied after these defaults and override them
  * (ScaleStress's corpus-sized partition count, the test warehouse). */
object Sessions {

  def local(cores: Int, conf: (String, String)*): SparkSession = {
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.autoBroadcastJoinThreshold" -> "64m")
    val spark = (defaults ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
