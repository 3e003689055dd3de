package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder for mains and tests: `local[cores]`,
  * one shuffle partition per core, UTC session time zone, UI off, log level
  * WARN. AQE stays at the Spark default (on). */
object LocalSpark {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
