package graft.util

import org.apache.spark.sql.SparkSession

/** The local session the gate suite and its tools run on. */
object LocalSession {

  /** `local[cpus]` with `cpus` from SPARK_GRAFT_CPUS (else
    * `defaultCpus`), one shuffle partition per core, UTC session time,
    * UI off and WARN logging. events.parquet stores TIMESTAMP(NANOS),
    * which Spark only reads as raw longs (`nanosAsLong`;
    * SparkEntry.eventsWithTs converts them back). */
  def suite(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
