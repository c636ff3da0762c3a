package graft.tools

import org.apache.spark.sql.functions._

/** Measures the streaming replay gates' per-batch cost breakdown:
  * replays the ev_rolling_stream workload through the same
  * child-session setup as SparkEntry.replayToMemory and prints every
  * micro-batch's durationMs map (addBatch, getBatch, queryPlanning,
  * walCommit, commitOffsets, triggerExecution) plus batch count —
  * the evidence base for any change to the replay harness's
  * per-batch constant (guide §1: measure first).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.StreamProbe
  * [extraConf=k:v ...]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.LocalSession.suite(defaultCpus = 32)
    import spark.implicits._

    val extra = args.collect { case a if a.contains('=') =>
      val Array(k, v) = a.split("=", 2); (k, v)
    }.toMap

    val df = spark.read.parquet(s"$sfDir/events.parquet")
    val withTs = if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df
    val rows = withTs
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(floor(unix_micros(col("ts").cast("timestamp")) / lit(604800000000L)).as("wk"),
        col("user_id").cast("string").as("key"),
        unix_micros(col("ts").cast("timestamp")).as("tsm"),
        col("event_id"), col("value"))
      .as[(Long, String, Long, Long, Double)].collect()
    val batches = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.toSeq.sortBy(r => (r._3, r._4))
        .map(r => (r._2, r._3, r._4, r._5)) }
    System.err.println(s"[probe] ${batches.size} batches, ${rows.length} rows")

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "1")
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s2.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    s2.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "1000")
    s2.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "10m")
    extra.foreach { case (k, v) => s2.conf.set(k, v) }
    val prev = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(s2)
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
      val stream = MemoryStream[(String, Long, Long, Double)]
      val ckpt = s"/dev/shm/graft_probe_${System.nanoTime()}"
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamProfiler.rollingStatsStream(stream.toDS(), windowRows = 4)
        .toDF()
        .writeStream.format("memory").queryName("probe_sink")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
        val wall = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[probe] replay wall: $wall%.2f s over ${batches.size} batches " +
          f"(${wall * 1000 / batches.size}%.1f ms/batch)")
        // Aggregate durationMs over all progress entries.
        val sums = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        var nProg = 0
        q.recentProgress.foreach { p =>
          nProg += 1
          p.durationMs.forEach { case (k, v) => sums.update(k, sums.getOrElse(k, 0L) + v) }
        }
        System.err.println(s"[probe] recentProgress entries: $nProg (of ${batches.size})")
        sums.foreach { case (k, v) =>
          System.err.println(f"[probe]   $k%-22s ${v.toDouble / nProg}%.1f ms/batch (sum $v ms)")
        }
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        try q.stop() finally rm(new java.io.File(ckpt))
      }
    } finally {
      prev match {
        case Some(p) => org.apache.spark.sql.SparkSession.setActiveSession(p)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
    spark.stop()
  }
}
