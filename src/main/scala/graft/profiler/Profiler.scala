package graft.profiler

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.compare.ProfileCompare
import graft.model._
import graft.types.ColumnBuckets

/** Profiler configuration: only the options callers set differently.
  *
  * `exact = true` reproduces the reference's warehouse semantics
  * bit-for-bit (exact COUNT DISTINCT, exact interpolated percentiles,
  * full-row duplicate groups) for the correctness oracle;
  * `exact = false` is the 100 TB mode: HLL++ distincts, sketch
  * percentiles, a 128-bit row digest as the duplicate key, no Expand
  * operator, every metric single-pass.
  *
  * `persist` caches the input once ahead of the concurrent passes;
  * off, each pass re-scans the source with its own column pruning
  * (the only shape a table too large to cache has).
  */
final case class ProfilerConfig(
    exact: Boolean = true,
    /** Attach sample rows (pass E): ProfilePasses.samples' 10 rows,
      * seed 42 for `random`. */
    includeSamples: Boolean = false,
    /** `head` (deterministic prefix) or `random` (seed-stable
      * representative sample via per-partition top-n on rand). The
      * config layer's `profiling.sample_method` default is `random`,
      * matching the reference; the engine default stays `head` so
      * direct API profiles are reproducible row-for-row. */
    sampleMethod: String = "head",
    /** Trend-series caps, enforced in ProfileCompare.appendTrends
      * (reference: config.py:19-20,56-60). */
    maxHistory: Int = 50,
    historyRetentionDays: Int = 30,
    /** Sigma multiplier for outliers and for anomalies against a
      * historical profile. */
    anomalyThreshold: Double = 3.0,
    persist: Boolean = true,
    /** Per-pass wall-clock sink: invoked as (passName, seconds) after
      * each profiling job completes. Default drops the timings; wire a
      * collector here to see where a profile's time goes. */
    onPassTiming: (String, Double) => Unit = Profiler.dropTiming)

/** End-to-end table profiler: the Spark-native replacement for
  * `sparvi.profiler.profile_table` (reference:
  * sparvi/profiler/profile_engine.py:17-454). The reference ships
  * O(columns) sequential scalar queries to a warehouse; this runs a
  * fixed set of passes whose number does not grow with the column
  * count:
  *
  *   A. one wide aggregate (row count, null counts, numeric stats,
  *      text lengths, text patterns, date stats; approx mode adds the
  *      HLL distinct counts) — single scan, partial+final hash agg,
  *      WholeStageCodegen;
  *   A'. exact mode: distinct counts AND the most-frequent value of
  *      every column from one grouping-sets aggregate (its Expand is
  *      quarantined away from pass A);
  *   A''. quartiles of every numeric column: exact mode one melted
  *      rank-based pipeline, approx mode one percentile_approx agg;
  *   B. duplicate full-row group count (one shuffle);
  *   C. approx mode: most-frequent value of the columns that are not
  *      near-unique (melt + hash agg + top-1);
  *   D. 3-sigma outliers for all numeric columns in one filtered scan,
  *      reusing pass-A means/stddevs as literals;
  *   E. (optional) sample rows via CollectLimit;
  *   F. nested-column stats (arrays, maps, structs).
  *
  * Only aggregate rows (at most one per column) reach the driver.
  */
object Profiler {

  /** Default [[ProfilerConfig.onPassTiming]] sink: discard. */
  val dropTiming: (String, Double) => Unit = (_, _) => ()

  def profile(
      df: DataFrame,
      table: String,
      config: ProfilerConfig = ProfilerConfig(),
      historical: Option[TableProfile] = None): TableProfile = {

    val b = ColumnBuckets.of(df.schema)
    // Spread BEFORE persist: a mid-size table arrives as one parquet
    // split, and caching would freeze that single-partition layout
    // into every pass — serializing the whole profile (regex scans,
    // percentile merges, melts) onto one core. Size-gated: tables a
    // single task finishes faster than the exchange's fixed cost pass
    // through, and at scale the input has more splits than cores so
    // nothing is shuffled where it matters. Samples (pass E) still
    // read the ORIGINAL df: head sampling stays input-order stable
    // instead of picking up round-robin placement.
    val input = graft.util.Partitioning.spreadIfLarge(df)
    // COLUMNAR persist — deliberately NOT the row-block localCheckpoint
    // the narrow multiply-read frames switched to this round: the
    // profiled table is WIDE and each pass reads a column SUBSET, so
    // the columnar cache's column pruning is load-bearing here (the
    // checkpoint variant deserializes all columns for every pass —
    // measured 2-3x slower on scale_profile_lineitem). Populate with
    // ONE scan before the concurrent passes launch: racing passes
    // would each recompute not-yet-cached partitions from the source.
    val persisted = if (config.persist)
      input.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else input
    if (config.persist) persisted.count()
    try buildProfile(persisted, df, table, b, config, historical)
    finally if (config.persist) { persisted.unpersist(blocking = false); () }
  }

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** In approx mode, skip the top-1 frequent value for columns whose
    * distinct count exceeds this share of rows — the melt would
    * shuffle ~every value to learn that the winner occurs ~once. */
  private val FrequentValuesMaxDistinctShare = 0.9

  private def buildProfile(
      df: DataFrame,
      sampleSource: DataFrame,
      table: String,
      b: ColumnBuckets.Buckets,
      cfg: ProfilerConfig,
      historical: Option[TableProfile]): TableProfile = {

    def timed[T](pass: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = body
      cfg.onPassTiming(pass, (System.nanoTime() - t0) / 1e9)
      out
    }

    // The passes are INDEPENDENT Spark jobs (each ends in a scalar or
    // tiny collect), so they run overlapped from a small driver-side
    // pool instead of strictly in sequence: actions are only
    // sequential when the driver calls them sequentially, and
    // overlapping lets the next pass's tasks back-fill executor slots
    // freed by the current pass's stragglers. Phase 1 holds the
    // passes with no cross-pass inputs (A, A', A'', B, F, E); phase 2
    // (D, and approx mode's C) consumes pass-A statistics. Results are
    // identical — only the job-submission order changes. Per-pass
    // onPassTiming walls now OVERLAP (their sum can exceed the
    // profile's wall).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6, (r: Runnable) => {
      val t = new Thread(r, "profiler-pass")
      t.setDaemon(true)
      t
    })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    try {

    // ---- Pass A: one wide aggregate over every non-distinct metric.
    val fA = Future(timed("A_fused_agg")(fusedWideAgg(df, b, cfg).head()))

    // ---- Pass A'': percentiles, quarantined away from pass A (their
    // aggregate would knock it off WholeStageCodegen). Exact mode runs
    // ONE melted rank-based pipeline over every numeric column (2 jobs
    // at any width) — Spark's built-in exact percentile merges a
    // per-distinct-value map on ONE task; approx mode is the
    // bounded-sketch percentile_approx pass.
    val fA2 = Future(timed("A2_percentiles") {
      if (b.numeric.isEmpty) Map.empty[String, Seq[Option[Double]]]
      else if (cfg.exact) DistributedPercentiles.ofAll(df, b.numeric, Seq(0.25, 0.5, 0.75))
      else {
        val r = ProfilePasses.percentiles(df, b.numeric).head()
        b.numeric.map { n =>
          n -> Seq("q1", "median", "q3").map { a =>
            val i = r.fieldIndex(s"${n}_$a")
            if (r.isNullAt(i)) None else Some(r.getDouble(i))
          }
        }.toMap
      }
    })

    // ---- Pass A': exact distinct counts AND frequent values, one
    // grouping-sets aggregate (its Expand copies each row once per
    // column, so it runs quarantined in its own pass). Approx mode's
    // HLL sketches are plain declarative aggregates FUSED into pass A
    // above — no extra scan — and its frequent values run in phase 2.
    val fA1 =
      if (cfg.exact && b.all.nonEmpty)
        Some(Future(timed("A1_distinct")(
          ProfilePasses.distinctAndFrequent(df, b.all).collect())))
      else None

    // ---- Pass B: duplicates. The digest projection is used whenever
    // exact-oracle parity is not required: at 100 TB the full-row
    // variant's shuffle key is every column.
    val fB = Future(timed("B_duplicates")(
      ProfilePasses.duplicateGroupCount(df, !cfg.exact).collect()))

    // ---- Pass F: nested-column (multimodal) stats.
    val fF = Future(timed("F_nested") {
      if (b.nested.isEmpty) Map.empty[String, NestedColumnStats]
      else {
        val r = ProfilePasses.nestedStats(df, b.nested).head()
        def optL(name: String): Option[Long] = {
          val i = r.fieldIndex(name)
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        }
        def optD(name: String): Option[Double] = {
          val i = r.fieldIndex(name)
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        }
        df.schema.fields.filter(f => b.nested.contains(f.name)).map { f =>
          import org.apache.spark.sql.types._
          f.dataType match {
            case _: ArrayType => f.name -> NestedColumnStats("array",
              optL(s"${f.name}_min_size"), optL(s"${f.name}_max_size"),
              optD(s"${f.name}_avg_size"), optL(s"${f.name}_total_elements"),
              optL(s"${f.name}_element_nulls"), Map.empty)
            case _: MapType => f.name -> NestedColumnStats("map",
              optL(s"${f.name}_min_size"), optL(s"${f.name}_max_size"),
              optD(s"${f.name}_avg_size"), optL(s"${f.name}_total_elements"),
              optL(s"${f.name}_element_nulls"), Map.empty)
            case st: StructType => f.name -> NestedColumnStats("struct",
              None, None, None, None, None,
              st.fields.map(sf =>
                sf.name -> optL(s"${f.name}__${sf.name}_nulls").getOrElse(0L)).toMap)
            case other => f.name -> NestedColumnStats(other.typeName,
              None, None, None, None, None, Map.empty)
          }
        }.toMap
      }
    })

    // ---- Pass E: samples.
    val fE = Future(timed("E_samples") {
      if (!cfg.includeSamples) Nil: Seq[Map[String, Any]]
      else ProfilePasses.samples(sampleSource, method = cfg.sampleMethod)
        .collect().toSeq.map { r =>
        r.schema.fields.map(_.name).zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
      }
    })

    val row = Await.result(fA, Duration.Inf)
    def getL(name: String): Long = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) 0L else row.getLong(i)
    }
    def getDOpt(name: String): Option[Double] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.getDouble(i))
    }
    def getAnyOpt(name: String): Option[Any] = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.get(i))
    }

    val rowCount = getL("row_count")

    val quartileMap: Map[String, Seq[Option[Double]]] = Await.result(fA2, Duration.Inf)
    def getPct(colName: String, idx: Int): Option[Double] =
      quartileMap.get(colName).flatMap(_(idx))

    val fieldTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def frequentValue(colName: String, value: String, frequency: Long) =
      FrequentValue(
        value = parseBack(value, fieldTypes.get(colName)),
        frequency = frequency,
        percentage = round2(frequency * 100.0 / rowCount))
    // Exact mode: one row per column with a non-null value; a column
    // absent from the rows has no values (0 distinct, no top-1).
    val fused = fA1.map(f => Await.result(f, Duration.Inf).map { r =>
      r.getString(0) -> (r.getLong(1), r.getString(2), r.getLong(3))
    }.toMap)
    val distinctCounts: Map[String, Long] = fused match {
      case Some(rows) => b.all.map(n => n -> rows.get(n).fold(0L)(_._1)).toMap
      case None => b.all.map(n => n -> getL(s"${n}_distinct")).toMap
    }

    val completeness = b.all.map { n =>
      val nulls = getL(s"${n}_nulls")
      val dist = distinctCounts(n)
      n -> ColumnCompleteness(
        nulls = nulls,
        nullPercentage = if (rowCount > 0) round2(nulls * 100.0 / rowCount) else 0.0,
        distinctCount = dist,
        distinctPercentage = if (rowCount > 0) round2(dist * 100.0 / rowCount) else 0.0)
    }.toMap

    val numericStats = b.numeric.map { n =>
      n -> NumericStats(
        min = getDOpt(s"${n}_min"), max = getDOpt(s"${n}_max"),
        avg = getDOpt(s"${n}_avg"), sum = getDOpt(s"${n}_sum"),
        stdev = getDOpt(s"${n}_stdev"), q1 = getPct(n, 0),
        median = getPct(n, 1), q3 = getPct(n, 2))
    }.toMap

    val textLengthStats = b.text.map { n =>
      n -> TextLengthStats(
        minLength = getAnyOpt(s"${n}_min_length").map(_.asInstanceOf[Long]),
        maxLength = getAnyOpt(s"${n}_max_length").map(_.asInstanceOf[Long]),
        avgLength = getDOpt(s"${n}_avg_length"))
    }.toMap

    val textPatterns = b.text.map { n =>
      n -> TextPatterns(
        emailPatternCount = getL(s"${n}_email_count"),
        numericPatternCount = getL(s"${n}_numeric_count"),
        datePatternCount = getL(s"${n}_date_count"))
    }.toMap

    val dateStats = b.date.map { n =>
      val mi = getAnyOpt(s"${n}_min_date").map(_.toString)
      val ma = getAnyOpt(s"${n}_max_date").map(_.toString)
      n -> DateStats(
        minDate = mi, maxDate = ma,
        distinctCount = distinctCounts.getOrElse(n, 0L),
        dateRangeDays = getAnyOpt(s"${n}_range_days").map(_.asInstanceOf[Long]))
    }.toMap

    // ---- Phase 2: passes that consume pass-A statistics.
    // ---- Frequent values (the reference skips them above 1M rows; we
    // never do). Both paths stringify the top-1 value; it is converted
    // back to the column's native type driver-side so the profile JSON
    // carries typed values like the reference does. Exact mode already
    // has them from pass A'. Approx mode runs pass C, a melt that
    // prunes near-unique columns using the distinct counts already in
    // hand — their top-1 occurs ~once and would cost a shuffle of
    // nearly every value.
    val fC = fused match {
      case Some(rows) => Future.successful(
        rows.map { case (n, (_, v, f)) => n -> frequentValue(n, v, f) })
      case None => Future(timed("C_frequent_values") {
        val fvCols = if (rowCount == 0) b.all else b.all.filter(n =>
          distinctCounts(n) <= rowCount * FrequentValuesMaxDistinctShare)
        if (fvCols.isEmpty) Map.empty[String, FrequentValue]
        else ProfilePasses.frequentValues(df, fvCols, rowCount).collect().map { r =>
          val colName = r.getString(r.fieldIndex("column"))
          colName -> frequentValue(colName, r.getString(r.fieldIndex("value")),
            r.getLong(r.fieldIndex("frequency")))
        }.toMap
      })
    }

    // ---- Pass D: outliers, means/stddevs reused from pass A.
    val statPairs = b.numeric.flatMap { n =>
      for (m <- getDOpt(s"${n}_avg"); s <- getDOpt(s"${n}_stdev")) yield n -> (m, s)
    }.toMap
    val fD = Future(timed("D_outliers") {
      if (statPairs.isEmpty) Map.empty[String, Seq[Double]]
      else {
        val r = ProfilePasses.outliers(df, statPairs, cfg.anomalyThreshold).head()
        statPairs.keys.map { n =>
          n -> r.getSeq[Double](r.fieldIndex(s"${n}_outliers"))
        }.filter(_._2.nonEmpty).toMap
      }
    })

    val dupRows = Await.result(fB, Duration.Inf)
    val duplicateCount = if (dupRows.isEmpty) 0L else dupRows(0).getLong(0)
    val frequentValues: Map[String, FrequentValue] = Await.result(fC, Duration.Inf)
    val outliers: Map[String, Seq[Double]] = Await.result(fD, Duration.Inf)
    val nestedStats: Map[String, NestedColumnStats] = Await.result(fF, Duration.Inf)
    val samples: Seq[Map[String, Any]] = Await.result(fE, Duration.Inf)

    val current = TableProfile(
      table = table,
      timestamp = Instant.now().toString,
      rowCount = rowCount,
      duplicateCount = duplicateCount,
      completeness = completeness,
      numericStats = numericStats,
      textPatterns = textPatterns,
      textLengthStats = textLengthStats,
      dateStats = dateStats,
      frequentValues = frequentValues,
      outliers = outliers,
      samples = samples,
      anomalies = Nil,
      schemaShifts = Nil,
      trends = Trends.empty,
      nestedStats = nestedStats)

    historical match {
      case Some(h) =>
        current.copy(
          anomalies = ProfileCompare.detectAnomalies(current, h, cfg.anomalyThreshold),
          schemaShifts = ProfileCompare.detectSchemaShifts(current, h),
          trends = ProfileCompare.appendTrends(h.trends, h, current,
            cfg.maxHistory, cfg.historyRetentionDays))
      case None => current
    }
    } finally { pool.shutdown() }
  }

  /** Convert a melt-stringified top-1 value back to the column's
    * native type (the strings are Spark's own `cast(StringType)`
    * renderings, so the round trip is loss-free for these types). */
  private def parseBack(s: String, dt: Option[org.apache.spark.sql.types.DataType]): Any = {
    import org.apache.spark.sql.types._
    if (s == null) null
    else dt match {
      case Some(ByteType) => s.toByte
      case Some(ShortType) => s.toShort
      case Some(IntegerType) => s.toInt
      case Some(LongType) => s.toLong
      case Some(FloatType) => s.toFloat
      case Some(DoubleType) => s.toDouble
      case Some(_: DecimalType) => BigDecimal(s)
      case Some(BooleanType) => s.toBoolean
      case Some(DateType) => java.sql.Date.valueOf(s)
      case Some(TimestampType) => java.sql.Timestamp.valueOf(s)
      // Parquet TIMESTAMP(isAdjustedToUTC=false) reads as NTZ in Spark 4.
      case Some(TimestampNTZType) => java.sql.Timestamp.valueOf(s).toLocalDateTime
      case _ => s
    }
  }

  /** HLL relative error in approx mode. 0.05 (Spark's default) costs
    * ~2^10 registers per column; 0.01 costs ~2^15 and is several
    * times slower to update and merge. */
  private val DistinctRsd = 0.05

  /** Pass A fused: null counts + numeric stats + text lengths +
    * text patterns + date stats in a single Aggregate (one scan) —
    * plus, in approx mode, the per-column HLL distinct sketches
    * (declarative, fused-safe; one fewer full scan per profile).
    * Percentiles are deliberately NOT here — approx mode's
    * percentile_approx is a TypedImperativeAggregate that would force
    * the whole pass off WholeStageCodegen into ObjectHashAggregate, so
    * it runs in its own quarantined pass (ProfilePasses.percentiles);
    * exact mode's rank-based pipeline (DistributedPercentiles.ofAll)
    * is its own jobs anyway. Exact distinct counts are also excluded:
    * their Expand would multiply every input row once per column
    * (ProfilePasses.distinctAndFrequent). Every expression below is a
    * codegen'd declarative aggregate. */
  private def fusedWideAgg(df: DataFrame, b: ColumnBuckets.Buckets,
      cfg: ProfilerConfig): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DateType, DoubleType, LongType}
    def c(n: String) = col(s"`$n`")
    val exprs: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as("row_count")) ++
        (if (cfg.exact) Nil
         else b.all.map(n =>
           // comparable() keeps MapType sketchable (JSON rendering).
           approx_count_distinct(ProfilePasses.comparable(df, n), DistinctRsd)
             .as(s"${n}_distinct"))) ++
        b.all.map(n => count(when(c(n).isNull, lit(1))).as(s"${n}_nulls")) ++
        b.numeric.flatMap { n =>
          Seq(
            min(c(n)).cast(DoubleType).as(s"${n}_min"),
            max(c(n)).cast(DoubleType).as(s"${n}_max"),
            avg(c(n)).cast(DoubleType).as(s"${n}_avg"),
            sum(c(n)).cast(DoubleType).as(s"${n}_sum"),
            stddev_samp(c(n)).cast(DoubleType).as(s"${n}_stdev"))
        } ++
        b.text.flatMap { n =>
          Seq(
            min(length(c(n))).cast(LongType).as(s"${n}_min_length"),
            max(length(c(n))).cast(LongType).as(s"${n}_max_length"),
            avg(length(c(n))).cast(DoubleType).as(s"${n}_avg_length"),
            count(when(ProfilePasses.emailMatch(c(n)), lit(1))).as(s"${n}_email_count"),
            count(when(c(n).rlike(ProfilePasses.NumericPattern), lit(1))).as(s"${n}_numeric_count"),
            count(when(c(n).rlike(ProfilePasses.DatePattern), lit(1))).as(s"${n}_date_count"))
        } ++
        b.date.flatMap { n =>
          Seq(
            min(c(n)).as(s"${n}_min_date"),
            max(c(n)).as(s"${n}_max_date"),
            datediff(max(c(n)).cast(DateType), min(c(n)).cast(DateType)).cast(LongType).as(s"${n}_range_days"))
        }
    df.agg(exprs.head, exprs.tail: _*)
  }
}
