package graft.profiler

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.ColumnBuckets

/** DataFrame-returning building blocks of the profiler.
  *
  * Each method declares ONE logical plan; Catalyst fuses the scan,
  * pushes column pruning into Parquet, and runs partial+final
  * hash aggregation under WholeStageCodegen. The reference issues
  * `8 + 2*numeric + 2*text + 2*date + N` sequential scalar queries per
  * profile (reference: sparvi/profiler/profile_engine.py:82-407); here
  * the same metrics collapse into a handful of jobs, each a single
  * scan. All methods are scale-safe: nothing is materialized on the
  * driver except the aggregate rows themselves.
  */
object ProfilePasses {

  /** The three fixed text-pattern regexes
    * (reference: sparvi/profiler/profile_engine.py:212-214). They are
    * valid Java regexes as written, so `rlike` matches the warehouse
    * semantics. */
  val EmailPattern = ".*@.*\\..*"
  val NumericPattern = "^[0-9]+$"
  val DatePattern = "^[0-9]{2,4}[/-][0-9]{1,2}[/-][0-9]{1,2}$"

  private def c(name: String): Column = col(s"`$name`")

  /** Grouping/distinct-safe view of a column: MapType is not
    * comparable in Spark (no grouping, no DISTINCT, no hash), so map
    * columns are keyed by their JSON rendering instead. Documented
    * caveat: two maps with different insertion order render
    * differently — acceptable for profiling counts. */
  private[profiler] def comparable(df: DataFrame, name: String): Column =
    df.schema.fields.find(_.name == name).map(_.dataType) match {
      case Some(_: MapType) => to_json(c(name))
      case _ => c(name)
    }

  /** P1+P2: row count and per-column null counts — one pass, no shuffle
    * beyond the single-row final agg. */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("row_count") +:
      cols.map(n => count(when(c(n).isNull, lit(1))).as(s"${n}_nulls"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** P3: per-column distinct counts. Exact mode uses countDistinct
    * (Catalyst plans an Expand — one row copy per distinct aggregate —
    * acceptable to ~16 columns); approx mode is the 100 TB path:
    * HLL++ via approx_count_distinct, single pass, no Expand. */
  def distinctCounts(df: DataFrame, cols: Seq[String], exact: Boolean = true,
      rsd: Double = 0.01): DataFrame = {
    // Exact mode plans an Expand: every input row is replicated once
    // per column before the partial aggregate, so per-input-byte CPU
    // is ~|cols|× a plain scan — worth fanning a poorly-split input
    // out (approx HLL sketches are a plain scan; leave them be).
    val input =
      if (exact) graft.util.Partitioning.spreadIfLarge(df) else df
    val aggs = cols.map { n =>
      val key = comparable(df, n)
      if (exact) countDistinct(key).as(s"${n}_distinct")
      else approx_count_distinct(key, rsd).as(s"${n}_distinct")
    }
    input.agg(aggs.head, aggs.tail: _*)
  }

  /** Spark's cap on the grouping columns of one grouping-sets
    * aggregate (GROUPING_SIZE_LIMIT_EXCEEDED above it). */
  private val MaxGroupingColumns = 64

  /** P3 + P9 fused, exact: every column's distinct count AND its top-1
    * value from ONE aggregate. A grouping-sets aggregate with one
    * single-column set per column (Catalyst plans one Expand that
    * copies each row once per set, then one hash aggregate keyed on
    * (value, grouping id)) counts every (column, value) group; a
    * group-by on the column then gives the number of non-null value
    * groups (= `countDistinct(comparable(c))`: typed grouping
    * normalizes -0.0 and NaN exactly as distinct aggregation does) and
    * the top-1 as `max(struct(frequency, value string))` — highest
    * count, then greatest value string, like [[frequentValues]].
    *
    * A map column groups by `(to_json, cast(value as string))`: JSON is
    * its grouping-safe rendering (see [[comparable]]) and the string
    * cast is the value [[frequentValues]] shows. The pair splits a JSON
    * group only where the strings differ (JSON renders timestamps to
    * the millisecond, the string cast to the microsecond). Above
    * [[MaxGroupingColumns]] columns the sets split into several
    * aggregates, unioned before the per-column group-by.
    *
    * Output: one row per column with at least one non-null value —
    * (column, distinct_count, value string, frequency). */
  def distinctAndFrequent(df: DataFrame, cols: Seq[String]): DataFrame = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val chunks = cols.zipWithIndex.grouped(MaxGroupingColumns).map { chunk =>
      val keys = chunk.map { case (n, i) =>
        (types(n) match {
          case _: MapType => struct(to_json(c(n)).as("json"), c(n).cast(StringType).as("shown"))
          case _ => c(n)
        }).as(s"k$i")
      }
      val ks = chunk.map { case (_, i) => col(s"k$i") }
      // Outside its own set every key is null, so the coalesce picks
      // the set's own value (null for the column's null group).
      val shown = chunk.map { case (n, i) =>
        types(n) match {
          case _: MapType => col(s"k$i.shown")
          case _ => col(s"k$i").cast(StringType)
        }
      }
      // grouping_id() sets bit (m-1-j) for every key NOT in set j.
      val m = chunk.size
      val all = if (m == 64) -1L else (1L << m) - 1
      def inSet(j: Int) = col("gid") === lit(all ^ (1L << (m - 1 - j)))
      val column = chunk.indices.tail.foldLeft(when(inSet(0), lit(chunk.head._1))) {
        (w, j) => w.when(inSet(j), lit(chunk(j)._1))
      }
      df.select(keys: _*)
        .groupingSets(ks.map(Seq(_)), ks: _*)
        .agg(count(lit(1)).as("frequency"), grouping_id().as("gid"))
        .select(column.as("column"), coalesce(shown: _*).as("value"), col("frequency"))
        .filter(col("value").isNotNull)
    }
    chunks.reduce(_ union _)
      .groupBy("column")
      .agg(count(lit(1)).as("distinct_count"),
        max(struct(col("frequency"), col("value"))).as("top"))
      .select(col("column"), col("distinct_count"),
        col("top.value").as("value"), col("top.frequency").as("frequency"))
  }

  /** P4: duplicate-row count = number of full-row groups occurring more
    * than once (NOT surplus rows — exact reference semantics,
    * sparvi/profiler/profile_engine.py:97-123). SQL GROUP BY groups
    * NULLs together; Spark matches. At 100 TB the shuffle key is every
    * column — `projectToHash` shrinks it to a 128-bit digest built
    * from two seeded `xxhash64` passes over the raw column values
    * (fixed-width, codegen'd; no row-to-JSON string materialization —
    * the earlier `sha2(to_json(...))` digest spent most of its time
    * serializing every row to a string). Collisions would need two
    * distinct rows agreeing on BOTH 64-bit hashes: P ≈ n²/2¹²⁹,
    * negligible at any row count the count itself can represent. */
  def duplicateGroupCount(df: DataFrame, projectToHash: Boolean = false): DataFrame = {
    val grouped =
      if (projectToHash) {
        // `comparable` keeps MapType hashable (xxhash64 rejects maps).
        // Each column contributes an explicit null-indicator BEFORE its
        // value: xxhash64 SKIPS null arguments (the hash state is
        // unchanged), so without the indicators two distinct rows
        // differing only in WHICH column is null — ("x", null) vs
        // (null, "x") — would fold the identical argument stream and
        // collide on both digests deterministically.
        val keys = df.columns.toSeq.flatMap(n => Seq(c(n).isNull, comparable(df, n)))
        df.groupBy(
          xxhash64(keys: _*).as("digest_lo"),
          xxhash64(lit(0x9E3779B97F4A7C15L) +: keys: _*).as("digest_hi")).count()
      } else
        df.groupBy(df.columns.toIndexedSeq.map(n => comparable(df, n)): _*).count()
    grouped.filter(col("count") > 1)
      .agg(count(lit(1)).as("duplicate_count"))
  }

  /** P5: numeric stats for each numeric column. Output columns:
    * {col}_{min,max,avg,sum,stdev,q1,median,q3}, all double.
    * Aggregates skip nulls natively, so the reference's
    * `WHERE col IS NOT NULL` is implicit.
    *
    * The declarative min/max/avg/sum/stddev agg stays inside
    * WholeStageCodegen. Quartiles are kept out of it: exact mode runs
    * the fully distributed rank-based [[DistributedPercentiles]]
    * (Spark's built-in exact percentile merges a per-distinct-value
    * map on one task) and attaches the results as literals; approx
    * mode cross-joins the bounded-sketch percentile_approx pass. */
  def numericStats(df: DataFrame, cols: Seq[String], exactPercentiles: Boolean = true): DataFrame = {
    val aggs = cols.flatMap { n =>
      Seq(
        min(c(n)).cast(DoubleType).as(s"${n}_min"),
        max(c(n)).cast(DoubleType).as(s"${n}_max"),
        avg(c(n)).cast(DoubleType).as(s"${n}_avg"),
        sum(c(n)).cast(DoubleType).as(s"${n}_sum"),
        stddev_samp(c(n)).cast(DoubleType).as(s"${n}_stdev"))
    }
    val base = df.agg(aggs.head, aggs.tail: _*)
    if (exactPercentiles) {
      val q = DistributedPercentiles.quartiles(df, cols)
      val qCols = cols.flatMap { n =>
        Seq(("q1", 0), ("median", 1), ("q3", 2)).map { case (alias, i) =>
          lit(q(n)(i).map(Double.box).orNull).cast(DoubleType).as(s"${n}_$alias")
        }
      }
      base.select(col("*") +: qCols: _*)
    } else base.crossJoin(percentiles(df, cols))
  }

  /** P5 approximate quartiles, quarantined in their own pass:
    * `percentile_approx` is a TypedImperativeAggregate — putting it in
    * the fused wide agg would knock EVERY metric off WholeStageCodegen
    * into ObjectHashAggregate. Isolated here, the scan reads only the
    * numeric columns and the codegen'd wide agg stays codegen'd. The
    * sketch bounds the merge state — that is the 100 TB path; exact
    * quartiles come from [[DistributedPercentiles]]. */
  def percentiles(df: DataFrame, cols: Seq[String]): DataFrame = {
    // One sketch per COLUMN, asked for all three quartiles at once —
    // the per-quantile form builds three identical sketches per
    // column, tripling both the per-row update cost and the merge
    // state for no extra information.
    val aggs = cols.map { n =>
      expr(s"percentile_approx(`$n`, array(0.25D, 0.5D, 0.75D), 10000)").as(s"${n}_qs")
    }
    val out = cols.flatMap { n =>
      Seq((1, "q1"), (2, "median"), (3, "q3")).map { case (i, alias) =>
        element_at(col(s"`${n}_qs`"), i).cast(DoubleType).as(s"${n}_$alias")
      }
    }
    df.agg(aggs.head, aggs.tail: _*).select(out: _*)
  }

  /** P6: text length stats ({col}_{min,max,avg}_length). */
  def textLengthStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { n =>
      Seq(
        min(length(c(n))).cast(LongType).as(s"${n}_min_length"),
        max(length(c(n))).cast(LongType).as(s"${n}_max_length"),
        avg(length(c(n))).cast(DoubleType).as(s"${n}_avg_length"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** P7: text pattern counts ({col}_{email,numeric,date}_count) over
    * non-null values, the reference's three regexes verbatim. Regex
    * matching is the most CPU-expensive metric in the profile, so the
    * standalone pass spreads a poorly-split input across the session's
    * cores first (no-op once the scan has enough splits). */
  def textPatterns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { n =>
      Seq(
        count(when(emailMatch(c(n)), lit(1))).as(s"${n}_email_count"),
        count(when(c(n).rlike(NumericPattern), lit(1))).as(s"${n}_numeric_count"),
        count(when(c(n).rlike(DatePattern), lit(1))).as(s"${n}_date_count"))
    }
    graft.util.Partitioning.spread(df).agg(aggs.head, aggs.tail: _*)
  }

  /** [[EmailPattern]] with a cheap NECESSARY prefilter: `.*@.*\..*`
    * cannot match a string without '@', but Java's find() proves that
    * the hard way — each of the n start positions walks its greedy
    * `.*` to the end and backtracks, O(n²) char work per NON-matching
    * row. Since almost no values in a typical table contain '@', the
    * codegen'd contains() byte scan short-circuits the regex for
    * nearly every row. Counts are identical by construction (the
    * other two patterns are ^-anchored and already fail in O(n)). */
  private[graft] def emailMatch(col: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    col.contains("@") && col.rlike(EmailPattern)

  /** P8: date stats ({col}_{min_date,max_date,distinct_dates,range_days}).
    * The range is computed in the same pass (datediff over the min/max
    * aggregates) — the reference needs a second round trip for it. */
  def dateStats(df: DataFrame, cols: Seq[String], exactDistinct: Boolean = true): DataFrame = {
    val aggs = cols.flatMap { n =>
      val mn = min(c(n))
      val mx = max(c(n))
      Seq(
        mn.as(s"${n}_min_date"),
        mx.as(s"${n}_max_date"),
        (if (exactDistinct) countDistinct(c(n)) else approx_count_distinct(c(n), 0.01))
          .as(s"${n}_distinct_dates"),
        datediff(mx.cast(DateType), mn.cast(DateType)).cast(LongType).as(s"${n}_range_days"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** P9: most-frequent value per column — ALL columns in one job.
    *
    * Melts rows to (column, value) pairs, hash-aggregates, then takes
    * the per-column top-1 as `max(struct(frequency, value))` — a plain
    * two-phase hash aggregate with a deterministic tiebreak (highest
    * count, then greatest value string). One shuffle on (column,
    * value), then a partial+final agg on column — versus the
    * reference's N separate GROUP BY queries
    * (profile_engine.py:290-335). The melt multiplies rows by the
    * column count before the partial aggregate, but map-side combine
    * collapses it before any shuffle, so the shuffled volume is bounded
    * by the distinct-value count. No window: a
    * `Window.partitionBy(column)` would funnel every distinct value of
    * a high-cardinality column through ONE task — a guaranteed
    * straggler at 100× scale; the max-struct agg keeps both phases
    * parallel over all partitions.
    * Output: (column, value string, frequency, percentage). */
  def frequentValues(df: DataFrame, cols: Seq[String], rowCount: Long): DataFrame = {
    val pairs = df.select(explode(array(cols.map { n =>
      struct(lit(n).as("column"), c(n).cast(StringType).as("value"))
    }: _*)).as("p")).select(col("p.column"), col("p.value"))
      .filter(col("value").isNotNull)
    val counted = pairs.groupBy("column", "value").agg(count(lit(1)).as("frequency"))
    counted.groupBy("column")
      .agg(max(struct(col("frequency"), col("value"))).as("top"))
      .select(col("column"), col("top.value").as("value"), col("top.frequency").as("frequency"))
      .withColumn("percentage",
        when(lit(rowCount) > 0, col("frequency") * 100.0 / rowCount).otherwise(lit(0.0)))
  }

  /** Frequent items with a SUPPORT THRESHOLD (the multi-value
    * generalization of [[frequentValues]]'s top-1): every value of
    * every listed column whose share of non-null rows is ≥
    * `minSupport`. Output: (column, value string, frequency, share).
    *
    * Same melt shape as P9 — one explode + one (column, value) hash
    * aggregate — joined to per-column non-null totals computed FROM
    * THE COUNTED FRAME (a tiny second agg over the grouped rows, not
    * a second scan of the table), broadcast back. By definition at
    * most 1/minSupport values per column can pass, so the output is
    * bounded regardless of column cardinality — the exact-counting
    * shape that stays safe at 100 TB (the shuffle carries one row per
    * distinct (column, value), and truly high-cardinality columns
    * simply produce no qualifying rows). */
  def frequentItems(df: DataFrame, cols: Seq[String],
      minSupport: Double): DataFrame = {
    val pairs = df.select(explode(array(cols.map { n =>
      struct(lit(n).as("column"), c(n).cast(StringType).as("value"))
    }: _*)).as("p")).select(col("p.column"), col("p.value"))
      .filter(col("value").isNotNull)
    val counted = pairs.groupBy("column", "value").agg(count(lit(1)).as("frequency"))
    val totals = counted.groupBy("column")
      .agg(sum("frequency").cast(DoubleType).as("total"))
    counted.join(broadcast(totals), "column")
      .withColumn("share", col("frequency") / col("total"))
      .filter(col("share") >= minSupport)
      .select(col("column"), col("value"), col("frequency"), col("share"))
  }

  /** P9 (single column, reference-shaped): top-1 value with frequency
    * and percentage; deterministic tiebreak on value. Plans as hash agg
    * + TakeOrderedAndProject (top-k, no full sort). */
  def frequentValueOf(df: DataFrame, column: String, rowCount: Long): DataFrame =
    df.filter(c(column).isNotNull)
      .groupBy(c(column).as("value"))
      .agg(count(lit(1)).as("frequency"))
      .withColumn("percentage", col("frequency") * 100.0 / rowCount)
      .orderBy(col("frequency").desc, col("value").asc)
      .limit(1)

  /** P10: 3-sigma outlier values for every numeric column in ONE
    * filtered pass, given per-column (mean, stddev) from the stats pass
    * as literals — no stats CTE re-scan, no cross join (the reference
    * re-computes AVG/STDDEV inside each per-column query,
    * profile_engine.py:348-379). Values are sorted and capped at
    * `limit` per column for deterministic output. */
  def outliers(df: DataFrame, stats: Map[String, (Double, Double)], threshold: Double = 3.0,
      limit: Int = 10): DataFrame = {
    val aggs = stats.toSeq.sortBy(_._1).map { case (n, (mean, std)) =>
      val lo = mean - threshold * std
      val hi = mean + threshold * std
      val outlier = c(n).isNotNull && (c(n) < lo || c(n) > hi)
      slice(sort_array(collect_list(when(outlier, c(n).cast(DoubleType)))), 1, limit)
        .as(s"${n}_outliers")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** P10 as a count (used by the rule generator D10 and the
    * correctness gate — counts are deterministic, value lists are not
    * in the reference). */
  def outlierCounts(df: DataFrame, stats: Map[String, (Double, Double)],
      threshold: Double = 3.0): DataFrame = {
    val aggs = stats.toSeq.sortBy(_._1).map { case (n, (mean, std)) =>
      val lo = mean - threshold * std
      val hi = mean + threshold * std
      count(when(c(n).isNotNull && (c(n) < lo || c(n) > hi), lit(1)))
        .as(s"${n}_outlier_count")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Multimodal extension: one wide aggregate of nested-column stats
    * (SURVEY §1.2 north star; the reference profiles unrecognized
    * types for completeness only). Per column, depending on kind:
    *   - array:  {c}_{min,max,avg}_size, {c}_total_elements,
    *             {c}_element_nulls
    *   - map:    the same over map_values
    *   - struct: {c}__{field}_nulls per top-level field (nulls within
    *             non-null structs)
    * All metrics are declarative aggregates over size()/filter()
    * expressions — single scan, partial+final agg, no explode (an
    * explode would multiply the row count by average array size before
    * aggregating). */
  def nestedStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val fields = df.schema.fields.filter(f => cols.contains(f.name)).toSeq
    def sizeAggs(n: String, sz: Column, elems: Column): Seq[Column] = Seq(
      min(sz).cast(LongType).as(s"${n}_min_size"),
      max(sz).cast(LongType).as(s"${n}_max_size"),
      avg(sz).cast(DoubleType).as(s"${n}_avg_size"),
      sum(sz).cast(LongType).as(s"${n}_total_elements"),
      sum(size(filter(elems, e => e.isNull))).cast(LongType).as(s"${n}_element_nulls"))
    val aggs = fields.flatMap { f =>
      f.dataType match {
        case _: ArrayType => sizeAggs(f.name, size(c(f.name)), c(f.name))
        case _: MapType => sizeAggs(f.name, size(c(f.name)), map_values(c(f.name)))
        case st: StructType => st.fields.toSeq.map { sf =>
          count(when(c(f.name).isNotNull && c(f.name).getField(sf.name).isNull, lit(1)))
            .as(s"${f.name}__${sf.name}_nulls")
        }
        case _ => Nil
      }
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** P11: sample rows.
    *
    *   - `head` (deterministic): CollectLimitExec stops the scan after
    *     `n` rows — no full pass.
    *   - `random` (representative, seed-stable): `ORDER BY rand(seed)
    *     LIMIT n` plans as TakeOrderedAndProject — a per-partition
    *     top-n heap merged on the driver, NOT a full sort; the scan
    *     reads every row once but holds only n rows per partition.
    *     Mirrors the reference's random sampling dialects
    *     (reference: sparvi/db/adapters.py:204-206,290-292,321-323).
    */
  def samples(df: DataFrame, n: Int = 10, method: String = "head",
      seed: Long = 42L): DataFrame = method match {
    case "head" => df.limit(n)
    case "random" => df.orderBy(rand(seed)).limit(n)
    case other => throw new IllegalArgumentException(
      s"unknown sample method: $other (head|random)")
  }

  /** P12: completeness percentages as a relational result:
    * (column, nulls, null_percentage, distinct_count,
    * distinct_percentage), rounded to 2dp like the reference
    * (profile_engine.py:415-423). */
  def completeness(df: DataFrame, cols: Seq[String], exactDistinct: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nulls = nullCounts(df, cols).head()
    val dist = distinctCounts(df, cols, exactDistinct).head()
    val rowCount = nulls.getLong(0)
    val rows = cols.map { n =>
      val nn = nulls.getLong(nulls.fieldIndex(s"${n}_nulls"))
      val dd = dist.getLong(dist.fieldIndex(s"${n}_distinct"))
      val np = if (rowCount > 0) math.round(nn * 10000.0 / rowCount) / 100.0 else 0.0
      val dp = if (rowCount > 0) math.round(dd * 10000.0 / rowCount) / 100.0 else 0.0
      (n, nn, np, dd, dp)
    }
    rows.toDF("column", "nulls", "null_percentage", "distinct_count", "distinct_percentage")
  }

  def buckets(df: DataFrame): ColumnBuckets.Buckets = ColumnBuckets.of(df.schema)

  /** Equi-width histogram of one numeric column over [lo, hi): bin i
    * covers [lo + i·w, lo + (i+1)·w) with w = (hi − lo)/numBins;
    * values outside the range CLAMP into the edge bins (the
    * [[graft.compare.Drift]] convention — out-of-range mass is visible
    * at the edges, never silently dropped), nulls are excluded. The
    * distribution-shape surface the scalar min/max/avg profile
    * cannot show.
    *
    * ONE hash aggregate over the corpus keyed by ≤ numBins values,
    * then a broadcast-trivial join against the generated bin table so
    * EMPTY bins appear with n = 0 (a histogram with holes elided reads
    * as a different distribution). */
  def histogram(df: DataFrame, column: String, numBins: Int,
      lo: Double, hi: Double): DataFrame = {
    require(numBins >= 1, s"numBins must be >= 1: $numBins")
    require(lo < hi, s"need lo < hi: [$lo, $hi)")
    val w = (hi - lo) / numBins
    val bin = least(lit(numBins - 1L),
      greatest(lit(0L), floor((c(column) - lo) / w).cast("long")))
    val counts = df.filter(c(column).isNotNull)
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
    df.sparkSession.range(numBins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"),
        (lit(lo) + col("bin") * w).as("lo_edge"),
        (lit(lo) + (col("bin") + 1) * w).as("hi_edge"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Benford first-significant-digit screen: the observed share of
    * leading digits 1–9 of |x| against Benford's log10(1 + 1/d)
    * expectation, with the χ² statistic — the classic
    * fabricated-or-truncated-data smell test for naturally-spanning
    * magnitudes (amounts, populations; NOT for bounded scales).
    * Output: one row per digit (digit, n, observed_share,
    * expected_share, chi2_term); Σ chi2_term vs χ²₈ critical values
    * is the caller's test.
    *
    * The leading digit is string-derived (first char of the
    * scientific-notation mantissa via format_number semantics is
    * engine-fragile; instead: digit = floor(|x| / 10^floor(log10|x|))
    * — pure float arithmetic both engines replay). Zeros and nulls
    * are excluded (no leading digit). One ≤9-key aggregate. */
  def benfordDigits(df: DataFrame, column: String): DataFrame = {
    val absx = abs(c(column).cast("double"))
    val digit = floor(absx / pow(lit(10.0), floor(log10(absx)))).cast("int")
    // Defensive clamp to 1–9: float log10/pow edge cases (subnormals,
    // values straddling a power of ten) could in principle yield 0 or
    // 10; the share total must be over the SAME digit set the report
    // shows, in this engine and in any replaying engine, or shares
    // stop summing to 1.
    val counts = df.filter(c(column).isNotNull && absx > 0)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
      .filter(col("digit").between(1, 9))
    // The total is a 1-row aggregate broadcast back via cross join —
    // NOT an unpartitioned window, whose single-partition warning Spark
    // logs on every run even for this ≤9-row frame (and Spark 4's
    // EliminateWindowPartitions strips any constant partition key used
    // to dodge it). ReuseExchange shares the digit-count shuffle
    // between the total and the join, so the corpus is scanned once.
    // An empty counts frame sums to null → coalesce to the 0 the
    // 9-row spine would have totalled.
    val total = counts.agg(coalesce(sum(col("n")), lit(0L)).as("total"))
    import df.sparkSession.implicits._
    val spine = (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d))).toDF("digit", "expected_share")
    spine.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"), col("expected_share"))
      .crossJoin(broadcast(total))
      .withColumn("observed_share",
        when(col("total") > 0, col("n") / col("total")).otherwise(lit(0.0)))
      .withColumn("chi2_term",
        when(col("total") > 0,
          pow(col("n") - col("expected_share") * col("total"), 2) /
            (col("expected_share") * col("total"))).otherwise(lit(0.0)))
      .select(col("digit"), col("n"), col("observed_share"),
        col("expected_share"), col("chi2_term"))
  }

  /** Min-max / z-score / robust standardization of numeric columns —
    * the feature-scaling transform: adds `{col}_scaled` per input
    * column. `method`: "zscore" ((x − mean)/stddev), "minmax"
    * ((x − min)/(max − min)), "robust" ((x − median)/IQR — outlier-
    * immune). Constant columns scale to 0 rather than NaN.
    *
    * One stats aggregate for ALL columns (quartiles via the
    * quarantined percentile pass when robust), O(cols) scalars on the
    * driver, then a single map-side projection — the corpus is
    * scanned once for stats and once for the transform, never per
    * column. */
  def standardize(df: DataFrame, cols: Seq[String],
      method: String = "zscore"): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val stats: Map[String, (Double, Double)] = method match {
      case "zscore" =>
        val aggs = cols.flatMap(n => Seq(avg(c(n)).as(s"${n}_m"), stddev_samp(c(n)).as(s"${n}_s")))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        cols.zipWithIndex.map { case (n, i) =>
          n -> (Option(r.get(2 * i)).fold(0.0)(_.asInstanceOf[Double]),
            Option(r.get(2 * i + 1)).fold(0.0)(_.asInstanceOf[Double]))
        }.toMap
      case "minmax" =>
        val aggs = cols.flatMap(n => Seq(min(c(n)).cast(DoubleType).as(s"${n}_lo"),
          max(c(n)).cast(DoubleType).as(s"${n}_hi")))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        cols.zipWithIndex.map { case (n, i) =>
          val lo = Option(r.get(2 * i)).fold(0.0)(_.asInstanceOf[Double])
          val hi = Option(r.get(2 * i + 1)).fold(0.0)(_.asInstanceOf[Double])
          n -> (lo, hi - lo)
        }.toMap
      case "robust" =>
        // Rank-based distributed quartiles (same percentile_cont
        // interpolation as the built-in exact percentile, without its
        // single-task value→count-map merge — the near-unique-column
        // scale ceiling). `quartiles` overlaps the per-column
        // pipelines below its batch threshold, melts above it.
        val q = DistributedPercentiles.quartiles(df, cols)
        cols.map { n =>
          val Seq(q1, med, q3) = q(n)
          n -> (med.getOrElse(0.0),
            (for { a <- q1; b <- q3 } yield b - a).getOrElse(0.0))
        }.toMap
      case other => throw new IllegalArgumentException(
        s"unknown method: $other (expected zscore, minmax, or robust)")
    }
    stats.foldLeft(df) { case (acc, (n, (center, scale))) =>
      acc.withColumn(s"${n}_scaled",
        if (scale == 0.0 || scale.isNaN) when(c(n).isNotNull, lit(0.0))
        else (c(n) - center) / scale)
    }
  }

  /** Quantile winsorization — clamp each column into its own exact
    * [loP, hiP] percentile band, the standard heavy-tail taming step
    * before scaling/regression (an outlier CAP, where
    * [[outliers]]/[[robustStats]] only REPORT and [[standardize]]'s
    * robust mode rescales without bounding). Adds `{col}{suffix}`
    * (double) per input column; nulls stay null; a column with no
    * non-null values passes through unclamped.
    *
    * Cuts come from [[DistributedPercentiles]]' exact interpolated
    * order statistics (identical to SQL `quantile_cont`/
    * `percentile_cont`, so an external engine replays the clamp
    * bit-for-bit) — two scalars per column to the driver, then the
    * clamp is pure map-side `least(greatest(...))`: the transform
    * itself never shuffles at any corpus size. */
  def winsorize(df: DataFrame, cols: Seq[String],
      loP: Double = 0.01, hiP: Double = 0.99,
      suffix: String = "_winsorized"): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(loP >= 0.0 && hiP <= 1.0 && loP < hiP,
      s"need 0 <= loP < hiP <= 1: [$loP, $hiP]")
    // ALL columns' cut points in the 2-job batched pipeline — N
    // per-column percentile jobs would scan the corpus N times.
    val cuts = DistributedPercentiles.ofAll(df, cols, Seq(loP, hiP))
    cols.foldLeft(df) { (acc, n) =>
      val Seq(lo, hi) = cuts(n)
      val clamped = (lo, hi) match {
        case (Some(l), Some(h)) =>
          // greatest/least SKIP nulls (they return the extreme of the
          // non-null arguments), so an unguarded clamp would turn a
          // null value into the cut point — guard explicitly.
          when(c(n).isNotNull,
            least(greatest(c(n).cast(DoubleType), lit(l)), lit(h)))
        case _ => c(n).cast(DoubleType)
      }
      acc.withColumn(s"$n$suffix", clamped)
    }
  }

  /** Type inference for STRING columns — the CSV-world profiler
    * question ("is this varchar column really integers/dates?") the
    * typed-column passes can't ask. Per column: non-null count and the
    * share of values fully matching each candidate shape (integer,
    * decimal, ISO date, boolean), plus `best_type` = the most specific
    * shape covering ≥ `threshold` of values (integer before decimal
    * before date before boolean, else "string").
    *
    * One wide conditional-count aggregate for ALL columns (map-side
    * partials, melted to rows off the single result row); anchored
    * regexes that match identically under Java regex and RE2, so the
    * shares replay externally. */
  def typeInference(df: DataFrame, cols: Seq[String],
      threshold: Double = 0.95): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val shapes = Seq(
      "integer" -> "^[+-]?[0-9]+$",
      "decimal" -> "^[+-]?[0-9]*\\.[0-9]+$",
      "date" -> "^[0-9]{4}-[0-9]{2}-[0-9]{2}$",
      "boolean" -> "^(?i)(true|false)$")
    val aggs = cols.flatMap { n =>
      count(c(n).cast("string")).as(s"${n}__n") +:
        shapes.map { case (shape, re) =>
          count(when(c(n).cast("string").rlike(re), lit(1))).as(s"${n}__$shape")
        }
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val melted = cols.map { n =>
      val nn = col(s"`${n}__n`").cast("double")
      val share = shapes.map { case (shape, _) =>
        shape -> when(nn > 0, col(s"`${n}__$shape`") / nn).otherwise(lit(0.0))
      }
      val best = share.foldRight(lit("string")) { case ((shape, s), acc) =>
        when(s >= threshold, shape).otherwise(acc)
      }
      struct(lit(n).as("column_name"), nn.cast("long").as("n_values"),
        share(0)._2.as("integer_share"), share(1)._2.as("decimal_share"),
        share(2)._2.as("date_share"), share(3)._2.as("boolean_share"),
        best.as("best_type"))
    }
    row.select(explode(array(melted: _*)).as("t")).select(col("t.*"))
  }

  /** Quantile binning (feature discretization): cut one numeric column
    * into `numBins` equal-mass bins at its own exact quantile
    * boundaries — the rank-preserving transform that makes skewed
    * features comparable. Returns (bin, lo, hi, n) where lo/hi are the
    * boundary values (first lo = min, last hi = max, both inclusive at
    * the extremes; interior cuts are half-open [lo, hi)).
    *
    * One quantile aggregate (quarantined ObjectHashAggregate, numBins+1
    * scalars to the driver), then a map-side literal-boundary CASE and
    * a ≤numBins-key count — never a global rank/ntile sort, which is
    * the formulation that cannot scale (a total order over the corpus
    * for something only the boundaries decide). */
  def quantileBin(df: DataFrame, column: String, numBins: Int,
      exact: Boolean = true): DataFrame = {
    require(numBins >= 2, s"need at least 2 bins: $numBins")
    val fn = if (exact) "percentile" else "percentile_approx"
    val extra = if (exact) "" else ", 10000"
    val ps = (0 to numBins).map(i => s"${i.toDouble / numBins}D").mkString(", ")
    val qRow = df.agg(expr(s"$fn(`$column`, array($ps)$extra)").as("qs")).head()
    if (qRow.isNullAt(0))
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("bin"), lit(0.0).as("lo"), lit(0.0).as("hi"),
          lit(0L).as("n")).limit(0)
    val bounds = qRow.getSeq[Any](0).map(_.asInstanceOf[Double])
    // Interior boundaries assign by b_i ≤ x (count of crossed cuts);
    // duplicate boundaries (heavy ties) produce empty bins rather
    // than ambiguous assignment.
    val bin = (1 until numBins).map(i => when(c(column) >= bounds(i), 1L).otherwise(0L))
      .reduce(_ + _)
    val counts = df.filter(c(column).isNotNull)
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
    import df.sparkSession.implicits._
    val spine = (0L until numBins.toLong).map(i =>
      (i, bounds(i.toInt), bounds(i.toInt + 1))).toDF("bin", "lo", "hi")
    spine.join(counts, Seq("bin"), "left")
      .select(col("bin"), col("lo"), col("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-group quantiles of one numeric column — the "is the tail the
    * same in every segment" screen (per-source quality distributions,
    * per-priority price bands). Output: one row per group
    * (group, {q1, median, q3} or the requested probabilities as
    * q_<pct> columns).
    *
    * One shuffle keyed by the GROUP column; the percentile state is a
    * TypedImperativeAggregate (ObjectHashAggregate), quarantined in
    * its own pass exactly like the ungrouped quartile pass A2 — never
    * fused into a codegen'd aggregate it would eject. Skew bound is
    * the largest single group's value count; at 100 TB group sizes,
    * `exact = false` swaps in the bounded-memory sketch. */
  def groupedPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      probabilities: Seq[Double] = Seq(0.25, 0.5, 0.75),
      exact: Boolean = true): DataFrame = {
    require(probabilities.nonEmpty, "need at least one probability")
    require(probabilities.forall(p => p >= 0.0 && p <= 1.0),
      s"probabilities out of [0,1]: $probabilities")
    val fn = if (exact) "percentile" else "percentile_approx"
    val extra = if (exact) "" else ", 10000"
    val arr = probabilities.map(p => s"${p}D").mkString(", ")
    val names = probabilities.map {
      case 0.25 => "q1"
      case 0.5 => "median"
      case 0.75 => "q3"
      case p => s"q_${(p * 100).round}"
    }
    val out = names.zipWithIndex.map { case (alias, i) =>
      element_at(col("__qs"), i + 1).cast(DoubleType).as(alias)
    }
    df.groupBy(c(groupCol).as("group"))
      .agg(expr(s"$fn(`$valueCol`, array($arr)$extra)").as("__qs"))
      .select(col("group") +: out: _*)
  }

  /** Robust per-column statistics: median, MAD (median absolute
    * deviation), IQR, and a robust outlier count
    * (|x − median| > k · 1.4826 · MAD — the consistency-scaled MAD
    * rule, immune to the outliers themselves in a way the 3σ pass
    * P10 is not). Output: one row per column
    * (column_name, median, mad, iqr, n_outliers).
    *
    * Robust statistics are ORDER statistics, so the lower bound is
    * dependent passes: (1) quartiles for all columns, (2) deviation
    * medians seeded with the pass-1 medians, (3) one fused conditional
    * count with the pass-2 thresholds. In exact mode passes 1–2 run
    * the rank-based [[DistributedPercentiles]] pipeline (identical
    * percentile_cont interpolation; Spark's built-in exact
    * `percentile` merges a value→count map of every distinct value on
    * ONE task — on a near-unique column like a price that single merge
    * dominates the whole operator and is the 100 TB scale ceiling);
    * approx mode keeps the bounded-sketch percentile_approx aggregate.
    * Exact-mode job count is bounded: up to
    * [[DistributedPercentiles.BatchThreshold]] columns the per-column
    * chains overlap from a small pool (~6 small jobs per column, wall ≈
    * the slowest column); ABOVE it both passes run the melted
    * [[DistributedPercentiles.ofAll]] pipeline — 2 jobs each for ANY
    * column count, so a 100-column table never fans out into hundreds
    * of driver-coordinated jobs. The driver holds only O(cols) scalars
    * between passes. */
  def robustStats(df: DataFrame, cols: Seq[String], k: Double = 3.0,
      exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    // Passes 1+2, exact mode: per COLUMN, quartiles then the deviation
    // median seeded with that column's median — a dependent chain
    // within the column, independent ACROSS columns, so the per-column
    // chains overlap from a small pool (each is two column-pruned
    // rank-based pipelines) and wall ≈ the slowest column, not the
    // sum. Wide tables (> BatchThreshold columns) melt instead: pass 1
    // is one ofAll over the columns, pass 2 one ofAll over the
    // per-column abs-deviation projections — constant job count.
    // Approx mode keeps the two fused sketch aggregates.
    val (quartiles, mads): (Map[String, (Option[Double], Option[Double], Option[Double])],
        Map[String, Double]) =
      if (exact && cols.sizeIs > DistributedPercentiles.BatchThreshold) {
        val qs = DistributedPercentiles.ofAll(df, cols, Seq(0.25, 0.5, 0.75))
          .map { case (n, Seq(q1, med, q3)) => n -> ((q1, med, q3)) }
        val withMed = cols.flatMap(n => qs(n)._2.map(n -> _))
        val ms: Map[String, Double] =
          if (withMed.isEmpty) Map.empty
          else {
            val devs = df.select(withMed.map { case (n, m) =>
              abs(c(n) - m).as(n) }: _*)
            DistributedPercentiles.ofAll(devs, withMed.map(_._1), Seq(0.5))
              .map { case (n, Seq(mad)) => n -> mad.getOrElse(0.0) }
          }
        (qs, ms)
      } else if (exact) {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(cols.size, 4))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val fs = cols.map { n =>
            Future {
              val Seq(q1, med, q3) = DistributedPercentiles.of(df, n, Seq(0.25, 0.5, 0.75))
              val mad = med.map { m =>
                DistributedPercentiles
                  .of(df.select(abs(c(n) - m).as("__absdev")), "__absdev", Seq(0.5))
                  .head.getOrElse(0.0)
              }
              n -> ((q1, med, q3), mad)
            }
          }
          val done = Await.result(Future.sequence(fs), Duration.Inf)
          (done.map { case (n, (qs, _)) => n -> qs }.toMap,
            done.collect { case (n, (_, Some(m))) => n -> m }.toMap)
        } finally pool.shutdown()
      } else {
        val qAggs = cols.map(n =>
          expr(s"percentile_approx(`$n`, array(0.25D, 0.5D, 0.75D), 10000)").as(s"${n}_qs"))
        val qRow = df.agg(qAggs.head, qAggs.tail: _*).head()
        val qs = cols.zipWithIndex.map { case (n, i) =>
          val vs: Seq[Option[Double]] =
            if (qRow.isNullAt(i)) Seq(None, None, None) // all-null column
            else qRow.getSeq[Any](i).map(v => Option(v).map(_.asInstanceOf[Double]))
          n -> (vs(0), vs(1), vs(2))
        }.toMap
        val withMed = cols.filter(qs(_)._2.isDefined)
        val ms: Map[String, Double] =
          if (withMed.isEmpty) Map.empty
          else {
            val mAggs = withMed.map { n =>
              val med = qs(n)._2.get
              expr(s"percentile_approx(abs(`$n` - (${med}D)), 0.5D, 10000)").as(s"${n}_mad")
            }
            val mRow = df.agg(mAggs.head, mAggs.tail: _*).head()
            withMed.zipWithIndex.map { case (n, i) =>
              n -> (if (mRow.isNullAt(i)) 0.0 else mRow.getDouble(i))
            }.toMap
          }
        (qs, ms)
      }
    val withMedian = cols.filter(quartiles(_)._2.isDefined)
    // Pass 3: robust outlier counts under the scaled-MAD thresholds.
    val outliers: Map[String, Long] =
      if (withMedian.isEmpty) Map.empty
      else {
        val oAggs = withMedian.map { n =>
          val med = quartiles(n)._2.get
          val threshold = k * 1.4826 * mads(n)
          sum(when(abs(c(n) - med) > threshold, 1L).otherwise(0L)).as(s"${n}_out")
        }
        val oRow = df.agg(oAggs.head, oAggs.tail: _*).head()
        withMedian.zipWithIndex.map { case (n, i) =>
          n -> (if (oRow.isNullAt(i)) 0L else oRow.getLong(i))
        }.toMap
      }
    import df.sparkSession.implicits._
    cols.map { n =>
      val (q1, med, q3) = quartiles(n)
      (n, med, mads.get(n), (q1, q3) match {
        case (Some(a), Some(b)) => Some(b - a)
        case _ => None
      }, outliers.getOrElse(n, 0L))
    }.toDF("column_name", "median", "mad", "iqr", "n_outliers")
  }

  /** Value-distribution Shannon entropy per column (nulls excluded):
    * H = −Σ p·log₂p over the value histogram, computed as
    * log₂n − (Σ c·log₂c)/n, plus H normalized by log₂(distinct) —
    * the skew/uniformity screen (a near-constant column scores ~0, a
    * uniform key ~1). Same single-shuffle melt shape as the
    * frequent-values pass: explode to (column, value), ONE
    * (column, value) hash aggregate (map-side partials), then a tiny
    * per-column aggregate over the distinct rows — never a job per
    * column. Values group through an opaque string cast: entropy
    * depends only on the COUNT multiset, so any injective rendering
    * gives the same result (cross-engine float formatting cannot
    * perturb it). */
  def valueEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val melted = df.select(explode(array(cols.map(n =>
        struct(lit(n).as("column_name"), c(n).cast("string").as("value"))): _*)).as("m"))
      .select(col("m.*")).filter(col("value").isNotNull)
    val counts = melted.groupBy("column_name", "value")
      .agg(count(lit(1)).as("cnt"))
    val h = log2(col("n")) - col("sclc") / col("n")
    counts.groupBy("column_name")
      .agg(sum("cnt").as("n"), count(lit(1)).as("distinct_values"),
        sum(col("cnt") * log2(col("cnt"))).as("sclc"))
      .select(col("column_name"), col("distinct_values"),
        h.as("entropy_bits"),
        when(col("distinct_values") > 1, h / log2(col("distinct_values")))
          .otherwise(lit(0.0)).as("normalized_entropy"))
  }

  /** Categorical association for one column pair: Cramér's V =
    * √(χ²/(n·(min(r,c)−1))) over the r×c contingency table — the
    * categorical counterpart of [[correlations]] (0 = independent,
    * 1 = one column determines the other). Intended for
    * low-cardinality categoricals: the observed (a,b) counts are ONE
    * hash aggregate over the corpus; everything after runs on those
    * aggregates — the full expected grid is the CROSS of the two
    * marginal totals (r·c rows, including observed-zero cells, which
    * χ² must count) left-joined with the observed cells. No window,
    * no funnel, nothing corpus-sized past the first aggregate.
    * Output: one row (col_a, col_b, n, chi2, cramers_v);
    * min(r,c) ≤ 1 (a constant column) pins V to 0. */
  def categoricalAssociation(df: DataFrame, colA: String, colB: String): DataFrame = {
    // The observed contingency table feeds FOUR non-identical
    // consumers below (row marginals, column marginals, the n/r/c
    // totals, and the grid join) — without a cut each one re-embeds
    // the corpus aggregate, and the r22 plan dump showed the corpus
    // scanned 4× per call with no reusable exchange. The table is
    // r×c rows (low-cardinality by contract), so one eager row-block
    // checkpoint makes the corpus scan run exactly once.
    val obs = graft.util.Materialize.rowBlocks(
      df.filter(c(colA).isNotNull && c(colB).isNotNull)
        .groupBy(c(colA).cast("string").as("a"), c(colB).cast("string").as("b"))
        .agg(count(lit(1)).cast(DoubleType).as("o")))
    val rowTot = obs.groupBy("a").agg(sum("o").as("rt"))
    val colTot = obs.groupBy("b").agg(sum("o").as("ct"))
    val tot = obs.agg(sum("o").as("n"),
      countDistinct("a").cast(DoubleType).as("r"),
      countDistinct("b").cast(DoubleType).as("cc"))
    val grid = rowTot.crossJoin(colTot)
      .join(obs, Seq("a", "b"), "left")
      .crossJoin(tot)
      .select((coalesce(col("o"), lit(0.0)) - col("rt") * col("ct") / col("n"))
        .as("d"), (col("rt") * col("ct") / col("n")).as("e"))
    val chi2 = grid.agg(sum(col("d") * col("d") / col("e")).as("chi2"))
    chi2.crossJoin(tot).select(
      lit(colA).as("col_a"), lit(colB).as("col_b"),
      col("n").cast("long").as("n"), col("chi2"),
      when(least(col("r"), col("cc")) > 1.0,
        sqrt(col("chi2") / (col("n") * (least(col("r"), col("cc")) - 1.0))))
        .otherwise(lit(0.0)).as("cramers_v"))
  }

  /** Pairwise Pearson correlations of the numeric columns — the
    * classic redundancy/leakage screen a profile feeds feature
    * selection with (beyond the reference surface, like P13–P15).
    * ONE fused wide aggregate: d·(d−1)/2 `corr` co-moment states
    * accumulate in a single scan (partial + final hash agg — corr is
    * a DeclarativeAggregate, so the pass stays in WholeStageCodegen,
    * unlike the percentile sketches quarantined out of pass A), then
    * the single result row melts to (col_a, col_b, corr_coef) rows
    * map-side — no second scan, no driver loop over pairs. Null
    * handling is pairwise deletion (rows where either side is null
    * are skipped for that pair), matching SQL `corr`. */
  def correlations(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.length >= 2, s"need at least 2 numeric columns, got $cols")
    val pairs = for {
      i <- cols.indices
      j <- (i + 1) until cols.length
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      corr(c(a), c(b)).cast(DoubleType).as(s"${a}__${b}")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val melted = pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"${a}__${b}").as("corr_coef"))
    }
    row.select(explode(array(melted: _*)).as("p")).select(col("p.*"))
  }
}
