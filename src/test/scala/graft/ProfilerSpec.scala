package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.TableProfile
import graft.profiler.{DistributedPercentiles, ProfilePasses, Profiler, ProfilerConfig}

/** Pins the reference's concrete profiler assertions
  * (reference: tests/test_profiler.py:8-32) against the A1 `employees`
  * golden fixture, plus edge cases the reference leaves implicit.
  */
class ProfilerSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private lazy val profile =
    Profiler.profile(employeesDf, "employees",
      ProfilerConfig(includeSamples = true, persist = false))

  test("row_count == 10") {
    profile.rowCount shouldBe 10L
  }

  test("completeness: name has 0 nulls, age has 2, salary 2, department 1") {
    profile.completeness("name").nulls shouldBe 0L
    profile.completeness("age").nulls shouldBe 2L
    profile.completeness("salary").nulls shouldBe 2L
    profile.completeness("department").nulls shouldBe 1L
  }

  test("completeness percentages are rounded to 2dp of the row count") {
    profile.completeness("age").nullPercentage shouldBe 20.0
    profile.completeness("department").nullPercentage shouldBe 10.0
    // 10 distinct ids over 10 rows.
    profile.completeness("id").distinctPercentage shouldBe 100.0
  }

  test("salary min 50000, max 140000 (nulls ignored)") {
    val s = profile.numericStats("salary")
    s.min shouldBe Some(50000.0)
    s.max shouldBe Some(140000.0)
  }

  test("salary avg/sum/median ignore the 2 nulls") {
    val s = profile.numericStats("salary")
    // 8 non-null salaries summing to 750000.
    s.sum shouldBe Some(750000.0)
    s.avg shouldBe Some(93750.0)
    // exact interpolated median of the 8 values = (90000+100000)/2.
    s.median shouldBe Some(95000.0)
  }

  test("text length stats cover name") {
    val t = profile.textLengthStats("name")
    t.minLength shouldBe Some(10L) // "Employee 1"
    t.maxLength shouldBe Some(11L) // "Employee 10"
  }

  test("duplicate_count is 0 for employees (all rows distinct)") {
    profile.duplicateCount shouldBe 0L
  }

  test("duplicate_count counts groups, not surplus rows") {
    val s = spark
    import s.implicits._
    // 2 groups occur more than once (a×3, b×2); c unique.
    val df = Seq("a", "a", "a", "b", "b", "c").toDF("v")
    val p = Profiler.profile(df, "dups", ProfilerConfig(persist = false))
    p.duplicateCount shouldBe 2L
  }

  test("random sampling is seed-stable and returns n distinct rows") {
    import graft.profiler.ProfilePasses
    val a = ProfilePasses.samples(employeesDf, 5, "random").collect()
    val b = ProfilePasses.samples(employeesDf, 5, "random").collect()
    a should have length 5
    a.map(_.getLong(0)).distinct should have length 5
    // Same seed, same input partitioning -> identical sample.
    a.map(_.getLong(0)).toSeq shouldBe b.map(_.getLong(0)).toSeq
    // A different seed draws a different sample (deterministically).
    val c = ProfilePasses.samples(employeesDf, 5, "random", seed = 7L).collect()
    c.map(_.getLong(0)).toSeq should not be a.map(_.getLong(0)).toSeq
    an[IllegalArgumentException] should be thrownBy
      ProfilePasses.samples(employeesDf, 5, "bogus")
  }

  test("profile with random sampleMethod carries n sample rows") {
    val p = Profiler.profile(spark.range(50).toDF("id"), "range",
      ProfilerConfig(persist = false, includeSamples = true, sampleMethod = "random"))
    p.samples should have size 10
  }

  test("duplicate hash-projection path agrees with full-row groupBy") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 1), ("a", 1), ("b", 2), ("b", 3)).toDF("k", "v")
    val full = Profiler.profile(df, "t", ProfilerConfig(persist = false)).duplicateCount
    val hashed = Profiler.profile(df, "t",
      ProfilerConfig(exact = false, persist = false)).duplicateCount
    hashed shouldBe full
    hashed shouldBe 1L
  }

  test("digest duplicates distinguish rows differing only in null position") {
    val s = spark
    import s.implicits._
    // xxhash64 skips null arguments, so without explicit per-column
    // null indicators ("x", null) and (null, "x") would fold the same
    // argument stream and collide on both digest halves.
    val df = Seq((Some("x"), Option.empty[String]), (Option.empty[String], Some("x")))
      .toDF("a", "b")
    val full = Profiler.profile(df, "t", ProfilerConfig(persist = false)).duplicateCount
    val hashed = Profiler.profile(df, "t",
      ProfilerConfig(exact = false, persist = false)).duplicateCount
    full shouldBe 0L
    hashed shouldBe 0L
    // True duplicates with nulls still group.
    val dups = Seq((Some("x"), Option.empty[String]), (Some("x"), Option.empty[String]))
      .toDF("a", "b")
    Profiler.profile(dups, "t", ProfilerConfig(exact = false, persist = false))
      .duplicateCount shouldBe 1L
  }

  test("frequent values: department top-1 has frequency 3") {
    // HR, IT, Finance each appear 3 times — the winner is tie-broken
    // deterministically; its frequency must be 3 regardless.
    val fv = profile.frequentValues("department")
    fv.frequency shouldBe 3L
    fv.percentage shouldBe 30.0
  }

  test("frequent values carry native types back (id is a Long)") {
    profile.frequentValues("id").value shouldBe a[java.lang.Long]
  }

  test("samples present when requested, absent by default") {
    profile.samples should not be empty
    profile.samples.head.keySet should contain("name")
    val noSamples = Profiler.profile(employeesDf, "employees",
      ProfilerConfig(persist = false))
    noSamples.samples shouldBe empty
  }

  test("outliers: empty for employees (no 3-sigma values in 10 rows)") {
    // With n=10 and these spreads nothing exceeds mean±3σ.
    profile.outliers shouldBe empty
  }

  test("outliers: a far value is reported with its column") {
    val s = spark
    import s.implicits._
    val df = (Seq.fill(50)(10.0) ++ Seq(10000.0)).toDF("x")
    val p = Profiler.profile(df, "t", ProfilerConfig(persist = false))
    p.outliers.keySet shouldBe Set("x")
    p.outliers("x") shouldBe Seq(10000.0)
  }

  test("approx mode (exact=false) still gets exact row/null counts") {
    val p = Profiler.profile(employeesDf, "employees",
      ProfilerConfig(exact = false, persist = false))
    p.rowCount shouldBe 10L
    p.completeness("age").nulls shouldBe 2L
    // HLL distinct on 10 rows is exact in practice.
    p.completeness("id").distinctCount shouldBe 10L
  }

  test("approx-mode error stays inside configured bounds on real data") {
    // The scale-mode profile hash-gates its DETERMINISM
    // (scale_profile_lineitem); this pins its CLOSENESS TO TRUTH: HLL
    // distinct counts within 4× the configured rsd (rsd is the
    // sketch's standard error, so 4σ; observed errors at sf0.1 sit
    // well inside 1σ — table in BASELINE.md), and percentile_approx
    // quartiles within Spark's documented RANK guarantee
    // (|rank(v) − q·n| ≤ n/accuracy at accuracy 10000).
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val n = df.count()
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    for (rsd <- Seq(0.05, 0.01); c <- cols) {
      val r = df.agg(countDistinct(col(c)), approx_count_distinct(col(c), rsd)).head()
      val exact = r.getLong(0).toDouble
      val err = math.abs(r.getLong(1) - exact) / exact
      withClue(s"$c rsd=$rsd: ") { err should be <= 4 * rsd }
    }
    val accuracy = 10000
    for (c <- Seq("l_quantity", "l_extendedprice")) {
      val qs = df.agg(expr(s"percentile_approx(`$c`, array(0.25D, 0.5D, 0.75D), $accuracy)"))
        .head().getSeq[Any](0).map(_.toString.toDouble)
      for ((v, q) <- qs.zip(Seq(0.25, 0.5, 0.75))) {
        val lo = df.filter(col(c) < v).count()
        val hi = df.filter(col(c) <= v).count()
        val target = q * n
        withClue(s"$c q=$q v=$v rank[$lo,$hi] target=$target: ") {
          (lo.toDouble - n.toDouble / accuracy - 1) should be <= target
          (hi.toDouble + n.toDouble / accuracy + 1) should be >= target
        }
      }
    }
  }

  test("empty DataFrame profiles without error") {
    val df = employeesDf.filter("id < 0")
    val p = Profiler.profile(df, "empty", ProfilerConfig(persist = false))
    p.rowCount shouldBe 0L
    p.duplicateCount shouldBe 0L
    p.completeness("id").nullPercentage shouldBe 0.0
    p.numericStats("salary").min shouldBe None
  }

  test("all-null column yields zero-valued stats, not errors") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long])).toDF("id", "v")
    val p = Profiler.profile(df, "t", ProfilerConfig(persist = false))
    p.completeness("v").nulls shouldBe 2L
    p.completeness("v").nullPercentage shouldBe 100.0
    p.numericStats("v").min shouldBe None
    p.frequentValues.get("v") shouldBe None // no non-null values
  }

  test("valueEntropy: uniform → log2(k), constant → 0, nulls excluded, all-null column absent") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.profiler.ProfilePasses
    val df = employeesDf.withColumn("const", lit("x"))
      .withColumn("allnull", lit(null).cast("string"))
    val rows = ProfilePasses.valueEntropy(df,
        Seq("department", "const", "allnull", "id"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // department: 9 non-null values in 3 equal groups of 3 → uniform.
    rows("department")._1 shouldBe 3L
    rows("department")._2 shouldBe math.log(3) / math.log(2) +- 1e-9
    rows("department")._3 shouldBe 1.0 +- 1e-9
    // const: one value → zero entropy, normalized pinned to 0.
    rows("const") shouldBe ((1L, 0.0, 0.0))
    // id: 10 distinct of 10 → maximal for its cardinality.
    rows("id")._2 shouldBe math.log(10) / math.log(2) +- 1e-9
    rows("id")._3 shouldBe 1.0 +- 1e-9
    // all-null column contributes no histogram → no row.
    rows.contains("allnull") shouldBe false
  }

  test("categoricalAssociation: determined → V=1, balanced-independent → V=0, constant → V=0") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    // b = f(a): perfect association.
    val det = Seq(("x", "1"), ("x", "1"), ("y", "2"), ("y", "2"), ("z", "3"))
      .toDF("a", "b")
    val d = ProfilePasses.categoricalAssociation(det, "a", "b").head()
    d.getAs[Double]("cramers_v") shouldBe 1.0 +- 1e-9
    d.getAs[Long]("n") shouldBe 5L
    // Perfectly balanced 2×2 → observed == expected everywhere.
    val ind = Seq(("x", "1"), ("x", "2"), ("y", "1"), ("y", "2")).toDF("a", "b")
    ProfilePasses.categoricalAssociation(ind, "a", "b").head()
      .getAs[Double]("cramers_v") shouldBe 0.0 +- 1e-9
    // A constant column has min(r,c) = 1 → V pinned to 0, not NaN.
    val const = Seq(("x", "1"), ("y", "1")).toDF("a", "b")
    ProfilePasses.categoricalAssociation(const, "a", "b").head()
      .getAs[Double]("cramers_v") shouldBe 0.0
  }

  test("frequentItems keeps exactly the values at or above the support threshold") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    // col a: 10×"hot", 5×"warm", 1×"cold" over 16 non-null rows;
    // col b: all null except 2×"only" → per-column totals, not global.
    val df = ((1 to 10).map(_ => (Some("hot"), None: Option[String])) ++
      (1 to 5).map(_ => (Some("warm"), None)) ++
      Seq((Some("cold"), Some("only")), (None, Some("only"))))
      .toDF("a", "b")
    val out = ProfilePasses.frequentItems(df, Seq("a", "b"), minSupport = 0.3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // cold = 1/16 < 0.3 drops; warm = 5/16 ≥ 0.3 stays; b's total is
    // its own 2 non-null rows, so "only" has share 1.0.
    out shouldBe Set(("a", "hot", 10L), ("a", "warm", 5L), ("b", "only", 2L))
  }

  test("histogram clamps out-of-range values to edge bins and keeps empty bins") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    // range [0, 10) in 5 bins of width 2; -3 clamps to bin 0, 42 to
    // bin 4; bin 3 ([6,8)) is empty; null excluded.
    val df = Seq(Some(-3.0), Some(0.0), Some(1.9), Some(2.0), Some(5.0),
      Some(9.9), Some(42.0), None).toDF("x")
    val out = ProfilePasses.histogram(df, "x", numBins = 5, lo = 0.0, hi = 10.0)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    out shouldBe Array(
      (0L, 0.0, 2.0, 3L), // -3 (clamped), 0.0, 1.9
      (1L, 2.0, 4.0, 1L),
      (2L, 4.0, 6.0, 1L),
      (3L, 6.0, 8.0, 0L), // empty bin present
      (4L, 8.0, 10.0, 2L)) // 9.9 + 42 (clamped)
  }

  test("robustStats: median/MAD/IQR and the scaled-MAD outlier count") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    // 1..9 plus one wild outlier: median 5.5 → MAD median(|x-5.5|)
    // over {4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5} = 2.5;
    // threshold 3·1.4826·2.5 = 11.12 → only 1000 is outlying.
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).toDF("x")
    val r = ProfilePasses.robustStats(df, Seq("x")).head()
    r.getAs[Double]("median") shouldBe 5.5
    r.getAs[Double]("mad") shouldBe 2.5
    r.getAs[Double]("iqr") shouldBe (7.75 - 3.25) +- 1e-9
    r.getAs[Long]("n_outliers") shouldBe 1L
  }

  test("robustStats wide table: melted path matches the per-column path") {
    import graft.profiler.{DistributedPercentiles, ProfilePasses}
    val s = spark
    import s.implicits._
    // 14 numeric columns (> BatchThreshold = 12) force the melted
    // ofAll fallback; the same frame restricted to 2 columns runs the
    // per-column chains. Results must be identical column-for-column.
    val n = DistributedPercentiles.BatchThreshold + 2
    val cols = (0 until n).map(i => s"c$i")
    val rows = (1 to 20).map(v => Seq.tabulate(n)(i => v.toDouble * (i + 1)))
    val df = s.createDataFrame(
      s.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq)),
      org.apache.spark.sql.types.StructType(cols.map(c =>
        org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.DoubleType))))
    val wide = ProfilePasses.robustStats(df, cols).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    val narrow = ProfilePasses.robustStats(df, Seq("c0", "c13")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    wide("c0") shouldBe narrow("c0")
    wide("c13") shouldBe narrow("c13")
    // Spot-check the math on c1 (values 2,4,...,40): median 21, MAD 10.
    wide("c1")._1 shouldBe 21.0
    wide("c1")._2 shouldBe 10.0
  }

  test("groupedPercentiles: per-group quartiles in one group-keyed pass") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    val df = (Seq.tabulate(5)(i => ("a", (i + 1).toDouble)) ++ // 1..5 → median 3
      Seq(("b", 10.0), ("b", 20.0))).toDF("g", "v")
    val out = ProfilePasses.groupedPercentiles(df, "g", "v")
      .orderBy("group").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    out shouldBe Array(("a", 2.0, 3.0, 4.0), ("b", 12.5, 15.0, 17.5))
  }

  test("typeInference: shape shares and the most-specific best_type") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    val df = Seq(
      ("42", "1.5", "2024-01-02", "TRUE", "hello"),
      ("-7", ".25", "2024-12-31", "false", "17"),
      ("8", "3.0", "not-a-date", "true", "x"),
      (null, "2.25", "2024-06-15", "False", "y")
    ).toDF("ints", "decs", "dates", "bools", "mixed")
    val out = ProfilePasses.typeInference(df,
        Seq("ints", "decs", "dates", "bools", "mixed"), threshold = 0.7)
      .collect().map(r => r.getString(0) -> r).toMap
    out("ints").getAs[String]("best_type") shouldBe "integer"
    out("ints").getAs[Long]("n_values") shouldBe 3L // null excluded
    out("decs").getAs[String]("best_type") shouldBe "decimal"
    out("dates").getAs[String]("best_type") shouldBe "date" // 3/4 = 0.75 ≥ 0.7
    out("bools").getAs[String]("best_type") shouldBe "boolean" // case-insensitive
    out("mixed").getAs[String]("best_type") shouldBe "string"
    out("mixed").getAs[Double]("integer_share") shouldBe 0.25 +- 1e-9
  }

  test("quantileBin: equal-mass bins at exact quantile cuts, duplicate-cut bins empty") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val out = ProfilePasses.quantileBin(df, "x", numBins = 4)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    out.map(_._4).sum shouldBe 100L
    out.map(_._1).toSeq shouldBe Seq(0L, 1L, 2L, 3L)
    out(0)._2 shouldBe 1.0  // first lo = min
    out(3)._3 shouldBe 100.0 // last hi = max
    all(out.map(_._4)) should (be >= 24L and be <= 26L) // equal mass
    // Heavy ties: constant column → all interior cuts equal → one bin
    // holds everything, the rest are empty.
    val const = Seq.fill(10)(5.0).toDF("x")
    val c = ProfilePasses.quantileBin(const, "x", numBins = 4)
      .orderBy("bin").collect().map(r => (r.getLong(0), r.getLong(3)))
    c.map(_._2).sum shouldBe 10L
    c.count(_._2 > 0) shouldBe 1
  }

  test("benfordDigits: digit extraction across magnitudes, spine complete, zeros excluded") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    val df = Seq(Some(123.0), Some(0.19), Some(1.0), Some(9500.0), Some(-2.5),
      Some(0.0), None).toDF("x")
    val out = ProfilePasses.benfordDigits(df, "x").orderBy("digit").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    out.length shouldBe 9 // full 1..9 spine
    out.toMap shouldBe Map(1 -> 3L, 2 -> 1L, 9 -> 1L) ++
      (3 to 8).map(_ -> 0L).toMap
  }

  test("standardize: three methods scale correctly; constants and nulls are safe") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    val df = Seq((10.0, Some(5.0)), (20.0, Some(5.0)), (30.0, None))
      .toDF("x", "const")
    val z = ProfilePasses.standardize(df, Seq("x", "const"), "zscore")
      .orderBy("x").collect()
    z.map(_.getDouble(2)) shouldBe Array(-1.0, 0.0, 1.0) // sd = 10
    z(0).getDouble(3) shouldBe 0.0 // constant col → 0, not NaN
    z(2).isNullAt(3) shouldBe true // null stays null
    val m = ProfilePasses.standardize(df, Seq("x"), "minmax")
      .orderBy("x").collect().map(_.getDouble(2))
    m shouldBe Array(0.0, 0.5, 1.0)
    val r = ProfilePasses.standardize(df, Seq("x"), "robust")
      .orderBy("x").collect().map(_.getDouble(2))
    r(1) shouldBe 0.0 // median centers
    intercept[IllegalArgumentException] {
      ProfilePasses.standardize(df, Seq("x"), "nope")
    }
  }

  test("winsorize clamps into the exact percentile band; nulls and empty columns safe") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    // 0..10: p10 = 1.0, p90 = 9.0 (exact interpolated order stats).
    val df = (0 to 10).map(i => (i.toDouble, Option.empty[Double])).toDF("x", "empty")
    val out = ProfilePasses.winsorize(df, Seq("x", "empty"), loP = 0.1, hiP = 0.9)
      .orderBy("x").collect()
    out.map(_.getDouble(2)) shouldBe
      Array(1.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 9.0)
    out.foreach(_.isNullAt(3) shouldBe true) // all-null column passes through
    // Nulls in a clamped column stay null.
    val withNull = Seq(Some(1.0), None, Some(100.0)).toDF("x")
    ProfilePasses.winsorize(withNull, Seq("x"), 0.25, 0.75)
      .collect().count(_.isNullAt(1)) shouldBe 1
    intercept[IllegalArgumentException] {
      ProfilePasses.winsorize(df, Seq("x"), 0.9, 0.1)
    }
  }

  test("robustStats handles an all-null column without a pass-2/3 job for it") {
    import graft.profiler.ProfilePasses
    val s = spark
    import s.implicits._
    val df = Seq((Some(1.0), None: Option[Double]), (Some(2.0), None),
      (Some(3.0), None)).toDF("x", "y")
    val out = ProfilePasses.robustStats(df, Seq("x", "y"))
      .orderBy("column_name").collect()
    out(0).getAs[Double]("median") shouldBe 2.0
    out(1).isNullAt(out(1).fieldIndex("median")) shouldBe true
    out(1).getAs[Long]("n_outliers") shouldBe 0L
  }

  /** The pre-fusion exact semantics, one query per column: the old
    * distinct pass's `countDistinct` of the grouping-safe key (JSON for
    * a map) and a typed GROUP BY's top-1 (highest count, then greatest
    * value string; a map shows its string cast). */
  private def expectedDistinctAndTop(df: DataFrame, n: String): (Long, Option[(String, Long)]) = {
    val c = col(s"`$n`")
    val isMap = df.schema(n).dataType.isInstanceOf[MapType]
    val key = if (isMap) to_json(c) else c
    val distinct = df.agg(countDistinct(key)).head().getLong(0)
    val groups = if (isMap) Seq(key.as("k"), c.cast(StringType).as("shown")) else Seq(key.as("k"))
    val shown = if (isMap) col("shown") else col("k").cast(StringType)
    val top = df.filter(c.isNotNull).groupBy(groups: _*).agg(count(lit(1)).as("f"))
      .select(shown.as("v"), col("f"))
      .orderBy(col("f").desc, col("v").desc).limit(1)
      .collect().headOption.map(r => (r.getString(0), r.getLong(1)))
    (distinct, top)
  }

  /** Profiles `df` exactly and checks every column's distinct count and
    * top-1 against [[expectedDistinctAndTop]], through both the fused
    * pass's raw rows (the value strings) and the profile. */
  private def checkFusedParity(df: DataFrame,
      cfg: ProfilerConfig = ProfilerConfig(persist = false)): TableProfile = {
    val p = Profiler.profile(df, "t", cfg)
    val fused = ProfilePasses.distinctAndFrequent(df, df.columns.toSeq).collect()
      .map(r => r.getString(0) -> (r.getLong(1), (r.getString(2), r.getLong(3)))).toMap
    p.completeness.keySet shouldBe df.columns.toSet
    for (n <- df.columns) withClue(s"column $n: ") {
      val (distinct, top) = expectedDistinctAndTop(df, n)
      p.completeness(n).distinctCount shouldBe distinct
      fused.get(n).fold(0L)(_._1) shouldBe distinct
      fused.get(n).map(_._2) shouldBe top
      p.frequentValues.get(n).map(_.frequency) shouldBe top.map(_._2)
    }
    p
  }

  private val typedSchema = StructType(Seq(
    StructField("s", StringType),
    StructField("n", IntegerType),
    StructField("d", DoubleType),
    StructField("big", LongType),
    StructField("m", MapType(StringType, IntegerType)),
    StructField("dt", DateType),
    StructField("ts", TimestampType),
    StructField("nul", StringType)))

  private lazy val typedDf: DataFrame = {
    val two53 = 1L << 53
    def d(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    spark.createDataFrame(java.util.Arrays.asList(
      Row("b", 9, -0.0, two53, Map("a" -> 1), d("2020-01-01"), ts("2020-01-01 00:00:00"), null),
      Row("a", 10, 0.0, two53 + 1, Map("a" -> 1), d("2020-01-01"), ts("2020-01-01 00:00:00.5"), null),
      Row("b", 9, 0.0, two53 + 1, Map("b" -> 2, "a" -> 1), d("2020-01-02"), ts("2020-01-01 00:00:00.5"), null),
      Row("a", 10, Double.NaN, two53 + 3, null, null, null, null),
      Row("c", null, Double.NaN, 5L, Map("b" -> 2), d("2020-01-02"), ts("2021-06-30 12:00:00"), null),
      Row(null, 11, 1.5, null, Map("a" -> 1), d("2020-01-03"), ts("2021-06-30 12:00:00"), null)),
      typedSchema)
  }

  test("fused distinct/frequent pass matches countDistinct and per-column GROUP BY top-1") {
    val p = checkFusedParity(typedDf)
    // Ties go to the greatest value STRING: "b" over "a", and 9 over 10.
    p.frequentValues("s").value shouldBe "b"
    p.frequentValues("n").value shouldBe 9
    // -0.0 and 0.0 are one typed group (shown as 0.0); NaNs are another.
    p.completeness("d").distinctCount shouldBe 3L
    p.frequentValues("d").frequency shouldBe 3L
    java.lang.Double.doubleToRawLongBits(
      p.frequentValues("d").value.asInstanceOf[Double]) shouldBe 0L
    // Longs above 2^53 group exactly, not as doubles.
    p.completeness("big").distinctCount shouldBe 4L
    p.frequentValues("big").value shouldBe ((1L << 53) + 1)
    // A map groups by its JSON but shows its string cast.
    p.completeness("m").distinctCount shouldBe 3L
    p.frequentValues("m").value shouldBe "{a -> 1}"
    p.frequentValues("m").frequency shouldBe 3L
    p.completeness("dt").distinctCount shouldBe 3L
    p.completeness("ts").distinctCount shouldBe 3L
    p.frequentValues("ts").frequency shouldBe 2L
    p.frequentValues("s").percentage shouldBe 33.33
    // The all-null column has no distinct value and no top-1.
    p.completeness("nul").distinctCount shouldBe 0L
    p.frequentValues.get("nul") shouldBe None
  }

  test("exact profile quartiles come from one melted pipeline, equal to per-column ones") {
    val p = Profiler.profile(typedDf, "t", ProfilerConfig(persist = false))
    for (n <- Seq("n", "d", "big")) withClue(s"column $n: ") {
      val q = p.numericStats(n)
      Seq(q.q1, q.median, q.q3).map(_.toString) shouldBe
        DistributedPercentiles.of(typedDf, n, Seq(0.25, 0.5, 0.75)).map(_.toString)
    }
  }

  test("fused pass on an empty frame: no distinct values, no frequent values") {
    val p = checkFusedParity(typedDf.filter(lit(false)))
    p.rowCount shouldBe 0L
    p.completeness.values.map(_.distinctCount).toSet shouldBe Set(0L)
    p.frequentValues shouldBe empty
  }

  test("fused pass splits more than 64 columns into several grouping-sets aggregates") {
    val df = spark.range(120).select((0 until 70).map { j =>
      ((col("id") * (j + 1)) % (j + 3)).as(s"c$j")
    }: _*)
    val p = checkFusedParity(df)
    p.completeness("c68").distinctCount shouldBe 71L
    p.completeness("c0").distinctCount shouldBe 3L
  }

  test("exact profile reports the fused passes under A1_distinct and A2_percentiles") {
    val passes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Profiler.profile(typedDf, "t", ProfilerConfig(persist = false,
      onPassTiming = (pass, _) => { passes.add(pass); () }))
    val names = passes.toArray.toSet
    names should contain allOf ("A1_distinct", "A2_percentiles")
    names should not contain "C_frequent_values"
  }

  test("exact profile job count does not grow with the number of numeric columns") {
    def frame(numeric: Int): DataFrame = spark.range(200).select(
      (col("id") % 7).cast(StringType).as("s") +:
        (1 to numeric).map(j => ((col("id") * j) % 31 + j * 0.5).as(s"x$j")): _*)
    def jobs(numeric: Int) = jobsOf {
      Profiler.profile(frame(numeric), "t", ProfilerConfig(persist = false)); ()
    }
    val two = jobs(2)
    two should be > 0
    jobs(6) shouldBe two
  }
}
