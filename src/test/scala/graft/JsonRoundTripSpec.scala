package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.model.Json
import graft.profiler.{Profiler, ProfilerConfig}

/** Profile JSON write → read round trip: what makes `--compare` from a
  * stored profile possible (reference cli/profile.py:74-82). */
class JsonRoundTripSpec extends AnyFunSuite with Matchers with SparkTestBase {

  test("Json.str escapes quotes, backslashes and control chars") {
    Json.str("plain") shouldBe "\"plain\""
    Json.str("a\"b\\c") shouldBe "\"a\\\"b\\\\c\""
    Json.str("x\ny") shouldBe "\"x\\ny\""
    Json.str("x\u0001y") shouldBe "\"x\\u0001y\""
  }

  test("profile survives a JSON round trip on every compared field") {
    val p = Profiler.profile(employeesDf, "employees",
      ProfilerConfig(includeSamples = true, persist = false))
    val back = Json.readProfile(Json.profile(p))

    back.table shouldBe p.table
    back.timestamp shouldBe p.timestamp
    back.rowCount shouldBe p.rowCount
    back.duplicateCount shouldBe p.duplicateCount
    back.completeness shouldBe p.completeness
    back.numericStats shouldBe p.numericStats
    back.textLengthStats shouldBe p.textLengthStats
    back.textPatterns shouldBe p.textPatterns
    back.dateStats shouldBe p.dateStats
    back.outliers shouldBe p.outliers
    back.samples.size shouldBe p.samples.size
  }

  test("a read-back profile drives anomaly detection end-to-end") {
    val historical = Profiler.profile(employeesDf, "employees",
      ProfilerConfig(persist = false)).copy(rowCount = 8)
    val stored = Json.profile(historical)
    // Reload from JSON — the --compare flow — and profile against it.
    val reloaded = Json.readProfile(stored)
    reloaded.rowCount shouldBe 8
    val current = Profiler.profile(employeesDf, "employees",
      ProfilerConfig(persist = false), historical = Some(reloaded))
    current.anomalies.map(_.anomalyType) should contain("row_count")
    current.trends.rowCounts should not be empty
  }

  test("nested stats survive the round trip") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "arr")
    val p = Profiler.profile(df, "t", ProfilerConfig(persist = false))
    val back = Json.readProfile(Json.profile(p))
    back.nestedStats shouldBe p.nestedStats
  }

  test("frequent values round-trip with numeric values intact") {
    val p = Profiler.profile(employeesDf, "employees", ProfilerConfig(persist = false))
    val back = Json.readProfile(Json.profile(p))
    back.frequentValues.keySet shouldBe p.frequentValues.keySet
    for ((k, fv) <- p.frequentValues) {
      back.frequentValues(k).frequency shouldBe fv.frequency
      back.frequentValues(k).percentage shouldBe fv.percentage
    }
  }

  test("validation results JSON emits both name and rule_name keys") {
    import graft.model.{ValidationResult}
    val json = Json.validationResults(Seq(
      ValidationResult("r1", isValid = true, 5L, 5, "d", None),
      ValidationResult("r2", isValid = false, null, 0, "d", Some("boom"))))
    json should include("\"name\": \"r1\"")
    json should include("\"rule_name\": \"r1\"")
    json should include("\"error\": \"boom\"")
  }
}
