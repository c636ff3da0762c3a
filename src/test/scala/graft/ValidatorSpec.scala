package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.model.{TableMeta, ValidationResult, ValidationRule}
import graft.validation.{DefaultValidations, ScalarCompare, Validator}

/** End-to-end validator tests pinning the reference's validation
  * contract (reference: tests/test_validations.py:9-67) against the A1
  * employees and A2 products fixtures.
  */
class ValidatorSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def withViews[A](f: => A): A = {
    employeesDf.createOrReplaceTempView("employees")
    productsDf.createOrReplaceTempView("products")
    f
  }

  test("passing rule: check_employee_count COUNT(*) > 5") {
    withViews {
      val r = Validator.runOne(spark, ValidationRule(
        "check_employee_count", "at least 5 employees",
        "SELECT COUNT(*) FROM employees", "greater_than", 5))
      r.isValid shouldBe true
      r.actualValue shouldBe 10L
      r.error shouldBe None
    }
  }

  test("failing rule: check_no_nulls on department (1 NULL present)") {
    withViews {
      val r = Validator.runOne(spark, ValidationRule(
        "check_no_nulls", "no null departments",
        "SELECT COUNT(*) FROM employees WHERE department IS NULL", "equals", 0))
      r.isValid shouldBe false
      r.actualValue shouldBe 1L
    }
  }

  test("generated check_price_positive FAILS on products (one negative price)") {
    withViews {
      val rules = DefaultValidations.generate(productsDf.schema, "products")
      val positive = rules.find(_.name == "check_price_positive")
      positive should not be empty
      val r = Validator.runOne(spark, positive.get)
      r.isValid shouldBe false // Product E has price -1.00
      r.actualValue shouldBe 1L
    }
  }

  test("generated defaults include expected families for products") {
    val rules = DefaultValidations.generate(productsDf.schema, "products",
      TableMeta(primaryKey = Seq("product_id")))
    val names = rules.map(_.name)
    names should contain("check_products_not_empty")
    names should contain("check_products_pk_unique")
    names should contain("check_price_positive")
    names should contain("check_price_not_zero")
    names should contain("check_category_distribution")
  }

  test("a rule with broken SQL captures its error and keeps the run going") {
    withViews {
      val results = Validator.run(spark, Seq(
        ValidationRule("bad", "", "SELECT FROM nowhere zzz", "equals", 0),
        ValidationRule("good", "", "SELECT COUNT(*) FROM products", "equals", 5)))
      results.map(_.ruleName) shouldBe Seq("bad", "good")
      results(0).isValid shouldBe false
      results(0).error should not be empty
      results(1).isValid shouldBe true
      results(1).error shouldBe None
    }
  }

  test("incomparable actual/expected marks the rule failed with error, not a crash") {
    withViews {
      val r = Validator.runOne(spark, ValidationRule(
        "strVsNum", "", "SELECT MAX(category) FROM products",
        "greater_than", 5))
      r.isValid shouldBe false
      r.error should not be empty
    }
  }

  test("unknown operator yields is_valid=false without error") {
    withViews {
      val r = Validator.runOne(spark, ValidationRule(
        "weird", "", "SELECT COUNT(*) FROM products", "sorta_equals", 5))
      r.isValid shouldBe false
      r.error shouldBe None
    }
  }

  test("NULL scalar result compares as Python None (equals null passes)") {
    withViews {
      val r = Validator.runOne(spark, ValidationRule(
        "nullScalar", "", "SELECT MAX(price) FROM products WHERE price > 1e9",
        "equals", null))
      r.isValid shouldBe true
    }
  }

  test("parallel run: identical results to sequential, per-rule errors never interleave") {
    withViews {
      // mix of passing, failing-comparison, and ERRORING (bad SQL)
      // rules — under runBatched's concurrent pool each error must land
      // on exactly its own rule's result, with neighbors untouched.
      val rules = (1 to 12).flatMap { i =>
        Seq(
          ValidationRule(s"ok$i", "", "SELECT COUNT(*) FROM products", "equals", 5L),
          ValidationRule(s"bad$i", "", s"SELECT no_such_col_$i FROM products", "equals", 1L))
      }
      val parR = assertSameAsRun(rules)
      parR.filter(_.ruleName.startsWith("ok")).foreach { r =>
        r.isValid shouldBe true
        r.error shouldBe None
      }
      parR.filter(_.ruleName.startsWith("bad")).foreach { r =>
        r.isValid shouldBe false
        // the captured error names ITS OWN missing column — proof the
        // concurrent failures did not cross-contaminate
        r.error.get should include(r.ruleName.replace("bad", "no_such_col_"))
      }
    }
  }

  test("D4 unique-name heuristic fires on product_id and passes") {
    withViews {
      val rules = DefaultValidations.generate(productsDf.schema, "products")
      val unique = rules.find(_.name == "check_product_id_unique")
      unique should not be empty
      Validator.runOne(spark, unique.get).isValid shouldBe true
    }
  }

  test("rule file load → run end-to-end (generated rules exported, reloaded, executed)") {
    withViews {
      val rules = DefaultValidations.generate(productsDf.schema, "products",
        TableMeta(primaryKey = Seq("product_id")))
      val path = java.nio.file.Files.createTempFile("gen_rules", ".yaml").toString
      graft.validation.RuleFiles.export(rules, path, "yaml")
      val reloaded = graft.validation.RuleFiles.load(path)
      reloaded.map(_.name) shouldBe rules.map(_.name)
      val results = Validator.run(spark, reloaded)
      results.size shouldBe rules.size
      // price_positive fails (Product E), not_empty passes.
      results.find(_.ruleName == "check_price_positive").get.isValid shouldBe false
      results.find(_.ruleName == "check_products_not_empty").get.isValid shouldBe true
      // No rule should have errored — every generated query must be
      // valid Spark SQL (this is what catches dialect-escaping bugs).
      results.filter(_.error.isDefined) shouldBe empty
    }
  }

  test("generated phone rule executes and flags malformed phones") {
    val s = spark
    import s.implicits._
    val df = Seq(("+1 (555) 123-4567"), ("nope"), ("555 1234")).toDF("phone")
    df.createOrReplaceTempView("phones_t")
    val rules = DefaultValidations.generate(df.schema, "phones_t")
    val rule = rules.find(_.name == "check_phone_valid_phone").get
    val r = Validator.runOne(spark, rule)
    r.error shouldBe None
    r.actualValue shouldBe 1L // only "nope" lacks any digit run
    r.isValid shouldBe false
  }

  test("fusableCountWhere classifies rule shapes") {
    import graft.validation.Validator.fusableCountWhere
    def rule(q: String) = ValidationRule("r", "", q, "equals", 0)
    fusableCountWhere(rule("SELECT COUNT(*) FROM products")) shouldBe
      Some(("products", None))
    fusableCountWhere(rule("SELECT COUNT(*) FROM products WHERE price < 0")) shouldBe
      Some(("products", Some("price < 0")))
    // Subqueries, grouped counts, non-count scalars stay on plain SQL.
    fusableCountWhere(rule(
      "SELECT COUNT(*) FROM t WHERE x > (SELECT AVG(x) FROM t)")) shouldBe None
    fusableCountWhere(rule(
      "SELECT COUNT(*) FROM (SELECT id FROM t GROUP BY id HAVING COUNT(*) > 1) d")) shouldBe None
    fusableCountWhere(rule("SELECT MAX(price) FROM products")) shouldBe None
  }

  /** Where runBatched answers a rule: "round1 <table>", "round2
    * <table>" (fused into that table's round-2 aggregate), "round2
    * alone" (run alone with its round-1 values in place) or "alone". */
  private def routeOf(rule: ValidationRule): String =
    Validator.analyze(spark, Validator.plan(spark, rule)).route match {
      case Validator.Round1(table, _) => s"round1 $table"
      case Validator.Round2(_, _, into) => s"round2 ${into.getOrElse("alone")}"
      case _ => "alone"
    }

  /** runBatched must report exactly run()'s result for every rule, in
    * order: same value, same verdict, and an error on the same rules. */
  private def assertSameAsRun(rules: Seq[ValidationRule]): Seq[ValidationResult] = {
    val sequential = Validator.run(spark, rules)
    val batched = Validator.runBatched(spark, rules)
    batched.map(_.ruleName) shouldBe rules.map(_.name)
    for ((b, s) <- batched.zip(sequential)) withClue(s"${b.ruleName}: ") {
      b.isValid shouldBe s.isValid
      (ScalarCompare.equalsLoose(b.actualValue, s.actualValue) ||
        (b.actualValue == null && s.actualValue == null)) shouldBe true
      b.error.isDefined shouldBe s.error.isDefined
    }
    batched
  }

  test("runBatched returns exactly run()'s results on generated defaults") {
    withViews {
      val rules = DefaultValidations.generate(productsDf.schema, "products",
        TableMeta(primaryKey = Seq("product_id"))) ++
        DefaultValidations.generate(employeesDf.schema, "employees")
      assertSameAsRun(rules)
    }
  }

  test("runBatched: one bad predicate degrades its group, not its neighbors") {
    withViews {
      val rules = Seq(
        ValidationRule("ok1", "", "SELECT COUNT(*) FROM products WHERE price < 0", "equals", 1),
        ValidationRule("bad", "", "SELECT COUNT(*) FROM products WHERE nonexistent_col < 0", "equals", 0),
        ValidationRule("ok2", "", "SELECT COUNT(*) FROM employees WHERE department IS NULL", "equals", 1))
      val results = Validator.runBatched(spark, rules)
      results.map(_.ruleName) shouldBe Seq("ok1", "bad", "ok2")
      results(0).isValid shouldBe true // fallback still evaluates ok1 correctly
      results(1).isValid shouldBe false
      results(1).error should not be empty
      results(2).isValid shouldBe true // employees group unaffected
    }
  }

  test("runBatched: two fusable rules sharing a name keep separate results") {
    withViews {
      val rules = Seq(
        ValidationRule("dup", "", "SELECT COUNT(*) FROM products WHERE price < 0", "equals", 1),
        ValidationRule("dup", "", "SELECT COUNT(*) FROM products WHERE price > 0", "equals", 1))
      val results = Validator.runBatched(spark, rules)
      results.map(_.ruleName) shouldBe Seq("dup", "dup")
      // price < 0 matches exactly one product; price > 0 matches four.
      results(0).isValid shouldBe true
      results(0).actualValue shouldBe 1L
      results(1).isValid shouldBe false
      results(1).actualValue shouldBe 4L
    }
  }

  test("runBatched: a mixed suite returns run()'s results rule by rule, in order") {
    withViews {
      val rules = Seq(
        ValidationRule("cw_negative", "", "SELECT COUNT(*) FROM products WHERE price < 0", "equals", 1),
        ValidationRule("agg_avg", "", "SELECT AVG(price) FROM products", "between", Seq(20, 30)),
        ValidationRule("agg_null_rate", "",
          """SELECT ROUND(CAST(COUNT(*) FILTER (WHERE department IS NULL) * 100.0 / NULLIF(COUNT(*), 0) AS DOUBLE), 4)
            |FROM employees""".stripMargin, "less_than", 25.0),
        ValidationRule("sub_above_avg", "",
          "SELECT COUNT(*) FROM products WHERE price > (SELECT AVG(price) FROM products)", "equals", 1),
        ValidationRule("grouped", "",
          "SELECT COUNT(*) FROM (SELECT category FROM products GROUP BY category) g", "equals", 3),
        ValidationRule("dup", "", "SELECT MIN(price) FROM products", "less_than", 0),
        ValidationRule("err_incomparable", "", "SELECT MAX(category) FROM products", "greater_than", 5),
        ValidationRule("dup", "", "SELECT MAX(price) FROM products", "less_than", 0),
        ValidationRule("err_bad_sql", "", "SELECT FROM nowhere zzz", "equals", 0),
        ValidationRule("err_no_such_col_1", "", "SELECT SUM(no_such_col_1) FROM products", "equals", 0),
        ValidationRule("err_no_such_col_2", "",
          "SELECT COUNT(*) FROM employees WHERE no_such_col_2 > 0", "equals", 0),
        ValidationRule("cw_employees", "", "SELECT COUNT(*) FROM employees", "equals", 10))
      val fusedRules = Set("cw_negative", "agg_avg", "agg_null_rate", "dup", "err_incomparable",
        "cw_employees", "err_no_such_col_2")
      rules.foreach { r =>
        withClue(r.name) {
          val table = if (r.query.contains("employees")) "employees" else "products"
          routeOf(r) shouldBe (
            if (fusedRules(r.name)) s"round1 $table"
            // Its subquery's AVG comes from round 1; it then fuses into round 2.
            else if (r.name == "sub_above_avg") "round2 products"
            else "alone")
        }
      }

      val results = assertSameAsRun(rules)
      results.filter(_.error.isDefined).map(_.ruleName) shouldBe
        Seq("err_incomparable", "err_bad_sql", "err_no_such_col_1", "err_no_such_col_2")
      results.filter(_.ruleName.startsWith("err_no_such_col")).foreach { r =>
        r.error.get should include(r.ruleName.stripPrefix("err_"))
      }
      results(1).actualValue.asInstanceOf[Double] shouldBe 27.296 +- 1e-9
      results(5).actualValue shouldBe -1.0
      results(7).actualValue shouldBe 100.0
      results(11).isValid shouldBe true // its group fell back and still ran it
    }
  }

  test("runBatched: projections, multi-column and nondeterministic rules stay unfused") {
    withViews {
      productsDf.limit(0).createOrReplaceTempView("empty_products")
      val rules = Seq(
        ValidationRule("project_empty", "", "SELECT 1 FROM empty_products", "equals", 1),
        ValidationRule("project_rows", "", "SELECT price FROM products", "equals", 10.99),
        ValidationRule("two_columns", "", "SELECT COUNT(*), MAX(price) FROM products", "equals", 5),
        // Spark rejects a nondeterministic aggregate argument: an error
        // on both paths.
        ValidationRule("random_arg", "", "SELECT AVG(rand()) FROM products", "between", Seq(0, 1)),
        // Analyzes, but is nondeterministic; the fixed seed lets the two
        // paths' values be compared.
        ValidationRule("random_seeded", "", "SELECT MAX(price) + rand(7) FROM products", "less_than", 200))
      rules.foreach(r => withClue(r.name)(routeOf(r) shouldBe "alone"))
      val results = assertSameAsRun(rules)
      results(0).actualValue shouldBe (null: Any) // no row, not an aggregate's value
      results(0).isValid shouldBe false
      results(3).error should not be empty
      results(4).isValid shouldBe true
    }
  }

  test("two rounds: D10 outliers and D3 row growth on empty, one-row and decimal tables") {
    withViews {
      val s = spark
      import s.implicits._
      productsDf.limit(0).createOrReplaceTempView("no_products")
      productsDf.where($"product_id" === 1).createOrReplaceTempView("one_product")
      productsDf.select($"product_id", $"price".cast("decimal(10,2)").as("amount"))
        .createOrReplaceTempView("priced")
      val tables = Seq("no_products", "one_product", "priced", "products")
      val rules = tables.flatMap(t => DefaultValidations.generate(spark.table(t).schema, t))
        .filter(r => r.name.endsWith("_outliers") || r.name.endsWith("_row_growth")) :+
        // The literal keeps the inner's decimal(14,6): a double would
        // change typeof and the value's scale.
        ValidationRule("decimal_avg_type", "", "SELECT typeof((SELECT AVG(amount) FROM priced))",
          "equals", "decimal(14,6)")
      rules.count(_.name.endsWith("_outliers")) shouldBe 8
      rules.foreach { r =>
        withClue(r.name) {
          val table = tables.find(t => r.query.contains(s"FROM $t")).get
          routeOf(r) shouldBe (if (r.name.endsWith("_outliers")) s"round2 $table" else "round2 alone")
        }
      }
      val results = assertSameAsRun(rules)
      results.filter(_.error.isDefined) shouldBe empty
      results.last.isValid shouldBe true
      // One-row table: STDDEV is null, so no row is an outlier.
      results.find(_.ruleName == "check_price_outliers").get.actualValue shouldBe 0L
      // D3 reads only round-1 counts: with those known it needs no job.
      val growth = rules.filter(_.name.endsWith("_row_growth"))
      val d3Jobs = jobsOf { Validator.runBatched(spark, growth); () }
      val countJobs = jobsOf {
        Validator.runBatched(spark, tables.map(t => ValidationRule(t, "", s"SELECT COUNT(*) FROM $t", "equals", 0)))
        ()
      }
      d3Jobs shouldBe countJobs
    }
  }

  test("two rounds: an inner scalar over another table fuses into the outer table's round 2") {
    withViews {
      val rules = Seq(
        ValidationRule("rich", "",
          "SELECT COUNT(*) FROM employees WHERE salary > (SELECT MAX(price) * 1000 FROM products)",
          "equals", 3),
        ValidationRule("rich_and_old", "",
          """SELECT COUNT(*) FROM employees WHERE salary > (SELECT MAX(price) * 1000 FROM products)
            |AND age > (SELECT AVG(age) FROM employees)""".stripMargin, "equals", 3),
        ValidationRule("cw", "", "SELECT COUNT(*) FROM employees WHERE age IS NULL", "equals", 2))
      rules.map(routeOf) shouldBe Seq("round2 employees", "round2 employees", "round1 employees")
      val results = assertSameAsRun(rules)
      results.map(_.actualValue) shouldBe Seq(3L, 3L, 2L)
      results.forall(_.isValid) shouldBe true
    }
  }

  test("two rounds: correlated and nondeterministic inners stay unfused") {
    withViews {
      val rules = Seq(
        ValidationRule("correlated", "",
          """SELECT COUNT(*) FROM products p
            |WHERE price > (SELECT AVG(price) FROM products q WHERE q.category = p.category)""".stripMargin,
          "equals", 2),
        ValidationRule("random_inner", "",
          "SELECT COUNT(*) FROM products WHERE price > (SELECT AVG(price) + rand(7) FROM products)",
          "less_than", 5),
        ValidationRule("grouped_inner", "",
          "SELECT COUNT(*) FROM products, (SELECT category, AVG(price) AS a FROM products GROUP BY category) s",
          "equals", 15),
        ValidationRule("limited_inner", "",
          "SELECT COUNT(*) FROM products WHERE price > (SELECT price FROM products LIMIT 1)",
          "equals", 1))
      rules.foreach(r => withClue(r.name)(routeOf(r) shouldBe "alone"))
      val results = assertSameAsRun(rules)
      results.filter(_.error.isDefined) shouldBe empty
    }
  }

  test("two rounds: a failing inner errors only its own rule") {
    withViews {
      // Under ANSI mode the cast fails at run time, so the analyzed rule
      // fuses and its table's round-1 aggregate fails.
      val rules = Seq(
        ValidationRule("bad_inner", "",
          "SELECT COUNT(*) FROM products WHERE price > (SELECT AVG(CAST(name AS INT)) FROM products)",
          "equals", 0),
        ValidationRule("cw", "", "SELECT COUNT(*) FROM products WHERE price < 0", "equals", 1),
        ValidationRule("good_inner", "",
          "SELECT COUNT(*) FROM products WHERE price > (SELECT AVG(price) FROM products)", "equals", 1),
        ValidationRule("other_table", "",
          "SELECT COUNT(*) FROM employees WHERE age > (SELECT AVG(age) FROM employees)", "equals", 4)) ++
        DefaultValidations.generate(productsDf.schema, "products").filter(_.name.endsWith("_outliers"))
      withClue("bad_inner: ")(routeOf(rules.head) shouldBe "round2 products")
      val results = assertSameAsRun(rules)
      results.filter(_.error.isDefined).map(_.ruleName) shouldBe Seq("bad_inner")
      results.tail.forall(_.isValid) shouldBe true
    }
  }

  test("guessStartDateColumn heuristics (ported verbatim)") {
    DefaultValidations.guessStartDateColumn("end_date",
      Seq("start_date", "end_date")) shouldBe "start_date"
    DefaultValidations.guessStartDateColumn("completed_at",
      Seq("created_at", "completed_at")) shouldBe "created_at"
    // Fallback: any start-ish date column.
    DefaultValidations.guessStartDateColumn("closing_ts",
      Seq("begin_time", "closing_ts")) shouldBe "begin_time"
    // No candidate → the end column itself.
    DefaultValidations.guessStartDateColumn("end_date", Seq("end_date")) shouldBe "end_date"
  }

  test("outlierThreshold table-name heuristic (ported verbatim)") {
    DefaultValidations.outlierThreshold("fact_sales") shouldBe 50
    DefaultValidations.outlierThreshold("customer") shouldBe 20
    DefaultValidations.outlierThreshold("region") shouldBe 5
  }
}
