package graft.validation

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions.{count, expr, lit, when}

import graft.model.{ValidationResult, ValidationRule}

/** Scalar-rule validator: the Spark-native replacement for
  * `sparvi.validations.run_validations`
  * (reference: sparvi/validations/validator.py:67-139).
  *
  * Each rule's `query` is Spark SQL over registered temp views; the
  * first column of the first row is the actual value, compared to the
  * expected value with the rule's operator. Semantics preserved from
  * the reference:
  *   - unknown operator → is_valid = false (validator.py:99);
  *   - a failing rule captures its error and keeps going
  *     (validator.py:122-128);
  *   - `between` expects a 2-element sequence (validator.py:112-113);
  *   - comparisons are dynamically typed in the reference (Python) —
  *     [[ScalarCompare]] reproduces that with numeric widening to
  *     BigDecimal and string/boolean equality otherwise.
  *
  * Scale notes: [[runBatched]] fuses every single-table global scalar
  * aggregate into one aggregate per table, so a generated suite costs
  * one scan per table plus one job per remaining rule, and submits
  * those fused aggregates and remaining rules from a driver-side pool
  * half as wide as the session's default parallelism. Each Spark job is
  * small, so running them one at a time leaves most task slots idle
  * while the driver plans the next; concurrent submission overlaps
  * that planning with other rules' execution. Catalyst pushes rule
  * predicates into the scan.
  */
object Validator {

  def run(
      spark: SparkSession,
      rules: Seq[ValidationRule],
      parallelism: Int = 1): Seq[ValidationResult] =
    if (parallelism <= 1) rules.map(runOne(spark, _))
    else concurrently(spark, parallelism, rules)(runOne(spark, _))

  def runOne(spark: SparkSession, rule: ValidationRule): ValidationResult =
    evaluate(rule)(firstValue(spark.sql(rule.query)))

  private def firstValue(df: DataFrame): Any =
    df.limit(1).collect().headOption.map(r => if (r.isNullAt(0)) null else r.get(0)).orNull

  /** Compares `actual` (computed inside the error capture) with the
    * rule's expectation; any failure becomes this rule's error. */
  private def evaluate(rule: ValidationRule)(actual: => Any): ValidationResult =
    try {
      val a = actual
      ValidationResult(rule.name, ScalarCompare.evaluate(a, rule.operator, rule.expectedValue),
        a, rule.expectedValue, rule.description, None)
    } catch {
      case NonFatal(e) =>
        ValidationResult(rule.name, isValid = false, null, rule.expectedValue,
          rule.description, Some(e.getMessage))
    }

  /** Applies `f` to every item from a pool of at most `threads` driver
    * threads; result i is item i's. Every task's jobs carry the
    * `graft-validation` scheduler pool: under a FAIR-mode session
    * (spark.scheduler.mode=FAIR) concurrent rules then share cluster
    * slots fairly instead of queuing FIFO behind one wide rule; under
    * FIFO this is a no-op. The property is thread-local, so each task
    * sets it and clears it (pool threads are reused). */
  private def concurrently[A, B](spark: SparkSession, threads: Int, items: Seq[A])(
      f: A => B): Seq[B] = {
    val sc = spark.sparkContext
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, items.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = items.map { a =>
        Future {
          sc.setLocalProperty("spark.scheduler.pool", "graft-validation")
          try f(a)
          finally sc.setLocalProperty("spark.scheduler.pool", null)
        }
      }
      Await.result(Future.sequence(fs), Duration.Inf)
    } finally pool.shutdown()
  }

  // ---- Fusion ---------------------------------------------------------

  /** `SELECT COUNT(*) FROM <table> [WHERE <pred>]` with a bare table
    * name and no subquery/group-by — the shape of most generated
    * default rules (families D1, D5–D9, D15). */
  private val CountWherePattern =
    """(?is)\s*SELECT\s+COUNT\(\s*\*\s*\)\s+FROM\s+([A-Za-z_][\w.]*)\s*(?:WHERE\s+(.+?))?\s*""".r

  /** `SELECT <expr> FROM <table>` with a bare table name and nothing
    * after it. Whether `<expr>` is a global scalar aggregate is left to
    * the analyzer ([[isScalarAggregate]]). */
  private val SelectFromPattern =
    """(?is)\s*SELECT\s+(.+)\s+FROM\s+([A-Za-z_][\w.]*)\s*""".r

  /** Splits a rule into (table, optional predicate) when it is a
    * fusable scalar count; None → run it as plain SQL. */
  def fusableCountWhere(rule: ValidationRule): Option[(String, Option[String])] =
    rule.query match {
      case CountWherePattern(table, pred) =>
        val p = Option(pred).map(_.trim).filter(_.nonEmpty)
        // Subqueries inside the predicate would change the fused-agg
        // shape — leave them on the plain path.
        if (p.exists(s => s.toLowerCase.contains("select"))) None
        else Some((table, p))
      case _ => None
    }

  /** A rule's place in [[runBatched]]: `fused` is the table and the
    * column it adds to that table's aggregate, when it can fuse;
    * `query` is its own query for the per-rule path. */
  private[graft] final case class Planned(
      rule: ValidationRule,
      fused: Option[(String, Column)],
      query: () => DataFrame) {
    def runAlone(): ValidationResult = evaluate(rule)(firstValue(query()))
  }

  /** An aggregate with no grouping, one output column and only
    * deterministic expressions returns exactly one row, whose value
    * the same expression computes inside any other global aggregate of
    * the table. A projection (`SELECT 1 FROM t`) returns no row on an
    * empty table, so it cannot fuse. */
  private def isScalarAggregate(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case a: Aggregate =>
      a.groupingExpressions.isEmpty && a.aggregateExpressions.size == 1 &&
        a.aggregateExpressions.forall(_.deterministic)
    case _ => false
  }

  /** Classifies one rule. A COUNT-WHERE rule fuses as
    * `count(when(pred, 1))` without being analyzed on its own. A
    * `SELECT <expr> FROM <table>` rule without a subquery is analyzed
    * here, once: it fuses as `<expr>` when its plan is a scalar
    * aggregate, and otherwise runs from that analyzed DataFrame (or
    * reports its analysis error). Any other rule is parsed only when
    * it runs. */
  private[graft] def plan(spark: SparkSession, rule: ValidationRule): Planned = {
    val own = () => spark.sql(rule.query)
    fusableCountWhere(rule) match {
      case Some((table, pred)) =>
        Planned(rule, Some(table -> pred.fold(count(lit(1)))(p => count(when(expr(p), lit(1))))), own)
      case None => rule.query match {
        case SelectFromPattern(e, table) if !e.toLowerCase.contains("select") =>
          try {
            val df = spark.sql(rule.query)
            Planned(rule, if (isScalarAggregate(df)) Some(table -> expr(e)) else None, () => df)
          } catch {
            case NonFatal(err) => Planned(rule, None, () => throw err)
          }
        case _ => Planned(rule, None, own)
      }
    }
  }

  /** Like [[run]], with identical results (same comparison, same
    * per-rule error capture), but faster on suites of many small rules:
    *   - rules that [[plan]] finds fusable fuse per table into ONE wide
    *     aggregate, one column per rule, so a generated suite costs a
    *     scan per table rather than a scan per rule; a fused aggregate
    *     that fails falls back to per-rule execution, so a single bad
    *     predicate cannot poison its neighbors' results;
    *   - the fused aggregates and the remaining rules run concurrently
    *     from a pool of `min(#tasks, defaultParallelism / 2)` driver
    *     threads (at least one).
    * Output order matches input. */
  def runBatched(spark: SparkSession, rules: Seq[ValidationRule]): Seq[ValidationResult] = {
    // Keyed by the rule's position in the input, NOT its name: rule
    // files don't enforce unique names, and two same-named fusable
    // rules must still report their own actual/is_valid.
    val (fusable, alone) = rules.map(plan(spark, _)).zipWithIndex.partition(_._1.fused.isDefined)
    val tasks: Seq[() => Seq[(Int, ValidationResult)]] =
      fusable.groupBy(_._1.fused.get._1).values.toSeq.map(g => () => runFused(spark, g)) ++
        alone.map { case (p, idx) => () => Seq(idx -> p.runAlone()) }
    // Half the session's task slots. On local[4] (4 cores, 1 GB driver
    // heap) the validate_suite benchmark's median call time fell 47%
    // with 4 threads and 29% with 2, but its peak RSS rose 21% (and
    // spread widely) with 4 against 7% with 2: more concurrent queries
    // allocate faster, so G1 grows the heap.
    val threads = math.max(1, spark.sparkContext.defaultParallelism / 2)
    val results = concurrently(spark, threads, tasks)(_())
    rules.indices.map(results.flatten.toMap)
  }

  /** One table's fused aggregate: a single `head()` whose column `c<i>`
    * is the i-th rule's actual value. */
  private def runFused(spark: SparkSession, group: Seq[(Planned, Int)]): Seq[(Int, ValidationResult)] =
    try {
      val aggs = group.zipWithIndex.map { case ((p, _), i) => p.fused.get._2.as(s"c$i") }
      val row = spark.table(group.head._1.fused.get._1).agg(aggs.head, aggs.tail: _*).head()
      group.zipWithIndex.map { case ((p, idx), i) =>
        idx -> evaluate(p.rule)(if (row.isNullAt(i)) null else row.get(i))
      }
    } catch {
      case NonFatal(_) =>
        // Any failure in the fused plan (bad column, bad predicate)
        // reverts the whole group to per-rule execution, preserving
        // run()'s exact error-capture semantics.
        group.map { case (p, idx) => idx -> p.runAlone() }
    }
}

/** Raised when an ordering comparison is attempted on an incomparable
  * pair — mirrors Python's TypeError (e.g. `'5' < 5`), which the
  * reference's per-rule try/except converts into a failed result with
  * `error` set (validator.py:122-128). */
final class IncomparableException(msg: String) extends RuntimeException(msg)

/** Cross-type scalar comparison with Python's dynamic-typing semantics
  * (reference: validator.py:99-113):
  *   - numeric pairs widen to BigDecimal; booleans act as 1/0 when
  *     paired with a number (Python `True == 1`);
  *   - string-vs-number is NOT coerced: `'5' == 5` is false, and
  *     `'5' < 5` raises (TypeError in Python → rule error here);
  *   - `==`/`!=` never raise on mismatched types.
  */
object ScalarCompare {

  /** Widen a value known to be numeric-ish. Strings intentionally do
    * NOT parse here — Python does not coerce '5' to 5. Non-finite
    * floats return None (BigDecimal cannot hold them); [[compare]]
    * handles ±Infinity itself and NaN is special-cased in [[evaluate]]
    * to Python semantics (every comparison with NaN is False, never an
    * error — e.g. the stddev of a single row). */
  def toNumeric(v: Any): Option[BigDecimal] = v match {
    case null => None
    case b: Boolean => Some(if (b) BigDecimal(1) else BigDecimal(0))
    case b: Byte => Some(BigDecimal(b.toInt))
    case s: Short => Some(BigDecimal(s.toInt))
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case f: Float => if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
    case d: Double => if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
    case bd: BigDecimal => Some(bd)
    case bd: java.math.BigDecimal => Some(BigDecimal(bd))
    case bi: BigInt => Some(BigDecimal(bi))
    case _ => None
  }

  def isNaN(v: Any): Boolean = v match {
    case d: Double => d.isNaN
    case f: Float => f.isNaN
    case _ => false
  }

  private def isInfinite(v: Any): Boolean = v match {
    case d: Double => d.isInfinite
    case f: Float => f.isInfinite
    case _ => false
  }

  /** Lenient conversion for OUTPUT formatting only (parses numeric
    * strings) — never used by the comparison semantics. */
  def toBigDecimal(v: Any): Option[BigDecimal] = v match {
    case s: String => try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
    case other => toNumeric(other)
  }

  /** 3-way compare returning None when the pair is not comparable
    * under Python semantics. NaN returns None (callers decide: ordering
    * operators evaluate false, equality evaluates false); ±Infinity
    * orders like Python (inf > everything finite). */
  def compare(a: Any, b: Any): Option[Int] =
    if (isNaN(a) || isNaN(b)) None
    else if (isInfinite(a) || isInfinite(b)) {
      // ±Infinity orders strictly beyond EVERY finite numeric — even a
      // BigDecimal outside Double range (a naive toDouble would
      // overflow such a value to ±inf and call them equal).
      def infSign(v: Any): Option[Int] = v match {
        case d: Double if d.isInfinite => Some(if (d > 0) 1 else -1)
        case f: Float if f.isInfinite => Some(if (f > 0) 1 else -1)
        case _ => None
      }
      (infSign(a), infSign(b)) match {
        case (Some(x), Some(y)) => Some(x.compare(y))
        case (Some(x), None) => toNumeric(b).map(_ => x)
        case (None, Some(y)) => toNumeric(a).map(_ => -y)
        case (None, None) => None
      }
    }
    else (toNumeric(a), toNumeric(b)) match {
      case (Some(x), Some(y)) => Some(x.compare(y))
      case _ => (a, b) match {
        case (x: String, y: String) => Some(x.compareTo(y))
        // Same-class Comparables (Date, Timestamp, …) order naturally.
        case (x: Comparable[_], y) if y != null && x.getClass == y.getClass =>
          Some(x.asInstanceOf[Comparable[Any]].compareTo(y))
        case _ => None
      }
    }

  /** Python `==`: false (never an error) on mismatched types; NaN is
    * not equal to anything, itself included. */
  def equalsLoose(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case _ if isNaN(a) || isNaN(b) => false
    case _ => compare(a, b).contains(0) || a == b
  }

  private def ordered(actual: Any, expected: Any): Int =
    compare(actual, expected).getOrElse(throw new IncomparableException(
      s"'$actual' (${classOf(actual)}) not comparable with '$expected' (${classOf(expected)})"))

  /** Ordering compare that is False (not an error) when either side is
    * NaN — Python `nan < 5` is False without raising. */
  private def orderedOp(actual: Any, expected: Any)(p: Int => Boolean): Boolean =
    if (isNaN(actual) || isNaN(expected)) false
    else p(ordered(actual, expected))

  private def classOf(v: Any): String =
    if (v == null) "null" else v.getClass.getSimpleName

  def evaluate(actual: Any, operator: String, expected: Any): Boolean = operator match {
    case "equals" | "==" => equalsLoose(actual, expected)
    case "not_equals" | "!=" => !equalsLoose(actual, expected)
    case "greater_than" | ">" => orderedOp(actual, expected)(_ > 0)
    case "less_than" | "<" => orderedOp(actual, expected)(_ < 0)
    case "greater_than_or_equal" | ">=" => orderedOp(actual, expected)(_ >= 0)
    case "less_than_or_equal" | "<=" => orderedOp(actual, expected)(_ <= 0)
    case "between" => expected match {
      case s: Seq[_] if s.size == 2 =>
        orderedOp(actual, s(0))(_ >= 0) && orderedOp(actual, s(1))(_ <= 0)
      case _ => false
    }
    case _ => false // unknown operator — reference leaves is_valid False
  }
}
