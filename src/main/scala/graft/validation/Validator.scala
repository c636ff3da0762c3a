package graft.validation

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap, BoundReference, Expression, Literal, NamedExpression, OuterReference, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.optimizer.InlineCTE
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LeafNode, LocalRelation, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.util.quoteIfNeeded
import org.apache.spark.sql.functions.{count, expr, lit, when}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

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
  * Scale notes: [[runBatched]] answers a suite in two fused rounds,
  * classified from each rule's analyzed plan. Round 1 is one aggregate
  * per table: every rule that is a single-row aggregate over that table
  * (a COUNT-WHERE, a null rate, an `AVG`) is one column of it, and so is
  * every *inner scalar* some rule reads from the table — an
  * uncorrelated scalar subquery or a condition-free cross-joined side
  * that is itself such an aggregate (the D10 outlier stats, the D3
  * counts, `x > (SELECT AVG(x) * 100 FROM t)`). Round 2 puts those
  * values into their rules as literals: a rule that becomes a global
  * aggregate over one table fuses into that table's round-2 aggregate,
  * a projection with no table left (D3) is evaluated on the driver with
  * no Spark job, and anything else (D13's GROUP BY) runs alone with one
  * scan fewer. A generated suite then costs about two scans per table
  * plus one job per remaining rule. All of it runs from a driver-side
  * pool half as wide as the session's default parallelism: each Spark
  * job is small, so running them one at a time leaves most task slots
  * idle while the driver plans the next, and concurrent submission
  * overlaps that planning with other rules' execution. A round-2 task
  * waits only for the round-1 aggregates it reads. Catalyst pushes rule
  * predicates into the scan.
  */
object Validator {

  /** Runs each rule as its own query, one after another — the
    * unfused reference that [[runBatched]] must match. */
  def run(spark: SparkSession, rules: Seq[ValidationRule]): Seq[ValidationResult] =
    rules.map(runOne(spark, _))

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

  /** Runs `body` on a pool of `threads` driver threads whose Spark jobs
    * all carry the `graft-validation` scheduler pool: under a FAIR-mode
    * session (spark.scheduler.mode=FAIR) concurrent rules then share
    * cluster slots fairly instead of queuing FIFO behind one wide rule;
    * under FIFO this is a no-op. The property is thread-local, so each
    * pool thread sets it once; the threads end with the pool. */
  private def withPool[A](spark: SparkSession, threads: Int)(body: ExecutionContext => A): A = {
    val sc = spark.sparkContext
    val pool = Executors.newFixedThreadPool(math.max(1, threads), (task: Runnable) => {
      val t = new Thread(() => {
        sc.setLocalProperty("spark.scheduler.pool", "graft-validation")
        task.run()
      })
      t.setDaemon(true)
      t
    })
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdown()
  }

  // ---- Fusion ---------------------------------------------------------

  /** `SELECT COUNT(*) FROM <table> [WHERE <pred>]` with a bare table
    * name and no subquery/group-by — the shape of most generated
    * default rules (families D1, D5–D9, D15). */
  private val CountWherePattern =
    """(?is)\s*SELECT\s+COUNT\(\s*\*\s*\)\s+FROM\s+([A-Za-z_][\w.]*)\s*(?:WHERE\s+(.+?))?\s*""".r

  /** Splits a rule into (table, optional predicate) when it is a
    * fusable scalar count; None → run it as plain SQL. */
  def fusableCountWhere(rule: ValidationRule): Option[(String, Option[String])] =
    rule.query match {
      case CountWherePattern(table, pred) =>
        val p = Option(pred).map(_.trim).filter(_.nonEmpty)
        // Subqueries inside the predicate would change the fused-agg
        // shape — leave them to the analyzed-plan classification.
        if (p.exists(s => s.toLowerCase.contains("select"))) None
        else Some((table, p))
      case _ => None
    }

  /** Round-1 values by [[TableScalar.key]]. */
  private[graft] type Values = Map[(String, Expression), Any]

  /** How [[runBatched]] answers a rule. */
  private[graft] sealed trait Route
  /** Not analyzed yet: [[analyze]] decides. */
  private[graft] case object Pending extends Route
  /** Runs its own query. */
  private[graft] case object Alone extends Route
  /** One column of `table`'s round-1 aggregate; `value` builds it
    * given the table's analyzed plan. */
  private[graft] final case class Round1(table: String, value: LogicalPlan => Column) extends Route
  /** Reads `inners` from round 1. With their values in place as
    * literals, `plan` fuses into `fusesInto`'s round-2 aggregate, or
    * runs alone when that is None. */
  private[graft] final case class Round2(
      plan: LogicalPlan, inners: Seq[TableScalar], fusesInto: Option[String]) extends Route {
    def rewritten(values: Values): LogicalPlan = withValues(plan)(s => values(s.key))
  }

  /** A rule's place in [[runBatched]]; `query` is its own query, which
    * it runs when it is not fused or when its fused aggregate fails. */
  private[graft] final case class Planned(rule: ValidationRule, route: Route, query: () => DataFrame) {
    def runAlone(): ValidationResult = evaluate(rule)(firstValue(query()))
  }

  /** One value a fused aggregate computes from `table`: `bound` is a
    * single-row aggregate expression whose column references are bound
    * by ordinal to `relation`'s output, so the same value read through
    * two references to the table has the same `key`. */
  private[graft] final case class TableScalar(table: String, relation: LogicalPlan, bound: Expression) {
    lazy val key: (String, Expression) = (table, bound.canonicalized)

    /** The value as a column of `base`, the table's own analyzed plan. */
    def column(base: LogicalPlan): Column = {
      if (!relation.sameResult(base))
        throw new IllegalStateException(s"$table does not name the relation a rule read")
      ColumnBridge.column(bound.transformUp { case b: BoundReference => base.output(b.ordinal) })
    }
  }

  /** The rows of one table behind Filters, Projections and aliases:
    * `cond` is the conjunction of the filters and `cols` the plan's
    * output columns, both over `relation`'s output bound by ordinal. */
  private final case class OverTable(
      table: String, relation: LogicalPlan, cond: Option[Expression], cols: Seq[Expression])

  /** Deterministic, uncorrelated and free of subqueries. */
  private def plain(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) && !e.exists(_.isInstanceOf[OuterReference])

  /** `e` (an alias stripped) with `attrs` replaced by `cols`. */
  private def replace(e: Expression, attrs: Seq[Attribute], cols: Seq[Expression]): Expression = {
    val by = AttributeMap(attrs.zip(cols))
    val body = e match { case a: Alias => a.child; case other => other }
    body.transformUp { case a: Attribute if by.contains(a) => by(a) }
  }

  private def rowsOf(plan: LogicalPlan): Option[OverTable] = plan match {
    // A table is a named view or catalog relation; an aliased inline
    // table or range has no name that spark.table resolves.
    case SubqueryAlias(id, child) if child.isInstanceOf[View] ||
        (child.isInstanceOf[LeafNode] && id.qualifier.nonEmpty) =>
      Some(OverTable((id.qualifier :+ id.name).map(quoteIfNeeded).mkString("."), plan, None,
        plan.output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }))
    case SubqueryAlias(_, child) => rowsOf(child)
    case Filter(cond, child) if plain(cond) =>
      rowsOf(child).map(t => t.copy(cond = Some((t.cond.toSeq :+ replace(cond, child.output, t.cols)).reduce(And))))
    case Project(list, child) if list.forall(plain) =>
      rowsOf(child).map(t => t.copy(cols = list.map(replace(_, child.output, t.cols))))
    case _ => None
  }

  /** `plan` as a single-row aggregate over one table: a global
    * aggregate (no grouping) over [[rowsOf]], with projections above it
    * folded in. Each filter becomes every aggregate function's FILTER
    * clause, so the value is the same inside any other global aggregate
    * of the table. None for any other shape, or a nondeterministic,
    * correlated or subquery expression. */
  private def aggregateOf(plan: LogicalPlan): Option[OverTable] = plan match {
    case SubqueryAlias(_, child) => aggregateOf(child)
    case Project(list, child) if list.forall(plain) =>
      aggregateOf(child).map(t => t.copy(cols = list.map(replace(_, child.output, t.cols))))
    case a: Aggregate if a.groupingExpressions.isEmpty && a.aggregateExpressions.forall(plain) =>
      rowsOf(a.child).map { t =>
        // Each fused aggregate function gets its own result id: a
        // fused plan must never hold two different ones under one id.
        val cols = a.aggregateExpressions.map(replace(_, a.child.output, t.cols).transformUp {
          case ae: AggregateExpression => ae.copy(
            filter = (t.cond.toSeq ++ ae.filter).reduceOption(And), resultId = NamedExpression.newExprId)
        })
        t.copy(cond = None, cols = cols)
      }
    case _ => None
  }

  private def scalarsOf(plan: LogicalPlan): Option[Seq[TableScalar]] =
    aggregateOf(plan).map(t => t.cols.map(TableScalar(t.table, t.relation, _)))

  private val OneRow = LocalRelation(Nil, Seq(InternalRow.empty))

  /** `plan` with every inner scalar replaced by a literal of
    * `value(scalar)`, with the scalar's own type. An inner scalar is an
    * output of an uncorrelated scalar subquery or of a side of a
    * condition-free inner join (`FROM t, stats`) that [[scalarsOf]]
    * reads as a single-row aggregate over one table. A replaced join
    * side becomes a projection of its literals; with both sides
    * replaced the join becomes one local row. Join sides are matched
    * in the original plan (top-down), so no inner scalar ever depends
    * on another. */
  private def withValues(plan: LogicalPlan)(value: TableScalar => Any): LogicalPlan = {
    def literal(s: TableScalar, dataType: DataType): Literal =
      Literal(CatalystTypeConverters.createToCatalystConverter(dataType)(value(s)), dataType)
    def literals(side: LogicalPlan): Option[Seq[NamedExpression]] =
      scalarsOf(side).map(_.zip(side.output).map { case (s, a) =>
        Alias(literal(s, a.dataType), a.name)(a.exprId, a.qualifier)
      })
    plan.transformDown {
      case j @ Join(l, r, Inner | Cross, None, _) => (literals(l), literals(r)) match {
        case (Some(a), Some(b)) => Project(a ++ b, OneRow)
        case (Some(a), None) => Project(a ++ r.output, r)
        case (None, Some(b)) => Project(l.output ++ b, l)
        case _ => j
      }
    }.transformAllExpressions {
      case s: ScalarSubquery if s.outerAttrs.isEmpty => scalarsOf(s.plan) match {
        case Some(Seq(one)) => literal(one, s.dataType)
        case _ => s
      }
    }
  }

  /** The inner scalars [[withValues]] would replace, one per value. */
  private def innersOf(plan: LogicalPlan): Seq[TableScalar] = {
    val found = Seq.newBuilder[TableScalar]
    withValues(plan) { s => found += s; null }
    found.result().distinctBy(_.key)
  }

  /** Places a rule without analyzing it: a COUNT-WHERE rule fuses into
    * round 1 as `count(when(pred, 1))`; every other rule is left to
    * [[analyze]]. Cheap, so it runs on the calling thread. */
  private[graft] def plan(spark: SparkSession, rule: ValidationRule): Planned = {
    val own = () => spark.sql(rule.query)
    fusableCountWhere(rule) match {
      case Some((table, pred)) =>
        Planned(rule, Round1(table, _ => pred.fold(count(lit(1)))(p => count(when(expr(p), lit(1))))), own)
      case None => Planned(rule, Pending, own)
    }
  }

  /** Classifies a [[Pending]] rule from its analyzed plan, CTEs
    * inlined, analyzing it once: a single-row, single-column aggregate
    * over one table fuses into round 1; a rule that reads inner
    * scalars gets a second round; anything else (and an analysis
    * error) runs alone from that same DataFrame. A single-row
    * aggregate returns exactly one row, whose value the same
    * expression computes inside any other global aggregate of the
    * table; a projection (`SELECT 1 FROM t`) returns no row on an empty
    * table, so it cannot fuse. */
  private[graft] def analyze(spark: SparkSession, p: Planned): Planned =
    if (p.route != Pending) p
    else try {
      val df = spark.sql(p.rule.query)
      val analyzed = InlineCTE(alwaysInline = true)(df.queryExecution.analyzed)
      val route = scalarsOf(analyzed) match {
        case Some(Seq(s)) => Round1(s.table, s.column)
        case _ =>
          val inners = innersOf(analyzed)
          if (inners.isEmpty) Alone
          else Round2(analyzed, inners,
            scalarsOf(withValues(analyzed)(_ => null)).collect { case Seq(s) => s.table })
      }
      p.copy(route = route, query = () => df)
    } catch {
      case NonFatal(err) => p.copy(route = Alone, query = () => throw err)
    }

  /** Like [[run]], with identical results (same comparison, same
    * per-rule error capture), but faster on suites of many small
    * rules, in two fused rounds (see the scale notes above):
    *   - [[plan]] places the COUNT-WHERE rules on the calling thread;
    *     the pool then analyzes every other rule ([[analyze]]);
    *   - each table's round-1 aggregate computes its round-1 rules and
    *     the inner scalars read from it; rules that run alone start at
    *     the same time;
    *   - each round-2 rule, fused per table or alone, starts when the
    *     round-1 aggregates it reads have finished.
    * A fused aggregate that fails falls back to running each of its
    * rules alone, two-round rules that needed it included, so a single
    * bad predicate cannot poison its neighbors' results. The pool has
    * `defaultParallelism / 2` driver threads (at least one). Output
    * order matches input. */
  def runBatched(spark: SparkSession, rules: Seq[ValidationRule]): Seq[ValidationResult] = {
    val placed = rules.map(plan(spark, _))
    // Half the session's task slots. On local[4] (4 cores, 1 GB driver
    // heap) the validate_suite benchmark's median call time fell 47%
    // with 4 threads and 29% with 2, but its peak RSS rose 21% (and
    // spread widely) with 4 against 7% with 2: more concurrent queries
    // allocate faster, so G1 grows the heap.
    val threads = math.max(1, spark.sparkContext.defaultParallelism / 2)
    withPool(spark, threads) { implicit ec =>
      // Keyed by the rule's position in the input, NOT its name: rule
      // files don't enforce unique names, and two same-named fusable
      // rules must still report their own actual/is_valid.
      val planned = Await.result(Future.traverse(placed) { p =>
        if (p.route == Pending) Future(analyze(spark, p)) else Future.successful(p)
      }, Duration.Inf).zipWithIndex
      val round1Rules = planned.collect { case (p @ Planned(_, r: Round1, _), i) => (p, r, i) }
        .groupBy(_._2.table)
      val round2Rules = planned.collect { case (p @ Planned(_, r: Round2, _), i) => (p, r, i) }
      val inners = round2Rules.flatMap(_._2.inners).distinctBy(_.key).groupBy(_.table)
      val round1 = (round1Rules.keySet ++ inners.keySet).toSeq.map { table =>
        table -> Future(runRound1(spark, table, round1Rules.getOrElse(table, Nil), inners.getOrElse(table, Nil)))
      }.toMap
      val alone = planned.collect { case (p, i) if p.route == Alone => Future(Seq(i -> p.runAlone())) }
      // The round-1 values `inners` read, once their aggregates have
      // finished; None when one of them failed.
      def valuesOf(inners: Seq[TableScalar]): Future[Option[Values]] =
        Future.sequence(inners.map(_.table).distinct.map(round1(_).map(_._2)))
          .map(vs => if (vs.forall(_.isDefined)) Some(vs.flatten.reduce(_ ++ _)) else None)
      val round2 = round2Rules.groupBy(_._2.fusesInto).toSeq.flatMap {
        case (Some(table), group) =>
          Seq(Future.traverse(group)(g => valuesOf(g._2.inners)).map(vs => runRound2(spark, table, group.zip(vs))))
        case (None, group) => group.map { case (p, r, i) =>
          valuesOf(r.inners).map(vs => Seq(i -> runRewritten(spark, p, r, vs)))
        }
      }
      val results = Await.result(Future.sequence(round1.values.map(_.map(_._1)) ++ alone ++ round2),
        Duration.Inf).flatten.toMap
      rules.indices.map(results)
    }
  }

  /** A single `head()` over `table` whose column `c<i>` is `values(i)`
    * built on the table's analyzed plan; None when it fails. */
  private def fusedRow(spark: SparkSession, table: String, values: Seq[LogicalPlan => Column]): Option[Row] =
    try {
      val base = spark.table(table)
      val cols = values.zipWithIndex.map { case (v, i) => v(base.queryExecution.analyzed).as(s"c$i") }
      Some(base.agg(cols.head, cols.tail: _*).head())
    } catch {
      case NonFatal(_) => None
    }

  private def cell(row: Row, i: Int): Any = if (row.isNullAt(i)) null else row.get(i)

  /** One table's round-1 aggregate: its round-1 rules' values, then the
    * inner scalars read from it. When it fails its rules run alone and
    * no inner value is known. */
  private def runRound1(spark: SparkSession, table: String, rules: Seq[(Planned, Round1, Int)],
      inners: Seq[TableScalar]): (Seq[(Int, ValidationResult)], Option[Values]) =
    fusedRow(spark, table, rules.map(_._2.value) ++ inners.map(s => s.column _)) match {
      case Some(row) =>
        (rules.zipWithIndex.map { case ((p, _, idx), i) => idx -> evaluate(p.rule)(cell(row, i)) },
          Some(inners.zipWithIndex.map { case (s, j) => s.key -> cell(row, rules.size + j) }.toMap))
      case None =>
        // Any failure in the fused plan (bad column, bad predicate)
        // reverts the whole group to per-rule execution, preserving
        // run()'s exact error-capture semantics.
        (rules.map { case (p, _, idx) => idx -> p.runAlone() }, None)
    }

  /** One table's round-2 aggregate over the rules whose round-1 values
    * are known; the others, and all of them when it fails, run alone. */
  private def runRound2(spark: SparkSession, table: String,
      group: Seq[((Planned, Round2, Int), Option[Values])]): Seq[(Int, ValidationResult)] = {
    val (ready, blocked) = group.partition(_._2.isDefined)
    val row = if (ready.isEmpty) None else fusedRow(spark, table, ready.map { case ((_, r, _), vs) =>
      (base: LogicalPlan) => scalarsOf(r.rewritten(vs.get)) match {
        case Some(Seq(s)) => s.column(base)
        case other => throw new IllegalStateException(s"no longer a single-row aggregate: $other")
      }
    })
    val done = row match {
      case Some(r) => ready.zipWithIndex.map { case (((p, _, idx), _), i) => idx -> evaluate(p.rule)(cell(r, i)) }
      case None => ready.map { case ((p, _, idx), _) => idx -> p.runAlone() }
    }
    done ++ blocked.map { case ((p, _, idx), _) => idx -> p.runAlone() }
  }

  /** A two-round rule that does not fuse, run with its round-1 values
    * in place. A failure reruns its own query, so the error it reports
    * is the one [[run]] would report. */
  private def runRewritten(spark: SparkSession, p: Planned, r: Round2, values: Option[Values]): ValidationResult =
    values.map(v => Try(firstValue(ColumnBridge.dataFrame(spark, r.rewritten(v))))) match {
      case Some(Success(actual)) => evaluate(p.rule)(actual)
      case _ => p.runAlone()
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
