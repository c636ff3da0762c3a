package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model._
import graft.profiler.{Profiler, ProfilerConfig}
import graft.sources.Source
import graft.validation.{DefaultValidations, RuleFiles, Validator}

/** Public facade — the four entry points of the reference's Python API
  * (reference: sparvi/__init__.py:22-32: profile_table,
  * run_validations, load_rules_from_file, get_default_validations),
  * re-expressed over SparkSession + DataFrame.
  */
object Sparvi {

  /** Profile a table. `source` is a Source spec (parquet:/path, a bare
    * .parquet path, table:name, ...); the loaded DataFrame is also
    * registered as a temp view under `table` so rule SQL can reference
    * it. */
  def profileTable(
      spark: SparkSession,
      source: String,
      table: String,
      historical: Option[TableProfile] = None,
      config: ProfilerConfig = ProfilerConfig()): TableProfile = {
    val df = Source.loadAsView(spark, source, table)
    Profiler.profile(df, table, config, historical)
  }

  /** Profile an already-loaded DataFrame. */
  def profileDataFrame(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      historical: Option[TableProfile] = None,
      config: ProfilerConfig = ProfilerConfig()): TableProfile =
    Profiler.profile(df, table, config, historical)

  /** Run scalar validation rules (Spark SQL over registered views),
    * fused and concurrent as in the CLI ([[Validator.runBatched]]). */
  def runValidations(spark: SparkSession, rules: Seq[ValidationRule]): Seq[ValidationResult] =
    Validator.runBatched(spark, rules)

  def loadRulesFromFile(path: String): Seq[ValidationRule] =
    RuleFiles.load(path)

  def getDefaultValidations(
      spark: SparkSession,
      table: String,
      meta: TableMeta = TableMeta.empty): Seq[ValidationRule] =
    DefaultValidations.generate(spark.table(table).schema, table, meta)
}
