package graft.cli

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.compare.ProfileCompare
import graft.config.Config
import graft.model.{Json, TableMeta, TableProfile}
import graft.profiler.{Profiler, ProfilerConfig}
import graft.sources.Source
import graft.validation.{DefaultValidations, RuleFiles, Validator}

/** Command-line surface mirroring the reference CLI
  * (reference: sparvi/cli/main.py:18-123, cli/profile.py:19-120,
  * cli/validate.py:25-184):
  *
  *   graft profile  <source> <table> [--output f] [--compare f]
  *                  [--include-samples|--no-samples]
  *                  [--format default|detailed|minimal]
  *   graft validate <source> <table> [--rules f] [--output f]
  *                  [--generate-defaults] [--save-defaults f]
  *                  [--fail-on-error]
  *   graft test-connection <source>
  *   graft info
  *
  * `<source>` is a Source spec (parquet:/path, csv:/path, jdbc:…,
  * table name); omitted → `SPARVI_SOURCE` env fallback, mirroring the
  * reference's DATABASE_URL precedence. Exit codes: 0 ok, 1 validation
  * failures under --fail-on-error, 2 usage/runtime error.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val rc = run(args.toSeq)
    if (rc != 0) sys.exit(rc)
  }

  def run(args: Seq[String]): Int =
    try args match {
      case Seq("profile", rest @ _*) => profileCmd(rest)
      case Seq("validate", rest @ _*) => validateCmd(rest)
      case Seq("test-connection", rest @ _*) => testConnectionCmd(rest)
      case Seq("info", _*) => infoCmd()
      case Seq("--help") | Seq("-h") | Seq() => println(usage); 0
      case other =>
        System.err.println(s"Unknown command: ${other.headOption.getOrElse("")}\n$usage")
        2
    } catch {
      case NonFatal(e) =>
        System.err.println(s"Error: ${e.getMessage}")
        2
    }

  val usage: String =
    """graft - Spark-native data profiling and validation
      |
      |Commands:
      |  profile <source> <table>   Profile a table
      |    --output/-o <file>         write profile JSON
      |    --compare/-c <file>        compare with a stored profile JSON
      |    --include-samples          include sample rows (default)
      |    --no-samples               omit sample rows
      |    --format/-f <style>        default | detailed | minimal
      |    --verbose/-v               detailed format: add outliers + samples
      |  validate <source> <table>  Validate a table
      |    --rules/-r <file>          YAML/JSON rule file
      |    --output/-o <file>         write results JSON
      |    --generate-defaults/-g     generate default rules from schema
      |    --save-defaults/-s <file>  save generated rules (YAML)
      |    --fail-on-error            exit 1 if any rule fails
      |  test-connection <source>   Load the source and show its shape
      |  info                       Engine and environment information
      |
      |<source>: parquet:/path | csv:/path | json:/path | orc:/path |
      |          jdbc:<url>::<table> | table:<name> | bare path/table.
      |Omit to use the SPARVI_SOURCE environment variable.""".stripMargin

  private def spark(): SparkSession = {
    val cfg = Config.load()
    val b = SparkSession.builder()
      .appName("graft-cli")
      .config("spark.sql.session.timeZone",
        Config.getString(cfg, "spark.session_timezone").getOrElse("UTC"))
      .config("spark.sql.shuffle.partitions",
        Config.getInt(cfg, "spark.shuffle_partitions").getOrElse(32).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Respect an existing master (tests / spark-submit); default local.
    val withMaster =
      if (sys.props.contains("spark.master")) b
      else b.master(Config.getString(cfg, "spark.master").getOrElse("local[*]"))
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (flags, positionals) — flags with values use `--flag value`. */
  private def parseArgs(args: Seq[String], valued: Set[String]): (Map[String, String], Seq[String]) = {
    val flags = Map.newBuilder[String, String]
    val pos = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("-")) {
        if (valued.contains(a) && i + 1 < args.length) { flags += a -> args(i + 1); i += 1 }
        else flags += a -> "true"
      } else pos += a
      i += 1
    }
    (flags.result(), pos.result())
  }

  private def resolve(flags: Map[String, String], names: String*): Option[String] =
    names.flatMap(flags.get).headOption

  /** Mask credentials before a source string is echoed anywhere
    * (reference: sparvi/cli/main.py:56-81 `sanitize_connection_string`):
    * URL `user:pass@` (which subsumes the reference's snowflake-specific
    * duplicate of the same pattern) and `password=`/`pwd=` query
    * parameters. Hardened past the reference's patterns, which leak:
    * the password part excludes `/`, so a credential-free
    * `host:port/path?x=a@b` or path-less `host:port?x=a@b` URL is
    * never mangled as a fake password (RFC 3986 forbids raw `/` and
    * `?` in userinfo, so a real password carries them percent-encoded
    * as `%2F`/`%3F`, which ARE masked); the user
    * part admits `@` (email-style usernames are standard for cloud
    * warehouses); the password part spans embedded `@`s to the LAST
    * `@` so `alice:p@ss@host` masks fully instead of leaking the
    * tail; and the `password=`/`pwd=` keys match case-insensitively
    * (`Password=` is standard in SQLServer/ODBC strings). */
  def sanitizeSource(source: String): String =
    Seq(
      // `[^:/?]*` (not `+`): an empty username (`scheme://:pass@host`,
      // legal in libpq/JDBC URIs) must still mask its password.
      "(://[^:/?]*:)((?:[^/@?]*@)*[^/@?]+)(@)" -> "$1*****$3",
      "(?i)(password=)([^&;]+)([&;]|$)" -> "$1*****$3",
      "(?i)(pwd=)([^&;]+)([&;]|$)" -> "$1*****$3")
      .foldLeft(source) { case (acc, (p, r)) => acc.replaceAll(p, r) }

  private def sourceAndTable(pos: Seq[String]): (String, String) = pos match {
    case Seq(src, table) => (src, table)
    case Seq(table) => (sys.env.getOrElse("SPARVI_SOURCE",
      throw new IllegalArgumentException(
        "No source specified and SPARVI_SOURCE is not set")), table)
    case _ => throw new IllegalArgumentException("expected: <source> <table>")
  }

  def profileCmd(args: Seq[String]): Int = {
    val (flags, pos) = parseArgs(args, Set("--output", "-o", "--compare", "-c", "--format", "-f"))
    val (src, table) = sourceAndTable(pos)
    val s = spark()
    val df = Source.parse(src).load(s)
    df.createOrReplaceTempView(table)

    // profile.py:70-71,79: table + sanitized connection echo, then the
    // comparison-file echo when --compare is given.
    println(s"Profiling table: $table")
    println(s"Connection: ${sanitizeSource(src)}")
    val historical: Option[TableProfile] =
      resolve(flags, "--compare", "-c").map { f =>
        println(s"Comparing with previous profile: $f")
        Json.readProfileFile(f)
      }
    val includeSamples = !flags.contains("--no-samples")
    // The layered config drives sampling + anomaly knobs
    // (reference: sparvi/config.py:19-20; profiling.sample_method
    // default `random`, adapters.py:204-206).
    val cfg = Config.load()
    val profile = Profiler.profile(df, table,
      ProfilerConfig(
        includeSamples = includeSamples,
        sampleMethod = Config.getString(cfg, "profiling.sample_method").getOrElse("random"),
        anomalyThreshold = Config.getDouble(cfg, "profiling.anomaly_threshold").getOrElse(3.0),
        maxHistory = Config.getInt(cfg, "validation.max_history").getOrElse(50),
        historyRetentionDays = Config.getInt(cfg, "history_retention_days").getOrElse(30)),
      historical)

    val verbose = flags.contains("--verbose") || flags.contains("-v")
    print(resolve(flags, "--format", "-f").getOrElse("default") match {
      case "minimal" => Render.minimal(profile)
      case "detailed" => Render.detailed(profile, verbose)
      case _ => Render.default(profile)
    })
    resolve(flags, "--output", "-o").foreach { out =>
      Option(Paths.get(out).getParent).foreach(Files.createDirectories(_))
      Files.writeString(Paths.get(out), Json.profile(profile))
      println(s"\nProfile saved to: $out")
    }
    0
  }

  def validateCmd(args: Seq[String]): Int = {
    val (flags, pos) = parseArgs(args, Set("--rules", "-r", "--output", "-o", "--save-defaults", "-s"))
    val (src, table) = sourceAndTable(pos)
    val s = spark()
    val df = Source.parse(src).load(s)
    df.createOrReplaceTempView(table)

    // validate.py:90-91: table + sanitized connection echo.
    println(s"Validating table: $table")
    println(s"Connection: ${sanitizeSource(src)}")
    val generated =
      if (flags.contains("--generate-defaults") || flags.contains("-g"))
        DefaultValidations.generate(df.schema, table, TableMeta.empty)
      else Nil
    resolve(flags, "--save-defaults", "-s").foreach { out =>
      RuleFiles.export(generated, out, "yaml")
      println(s"Default rules saved to: $out")
    }
    val fromFile = resolve(flags, "--rules", "-r").map { f =>
      val loaded = RuleFiles.load(f)
      // validate.py:125: echo how many rules came from the file.
      println(s"Loaded ${loaded.size} rules from: $f")
      loaded
    }.getOrElse(Nil)
    val rules = generated ++ fromFile
    if (rules.isEmpty) {
      System.err.println("No rules to run (use --rules or --generate-defaults)")
      return 2
    }

    // Reference flow (validate.py:140-173): rule-type summary before
    // the run, results table after, then the pass/fail summary line.
    print(Render.rulesSummary(rules))
    println(s"\nRunning ${rules.size} validation rules against: $table")
    // Scalar-aggregate rules fuse into one aggregate per table, and the
    // fused aggregates and remaining rules run concurrently — identical
    // results, one scan per table instead of one per fusable rule.
    val results = Validator.runBatched(s, rules)
    val failed = results.filterNot(_.isValid)
    print(Render.validationResults(results))
    print(Render.validationSummary(results))

    resolve(flags, "--output", "-o").foreach { out =>
      Option(Paths.get(out).getParent).foreach(Files.createDirectories(_))
      Files.writeString(Paths.get(out), Json.validationResults(results))
      // validate.py:180 wording.
      println(s"Validation results saved to: $out")
    }
    if (failed.nonEmpty && (flags.contains("--fail-on-error") || flags.contains("-f"))) 1 else 0
  }

  def testConnectionCmd(args: Seq[String]): Int = {
    val (_, pos) = parseArgs(args, Set.empty)
    val src = pos.headOption.orElse(sys.env.get("SPARVI_SOURCE"))
      .getOrElse(throw new IllegalArgumentException("expected: <source>"))
    val s = spark()
    val df = Source.parse(src).load(s)
    println(s"Connection OK: ${sanitizeSource(src)}")
    println(s"Columns (${df.schema.fields.length}):")
    df.schema.fields.foreach(f => println(s"  ${f.name}: ${f.dataType.simpleString}"))
    // Mirror the reference's table listing (cli/main.py:79-123): show
    // up to 10 registered tables/views in the current catalog.
    val tables = s.catalog.listTables().collect().take(10)
    if (tables.nonEmpty) {
      println(s"Tables (first ${tables.length}):")
      tables.foreach(tb => println(s"  ${tb.name}"))
    }
    println("First rows:")
    df.show(10, truncate = false)
    0
  }

  def infoCmd(): Int = {
    println("graft - Spark-native sparvi-core engine")
    println(s"  Scala: ${util.Properties.versionNumberString}")
    println(s"  Spark: ${org.apache.spark.SPARK_VERSION}")
    sys.env.get("SPARVI_SOURCE").foreach(v => println(s"  Default source: ${sanitizeSource(v)}"))
    0
  }

}
