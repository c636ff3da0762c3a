package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cli.Render
import graft.config.Config
import graft.dedup.Dedup
import graft.model.{Json, TableMeta, TableProfile}
import graft.profiler.{Profiler, ProfilerConfig}
import graft.sources.Source
import graft.text.TextAnalysis
import graft.validation.{DefaultValidations, RuleFiles, Validator}

/** One call's checkable result: `facts` are compared with the truths the
  * input generator planted, `canonical` with the first call's. */
final case class Outcome(facts: Map[String, Any], canonical: String)

/** A workload drives the library's public entry points the way the CLI
  * does. `register` is set-up (load and name the inputs); `call` is one
  * closed-loop request. */
trait Workload {
  def register(): Unit
  def call(spans: Spans): Outcome
  /** Counts taken once, after the traced calls, by separate actions. */
  def tracedCounts(): Map[String, Long] = Map.empty
}

/** `graft profile parquet:<wide> wide --compare <historical>`: the
  * profile with the CLI's config, then the default rendering and the
  * profile JSON. */
final class ProfileWide(spark: SparkSession, in: Map[String, String]) extends Workload {
  private def load(): DataFrame = {
    val df = Source.parse("parquet:" + in("table")).load(spark)
    df.createOrReplaceTempView("wide")
    df
  }

  def register(): Unit = load()

  def call(spans: Spans): Outcome = {
    val df = spans.span("sources.load")(load())
    val historical = spans.span("model.json")(Json.readProfileFile(in("historical")))
    val cfg = Config.load()
    val profile = spans.span("profiler.profile") {
      Profiler.profile(df, "wide",
        ProfilerConfig(
          includeSamples = true,
          sampleMethod = Config.getString(cfg, "profiling.sample_method").getOrElse("random"),
          anomalyThreshold = Config.getDouble(cfg, "profiling.anomaly_threshold").getOrElse(3.0),
          maxHistory = Config.getInt(cfg, "validation.max_history").getOrElse(50),
          historyRetentionDays = Config.getInt(cfg, "history_retention_days").getOrElse(30),
          onPassTiming = spans.passTiming),
        Some(historical))
    }
    val rendered = spans.span("cli.render")(Render.default(profile))
    val json = spans.span("model.json")(Json.profile(profile))
    Outcome(
      Map(
        "rows" -> profile.rowCount,
        "duplicate_count" -> profile.duplicateCount,
        "nulls" -> profile.completeness.map { case (c, v) => c -> v.nulls },
        "outliers" -> profile.outliers.map { case (c, v) => c -> v.size },
        "rendered_chars" -> rendered.length,
        "json_chars" -> json.length),
      Json.profile(withoutClock(profile)))
  }

  /** The profile minus the wall-clock timestamps it embeds. */
  private def withoutClock(p: TableProfile): TableProfile = {
    val t = p.trends
    p.copy(timestamp = "", trends = t.copy(
      rowCounts = t.rowCounts.map(_.copy(timestamp = "")),
      nullRates = t.nullRates.map { case (k, v) => k -> v.map(_.copy(timestamp = "")) },
      duplicates = t.duplicates.map(_.copy(timestamp = ""))))
  }
}

/** `graft validate --generate-defaults --rules <file>` over two tables:
  * default rules for both, the rule file's non-fusable shapes, all run
  * through `Validator.runBatched`, then rendered and serialized. */
final class ValidateSuite(spark: SparkSession, in: Map[String, String]) extends Workload {
  private val tables = Seq("orders", "customers")

  private def load(): Seq[DataFrame] = tables.map { t =>
    val df = Source.parse("parquet:" + in(t)).load(spark)
    df.createOrReplaceTempView(t)
    df
  }

  def register(): Unit = load()

  def call(spans: Spans): Outcome = {
    val dfs = spans.span("sources.load")(load())
    val generated = spans.span("validation.generate") {
      tables.zip(dfs).flatMap { case (t, df) =>
        DefaultValidations.generate(df.schema, t, TableMeta.empty)
      }
    }
    val fromFile = spans.span("validation.load_rules")(RuleFiles.load(in("rules")))
    val rules = generated ++ fromFile
    spans.span("cli.render")(Render.rulesSummary(rules))
    val results = spans.span("validation.run")(Validator.runBatched(spark, rules))
    spans.span("cli.render") {
      Render.validationResults(results) + Render.validationSummary(results)
    }
    spans.span("model.json")(Json.validationResults(results))
    Outcome(
      Map(
        "rules" -> results.map(r => r.ruleName -> r.isValid).toMap,
        "rule_count" -> results.size,
        "errors" -> results.filter(_.error.isDefined).map(r => s"${r.ruleName}: ${r.error.get}")),
      results.map(r => s"${r.ruleName}|${r.isValid}|${Json.any(r.actualValue)}|${r.error}")
        .mkString("\n"))
  }
}

/** A training-data curation call: quality score, corpus LM score and
  * cluster-exact near-duplicate removal, each result collected. */
final class CurateCorpus(spark: SparkSession, in: Map[String, String]) extends Workload {
  private def load(): DataFrame = {
    val df = Source.parse("parquet:" + in("corpus")).load(spark)
    df.createOrReplaceTempView("corpus")
    df
  }

  def register(): Unit = load()

  def call(spans: Spans): Outcome = {
    val corpus = spans.span("sources.load")(load())
    val quality = spans.span("text.quality") {
      TextAnalysis.qualityScore(corpus, "text", "doc_id").collect()
    }
    val lm = spans.span("text.lm_score") {
      TextAnalysis.lmScore(corpus, "text", "doc_id", n = 3, vocabSize = 256).collect()
    }
    val kept = spans.span("dedup.drop") {
      Dedup.dropNearDuplicates(corpus, "doc_id", "text", policy = "components").collect()
    }
    val all = quality.map(_.getLong(0)).toSet
    val keptIds = kept.map(_.getAs[Long]("doc_id")).toSet
    Outcome(
      Map(
        "docs" -> quality.length,
        "lm_docs" -> lm.length,
        "kept" -> kept.length,
        "dropped" -> (all -- keptIds).toSeq.sorted),
      Seq[Seq[String]](quality.map(_.toString).sorted.toSeq, lm.map(_.toString).sorted.toSeq,
        keptIds.toSeq.sorted.map(_.toString)).map(_.mkString("\n")).mkString("\n--\n"))
  }

  override def tracedCounts(): Map[String, Long] = {
    val corpus = load()
    Map(
      "candidate_pairs" -> Dedup.candidatePairs(corpus, "doc_id", "text").count(),
      "verified_pairs" -> Dedup.nearDupPairs(corpus, "doc_id", "text").count(),
      "capped_buckets" -> Dedup.cappedBuckets(corpus, "doc_id", "text").count())
  }
}

/** The benchmark's measured process. Arguments:
  *   --workload <name> --inputs <inputs.json> --out <result.json>
  *   --master local[k] --work <dir> --trace 0|1 --seconds <s>
  * It builds the session and registers the inputs (set-up ends there),
  * makes the first call, then `seconds` of warm calls, at least 2 (when
  * tracing: two warm-up calls, then an even number of pairs, at least 2, of
  * one untraced and one traced call), and writes one JSON record per call. */
object Main {

  private val mapper = new ObjectMapper()

  private def epochNanos(): Long = {
    val now = Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  private def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def toJava(v: Any): Object = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case (a, b) => Seq(toJava(a), toJava(b)).asJava
    case null => null
    case o: Object => o
    case other => other.asInstanceOf[AnyRef]
  }

  /** The CLI's session settings (`graft.cli.Main`), with the master
    * pinned and Spark's scratch space kept inside the benchmark's work
    * directory. */
  def session(master: String, work: String): SparkSession = {
    val cfg = Config.load()
    val s = SparkSession.builder()
      .appName("graft-cli")
      .master(master)
      .config("spark.sql.session.timeZone",
        Config.getString(cfg, "spark.session_timezone").getOrElse("UTC"))
      .config("spark.sql.shuffle.partitions",
        Config.getInt(cfg, "spark.shuffle_partitions").getOrElse(32).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val inputs = mapper.readValue(Files.readString(Paths.get(opt("inputs"))),
      classOf[java.util.Map[String, Object]]).asScala.map { case (k, v) => k -> v.toString }.toMap
    val spark = session(opt("master"), opt("work"))
    val workload: Workload = opt("workload") match {
      case "profile_wide" => new ProfileWide(spark, inputs)
      case "validate_suite" => new ValidateSuite(spark, inputs)
      case "curate_corpus" => new CurateCorpus(spark, inputs)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    workload.register()
    val out = mutable.LinkedHashMap[String, Any]("ready_ns" -> epochNanos())
    out ++= measure(spark, workload, opt("trace") == "1", opt("seconds").toDouble)
    out("peak_rss_kb") = peakRssKb()
    Files.writeString(Paths.get(opt("out")), mapper.writeValueAsString(toJava(out.toMap)))
    spark.stop()
  }

  private def measure(spark: SparkSession, workload: Workload, trace: Boolean,
      seconds: Double): Map[String, Any] = {
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val counters = new SparkCounters(spark)
    val untraced = new Spans(enabled = false)
    val traced = new Spans(enabled = true)

    def call(phase: String, spans: Spans, pair: Int = -1): Unit = {
      if (spans.enabled) counters.reset()
      val jvm0 = JvmCounters.read()
      val cpu0 = processCpuNanos()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result =
        try Right(spans.span("call")(workload.call(spans)))
        catch { case NonFatal(e) => Left(e.toString) }
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      val cpu1 = processCpuNanos()
      val rec = mutable.LinkedHashMap[String, Any](
        "phase" -> phase, "wall_ns" -> (t1 - t0), "cpu_ns" -> (cpu1 - cpu0),
        "start_ms" -> ms0, "end_ms" -> ms1, "pair" -> pair)
      result match {
        case Right(o) =>
          rec("facts") = o.facts
          rec("digest") = sha256(o.canonical)
        case Left(err) => rec("error") = err
      }
      if (spans.enabled) {
        val (c, jobs) = counters.snapshot()
        rec("counters") = c ++ JvmCounters.delta(jvm0, JvmCounters.read())
        rec("jobs") = jobs
        rec("spans") = spans.drain().map { case (n, p, s, e) => Seq(n, p, s - t0, e - t0) }
      }
      calls += rec.toMap
    }

    def tracedCall(phase: String, pair: Int = -1): Unit = {
      counters.attach()
      try call(phase, traced, pair) finally counters.detach()
    }

    /** Runs `body(i)` for i = 0, 1, ... until `seconds` have passed, at
      * least twice and a multiple of `multiple` times. */
    def warm(multiple: Int)(body: Int => Unit): Unit = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var n = 0
      while (n < 2 || n % multiple != 0 || System.nanoTime() < end) { body(n); n += 1 }
    }

    if (trace) tracedCall("first") else call("first", untraced)
    // Traced runs make two more warm-up calls (calls keep speeding up
    // for three to four calls as the JIT compiles), then pairs of one
    // untraced and one traced call, the untraced one first in even pairs
    // and second in odd ones, so calls still speeding up favour neither
    // side of the tracing overhead.
    if (trace) (1 to 2).foreach(_ => call("warmup", untraced))
    if (trace) warm(2) { i =>
      if (i % 2 == 0) { call("untraced", untraced, i); tracedCall("traced", i) }
      else { tracedCall("traced", i); call("untraced", untraced, i) }
    }
    else warm(1)(_ => call("measured", untraced))
    val counts = if (trace) workload.tracedCounts() else Map.empty[String, Long]
    Map("calls" -> calls.toSeq, "cores" -> spark.sparkContext.defaultParallelism,
      "traced_counts" -> counts)
  }
}
