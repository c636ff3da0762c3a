package graft.text

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Partitioning.spread

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, quality scoring, language identification, and
  * document fingerprinting. These extend the reference's text metrics
  * (the three fixed regexes + length stats,
  * reference: sparvi/profiler/profile_engine.py:178-238) to the
  * LLM-data-pipeline scope.
  *
  * Every operator is a narrow projection + single aggregate: the scan
  * reads only the text column (column pruning), all expressions are
  * codegen'd built-ins (no UDFs), and nothing shuffles except the
  * final aggregate. At 100 TB each of these is a one-pass map-side
  * computation.
  */
object TextAnalysis {

  /** Whitespace tokens of a trimmed text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish pre-tokenizer regex: runs of letters, runs of digits, or
    * runs of other non-space symbols — the shape GPT-2-style byte-pair
    * pre-tokenization produces, minus byte-level details. */
  val BpeTokenPattern = "\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"

  /** Count of BPE-ish tokens (regexp_count is codegen'd; no UDF). */
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(BpeTokenPattern))

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) with an optional
    * control/format-character strip — run it BEFORE fingerprinting or
    * shingling so composed-vs-decomposed accents and zero-width
    * padding cannot split an exact-dup group. Native codegen'd
    * expression, no UDF; strip semantics documented (and replayable)
    * in [[graft.functions.TextNormalizeUtil]]. */
  def normalizeText(text: Column, form: String = "NFC",
      stripControls: Boolean = true): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.NormalizeText(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text),
        form, stripControls))

  /** Strip HTML/markup down to its text: comments, script/style
    * blocks and tags removed, entities decoded (named + numeric, one
    * left-to-right pass), whitespace collapsed — the ingestion step a
    * web corpus needs BEFORE quality scoring, fingerprinting or
    * tokenization. Native codegen'd expression, no UDF; the exact
    * regexp_replace chain is documented (and replayable) in
    * [[graft.functions.HtmlStripUtil]]. */
  def stripHtml(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.HtmlStrip(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** Small stopword list used by the quality heuristic. Deliberately
    * tiny and fixed so the score is reproducible across engines. */
  val Stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Marker words per language for the n-gram/marker language-ID
    * heuristic. Fixed, tiny, deterministic. */
  val LanguageMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "que", "los", "una"),
    "fr" -> Seq("le", "les", "des", "est", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Per-document token statistics: whitespace token count, BPE-ish
    * token count, char length, average word length. */
  def tokenStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = tokens(col(textCol))
    spread(df).select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      size(w).cast("long").as("n_tokens_ws"),
      bpeTokenCount(col(textCol)).cast("long").as("n_tokens_bpe"),
      round(aggregate(w, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        greatest(size(w), lit(1)), 4).as("avg_word_len"))
  }

  /** Quality heuristics per document: punctuation ratio, stopword
    * ratio, digit ratio, and a composite quality score in [0, 1].
    * The formula is an arbitrary-but-fixed heuristic: length-capped
    * token count, damped by punctuation, boosted by stopword presence
    * (prose-likeness). */
  def qualityScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val txt = col(textCol)
    val nChars = length(txt).cast("double")
    val digits = regexp_count(txt, lit("[0-9]")).cast("double")
    spread(df).select(
      col(idCol),
      round(punctRatioExpr(txt), 4).as("punct_ratio"),
      round(digits / greatest(nChars, lit(1.0)), 4).as("digit_ratio"),
      round(stopRatioExpr(txt), 4).as("stopword_ratio"),
      round(qualityScoreExpr(txt), 4).as("quality_score"))
  }

  private def punctRatioExpr(txt: Column): Column =
    regexp_count(txt, lit("[\\p{Punct}]")).cast("double") /
      greatest(length(txt).cast("double"), lit(1.0))

  private def stopRatioExpr(txt: Column): Column = {
    val w = tokens(txt)
    size(filter(w, t => t.isin(Stopwords.map(x => x: Any): _*))).cast("double") /
      greatest(size(w), lit(1)).cast("double")
  }

  /** The composite quality score of [[qualityScore]] as a bare column
    * expression — shared with [[sourceMixReport]] so the formula lives
    * in one place (Catalyst CSE collapses the repeated subtrees). */
  private def qualityScoreExpr(txt: Column): Column = {
    val nTok = greatest(size(tokens(txt)), lit(1)).cast("double")
    least(
      least(nTok / lit(100.0), lit(1.0)) * (lit(1.0) - punctRatioExpr(txt)) *
        (lit(0.5) + lit(0.5) * stopRatioExpr(txt)),
      lit(1.0))
  }

  /** Thresholds for [[qualityFilter]] — the Gopher-style rule battery
    * (Rae et al. 2021, table A1's shape, with this engine's fixed
    * small stopword list). Every bound is a plain scalar so a
    * deployment can tighten or disable a rule (`Int.MaxValue` /
    * `Double.MaxValue` / 0 / negative bounds make a rule vacuous). */
  final case class QualityFilterConfig(
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minAlphaWordFrac: Double = 0.8, minDistinctStopwords: Int = 2,
      maxEllipsisLineFrac: Double = 0.3, maxBulletLineFrac: Double = 0.9,
      maxDupLineFrac: Double = 0.3)

  /** Gopher-style composite document-quality FILTER: evaluates the
    * whole rule battery per document and emits a keep/drop verdict
    * with the NAMES of every failed rule — the production shape where
    * a pipeline both filters and reports WHY (a bare boolean makes
    * threshold tuning blind; [[qualityScore]] scores, this DECIDES).
    * Rules: word-count band, mean-word-length band, alphabetic-word
    * fraction, distinct-stopword diversity, ellipsis-terminated and
    * bullet-led line fractions, and the duplicate-line fraction of
    * [[repetitionStats]]. Output: (id, n_words, mean_word_len,
    * alpha_word_frac, n_stopwords, ellipsis_line_frac,
    * bullet_line_frac, dup_line_frac, keep, reasons) with `reasons`
    * the sorted array of failed rule names (empty ⇔ keep). Rows with
    * null text are excluded.
    *
    * Pure map-side column expressions over token/line arrays BOUND to
    * attributes first (the [[repetitionStats]] capture note); the
    * line-duplicate count is O(L²) in a document's line count and
    * embarrassingly parallel across documents. No shuffle anywhere —
    * the filter costs one scan at any corpus size. */
  def qualityFilter(df: DataFrame, textCol: String, idCol: String,
      cfg: QualityFilterConfig = QualityFilterConfig()): DataFrame = {
    val bound = spread(df).filter(col(textCol).isNotNull).select(
      col(idCol),
      filter(tokens(col(textCol)), t => t =!= "").as("w"),
      filter(transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "").as("lines"))
    val nW = greatest(size(col("w")), lit(1)).cast("double")
    val nL = greatest(size(col("lines")), lit(1)).cast("double")
    val lineOcc = transform(col("lines"),
      l => size(filter(col("lines"), x => x === l)))
    val metrics = bound.select(
      col(idCol),
      size(col("w")).cast("long").as("n_words"),
      (aggregate(col("w"), lit(0L), (a, t) => a + length(t)).cast("double") / nW)
        .as("mean_word_len"),
      (size(filter(col("w"), t => t.rlike("[A-Za-z]"))).cast("double") / nW)
        .as("alpha_word_frac"),
      size(array_intersect(
        array_distinct(transform(col("w"), t => lower(t))),
        typedlit(Stopwords))).cast("long").as("n_stopwords"),
      (size(filter(col("lines"), l => l.endsWith("...") || l.endsWith("…")))
        .cast("double") / nL).as("ellipsis_line_frac"),
      (size(filter(col("lines"), l =>
        l.startsWith("-") || l.startsWith("*") || l.startsWith("•")))
        .cast("double") / nL).as("bullet_line_frac"),
      (size(filter(lineOcc, o => o > 1)).cast("double") / nL).as("dup_line_frac"))
    // Rule names are emitted in array_sort order regardless of the
    // declaration order here, so adding a rule never reorders reasons.
    val rules: Seq[(String, Column)] = Seq(
      "too_few_words" -> (col("n_words") < cfg.minWords),
      "too_many_words" -> (col("n_words") > cfg.maxWords),
      "word_length" -> (col("mean_word_len") < cfg.minMeanWordLen ||
        col("mean_word_len") > cfg.maxMeanWordLen),
      "alpha_words" -> (col("alpha_word_frac") < cfg.minAlphaWordFrac),
      "stopword_diversity" -> (col("n_stopwords") < cfg.minDistinctStopwords),
      "ellipsis_lines" -> (col("ellipsis_line_frac") > cfg.maxEllipsisLineFrac),
      "bullet_lines" -> (col("bullet_line_frac") > cfg.maxBulletLineFrac),
      "duplicate_lines" -> (col("dup_line_frac") > cfg.maxDupLineFrac))
    val reasons = array_sort(filter(
      array(rules.map { case (n, c) => when(c, lit(n)) }: _*), r => r.isNotNull))
    metrics.select(
      col(idCol), col("n_words"),
      round(col("mean_word_len"), 4).as("mean_word_len"),
      round(col("alpha_word_frac"), 4).as("alpha_word_frac"),
      col("n_stopwords"),
      round(col("ellipsis_line_frac"), 4).as("ellipsis_line_frac"),
      round(col("bullet_line_frac"), 4).as("bullet_line_frac"),
      round(col("dup_line_frac"), 4).as("dup_line_frac"),
      (size(reasons) === 0).as("keep"),
      reasons.as("reasons"))
  }

  /** Hashing-trick term-frequency vectors — the vocabulary-free text
    * featurizer (Weinberger et al. 2009): each token hashes into one
    * of `dim` buckets and the document becomes a sparse count vector,
    * with no vocabulary build, no driver-side dictionary, and a fixed
    * output width any downstream model can rely on. Output:
    * (id, indices: array<int> ascending, values: array<long>) — the
    * standard sparse (indices, values) pair; absent buckets are zero.
    * Documents with null text or no tokens emit no row (an all-zero
    * vector carries no signal; left-join on id to materialize them).
    * Collisions are the technique's documented trade (two terms
    * sharing a bucket add their counts); size `dim` to the task.
    *
    * `hashMode`: "xxhash64" (default, codegen'd scale mode) or "md5"
    * (engine-reproducible gate mode — the first 8 md5 hex digits mod
    * `dim`, the same digit-for-digit convention as
    * [[graft.sampling.Sampling]]'s uniform hash).
    *
    * Plan shape: tokens explode map-side → ONE (id, bucket) count
    * aggregate (map-side partials collapse repeated terms before the
    * shuffle) → one id-keyed aggregate assembling the sparse arrays
    * from ≤dim rows per document. Nothing is ever vocabulary-sized:
    * both shuffles carry at most (documents × min(dim, distinct
    * terms)) rows regardless of corpus vocabulary. */
  def hashedTfVectors(df: DataFrame, textCol: String, idCol: String,
      dim: Int = 1024, hashMode: String = "xxhash64"): DataFrame =
    assembleSparse(hashedBucketCounts(df, textCol, idCol, dim, hashMode),
      idCol, col("tf"))

  /** The (id, bucket, tf) posting rows behind [[hashedTfVectors]] /
    * [[hashedTfIdfVectors]] — one map-side explode + ONE partial-agg
    * (id, bucket) count. */
  private def hashedBucketCounts(df: DataFrame, textCol: String,
      idCol: String, dim: Int, hashMode: String): DataFrame = {
    require(dim >= 2, s"dim must be >= 2: $dim")
    val bucket = hashMode match {
      case "xxhash64" => pmod(xxhash64(col("t")), lit(dim.toLong)).cast("int")
      case "md5" =>
        pmod(conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long"),
          lit(dim.toLong)).cast("int")
      case other => throw new IllegalArgumentException(
        s"unknown hashMode: $other (expected xxhash64 or md5)")
    }
    spread(df).filter(col(textCol).isNotNull)
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .select(col(idCol), bucket.as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("tf"))
  }

  /** Assemble (id, bucket, value) posting rows into the sparse
    * ascending (indices, values) pair. */
  private def assembleSparse(rows: DataFrame, idCol: String,
      value: Column): DataFrame =
    rows
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("bucket"), value.as("v")))).as("e"))
      .select(col(idCol),
        transform(col("e"), x => x.getField("bucket")).as("indices"),
        transform(col("e"), x => x.getField("v")).as("values"))

  /** [[hashedTfVectors]] with smoothed TF-IDF weights — the canonical
    * hashed featurizer: value = tf · (ln((N + 1)/(df + 1)) + 1) where
    * `df` is the number of documents whose text hits the BUCKET
    * (bucket-granular document frequency — collisions merge terms'
    * df exactly as they merge tf, the hashing trick's documented
    * semantics) and `N` counts documents with non-null text. `values`
    * are double.
    *
    * Plan: the same (id, bucket) partial-agg posting rows feed BOTH
    * the per-bucket df aggregate (≤dim rows, broadcast back — never a
    * bucket-partitioned window, the [[tfidfTerms]] reasoning) and the
    * weighted assembly; one extra tiny shuffle over the tf path. */
  def hashedTfIdfVectors(df: DataFrame, textCol: String, idCol: String,
      dim: Int = 1024, hashMode: String = "xxhash64"): DataFrame = {
    val counts = hashedBucketCounts(df, textCol, idCol, dim, hashMode)
    val nDocs = df.filter(col(textCol).isNotNull).count()
    val bucketDf = counts.groupBy("bucket").agg(count(lit(1)).as("df_count"))
    val weighted = counts.join(broadcast(bucketDf), Seq("bucket"))
      .select(col(idCol), col("bucket"),
        (col("tf") * (log((lit(nDocs) + 1.0) / (col("df_count") + 1.0)) + 1.0))
          .as("w"))
    assembleSparse(weighted, idCol, col("w"))
  }

  /** Language identification by marker-word counting: the language
    * whose marker words occur most often among the document's tokens
    * wins; ties break alphabetically; zero hits → "unknown".
    *
    * One traversal of the token array builds ALL per-language counters
    * in a single `aggregate` (a per-language `size(filter(...))` would
    * re-tokenize the document once per language — HOF lambdas
    * re-evaluate captured subtrees). The counts struct is materialized
    * in its own projection so the argmax reads a bound attribute. */
  def languageId(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withCounts = spread(df).select(col(idCol), langCountsExpr(col(textCol)).as("c"))
    withCounts.select(col(idCol), bestOf(LanguageMarkers.map(_._1),
        l => col("c").getField(l)).as("best"))
      .select(
        col(idCol),
        when(col("best.n") > 0, col("best.lang")).otherwise(lit("unknown")).as("lang_pred"),
        col("best.n").cast("long").as("marker_hits"))
  }

  /** Seed text per language for the char-n-gram language profiles:
    * each is a list of that language's most common function words —
    * public, fixed, deterministic. The PROFILE is the char-bigram
    * distribution of this text, so the classifier keys on
    * orthographic shape (th/er/de/qu/ç/ü/CJK codepoints …), not on
    * exact word hits — which is what lets it classify sentences that
    * contain none of [[LanguageMarkers]]'s five words. */
  val LanguageSeeds: Seq[(String, String)] = Seq(
    "de" -> ("der die das und ist nicht ein eine ich sie wir ihr haben sein " +
      "werden wurde können müssen sollen über für schön wäre gewesen zeit " +
      "jahr tag welt leben wasser sprache straße zwischen durch nach vor " +
      "bei mit von zu auf als auch noch schon immer wieder gegen ohne um"),
    "en" -> ("the and of to in is it you that he was for on are with as his " +
      "they be at one have this from or had by word but what some we can " +
      "out other were all there when up use your how said an each which " +
      "their time will about if then them would make like him into has"),
    "es" -> ("el la que de no a los se del las un por con una su para es al " +
      "lo como más pero sus le ya o este sí porque esta entre cuando muy " +
      "sin sobre también me hasta hay donde quien desde todo nos durante " +
      "todos uno les ni contra otros ese eso ante ellos e esto mí antes"),
    "fr" -> ("le de un être et à il avoir ne je son que se qui ce dans en du " +
      "elle au pour pas vous par sur faire plus dire me on mon lui nous " +
      "comme mais avec tout y aller voir bien où sans tu ou leur homme " +
      "si deux mari moi vouloir te femme venir quand grand celui aussi"),
    "zh" -> ("的 一 是 不 了 人 我 在 有 他 这 中 大 来 上 国 个 到 说 们 " +
      "为 子 和 你 地 出 道 也 时 年 得 就 那 要 下 以 生 会 自 着 去 之 " +
      "过 家 学 对 可 她 里 后 小 么 心 多 天 而 能 好 都 然 没 日 于 起"))

  /** Additive-smoothing constant and n-gram order for
    * [[languageIdNgram]] — fixed so the profiles are reproducible. */
  private val LangIdAlpha = 0.5
  private val LangIdN = 2

  /** Driver-built dense profile: for every char bigram in the union
    * vocabulary of all seeds, the per-language log-probability
    * `ln((count + α) / (total + α·V))`; plus each language's
    * out-of-vocabulary floor `ln(α / (total + α·V))`. Bounded by
    * construction (V ≈ hundreds); memoized per seed list so repeated
    * calls with the default (or any fixed custom) seeds build once. */
  private val langProfileCache =
    new java.util.concurrent.ConcurrentHashMap[
      Seq[(String, String)], (Seq[(String, Seq[Double])], Seq[Double])]()
  private def langProfiles(
      seeds: Seq[(String, String)]): (Seq[(String, Seq[Double])], Seq[Double]) =
    langProfileCache.computeIfAbsent(seeds, buildLangProfiles(_))
  private def buildLangProfiles(
      seeds: Seq[(String, String)]): (Seq[(String, Seq[Double])], Seq[Double]) = {
    val langs = seeds.map(_._1)
    val grams: Map[String, Map[String, Int]] = seeds.map {
      case (lang, seed) =>
        val s = seed.toLowerCase(java.util.Locale.ROOT)
        val gs = (0 to s.length - LangIdN).map(i => s.substring(i, i + LangIdN))
        lang -> gs.groupBy(identity).map { case (g, occ) => g -> occ.size }
    }.toMap
    val vocab = grams.values.flatMap(_.keys).toSeq.distinct.sorted
    val v = vocab.size
    val totals = langs.map(l => l -> grams(l).values.sum.toDouble).toMap
    val rows = vocab.map { g =>
      g -> langs.map { l =>
        math.log((grams(l).getOrElse(g, 0) + LangIdAlpha) /
          (totals(l) + LangIdAlpha * v))
      }
    }
    val floors = langs.map(l => math.log(LangIdAlpha / (totals(l) + LangIdAlpha * v)))
    (rows, floors)
  }

  /** Char-n-gram language identification — the statistical upgrade of
    * [[languageId]]: each document is scored against K per-language
    * bigram profiles (built from [[LanguageSeeds]], additive smoothing
    * over the union vocabulary) and labelled with the
    * max-log-likelihood language; ties break to the alphabetically
    * first language, documents with no grams → "unknown". Output:
    * (idCol, lang_pred, n_grams, avg_logp ∈ 4dp — the winning
    * language's mean per-gram log-probability).
    *
    * Plan shape: ONE corpus scan — doc bigrams explode map-side
    * (explode_outer keeps zero-gram documents as a null-gram row, so
    * no second spine scan) and partially aggregate to (id, gram, cnt);
    * one broadcast left join against the ≤V-row dense profile table;
    * per-language weighted sums partial-aggregate per document — the
    * only shuffle is the per-doc aggregate, and the document text
    * itself never shuffles. Scale-safe at any corpus size (the profile
    * is constant-sized). */
  def languageIdNgram(df: DataFrame, textCol: String, idCol: String,
      seeds: Seq[(String, String)] = LanguageSeeds): DataFrame = {
    require(seeds.nonEmpty, "need at least one language seed")
    require(seeds.map(_._1).distinct.size == seeds.size,
      s"duplicate language labels in seeds: ${seeds.map(_._1)}")
    val spark = df.sparkSession
    // scoring folds in sorted-label order so the documented
    // alphabetical tiebreak holds whatever order the caller passes
    val ordered = seeds.sortBy(_._1)
    val langs = ordered.map(_._1)
    val (profRows, floors) = langProfiles(ordered)
    // Row-built generically from the seed list — a fixed-arity tuple
    // here would compile for any seed count and then break at runtime
    // the day a language is added.
    val prof = {
      import org.apache.spark.sql.types._
      val schema = StructType(StructField("gram", StringType) +:
        langs.map(l => StructField(s"logp_$l", DoubleType, nullable = false)))
      spark.createDataFrame(
        profRows.map { case (g, lps) =>
          org.apache.spark.sql.Row.fromSeq(g +: lps)
        }.asJava, schema)
    }
    val docGrams = spread(df)
      .select(col(idCol),
        explode_outer(charNgrams(lower(col(textCol)), LangIdN)).as("gram"))
      .groupBy(idCol, "gram").agg(count(lit(1)).as("cnt"))
    val isReal = col("gram").isNotNull
    val scored = docGrams
      .join(broadcast(prof), Seq("gram"), "left")
      .groupBy(idCol)
      .agg(sum(when(isReal, col("cnt")).otherwise(lit(0L))).as("n_grams"),
        langs.zipWithIndex.map { case (l, i) =>
          sum(when(isReal,
            col("cnt") * coalesce(col(s"logp_$l"), lit(floors(i))))
            .otherwise(lit(0.0))).as(s"score_$l")
        }: _*)
    // deterministic argmax: fold in alphabetical order, strict > keeps
    // the earliest language on ties (same contract as languageId)
    val best = langs.tail.foldLeft(
      struct(col(s"score_${langs.head}").as("s"), lit(langs.head).as("lang"))) {
      case (acc, l) =>
        when(col(s"score_$l") > acc.getField("s"),
          struct(col(s"score_$l").as("s"), lit(l).as("lang"))).otherwise(acc)
    }
    scored.select(col(idCol), col("n_grams"), best.as("b"))
      .select(col(idCol),
        when(col("n_grams") > 0, col("b.lang")).otherwise(lit("unknown"))
          .as("lang_pred"),
        col("n_grams").cast("long").as("n_grams"),
        when(col("n_grams") > 0, round(col("b.s") / col("n_grams"), 4))
          .as("avg_logp"))
  }

  /** Per-language marker-hit counts as one struct, built in a single
    * traversal of the token array (see the capture note on
    * [[languageId]]). */
  private def langCountsExpr(txt: Column): Column = {
    val w = tokens(lower(txt))
    val zero = struct(LanguageMarkers.map { case (l, _) => lit(0).as(l) }: _*)
    aggregate(w, zero, (acc, t) =>
      struct(LanguageMarkers.map { case (lang, markers) =>
        (acc.getField(lang) +
          when(t.isin(markers.map(x => x: Any): _*), 1).otherwise(0)).as(lang)
      }: _*))
  }

  /** Deterministic argmax over named counters as struct(n, lang): fold
    * in the given order keeping the first strictly-highest entry — so
    * ties break to the earliest name. Shared by [[languageId]]
    * (alphabetical marker order) and [[sourceMixReport]] (sorted
    * label set). */
  private def bestOf(names: Seq[String], counter: String => Column): Column =
    names.tail.foldLeft(
      struct(counter(names.head).as("n"), lit(names.head).as("lang"))) {
      case (acc, name) =>
        when(counter(name) > acc.getField("n"),
          struct(counter(name).as("n"), lit(name).as("lang")))
          .otherwise(acc)
    }

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased
    * text. Identical content (modulo spacing/case) → identical
    * fingerprint; both Spark and DuckDB compute the same digest, so
    * this is oracle-checkable (unlike xxhash64, which is
    * Spark-internal). For scale work prefer [[contentHash64]]. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** 64-bit content hash for scale paths (shuffle keys, dedup):
    * xxhash64 is cheaper and collision-fine at row-key granularity. */
  def contentHash64(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  def fingerprints(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fingerprint"))

  /** Winnowing fingerprints (the rolling-hash document-fingerprint
    * scheme of the MOSS winnowing paper): hash every character k-gram
    * of the normalized text, slide a window of `w` consecutive k-gram
    * hashes, keep each window's minimum. Guarantee: any shared passage
    * of at least w + k - 1 characters contributes at least one common
    * fingerprint — the primitive for partial-overlap detection, which
    * whole-document similarity (Jaccard/SimHash) cannot see.
    *
    * Output: (id, fp) distinct fingerprint hashes per document.
    * Plan shape: ENTIRELY map-side until the final distinct — the
    * gram-hash + sliding-min + distinct inner loop is one native
    * [[graft.functions.WinnowingMins]] evaluation per row, and only
    * the per-document distinct minima are exploded. (Two earlier
    * formulations document the path here: exploding one row per
    * character k-gram with a `Window.partitionBy(id)` min — a
    * corpus-sized shuffle plus per-document sort — and then the
    * shuffle-free higher-order-function pipeline, whose interpreted
    * per-element lambdas and per-gram md5 allocations still dominated
    * the overlap-pairs gate query.)
    *
    * Winnowing needs any TOTAL ORDER on gram hashes, not a numeric
    * one: `md5` mode keeps the fingerprints as hex strings whose
    * lexicographic minima DuckDB reproduces bit-for-bit (both engines
    * compute identical md5 and compare ASCII identically) — the
    * engine-reproducible gate mode. `xxhash64` (default) is the scale
    * mode: fixed-width longs, cheaper to hash, shuffle, and compare.
    * Null texts produce no fingerprints. */
  def winnowingFingerprints(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, w: Int = 4, hashMode: String = "xxhash64"): DataFrame = {
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    spread(df).filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), norm.as("t"))
      .select(col("id"),
        explode(graft.functions.VectorFunctions.winnowingMins(col("t"), k, w, hashMode)).as("fp"))
  }

  /** WITHIN-document repetition statistics — the Gopher-style quality
    * signals (Rae et al. 2021, "Scaling Language Models", table A1)
    * that catch boilerplate/spam documents whole-corpus dedup cannot:
    * a document that repeats ITSELF.
    *
    * Per document (id):
    *   - `n_lines`, `dup_line_frac`: fraction of newline-separated
    *     lines whose trimmed content occurs more than once in the
    *     document (all occurrences count as duplicates);
    *   - `dup_line_char_frac`: characters inside those duplicated
    *     lines over total line characters;
    *   - `top_bigram_count`, `top_bigram_char_frac`: occurrences of
    *     the document's most frequent word bigram (ties broken
    *     lexicographically) and the characters it covers
    *     (count × bigram length) over total text characters;
    *   - `dup_bigram_char_frac`: characters covered by ALL occurrences
    *     of any repeated bigram over total text characters — the same
    *     all-occurrences convention as the line stats. Adjacent
    *     repeated bigrams overlap on their shared word, so the raw sum
    *     can exceed the text length; the fraction clamps at 1.0 (it is
    *     a repetition SIGNAL, not a partition of the text).
    *
    * Empty/whitespace documents yield zero fractions. All pure
    * map-side column expressions. Occurrence structure is read off
    * SORTED copies of the line/gram arrays (duplicates are adjacent;
    * the most frequent gram is the longest run, ties breaking to the
    * lexicographically smallest = first in sort order): one
    * O(n log n) array_sort plus O(n) adjacency/run folds per array,
    * replacing the original per-element count scans that made the
    * operator quadratic in the per-document line/gram COUNT (HOF
    * lambdas evaluate interpreted, so the O(G²) string comparisons
    * dominated the whole-corpus bench gate). Values are identical —
    * the multiset of lines/grams is unchanged by sorting. The sorted
    * arrays are BOUND to attributes before any lambda references
    * them: a higher-order-function lambda re-evaluates captured
    * subtrees per element (the capture hazard
    * [[graft.dedup.Dedup.wordShingles]] documents), which would
    * re-sort per element and reintroduce the quadratic. */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val r4 = (c: Column) => round(c, 4)
    val bound = spread(df).filter(col(textCol).isNotNull).select(
      col(idCol),
      col(textCol).as("t"),
      // Trimmed non-empty lines, bound ONCE.
      filter(transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "").as("lines"),
      tokens(lower(col(textCol))).as("w"))
    val grams = withBigrams(bound)
      .withColumn("lines_s", array_sort(col("lines")))
      .withColumn("grams_s", array_sort(col("grams")))
    val lineCount = size(col("lines"))
    // Per-position length-if-duplicated (-1 when unique): an element
    // of a SORTED array is duplicated iff it equals a neighbor. Both
    // arrays hold non-empty strings (length ≥ 1), so -1 is a safe
    // unique sentinel. `arr` must be a bound attribute (see above).
    def dupLens(arr: Column): Column =
      transform(arr, (x, i) =>
        when((i > 0 && x === element_at(arr, i)) ||
            (i < size(arr) - 1 && x === element_at(arr, i + 2)), length(x))
          .otherwise(lit(-1)))
    val dupLineLens = dupLens(col("lines_s"))
    val dupLineCount = size(filter(dupLineLens, v => v > 0))
    val dupLineChars = aggregate(dupLineLens, lit(0L),
      (acc, v) => acc + when(v > 0, v.cast("long")).otherwise(lit(0L)))
    val totalLineChars = aggregate(col("lines"), lit(0L), (acc, l) => acc + length(l))
    // Max by (count, then lexicographically smallest gram on ties):
    // run-length fold over the sorted grams. The smallest max-count
    // gram is reached FIRST in sort order, so replacing only on a
    // strictly longer run reproduces the documented tiebreak.
    val top = aggregate(col("grams_s"),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("n"), lit("").as("g")),
      (acc, g) => {
        val run = when(g === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(g.as("prev"), run.as("run"),
          when(run > acc.getField("n"), run).otherwise(acc.getField("n")).as("n"),
          when(run > acc.getField("n"), g).otherwise(acc.getField("g")).as("g"))
      })
    val dupGramChars = aggregate(dupLens(col("grams_s")), lit(0L),
      (acc, v) => acc + when(v > 0, v.cast("long")).otherwise(lit(0L)))
    grams.select(
      col(idCol),
      lineCount.cast("long").as("n_lines"),
      r4(coalesce(dupLineCount.cast("double") / nullif(lineCount, lit(0)), lit(0.0)))
        .as("dup_line_frac"),
      r4(coalesce(dupLineChars.cast("double") / nullif(totalLineChars, lit(0L)), lit(0.0)))
        .as("dup_line_char_frac"),
      top.getField("n").cast("long").as("top_bigram_count"),
      r4(coalesce((top.getField("n") * length(top.getField("g"))).cast("double") /
          nullif(length(col("t")).cast("long"), lit(0L)), lit(0.0)))
        .as("top_bigram_char_frac"),
      r4(least(lit(1.0), coalesce(dupGramChars.cast("double") /
          nullif(length(col("t")).cast("long"), lit(0L)), lit(0.0))))
        .as("dup_bigram_char_frac"))
  }

  /** Per-document occurrence counts of the patterns a pipeline
    * filters or redacts on: email addresses, URLs, and digit runs —
    * the DOCUMENT-granular companion of the profiler's column-level
    * P7 pass (which counts whole values matching the reference's
    * patterns; a free-text document instead contains such substrings).
    * Patterns are alternation-free greedy regexes on purpose: Java's
    * leftmost-first and RE2's leftmost-longest matching coincide on
    * them, so an oracle replays the counts exactly. Map-side
    * `regexp_count`, no UDFs. */
  def patternCounts(df: DataFrame, textCol: String, idCol: String): DataFrame =
    spread(df).filter(col(textCol).isNotNull).select(
      col(idCol),
      regexp_count(col(textCol),
        lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).cast("long")
        .as("email_count"),
      regexp_count(col(textCol), lit("https?://[^\\s]+")).cast("long")
        .as("url_count"),
      regexp_count(col(textCol), lit("[0-9]+")).cast("long")
        .as("digit_run_count"))

  /** Context-window chunking: split each document into token windows
    * of `maxTokens` with `overlap` tokens carried between consecutive
    * windows (stride = maxTokens − overlap) — the standard
    * long-document preparation for a fixed-context model. Emits one
    * row per chunk: (id, chunk_idx, chunk_text, n_tokens), chunk_idx
    * 0-based in document order; a document at or under `maxTokens`
    * yields exactly its own text as chunk 0, and the final window is
    * allowed to run short rather than re-reading extra overlap (no
    * chunk ever starts at or past the token count).
    *
    * Pure map-side: tokenization, window arithmetic, and the explode
    * all happen in one projection — no shuffle at any corpus size (the
    * row-count amplification is the operator's OUTPUT, ~n/stride rows
    * per document). The token array is bound to an attribute before
    * the per-window lambda slices it — a nested HOF lambda would
    * re-split the document once per chunk (the capture hazard
    * [[repetitionStats]] documents). Null texts yield no chunks. */
  def chunk(
      df: DataFrame, textCol: String, idCol: String,
      maxTokens: Int = 512, overlap: Int = 0): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1: $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens): $overlap")
    val stride = maxTokens - overlap
    val bound = spread(df).filter(col(textCol).isNotNull)
      .select(col(idCol), tokens(col(textCol)).as("w"))
    val n = size(col("w"))
    // Chunking stops at the first window that reaches the end of the
    // document: ceil((n − maxTokens) / stride) + 1 windows (a start at
    // or past the end would only re-emit overlap already covered).
    val nChunks = when(n <= maxTokens, lit(1))
      .otherwise(ceil((n - lit(maxTokens)).cast("double") / stride).cast("int") + 1)
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(col("w"), i * stride + 1, lit(maxTokens))))
    bound.select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_tokens",
        (size(split(col("chunk_text"), " "))).cast("long"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"), col("n_tokens"))
  }

  /** The default redaction table: the same alternation-free greedy
    * patterns [[patternCounts]] counts (Java leftmost-first and RE2
    * leftmost-longest coincide on them, so redacted output is
    * engine-reproducible), each mapped to a typed placeholder.
    * Order matters and is applied as listed: emails and URLs are
    * rewritten BEFORE digit runs, so an address's or link's own digits
    * never get re-redacted into nested placeholders (the placeholders
    * themselves contain no digits). */
  val DefaultRedactions: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^\\s]+" -> "<URL>",
    "[0-9]+" -> "<NUMBER>")

  /** PII/pattern redaction: every match of each pattern replaced by
    * its placeholder, patterns applied in order over the whole
    * document. Returns the input frame with `textCol` REPLACED (schema
    * otherwise unchanged), so it drops into a pipeline between any two
    * stages. Pure map-side fold of codegen'd `regexp_replace` calls —
    * no shuffle, no UDFs; at 100 TB this is a free rider on whatever
    * scan already reads the text column. Null texts stay null. */
  def redact(
      df: DataFrame, textCol: String,
      redactions: Seq[(String, String)] = DefaultRedactions): DataFrame = {
    val redacted = redactions.foldLeft(col(textCol)) {
      case (c, (pattern, placeholder)) => regexp_replace(c, lit(pattern), lit(placeholder))
    }
    df.withColumn(textCol, redacted)
  }

  /** Corpus-level frequent n-grams — the boilerplate detector: the
    * `k` token n-grams occurring in the most DOCUMENTS (document
    * frequency, the dedup-relevant notion: a gram repeated inside one
    * spammy document is [[repetitionStats]]'s business, a gram shared
    * by thousands of documents is template boilerplate), with
    * deterministic order (df_count desc, then gram). Feeds removal
    * rules and explains what the dedup caps are colliding on.
    *
    * Plan shape: distinct grams per document ([[graft.dedup.Dedup.wordShingles]])
    * explode map-side into the ONE shuffle — a partially-aggregated
    * count per gram (tiny after map-side combine whenever boilerplate
    * is actually frequent) — and the top-k is a TakeOrdered (per-
    * partition heap + driver merge of k rows), never a full sort. At
    * extreme corpus scale swap gram strings for hashes on the shuffle
    * key and join the winners back for display; at the scales where a
    * human reads this report, strings-on-the-wire is the right trade. */
  def topNgrams(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 20, minCount: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(k >= 1, s"k must be >= 1: $k")
    spread(df).filter(col(textCol).isNotNull)
      .select(explode(graft.dedup.Dedup.wordShingles(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") >= minCount)
      .orderBy(col("df_count").desc, col("gram"))
      .limit(k)
  }

  /** Corpus-wide character n-gram counts — the model half of
    * [[lmScore]]: one row per distinct n-gram with its occurrence
    * count. Unlike word n-grams, the char-n-gram keyspace is bounded
    * by charset^n (not corpus size), so the groupBy collapses under
    * map-side combine to at most that cardinality per partition
    * regardless of corpus scale. Persist this frame to score several
    * corpora (or several epochs) against one model via
    * [[lmScoreFromCounts]]. */
  def charNgramCounts(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    spread(df).filter(col(textCol).isNotNull)
      .select(explode(charNgrams(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("gram_count"))
  }

  /** Corpus character-n-gram LM quality scoring — the CCNet-style
    * perplexity filter re-expressed corpus-relative (no external model
    * file): every document is scored by the average log-probability of
    * its char n-grams under the corpus's own unigram-of-n-grams
    * distribution, truncated to the `vocabSize` most frequent grams
    * (ties break on the gram string, so the vocabulary is
    * deterministic); grams outside the vocabulary score at the
    * `floorCount` pseudo-count. Documents full of rare/garbled
    * character sequences (mojibake, base64 blobs, ocr noise) score low
    * = high perplexity; fluent prose in the corpus's dominant script
    * scores high. Output per document: (idCol, n_grams, oov_grams,
    * avg_logp, perplexity = exp(-avg_logp)); documents with no grams
    * (null or shorter than n) keep their row with n_grams = 0 and null
    * scores.
    *
    * Plan shape: the model build is [[charNgramCounts]]'s bounded
    * shuffle; scoring explodes grams map-side into a BROADCAST join
    * against the vocabulary (≤ vocabSize rows) and the 1-row total,
    * then partially aggregates per document before the one per-doc
    * shuffle — document text itself never shuffles. The corpus is
    * scanned twice (model + scoring); pass a persisted counts frame to
    * [[lmScoreFromCounts]] to amortize the model across runs. */
  def lmScore(
      df: DataFrame, textCol: String, idCol: String, n: Int = 3,
      vocabSize: Int = 4096, floorCount: Double = 0.5): DataFrame =
    lmScoreFromCounts(df, textCol, idCol, charNgramCounts(df, textCol, n),
      n, vocabSize, floorCount)

  /** [[lmScore]] against an already-computed [[charNgramCounts]] frame
    * — the shared-model path (one model, many corpora/epochs). The
    * counts frame must carry (gram, gram_count); n must match the gram
    * length the counts were built with. */
  def lmScoreFromCounts(
      df: DataFrame, textCol: String, idCol: String, counts: DataFrame,
      n: Int = 3, vocabSize: Int = 4096, floorCount: Double = 0.5): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    require(floorCount > 0, s"floorCount must be > 0: $floorCount")
    val missing = Seq("gram", "gram_count").filterNot(counts.columns.contains)
    require(missing.isEmpty,
      s"counts frame must carry columns (gram, gram_count) — missing " +
        s"${missing.mkString(", ")}; pass the frame produced by charNgramCounts")
    val topv = counts.orderBy(col("gram_count").desc, col("gram")).limit(vocabSize)
    val total = counts.agg(sum(col("gram_count")).cast("double").as("lm_total_count"))
    val scored = spread(df).filter(col(textCol).isNotNull)
      .select(col(idCol), explode(charNgrams(col(textCol), n)).as("gram"))
      .join(broadcast(topv), Seq("gram"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        col("gram_count").isNull.cast("long").as("oov"),
        log(coalesce(col("gram_count").cast("double"), lit(floorCount)) /
          col("lm_total_count")).as("logp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), sum("oov").as("oov_grams"),
        sum("logp").as("slogp"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("oov_grams"), lit(0L)).as("oov_grams"),
        round(col("slogp") / col("n_grams"), 4).as("avg_logp"),
        round(exp(-col("slogp") / col("n_grams")), 4).as("perplexity"))
  }

  /** Snapshot diff between two corpus versions — the incremental-
    * curation ledger (what did the new crawl/cleanup pass actually
    * do?): one row per document id present in either version, with
    * `status` ∈ added | removed | changed | unchanged, where changed
    * vs unchanged compares the normalized content [[fingerprint]]
    * (null-safe: a document with null text in both versions is
    * unchanged). One full-outer join on the id — at 100 TB both sides
    * shuffle 16-byte digests, never text; feed the output's `status`
    * counts to a report, or anti-join `removed`/`changed` ids to
    * invalidate downstream artifacts (signatures, embeddings, packed
    * shards) incrementally instead of rebuilding them. */
  def corpusDiff(
      before: DataFrame, after: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val b = spread(before).select(col(idCol).as("id"),
      fingerprint(col(textCol)).as("fpb"), lit(1).as("pb"))
    val a = spread(after).select(col(idCol).as("id"),
      fingerprint(col(textCol)).as("fpa"), lit(1).as("pa"))
    b.join(a, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("pb").isNull, "added")
          .when(col("pa").isNull, "removed")
          .when(col("fpb") <=> col("fpa"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** All character n-grams of a text column in position order, as
    * array<string>; null text and texts shorter than n yield an empty
    * array. Positions are code points, as in `length`/`substr`. One
    * native pass per document ([[graft.functions.CharNgrams]]). */
  def charNgrams(text: Column, n: Int): Column =
    graft.functions.VectorFunctions.charNgrams(text, n)

  /** Per-source corpus mixture report — the dashboard a mixture /
    * curation decision reads before weighting sources (feeds
    * [[graft.sampling.BudgetSelect]] weights): one row per value of
    * `sourceCol` with document count, total chars/tokens, mean
    * composite quality, the fraction of documents whose normalized
    * fingerprint appears more than once CORPUS-WIDE (cross-source
    * duplication attributed to each source), and the source's dominant
    * predicted language with its share (ties break to the
    * lexicographically first label). Rows with null text are excluded.
    *
    * Plan shape: one text scan computes fingerprint + quality + lang
    * counts map-side into fixed-width per-doc rows; the dup flag
    * comes from a partial-aggregated `groupBy(fp).count()` (a
    * fingerprint-only second scan — column pruning drops the quality/
    * lang work from that branch) joined back on the fingerprint —
    * deliberately NOT a count window partitioned by fp: a corpus
    * flooded with one duplicated document would buffer the whole hot
    * fingerprint on ONE window task (and drag the text column through
    * that shuffle), while the partial aggregate collapses the hot fp
    * map-side and the join back streams it (one build row per fp; AQE
    * can split the skewed partition). The final aggregate collapses
    * per source under map-side combine with per-language counts as
    * fixed columns (the label set is a compile-time constant, so the
    * dominant language needs NO second shuffle). Text never leaves
    * the map side. */
  def sourceMixReport(df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val langs = (LanguageMarkers.map(_._1) :+ "unknown").sorted
    // Staged selects, not withColumn: the counts struct and the argmax
    // must read BOUND attributes (the capture note on [[languageId]] —
    // a collapsed projection would re-run the counts traversal once
    // per field reference).
    val fpCounts = spread(df).filter(col(textCol).isNotNull)
      .select(fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg((count(lit(1)) > 1).cast("double").as("is_dup"))
    val perDoc = spread(df).filter(col(textCol).isNotNull)
      .select(col(sourceCol).as("source"), col(textCol).as("t"),
        fingerprint(col(textCol)).as("fp"))
      .select(col("source"), col("fp"),
        length(col("t")).cast("long").as("chars"),
        size(tokens(col("t"))).cast("long").as("toks"),
        qualityScoreExpr(col("t")).as("quality"),
        langCountsExpr(col("t")).as("c"))
      .select(col("source"), col("fp"), col("chars"), col("toks"), col("quality"),
        bestOf(LanguageMarkers.map(_._1), l => col("c").getField(l)).as("best"))
      .select(col("source"), col("fp"), col("chars"), col("toks"), col("quality"),
        when(col("best.n") > 0, col("best.lang")).otherwise(lit("unknown")).as("lang"))
      .join(fpCounts, Seq("fp"))
      .drop("fp")
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum("chars").as("total_chars"),
      sum("toks").as("total_tokens"),
      avg("quality").as("avg_q"),
      avg("is_dup").as("dup_f")) ++
      langs.map(l => sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"n_$l"))
    perDoc.groupBy("source").agg(aggs.head, aggs.tail: _*)
      .withColumn("top", bestOf(langs, l => col(s"n_$l")))
      .select(col("source"), col("n_docs"), col("total_chars"), col("total_tokens"),
        round(col("avg_q"), 4).as("avg_quality"),
        round(col("dup_f"), 4).as("dup_fraction"),
        col("top.lang").as("top_lang"),
        round(col("top.n").cast("double") / col("n_docs"), 4).as("top_lang_fraction"))
  }

  private def tokenized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    spread(df).filter(col(textCol).isNotNull)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("w"))

  /** URL canonicalization for web corpora — the key the crawl-dedup
    * and domain-mixing steps group on (the same page arrives as
    * `HTTPS://Www.X.com:443/p?utm_source=a#top` and
    * `https://www.x.com/p`). Output: (id, scheme, host, normalized)
    * where `normalized` lowercases scheme and host, strips userinfo,
    * default ports (80/443 for their schemes), tracking parameters
    * (utm_*, fbclid, gclid), dangling query separators, and the
    * fragment. Path and meaningful query parameters are preserved
    * byte-for-byte — over-normalizing merges distinct pages, which is
    * worse than missing a dup.
    *
    * Pure map-side regexp chain (codegen'd, no UDF); each pattern is
    * a single anchored or parameter-scoped expression that matches
    * identically under Java regex and RE2, so an external engine
    * replays the canonicalization byte-for-byte. */
  def urlFeatures(df: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val url = trim(col(urlCol))
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_replace(
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1),
      "^[^@]*@", ""))
    val host = regexp_replace(hostport, ":[0-9]+$", "")
    val defaultPort = (scheme === "https" && hostport.endsWith(":443")) ||
      (scheme === "http" && hostport.endsWith(":80"))
    val cleanHostport = when(defaultPort, host).otherwise(hostport)
    // Everything after the authority, fragment dropped.
    val tail0 = regexp_replace(
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1), "#.*$", "")
    // Tracking params out (one pattern per family — no alternation).
    // Each family is anchored to a parameter boundary `[?&]` (kept via
    // the capture) so a legitimate param that merely EMBEDS a tracking
    // name — `?xutm_source=1` — is never touched; RE2 has no
    // lookbehind, so the boundary must be consumed-and-restored rather
    // than asserted. Separator runs left behind by adjacent strips
    // (`?&&`) collapse in the tidy pass.
    val tail = Seq("utm_[A-Za-z0-9_]*", "fbclid", "gclid")
      .foldLeft(tail0)((t, p) => regexp_replace(t, s"([?&])$p=[^&#]*", "$1"))
    val tidied = regexp_replace(regexp_replace(regexp_replace(
      tail, "&&+", "&"), "\\?&", "?"), "[?&]$", "")
    df.filter(col(urlCol).isNotNull)
      .select(col(idCol), scheme.as("scheme"), host.as("host"),
        when(scheme === "", url) // not a URL: pass through untouched
          .otherwise(concat(scheme, lit("://"), cleanHostport, tidied))
          .as("normalized"))
  }

  /** Per-document top-k characteristic terms by TF-IDF — the keyword/
    * topic surface of a corpus profile (what distinguishes THIS
    * document from the corpus). Smoothed sklearn-style idf:
    * ln((N + 1) / (df + 1)) + 1, score = tf · idf. Output:
    * (id, term, tf, df_count, score, rank) for each document's top k
    * terms in (score desc, term) order.
    *
    * Plan shape: tokens explode once → ONE (id, term) count aggregate
    * (tf, map-side partials); term document frequency is a SECOND
    * partial aggregate of those posting rows grouped by term, joined
    * back on term — deliberately NOT a count window partitioned by
    * term: a stop-word-grade term appears in essentially every
    * document, so at corpus scale a term-keyed window would buffer
    * O(n_docs) posting rows on ONE task, while the partial aggregate
    * collapses the hot term map-side and the join back streams the
    * skewed term (one build row per term; AQE can split the skewed
    * partition). The df branch recomputes the posting lineage — a
    * second scan is the price of skew-proofness; persist the source
    * upstream if scanning dominates. The top-k window then partitions
    * by DOCUMENT, so its sort is per-id, never global. */
  def tfidfTerms(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val termCounts = tokenized(df, textCol, idCol)
      .select(col(idCol), explode(col("w")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = df.filter(col(textCol).isNotNull).count()
    val docFreq = termCounts.groupBy("term").agg(count(lit(1)).as("df_count"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    termCounts
      .join(docFreq, Seq("term"))
      .withColumn("score",
        col("tf") * (log((lit(nDocs) + 1.0) / (col("df_count") + 1.0)) + 1.0))
      .withColumn("rank", row_number().over(byDoc))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df_count"),
        col("score"), col("rank"))
  }

  /** Class-based TF-IDF top-k terms — BERTopic's c-TF-IDF shape
    * (Grootendorst 2022, arXiv:2203.05794 §2.3) generalized to ANY
    * label column: the class plays the document's role, so tf(c, t) is
    * t's total occurrences across class c's documents and the idf base
    * is the number of CLASSES (same smoothed sklearn idf as
    * [[tfidfTerms]], `ln((C + 1)/(df + 1)) + 1`). The result — each
    * class's most characteristic terms — is the "describe my clusters
    * / sources / languages" report a curation decision reads next to
    * [[sourceMixReport]]. Pair with
    * [[graft.similarity.Similarity.clusterTopTerms]] for semantic
    * clusters. Output: (classCol, term, tf, df_count, score, rank ≤ k),
    * rank ordered (score desc, term) per class; null-class rows group
    * under a real null row.
    *
    * Idf-base semantic (fixed): the class count is the number of
    * DISTINCT class labels holding at least one token — derived from
    * the aggregated (class, term) frame itself, so a class whose
    * documents are all null or tokenless is not counted (it
    * contributes no terms, so it cannot dilute anything), and a NULL
    * label counts as one real class, exactly as it groups in the
    * output.
    *
    * Plan shape: ONE corpus scan — the (class, term) partial-agg count
    * (map-side combine collapses each class's Zipfian term mass) is
    * the only corpus-sized exchange, and all three consumers (term
    * counts, per-term class df, the 1-row class-count used as the idf
    * base) reuse that exchange; the class count rides a broadcast, not
    * a separate driver action. The per-class top-k is a rank window
    * whose `rank <= k` filter Catalyst rewrites into a PARTIAL window
    * group limit (InferWindowGroupLimit): each task keeps ≤ k rows per
    * class BEFORE the class shuffle, so a hot class's vocabulary never
    * funnels through one reducer. */
  def classTfidfTerms(df: DataFrame, textCol: String, classCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val termCounts = tokenized(df, textCol, classCol)
      .select(col(classCol), explode(col("w")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(classCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // idf base = distinct classes with >= 1 token, null label included
    // (count(lit(1)) over the distinct frame — countDistinct would
    // silently drop the null class the output groups under).
    val nClasses = termCounts.select(col(classCol)).distinct()
      .agg(count(lit(1)).as("__n_classes"))
    val docFreq = termCounts.groupBy("term").agg(count(lit(1)).as("df_count"))
    val byClass = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol))
      .orderBy(col("score").desc, col("term"))
    termCounts
      .join(docFreq, Seq("term"))
      .crossJoin(broadcast(nClasses))
      .withColumn("score",
        col("tf") * (log((col("__n_classes") + 1.0) / (col("df_count") + 1.0)) + 1.0))
      .withColumn("rank", row_number().over(byClass))
      .filter(col("rank") <= k)
      .select(col(classCol), col("term"), col("tf"), col("df_count"),
        col("score"), col("rank"))
  }

  /** Corpus boilerplate patterns: word n-grams whose DOCUMENT
    * frequency reaches `minDocFreq` — the shared headers, footers,
    * cookie banners, and license blurbs of a web corpus. One row per
    * frequent gram: (gram, df_count), the removal set [[stripBoilerplate]]
    * consumes and the report a curation decision reads. Unlike
    * [[topNgrams]] this is threshold-complete (no top-k cap) and
    * counts only full n-grams (no short-document fallback), so the
    * pattern set is exactly what the stripper can match.
    *
    * Plan shape: grams dedupe per document map-side (array_distinct
    * over the row-local gram array, BEFORE the explode — document
    * identity is the row, so the corpus-sized (id, gram) distinct
    * shuffle the naive formulation pays is unnecessary), then ONE
    * partially-aggregated count per gram; the `df_count >= minDocFreq`
    * filter lands on the aggregate. Output size is bounded by
    * construction — a gram must recur in minDocFreq documents to
    * survive, so the result is broadcastable (which is exactly how
    * [[stripBoilerplate]] uses it). At extreme scale swap gram strings
    * for xxhash64 on the shuffle key as in
    * [[graft.dedup.Dedup.shingleHashes]].
    *
    * PRECONDITION — one row per document: document identity is the
    * physical row (the map-side `array_distinct` is the per-document
    * dedup), so a corpus storing one document as several rows under a
    * shared `idCol` counts a gram once per CHUNK, inflating df_count
    * and changing which grams pass `minDocFreq`. Pre-aggregate chunked
    * corpora (e.g. `concat_ws` the chunks per id) before calling;
    * `idCol` itself only names the column [[tokenized]] carries
    * through and does not group. */
  def frequentGrams(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minDocFreq: Int = 5): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(minDocFreq >= 2, s"minDocFreq must be >= 2: $minDocFreq")
    val nw = size(col("w"))
    val grams = when(nw >= n, array_distinct(transform(
        sequence(lit(1), nw - (n - 1)),
        i => concat_ws(" ", slice(col("w"), i, lit(n))))))
      .otherwise(array().cast("array<string>"))
    tokenized(df, textCol, idCol)
      .select(explode(grams).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") >= minDocFreq)
  }

  /** Frequent-span boilerplate removal (the RefinedWeb / "Deduplicating
    * Training Data Makes Language Models Better" exact-substring pass,
    * word-granular): every position covered by ANY occurrence of a
    * corpus-frequent word n-gram ([[frequentGrams]]) is dropped, and
    * the surviving words are rejoined in order. Overlapping matches
    * union (a 5-word span matched by two overlapping trigrams is
    * removed whole), so removal is idempotent on the pattern set.
    * Output per document: (idCol, clean_text, n_words, n_removed);
    * fully-boilerplate documents keep their row with clean_text = ""
    * (drop them with a trivial filter — the row is the evidence).
    * Whitespace is normalized to single spaces as in [[fingerprint]].
    *
    * Plan shape: two corpus scans (pattern mine + strip), THREE
    * shuffles total, and neither document text NOR gram strings ever
    * materialize or shuffle: both passes run on the native
    * [[graft.functions.ShingleHashStarts]] expression — one seed-42
    * XXH64 per gram over the normalized text's shared byte buffer
    * (array index = start position), so frequency mining counts
    * 8-byte hashes (≡ string mining modulo 64-bit collisions, the
    * [[graft.dedup.Dedup.shingleHashes]] argument) and the bounded
    * frequent-hash set BROADCASTS into the match pass (map-side hash
    * join on longs — no shuffle to find match sites). Matched starts
    * expand to covered positions and collapse to one int-set row per
    * document (shuffle 2, ints only), and a left join back to the
    * tokens frame on the id (shuffle 3) feeds a row-local rebuild:
    * `array_except(sequence, covered)` is hash-set membership in one
    * pass, order-preserving, so the rebuild is O(words), not
    * O(words × covered). Measured on 200k×60-word docs at local[32]:
    * 36.3 s for the gram-string formulation, 10.1 s hashed. */
  def stripBoilerplate(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minDocFreq: Int = 5): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(minDocFreq >= 2, s"minDocFreq must be >= 2: $minDocFreq")
    val base = tokenized(df, textCol, idCol)
    val starts = spread(df).filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(graft.functions.VectorFunctions.shingleHashStarts(
          regexp_replace(trim(col(textCol)), "\\s+", " "), n)).as(Seq("p0", "h")))
    val freqHashes = starts.select(col(idCol), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") >= minDocFreq)
    val covered = starts
      .join(broadcast(freqHashes.select("h")), "h")
      .select(col(idCol), explode(sequence(col("p0") + 1, col("p0") + n)).as("p"))
      .groupBy(idCol).agg(collect_set("p").as("cov"))
    val nw = size(col("w"))
    base.join(covered, Seq(idCol), "left")
      .withColumn("cov", coalesce(col("cov"), array().cast("array<int>")))
      .withColumn("kept", array_except(sequence(lit(1), nw), col("cov")))
      .select(col(idCol),
        concat_ws(" ", transform(col("kept"), p => element_at(col("w"), p))).as("clean_text"),
        nw.cast("long").as("n_words"),
        (nw - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Binds the word-bigram array as its own attribute (see the lambda
    * capture note on [[repetitionStats]]). */
  private def withBigrams(bound: DataFrame): DataFrame = {
    val n = size(col("w"))
    val pairs = arrays_zip(
      slice(col("w"), lit(1), greatest(n - 1, lit(0))).as("a"),
      slice(col("w"), lit(2), greatest(n - 1, lit(0))).as("b"))
    bound.withColumn("grams",
      when(n >= 2, transform(pairs,
        s => concat_ws(" ", s.getField("a"), s.getField("b"))))
        .otherwise(array().cast("array<string>")))
  }
}
