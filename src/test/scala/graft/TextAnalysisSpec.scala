package graft

import org.apache.spark.sql.{Row, functions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.text.TextAnalysis

/** Unit tests for the LLM-pipeline text operators: token stats,
  * quality scoring, language ID, and fingerprints. All operators are
  * pure column expressions — these tests pin their hand-computable
  * values on tiny DataFrames.
  */
class TextAnalysisSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("tokenStats: whitespace tokens, BPE-ish tokens, char count") {
    val df = docs((1L, "Hello world, it is sunny."))
    val r = TextAnalysis.tokenStats(df, "text", "doc_id").head()
    r.getAs[Long]("n_chars") shouldBe 25L
    r.getAs[Long]("n_tokens_ws") shouldBe 5L
    // BPE-ish: Hello|world|,|it|is|sunny|. → 7 runs.
    r.getAs[Long]("n_tokens_bpe") shouldBe 7L
    // avg word len: (5+6+2+2+6)/5 = 4.2 (punct stays attached to ws tokens).
    r.getAs[Double]("avg_word_len") shouldBe 4.2
  }

  test("tokenStats: multiple whitespace runs collapse; empty-ish text safe") {
    val df = docs((1L, "a  b\t c"), (2L, "   "))
    val rows = TextAnalysis.tokenStats(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    rows(0).getAs[Long]("n_tokens_ws") shouldBe 3L
    // trim("   ") = "" → split yields one empty token; guarded avg.
    noException should be thrownBy rows(1).getAs[Double]("avg_word_len")
  }

  test("qualityScore: prose scores higher than symbol soup") {
    val prose = "the quick brown fox jumps over the lazy dog and it is fine " * 3
    val soup = "@@@ ### !!! %%% ^^^ &&& *** ((( ))) ___"
    val df = docs((1L, prose), (2L, soup))
    val byId = TextAnalysis.qualityScore(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val proseScore = byId(1L).getAs[Double]("quality_score")
    val soupScore = byId(2L).getAs[Double]("quality_score")
    proseScore should be > soupScore
    byId(2L).getAs[Double]("punct_ratio") should be > 0.5
    byId(1L).getAs[Double]("stopword_ratio") should be > 0.2
  }

  test("qualityScore: digit ratio isolates numeric text") {
    val df = docs((1L, "123456 7890"))
    val r = TextAnalysis.qualityScore(df, "text", "doc_id").head()
    r.getAs[Double]("digit_ratio") shouldBe (10.0 / 11.0 +- 0.001)
  }

  test("languageId: marker words pick the language; zero hits → unknown") {
    val df = docs(
      (1L, "the cat and the dog of the house"),
      (2L, "der Hund ist nicht die Katze und"),
      (3L, "el perro que vive en la casa los dias"),
      (4L, "qwerty zxcvb 12345"))
    val out = TextAnalysis.languageId(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    out(1L) shouldBe "en"
    out(2L) shouldBe "de"
    out(3L) shouldBe "es"
    out(4L) shouldBe "unknown"
  }

  test("languageId ties break to the alphabetically first language") {
    // "die" is a de marker; "the" an en marker → 1 hit each → de wins.
    val df = docs((1L, "die the"))
    TextAnalysis.languageId(df, "text", "doc_id")
      .head().getAs[String]("lang_pred") shouldBe "de"
  }

  test("fingerprint normalizes case and whitespace") {
    val df = docs(
      (1L, "Hello   World"),
      (2L, "  hello world "),
      (3L, "hello worlds"))
    val fps = TextAnalysis.fingerprints(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint")).toMap
    fps(1L) shouldBe fps(2L)
    fps(1L) should not be fps(3L)
  }

  test("winnowing: identical texts share all fingerprints; case/space-normalized") {
    val df = docs(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "The  quick brown fox jumps over the lazy dog near the river bank"))
    val fps = graft.text.TextAnalysis.winnowingFingerprints(df, "text", "doc_id")
      .collect().groupBy(_.getAs[Long]("id")).view.mapValues(_.map(_.getAs[Long]("fp")).toSet).toMap
    fps(1L) shouldBe fps(2L)
    fps(1L).size should be > 3
  }

  test("winnowing guarantee: a shared passage yields shared fingerprints") {
    val passage = "this exact shared passage is long enough to leave fingerprints behind"
    val df = docs(
      (1L, s"unique preamble alpha beta gamma $passage and a unique tail one"),
      (2L, s"completely different opening words $passage with another distinct ending"),
      (3L, "nothing in common with either document at all whatsoever in any way"))
    val fps = graft.text.TextAnalysis.winnowingFingerprints(df, "text", "doc_id")
      .collect().groupBy(_.getAs[Long]("id")).view.mapValues(_.map(_.getAs[Long]("fp")).toSet).toMap
    (fps(1L) intersect fps(2L)).size should be > 1
    (fps(1L) intersect fps(3L)).size shouldBe 0
  }

  test("winnowing: null texts produce no fingerprint rows") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some("a real document with enough text to fingerprint")),
      (2L, Option.empty[String])).toDF("doc_id", "text")
    val fps = graft.text.TextAnalysis.winnowingFingerprints(df, "text", "doc_id").collect()
    fps.map(_.getAs[Long]("id")).toSet shouldBe Set(1L)
    all(fps.map(r => r.isNullAt(r.fieldIndex("fp")))) shouldBe false
  }

  test("winnowingMins is value-identical to the HOF formulation, both hash modes") {
    val s = spark
    import s.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "short",
      "",
      "exactly8",
      "naïve café déjà-vu — unicode résumé ﬁ ligature text",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", // repeated content → heavy dedup
      "a b a b a b a b a b a b a b a b")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for (mode <- Seq("xxhash64", "md5")) {
      // The replaced formulation, verbatim: k-gram hashes via substr,
      // sliding array_min over slices, array_distinct.
      val k = 8
      val w = 4
      val gramHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (mode == "md5") md5(_) else xxhash64(_)
      val hashed = df.select(col("id"),
        transform(
          sequence(lit(1), greatest(org.apache.spark.sql.functions.length(col("t")) - (k - 1), lit(1))),
          i => gramHash(col("t").substr(i, lit(k)))).as("hs"))
      val mins = transform(sequence(lit(1), org.apache.spark.sql.functions.size(col("hs"))),
        i => array_min(slice(col("hs"), i, lit(w))))
      val legacy = hashed.select(col("id"), array_distinct(mins).as("fps"))
        .orderBy("id").collect().map(_.getSeq[Any](1)).toSeq
      val native = df.select(col("id"),
          graft.functions.VectorFunctions.winnowingMins(col("t"), k, w, mode).as("fps"))
        .orderBy("id").collect().map(_.getSeq[Any](1)).toSeq
      withClue(s"mode=$mode: ") { native shouldBe legacy }
    }
  }

  test("contentHash64 agrees with fingerprint on equality structure") {
    val df = docs((1L, "A  b"), (2L, "a b"), (3L, "ab"))
    val hs = df.select(TextAnalysis.contentHash64(df("text")).as("h"))
      .collect().map { case Row(h: Long) => h }
    hs(0) shouldBe hs(1)
    hs(0) should not be hs(2)
  }

  test("repetitionStats: duplicate-line and top-bigram fractions on hand-computed docs") {
    val df = docs(
      // 4 lines: "a b" ×2 duplicated (3 chars each), "c d", "e f".
      // Bigrams of "a b a b c d e f": "a b"×2,"b a","b c","c d","d e","e f" → top "a b" n=2.
      (1L, "a b\na b\nc d\ne f"),
      // No duplicate lines; every bigram unique → top count 1,
      // lexicographic tiebreak picks "alpha beta".
      (2L, "alpha beta\ngamma delta"),
      // Single word: no bigrams; one line.
      (3L, "solo"),
      // Whitespace-only: zero lines, zero everything.
      (4L, "   "))
    val rows = TextAnalysis.repetitionStats(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    rows(1L).getAs[Long]("n_lines") shouldBe 4L
    rows(1L).getAs[Double]("dup_line_frac") shouldBe 0.5 // 2 of 4 lines duplicated
    rows(1L).getAs[Double]("dup_line_char_frac") shouldBe 0.5 // 6 of 12 line chars
    rows(1L).getAs[Long]("top_bigram_count") shouldBe 2L
    // "a b" (3 chars) × 2 over 15 total chars (incl. newlines).
    rows(1L).getAs[Double]("top_bigram_char_frac") shouldBe 0.4
    // The only repeated bigram is "a b" → same 6 chars over 15.
    rows(1L).getAs[Double]("dup_bigram_char_frac") shouldBe 0.4
    rows(2L).getAs[Double]("dup_bigram_char_frac") shouldBe 0.0

    rows(2L).getAs[Double]("dup_line_frac") shouldBe 0.0
    rows(2L).getAs[Long]("top_bigram_count") shouldBe 1L
    // Tie at count 1 → lexicographically smallest bigram "alpha beta"
    // (10 chars) over 22 total chars.
    rows(2L).getAs[Double]("top_bigram_char_frac") shouldBe (10.0 / 22.0 +- 0.0001)

    rows(3L).getAs[Long]("n_lines") shouldBe 1L
    rows(3L).getAs[Long]("top_bigram_count") shouldBe 0L
    rows(3L).getAs[Double]("top_bigram_char_frac") shouldBe 0.0

    rows(4L).getAs[Long]("n_lines") shouldBe 0L
    rows(4L).getAs[Double]("dup_line_frac") shouldBe 0.0
    rows(4L).getAs[Double]("dup_line_char_frac") shouldBe 0.0
  }

  test("repetitionStats flags a self-repeating document against a clean one") {
    val clean = "the quick brown fox jumps over the lazy dog and then rests"
    val spam = Seq.fill(20)("buy cheap pills now").mkString("\n")
    val df = docs((1L, clean), (2L, spam))
    val rows = TextAnalysis.repetitionStats(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows(2L).getAs[Double]("dup_line_frac") shouldBe 1.0
    rows(2L).getAs[Double]("dup_line_char_frac") shouldBe 1.0
    rows(2L).getAs[Long]("top_bigram_count") shouldBe 20L
    // Every bigram of the repeated line repeats; overlapping coverage
    // exceeds the text length and clamps at 1.
    rows(2L).getAs[Double]("dup_bigram_char_frac") shouldBe 1.0
    rows(1L).getAs[Double]("dup_line_frac") shouldBe 0.0
    rows(1L).getAs[Long]("top_bigram_count") shouldBe 1L // no repeated bigram
  }

  test("patternCounts finds emails, urls and digit runs as substrings") {
    val df = docs(
      (1L, "mail a@b.co and c.d+x@e-f.org, see https://x.y/z?q=1 or http://p.q, built 2024 in 30 days"),
      (2L, "no patterns here at all"),
      (3L, "not-an-email @ nowhere . com"))
    val rows = TextAnalysis.patternCounts(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows(1L).getAs[Long]("email_count") shouldBe 2L
    rows(1L).getAs[Long]("url_count") shouldBe 2L
    rows(1L).getAs[Long]("digit_run_count") shouldBe 3L // 1, 2024, 30
    rows(2L).getAs[Long]("email_count") shouldBe 0L
    rows(2L).getAs[Long]("url_count") shouldBe 0L
    rows(3L).getAs[Long]("email_count") shouldBe 0L // bare @ is not an address
  }

  test("redact replaces emails, urls, then digit runs; schema and nulls survive") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Option("mail a1@b.co, see https://x.y/z?q=12, built 2024"), "en"),
      (2L, Option("no patterns"), "en"),
      (3L, Option.empty[String], "en")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.redact(df, "text")
    out.columns.toSeq shouldBe df.columns.toSeq
    val byId = out.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // The email's and URL's own digits are consumed by their
    // placeholders — only the freestanding run becomes <NUMBER>.
    byId(1L) shouldBe Some("mail <EMAIL>, see <URL> built <NUMBER>")
    byId(2L) shouldBe Some("no patterns")
    byId(3L) shouldBe None
  }

  test("redact honors a custom redaction table in order") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "aa bb aa")).toDF("doc_id", "text")
    val out = TextAnalysis.redact(df, "text", Seq("aa" -> "X", "X bb" -> "Y"))
    out.collect().head.getString(1) shouldBe "Y X"
  }

  test("chunk: short doc is its own single chunk; null yields none") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Option("a b c")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, "text", "doc_id", maxTokens = 5).collect()
    out.length shouldBe 1
    out.head.getAs[Long]("chunk_idx") shouldBe 0L
    out.head.getAs[String]("chunk_text") shouldBe "a b c"
    out.head.getAs[Long]("n_tokens") shouldBe 3L
  }

  test("chunk: stride windows with overlap, short final window, full coverage") {
    val toks = (1 to 10).map(i => s"t$i")
    val df = docs((1L, toks.mkString(" ")))
    // maxTokens 4, overlap 2 → stride 2 → ceil((10-4)/2)+1 = 4 chunks
    val out = TextAnalysis.chunk(df, "text", "doc_id", maxTokens = 4, overlap = 2)
      .orderBy("chunk_idx").collect()
    out.map(_.getAs[String]("chunk_text")).toSeq shouldBe Seq(
      "t1 t2 t3 t4", "t3 t4 t5 t6", "t5 t6 t7 t8", "t7 t8 t9 t10")
    out.map(_.getAs[Long]("n_tokens")).toSeq shouldBe Seq(4L, 4L, 4L, 4L)
    // Exact-fit end: 9 tokens, stride 2 → last window runs short.
    val out9 = TextAnalysis.chunk(docs((1L, toks.take(9).mkString(" "))),
      "text", "doc_id", maxTokens = 4, overlap = 2).orderBy("chunk_idx").collect()
    out9.map(_.getAs[String]("chunk_text")).last shouldBe "t7 t8 t9"
    out9.length shouldBe 4
  }

  test("chunk: every token is covered and order is reconstructible") {
    val toks = (1 to 101).map(i => s"w$i")
    val df = docs((7L, toks.mkString(" ")))
    val out = TextAnalysis.chunk(df, "text", "doc_id", maxTokens = 16, overlap = 4)
      .orderBy("chunk_idx").collect()
    // Stride-12 de-overlap reconstruction: chunk 0 whole, then drop
    // each subsequent chunk's first 4 tokens.
    val rebuilt = out.zipWithIndex.flatMap { case (r, i) =>
      val t = r.getAs[String]("chunk_text").split(" ").toSeq
      if (i == 0) t else t.drop(4)
    }
    rebuilt.toSeq shouldBe toks
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.chunk(df, "text", "doc_id", maxTokens = 4, overlap = 4)
  }

  test("lmScore: hand-computed trigram model, OOV floor, short and null docs") {
    // Corpus grams: "aaaa" → aaa,aaa; "aab" → aab. Counts aaa:2, aab:1,
    // total 3. "xy" and null produce no grams but keep their rows.
    val df = docs((1L, "aaaa"), (2L, "aab"), (3L, "xy"), (4L, null))
    val full = TextAnalysis.lmScore(df, "text", "doc_id", n = 3, vocabSize = 16)
      .orderBy("doc_id").collect()
    full.map(_.getAs[Long]("n_grams")) shouldBe Array(2L, 1L, 0L, 0L)
    full.map(_.getAs[Long]("oov_grams")) shouldBe Array(0L, 0L, 0L, 0L)
    full(0).getAs[Double]("avg_logp") shouldBe (math.log(2.0 / 3) +- 1e-4)
    full(0).getAs[Double]("perplexity") shouldBe (1.5 +- 1e-4)
    full(1).getAs[Double]("avg_logp") shouldBe (math.log(1.0 / 3) +- 1e-4)
    full(1).getAs[Double]("perplexity") shouldBe (3.0 +- 1e-4)
    full(2).isNullAt(full(2).fieldIndex("avg_logp")) shouldBe true
    full(3).isNullAt(full(3).fieldIndex("perplexity")) shouldBe true

    // vocabSize 1 keeps only "aaa" (count desc, gram tiebreak): "aab"
    // falls to the 0.5 pseudo-count over the SAME total of 3.
    val v1 = TextAnalysis.lmScore(df, "text", "doc_id", n = 3, vocabSize = 1)
      .orderBy("doc_id").collect()
    v1(0).getAs[Long]("oov_grams") shouldBe 0L
    v1(1).getAs[Long]("oov_grams") shouldBe 1L
    v1(1).getAs[Double]("avg_logp") shouldBe (math.log(0.5 / 3) +- 1e-4)
    v1(1).getAs[Double]("perplexity") shouldBe (6.0 +- 1e-4)
  }

  test("lmScore ranks garbled text as higher perplexity than in-distribution prose") {
    val prose = "the cat sat on the mat and the dog sat on the rug"
    val rows = (1L to 20L).map(i => (i, prose)) :+ (99L, "zq8#kv!x9w@j2r%t")
    val out = TextAnalysis.lmScore(docs(rows: _*), "text", "doc_id", vocabSize = 64)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("perplexity")).toMap
    out(99L) should be > out(1L) * 5
  }

  test("charNgrams: position order, short-text guard") {
    val r = docs((1L, "abcd")).select(
      TextAnalysis.charNgrams(col("text"), 2).as("g2"),
      TextAnalysis.charNgrams(col("text"), 5).as("g5")).head()
    r.getSeq[String](0) shouldBe Seq("ab", "bc", "cd")
    r.getSeq[String](1) shouldBe Seq.empty
  }

  test("charNgrams equals the substr column form, by code point, null and short text included") {
    val texts = Seq("hello world", "café au lait", "中文字符测试", "ab😀cd😀", "é", "", null, "ab")
    // null reaches the column form as null length: its guard then takes
    // the empty branch too.
    def columnForm(text: org.apache.spark.sql.Column, n: Int) =
      when(functions.length(text) >= n,
        transform(sequence(lit(1), functions.length(text) - (n - 1)), i => text.substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
    val df = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    for (n <- Seq(1, 2, 3)) withClue(s"n=$n: ") {
      val rows = df.orderBy("doc_id").select(
        TextAnalysis.charNgrams(col("text"), n), columnForm(col("text"), n)).collect()
      rows.foreach(r => r.getSeq[String](0) shouldBe r.getSeq[String](1))
    }
    df.where(col("doc_id") === 3).select(TextAnalysis.charNgrams(col("text"), 3)).head()
      .getSeq[String](0) shouldBe Seq("ab😀", "b😀c", "😀cd", "cd😀")
  }

  test("lmScoreFromCounts rejects a frame that is not charNgramCounts output") {
    val df = docs((1L, "aaaa"))
    val bad = df.select(col("text").as("gram"))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.lmScoreFromCounts(df, "text", "doc_id", bad)
    }
    e.getMessage should include("gram_count")
  }

  test("sourceMixReport: counts, corpus-wide dup attribution, dominant language with tiebreak") {
    val s = spark
    import s.implicits._
    // Source A: two identical en docs (a dup pair). Source B: one es
    // doc + one copy of A's text — the fingerprint window is
    // CORPUS-wide, so B's copy is flagged too (dup_fraction 0.5), and
    // B's language tie (1 en vs 1 es) breaks to 'en' (sorted order).
    val df = Seq(
      (1L, "A", "the cat and the dog"),
      (2L, "A", "the cat and the dog"),
      (3L, "B", "el la que xyz"),
      (4L, "B", "the cat and the dog")).toDF("doc_id", "source", "text")
    val rows = graft.text.TextAnalysis.sourceMixReport(df, "text", "source")
      .orderBy("source").collect()
    rows.map(_.getAs[String]("source")) shouldBe Array("A", "B")
    val a = rows(0); val b = rows(1)
    a.getAs[Long]("n_docs") shouldBe 2L
    a.getAs[Long]("total_chars") shouldBe 38L
    a.getAs[Long]("total_tokens") shouldBe 10L
    // quality per doc: min(5/100,1) * (1-0) * (0.5 + 0.5*(3/5)) = 0.04
    a.getAs[Double]("avg_quality") shouldBe 0.04 +- 1e-9
    a.getAs[Double]("dup_fraction") shouldBe 1.0
    a.getAs[String]("top_lang") shouldBe "en"
    a.getAs[Double]("top_lang_fraction") shouldBe 1.0
    b.getAs[Long]("n_docs") shouldBe 2L
    b.getAs[Double]("dup_fraction") shouldBe 0.5
    b.getAs[String]("top_lang") shouldBe "en"
    b.getAs[Double]("top_lang_fraction") shouldBe 0.5
  }

  test("corpusDiff: all four statuses; whitespace/case-normalized compare; null text is null-safe") {
    val before = docs((1L, "same text"), (2L, "old text"), (3L, "gone"), (5L, null))
    val after = docs((1L, "  SAME   text "), (2L, "new text"), (4L, "fresh"), (5L, null))
    val m = graft.text.TextAnalysis.corpusDiff(before, after, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    m shouldBe Map(
      1L -> "unchanged", // fingerprint normalizes spacing and case
      2L -> "changed",
      3L -> "removed",
      4L -> "added",
      5L -> "unchanged") // null text on both sides: null-safe equal
  }

  test("sourceMixReport: unknown dominates when no markers hit; null text excluded") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "C", "zz yy xx"),
      (2L, "C", "qq ww ee"),
      (3L, "C", null)).toDF("doc_id", "source", "text")
    val r = graft.text.TextAnalysis.sourceMixReport(df, "text", "source").head()
    r.getAs[Long]("n_docs") shouldBe 2L
    r.getAs[String]("top_lang") shouldBe "unknown"
    r.getAs[Double]("top_lang_fraction") shouldBe 1.0
    r.getAs[Double]("dup_fraction") shouldBe 0.0
  }

  test("topNgrams counts document frequency, not occurrences") {
    val df = docs(
      (1L, "spam spam spam spam"),             // "spam spam" repeats IN one doc
      (2L, "terms of service apply here"),
      (3L, "terms of service apply today"),
      (4L, "terms of service apply now"))
    val top = TextAnalysis.topNgrams(df, "text", "doc_id", n = 3, k = 3, minCount = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // df-based: the within-document repetition contributes 1, the
    // cross-document template contributes 3; ties break on gram.
    top.head shouldBe (("of service apply", 3L))
    top should contain(("terms of service", 3L))
    top.map(_._1) should not contain "spam spam spam"
    // minCount prunes the singletons entirely.
    TextAnalysis.topNgrams(df, "text", "doc_id", n = 3, k = 100, minCount = 2)
      .collect().map(_.getLong(1)).forall(_ >= 2L) shouldBe true
  }

  test("frequentGrams: document frequency over full n-grams only") {
    val df = docs(
      (1L, "terms of service apply"),
      (2L, "terms of service apply"),
      (3L, "x terms of service here"),
      (4L, "of service"), // shorter than n: no grams, no fallback
      (5L, "unique words entirely here"))
    val fg = TextAnalysis.frequentGrams(df, "text", "doc_id", n = 3, minDocFreq = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    fg shouldBe Map("terms of service" -> 3L)
    // the doc-4 bigram must not count toward any trigram's df
    TextAnalysis.frequentGrams(df, "text", "doc_id", n = 3, minDocFreq = 2)
      .collect().map(_.getString(0)) should contain theSameElementsAs
      Seq("terms of service", "of service apply")
  }

  test("stripBoilerplate removes the union of covering spans, in order") {
    val df = docs(
      (1L, "keep terms of service apply keep2"),
      (2L, "terms of service apply"),
      (3L, "terms of service apply terms of service apply"),
      (4L, "no boilerplate here at all"))
    val out = TextAnalysis.stripBoilerplate(df, "text", "doc_id", n = 3, minDocFreq = 3)
      .orderBy("doc_id").collect()
    // frequent trigrams (df>=3): "terms of service", "of service apply".
    // Overlapping matches union: the whole 4-word span goes.
    out(0).getAs[String]("clean_text") shouldBe "keep keep2"
    out(0).getAs[Long]("n_removed") shouldBe 4L
    // fully-boilerplate doc keeps its row with empty text
    out(1).getAs[String]("clean_text") shouldBe ""
    out(1).getAs[Long]("n_words") shouldBe 4L
    out(1).getAs[Long]("n_removed") shouldBe 4L
    // both occurrences in one doc are removed
    out(2).getAs[String]("clean_text") shouldBe ""
    out(2).getAs[Long]("n_removed") shouldBe 8L
    // untouched doc round-trips verbatim
    out(3).getAs[String]("clean_text") shouldBe "no boilerplate here at all"
    out(3).getAs[Long]("n_removed") shouldBe 0L
  }

  test("stripBoilerplate is idempotent on an already-stripped corpus") {
    val df = docs(
      (1L, "a b c d e"), (2L, "a b c d f"), (3L, "a b c d g"),
      (4L, "z y x w v"))
    val once = TextAnalysis.stripBoilerplate(df, "text", "doc_id", n = 3, minDocFreq = 3)
      .select(col("doc_id"), col("clean_text").as("text"))
    val twice = TextAnalysis.stripBoilerplate(once, "text", "doc_id", n = 3, minDocFreq = 3)
      .orderBy("doc_id").collect()
    // pass 1 removes the shared "a b c d" prefix (covered by two
    // frequent trigrams); pass 2 finds nothing frequent among the
    // survivors and must not touch them.
    twice.map(_.getAs[Long]("n_removed")).sum shouldBe 0L
    twice(0).getAs[String]("clean_text") shouldBe "e"
    twice(3).getAs[String]("clean_text") shouldBe "z y x w v"
  }

  test("tfidfTerms ranks corpus-rare repeated terms above ubiquitous ones") {
    // "the" appears in every doc (df 3 → idf floor); "whale" repeats
    // in doc 1 only (tf 2, df 1 → max idf) and must rank first there.
    val df = docs(
      (1L, "the whale the whale sea"),
      (2L, "the cat sat"),
      (3L, "the dog ran"))
    val out = TextAnalysis.tfidfTerms(df, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(5)))
    out.length shouldBe 6
    out(0) shouldBe ((1L, "whale", 2L, 1L, 1))
    // doc 1 rank 2: "the" (tf 2 at the idf floor → 2.0) still beats
    // "sea" (tf 1, idf ln(4/2)+1 = 1.693)
    out(1) shouldBe ((1L, "the", 2L, 3L, 2))
    // every doc's terms come back in strictly ascending rank
    out.map(_._1).toSeq shouldBe Seq(1L, 1L, 2L, 2L, 3L, 3L)
  }

  test("urlFeatures canonicalizes scheme/host/ports/tracking params, keeps real params") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "HTTPS://User:pw@WWW.Site.COM:443/Path/X?utm_source=a&q=KeepMe&fbclid=zz#frag"),
      (2L, "http://site.com:8080/x?gclid=1"),   // non-default port survives
      (3L, "https://site.com/x?utm_only=1"),    // all params stripped → bare path
      (4L, "not a url at all"),                 // passthrough
      // A real param that merely EMBEDS a tracking name must survive
      // byte-for-byte — the strip is anchored to a parameter boundary.
      (5L, "https://site.com/x?xutm_source=1&a=2"),
      // Consecutive same-family params both strip; the separator runs
      // they leave behind collapse in the tidy pass.
      (6L, "https://site.com/x?utm_a=1&utm_b=2&c=3")
    ).toDF("id", "url")
    val out = TextAnalysis.urlFeatures(df, "url", "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    out(0) shouldBe ((1L, "https", "www.site.com", "https://www.site.com/Path/X?q=KeepMe"))
    out(1) shouldBe ((2L, "http", "site.com", "http://site.com:8080/x"))
    out(2) shouldBe ((3L, "https", "site.com", "https://site.com/x"))
    out(3) shouldBe ((4L, "", "", "not a url at all"))
    out(4) shouldBe ((5L, "https", "site.com", "https://site.com/x?xutm_source=1&a=2"))
    out(5) shouldBe ((6L, "https", "site.com", "https://site.com/x?c=3"))
  }

  test("normalizeText composes NFC, folds NFKC, strips Cc/Cf but keeps tab/LF/CR") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "café"),                 // decomposed accent → composed
      (2L, "ab​c"),            // BEL (Cc) and ZWSP (Cf) stripped
      (3L, "l1\nl2\tl3\rl4"),             // line structure survives
      (4L, "ﬁne")                    // NFKC folds the ﬁ ligature; NFC keeps it
    ).toDF("id", "t")
    val nfc = df.select(col("id"), TextAnalysis.normalizeText(col("t")).as("n"))
      .orderBy("id").collect().map(_.getString(1))
    nfc(0) shouldBe "café"
    nfc(1) shouldBe "abc"
    nfc(2) shouldBe "l1\nl2\tl3\rl4"
    nfc(3) shouldBe "ﬁne"
    val nfkc = df.select(TextAnalysis.normalizeText(col("t"), form = "NFKC"))
      .orderBy(col("id")).collect().map(_.getString(0))
    nfkc(3) shouldBe "fine"
    // strip disabled: controls survive, normalization still applies
    df.select(TextAnalysis.normalizeText(col("t"), stripControls = false))
      .orderBy(col("id")).collect()(1).getString(0) shouldBe "ab​c"
    // nulls pass through; an unknown form fails at construction
    Seq((1L, Option.empty[String])).toDF("id", "t")
      .select(TextAnalysis.normalizeText(col("t"))).head().isNullAt(0) shouldBe true
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.normalizeText(col("t"), form = "NOPE")
  }

  test("hashedTfVectors: sparse shape, collision-added counts, md5 driver replay") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "aa bb aa cc"), (2L, "   "), (3L, Option.empty[String].orNull))
      .toDF("doc_id", "text")
    val out = TextAnalysis.hashedTfVectors(df, "text", "doc_id",
        dim = 16, hashMode = "md5")
      .orderBy("doc_id").collect()
    out.length shouldBe 1 // token-less and null docs emit no row
    val (idx, vals) = (out(0).getSeq[Int](1), out(0).getSeq[Long](2))
    idx.toList shouldBe idx.toList.sorted
    vals.sum shouldBe 4L // every token lands somewhere
    // Replay the md5 bucket on the driver.
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(t: String): Int = {
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % 16).toInt
    }
    val expected = Seq("aa", "bb", "aa", "cc").groupBy(bucket)
      .view.mapValues(_.size.toLong).toMap
    idx.zip(vals).toMap shouldBe expected
    // xxhash64 mode: same shape, deterministic across calls.
    val x1 = TextAnalysis.hashedTfVectors(df, "text", "doc_id", dim = 8)
      .collect().map(_.toSeq)
    val x2 = TextAnalysis.hashedTfVectors(df, "text", "doc_id", dim = 8)
      .collect().map(_.toSeq)
    x1 shouldBe x2
  }

  test("hashedTfIdfVectors: bucket-granular smoothed idf downweights shared buckets") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // 'common' hits every doc's bucket (df = 3); each rare term one.
    val df = Seq((1L, "common rare1"), (2L, "common rare2"), (3L, "common rare3"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.hashedTfIdfVectors(df, "text", "doc_id",
        dim = 1024, hashMode = "md5")
      .orderBy("doc_id").collect()
    out.length shouldBe 3
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(t: String): Int = {
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % 1024).toInt
    }
    val commonB = bucket("common")
    val doc1 = out(0).getSeq[Int](1).zip(out(0).getSeq[Double](2)).toMap
    val commonW = doc1(commonB)
    val rareW = doc1(bucket("rare1"))
    // tf = 1 for both; df(common) = 3, df(rare1) = 1 ⇒ smaller weight.
    commonW shouldBe (math.log(4.0 / 4.0) + 1.0) +- 1e-12
    rareW shouldBe (math.log(4.0 / 2.0) + 1.0) +- 1e-12
    rareW should be > commonW
  }

  test("qualityFilter: every rule fires on its pathology; clean prose keeps") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val longProse = ("the quick brown fox jumps over a lazy dog and " * 6).trim // 60 words, stopwords the/a/and/or...
    val df = Seq(
      (1L, longProse),                                    // keeps
      (2L, "tiny doc"),                                   // too_few_words (+ others)
      (3L, longProse + "\nrepeat me\nrepeat me\nrepeat me"), // duplicate_lines
      (4L, "- one\n- two\n- three\n- four"),              // bullet_lines (+ short)
      (5L, longProse + "\nwait for it...\nmore...\nsoon..."), // ellipsis_lines
      (6L, (1 to 60).map(_ => "12345").mkString(" "))     // alpha_words + stopword_diversity
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityFilter(df, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(8), r.getSeq[String](9).toList))
    out(0) shouldBe ((1L, true, Nil))
    out(1)._2 shouldBe false
    out(1)._3 should contain("too_few_words")
    out(2) shouldBe ((3L, false, List("duplicate_lines")))
    out(3)._2 shouldBe false
    out(3)._3 should contain allOf ("bullet_lines", "too_few_words")
    out(4) shouldBe ((5L, false, List("ellipsis_lines")))
    out(5)._2 shouldBe false
    out(5)._3 shouldBe List("alpha_words", "stopword_diversity")
    // Reasons come out sorted regardless of rule declaration order.
    out.foreach { case (_, _, rs) => rs shouldBe rs.sorted }
  }

  test("qualityFilter: bounds are configurable and can disable rules") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "three short words")).toDF("doc_id", "text")
    val lax = TextAnalysis.QualityFilterConfig(
      minWords = 1, minMeanWordLen = 0.0, minAlphaWordFrac = 0.0,
      minDistinctStopwords = 0)
    val out = TextAnalysis.qualityFilter(df, "text", "doc_id", lax).collect().head
    out.getBoolean(8) shouldBe true
  }

  test("tfidfTerms ties break alphabetically at equal (tf, df)") {
    val df = docs((1L, "beta alpha"), (2L, "gamma delta"))
    val out = TextAnalysis.tfidfTerms(df, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank").collect().map(r => (r.getLong(0), r.getString(1)))
    out shouldBe Array((1L, "alpha"), (1L, "beta"), (2L, "delta"), (2L, "gamma"))
  }

  // Multilingual fixture with NO occurrences of the five marker words
  // per language — marker-word argmax cannot classify these, the
  // char-bigram profiles can.
  private val markerlessFixture = Seq(
    (1L, "morgen gehen wir zusammen spazieren weil das wetter wirklich herrlich aussieht", "de"),
    (2L, "tomorrow we shall take a long walk because everything looks so lovely outside", "en"),
    (3L, "mañana caminaremos juntos porque hace muy buen tiempo según dicen por ahí", "es"),
    (4L, "demain nous marcherons ensemble parce qu'il fait vraiment beau dehors", "fr"),
    (5L, "他们明天会一起去公园散步因为天气很好大家都很开心", "zh"))

  test("languageIdNgram classifies markerless sentences; languageId cannot") {
    val s = spark
    import s.implicits._
    val df = markerlessFixture.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
    val expected = markerlessFixture.map { case (id, _, l) => id -> l }.toMap
    val ngramPred = TextAnalysis.languageIdNgram(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    val markerPred = TextAnalysis.languageId(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    val ngramAcc = expected.count { case (id, l) => ngramPred(id) == l }
    val markerAcc = expected.count { case (id, l) => markerPred(id) == l }
    ngramAcc shouldBe 5
    markerAcc should be < ngramAcc
  }

  test("languageIdNgram: zero-gram and null docs → unknown with 0 grams") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Option("x")), (2L, Option.empty[String]), (3L, Option("guten morgen liebe sorgen")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.languageIdNgram(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang_pred"), r.getAs[Long]("n_grams")))).toMap
    out(1L) shouldBe ("unknown", 0L) // single char: no bigram
    out(2L) shouldBe ("unknown", 0L)
    out(3L)._1 shouldBe "de"
  }

  test("classTfidfTerms: class-grouped tf, class-count idf base, per-class rank tiebreak") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "apple apple banana", "fruit"),
      (2L, "apple cherry", "fruit"),
      (3L, "bolt bolt nut banana", "hardware"))
      .toDF("doc_id", "text", "cls")
    val out = TextAnalysis.classTfidfTerms(df, "text", "cls", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getInt(5)))
    val byClass = out.groupBy(_._1)
    // C = 2 classes; "apple" tf=3 in fruit, df=1 → score 3·(ln(3/2)+1)
    val fruitTop = byClass("fruit").find(_._6 == 1).get
    fruitTop._2 shouldBe "apple"
    fruitTop._3 shouldBe 3L
    fruitTop._5 shouldBe (3.0 * (math.log(3.0 / 2.0) + 1.0) +- 1e-9)
    // hardware: bolt (tf 2, df 1, score 2·(ln(3/2)+1)) > nut (1.405) >
    // banana (cross-class df 2 → score exactly 1.0, cut by k=2)
    byClass("hardware").find(_._6 == 1).get._2 shouldBe "bolt"
    byClass("hardware").find(_._6 == 2).get._2 shouldBe "nut"
    out.find(t => t._1 == "hardware" && t._2 == "banana") shouldBe None
  }

  test("languageIdNgram accepts custom seed corpora; label order never changes the result") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "blarg blorg blurg"), (2L, "zix zax zux")).toDF("doc_id", "text")
    val seeds = Seq(
      "blargish" -> "blarg blorg blurg blip blop bleep",
      "zixish" -> "zix zax zux zim zam zum")
    def preds(ss: Seq[(String, String)]) =
      TextAnalysis.languageIdNgram(df, "text", "doc_id", ss)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    val out = preds(seeds)
    out(1L) shouldBe "blargish"
    out(2L) shouldBe "zixish"
    preds(seeds.reverse) shouldBe out // internal sort fixes the fold order
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.languageIdNgram(df, "text", "doc_id", Seq.empty)
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.languageIdNgram(df, "text", "doc_id",
        Seq("a" -> "x", "a" -> "y"))
  }

  test("languageIdNgram is deterministic and covers every input row once") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = TextAnalysis.languageIdNgram(df, "text", "doc_id").orderBy("doc_id").collect()
    val b = TextAnalysis.languageIdNgram(df, "text", "doc_id").orderBy("doc_id").collect()
    a.toSeq shouldBe b.toSeq
    a.length shouldBe df.count()
  }

  test("stripHtml: tags, scripts, comments drop; entities decode one-pass; whitespace collapses") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // tags + attributes + comment + whitespace collapse
      ("<p class=\"x\">Hello   <b>world</b></p><!-- gone -->", "Hello world"),
      // script/style blocks drop wholesale, case-insensitive
      ("<SCRIPT>var x = \"<b>no</b>\";</SCRIPT>text<style>p{}</style>", "text"),
      // one-pass decode: &amp;lt; → &lt;, never <
      ("&amp;lt;b&amp;gt; &amp; &lt;kept&gt;", "&lt;b&gt; & <kept>"),
      // numeric decimal + hex + named; nbsp collapses
      ("&#65;&#x42;C&nbsp;&mdash;&copy;", "ABC —©"),
      // unknown named / invalid codepoints stay literal
      ("caf&eacute; &unknown; &#0; &#55296; &#99999999;", "caf&eacute; &unknown; &#0; &#55296; &#99999999;"),
      // multi-line tag and dotall comment
      ("a<div\nclass='y'>b</div><!-- multi\nline -->c", "abc"),
      // U+000B (vertical tab) — raw and as a decoded &#11; — collapses
      // like any whitespace: the explicit [ \t\n\x0B\f\r] class keeps
      // Java-\s semantics that RE2's \s (no VT) would break.
      ("A" + "\u000b" + "B &#11; C", "A B C"))
    val got = cases.zipWithIndex.map { case ((in, _), i) => (i.toLong, in) }
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.stripHtml(col("t")).as("c"))
      .orderBy("id").collect().map(_.getString(1))
    got.toSeq shouldBe cases.map(_._2)
  }

  test("stripHtml composes: fingerprint and qualityFilter see the clean text") {
    val s = spark
    import s.implicits._
    val clean = "the quick brown fox jumps over the lazy dog and runs on"
    // whitespace between block elements: tag removal splices adjacent
    // text directly, so "</p><div>" with no separator would weld words
    val html = "<html><body><!-- c --><p>the quick   brown fox " +
      "<b>jumps</b> over the lazy dog</p>\n<script>spam();</script>\n" +
      "<div>and runs on</div></body></html>"
    val df = Seq((1L, html), (2L, clean)).toDF("doc_id", "text")
    val stripped = df.select(col("doc_id"),
      TextAnalysis.stripHtml(col("text")).as("text"))
    // Identical content → identical fingerprints: the HTML doc and the
    // clean doc collapse into one exact-dup group after stripping.
    val fps = stripped.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .distinct().count()
    fps shouldBe 1L
    // qualityFilter on the stripped text matches the clean-text verdict
    // (unstripped, the script/tag tokens would fail alpha_word_frac).
    val verdicts = TextAnalysis.qualityFilter(stripped, "text", "doc_id")
      .select("doc_id", "keep").orderBy("doc_id").collect()
    val cleanOnly = TextAnalysis.qualityFilter(
      Seq((2L, clean)).toDF("doc_id", "text"), "text", "doc_id")
      .select("keep").head().getBoolean(0)
    verdicts.map(_.getBoolean(1)).toSeq shouldBe Seq(cleanOnly, cleanOnly)
  }
}
