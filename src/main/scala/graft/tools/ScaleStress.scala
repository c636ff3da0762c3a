package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.dedup.Dedup
import graft.events.Events
import graft.profiler.{Profiler, ProfilerConfig}
import graft.text.TextAnalysis

/** Committed scale harness: runs the five heaviest operator families
  * at sf0.1 and at a synthetically amplified `factor`× of the same
  * data, and reports the wall-clock ratio per operator. A scale-safe
  * (shuffle-linear, skew-proof) plan should scale ≈ linearly in rows —
  * ratios well under `factor` mean fixed overhead still dominates,
  * ratios well over it are the superlinear red flag (an all-pairs
  * explosion, a single-task funnel, spill thrash) this harness exists
  * to catch before a 100 TB run does.
  *
  * Amplification is a map-side explode of `factor` perturbed copies —
  * ids offset per copy, text suffixed per copy (so copies are near
  * each other but not byte-identical, keeping LSH bucket occupancy
  * realistic rather than flooding one bucket), event entities offset
  * per copy (key cardinality scales with data, as it does in
  * production). Deterministic: no randomness, no clock.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain
  * graft.tools.ScaleStress [factor]"`. Emits one JSON line; the round
  * snapshot records the table in BASELINE.md. */
object ScaleStress {

  private def hexOf(bytes: Array[Byte]): String =
    bytes.map(b => f"$b%02X").mkString

  private def amplifyDocs(docs: DataFrame, factor: Int): DataFrame =
    docs.select(explode(sequence(lit(0), lit(factor - 1))).as("copy"),
        col("doc_id"), col("text"))
      .select((col("doc_id") + col("copy").cast("long") * 10000000L).as("doc_id"),
        concat(col("text"), lit(" v"), col("copy")).as("text"))

  private def amplifyEvents(ev: DataFrame, factor: Int): DataFrame =
    ev.select(explode(sequence(lit(0), lit(factor - 1))).as("copy"),
        col("event_id"), col("user_id"), col("ts"), col("value"))
      .select((col("event_id") + col("copy").cast("long") * 1000000000L).as("event_id"),
        (col("user_id") + col("copy").cast("long") * 1000000000L).as("user_id"),
        col("ts"), col("value"))

  private def amplifyRows(df: DataFrame, factor: Int): DataFrame =
    df.select(explode(sequence(lit(0), lit(factor - 1))).as("copy"), col("*"))
      .drop("copy")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    require(factor >= 2, s"factor must be >= 2: $factor")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.LocalSession.suite(defaultCpus = 32)
    import spark.implicits._

    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter(col("text").isNotNull)
    val lineitem1 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val eventsRaw = {
      val df = spark.read.parquet(s"$sfDir/events.parquet")
      val withTs =
        if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        else df
      withTs.select("event_id", "user_id", "ts", "value")
        .filter(col("ts").isNotNull && col("value").isNotNull)
    }

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    // Each op materializes its inputs first (persist + count) so the
    // measured time is the OPERATOR, not the amplification scan.
    def withMaterialized[A](dfs: Seq[DataFrame])(body: => A): A = {
      dfs.foreach(d => { d.persist(); d.count(); () })
      try body finally dfs.foreach(d => { d.unpersist(); () })
    }

    def components(docs: DataFrame): Unit = {
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text")
      Dedup.connectedComponents(pairs, "id_a", "id_b").count()
      ()
    }

    def topNgrams(docs: DataFrame): Unit = {
      TextAnalysis.topNgrams(docs, "text", "doc_id", n = 3, k = 20).collect()
      ()
    }

    def profile(li: DataFrame): Unit = {
      Profiler.profile(li, "lineitem", ProfilerConfig(exact = false))
      ()
    }

    def asof(ev: DataFrame): Unit = {
      val left = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_id") % 2 === 1)
      // aggregate over the CARRIED column: a bare count() would let the
      // optimizer prune the window carry (cardinality-preserving,
      // columns unused) and time an empty shell
      Events.asOfJoin(left, right, "user_id", "user_id", "ts", "ts",
          rightValueCols = Seq("value"), rightTiebreakCol = "event_id")
        .agg(sum(col("asof_value"))).collect()
      ()
    }

    def streamNearDup(docs: DataFrame): Unit = {
      val rows = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      def dayTs(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
      val batches = rows.groupBy(r => (r._1 % 5).toInt).toSeq.sortBy(_._1)
        .map { case (day, rs) => rs.toSeq.map(r => (r._1, dayTs(day), r._2)) }
      SparkEntry.replayToMemory(spark, "scale_stream_near_dup", batches,
        noDataBatches = false,
        extraConfs = Map(
          "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false")) { ds =>
        graft.streaming.StreamDedup.dropNearDuplicates(
          ds.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", "1 day")
      }.count()
      ()
    }

    val docsK = amplifyDocs(docs1, factor)
    val liK = amplifyRows(lineitem1, factor)
    val evK = amplifyEvents(eventsRaw, factor)

    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    val superlinear = scala.collection.mutable.ArrayBuffer.empty[String]
    def report(name: String, t1: Double, tk: Double): Unit = {
      val ratio = if (t1 > 0) tk / t1 else Double.NaN
      System.err.println(
        f"[scale-stress] $name%-16s 1x $t1%7.2fs  ${factor}x $tk%7.2fs  ratio $ratio%5.2f")
      results += f""""$name":{"t1":$t1%.3f,"tk":$tk%.3f,"ratio":$ratio%.3f}"""
      // superlinear flag: kx wall more than 2·factor× the 1x wall (the
      // 2× headroom absorbs partition-count and spill-boundary noise)
      if (!ratio.isNaN && ratio > 2.0 * factor) superlinear += name
    }

    // warm-up runs precede each 1x measurement so JIT/codegen cost
    // lands outside the timings; the kx run reuses the same compiled
    // plans modulo literals.
    withMaterialized(Seq(docs1, docsK)) {
      components(docs1)
      val t1 = time(components(docs1))
      val tk = time(components(docsK))
      report("components", t1, tk)
      val s1 = time(streamNearDup(docs1))
      val sk = time(streamNearDup(docsK))
      report("stream_near_dup", s1, sk)
      topNgrams(docs1)
      val n1 = time(topNgrams(docs1))
      val nk = time(topNgrams(docsK))
      report("top_ngrams", n1, nk)
    }
    // BPE learning runs over the DISTINCT-WORD vocabulary — the
    // amplified corpus adds only the " v<copy>" suffix words, so the
    // per-round pair aggregates should be nearly flat and the ratio
    // dominated by the one corpus word-count scan.
    def bpeLearn(docs: DataFrame): Unit = {
      graft.text.Bpe.learnMerges(docs, "text", numMerges = 8)
      ()
    }
    // Production-depth BPE: 500 REAL merge rounds. The gate corpus's
    // own vocabulary is too regular (deep learning exhausts at ~90
    // merges), so the depth measurement widens it deterministically
    // with hash-derived 32-hex-char words — one scan, thousands of
    // distinct words, plenty of merge room. The aggregated vocabulary
    // collapses to the driver (zero Spark jobs per round), so depth
    // costs driver CPU only: measured 500 rounds ≈ 5000 rounds ≈ the
    // corpus scan itself. The 1x wall IS the committed "deep
    // learning" datapoint for BASELINE.md.
    def bpeLearnDeep(docs: DataFrame): Unit = {
      val wide = docs.select(concat_ws(" ", col("text"),
        md5(col("text")), md5(concat(col("text"), lit("x"))),
        md5(col("doc_id").cast("string"))).as("text"))
      val m = graft.text.Bpe.learnMerges(wide, "text", numMerges = 500)
      require(m.size == 500, s"expected 500 merges, got ${m.size}")
      ()
    }
    // image hashing is map-side byte work — expect ~linear.
    def imageHash(docs: DataFrame): Unit = {
      val withBin = docs.withColumn("bin",
        unhex(concat(lit(hexOf("P6\n9 8\n255\n".getBytes("US-ASCII"))),
          array_join(flatten(transform(sequence(lit(0), lit(7)), y =>
            transform(sequence(lit(0), lit(8)), x => {
              val h = lpad(hex(pmod(col("doc_id") * 7 + x * 13 + y * 31, lit(256))), 2, "0")
              concat(h, h, h)
            }))), ""))))
      // bit_count keeps the forcing aggregate bounded — a raw
      // sum(dhash) overflows long over full-range 64-bit hashes
      graft.multimodal.Multimodal.imageHashes(withBin, "doc_id", "bin")
        .agg(sum(bit_count(col("dhash")))).collect()
      ()
    }
    // BPE ENCODE at production vocabulary depth: a 5000-merge table
    // (driver-learned once, outside the timing) driven through the
    // codegen BpeEncode expression over the same hash-widened corpus
    // it was learned on — both pre-screen paths exercised (real merge
    // hits on the hex words, fast rejections on the natural words).
    // Encode is pure map-side; wall must scale with the corpus's
    // distinct words (the per-thread memo makes repeats free), never
    // with the 5000 rounds.
    def widen(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), concat_ws(" ", col("text"),
        md5(col("text")), md5(concat(col("text"), lit("x"))),
        md5(col("doc_id").cast("string"))).as("text"))
    def bpeEncodeDeep(docs: DataFrame, merges: Seq[graft.text.Bpe.Merge]): Unit = {
      graft.text.Bpe.tokenize(docs, "text", "doc_id", merges)
        .agg(sum(col("n_tokens"))).collect()
      ()
    }
    withMaterialized(Seq(docs1, docsK)) {
      bpeLearn(docs1)
      val b1 = time(bpeLearn(docs1))
      val bk = time(bpeLearn(docsK))
      report("bpe_learn", b1, bk)
      val d1 = time(bpeLearnDeep(docs1))
      val dk = time(bpeLearnDeep(docsK))
      report("bpe_learn_500", d1, dk)
      imageHash(docs1)
      val i1 = time(imageHash(docs1))
      val ik = time(imageHash(docsK))
      report("image_hashes", i1, ik)
    }
    // Substring-span dedup: the standard amplification shares each
    // document's FULL text across its copies, which multiplies true
    // duplication degree — sharedSpans' OUTPUT is inherently quadratic
    // in per-span duplication (emitting those pairs IS the job), so
    // that would measure output size, not operator scaling. Salt every
    // copy's words with the copy id instead: corpus grows by `factor`,
    // duplication degree stays the corpus's own, and the candidate/
    // pair/merge work should scale ~linearly.
    def substringSpans(docs: DataFrame): Unit = {
      Dedup.sharedSpans(docs, "doc_id", "text", minSpan = 6)
        .agg(count(lit(1)), sum(col("span_len"))).collect()
      ()
    }
    val spansK = docs1
      .select(explode(sequence(lit(0), lit(factor - 1))).as("copy"),
        col("doc_id"), col("text"))
      .select((col("doc_id") + col("copy").cast("long") * 10000000L).as("doc_id"),
        array_join(transform(split(col("text"), "\\s+"),
          w => concat(col("copy").cast("string"), lit("_"), w)), " ").as("text"))
    withMaterialized(Seq(docs1, spansK)) {
      substringSpans(docs1)
      val s1 = time(substringSpans(docs1))
      val sk = time(substringSpans(spansK))
      report("substring_spans", s1, sk)
    }
    val wide1 = widen(docs1)
    val wideK = widen(docsK)
    withMaterialized(Seq(wide1, wideK)) {
      val deepMerges = graft.text.Bpe.learnMerges(wide1, "text", numMerges = 5000)
      require(deepMerges.size == 5000, s"expected 5000 merges, got ${deepMerges.size}")
      // contiguity pre-screen hit rate: fraction of (word, merge)
      // checks where the unframed symbol string contains the merged
      // pair's characters — the superset screen that lets encodeWord
      // skip the framed replace on the long miss tail.
      val sampleWords = wide1.select(explode(split(col("text"), " ")).as("w"))
        .limit(2000).distinct().as[String].collect()
      val cats = deepMerges.map(m => m.left + m.right)
      val hits = sampleWords.iterator.map(w => cats.count(w.contains)).sum
      val rate = hits.toDouble / (sampleWords.length.toDouble * cats.length)
      System.err.println(
        f"[scale-stress] bpe_encode_5k pre-screen hit rate $rate%.5f over ${sampleWords.length} words x ${cats.length} merges")
      bpeEncodeDeep(wide1, deepMerges)
      val e1 = time(bpeEncodeDeep(wide1, deepMerges))
      val ek = time(bpeEncodeDeep(wideK, deepMerges))
      report("bpe_encode_5k", e1, ek)
    }
    withMaterialized(Seq(lineitem1, liK)) {
      profile(lineitem1)
      val t1 = time(profile(lineitem1))
      val tk = time(profile(liK))
      report("full_profile", t1, tk)
    }
    withMaterialized(Seq(eventsRaw, evK)) {
      asof(eventsRaw)
      val t1 = time(asof(eventsRaw))
      val tk = time(asof(evK))
      report("asof_join", t1, tk)
    }

    println(s"""{"metric":"scale_stress","factor":$factor,"sf":"$sfDir","ops":{${results.mkString(",")}}}""")
    spark.stop()
    if (superlinear.nonEmpty) {
      System.err.println(s"[scale-stress] SUPERLINEAR: ${superlinear.mkString(", ")}")
      sys.exit(1)
    }
  }
}
