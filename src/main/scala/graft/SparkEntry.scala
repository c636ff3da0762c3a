package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Decontaminate, Dedup}
import graft.model.TableMeta
import graft.multimodal.Multimodal
import graft.profiler.{ProfilePasses, Profiler, ProfilerConfig}
import graft.similarity.Similarity
import graft.streaming.StreamProfiler
import graft.text.TextAnalysis
import graft.validation.{DefaultValidations, Validator}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is one operator from SURVEY.md §2 (or a
  * north-star extension); `oracleSql` holds the equivalent DuckDB SQL
  * over the same parquet tables. Column names are aligned on both
  * sides because the driver's compare sorts columns by name before
  * hashing. Floating-point aggregates are rounded identically on both
  * sides (sum→2dp, avg/stddev/percentile→4dp) so cross-engine
  * summation-order noise cannot flip the hash.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.createOrReplaceTempView(name)
    df
  }

  /** Structurally-valid media headers synthesized from `doc_id` with
    * hex/unhex column math — shared by the mm2/mm3/mm4 gates: a PNG
    * IHDR (big-endian dims), a JPEG whose APP0 segment the SOF scanner
    * must skip, or a RIFF/WAVE fmt+data pair (little-endian audio
    * params). Every field derives from doc_id, so a DuckDB oracle can
    * recompute the expected decode without parsing bytes. */
  /** 2-hex-digit rendering of a byte-valued column expression. */
  private def hxByte(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lpad(hex(pmod(c, lit(256))), 2, "0")

  /** Hex of a literal byte array (header constants for the synthetic
    * image fixtures). */
  private def hexOf(bytes: Array[Byte]): String =
    bytes.map(b => f"$b%02X").mkString

  /** 54-byte BMP file+DIB header (24 bpp, BI_RGB, bottom-up). */
  private def bmpHeaderHex(w: Int, h: Int): String = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val dataSize = rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h)
      .putShort(1).putShort(24).putInt(0)
      .putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    hexOf(buf.array())
  }

  /** Synthetic 18×16 image per document — even doc_ids a P6 PPM, odd
    * a 24-bit bottom-up BMP (4-byte padded rows, BGR) — with RGB at
    * (x, y) following a fixed doc_id formula the oracle recomputes.
    * Built entirely with hex column math + one unhex. */
  private def syntheticImageBin: org.apache.spark.sql.Column = {
    val W = 18; val H = 16
    val d = col("doc_id")
    def r(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      lit(7) * d + lit(13) * x + lit(31) * y
    def g(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      lit(11) * d + lit(3) * x + lit(17) * y
    def b(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      lit(5) * d + lit(19) * x + lit(23) * y
    val ppmPix = array_join(flatten(transform(sequence(lit(0), lit(H - 1)), y =>
      transform(sequence(lit(0), lit(W - 1)), x =>
        concat(hxByte(r(x, y)), hxByte(g(x, y)), hxByte(b(x, y)))))), "")
    // bottom-up rows, BGR order, 2 padding bytes per 54-byte row
    val bmpPix = array_join(transform(sequence(lit(H - 1), lit(0), lit(-1)), y =>
      concat(array_join(transform(sequence(lit(0), lit(W - 1)), x =>
        concat(hxByte(b(x, y)), hxByte(g(x, y)), hxByte(r(x, y)))), ""),
        lit("0000"))), "")
    val ppmHeader = hexOf(s"P6\n$W $H\n255\n".getBytes("US-ASCII"))
    unhex(when(pmod(d, lit(2)) === 0, concat(lit(ppmHeader), ppmPix))
      .otherwise(concat(lit(bmpHeaderHex(W, H)), bmpPix)))
  }

  /** Synthetic 9×8 grayscale PPM pairs for image near-dup dedup:
    * doc_id/2 selects the pattern, odd doc_ids perturb one pixel of
    * their even sibling — so consecutive (even, odd) ids are near-dups
    * and different patterns are far apart in Hamming space. The
    * pattern varies the GRADIENT with the group id (dHash is invariant
    * to uniform brightness shifts). */
  private def syntheticPairImageBin: org.apache.spark.sql.Column = {
    val W = 9; val H = 8
    val d = col("doc_id")
    val gid = floor(d / 2).cast("long")
    def v0(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      pmod(pmod(x * x * (pmod(gid, lit(5)) + 1) + y * (lit(3) + pmod(gid, lit(7))) +
        x * y * (gid + 1), lit(97)) * 2, lit(256))
    def v(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      when(pmod(d, lit(2)) === 1 && x === 4 && y === 3,
        pmod(v0(x, y) + 50, lit(256))).otherwise(v0(x, y))
    val pix = array_join(flatten(transform(sequence(lit(0), lit(H - 1)), y =>
      transform(sequence(lit(0), lit(W - 1)), x => {
        val h = hxByte(v(x, y))
        concat(h, h, h)
      }))), "")
    val header = hexOf(s"P6\n$W $H\n255\n".getBytes("US-ASCII"))
    unhex(concat(lit(header), pix))
  }

  /** Synthetic mono 16-bit PCM WAV per document — sample i follows a
    * fixed doc_id formula, sample count varies with doc_id so the
    * integer frame bounds are exercised unevenly. */
  private def syntheticWavBin: org.apache.spark.sql.Column = {
    def leHex16(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(pmod(c, lit(65536))), 4, "0")
      concat(substring(hx, 3, 2), substring(hx, 1, 2))
    }
    def leHex32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c), 8, "0")
      concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2))
    }
    val d = col("doc_id")
    val n = lit(130) + pmod(d, lit(4)) * 33
    val dataSize = n * 2
    val header = concat(
      lit("52494646"), leHex32(dataSize + 36),
      lit("57415645" + "666D7420" + "10000000" + "0100" + "0100"),
      leHex32(lit(8000)), leHex32(lit(16000)),
      lit("0200" + "1000" + "64617461"), leHex32(dataSize))
    val samples = array_join(transform(sequence(lit(0), n - 1), i =>
      leHex16(pmod(lit(13) * d + lit(7) * i * i + lit(3) * i, lit(65536)) - 32768)), "")
    unhex(concat(header, samples))
  }

  private def syntheticMediaBin: org.apache.spark.sql.Column = {
    def beHex32(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    def beHex16(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    def leHex16(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c), 4, "0")
      concat(substring(hx, 3, 2), substring(hx, 1, 2))
    }
    def leHex32(c: org.apache.spark.sql.Column) = {
      val hx = lpad(hex(c), 8, "0")
      concat(substring(hx, 7, 2), substring(hx, 5, 2),
        substring(hx, 3, 2), substring(hx, 1, 2))
    }
    val w = pmod(col("doc_id"), lit(512)) + 16
    val h = pmod(col("doc_id"), lit(256)) + 16
    val chans = pmod(col("doc_id"), lit(2)) + 1
    val rate = when(pmod(col("doc_id"), lit(2)) === 0, lit(16000)).otherwise(lit(44100))
    val frames = pmod(col("doc_id"), lit(1000)) + 1
    val blockAlign = chans * 2
    val dataSize = frames * blockAlign
    val pngHex = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
      beHex32(w), beHex32(h), lit("0806000000"))
    val jpegHex = concat(
      lit("FFD8" + "FFE00010" + "4A46494600010100000100010000" + "FFC0001108"),
      beHex16(h), beHex16(w), lit("03"))
    val wavHex = concat(
      lit("52494646"), leHex32(dataSize + 36),
      lit("57415645" + "666D7420" + "10000000" + "0100"),
      leHex16(chans), leHex32(rate), leHex32(rate * blockAlign),
      leHex16(blockAlign), lit("1000" + "64617461"), leHex32(dataSize))
    unhex(
      when(pmod(col("doc_id"), lit(3)) === 0, pngHex)
        .when(pmod(col("doc_id"), lit(3)) === 1, jpegHex)
        .otherwise(wavHex))
  }

  /** Structurally-valid VIDEO container headers synthesized from
    * `doc_id` — the mm5 gate's fixture: an ISO BMFF file (ftyp, then
    * moov containing an mvhd the box walk must skip and a trak/tkhd
    * with 16.16 fixed-point dimensions) or a Matroska file (EBML
    * header, then Segment containing an Info element the EBML walk
    * must skip and Tracks → TrackEntry → Video → PixelWidth/
    * PixelHeight). Dimensions derive from doc_id, so the oracle
    * recomputes the expected decode without parsing bytes. */
  private def syntheticVideoBin: org.apache.spark.sql.Column = {
    def beHex16(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    val w = pmod(col("doc_id"), lit(512)) + 16
    val h = pmod(col("doc_id"), lit(256)) + 16
    // tkhd v0: verflags + 5×u32 (track_ID = 1) + 8B reserved + 4×u16 +
    // unity matrix + width/height as 16.16 fixed point = 84B payload.
    val tkhdHex = concat(
      lit("0000005C" + "746B6864" + "00000000" +
        "00000000" + "00000000" + "00000001" + "00000000" + "00000000" +
        "0000000000000000" + "0000" + "0000" + "0000" + "0000" +
        "000100000000000000000000000000000001000000000000000000000000000040000000"),
      beHex16(w), lit("0000"), beHex16(h), lit("0000"))
    val mp4Hex = concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000200" + // ftyp
        "000000D8" + "6D6F6F76" + // moov (216B)
        "0000006C" + "6D766864" + "00" * 100 + // mvhd (skipped by size)
        "00000064" + "7472616B"), // trak (100B)
      tkhdHex)
    // EBML: header, then Segment(Info to skip, Tracks → TrackEntry →
    // Video → PixelWidth/PixelHeight). 1-byte vint sizes (0x80 | len).
    val mkvHex = concat(
      lit("1A45DFA3" + "84" + "42868101" + // EBML header
        "18538067" + "9A" + // Segment (26B)
        "1549A966" + "84" + "00000000" + // Info (skipped)
        "1654AE6B" + "8C" + // Tracks (12B)
        "AE" + "8A" + // TrackEntry (10B)
        "E0" + "88" + // Video (8B)
        "B0" + "82"), beHex16(w), lit("BA" + "82"), beHex16(h))
    unhex(when(pmod(col("doc_id"), lit(2)) === 0, mp4Hex).otherwise(mkvHex))
  }

  /** Deterministic-replay harness shared by the streaming gates
    * (`ev_mean_drift`, `ll10_stream_dedup`): feed `batches` through a
    * MemoryStream one micro-batch at a time into a memory sink and
    * return the sink table. The stream runs in a child session with
    * ONE shuffle partition — state-partition count is fixed from
    * shuffle.partitions at query start, and 32 state-store tasks per
    * micro-batch for a few-hundred-key replay is pure scheduling/state
    * overhead (~160 CPU·s measured on the drift gate before this); at
    * real scale the key count dictates that knob upward again. The
    * checkpoint goes on tmpfs when available (offset/commit/state
    * fsyncs are waste on a replay whose durability nobody needs) and
    * is removed even when stop() throws, or repeated runs would leak
    * into the size-limited /dev/shm. */
  private[graft] def replayToMemory[A: Encoder](
      s: SparkSession, name: String, batches: Seq[Seq[A]],
      noDataBatches: Boolean = false,
      extraConfs: Map[String, String] = Map.empty)(
      build: Dataset[A] => DataFrame): DataFrame = {
    // MemoryStream replays are driver-side BY CONSTRUCTION (the rows
    // were collected to build `batches`) — inherent to deterministic
    // gate harnesses, bounded at fixture scale. Fail loudly rather
    // than silently degrade if a fixture ever outgrows that envelope;
    // production streams read from a real source, never through here.
    val totalRows = batches.iterator.map(_.size.toLong).sum
    require(totalRows <= 10_000_000L,
      s"replayToMemory($name): $totalRows rows exceed the driver-side replay " +
        "envelope — this harness is for gate-scale deterministic replays only")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "1")
    // Most replayed operators keep state under NoTimeout and no
    // watermark, so the engine's trailing no-data micro-batch (which
    // exists to fire timeouts / advance watermarks) does nothing for
    // them — skip it rather than paying an empty planning+commit cycle
    // after every fed batch. Watermarked plans NEED it: the final
    // no-data batch is what advances the watermark past the last fed
    // data and flushes the windows it closed.
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noDataBatches.toString)
    // Replay-only state-store hygiene: a deterministic gate replay needs
    // neither deep checkpoint history nor mid-run snapshot compaction —
    // both are per-batch file work on the replay's critical path.
    // Production streams keep the defaults (durability and fast restore
    // are exactly what those knobs buy there).
    s2.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    s2.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "1000")
    s2.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "10m")
    extraConfs.foreach { case (k, v) => s2.conf.set(k, v) }
    // Analysis-time checks (e.g. the stateful-operator correctness
    // guard) read SQLConf from the THREAD-ACTIVE session, not from the
    // session the Dataset was built against — without this, whether a
    // replay honors extraConfs depends on which gate ran before it.
    // The previous active session is restored in the finally block so
    // the replay-tuned child (shuffle.partitions=1, extraConfs) cannot
    // leak into later driver-side SQLConf.get reads.
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(s2)
    // The restore must cover build()/start() too: an AnalysisException
    // while PLANNING the replay would otherwise leave the tuned child
    // session thread-active — exactly the leak the restore exists to
    // prevent.
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
      val stream = MemoryStream[A]
      val sinkName = s"${name}_sink_${System.nanoTime()}"
      val ckpt = if (new java.io.File("/dev/shm").isDirectory) s"/dev/shm/graft_$sinkName"
                 else s"${System.getProperty("java.io.tmpdir")}/graft_$sinkName"
      val q = build(stream.toDS())
        .writeStream.format("memory").queryName(sinkName)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        batches.foreach { batch =>
          stream.addData(batch)
          q.processAllAvailable()
        }
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        try q.stop() finally rm(new java.io.File(ckpt))
      }
      s2.table(sinkName)
    } finally {
      prevActive match {
        case Some(p) => org.apache.spark.sql.SparkSession.setActiveSession(p)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
  }

  /** events.ts is parquet TIMESTAMP(NANOS), which Spark can only read
    * as a raw long (spark.sql.legacy.parquet.nanosAsLong, set in
    * Verify/Bench). Convert nanos → a naive timestamp matching what
    * DuckDB reads natively; pass through if a future reader maps it to
    * a timestamp type directly. */
  private def eventsWithTs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val df = t(s, dir, "events")
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df
  }

  /** Flagship: full single-pass completeness profile of lineitem.
    * Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val df = t(spark, "/root/testdata/sf0.001", "lineitem")
    ProfilePasses.completeness(df, df.columns.toSeq)
  }

  // Default-rule generation needs PK/FK hints (Spark has no catalog
  // constraints) — these mirror the TPC-H-ish star schema.
  private val ordersMeta = TableMeta(primaryKey = Seq("o_orderkey"), foreignKeys = Seq("o_custkey"))
  private val lineitemMeta = TableMeta(foreignKeys = Seq("l_orderkey", "l_partkey", "l_suppkey"))

  private def generatedRuleQuery(s: SparkSession, dir: String, table: String,
      meta: TableMeta, ruleName: String): DataFrame = {
    val df = t(s, dir, table)
    val rules = DefaultValidations.generate(df.schema, table, meta)
    val rule = rules.find(_.name == ruleName)
      .getOrElse(throw new IllegalStateException(s"rule $ruleName not generated"))
    s.sql(rule.query).toDF("violation_count")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- P1: row count -------------------------------------------------
    "p1_row_count" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(count(lit(1)).as("row_count"))
    }),

    // ---- P2: per-column null counts (one pass, all columns) ------------
    "p2_null_counts" -> ((s, dir) => {
      val df = t(s, dir, "orders")
      ProfilePasses.nullCounts(df, df.columns.toSeq)
    }),

    // ---- P3: per-column exact distinct counts ---------------------------
    "p3_distinct_counts" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
      ProfilePasses.distinctCounts(df, df.columns.toSeq, exact = true)
    }),

    // ---- P4: duplicate full-row group count -----------------------------
    "p4_duplicate_rows" -> ((s, dir) => {
      ProfilePasses.duplicateGroupCount(t(s, dir, "lineitem"))
    }),

    // ---- P5: numeric stats (min/max/avg/sum/stddev/quartiles) ----------
    "p5_numeric_stats" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
      val stats = ProfilePasses.numericStats(df,
        Seq("l_quantity", "l_extendedprice", "l_discount"), exactPercentiles = true)
      // Round cross-engine-noisy aggregates; min/max are exact.
      stats.select(stats.columns.toIndexedSeq.map { n =>
        if (n.endsWith("_sum")) round(col(n), 2).as(n)
        else if (n.endsWith("_avg") || n.endsWith("_stdev") || n.endsWith("_q1")
          || n.endsWith("_median") || n.endsWith("_q3")) round(col(n), 4).as(n)
        else col(n)
      }: _*)
    }),

    // ---- P6: text length stats ------------------------------------------
    "p6_text_lengths" -> ((s, dir) => {
      val df = t(s, dir, "customer")
      val stats = ProfilePasses.textLengthStats(df, Seq("c_name", "c_mktsegment"))
      stats.select(stats.columns.toIndexedSeq.map { n =>
        if (n.endsWith("_avg_length")) round(col(n), 4).as(n) else col(n)
      }: _*)
    }),

    // ---- P7: text pattern counts (the reference's 3 regexes) -----------
    "p7_text_patterns" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      ProfilePasses.textPatterns(df, Seq("text", "lang", "source"))
    }),

    // ---- P8: date stats --------------------------------------------------
    "p8_date_stats" -> ((s, dir) => {
      val df = t(s, dir, "orders")
      ProfilePasses.dateStats(df, Seq("o_orderdate"), exactDistinct = true)
    }),

    // ---- P9: most-frequent value per column (single job, melt) ---------
    "p9_frequent_values" -> ((s, dir) => {
      val df = t(s, dir, "orders")
      val rowCount = df.count()
      ProfilePasses.frequentValues(df, Seq("o_orderstatus", "o_orderpriority", "o_custkey"), rowCount)
        .select(col("column").as("col_name"), col("value"), col("frequency"),
          round(col("percentage"), 2).as("percentage"))
        .orderBy("col_name")
    }),

    // ---- P10: 3-sigma outlier counts per numeric column -----------------
    "p10_outlier_counts" -> ((s, dir) => {
      val df = t(s, dir, "supplier")
      // Two-pass exactly like the reference CTE: stats then filtered
      // count, but stats broadcast as a 1-row cross join (no re-scan
      // per column, no driver round trip).
      val stats = df.agg(
        avg("s_acctbal").as("m"), stddev_samp("s_acctbal").as("sd"))
      df.crossJoin(broadcast(stats))
        .agg(count(when(col("s_acctbal") > col("m") + col("sd") * 3 ||
          col("s_acctbal") < col("m") - col("sd") * 3, lit(1))).as("s_acctbal_outlier_count"))
    }),

    // ---- P11: sampling via CollectLimit. Sample CONTENT is
    // order-unstable by design (reference LIMIT without ORDER BY), so
    // the gate pins the deterministic shape: row count and the span of
    // sampled keys after sorting.
    "p11_samples" -> ((s, dir) => {
      val sampled = ProfilePasses.samples(t(s, dir, "region"), 3)
      sampled.agg(count(lit(1)).cast("long").as("sample_rows"))
    }),

    // ---- P11 random mode: seed-stable representative sample (shape
    // pinned — rand(seed) values are engine-specific, so the oracle
    // checks the contract: n rows, all distinct customers).
    "p11b_random_samples" -> ((s, dir) => {
      val sampled = ProfilePasses.samples(t(s, dir, "customer"), 5, "random")
      sampled.agg(
        count(lit(1)).cast("long").as("sample_rows"),
        countDistinct(col("c_custkey")).cast("long").as("distinct_keys"))
    }),

    // ---- P12: completeness summary (nulls + distinct + percentages) ----
    "p12_completeness" -> ((s, dir) => {
      val df = t(s, dir, "customer")
      ProfilePasses.completeness(df, df.columns.toSeq).orderBy("column")
        .withColumnRenamed("column", "col_name")
    }),

    // ---- P13: anomaly detection — profile orders, compare against a
    // historical profile with half the row count (a 100% change →
    // severity high, deterministic). The profiling is real; only the
    // historical document is synthesized.
    "p13_anomaly_detection" -> ((s, dir) => {
      val df = t(s, dir, "orders")
      // persist=false: a 2.7 MB table re-scans cheaper than the
      // columnar-cache machinery warms up.
      val current = Profiler.profile(df, "orders", ProfilerConfig(persist = false))
      val historical = current.copy(rowCount = current.rowCount / 2)
      val anomalies = graft.compare.ProfileCompare.detectAnomalies(current, historical)
      import s.implicits._
      anomalies.filter(_.anomalyType == "row_count")
        .map(a => (a.anomalyType, a.severity, a.column.isEmpty))
        .toDF("anomaly_type", "severity", "table_level")
    }),

    // ---- P14: schema-shift detection — the historical profile lacks
    // one current column and carries one retired column. The tiny
    // region table suffices: shift detection is schema-level.
    "p14_schema_shifts" -> ((s, dir) => {
      val df = t(s, dir, "region")
      val current = Profiler.profile(df, "region", ProfilerConfig(persist = false))
      val historical = current.copy(
        completeness = (current.completeness - "r_name")
          .updated("legacy_flag", graft.model.ColumnCompleteness(0, 0, 1, 1)))
      val shifts = graft.compare.ProfileCompare.detectSchemaShifts(current, historical)
      import s.implicits._
      shifts.map(sh => (sh.shiftType, sh.column, sh.severity))
        .toDF("shift_type", "column_name", "severity")
        .orderBy("shift_type", "column_name")
    }),

    // ---- Full profile in 100 TB mode (exact=false): HLL distincts,
    // hash-digest duplicate keys, sketch percentiles, no Expand. The
    // oracle pins the fields that stay exact in scale mode (counts,
    // min/max, digest-keyed duplicate groups); the sketch outputs are
    // covered by unit tests against their exact counterparts.
    "scale_profile_lineitem" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
      // persist = false: the separate cache-populate scan and the
      // columnar InMemoryRelation reads cost MORE than letting each
      // overlapped pass re-scan parquet with its own column pruning —
      // measured per-pass both modes (ProfilePassBench r22: cold 14.5 s
      // no-persist vs 31.1 s persist, warm 9.9 vs 9.7) and at gate
      // level (isolated A/B below). It is also the only shape that
      // exists at 100 TB: a table that size cannot be cached, while
      // pruned columnar re-scans parallelize per pass.
      val p = Profiler.profile(df, "lineitem",
        ProfilerConfig(exact = false, persist = false))
      import s.implicits._
      Seq((p.rowCount, p.completeness("l_orderkey").nulls,
        p.completeness("l_quantity").nulls, p.duplicateCount,
        p.numericStats("l_quantity").min.get, p.numericStats("l_quantity").max.get))
        .toDF("row_count", "l_orderkey_nulls", "l_quantity_nulls",
          "duplicate_count", "l_quantity_min", "l_quantity_max")
    }),

    // ---- D-family: generated default rules, executed as Spark SQL ------
    "d1_not_empty" -> ((s, dir) =>
      generatedRuleQuery(s, dir, "orders", ordersMeta, "check_orders_not_empty")),

    "d2_pk_unique" -> ((s, dir) =>
      generatedRuleQuery(s, dir, "orders", ordersMeta, "check_orders_pk_unique")),

    "d4_unique" -> ((s, dir) =>
      generatedRuleQuery(s, dir, "part", TableMeta.empty, "check_p_partkey_unique")),

    "d6_positive" -> ((s, dir) =>
      generatedRuleQuery(s, dir, "part", TableMeta.empty, "check_p_retailprice_positive")),

    "d7_not_zero" -> ((s, dir) =>
      generatedRuleQuery(s, dir, "lineitem", lineitemMeta, "check_l_extendedprice_not_zero")),

    "d8_date_sanity" -> ((s, dir) => {
      val df = t(s, dir, "orders")
      val rules = DefaultValidations.generate(df.schema, "orders", ordersMeta)
      val notFuture = rules.find(_.name == "check_o_orderdate_not_future").get
      val past = rules.find(_.name == "check_o_orderdate_reasonable_past").get
      s.sql(notFuture.query).toDF("not_future_violations")
        .crossJoin(s.sql(past.query).toDF("reasonable_past_violations"))
    }),

    "d10_outliers" -> ((s, dir) =>
      generatedRuleQuery(s, dir, "customer", TableMeta.empty, "check_c_acctbal_outliers")),

    // ---- D3: row_growth — the reference's self-referential
    // placeholder kept verbatim (prev count reads the same table, so
    // the flag is always 0); real history-aware detection lives in
    // ProfileCompare. This entry proves the generated SQL executes.
    "d3_row_growth" -> ((s, dir) =>
      generatedRuleQuery(s, dir, "orders", ordersMeta, "check_orders_row_growth")),

    // ---- D5: not_null needs declared non-nullable columns (parquet
    // is all-nullable) — generated from an explicit strict schema and
    // run over the same literal rows on both engines.
    "d5_not_null" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("label", StringType, nullable = false),
        StructField("note", StringType, nullable = true)))
      val rows = java.util.Arrays.asList(
        Row(1L, "a", null), Row(2L, "b", "x"), Row(3L, "c", null))
      val df = s.createDataFrame(rows, schema)
      df.createOrReplaceTempView("strict_t")
      val rules = DefaultValidations.generate(df.schema, "strict_t",
        TableMeta(primaryKey = Seq("id")))
      val rule = rules.find(_.name == "check_label_not_null").get
      s.sql(rule.query).toDF("violation_count")
    }),

    // ---- D8 (end_date_order): end-ish vs guessed start column.
    "d8b_end_date_order" -> ((s, dir) => {
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW projects AS
        SELECT CAST(s AS DATE) AS start_date, CAST(e AS DATE) AS end_date
        FROM VALUES ('2024-01-01','2024-02-01'), ('2024-03-01','2024-02-15'),
                    (NULL,'2024-01-01'), ('2024-01-01',NULL) AS t(s, e)""")
      val view = s.table("projects")
      val rules = DefaultValidations.generate(view.schema, "projects", TableMeta.empty)
      val rule = rules.find(_.name == "check_end_date_end_date_order").get
      s.sql(rule.query).toDF("violation_count")
    }),

    // ---- D9: all five string-constraint subrules over a contacts
    // fixture (emails, phones, postal codes, varchar length hint,
    // non-nullable empty-string check).
    "d9_string_rules" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("email", StringType, nullable = true),
        StructField("phone", StringType, nullable = true),
        StructField("postal_code", StringType, nullable = true),
        StructField("name", StringType, nullable = false)))
      val rows = java.util.Arrays.asList(
        Row("a@b.com", "+1 (555) 123-4567", "12345", "Alice"),
        Row("bad-email", "555 1234", "AB", "Bob"),
        Row("x@y.org", "nope", "99999", ""),
        Row("no-at-sign", "(02) 9999 8888", "7", "VeryLongName!"))
      val df = s.createDataFrame(rows, schema)
      df.createOrReplaceTempView("contacts")
      val rules = DefaultValidations.generate(df.schema, "contacts",
        TableMeta(varcharLengths = Map("name" -> 10)))
      def scalar(ruleName: String, alias: String) =
        s.sql(rules.find(_.name == ruleName).get.query).toDF(alias)
      scalar("check_email_valid_email", "email_violations")
        .crossJoin(scalar("check_phone_valid_phone", "phone_violations"))
        .crossJoin(scalar("check_postal_code_valid_postal", "postal_violations"))
        .crossJoin(scalar("check_name_max_length", "maxlen_violations"))
        .crossJoin(scalar("check_name_not_empty_string", "empty_violations"))
    }),

    // ---- D11: reference-table size cap (name-triggered).
    "d11_ref_table_size" -> ((s, dir) => {
      val df = t(s, dir, "region")
      df.createOrReplaceTempView("region_lookup")
      val rules = DefaultValidations.generate(df.schema, "region_lookup", TableMeta.empty)
      val rule = rules.find(_.name == "check_region_lookup_ref_table_size").get
      s.sql(rule.query).toDF("ref_table_rows")
    }),

    // ---- D15: updated-after-created pair check.
    "d15_updated_after_created" -> ((s, dir) => {
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW records AS
        SELECT CAST(c AS TIMESTAMP) AS created_at, CAST(u AS TIMESTAMP) AS updated_at
        FROM VALUES ('2024-01-01 10:00:00','2024-01-02 10:00:00'),
                    ('2024-02-01 10:00:00','2024-01-15 10:00:00'),
                    ('2024-03-01 10:00:00',NULL) AS t(c, u)""")
      val view = s.table("records")
      val rules = DefaultValidations.generate(view.schema, "records", TableMeta.empty)
      val rule = rules.find(_.name == "check_updated_at_after_created_at").get
      s.sql(rule.query).toDF("violation_count")
    }),

    // ---- Validator operator coverage: >=, !=, unknown operator, and
    // per-rule error capture (broken SQL fails that rule only).
    "validator_ops" -> ((s, dir) => {
      import graft.model.ValidationRule
      t(s, dir, "part")
      val rules = Seq(
        ValidationRule("op_ge_pass", "", "SELECT COUNT(*) FROM part", ">=", 1),
        ValidationRule("op_ge_fail", "", "SELECT COUNT(*) FROM part", "greater_than_or_equal", 10000000),
        ValidationRule("op_ne_pass", "", "SELECT COUNT(*) FROM part", "not_equals", 0),
        ValidationRule("op_ne_fail", "", "SELECT 5", "!=", 5),
        ValidationRule("op_unknown", "", "SELECT 1", "fuzzy_equals", 1),
        ValidationRule("op_error", "", "SELECT COUNT(*) FROM definitely_missing_table", "equals", 0))
      val results = Validator.run(s, rules)
      import s.implicits._
      results.map(r => (r.ruleName, r.isValid, r.error.isDefined))
        .toDF("rule_name", "is_valid", "has_error").orderBy("rule_name")
    }),

    // ---- P10 value lists: sorted + capped → deterministic. events
    // .value is the one fixture column with genuine 3-sigma outliers.
    "p10_outlier_values" -> ((s, dir) => {
      val df = t(s, dir, "events")
      val st = df.agg(avg("value"), stddev_samp("value")).head()
      ProfilePasses.outliers(df,
        Map("value" -> ((st.getDouble(0), st.getDouble(1)))), 3.0, 10)
    }),

    "d12_null_rate" -> ((s, dir) => {
      val df = t(s, dir, "customer")
      val rules = DefaultValidations.generate(df.schema, "customer", TableMeta(primaryKey = Seq("c_custkey")))
      s.sql(rules.find(_.name == "check_c_name_null_rate").get.query).toDF("null_rate_pct")
    }),

    "d13_distribution" -> ((s, dir) =>
      generatedRuleQuery(s, dir, "orders", ordersMeta, "check_o_orderstatus_distribution")),

    "d14_ref_distribution" -> ((s, dir) =>
      generatedRuleQuery(s, dir, "lineitem", lineitemMeta, "check_l_suppkey_ref_distribution")),

    // ---- Validator end-to-end: rules -> scalar -> operator compare -----
    "validator_run" -> ((s, dir) => {
      import graft.model.ValidationRule
      t(s, dir, "orders"); t(s, dir, "lineitem"); t(s, dir, "part")
      val rules = Seq(
        ValidationRule("check_orders_not_empty", "", "SELECT COUNT(*) FROM orders", "greater_than", 0),
        ValidationRule("check_quantity_no_negatives", "", "SELECT COUNT(*) FROM lineitem WHERE l_quantity < 0", "equals", 0),
        ValidationRule("check_avg_part_size_between", "", "SELECT ROUND(AVG(p_size), 4) FROM part", "between", Seq(1, 50)),
        ValidationRule("check_status_count", "", "SELECT COUNT(DISTINCT o_orderstatus) FROM orders", "less_than_or_equal", 3),
        ValidationRule("check_discount_max", "", "SELECT MAX(l_discount) FROM lineitem", "less_than", 1.0))
      val results = Validator.run(s, rules)
      import s.implicits._
      results.map { r =>
        val actual = graft.validation.ScalarCompare.toBigDecimal(r.actualValue)
          .map(_.toDouble).getOrElse(Double.NaN)
        (r.ruleName, r.isValid, actual)
      }.toDF("rule_name", "is_valid", "actual_value").orderBy("rule_name")
    }),

    // ---- "Rules are arbitrary Spark SQL", pinned with the reference
    // README's own my_rules.yaml shapes (reference: README.md:236-255):
    // check_customer_distribution is the verbatim CTE + scalar-subquery
    // percentage rule (customer_id → o_custkey), and
    // check_shipping_timeframe exercises a two-table join with interval
    // arithmetic. The synthetic orders/lineitem dates are uncorrelated,
    // so the shipping rule genuinely fails — the gate records the
    // violation count and is_valid=false, proving failures surface with
    // their actual values rather than as errors.
    "validator_sql_rules" -> ((s, dir) => {
      import graft.model.ValidationRule
      t(s, dir, "orders"); t(s, dir, "lineitem")
      val rules = Seq(
        ValidationRule("check_customer_distribution",
          "Make sure no single customer represents >50% of orders",
          """WITH customer_counts AS (
            |  SELECT o_custkey, COUNT(*) AS order_count,
            |  COUNT(*) * 100.0 / (SELECT COUNT(*) FROM orders) AS percentage
            |  FROM orders
            |  GROUP BY o_custkey
            |)
            |SELECT COUNT(*) FROM customer_counts WHERE percentage > 50""".stripMargin,
          "equals", 0),
        ValidationRule("check_shipping_timeframe",
          "Check if shipping dates make sense",
          "SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
            "WHERE l_shipdate < o_orderdate OR l_shipdate > o_orderdate + INTERVAL 30 DAY",
          "equals", 0))
      val results = Validator.run(s, rules)
      import s.implicits._
      results.map { r =>
        val actual = graft.validation.ScalarCompare.toBigDecimal(r.actualValue)
          .map(_.toDouble).getOrElse(Double.NaN)
        (r.ruleName, r.isValid, actual)
      }.toDF("rule_name", "is_valid", "actual_value").orderBy("rule_name")
    }),

    // ---- Rule-file round trip: export rules to YAML, load them back,
    // and run the loaded set — the gate covers the serialization layer
    // end-to-end (mirroring the reference's my_rules.yaml →
    // results.json live flow). Validator.run is eager, so the temp
    // file can be deleted before the DataFrame is consumed.
    "rules_file_roundtrip" -> ((s, dir) => {
      import graft.model.ValidationRule
      t(s, dir, "orders"); t(s, dir, "part")
      val rules = Seq(
        ValidationRule("rt_orders_rows", "orders must not be empty",
          "SELECT COUNT(*) FROM orders", "greater_than", 0),
        ValidationRule("rt_part_price_positive", "no negative retail prices",
          "SELECT COUNT(*) FROM part WHERE p_retailprice < 0", "equals", 0),
        ValidationRule("rt_part_size_between", "plausible average size",
          "SELECT ROUND(AVG(p_size), 4) FROM part", "between", Seq(1, 50)))
      val path = java.nio.file.Files.createTempFile("graft_rules_rt", ".yaml")
      try {
        graft.validation.RuleFiles.export(rules, path.toString, "yaml")
        val loaded = graft.validation.RuleFiles.load(path.toString)
        val results = Validator.run(s, loaded)
        import s.implicits._
        results.map { r =>
          val actual = graft.validation.ScalarCompare.toBigDecimal(r.actualValue)
            .map(_.toDouble).getOrElse(Double.NaN)
          (r.ruleName, r.isValid, actual)
        }.toDF("rule_name", "is_valid", "actual_value").orderBy("rule_name")
      } finally { java.nio.file.Files.deleteIfExists(path); () }
    }),

    // ---- P15: trend population across three profile generations with
    // pinned timestamps (Instant.now is overridden so the series is
    // deterministic; the values come from real profiles of region).
    "p15_trends" -> ((s, dir) => {
      val df = t(s, dir, "region")
      val base = Profiler.profile(df, "region", ProfilerConfig(persist = false))
      val p1 = base.copy(timestamp = "2026-01-01T00:00:00Z", rowCount = base.rowCount - 2)
      val p2 = base.copy(timestamp = "2026-01-02T00:00:00Z", rowCount = base.rowCount - 1)
      val p3 = base.copy(timestamp = "2026-01-03T00:00:00Z")
      val t2 = graft.compare.ProfileCompare.appendTrends(graft.model.Trends.empty, p1, p2)
      val t3 = graft.compare.ProfileCompare.appendTrends(t2, p2, p3)
      import s.implicits._
      t3.rowCounts.zip(t3.duplicates).map { case (rc, dup) =>
        (rc.timestamp, rc.value, dup.value)
      }.toDF("ts", "row_count", "duplicate_count").orderBy("ts")
    }),

    // ---- Profiler extension: pairwise Pearson correlations of the
    // numeric columns (one fused corr agg, melted map-side) — the
    // redundancy/leakage screen. Both engines' corr is textbook
    // Pearson with pairwise null deletion; 4dp absorbs co-moment
    // summation-order differences.
    "p16_correlations" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
      ProfilePasses.correlations(df,
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("col_a"), col("col_b"),
          round(col("corr_coef"), 4).as("corr_coef"))
        .orderBy("col_a", "col_b")
    }),

    // ---- Profiler extension: per-column value-distribution Shannon
    // entropy (melt + one (column,value) agg + per-column fold).
    // Entropy depends only on the count multiset, so the opaque
    // string cast both engines group through cannot perturb it; 4dp
    // absorbs libm log differences.
    "p17_value_entropy" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
      ProfilePasses.valueEntropy(df,
          Seq("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"))
        .select(col("column_name"), col("distinct_values"),
          round(col("entropy_bits"), 4).as("entropy_bits"),
          round(col("normalized_entropy"), 4).as("normalized_entropy"))
        .orderBy("column_name")
    }),

    // ---- Profiler extension: categorical association (Cramér's V
    // over the χ² contingency) for two pairs across two tables —
    // lineitem returnflag×linestatus (strongly associated: returns
    // only occur among finished lines) and orders status×priority
    // (near-independent). All arithmetic replays in SQL at 4dp.
    "p18_categorical_association" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      ProfilePasses.categoricalAssociation(li, "l_returnflag", "l_linestatus")
        .unionAll(ProfilePasses.categoricalAssociation(
          ord, "o_orderstatus", "o_orderpriority"))
        .select(col("col_a"), col("col_b"), col("n"),
          round(col("chi2"), 4).as("chi2"),
          round(col("cramers_v"), 4).as("cramers_v"))
        .orderBy("col_a")
    }),

    // ---- Profiler extension: binned distribution drift (PSI terms +
    // binned-KS cumulative gap) between a reference and a current
    // snapshot — current synthesizes a real 20% price shift, so the
    // drift signal is genuine. Bin edges derive from the reference
    // min/max with identical IEEE arithmetic on both engines (no
    // data-dependent tie hazard); ln at 1 ulp absorbed by 4dp.
    "cmp_psi_drift" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ref = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
        .select(col("l_extendedprice").cast("double").as("v"))
      val cur = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
        .select((col("l_extendedprice").cast("double") * 1.2).as("v"))
      graft.compare.Drift.binnedDrift(ref, cur, "v", numBins = 10)
        .select(col("bin"), round(col("ref_share"), 6).as("ref_share"),
          round(col("cur_share"), 6).as("cur_share"),
          round(col("psi_term"), 4).as("psi_term"),
          round(col("cum_gap"), 6).as("cum_gap"))
        .orderBy("bin")
    }),

    // ---- EXACT two-sample KS statistic between the same snapshot
    // split as cmp_psi_drift — the bin-free drift answer; the Spark
    // side computes it with the funnel-free distributed prefix-sum
    // walk, the oracle with a value-ordered window. Same scale/shift,
    // so the two drift gates corroborate each other.
    "cmp_ks_exact" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ref = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
        .select(col("l_extendedprice").cast("double").as("v"))
      val cur = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
        .select((col("l_extendedprice").cast("double") * 1.2).as("v"))
      graft.compare.Drift.ksStatistic(ref, cur, "v")
        .select(round(col("ks_stat"), 6).as("ks_stat"), col("at_value"),
          col("n_ref"), col("n_cur"))
    }),

    // ---- LLM-pipeline: exact-duplicate groups by content fingerprint.
    // The base table has no exact dups at gate scale, so the query
    // unions in a case/whitespace-mangled copy of every 10th doc — the
    // fingerprint must normalize all 50 back onto their originals.
    "ll1_exact_dup_groups" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val mangled = df.filter(col("doc_id") % 10 === 0)
        .select(concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
      val all = df.select("text").unionAll(mangled)
      Dedup.exactDupGroups(all, "text")
        .agg(count(lit(1)).as("dup_group_count"),
          sum("dup_count").cast("long").as("dup_rows"))
    }),

    // ---- LLM-pipeline: near-dup pairs via MinHash-LSH + exact-Jaccard
    // verification. LSH (32 bands × 4 rows) only shapes the candidate
    // set; the emitted pairs are exact word-3gram Jaccard ≥ 0.8, so
    // the brute-force DuckDB oracle matches when recall holds (miss
    // probability ~5e-8 per true pair at the threshold).
    "ll2_near_dup_pairs" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ---- Same operator in the one-permutation-hashing scale mode:
    // ONE hash per shingle instead of 128 (the map-side cost that
    // dominates dedup at corpus scale). LSH still only shapes the
    // candidate set and the emitted pairs are exact Jaccard, so the
    // same brute-force oracle applies while recall holds — the bench
    // delta vs ll2 is the measured OPH map-side saving at equal
    // output.
    "ll2b_near_dup_pairs_oph" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.8, signatureMode = "oph")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ---- LLM-pipeline: near-dup removal (lower id survives; every
    // id on the right of a surviving pair is dropped). Emits the full
    // survivor id list — a strong gate against the brute-force oracle.
    "ll8_drop_near_dups" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Dedup.dropNearDuplicates(df, "doc_id", "text", threshold = 0.8)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // ---- Near-dup removal in the cluster-exact policy: exactly one
    // survivor (the component-minimum doc) per near-dup cluster, via
    // the connected-components path — ll8 gates the greedy policy;
    // this closes the components policy against the same oracle
    // closure ll11/ll13 replay.
    "ll8b_drop_near_dups_components" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Dedup.dropNearDuplicates(df, "doc_id", "text", threshold = 0.8, policy = "components")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    // ---- Corpus duplication profile: the cluster-size histogram of
    // ll2's verified pair graph — same recursive-closure oracle, two
    // more group-bys.
    "ll30_cluster_histogram" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.8)
      Dedup.clusterSizeHistogram(pairs).orderBy("cluster_size")
    }),

    // ---- LLM-pipeline: exact substring-level dedup (the suffix-
    // array-dedup shape at token granularity) — maximal token spans
    // ≥ 6 shared across document pairs, found by anchoring on EVERY
    // positional 6-gram (df ≥ 2 prefiltered, equi-keyed on the gram
    // hash with string-verify in the join) and merging consecutive
    // anchors along each (pair, diagonal). The oracle replays the
    // same construction from scratch in SQL — gram lists, the join,
    // and the gaps-and-islands run merge.
    "ll31_substring_dedup" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      // uncapped: the oracle replays the exact construction (max gram
      // occupancy at the test SFs is far below the production cap)
      Dedup.sharedSpans(df, "doc_id", "text", minSpan = 6, maxGramOccupancy = 0)
        .orderBy("id_a", "id_b", "start_a", "start_b")
    }),

    // ---- Removal side of ll31: keep-earliest policy (spans survive
    // in the lower id), per-document union of the b-side spans as
    // merged (start, end] token intervals — what a cleaning pass
    // would actually cut.
    "ll31b_span_removal" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val spans = Dedup.sharedSpans(df, "doc_id", "text", minSpan = 6,
        maxGramOccupancy = 0)
      Dedup.spanRemovalIntervals(spans)
        .orderBy("doc_id", "span_start", "span_end")
    }),

    // ---- Near-dup removal keeping the BEST cluster member by score
    // (here: text length — "keep the longest", a real crawl policy).
    // Components come from the same verified pair graph as ll8b; the
    // keeper is argmax (score, id) via a partial-aggregated struct
    // max, never a per-component window. Full survivor id list.
    "ll28_drop_keep_best" -> ((s, dir) => {
      val df = t(s, dir, "documents")
        .withColumn("score", length(col("text")).cast("long"))
      Dedup.dropNearDuplicatesKeepBest(df, "doc_id", "text", "score", threshold = 0.8)
        .select(col("doc_id"), col("score")).orderBy("doc_id")
    }),

    // ---- LLM-pipeline: connected components over the near-dup pair
    // graph (alternating large-star/small-star) — the cluster-exact
    // canonicalization step: every paired document labeled with its
    // component's minimum doc_id. The pair set is ll2's (hash-verified
    // exact Jaccard ≥ 0.8), so the oracle rebuilds the same edges in
    // SQL and closes them with a recursive min-label CTE — reachable-
    // set minimum ≡ component minimum on an undirected graph.
    "ll11_dedup_components" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.8)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    // ---- Full-corpus cluster assignment: componentIds labels EVERY
    // document — paired docs with their component minimum (ll11's
    // surface) AND unpaired docs as their own singleton via the
    // left-join + coalesce path, which ll11 never exercises. The
    // oracle wraps the same recursive-CTE closure in a left join
    // against the corpus.
    "ll13_component_ids" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.8)
      Dedup.componentIds(df.select("doc_id"), "doc_id", pairs)
        .orderBy("doc_id")
    }),

    // ---- The composed dedup pipeline from ONE banded scan — the
    // documented shared-pair-set flow the cookbook prescribes: a single
    // bandBuckets frame feeds the occupancy audit AND the candidate
    // join (exchange-reused, PlanSpec-asserted), candidates verify with
    // exact Jaccard, components label every doc, and the survivor flag
    // marks the one canonical doc per cluster. The audit count rides
    // along as a column ("no silent caps" is part of the pipeline's
    // output contract, not a side channel): 0 hot buckets on this
    // corpus = the pair set saw every candidate.
    "ll15_pipeline" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      // Materialized once via eager localCheckpoint: the component
      // loop runs separate actions, so materialization — not same-plan
      // exchange reuse — is what makes the banded scan run once across
      // the audit, the candidate join, and the labeling. Row-block
      // checkpoint, NOT a columnar persist(): this frame is read ~6
      // times (audit, self-join both sides, prune branch, two semi/
      // verify lookups) and the InMemoryRelation encode/decode made
      // those reads 3.5-6x slower than the checkpoint in a direct A/B
      // (pairs-from-persist 5.7-9.6 s vs pairs-from-checkpoint 1.6-1.7
      // s at sf0.1 — see OPTIMIZATION_r21.md). Blocks are freed by the
      // context cleaner once the frame is unreferenced.
      val buckets = graft.util.Materialize.rowBlocks(
        Dedup.bandBuckets(df, "doc_id", "text"))
      val nHotBuckets = Dedup.cappedBucketsFromBuckets(buckets)
        .agg(count(lit(1))).head().getLong(0)
      val pairs = Dedup.nearDupPairsFromBuckets(df, "doc_id", "text", buckets,
        threshold = 0.8)
      Dedup.componentIds(df.select("doc_id"), "doc_id", pairs)
        .withColumn("survivor", col("doc_id") === col("component"))
        .withColumn("n_hot_buckets", lit(nHotBuckets))
        .orderBy("doc_id")
    }),

    // ---- LLM-pipeline: SimHash near-dup pairs (band-blocked, exact
    // Hamming verify). The gate runs the md5-derived sketch mode, which
    // DuckDB replays nibble-for-nibble; and because maxHamming (7) <
    // bands (8), pigeonhole makes the banding lossless, so the oracle
    // is simply ALL pairs at Hamming ≤ 7 — a full hash-checked gate.
    // DedupSpec additionally pins blocking recall and pair semantics
    // (and the xxhash64 scale mode).
    "ll6_simhash_pairs" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 7, blocks = 8,
          hashMode = "md5")
        .orderBy("id_a", "id_b")
    }),

    // ---- LLM-pipeline: partial-overlap pairs via winnowing
    // fingerprints (rolling-hash scheme). The gate runs the md5 hash
    // mode — fingerprints are lexicographic minima of md5 hex strings,
    // which DuckDB reproduces exactly → full hash-checked gate; the
    // winnowing guarantee and the xxhash64 scale mode are pinned in
    // TextAnalysisSpec/DedupSpec.
    "ll7_overlap_pairs" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      // The fixture's tiny vocabulary makes short char-grams common to
      // all docs; 40 shared fingerprints cleanly separates genuinely
      // overlapping pairs (100+) from coincidence (<40).
      Dedup.overlapPairs(df, "doc_id", "text", minShared = 40, hashMode = "md5")
        .orderBy("id_a", "id_b")
    }),

    // ---- The cap audit for ll7 ("no silent caps"): every fingerprint
    // the df<=100 pruning step dropped, with how many documents carry
    // it. Nonzero even at sf0.01 (12 fps) — the cap genuinely binds,
    // and at sf0.1 it swallows whole near-dup clusters (1615 fps;
    // overlapPairs finds 2 pairs at cap=100 vs 101 at cap=250), which
    // is why this surface exists as a first-class operator.
    "ll7b_capped_fingerprints" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Dedup.cappedFingerprints(df, "doc_id", "text", hashMode = "md5")
        .orderBy(col("df_count").desc, col("fp"))
    }),

    // ---- LLM-pipeline: exact brute-force cosine top-k (the ANN
    // baseline; queries broadcast, two-phase top-k, no window funnel).
    "ll3_ann_topk" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val q = df.filter(col("vec_id") < 5)
      Similarity.bruteForceTopK(df, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 4).as("cosine_sim"))
        .orderBy("query_id", "rank")
    }),

    // ---- LLM-pipeline: LSH-bucketed approximate top-k (the 100 TB
    // path: bucket equi-join instead of cross join). The seed-42
    // hyperplanes are embedded as literals in the DuckDB oracle, which
    // replays bucketing + multiprobe + exact cosine rank — a full
    // hash-checked gate; SimilaritySpec additionally pins recall
    // against the exact baseline.
    "ll4_ann_lsh_topk" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val q = df.filter(col("vec_id") < 5)
      Similarity.annTopK(df, "vec_id", "embedding", q, "vec_id", "embedding",
        dim = 64, k = 5, nPlanes = 6, multiprobe = 1)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 4).as("cosine_sim"))
        .orderBy("query_id", "rank")
    }),

    // ---- LLM-pipeline: IVF approximate top-k (k-means coarse
    // quantizer + nProbe cell search). Approximate → rows-only check;
    // SimilaritySpec pins recall against the exact baseline.
    "ll5_ann_ivf_topk" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val q = df.filter(col("vec_id") < 5)
      // One refinement iteration: each k-means iteration recompiles
      // its assignment expression (fixed janino cost that dominates at
      // gate scale and amortizes at cluster scale). Centroid init is
      // ordered by vec_id — same algorithm, but an ordering DuckDB can
      // reproduce, which lets the oracle replay the whole Lloyd
      // iteration in SQL (the distributed mean update diverges from
      // DuckDB's only in summation order, ~1e-14 relative — absorbed
      // by the 4dp rounding as long as no assignment sits at an exact
      // tie, which the recall spec's margin checks make implausible).
      Similarity.ivfTopK(df, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 3, kmeansIterations = 1,
        centroidInitOrder = Some(Seq(col("vec_id"))))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 4).as("cosine_sim"))
        .orderBy("query_id", "rank")
    }),

    // ---- LLM-pipeline: embedding-space near-duplicate pairs (sign-
    // bucket LSH candidates verified with exact cosine). The synthetic
    // embeddings corpus has no planted near-dups (max pairwise cosine
    // ~0.51), so the gate fixture lowers the threshold to 0.3 with 4
    // planes to exercise the bucket join + verify path on real rows;
    // the seed-42 hyperplanes are replayed as literals in the oracle,
    // making this a full hash-checked gate like ll4.
    "ll9_embedding_near_dups" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      Similarity.nearDupByEmbedding(df, "vec_id", "embedding", dim = 64,
          threshold = 0.3, nPlanes = 4)
        .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy("id_a", "id_b")
    }),

    // ---- The occupancy audit for ll9's sign-bucket join ("no silent
    // caps", the LSH counterpart of ll7b): every sign bucket holding
    // more than 25 vectors, with its occupancy — the buckets a capped
    // nearDupByEmbedding would prune, each one a candidate cluster the
    // join cannot pair. The seed-42 hyperplanes replay as literals in
    // the oracle, so bucket ids AND occupancies are fully hash-checked.
    "ll12_capped_buckets" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      Similarity.cappedBuckets(df, "vec_id", "embedding", dim = 64,
          nPlanes = 4, maxBucketOccupancy = 25)
        .orderBy("bucket")
    }),

    // ---- The occupancy audit for the MinHash band join (the hazard
    // class: n documents sharing a band signature meet as ~n²/2 join
    // rows). The corpus is made degenerate ON PURPOSE — every even
    // doc_id gets one constant text (the uncollapsed-exact-duplicate
    // shape real corpora have), odd doc_ids get pairwise-disjoint
    // token sets — so the ground truth is derivable without replaying
    // xxhash64: the duplicate cluster occupies exactly one bucket in
    // each of the 32 bands (identical docs ⇒ identical signatures),
    // every singleton bucket stays at occupancy 1, and the audit must
    // report exactly 32 hot buckets, each at the cluster's size.
    "ll12b_capped_band_buckets" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val corpus = df.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0,
            lit("the quick brown fox jumps over the lazy dog"))
          .otherwise(concat_ws(" ",
            concat(lit("u"), col("doc_id"), lit("a")),
            concat(lit("u"), col("doc_id"), lit("b")),
            concat(lit("u"), col("doc_id"), lit("c")))).as("text"))
      Dedup.cappedBuckets(corpus, "doc_id", "text", maxBucketOccupancy = 100)
        .agg(count(lit(1)).as("n_hot_buckets"),
          min("occupancy").as("min_occupancy"),
          max("occupancy").as("max_occupancy"))
    }),

    // ---- The occupancy audit for the SimHash block-key join — the
    // last member of the "no silent caps" family (ll7b fingerprints,
    // ll12 sign buckets, ll12b band buckets). Same derived-ground-truth
    // construction as ll12b: even doc_ids share one constant text, so
    // their identical 64-bit sketches occupy the SAME (tbl, key) in
    // every one of the C(6,3)=20 Manku block tables — the ~2^32 bucket
    // space bounds only random collisions, never exact-duplicate
    // clusters — while pairwise-disjoint odd docs stay at occupancy ~1.
    // The audit must report exactly 20 hot keys, one per table, each at
    // the cluster size; the capped join must emit 0 candidates.
    "ll14_capped_block_keys" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val corpus = df.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0,
            lit("the quick brown fox jumps over the lazy dog"))
          .otherwise(concat_ws(" ",
            concat(lit("u"), col("doc_id"), lit("a")),
            concat(lit("u"), col("doc_id"), lit("b")),
            concat(lit("u"), col("doc_id"), lit("c")))).as("text"))
      val keys = Dedup.blockKeys(corpus, "doc_id", "text")
      val audit = Dedup.cappedBlockKeysFromKeys(keys, maxBucketOccupancy = 100)
        .agg(count(lit(1)).as("n_hot_keys"),
          countDistinct(col("tbl")).as("n_tables"),
          min("occupancy").as("min_occupancy"),
          max("occupancy").as("max_occupancy"))
      val capped = Dedup
        .simhashNearDupPairsFromKeys(keys, maxHamming = 3, maxBucketOccupancy = 100)
        .agg(count(lit(1)).as("n_capped_pairs"))
      audit.crossJoin(capped)
    }),

    // ---- Embedding-cluster quality: per label, cohesion (mean cosine
    // to own centroid) and separation (max cosine to another label's
    // centroid) — one (label, pos) scalar aggregate for the centroids,
    // one broadcast-join scan for the cosines.
    "ll27_cluster_quality" -> ((s, dir) => {
      graft.similarity.Similarity.clusterQuality(
          t(s, dir, "embeddings"), "embedding", "label")
        .select(col("label"), col("n"),
          round(col("mean_cos_to_centroid"), 4).as("mean_cos_to_centroid"),
          round(col("nearest_other_centroid_cos"), 4).as("nearest_other_centroid_cos"))
        .orderBy("label")
    }),

    // ---- Chunk→document mean pooling: one vector per label (the
    // pooled "document" of its member chunks), L2-normalized, dumped
    // as (label, pos, value) rows — every element checked.
    "ll29_mean_pool" -> ((s, dir) => {
      graft.similarity.Similarity.meanPool(
          t(s, dir, "embeddings"), "label", "embedding", normalize = true)
        .select(col("label"),
          posexplode(col("vec")).as(Seq("pos", "v")))
        .select(col("label").cast("long").as("label"), col("pos").cast("long").as("pos"),
          round(col("v"), 4).as("v"))
        .orderBy("label", "pos")
    }),

    // ---- Source factory: the CSV path produces the same profile as
    // the parquet path. The gate round-trips the nation fixture
    // through a header'd CSV file, loads it back through
    // Source.parse("csv:…") (header + inferSchema — the factory's
    // declared semantics), and aggregates a typed profile the oracle
    // computes straight off the parquet: identical values prove the
    // CSV reader's schema inference and value parsing, not just
    // plumbing. Explicit casts pin the aggregate types on both sides
    // (inferSchema may narrow ints).
    "src_csv_profile" -> ((s, dir) => {
      val supplier = t(s, dir, "supplier")
      val csvDir = System.getProperty("java.io.tmpdir") +
        "/graft_src_csv_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      supplier.write.mode("overwrite").option("header", "true").csv(csvDir)
      val df = graft.sources.Source.parse(s"csv:$csvDir").load(s)
      df.agg(
        count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("s_nationkey")).cast("long").as("n_nations"),
        min(col("s_suppkey")).cast("long").as("min_key"),
        max(col("s_suppkey")).cast("long").as("max_key"),
        sum(col("s_suppkey")).cast("long").as("key_sum"),
        min(col("s_name")).as("min_name"),
        max(col("s_name")).as("max_name"),
        round(sum(col("s_acctbal")), 2).as("acctbal_sum"),
        round(avg(col("s_acctbal")), 4).as("acctbal_avg"))
    }),

    // ---- Source factory, JSON path: same round-trip proof as
    // src_csv_profile (spark JSON lines out, Source.parse("json:…")
    // back in, typed profile vs the oracle's direct parquet read).
    "src_json_profile" -> ((s, dir) => {
      val supplier = t(s, dir, "supplier")
      val jsonDir = System.getProperty("java.io.tmpdir") +
        "/graft_src_json_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      supplier.write.mode("overwrite").json(jsonDir)
      val df = graft.sources.Source.parse(s"json:$jsonDir").load(s)
      df.agg(
        count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("s_nationkey")).cast("long").as("n_nations"),
        min(col("s_suppkey")).cast("long").as("min_key"),
        max(col("s_suppkey")).cast("long").as("max_key"),
        sum(col("s_suppkey")).cast("long").as("key_sum"),
        min(col("s_name")).as("min_name"),
        max(col("s_name")).as("max_name"),
        round(sum(col("s_acctbal")), 2).as("acctbal_sum"),
        round(avg(col("s_acctbal")), 4).as("acctbal_avg"))
    }),

    // ---- Source factory, ORC path: same round-trip proof (columnar
    // format #2 — schema and values survive the ORC writer/reader).
    "src_orc_profile" -> ((s, dir) => {
      val supplier = t(s, dir, "supplier")
      val orcDir = System.getProperty("java.io.tmpdir") +
        "/graft_src_orc_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      supplier.write.mode("overwrite").orc(orcDir)
      val df = graft.sources.Source.parse(s"orc:$orcDir").load(s)
      df.agg(
        count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("s_nationkey")).cast("long").as("n_nations"),
        min(col("s_suppkey")).cast("long").as("min_key"),
        max(col("s_suppkey")).cast("long").as("max_key"),
        sum(col("s_suppkey")).cast("long").as("key_sum"),
        min(col("s_name")).as("min_name"),
        max(col("s_name")).as("max_name"),
        round(sum(col("s_acctbal")), 2).as("acctbal_sum"),
        round(avg(col("s_acctbal")), 4).as("acctbal_avg"))
    }),

    // ---- JSON column extraction (the reference's SQL surface has no
    // JSON functions at all, SURVEY §2.6): parse events.props with an
    // explicit schema via from_json — schema-on-read stays a map-side
    // projection, no inference job — and aggregate the extracted field
    // per event type.
    "ev_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k",
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"),
          max(col("k")).as("k_max"))
        .orderBy("event_type")
    }),

    // ---- Deterministic hash splitting (train/val/test): each doc's
    // split is a pure function of (seed, doc_id) — reproducible across
    // clusters/retries and stable under corpus growth, unlike rand().
    // md5 gate mode: DuckDB replays the first-8-hex-digits uniform
    // hash digit-for-digit, so membership of every row is
    // hash-checked, not just the counts. Integer weights (8,1,1) make
    // the cumulative cuts (0.8, 0.9) exact doubles in both engines.
    "smp_hash_split" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      graft.sampling.Sampling.hashSplit(df, "doc_id",
        Seq(("train", 8.0), ("val", 1.0), ("test", 1.0)), hashMode = "md5")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy("split")
    }),

    // ---- Per-stratum deterministic sampling (the mixed-source
    // rebalancing move): stratum 0 kept whole, stratum 1 kept at 25%,
    // stratum 2 dropped by the default — every retained doc_id
    // hash-checked against the replayed md5 uniform hash.
    "smp_stratified_sample" -> ((s, dir) => {
      val df = t(s, dir, "documents")
        .withColumn("src", pmod(col("doc_id"), lit(3)).cast("string"))
      graft.sampling.Sampling.stratifiedSampleByHash(df, "doc_id", "src",
        Map("0" -> 1.0, "1" -> 0.25), hashMode = "md5")
        .select(col("doc_id"), col("src"))
        .orderBy("doc_id")
    }),

    // ---- Temperature-flattened mixture resampling (the multilingual
    // p^α move): a skewed 70/20/10 three-source corpus, α = 0.5,
    // target 250 of 500 docs. The keep-rates derive from per-source
    // counts (head downsampled hardest: ~0.373 vs tail ~0.988 at this
    // fixture), selection is the seeded md5 uniform — counts, rate
    // arithmetic (name-ordered normalization sum), and per-row
    // membership all replay in the oracle.
    "smp_temperature_mix" -> ((s, dir) => {
      val df = t(s, dir, "documents")
        .withColumn("src",
          when(pmod(col("doc_id"), lit(10)) < 7, "head")
            .when(pmod(col("doc_id"), lit(10)) < 9, "mid")
            .otherwise("tail"))
      graft.sampling.Sampling.temperatureMixSample(df, "doc_id", "src",
          alpha = 0.5, target = 250.0, hashMode = "md5")
        .select(col("doc_id"), col("src"))
        .orderBy("doc_id")
    }),

    // ---- Token-budget selection (the data-mixing primitive): per
    // source, keep documents in quality order until the token budget
    // is spent — exact greedy-prefix semantics realized by the
    // distributed weighted-rank search (histogram levels + tiny
    // boundary window), NEVER a per-group window over the corpus. The
    // gate derives deterministic quality (101 levels → real tie runs,
    // exercising the hash tie-break) and token counts from doc_id; a
    // 32-row boundary limit forces the refinement loop in the
    // oracle-checked path. The oracle computes the same prefix with a
    // plain cumulative-sum window over the replayed md5 tie-break —
    // per-row membership is hash-checked.
    "smp_budget_select" -> ((s, dir) => {
      val df = t(s, dir, "documents")
        .withColumn("src", pmod(col("doc_id"), lit(3)).cast("string"))
        .withColumn("quality", (col("doc_id") * 37 % 101) / lit(100.0))
        .withColumn("tokens", pmod(col("doc_id"), lit(50)) + 1)
      graft.sampling.BudgetSelect.budgetSelect(df, "doc_id", "src", "quality",
          "tokens", Map("0" -> 800L, "1" -> 200L), hashMode = "md5",
          boundaryWindowLimit = 32L)
        .select(col("doc_id"), col("src"), col("tokens"))
        .orderBy("doc_id")
    }),

    // ---- Deterministic epoch shuffle: the training-order permutation
    // as a pure function of (seed, epoch, id). The gate checks the
    // ORDER itself (the compare is row-order-sensitive): the md5-mode
    // shuffle key replays in DuckDB and both engines emit the corpus
    // in the identical permutation.
    "smp_epoch_shuffle" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      graft.sampling.Sampling.epochShuffle(df.select(col("doc_id")), "doc_id",
          epoch = 1, hashMode = "md5")
        .select(col("doc_id"), round(col("shuffle_key"), 4).as("shuffle_key"))
    }),

    // ---- Deterministic sequence packing: hash shards (leading bits
    // of the md5 uniform hash), per-shard order by (hash, id), and a
    // running token sum cut into soft bins of 500 tokens. The oracle
    // replays shard, order, cumsum, and bin arithmetic exactly —
    // every document's (shard, bin) assignment is hash-checked.
    "smp_pack_bins" -> ((s, dir) => {
      val df = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      graft.sampling.Sampling.packBins(df, "doc_id", "n_tokens",
          tokenBudget = 500L, numShards = 8, hashMode = "md5")
        .select(col("doc_id"), col("shard"), col("bin"))
        .orderBy("doc_id")
    }),

    // ---- Context-window chunking: token windows of 32 with 8 tokens
    // of overlap (stride 24); the final window runs short rather than
    // re-reading covered overlap. Every chunk's text and token count
    // is hash-checked against the replayed slicing.
    "txt_chunks" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.chunk(df, "text", "doc_id", maxTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- LLM-pipeline: per-document content fingerprints (md5 of the
    // normalized text — byte-identical across engines by construction).
    "txt_fingerprints" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.fingerprints(df, "text", "doc_id").orderBy("doc_id")
    }),

    // ---- LLM-pipeline: per-document token statistics ------------------
    "txt_token_stats" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.tokenStats(df, "text", "doc_id").orderBy("doc_id")
    }),

    // ---- LLM-pipeline: corpus-learned BPE merge table -----------------
    // 12 deterministic rounds (max pair count, lexicographic tiebreak)
    // over the distinct-word vocabulary; the DuckDB oracle re-learns
    // the table from scratch with the same chained replace semantics.
    "txt_bpe_merges" -> ((s, dir) => {
      val df = t(s, dir, "documents").filter(col("text").isNotNull)
      val merges = graft.text.Bpe.learnMerges(df, "text", numMerges = BpeRounds)
      graft.text.Bpe.mergesDf(s, merges)
        .select(col("rank").cast("long").as("rank"),
          col("left"), col("right"), col("freq"))
        .orderBy("rank")
    }),

    // ---- LLM-pipeline: BPE tokenization under the learned merges ------
    // Per-doc token counts + the full token sequence, encoded by the
    // native BpeEncode expression; the oracle replays learning AND
    // encoding (distinct-word encode chain joined back per position).
    "txt_bpe_tokens" -> ((s, dir) => {
      val df = t(s, dir, "documents").filter(col("text").isNotNull)
      val merges = graft.text.Bpe.learnMerges(df, "text", numMerges = BpeRounds)
      graft.text.Bpe.tokenize(df, "text", "doc_id", merges).orderBy("doc_id")
    }),

    // ---- LLM-pipeline: context windows over REAL BPE tokens -----------
    // The learned-tokenizer upgrade of txt_chunks: 32-token windows
    // with 8 overlap over the BPE token sequence, map-side; the oracle
    // replays learning, encoding, global token positions, and the
    // window slicing.
    "txt_bpe_chunks" -> ((s, dir) => {
      val df = t(s, dir, "documents").filter(col("text").isNotNull)
      val merges = graft.text.Bpe.learnMerges(df, "text", numMerges = BpeRounds)
      graft.text.Bpe.chunk(df, "text", "doc_id", merges, maxTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- LLM-pipeline: BYTE-LEVEL BPE — learning + encoding over the
    // full byte alphabet (case, punctuation, whitespace and multi-byte
    // UTF-8 survive pre-tokenization; base symbols are hex-framed
    // UTF-8 bytes). The corpus is a punctuation-heavy fixture both
    // engines synthesize identically from doc_id; the oracle re-learns
    // the merge table AND re-encodes every document with the same
    // chained replace() semantics as the word-mode gates.
    "txt_bpe_bytes" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("text").isNotNull)
      val fx = base.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("Dr. O'Brien said: \""), col("text"), lit("!\" (cost: $1,234.56)")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(upper(substring(col("text"), 1, 40)), lit("... don't; re-do?  "), col("text")))
        .otherwise(concat(col("text"), lit("  -- endé"))).as("text"))
      val merges = graft.text.Bpe.learnMerges(fx, "text",
        numMerges = ByteBpeRounds, byteLevel = true)
      graft.text.Bpe.tokenize(fx, "text", "doc_id", merges, byteLevel = true)
        .orderBy("doc_id")
    }),

    // ---- LLM-pipeline: HTML/markup stripping — the web-corpus
    // ingestion step ahead of every text operator. The fixture wraps
    // each document in deterministic messy HTML (comments, script and
    // STYLE blocks, attributes, named/decimal/hex entities, an
    // unknown entity and invalid codepoints that must stay literal);
    // the oracle replays the exact regexp_replace chain + one-pass
    // entity segmentation documented in HtmlStripUtil, and the full
    // cleaned text hash-matches.
    "txt_html_strip" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("text").isNotNull)
      val html = concat(
        lit("<html><head><title>Doc</title><style type=\"text/css\">p{color:red}</style></head>" +
          "<body><!-- id "), col("doc_id").cast("string"), lit(" --><p class=\"lead\">"),
        substring(col("text"), 1, 60), lit("</p>"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("<script>var t = \"<b>js</b>\";</script><div>Fish &amp; Chips &lt;tagged&gt;</div>"))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          lit("<DIV CLASS=\"x\">&#65;&#x42;C &copy; 2024&nbsp;&mdash;&hellip;</DIV><STYLE>.x{}</STYLE>"))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          lit("<p>caf&eacute; stays &unknown; &#55296; &#0; literal A&#11;B</p>"))
        .otherwise(concat(lit("<br/><span>"), expr("substring(text, 61)"),
          lit(" &quot;quoted&apos;&raquo;</span>"))),
        lit("</body></html>"))
      base.select(col("doc_id"),
          TextAnalysis.stripHtml(html).as("clean_text"))
        .orderBy("doc_id")
    }),

    // ---- LLM-pipeline: per-document quality heuristics ----------------
    "txt_quality" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.qualityScore(df, "text", "doc_id").orderBy("doc_id")
    }),

    // ---- Gopher-style quality FILTER: keep/drop verdict + the sorted
    // failed-rule names per document. The fixture is single-line, so
    // the gate synthesizes line pathologies from doc_id — %13==0 docs
    // append three identical lines (duplicate_lines), %13==1 become
    // pure bullet lists (bullet_lines + short/word-shape failures),
    // %13==2 append ellipsis-terminated teaser lines — and DuckDB
    // replays every rule over the same construction.
    "txt_quality_filter" -> ((s, dir) => {
      val mangled = when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit("\nsame line\nsame line\nsame line")))
        .when(pmod(col("doc_id"), lit(13)) === 1,
          lit("- alpha\n- beta\n- gamma\n- delta"))
        .when(pmod(col("doc_id"), lit(13)) === 2,
          concat(col("text"), lit("\nto be continued...\nmore soon...\nend...")))
        .otherwise(col("text"))
      val df = t(s, dir, "documents").select(col("doc_id"), mangled.as("text"))
      TextAnalysis.qualityFilter(df, "text", "doc_id")
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("alpha_word_frac"), col("n_stopwords"), col("ellipsis_line_frac"),
          col("bullet_line_frac"), col("dup_line_frac"), col("keep"),
          array_join(col("reasons"), ",").as("reasons"))
        .orderBy("doc_id")
    }),

    // ---- Unicode normalization (native expression): every document
    // gains a suffix holding a BEL control, a DECOMPOSED é (e +
    // U+0301), and a zero-width space — NFC must compose the accent
    // and the strip must remove Cc/Cf while the words survive.
    // DuckDB replays with nfc_normalize + an RE2 class strip.
    "txt_normalize" -> ((s, dir) => {
      val df = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("\u0007 cafe\u0301 \u200Bzero")).as("text"))
      df.select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("normalized"))
        .withColumn("n_chars", length(col("normalized")).cast("long"))
        .orderBy("doc_id")
    }),

    // ---- Hashing-trick TF vectors (vocabulary-free featurizer), in
    // the md5 gate mode so DuckDB replays every bucket assignment
    // digit-for-digit at dim 64; the sparse (indices, values) arrays
    // explode back to (doc_id, bucket, tf) rows for hashing.
    "txt_hashed_tf" -> ((s, dir) => {
      TextAnalysis.hashedTfVectors(t(s, dir, "documents"), "text", "doc_id",
          dim = 64, hashMode = "md5")
        .select(col("doc_id"),
          explode(arrays_zip(col("indices"), col("values"))).as("e"))
        .select(col("doc_id"), col("e.indices").as("bucket"),
          col("e.values").as("tf"))
        .orderBy("doc_id", "bucket")
    }),

    // ---- The TF-IDF-weighted variant: bucket-granular smoothed idf
    // over the same md5 buckets; weights rounded 4dp (pure float
    // arithmetic on identical (tf, df, N) integers in both engines).
    "txt_hashed_tfidf" -> ((s, dir) => {
      TextAnalysis.hashedTfIdfVectors(t(s, dir, "documents"), "text", "doc_id",
          dim = 64, hashMode = "md5")
        .select(col("doc_id"),
          explode(arrays_zip(col("indices"), col("values"))).as("e"))
        .select(col("doc_id"), col("e.indices").as("bucket"),
          round(col("e.values"), 4).as("w"))
        .orderBy("doc_id", "bucket")
    }),

    // ---- LLM-pipeline: marker-word language identification ------------
    "txt_lang_id" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.languageId(df, "text", "doc_id").orderBy("doc_id")
    }),

    // ---- LLM-pipeline: class-based TF-IDF (BERTopic c-TF-IDF shape)
    // per SOURCE — each source's most characteristic terms; the
    // cluster variant (Similarity.clusterTopTerms) is the same
    // operator fed k-means cells. The oracle replays tokenization,
    // class-grouped tf, class df, the smoothed idf, and the per-class
    // rank tiebreak.
    "txt_class_tfidf" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.classTfidfTerms(df, "text", "source", k = 3)
        .select(col("source"), col("term"), col("tf"), col("df_count"),
          round(col("score"), 4).as("score"), col("rank").cast("long").as("rank"))
        .orderBy("source", "rank")
    }),

    // ---- LLM-pipeline: char-n-gram statistical language ID ------------
    // Bigram log-likelihood against per-language seed profiles; the
    // oracle re-derives the profiles from the same seed literals and
    // replays the scoring join end-to-end.
    "txt_lang_id2" -> ((s, dir) => {
      val df = t(s, dir, "documents").filter(col("text").isNotNull)
      TextAnalysis.languageIdNgram(df, "text", "doc_id").orderBy("doc_id")
    }),

    // ---- Within-document repetition stats (the Gopher-style quality
    // signals: documents that repeat THEMSELVES). The fixture has no
    // newlines, so the gate synthesizes line structure from doc_id —
    // even ids duplicate their text line, odd ids get two distinct
    // lines — and DuckDB replays the whole definition (trimmed
    // non-empty lines, O(L²) occurrence counts, bigram argmax with
    // lexicographic tiebreak) over the same construction.
    // ---- Per-document pattern counts (emails / URLs / digit runs —
    // the PII-and-link signals a pipeline filters or redacts on). The
    // fixture text carries none, so deterministic snippets are
    // appended by doc_id rule — every 3rd doc an email, every 5th a
    // URL — and the oracle counts the same regexes with DuckDB's RE2
    // (the patterns are alternation-free greedy, where Java and RE2
    // matching coincide).
    "txt_pattern_counts" -> ((s, dir) => {
      val df = t(s, dir, "documents").filter(col("text").isNotNull)
      val corpus = df.select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" contact u"), col("doc_id"), lit("@example.com now")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" see https://example.org/p/"), col("doc_id"), lit(" there")))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.patternCounts(corpus, "text", "doc_id").orderBy("doc_id")
    }),

    "txt_repetition" -> ((s, dir) => {
      val df = t(s, dir, "documents").filter(col("text").isNotNull)
      val corpus = df.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0,
            concat(col("text"), lit("\n"), col("text"), lit("\ntail")))
          .otherwise(concat(col("text"), lit("\ntail "), col("doc_id"))).as("text"))
      TextAnalysis.repetitionStats(corpus, "text", "doc_id").orderBy("doc_id")
    }),

    // ---- PII/pattern redaction over the same synthesized corpus as
    // txt_pattern_counts: emails, then URLs, then freestanding digit
    // runs become typed placeholders. DuckDB applies the identical
    // replacement chain with RE2 ('g'), which coincides with Java on
    // these alternation-free greedy patterns — full text hash match.
    "txt_redact" -> ((s, dir) => {
      val df = t(s, dir, "documents").filter(col("text").isNotNull)
      val corpus = df.select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" contact u"), col("doc_id"), lit("@example.com now")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" see https://example.org/p/"), col("doc_id"), lit(" there")))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.redact(corpus, "text")
        .select("doc_id", "text").orderBy("doc_id")
    }),

    // ---- Corpus-level boilerplate detection: the 25 token trigrams
    // with the highest DOCUMENT frequency (distinct per doc, so a
    // within-document spam loop counts once), ties broken on the gram
    // — a deterministic total order both engines replay.
    "txt_top_ngrams" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.topNgrams(df, "text", "doc_id", n = 3, k = 25, minCount = 2)
    }),

    // ---- Corpus boilerplate mining + frequent-span removal (the
    // RefinedWeb exact-substring pass, word-granular). At sf0.01 the
    // word-trigram document frequency tops out at 7 across 500 docs,
    // so minDocFreq = 5 yields a ~150-gram removal set — meaningful
    // stripping without erasing the corpus.
    "txt_frequent_grams" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.frequentGrams(df, "text", "doc_id", n = 3, minDocFreq = 5)
        .orderBy(col("df_count").desc, col("gram"))
    }),

    // ---- URL canonicalization: doc pairs (2k, 2k+1) carry the SAME
    // page as a messy variant (uppercase scheme/host, :443, utm_*
    // params, fragment) and a clean one — normalization must collapse
    // each pair to one identical key, byte-for-byte replayed in SQL.
    "txt_url_normalize" -> ((s, dir) => {
      val g = (col("doc_id") / 2).cast("long")
      val h = pmod(g, lit(5)).cast("string")
      val messy = concat(lit("HTTPS://WWW.Example"), h, lit(".COM:443/p/"),
        g.cast("string"), lit("?utm_source=feed&id="), g.cast("string"),
        lit("&utm_campaign=x#frag"))
      val clean = concat(lit("https://www.example"), h, lit(".com/p/"),
        g.cast("string"), lit("?id="), g.cast("string"))
      val df = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, messy).otherwise(clean).as("url"))
      TextAnalysis.urlFeatures(df, "url", "doc_id")
        .orderBy("doc_id")
    }),

    // ---- Per-document characteristic terms (TF-IDF top-3): tf from
    // one (doc, term) agg, df aggregated over those rows (no second
    // corpus scan), term-keyed df join, per-document top-k window.
    // Ranking is engine-local, so libm ln differences cannot flip an
    // order they both compute from identical (tf, df) integers.
    "txt_tfidf_terms" -> ((s, dir) => {
      TextAnalysis.tfidfTerms(t(s, dir, "documents"), "text", "doc_id", k = 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df_count"),
          round(col("score"), 4).as("score"), col("rank").cast("long").as("rank"))
        .orderBy("doc_id", "rank")
    }),

    "txt_strip_boilerplate" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.stripBoilerplate(df, "text", "doc_id", n = 3, minDocFreq = 5)
        .orderBy("doc_id")
    }),

    // ---- Corpus char-trigram LM scoring (the CCNet-style perplexity
    // quality filter, corpus-relative). The synthetic corpus has only
    // ~377 distinct trigrams, so the gate truncates the vocabulary to
    // 256 to make the OOV floor genuinely bind (~120 rare grams score
    // at the pseudo-count). Integer gram/oov counts are exact; the
    // log-prob sums agree to ~1e-12 across engines (4dp rounding, the
    // ll5 argument).
    "txt_lm_score" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.lmScore(df, "text", "doc_id", n = 3, vocabSize = 256)
        .orderBy("doc_id")
    }),

    // ---- Corpus snapshot diff: the incremental-curation ledger. The
    // "after" version is synthesized from the fixture by rule (every
    // 11th doc removed, every 7th edited, every 13th re-added under a
    // shifted id), so all four statuses appear and the oracle replays
    // the same construction + md5-fingerprint full-outer join.
    "txt_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val after = docs.filter(pmod(col("doc_id"), lit(11)) =!= 5)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 3, concat(col("text"), lit(" edited")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(13)) === 1)
          .select((col("doc_id") + 5000).as("doc_id"), col("text")))
      TextAnalysis.corpusDiff(docs, after, "doc_id", "text").orderBy("id")
    }),

    // ---- Per-source corpus mixture report: the curation dashboard
    // (doc counts, char/token mass, mean quality, corpus-wide dup
    // share per source, dominant language + share). Composes the
    // already-oracled fingerprint/quality/language replays under one
    // per-source aggregate — every column hash-checked.
    "rpt_source_mix" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      TextAnalysis.sourceMixReport(df, "text", "source").orderBy("source")
    }),

    // ---- Multimodal: nested-column (array) profile over embeddings.
    "mm_array_profile" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val stats = ProfilePasses.nestedStats(df, Seq("embedding"))
      stats.select(stats.columns.toIndexedSeq.map { n =>
        if (n.endsWith("_avg_size")) round(col(n), 4).as(n) else col(n)
      }: _*)
    }),

    // ---- Multimodal: magic-byte format sniffing + byte-size metadata
    // over a binary column synthesized deterministically from the
    // documents table (container-format magic prefix chosen by
    // doc_id % 4, then the UTF-8 text bytes). The oracle derives the
    // expected format from the ground-truth doc_id rule while the
    // engine sniffs it from the bytes — so the gate actually verifies
    // the sniffer's magic-byte decoding, not just the aggregation.
    "mm_binary_metadata" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val png = Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte)
      val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0).map(_.toByte)
      val wav = "RIFF0000WAVE".getBytes("UTF-8")
      // coalesce: a null text must still yield a sniffable prefix-only
      // blob (the oracle derives format from doc_id, never null).
      val bin = concat(
        when(pmod(col("doc_id"), lit(4)) === 0, lit(png))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit(jpeg))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit(wav))
          .otherwise(lit(Array.emptyByteArray)),
        encode(coalesce(col("text"), lit("")), "UTF-8"))
      Multimodal.binaryMetadata(df.withColumn("bin", bin), "bin")
        .orderBy("format")
    }),

    // ---- Multimodal: REAL header decoding. Each document synthesizes
    // a structurally-valid media header whose fields derive from
    // doc_id — a PNG IHDR (big-endian dims), a JPEG with an APP0
    // segment the marker scanner must skip before the SOF0 frame
    // header, or a RIFF/WAVE fmt+data pair (little-endian audio
    // params) — built with hex/unhex column math. HeaderDecoder parses
    // the BYTES back out; the oracle recomputes the expected fields
    // from the doc_id rule, so the gate verifies the byte arithmetic
    // (endianness, offsets, segment skipping), not just plumbing.
    "mm2_binary_dimensions" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Multimodal.extractFeatures(df.withColumn("bin", syntheticMediaBin), "doc_id", "bin")
        .select(col("id").as("doc_id"), col("format"), col("width"), col("height"),
          col("n_frames"), col("channels"), col("sample_rate"))
        .orderBy("doc_id")
    }),

    // ---- Resize planning composed end-to-end through the real
    // decoder: synthesized headers → HeaderDecoder dims → fit into a
    // 512×512 box preserving aspect, never upscaling. The oracle
    // recomputes the geometry (least-scale, round, clamp ≥ 1) from the
    // doc_id ground truth — identical IEEE double math both engines.
    "mm3_resize_plan" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val feats = Multimodal.extractFeatures(
        df.withColumn("bin", syntheticMediaBin), "doc_id", "bin")
      Multimodal.resizePlan(feats.filter(col("format").isin("png", "jpeg")), 512, 512)
        .select(col("id").as("doc_id"), col("format"), col("width"), col("height"),
          col("out_width"), col("out_height"))
        .orderBy("doc_id")
    }),

    // ---- Frame-sampling plan over the decoded WAV sample-frame
    // counts: n evenly spaced indices per multi-frame row (step =
    // max(floor(frames/4), 1), inclusive 0-based sequence) — the
    // plumbing a real frame decoder consumes.
    "mm4_frame_plan" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val feats = Multimodal.extractFeatures(
        df.withColumn("bin", syntheticMediaBin), "doc_id", "bin")
      Multimodal.sampleFramePlan(feats, n = 4)
        .select(col("id").as("doc_id"), col("frame_index"))
        .orderBy("doc_id", "frame_index")
    }),

    // ---- Video-container header decoding: each document synthesizes
    // a structurally-valid mp4 (box walk must skip mvhd, then read the
    // 16.16 fixed-point tkhd dimensions) or Matroska file (EBML walk
    // must skip Info, then read PixelWidth/PixelHeight vints). The
    // oracle recomputes format and dimensions from the doc_id rule, so
    // the gate verifies the box/EBML byte arithmetic end-to-end.
    "mm5_video_dimensions" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Multimodal.extractFeatures(df.withColumn("bin", syntheticVideoBin), "doc_id", "bin")
        .select(col("id").as("doc_id"), col("format"), col("width"), col("height"))
        .orderBy("doc_id")
    }),

    // ---- Perceptual image hashing: each document synthesizes an
    // 18×16 uncompressed image (even ids → PPM, odd → 24-bit
    // bottom-up BMP with 4-byte row padding) whose RGB values follow a
    // doc_id formula; PixelDecoder parses the BYTES back to luma and
    // the dHash/aHash bits are re-derived by the oracle from the pixel
    // rule — every bit ground-truthed, and the PPM/BMP byte layouts
    // (padding, BGR, bottom-up) verified end-to-end.
    "mm6_image_dhash" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Multimodal.imageHashes(
          df.withColumn("bin", syntheticImageBin), "doc_id", "bin")
        .select(col("id").as("doc_id"), col("format"), col("width"),
          col("height"), col("dhash_hex"), col("ahash_hex"))
        .orderBy("doc_id")
    }),

    // ---- Audio fingerprinting over REAL decoded PCM: each document
    // synthesizes a mono 16-bit WAV whose samples follow a doc_id
    // formula (RIFF chunk walk + LE16 sample decode exercised
    // end-to-end); the 65-frame energy hash's every bit is re-derived
    // by the oracle from the sample rule — exact integer arithmetic,
    // no float anywhere.
    "mm8_audio_ehash" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      Multimodal.audioHashes(
          df.withColumn("bin", syntheticWavBin), "doc_id", "bin")
        .select(col("id").as("doc_id"), col("format"), col("channels"),
          col("sample_rate"), col("n_samples"), col("ehash_hex"))
        .orderBy("doc_id")
    }),

    // ---- LLM-pipeline: REAL baseline-JPEG pixel decode → perceptual
    // hashes. Fixture: per doc_id a 16×16 DC-only baseline JPEG —
    // doc%3==0 grayscale with restart markers, ==1 color 4:2:0 with
    // neutral chroma, ==2 a PROGRESSIVE stub the decoder must refuse
    // (null-hash row). DC-only blocks with Q0=16 decode to exactly
    // 2·dc+128 per sample (the IDCT of a lone DC term is flat and
    // exact in binary floating point), so the oracle reproduces every
    // hash bit from the block formula alone while the engine runs the
    // full Huffman → dequant → IDCT path (graft.multimodal.JpegDecoder;
    // the AC machinery is spec-covered with hand-computed IDCTs).
    "mm9_jpeg_dhash" -> ((s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { doc =>
          def dcOf(by: Int, bx: Int): Int =
            (((7 * doc + 31 * by + 13 * bx) % 128) - 64).toInt
          val dc = Array(dcOf(0, 0), dcOf(0, 1), dcOf(1, 0), dcOf(1, 1))
          val bytes = (doc % 3) match {
            case 0 => graft.multimodal.JpegWriter.grayDcOnly(
              16, 16, dc, q = 16, restartInterval = 2)
            case 1 => graft.multimodal.JpegWriter.colorDcOnly420(16, 16, dc, q = 16)
            case _ => graft.multimodal.JpegWriter.progressiveStub(16, 16)
          }
          (doc, bytes)
        }
        .toDF("doc_id", "bin")
      Multimodal.imageHashes(bins, "doc_id", "bin")
        .select(col("id").as("doc_id"), col("format"), col("width"),
          col("height"), col("dhash_hex"), col("ahash_hex"))
        .orderBy("doc_id")
    }),

    // ---- LLM-pipeline: REAL PNG pixel decode → perceptual hashes.
    // Fixture: per doc_id a 16×16 PNG whose luma follows
    // `(5·doc + 17·y + 29·x) mod 256` — doc%4==0 grayscale, ==1
    // truecolor with r=g=b (luma ≡ v exactly under the integer
    // formula), ==2 RGBA with a varying alpha the decoder must
    // ignore (==1 with doc%8==5: the same pixels INDEXED through an
    // identity gray palette), ==3 the SAME pixels Adam7-INTERLACED
    // (seven strided passes — must hash identically to the
    // sequential variants),
    // except doc%8==7: a 16-BIT stub the decoder must refuse
    // (null-hash row). Scanline filters cycle 0..4 by row, so every
    // decode runs all five unfilter paths (None/Sub/Up/Average/
    // Paeth) and the zlib inflate for real; the oracle reproduces
    // every hash bit from the pixel formula alone
    // (graft.multimodal.PngDecoder; byte-level corruption honesty is
    // spec-covered with CRC/truncation fixtures).
    "mm10_png_dhash" -> ((s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { doc =>
          val lum = Array.tabulate(16 * 16) { i =>
            val x = i % 16; val y = i / 16
            ((5 * doc + 17 * y + 29 * x) % 256).toInt
          }
          val bytes = (doc % 4) match {
            case 0 => graft.multimodal.PngWriter.gray8(16, 16, lum)
            case 1 =>
              // doc%8==5: the same pixels INDEXED — identity gray
              // palette, so entry luma ≡ the index (same hashes)
              if (doc % 8 == 5)
                graft.multimodal.PngWriter.palette8(
                  16, 16, (0 until 256).map(v => (v, v, v)), lum)
              else graft.multimodal.PngWriter.grayAsRgb8(16, 16, lum)
            case 2 => graft.multimodal.PngWriter.grayAsRgba8(16, 16, lum)
            case _ =>
              if (doc % 8 == 3) graft.multimodal.PngWriter.interlaced8(16, 16, 0, lum)
              else graft.multimodal.PngWriter.sixteenBitStub(16, 16)
          }
          (doc, bytes)
        }
        .toDF("doc_id", "bin")
      Multimodal.imageHashes(bins, "doc_id", "bin")
        .select(col("id").as("doc_id"), col("format"), col("width"),
          col("height"), col("dhash_hex"), col("ahash_hex"))
        .orderBy("doc_id")
    }),

    // ---- Image near-dup dedup: 9×8 grayscale PPMs in doc_id/2 pairs
    // (odd ids perturb one pixel of their even sibling's pattern), fed
    // through the SAME Manku-blocked Hamming join as text simhash.
    // maxHamming(4) < blocks(6) guarantees recall and the occupancy
    // cap is disabled, so the blocked join is exactly brute-force —
    // which is what the oracle replays (xor + bit_count).
    "mm7_image_near_dups" -> ((s, dir) => {
      val df = t(s, dir, "documents")
      val hashes = Multimodal.imageHashes(
        df.withColumn("bin", syntheticPairImageBin), "doc_id", "bin")
      val keys = graft.dedup.Dedup.blockKeysFromSketches(
        hashes, "id", "dhash", maxHamming = 4, blocks = 6)
      graft.dedup.Dedup.simhashNearDupPairsFromKeys(
          keys, maxHamming = 4, maxBucketOccupancy = 0)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // ---- LLM-pipeline: REAL GIF decode (full LZW) → perceptual
    // hashes. Fixture: per doc_id a 16×16 GIF whose luma follows
    // `(7·doc + 13·y + 31·x) mod 256` over an identity gray palette —
    // doc%4==0 sequential, ==1 the SAME pixels 4-pass INTERLACED
    // (must hash identically), ==2 the palette in a LOCAL color
    // table, ==3 an ANIMATED stub (two image descriptors) the
    // decoder must refuse (null-hash row — frame 1 alone is not "the
    // image"). The oracle reproduces every hash bit from the pixel
    // formula alone (graft.multimodal.GifDecoder; real compressed
    // streams with LZW width growth are spec-covered against
    // javax.imageio's own encoder).
    "mm12_gif_dhash" -> ((s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { doc =>
          val lum = Array.tabulate(16 * 16) { i =>
            val x = i % 16; val y = i / 16
            ((7 * doc + 13 * y + 31 * x) % 256).toInt
          }
          val bytes = (doc % 4) match {
            case 0 => graft.multimodal.GifWriter.gray(16, 16, lum)
            case 1 => graft.multimodal.GifWriter.gray(16, 16, lum, interlaced = true)
            case 2 => graft.multimodal.GifWriter.gray(16, 16, lum, localTable = true)
            case _ => graft.multimodal.GifWriter.animatedStub(16, 16)
          }
          (doc, bytes)
        }
        .toDF("doc_id", "bin")
      Multimodal.imageHashes(bins, "doc_id", "bin")
        .select(col("id").as("doc_id"), col("format"), col("width"),
          col("height"), col("dhash_hex"), col("ahash_hex"))
        .orderBy("doc_id")
    }),

    // ---- LLM-pipeline: REAL TIFF decode → perceptual hashes.
    // Fixture: per doc_id a 16×16 uncompressed TIFF whose luma
    // follows `(11·doc + 19·y + 23·x) mod 256` — doc%4==0
    // little-endian, ==1 the SAME pixels BIG-endian, ==2 the same
    // pixels stored INVERTED under PhotometricInterpretation 0
    // (white-is-zero; decode must invert back — all three hash
    // identically), ==3 an LZW-DECLARED stub (Compression=5) the
    // decoder must refuse (null-hash row). The oracle reproduces
    // every hash bit from the pixel formula alone
    // (graft.multimodal.TiffDecoder).
    "mm13_tiff_dhash" -> ((s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { doc =>
          val lum = Array.tabulate(16 * 16) { i =>
            val x = i % 16; val y = i / 16
            ((11 * doc + 19 * y + 23 * x) % 256).toInt
          }
          val bytes = (doc % 4) match {
            case 0 => graft.multimodal.TiffWriter.gray(16, 16, lum)
            case 1 => graft.multimodal.TiffWriter.gray(16, 16, lum, littleEndian = false)
            case 2 => graft.multimodal.TiffWriter.gray(16, 16, lum, whiteIsZero = true)
            case _ => graft.multimodal.TiffWriter.compressedStub(16, 16)
          }
          (doc, bytes)
        }
        .toDF("doc_id", "bin")
      Multimodal.imageHashes(bins, "doc_id", "bin")
        .select(col("id").as("doc_id"), col("format"), col("width"),
          col("height"), col("dhash_hex"), col("ahash_hex"))
        .orderBy("doc_id")
    }),

    // ---- The full image-dedup story in ONE gate (the mm analogue of
    // ll15_pipeline): a MIXED-format corpus — per doc_id a 64×64
    // image whose pixels are block-constant `128 + 2·dc(by, bx)` with
    // `dc` from the doc_id//2 pattern (odd ids flip block (0,0) to
    // `−dc−1`, so (even, odd) siblings are near-dups: the uniform
    // in-block shift only moves the boundary dhash bits) — written
    // as PPM / BMP / baseline-JPEG / PNG / GIF by doc%5 (all five
    // decoders land on the SAME luma grid — the oracle never sees
    // formats, only the pixel rule), then
    // decode → dHash → Manku-blocked Hamming join (uncapped +
    // maxHamming < blocks ⇒ exactly brute-force, which the oracle
    // replays) → connected components → keep-BEST survivor per
    // cluster (argmax (score, id), score = doc_id mod 7 — a synthetic
    // quality so the keeper is NOT simply the min id). One persisted
    // hash frame feeds the block keys and the labeling join-back.
    "mm11_image_pipeline" -> ((s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { doc =>
          val g = doc / 2
          // 64×64 → an 8×8 block grid: the dhash grid's by index IS
          // the row (sy = 8r) and its 9 sample columns hit bx
          // 0,0,1,2,3,4,5,6,7 — seven intra-row block boundaries × 8
          // rows = 56 pattern-dependent bits. The block value samples
          // DIFFERENT bit ranges of a multiplicative hash of the
          // group id per block (a plain affine/poly formula mod 128
          // sees only g mod 128 — 128 distinct patterns corpus-wide
          // and one giant chained component; the >> (bx+by) makes
          // patterns distinct per g, so clusters are the (even, odd)
          // sibling pairs plus occasional honest hash collisions).
          val gh = (g * 2654435761L) % 1048576L
          def dcOf(by: Int, bx: Int): Int = {
            val base = (((gh >> (bx + by)) + 31 * by * by + 13 * bx * bx +
              5 * by * bx) % 128 - 64).toInt
            if (doc % 2 == 1 && by == 0 && bx == 0) -base - 1 else base
          }
          val dc = Array.tabulate(64)(i => dcOf(i / 8, i % 8))
          val lum = Array.tabulate(4096) { i =>
            val x = i % 64; val y = i / 64
            128 + 2 * dc((y / 8) * 8 + (x / 8))
          }
          val bytes = (doc % 5) match {
            case 0 =>
              val hdr = "P6\n64 64\n255\n".getBytes("US-ASCII")
              val out = new Array[Byte](hdr.length + 4096 * 3)
              System.arraycopy(hdr, 0, out, 0, hdr.length)
              var i = 0
              while (i < 4096) {
                val v = lum(i).toByte
                out(hdr.length + 3 * i) = v
                out(hdr.length + 3 * i + 1) = v
                out(hdr.length + 3 * i + 2) = v
                i += 1
              }
              out
            case 1 =>
              // 24-bit bottom-up BMP; w=64 → 192-byte rows, no padding
              val buf = java.nio.ByteBuffer.allocate(54 + 192 * 64)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              buf.put('B'.toByte).put('M'.toByte).putInt(54 + 192 * 64)
                .putInt(0).putInt(54)
                .putInt(40).putInt(64).putInt(64).putShort(1).putShort(24).putInt(0)
                .putInt(192 * 64).putInt(2835).putInt(2835).putInt(0).putInt(0)
              var y = 63
              while (y >= 0) {
                var x = 0
                while (x < 64) {
                  val v = lum(y * 64 + x).toByte
                  buf.put(v).put(v).put(v)
                  x += 1
                }
                y -= 1
              }
              buf.array()
            case 2 => graft.multimodal.JpegWriter.grayDcOnly(64, 64, dc, q = 16)
            case 3 => graft.multimodal.PngWriter.gray8(64, 64, lum)
            case _ => graft.multimodal.GifWriter.gray(64, 64, lum)
          }
          (doc, bytes)
        }
        .toDF("doc_id", "bin")
      // Eager localCheckpoint, not persist(): the decode runs once and
      // the result materializes as row blocks. A columnar persist() of
      // this multiply-read frame measured 3.5-6x slower on the reuse
      // reads (InMemoryRelation encode/decode on every pass — the ll15
      // finding, see OPTIMIZATION_r21.md); checkpoint blocks are freed
      // by the context cleaner once unreferenced.
      val hashes = graft.util.Materialize.rowBlocks(
        Multimodal.imageHashes(bins, "doc_id", "bin"))
      val keys = Dedup.blockKeysFromSketches(
        hashes, "id", "dhash", maxHamming = 4, blocks = 6)
      val pairs = Dedup.simhashNearDupPairsFromKeys(
        keys, maxHamming = 4, maxBucketOccupancy = 0)
      val withComp = Dedup.componentIds(
        hashes.select(col("id").as("doc_id")), "doc_id", pairs)
      val scored = withComp.withColumn("score", pmod(col("doc_id"), lit(7)))
      val keepers = scored.groupBy(col("component"))
        .agg(max(struct(col("score").as("s"), col("doc_id").as("i"))).as("best"))
        .select(col("best.i").as("doc_id"), lit(true).as("kept"))
      scored.join(keepers, Seq("doc_id"), "left")
        .select(col("doc_id"), col("component"),
          coalesce(col("kept"), lit(false)).as("kept"))
        .orderBy("doc_id")
    }),

    // ---- Streaming-profile plan, verified through its batch fixpoint:
    // the same windowedCompleteness plan runs incrementally under a
    // watermark on a stream (see StreamProfiler/StreamingSpec).
    "ev_windowed_completeness" -> ((s, dir) => {
      val df = eventsWithTs(s, dir)
      StreamProfiler.windowedCompleteness(df, "ts", "event_type", "1 day",
        watermarkDelay = None, valueCols = Seq("value", "props"))
        .orderBy("window_start", "event_type")
    }),

    // ---- Streaming numeric-drift profile (avg/stddev/min/max per
    // tumbling window and key), verified through its batch fixpoint —
    // the identical plan runs incrementally under a watermark on a
    // stream (StreamingSpec runs it as a real MemoryStream query).
    "ev_windowed_numeric" -> ((s, dir) => {
      val df = eventsWithTs(s, dir)
      StreamProfiler.windowedNumericProfile(df, "ts", "event_type", "value", "1 day")
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("avg_value"), 4).as("avg_value"),
          round(col("stdev_value"), 4).as("stdev_value"),
          col("min_value"), col("max_value"))
        .orderBy("window_start", "event_type")
    }),

    // ---- Windowed EXACT quantiles per (day, event_type) — the
    // latency-percentile dashboard; same shared batch/stream plan
    // contract as the numeric profile (the quantile aggregate runs
    // per window under a watermark on a stream).
    "ev_windowed_quantiles" -> ((s, dir) => {
      StreamProfiler.windowedQuantiles(eventsWithTs(s, dir),
          "ts", "event_type", "value", "1 day")
        .select(col("window_start"), col("event_type"), col("n_values"),
          round(col("q1"), 4).as("q1"), round(col("median"), 4).as("median"),
          round(col("q3"), 4).as("q3"))
        .orderBy("window_start", "event_type")
    }),

    // ---- Profiler extension, streaming flavor: windowed PSI drift —
    // each day's value histogram scored against the corpus-wide
    // reference histogram (edges + shares collected once, baked into
    // the single windowed aggregation as literals; streaming-append-
    // safe by construction — no chained stateful ops). The oracle
    // recomputes reference and per-day histograms with identical
    // arithmetic; 4dp absorbs ln's 1 ulp and the PSI fold order.
    "ev_windowed_psi" -> ((s, dir) => {
      val df = eventsWithTs(s, dir)
      val (lo, width, shares) =
        graft.compare.Drift.referenceHistogram(df, "value", numBins = 10)
      StreamProfiler.windowedPsiDrift(df, "ts", "value", "1 day",
          lo, width, shares)
        .select(col("window_start"), col("n_events"),
          round(col("psi"), 4).as("psi"))
        .orderBy("window_start")
    }),

    // ---- Windowed completeness driven as a REAL watermarked append-
    // mode stream (the ev_windowed_* gates verify the shared plan's
    // batch fixpoint; this one gates the STREAMING semantics): events
    // arrive as 14-day chunks in date order through a MemoryStream, the
    // 1-day windows close as the watermark (delay 0) passes their end,
    // and append mode emits exactly the closed windows. Windows still
    // open when the stream ends — the last day's — are never emitted,
    // which is the documented append-mode contract and precisely what
    // the oracle excludes.
    "ev_windowed_stream_append" -> ((s, dir) => {
      import s.implicits._
      // Watermarks accept TIMESTAMP, not TIMESTAMP_NTZ; the session TZ
      // is pinned UTC, so the cast preserves the instant and the day
      // boundaries.
      val rows = eventsWithTs(s, dir).filter(col("ts").isNotNull)
        .select(to_date(col("ts")).cast("string").as("d"),
          col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
        .as[(String, java.sql.Timestamp, String, Option[Double])].collect()
      // All-null-ts / empty fixture → empty result (the oracle's WHERE
      // yields the same), not an opaque empty.min crash. (An `if`
      // expression, NOT an early `return` — that would be a non-local
      // return out of this lambda.)
      if (rows.isEmpty)
        Seq.empty[(String, String, Long, Long, Double)]
          .toDF("day", "event_type", "n_events", "value_nulls", "value_null_rate")
      else {
        val minDay = java.time.LocalDate.parse(rows.map(_._1).min)
        def chunk(d: String): Long =
          java.time.temporal.ChronoUnit.DAYS.between(minDay, java.time.LocalDate.parse(d)) / 14
        val batches = rows.groupBy(r => chunk(r._1)).toSeq.sortBy(_._1)
          .map { case (_, rs) => rs.toSeq.map(r => (r._2, r._3, r._4)) }
        replayToMemory(s, "ev_windowed_stream", batches, noDataBatches = true) { ds =>
          StreamProfiler.windowedCompleteness(ds.toDF("ts", "event_type", "value"),
            "ts", "event_type", "1 day", watermarkDelay = Some("0 seconds"),
            valueCols = Seq("value"))
        }.select(to_date(col("window_start")).cast("string").as("day"),
            col("event_type"), col("n_events"), col("value_nulls"), col("value_null_rate"))
          .orderBy("day", "event_type")
      }
    }),

    // ---- Stateful per-key drift (flatMapGroupsWithState carrying
    // Welford moments across micro-batches), verified through a
    // deterministic replay: each event day becomes one micro-batch fed
    // to a MemoryStream in date order, so the state evolution is a
    // pure function of the data. Three (key, day) mean shifts are
    // injected deterministically (z ≈ 3.8–6.0; the largest natural day
    // sits at z ≈ 0.37) so the gate emits actual drift events.
    // The stream carries PRE-AGGREGATED (key, day) moments, not raw
    // events: one distributed groupBy reduces each day to a
    // fixed-width row per key, so the driver-side replay collect is
    // O(days × keys) scalars — the same shape the operator shuffles at
    // any scale — and meanDriftFromMoments merges them into state with
    // Chan's formula (algebraically what folding the raw values
    // computes). The oracle replays the same day sequence as an
    // expanding window over per-day sums in SQL.
    "ev_mean_drift" -> ((s, dir) => {
      import s.implicits._
      // WEEKLY batches (weeks partition event time; ~1/7 the
      // micro-batch fixed cost of daily replay). The synthetic shifts
      // move with the grain — each shifts one whole WEEK's values for
      // one key, so the weekly batch mean carries the full shift and
      // the z-test fires exactly as the daily variant's did.
      val wk = floor(unix_micros(col("ts").cast("timestamp")) / lit(604800000000L))
      val shifted = eventsWithTs(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type").as("key"), wk.as("wk"),
          (col("value") +
            when(col("event_type") === "click" && wk === 2821L, 200.0)
              .when(col("event_type") === "view" && wk === 2819L, -200.0)
              .when(col("event_type") === "purchase" && wk === 2820L, 300.0)
              .otherwise(0.0)).as("v"))
      val momentRows = shifted
        .groupBy(col("wk"), col("key"))
        .agg(count(lit(1)).as("n"), avg(col("v")).as("mean"),
          // M2 = var_samp × (n−1); a single-value group has null
          // var_samp and zero M2.
          coalesce(var_samp(col("v")) * (count(lit(1)) - 1), lit(0.0)).as("m2"))
        .select(col("wk"), col("key"), col("n"), col("mean"), col("m2"))
        .as[(Long, String, Long, Double, Double)].collect()
      val batches = momentRows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, rs) =>
          rs.toSeq.map(r => StreamProfiler.BatchMoments(r._2, r._3, r._4, r._5))
        }
      replayToMemory(s, "ev_mean_drift", batches)(
        ds => StreamProfiler.meanDriftFromMoments(ds).toDF()).select(
        col("key"),
        col("batchCount").as("batch_count"),
        round(col("batchMean"), 4).as("batch_mean"),
        round(col("runningMean"), 4).as("running_mean"),
        round(col("runningStdev"), 4).as("running_stdev"),
        round(col("zScore"), 4).as("z_score"))
        .orderBy("key")
    }),

    // ---- The RAW-events drift path through the same oracle: each
    // day's (key, value) pairs — not pre-aggregated moments — feed
    // meanDrift's flatMapGroupsWithState, whose Welford fold must
    // produce the identical drift events (the raw ≡ moments property
    // the StreamingSpec pins, here pinned against DuckDB instead of
    // against ourselves). Collecting raw day batches to the driver is
    // MemoryStream-harness-inherent and bounded at gate scale; the
    // moments gate above stays the scale-shaped one.
    "ev_mean_drift_raw" -> ((s, dir) => {
      import s.implicits._
      // Weekly batches, same grain + shifts as ev_mean_drift above.
      val wk = floor(unix_micros(col("ts").cast("timestamp")) / lit(604800000000L))
      val shifted = eventsWithTs(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .select(col("event_type").as("key"), wk.as("wk"),
          (col("value") +
            when(col("event_type") === "click" && wk === 2821L, 200.0)
              .when(col("event_type") === "view" && wk === 2819L, -200.0)
              .when(col("event_type") === "purchase" && wk === 2820L, 300.0)
              .otherwise(0.0)).as("v"))
      val rows = shifted
        .select(col("wk"), col("key"), col("v"))
        .as[(Long, String, Double)].collect()
      // Rows sort by (key, value) WITHIN each week batch: collect()
      // order follows scan partition order, and meanDrift's per-batch
      // float fold is summation-order-sensitive — without a fixed
      // order a borderline value could flip a rounded 4th decimal
      // against the oracle nondeterministically across file layouts.
      val batches = rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.toSeq.sortBy(r => (r._2, r._3)).map(r => (r._2, r._3)) }
      replayToMemory(s, "ev_mean_drift_raw", batches)(
        ds => StreamProfiler.meanDrift(ds).toDF()).select(
        col("key"),
        col("batchCount").as("batch_count"),
        round(col("batchMean"), 4).as("batch_mean"),
        round(col("runningMean"), 4).as("running_mean"),
        round(col("runningStdev"), 4).as("running_stdev"),
        round(col("zScore"), 4).as("z_score"))
        .orderBy("key")
    }),

    // ---- Streaming rolling stats: the same trailing-4 frame as
    // ev_rolling_stats computed ONLINE — each arriving event emits its
    // frame stats from O(windowRows) state per user, fed as WEEKLY
    // batches (weeks partition event time and rows sort by (ts,
    // event_id) within each batch, so per-user arrival order is
    // exactly event-time order — the only property the fold needs;
    // ~1/7 the micro-batch fixed cost of daily replay). Output stays
    // row-for-row the batch fixpoint and shares its oracle.
    "ev_rolling_stream" -> ((s, dir) => {
      import s.implicits._
      val rows = eventsWithTs(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(floor(unix_micros(col("ts").cast("timestamp")) / lit(604800000000L)).as("wk"),
          col("user_id").cast("string").as("key"),
          unix_micros(col("ts").cast("timestamp")).as("tsm"),
          col("event_id"), col("value"))
        .as[(Long, String, Long, Long, Double)].collect()
      val batches = rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.toSeq.sortBy(r => (r._3, r._4))
          .map(r => (r._2, r._3, r._4, r._5)) }
      replayToMemory(s, "ev_rolling_stream", batches)(ds =>
        StreamProfiler.rollingStatsStream(ds, windowRows = 4).toDF())
        .select(col("tiebreak").as("event_id"),
          col("key").cast("long").as("user_id"),
          col("rollN").as("roll_n"), round(col("rollSum"), 4).as("roll_sum"),
          col("rollMin").as("roll_min"), col("rollMax").as("roll_max"),
          round(col("rollMean"), 4).as("roll_mean"))
        .orderBy("event_id")
    }),

    // ---- Streaming per-entity admission cap (first-N-per-key,
    // O(keys)×8 B state): the events table replays as WEEKLY batches
    // in week order (weeks partition event time, so batch order +
    // the within-batch (ts, event_id) sort still make the admission
    // order per user exactly (ts, event_id) — which is what the
    // oracle ranks — at ~1/7 the micro-batch fixed cost of daily
    // replay). Cap 30 exercises both outcomes (max 86 events/user at
    // sf0.01). seq is the admission index, so the oracle checks
    // ORDER, not just membership.
    "ev_capped_stream" -> ((s, dir) => {
      import s.implicits._
      val rows = eventsWithTs(s, dir)
        .filter(col("ts").isNotNull)
        .select(floor(unix_micros(col("ts").cast("timestamp")) / lit(604800000000L)).as("wk"),
          col("user_id").cast("string").as("key"),
          unix_micros(col("ts").cast("timestamp")).as("tsm"),
          col("event_id"))
        .as[(Long, String, Long, Long)].collect()
      val batches = rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.toSeq.sortBy(r => (r._3, r._4))
          .map(r => (r._2, r._3, r._4)) }
      replayToMemory(s, "ev_capped_stream", batches)(ds =>
        graft.streaming.StreamGuards.capPerEntityStream(ds, cap = 30).toDF())
        .select(col("tiebreak").as("event_id"),
          col("key").cast("long").as("user_id"), col("seq"))
        .orderBy("event_id")
    }),

    // ---- Streaming exact dedup (first-arrival-wins dropDuplicates on
    // the content fingerprint), verified by deterministic replay: the
    // documents table arrives as 5 micro-batches keyed by doc_id % 5
    // (fed in order), then a 6th batch of whitespace-mangled copies of
    // every doc_id % 10 == 0 document — all of which must be
    // suppressed, because their normalized digest was seen in an
    // earlier batch. The output projects (fingerprint, batch): which
    // physical row survives an intra-batch tie is irrelevant after the
    // projection, so the result is a pure function of the data. The
    // oracle is first-occurrence-by-batch in SQL: min(doc_id % 5) per
    // digest (the mangled batch adds nothing — every mangled digest
    // already appeared in batch doc_id % 5 = 0).
    "ll10_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      // One scan + one collect; batches and the mangled copies derive
      // driver-side. The mangling is whitespace-only (pad, collapse-
      // safe) so digest equality with the original holds for ANY
      // corpus content — an upper() mangle would silently break on
      // non-ASCII case pairs (ß→SS) where lower∘upper ≠ lower, turning
      // a data regeneration into a gate failure; case-insensitivity of
      // the digest itself is pinned by ll1 and StreamingSpec.
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect()
      val originals = rows.map { case (id, t) => (id % 5, t) }
      val mangled = rows.collect { case (id, t) if id % 10 == 0 => (5L, s"  $t ") }
      val batches = (originals ++ mangled).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, rs) => rs.toSeq.map { case (_, t) => (t, b) } }
      replayToMemory(s, "ll10_stream_dedup", batches) { ds =>
        graft.streaming.StreamDedup.dropExactDuplicates(
          ds.toDF("text", "batch"), "text")
          .select(col("fingerprint"), col("batch").as("first_batch"))
      }.orderBy("fingerprint")
    }),

    // ---- Streaming NEAR-dup dedup (watermark-scoped MinHash bucket
    // claims), verified by deterministic replay with a DERIVED ground
    // truth (the ll12b/ll14 construction — DuckDB cannot replay
    // xxhash64 minhashes, but the corpus pins the answer): doc_id % 10
    // == 0 docs share constant text A, % 10 == 5 share constant text B
    // (identical signatures ⇒ estimated Jaccard 1), everything else is
    // pairwise-disjoint (estimate 0). Docs arrive as 5 daily batches
    // (day = doc_id % 100 / 20, fed in order) under a 1-day horizon;
    // retention verdicts emit in the arrival batch (zero-state OR). The
    // watermark walk is exact: a cluster's day-0 claim lapses at day 1
    // but the watermark only REACHES day 1 when the day-3 batch
    // processes — so each cluster re-emits exactly its first day-3
    // arrival, and every other cluster member in days 1–4 drops. The
    // oracle derives precisely that set: all singletons + each
    // cluster's min doc_id in day 0 and in day 3.
    "ll16_stream_near_dup" -> ((s, dir) => {
      import s.implicits._
      val textA = "the quick brown fox jumps over the lazy dog"
      val textB = "pack my box with five dozen liquor jugs"
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long].collect().sorted
      def dayTs(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
      val rows = ids.map { id =>
        val text =
          if (id % 10 == 0) textA
          else if (id % 10 == 5) textB
          else s"u${id}a u${id}b u${id}c"
        (id, dayTs((id % 100 / 20).toInt), text)
      }
      // No sentinel flush batch and no trailing no-data micro-batches:
      // the one-stage plan emits each document's verdict in its arrival
      // batch, and the claim watermark advances from the data batches
      // themselves (the day-3 batch still sees watermark = day 1).
      val batches = rows.groupBy(_._2).toSeq.sortBy(_._1.getTime).map(_._2.toSeq)
      replayToMemory(s, "ll16_stream_near_dup", batches, noDataBatches = false,
        extraConfs = Map(
          // Verdicts keep their input rows' event time within the same
          // micro-batch — the checker's documented false positive (see
          // StreamDedup.dropNearDuplicates).
          "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false")) { ds =>
        graft.streaming.StreamDedup.dropNearDuplicates(
          ds.toDF("doc_id", "ts", "text"), "doc_id", "text", "ts", "1 day")
      }.select(col("id").as("doc_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .orderBy("doc_id")
    }),

    // ---- LLM-pipeline: incremental (bipartite) near-dup dedup — an
    // incoming crawl batch against the existing curated corpus. The
    // batch is synthesized from the corpus itself: every 31st doc
    // donates a one-token-appended perturbation (J ≥ 0.93 vs its
    // donor), every 37th an entirely novel doc. The operator must pair
    // strictly across sides (a self-join would also re-pair the
    // corpus's internal near-dups) and verify with exact n-gram
    // Jaccard; the oracle is the full brute-force bipartite Jaccard —
    // at these banding parameters (32×4) the miss probability at the
    // fixture's minimum J (0.9355) is ~1e-20, so LSH ≡ brute force.
    "ll18_incremental_near_dups" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val perturbed = docs.filter(pmod(col("doc_id"), lit(31)) === 2)
        .select((col("doc_id") + 1000000).as("inc_id"),
          concat(col("text"), lit(" xq")).as("text"))
      val fresh = docs.filter(pmod(col("doc_id"), lit(37)) === 5)
        .select((col("doc_id") + 2000000).as("inc_id"),
          concat_ws(" ",
            concat(lit("fz"), col("doc_id"), lit("a")), concat(lit("fz"), col("doc_id"), lit("b")),
            concat(lit("fz"), col("doc_id"), lit("c")), concat(lit("fz"), col("doc_id"), lit("d")),
            concat(lit("fz"), col("doc_id"), lit("e")), concat(lit("fz"), col("doc_id"), lit("f"))).as("text"))
      Dedup.nearDupPairsAgainst(
          perturbed.unionByName(fresh), "inc_id", "text",
          docs, "doc_id", "text", threshold = 0.8)
        .select(col("incoming_id"), col("existing_id"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("incoming_id", "existing_id")
    }),

    // ---- The audit for the bipartite cap ("no silent caps",
    // ll12b-style derived ground truth): 25 incoming + 30 existing
    // copies of one text share one bucket per band; the COMBINED
    // occupancy 55 crosses the cap of 40 though neither side alone
    // does — the audit must report exactly 32 hot buckets with the
    // 25/30 side split.
    "ll18b_capped_bipartite_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val t7 = docs.filter(col("doc_id") === 7).select(col("text").as("t7"))
      val incoming = docs.filter(col("doc_id") < 25).crossJoin(broadcast(t7))
        .select((col("doc_id") + 1000).as("inc_id"), col("t7").as("text"))
      val existing = docs.filter(col("doc_id").between(25, 54)).crossJoin(broadcast(t7))
        .select(col("doc_id"), col("t7").as("text"))
      Dedup.cappedBucketsAgainstFromBuckets(
          Dedup.bandBuckets(incoming, "inc_id", "text"),
          Dedup.bandBuckets(existing, "doc_id", "text"),
          maxBucketOccupancy = 40)
        .agg(count(lit(1)).as("n_hot_buckets"),
          min(col("occupancy")).as("min_occupancy"),
          max(col("occupancy")).as("max_occupancy"),
          min(col("incoming_occupancy")).as("incoming_occupancy"),
          min(col("existing_occupancy")).as("existing_occupancy"))
    }),

    // ---- LLM-pipeline: int8 embedding quantization (the ANN working-
    // set compression: 4× smaller vectors, cosine ranking unchanged —
    // scales cancel). Every element's quantized byte and every scale
    // is hash-checked against the replayed double arithmetic (both
    // engines compute max|x|/127 and HALF_UP rounding identically).
    // The byte vector is emitted as a comma-joined string — still
    // element-exact, but scalar, so the driver's sort/hash compare
    // (which cannot order array cells) sees only orderable columns.
    "ll19_quantized_embeddings" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val q = Similarity.quantizeInt8(df, "vec_id", "embedding")
      q.select(col("id").as("vec_id"),
          concat_ws(",", transform(col("qvec"), _.cast("string"))).as("qvec_csv"),
          round(col("scale"), 6).as("scale"))
        .orderBy("vec_id")
    }),

    // ---- LLM-pipeline: SemDeDup-shaped semantic near-duplicate pairs
    // (k-means cells scope the pairwise cosine instead of sign-bucket
    // LSH — data-adaptive candidates). Same replayable Lloyd setup as
    // ll5 (init = 8 lowest vec_ids, one iteration), so the oracle
    // recomputes the cell assignment in SQL and self-joins within
    // cells — bucket ids, pairs, and cosines all hash-checked. The
    // synthetic corpus has no planted near-dups, so the gate threshold
    // drops to 0.3 to exercise the verify path on real rows (ll9's
    // convention).
    "ll20_semantic_near_dups" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      Similarity.semanticNearDupPairs(df, "vec_id", "embedding", nCells = 8,
          threshold = 0.3, kmeansIterations = 1,
          centroidInitOrder = Some(Seq(col("vec_id"))))
        .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy("id_a", "id_b")
    }),

    // ---- The occupancy audit for ll20's within-cell join ("no silent
    // caps", the k-means counterpart of ll12): every cell holding more
    // than 60 vectors, with its occupancy — dense semantic regions a
    // capped semanticNearDupPairs would prune. Same Lloyd replay in
    // the oracle, aggregated to cell occupancy.
    "ll20b_capped_cells" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      Similarity.cappedCells(df, "vec_id", "embedding", nCells = 8,
          kmeansIterations = 1, centroidInitOrder = Some(Seq(col("vec_id"))),
          maxCellOccupancy = 60)
        .orderBy("bucket")
    }),

    // ---- LLM-pipeline: bipartite embedding near-dup (incremental
    // ingest vs a curated corpus — the vector counterpart of ll18).
    // The incoming batch is 40 id-shifted copies of existing vectors,
    // so every incoming vector has a planted cosine-1.0 match; the
    // seed-42 hyperplanes replay as literals in the oracle (ll9's
    // convention), making pairs and cosines fully hash-checked.
    "ll21_embedding_near_dups_against" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val incoming = df.filter(col("vec_id") < 40)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      Similarity.nearDupByEmbeddingAgainst(incoming, "vec_id", "embedding",
          df, "vec_id", "embedding", dim = 64, threshold = 0.3, nPlanes = 4)
        .select(col("incoming_id"), col("existing_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy("incoming_id", "existing_id")
    }),

    // ---- The combined-occupancy audit for ll21 ("no silent caps",
    // bipartite flavor): buckets whose incoming+existing population
    // exceeds 25, with the per-side split.
    "ll21b_capped_embedding_buckets_against" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val incoming = df.filter(col("vec_id") < 40)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      Similarity.cappedBucketsAgainst(incoming, "vec_id", "embedding",
          df, "vec_id", "embedding", dim = 64, nPlanes = 4,
          maxBucketOccupancy = 25)
        .orderBy("bucket")
    }),

    // ---- LLM-pipeline: product-quantization approximate top-k (ADC
    // inner product — the memory-compression ANN path: 64 floats per
    // vector collapse to 4 codebook codes; a candidate's score is 4
    // table lookups). Same deterministic Lloyd replay setup as ll5
    // (init = lowest vec_ids, one iteration) but with EUCLIDEAN
    // assignment per subspace — the true PQ quantizer — so the oracle
    // recomputes all 4 codebooks, every code, and every ADC score in
    // SQL — fully hash-checked; SimilaritySpec pins recall against
    // the exact brute-force baseline.
    "ll22_ann_pq_topk" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val q = df.filter(col("vec_id") < 5)
      Similarity.pqTopK(df, "vec_id", "embedding", q, "vec_id", "embedding",
          dim = 64, k = 5, numSubspaces = 4, codebookSize = 8,
          kmeansIterations = 1, centroidInitOrder = Some(Seq(col("vec_id"))))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 4).as("adc_score"))
        .orderBy("query_id", "rank")
    }),

    // ---- LLM-pipeline: PQ top-k with SAMPLED codebook training — the
    // 100 TB training path: codebooks train on the deterministic
    // md5-hash half of the corpus (u('42:'||vec_id) < 0.5 — the same
    // uniform-hash definition the sampling gates replay), while every
    // corpus vector is still ENCODED and scored. The oracle recomputes
    // the sampled training set, all 4 codebooks, every code, and every
    // ADC score in SQL — proving Lloyd-on-a-sample is exactly
    // replayable, not just statistically close; SimilaritySpec pins
    // sampled-codebook recall against full-corpus training.
    "ll22b_ann_pq_sampled" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val q = df.filter(col("vec_id") < 5)
      Similarity.pqTopK(df, "vec_id", "embedding", q, "vec_id", "embedding",
          dim = 64, k = 5, numSubspaces = 4, codebookSize = 8,
          kmeansIterations = 1, centroidInitOrder = Some(Seq(col("vec_id"))),
          trainFraction = 0.5, trainSeed = 42L, trainHashMode = "md5")
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 4).as("adc_score"))
        .orderBy("query_id", "rank")
    }),

    // ---- LLM-pipeline: Johnson–Lindenstrauss random projection
    // (64 → 8 dims, deterministic seed-42 Gaussian rows scaled 1/√8 —
    // the training-free embedding compression ahead of ANN/near-dup).
    // Every projected element replays as a literal-matrix dot in the
    // oracle; elements are scaled to micro-units and emitted as a CSV
    // string (scalar, orderable — the ll19 lesson), so the whole
    // matrix multiply is hash-checked.
    "ll24_random_projection" -> ((s, dir) => {
      val df = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      Similarity.randomProjection(df, "embedding", dim = 64, outDim = 8)
        .select(col("vec_id"),
          concat_ws(",", transform(col("projected"),
            x => round(x * 1e6).cast("long").cast("string"))).as("proj_csv"))
        .orderBy("vec_id")
    }),

    // ---- LLM-pipeline: IVF-PQ approximate top-k — the composed
    // 100 TB ANN layout (ll5's coarse cells decide WHICH vectors a
    // query scores, ll22's codes decide what scoring one COSTS). Both
    // Lloyd setups replay deterministically, so the oracle composes
    // the two proven CTE blocks (cells + codebooks/codes) and checks
    // probes, codes, ADC scores, and ranks end-to-end at 4dp.
    "ll23_ann_ivfpq_topk" -> ((s, dir) => {
      val df = t(s, dir, "embeddings")
      val q = df.filter(col("vec_id") < 5)
      Similarity.ivfPqTopK(df, "vec_id", "embedding", q, "vec_id", "embedding",
          dim = 64, k = 5, nCells = 8, nProbe = 3, numSubspaces = 4,
          codebookSize = 8, kmeansIterations = 1,
          centroidInitOrder = Some(Seq(col("vec_id"))))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 4).as("adc_score"))
        .orderBy("query_id", "rank")
    }),

    // ---- LLM-pipeline: benchmark decontamination (token 8-gram
    // overlap, GPT-3 appendix-C shape). The benchmark is synthesized
    // the way real contamination happens: every 29th document donates
    // a 20-token passage (tokens 5..24), prefixed with a 12-token
    // shared preamble of out-of-vocabulary markers (the "answer the
    // following"-style boilerplate every eval example carries). The
    // donor document then contains the passage's 13 interior 8-grams
    // of the example's 25 → overlap 0.52 ≥ 0.5; near-duplicate
    // documents of a donor surface as extra cross-hits (2 at sf0.01).
    // The preamble's 5 interior grams sit in ALL 18 examples —
    // above the bench-df cap of 10 — so the cap genuinely binds and
    // the report's denominator still counts them (the honest-fraction
    // contract ll17b audits). md5 mode → DuckDB replays grams,
    // pruning, join, and fraction exactly.
    "ll17_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val pre = (1 to 12).map(i => s"pz$i").mkString(" ")
      val w = split(trim(col("text")), "\\s+")
      val bench = docs.filter(pmod(col("doc_id"), lit(29)) === 3)
        .select(col("doc_id").as("q_id"),
          concat(lit(pre + " "), concat_ws(" ", slice(w, 5, 20))).as("q_text"))
      Decontaminate.contaminationReport(
          docs, "doc_id", "text", bench, "q_id", "q_text",
          gramSize = 8, minOverlap = 0.5, maxBenchGramDf = 10, hashMode = "md5")
        .orderBy("corpus_id", "bench_id")
    }),

    // ---- The cap audit for ll17 ("no silent caps"): every benchmark
    // gram the bench-df <= 10 pruning dropped — exactly the 5 interior
    // preamble grams, each carried by all 18 examples.
    "ll17b_capped_bench_grams" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      val pre = (1 to 12).map(i => s"pz$i").mkString(" ")
      val w = split(trim(col("text")), "\\s+")
      val bench = docs.filter(pmod(col("doc_id"), lit(29)) === 3)
        .select(col("doc_id").as("q_id"),
          concat(lit(pre + " "), concat_ws(" ", slice(w, 5, 20))).as("q_text"))
      Decontaminate.cappedBenchGrams(
          bench, "q_id", "q_text", gramSize = 8, maxBenchGramDf = 10, hashMode = "md5")
        .orderBy(col("bench_df").desc, col("gram"))
    }),

    // ---- Validator with per-table fusion: same results as the
    // sequential path, one scan per table instead of one per rule.
    // Every rule here fuses, b5's MAX included; its name predates that
    // and stays because it is part of the oracle output.
    "validator_batched" -> ((s, dir) => {
      import graft.model.ValidationRule
      t(s, dir, "part"); t(s, dir, "customer")
      val rules = Seq(
        ValidationRule("b1_no_negative_price", "", "SELECT COUNT(*) FROM part WHERE p_retailprice < 0", "equals", 0),
        ValidationRule("b2_part_not_empty", "", "SELECT COUNT(*) FROM part", "greater_than", 0),
        ValidationRule("b3_small_parts", "", "SELECT COUNT(*) FROM part WHERE p_size <= 10", "greater_than", 0),
        ValidationRule("b4_customer_not_empty", "", "SELECT COUNT(*) FROM customer", "greater_than", 0),
        ValidationRule("b5_nonfusable_max", "", "SELECT MAX(p_size) FROM part", "less_than_or_equal", 50))
      val results = Validator.runBatched(s, rules)
      import s.implicits._
      results.map { r =>
        val actual = graft.validation.ScalarCompare.toBigDecimal(r.actualValue)
          .map(_.toDouble).getOrElse(Double.NaN)
        (r.ruleName, r.isValid, actual)
      }.toDF("rule_name", "is_valid", "actual_value").orderBy("rule_name")
    }),

    // ---- Arbitrary rule SQL surface (the reference's `query` strings
    // may be any warehouse SQL — here that surface is all of Spark SQL):
    // aggregation, multi-way join, window function.
    "sql_q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    }),

    "sql_join_revenue" -> ((s, dir) => {
      // Star join: fact lineitem joins orders, then the small dims are
      // broadcast by Catalyst/AQE (verified via explain: BroadcastHashJoin
      // for nation/customer, shuffle join only on the fact side).
      t(s, dir, "lineitem"); t(s, dir, "orders"); t(s, dir, "customer"); t(s, dir, "nation")
      s.sql("""
        SELECT n.n_name AS nation,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(*) AS line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name""")
    }),

    "sql_window_top_orders" -> ((s, dir) => {
      t(s, dir, "orders"); t(s, dir, "customer")
      s.sql("""
        SELECT * FROM (
          SELECT c.c_mktsegment AS segment, o.o_orderkey, o.o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rn
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ) WHERE rn <= 3
        ORDER BY segment, rn""")
    }),

    // ---- SQL-surface proof: CUBE grouping sets (all 4 rollup levels
    // in one pass — Spark plans ONE Expand + aggregate, not 4 scans).
    // Null grouping markers are coalesced to a label so no engine's
    // null-ordering quirk is in play.
    "sql_cube_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
      s.sql("""
        SELECT coalesce(l_returnflag, '(all)') AS rflag,
               coalesce(l_linestatus, '(all)') AS lstatus,
               count(*) AS n, round(sum(l_quantity), 2) AS qty_sum
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY rflag, lstatus""")
    }),

    // ---- SQL-surface proof: pivot via the DataFrame API (explicit
    // value list → no extra distinct-values job; one aggregate).
    "sql_pivot_status" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 2))
        .orderBy("l_returnflag")
    }),

    // ---- SQL-surface proof: set operations (EXCEPT distinct).
    "sql_set_ops" -> ((s, dir) => {
      t(s, dir, "orders")
      s.sql("""
        SELECT count(*) AS n_high_not_urgent FROM (
          SELECT o_custkey FROM orders WHERE o_totalprice > 300000
          EXCEPT
          SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )""")
    }),

    // ---- Event analytics: gap-based sessionization (30-min gap) —
    // one entity-keyed shuffle + window, no corpus-wide window. Break
    // decisions are integer-microsecond comparisons, so both engines
    // compute identical session boundaries; value sums are 2dp inputs
    // over small groups (4dp rounding absorbs fold order).
    "ev_sessionize" -> ((s, dir) => {
      graft.events.Events.sessionize(eventsWithTs(s, dir),
          "user_id", "ts", maxGapSeconds = 1800, valueCol = "value",
          tiebreakCol = "event_id")
        .select(col("user_id"), col("session_idx"),
          col("session_start"), col("session_end"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy("user_id", "session_idx")
    }),

    // ---- Gap sessionization via the NATIVE session_window — the one
    // declarative plan that runs batch AND streaming (this gate
    // verifies the batch fixpoint; ev_session_stream_append drives the
    // same plan as a real watermarked stream). Only a gap STRICTLY
    // greater than 30 min starts a new session (adjacent windows
    // merge), and session_end is last-event + gap.
    "ev_session_window" -> ((s, dir) => {
      graft.events.Events.sessionWindows(eventsWithTs(s, dir),
          "user_id", "ts", "30 minutes", valueCol = "value")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // ---- The same session_window plan driven as a REAL append-mode
    // stream: events arrive as 14-day chunks through a MemoryStream
    // with a 0-delay watermark; a session is emitted once the
    // watermark passes its end (last event + gap). Sessions whose end
    // exceeds the final watermark — each user's last session — are
    // still open when the stream stops and are never emitted, which is
    // the append contract and exactly what the oracle excludes.
    "ev_session_stream_append" -> ((s, dir) => {
      import s.implicits._
      val rows = eventsWithTs(s, dir).filter(col("ts").isNotNull)
        .select(to_date(col("ts")).cast("string").as("d"),
          col("ts").cast("timestamp").as("ts"), col("user_id"), col("value"))
        .as[(String, java.sql.Timestamp, Long, Option[Double])].collect()
      if (rows.isEmpty)
        Seq.empty[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
          .toDF("user_id", "session_start", "session_end", "n_events", "sum_value")
      else {
        val minDay = java.time.LocalDate.parse(rows.map(_._1).min)
        def chunk(d: String): Long =
          java.time.temporal.ChronoUnit.DAYS.between(minDay, java.time.LocalDate.parse(d)) / 14
        val batches = rows.groupBy(r => chunk(r._1)).toSeq.sortBy(_._1)
          .map { case (_, rs) => rs.toSeq.map(r => (r._2, r._3, r._4)) }
        replayToMemory(s, "ev_session_stream", batches, noDataBatches = true) { ds =>
          graft.events.Events.sessionWindows(ds.toDF("ts", "user_id", "value"),
            "user_id", "ts", "30 minutes", valueCol = "value",
            watermarkDelay = Some("0 seconds"))
        }.select(col("user_id"),
            // The stream ran on instant timestamps (watermarks demand
            // them); session UTC makes the ntz cast-back identity, and
            // the parquet dump then matches the oracle's naive type.
            col("session_start").cast("timestamp_ntz").as("session_start"),
            col("session_end").cast("timestamp_ntz").as("session_end"),
            col("n_events"), round(col("sum_value"), 4).as("sum_value"))
          .orderBy("user_id", "session_start")
      }
    }),

    // ---- Event analytics: strictly-ordered funnel (view → click →
    // purchase) in ONE pass — chained running-min windows over a
    // single (user, ts, id) sort, no per-stage self-joins. The oracle
    // replays the identical window chain in SQL.
    "ev_funnel" -> ((s, dir) => {
      graft.events.Events.funnel(eventsWithTs(s, dir),
          "user_id", "ts", "event_type",
          stages = Seq("view", "click", "purchase"), tiebreakCol = "event_id")
        .orderBy("stage_idx")
    }),

    // ---- The same funnel under a 2-hour conversion window: a stage
    // counts only within maxStepSeconds of the latest prior-stage
    // reach — the same single Window exec, running-max instead of
    // running-min.
    "ev_funnel_windowed" -> ((s, dir) => {
      graft.events.Events.funnel(eventsWithTs(s, dir),
          "user_id", "ts", "event_type",
          stages = Seq("view", "click", "purchase"), tiebreakCol = "event_id",
          maxStepSeconds = Some(7200L))
        .orderBy("stage_idx")
    }),

    // ---- As-of (backward) join: each purchase gets the LATEST click
    // by the same user at-or-before its timestamp — the union-stack
    // formulation (ONE entity-keyed shuffle + window carrying the last
    // click payload forward), never a join that materializes every
    // (purchase, earlier-click) pair. Ties on click ts resolve to the
    // greatest event_id; the oracle replays that with a rank over the
    // pair blowup it CAN afford at sf0.01.
    "ev_asof_join" -> ((s, dir) => {
      val ev = eventsWithTs(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      graft.events.Events.asOfJoin(purchases, clicks,
          "user_id", "user_id", "ts", "ts",
          rightValueCols = Seq("event_id", "value"), rightTiebreakCol = "event_id")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("asof_event_id").as("click_id"),
          round(col("asof_value"), 4).as("click_value"))
        .orderBy("purchase_id")
    }),

    // ---- Per-user inter-arrival gap stats (the bot-regularity
    // signal): microsecond-exact gaps via one entity-keyed lag window.
    "ev_interarrival" -> ((s, dir) => {
      graft.events.Events.interArrivalStats(eventsWithTs(s, dir),
          "user_id", "ts", tiebreakCol = "event_id")
        .select(col("user_id"), col("n_gaps"),
          round(col("mean_gap_s"), 4).as("mean_gap_s"),
          round(col("min_gap_s"), 4).as("min_gap_s"),
          round(col("max_gap_s"), 4).as("max_gap_s"),
          round(col("cv"), 4).as("cv"))
        .orderBy("user_id")
    }),

    // ---- Retention cohorts by epoch-week of first activity — the
    // per-entity MIN + entity-keyed join formulation, no corpus
    // window.
    "ev_retention_cohorts" -> ((s, dir) => {
      graft.events.Events.retentionCohorts(eventsWithTs(s, dir),
          "user_id", "ts",
          ts => floor(unix_micros(ts.cast("timestamp")) / lit(604800000000L)))
        .orderBy("cohort_period", "period_offset")
    }),

    // ---- Per-entity event cap (the skew mitigation the event windows
    // assume upstream): at most 50 events per user, kept by md5-mode
    // deterministic hash order so DuckDB replays MEMBERSHIP (the
    // kept-id sum), not just the counts; the cappedEntities audit
    // joins in the true pre-cap size.
    "ev_capped_entities" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val kept = graft.events.Events
        .capPerEntity(ev, "user_id", cap = 50, idCol = "event_id", hashMode = "md5")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("event_id")).cast("long").as("kept_id_sum"))
      val audit = graft.events.Events.cappedEntities(ev, "user_id", cap = 50)
        .select(col("entity").as("user_id"), col("n_events"))
      kept.join(audit, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("n_events"), col("n_kept")).as("n_events"),
          col("n_kept"), col("kept_id_sum"),
          col("n_events").isNotNull.as("was_capped"))
        .orderBy("user_id")
    }),

    // ---- FORWARD as-of: each purchase gets the EARLIEST error event
    // by the same user at-or-after its timestamp within 24 h — the
    // next-event attribution shape (did the purchase precede a
    // failure?). Ties resolve to the smallest event_id.
    "ev_asof_forward" -> ((s, dir) => {
      val ev = eventsWithTs(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
      graft.events.Events.asOfJoin(purchases, errors,
          "user_id", "user_id", "ts", "ts",
          rightValueCols = Seq("event_id"), rightTiebreakCol = "event_id",
          toleranceSeconds = Some(86400L), direction = "forward")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("asof_event_id").as("next_error_id"))
        .orderBy("purchase_id")
    }),

    // ---- The same as-of join under a 1-hour lookback tolerance:
    // clicks older than an hour before the purchase no longer match
    // (the carried match is the NEWEST qualifying one, so nulling a
    // too-old match is exact, not approximate).
    "ev_asof_join_tol" -> ((s, dir) => {
      val ev = eventsWithTs(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
      graft.events.Events.asOfJoin(purchases, clicks,
          "user_id", "user_id", "ts", "ts",
          rightValueCols = Seq("event_id"), rightTiebreakCol = "event_id",
          toleranceSeconds = Some(3600L))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("asof_event_id").as("click_id"))
        .orderBy("purchase_id")
    }),

    // ---- Per-entity rolling stats over the trailing 4 events (ROWS
    // frame) — one user-keyed shuffle + window; 4dp rounding absorbs
    // the ≤4-term double fold order, min/max/count are exact.
    "ev_rolling_stats" -> ((s, dir) => {
      graft.events.Events.rollingStats(eventsWithTs(s, dir),
          "user_id", "ts", "value", windowRows = 4, tiebreakCol = "event_id")
        .select(col("event_id"), col("user_id"), col("roll_n"),
          round(col("roll_sum"), 4).as("roll_sum"),
          col("roll_min"), col("roll_max"),
          round(col("roll_mean"), 4).as("roll_mean"))
        .orderBy("event_id")
    }),

    // ---- Binned range join (NO equality key): orders matched to
    // 50k-wide price bands through 20k-wide domain bins — interval
    // rows explode to their overlapping bins (2–3 each), points bin
    // once, hash-join on the bin, exact [lo, hi) recheck. The shape
    // that replaces a cartesian product when BOTH sides are large.
    "rj_price_bands" -> ((s, dir) => {
      val bands = s.range(10).select(col("id").as("band_id"),
        (col("id") * lit(50000.0)).as("lo"), ((col("id") + 1) * lit(50000.0)).as("hi"))
      graft.join.RangeJoin.binnedRangeJoin(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          "o_totalprice", bands, "lo", "hi", binWidth = 20000.0)
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("price_sum"))
        .orderBy("band_id")
    }),

    // ---- The same range join with the interval side BROADCAST — the
    // plan for the overwhelmingly common small-interval-table case
    // (BroadcastNestedLoopJoin, zero shuffles; PlanSpec pins the
    // physical plan). Same oracle as the binned path: both Spark
    // formulations and DuckDB's inequality join must agree.
    "rj_price_bands_bc" -> ((s, dir) => {
      val bands = s.range(10).select(col("id").as("band_id"),
        (col("id") * lit(50000.0)).as("lo"), ((col("id") + 1) * lit(50000.0)).as("hi"))
      graft.join.RangeJoin.broadcastRangeJoin(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          "o_totalprice", bands, "lo", "hi")
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("price_sum"))
        .orderBy("band_id")
    }),

    // ---- Interval-OVERLAP join (two interval sets, neither a point):
    // ~2.1k × 3k price intervals derived from orders, binned the same
    // way, pair-deduped by counting each pair only in its
    // intersection's first bin — no distinct shuffle.
    "rj_interval_overlap" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select(col("o_orderkey").as("a_key"), col("o_totalprice").as("a_lo"),
          (col("o_totalprice") + 5000.0).as("a_hi"))
      val b = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .select(col("o_orderkey").as("b_key"), col("o_totalprice").as("b_lo"),
          (col("o_totalprice") + 3000.0).as("b_hi"))
      graft.join.RangeJoin.intervalOverlapJoin(a, "a_lo", "a_hi",
          b, "b_lo", "b_hi", binWidth = 4000.0)
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a_key")).cast("long").as("a_key_sum"),
          sum(col("b_key")).cast("long").as("b_key_sum"))
    }),

    // ---- Leakage-safe GROUP split: the split hash is keyed on the
    // GROUP column (source), so every document of a source lands in
    // the same split by construction — near-duplicates within a
    // source can never straddle train/test. One output row per source
    // (the gate would fan out per (source, split) if a source ever
    // split) with per-row membership replayed from the md5 hash.
    "smp_group_split" -> ((s, dir) => {
      graft.sampling.Sampling.hashSplit(t(s, dir, "documents"), "source",
          Seq(("train", 8.0), ("val", 1.0), ("test", 1.0)), hashMode = "md5")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy("source", "split")
    }),

    // ---- Weighted sampling without replacement (Efraimidis–Spirakis):
    // key = u^(1/w) over the replayed md5 uniform, top-100 by key —
    // membership is a pure function of (corpus, seed, n), and the
    // oracle replays hash, key, and cut identically. The top-n is
    // TakeOrderedAndProject (per-partition heaps), never a global sort.
    "smp_weighted_sample" -> ((s, dir) => {
      graft.sampling.Sampling.weightedSampleByHash(t(s, dir, "documents"),
          "doc_id", "n_chars", n = 100, hashMode = "md5")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // ---- Salted join: lineitem ⨝ orders spread over (key, salt) with
    // the orders side replicated 8× — the explicit skew mitigation.
    // The salt must be RESULT-INVISIBLE: the oracle is the plain
    // unsalted join, so any row lost or duplicated by the salting
    // breaks the hash match.
    "jn_salted_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
      graft.join.SkewJoin.saltedJoin(li, ord, Seq("l_orderkey"),
          saltOnCol = "l_partkey", saltFactor = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // ---- SCD2 history fold: ref (as of Jan 1) + cur (as of Feb 1)
    // through applyChanges with closeMissing — carried / closed /
    // opened intervals grouped with key and price checksums. One
    // open-rows ⨝ snapshot full-outer join; closed rows never shuffle.
    "cmp_scd2_history" -> ((s, dir) => {
      val (ref, cur) = diffSnapshots(s, dir)
      val t0 = lit("2024-01-01 00:00:00")
      val t1 = lit("2024-02-01 00:00:00")
      val history = graft.compare.Scd2.applyChanges(
        graft.compare.Scd2.initial(ref, t0), cur,
        keyCols = Seq("o_orderkey"),
        attrCols = Seq("o_orderstatus", "o_totalprice", "o_orderpriority"),
        effectiveTs = t1, closeMissing = true)
      // No price checksum here: the cur snapshot's perturbed prices
      // round differently between engines (Spark rounds the shortest
      // decimal repr, DuckDB the binary value) — key sums pin row
      // membership exactly without re-testing that known divergence.
      history.groupBy(
          to_date(col("valid_from")).cast("string").as("vf"),
          to_date(col("valid_to")).cast("string").as("vt"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
        // NULLS LAST to match DuckDB's ASC default — the driver compare
        // sorts rows anyway, but an order-sensitive replay should agree.
        .orderBy(col("vf"), col("vt").asc_nulls_last)
    }),

    // ---- Point-in-time read-back over the SAME folded history: the
    // as-of view at Jan 1 must be exactly the ref snapshot (count +
    // checksums prove the interval algebra round-trips).
    "cmp_scd2_asof" -> ((s, dir) => {
      val (ref, cur) = diffSnapshots(s, dir)
      val history = graft.compare.Scd2.applyChanges(
        graft.compare.Scd2.initial(ref, lit("2024-01-01 00:00:00")), cur,
        keyCols = Seq("o_orderkey"),
        attrCols = Seq("o_orderstatus", "o_totalprice", "o_orderpriority"),
        effectiveTs = lit("2024-02-01 00:00:00"), closeMissing = true)
      graft.compare.Scd2.asOf(history, lit("2024-01-15 00:00:00"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("key_sum"),
          round(sum(col("o_totalprice")), 2).as("price_sum"))
    }),

    // ---- Categorical drift between the same two snapshots: the
    // 'X' status injected into cur appears as an `added` category,
    // every original status shifts share, and Σ tvd_term is the
    // total-variation distance. One count agg per side, full-outer
    // join of ≤cardinality rows.
    "cmp_category_drift" -> ((s, dir) => {
      val (ref, cur) = diffSnapshots(s, dir)
      graft.compare.Drift.categoryDrift(ref, cur, "o_orderstatus")
        .select(col("value"), col("ref_n"), col("cur_n"),
          round(col("ref_share"), 6).as("ref_share"),
          round(col("cur_share"), 6).as("cur_share"),
          col("status"), round(col("tvd_term"), 6).as("tvd_term"))
        .orderBy("value")
    }),

    // ---- Key-skew report: the top-10 hottest l_suppkey values with
    // row counts and corpus share — the measure step before saltedJoin
    // or an AQE skew threshold. Group agg + grouped-rows total +
    // TakeOrdered; nothing corpus-sized on the driver.
    "jn_skew_report" -> ((s, dir) => {
      graft.join.SkewJoin.skewReport(t(s, dir, "lineitem"), "l_suppkey", topK = 10)
        .select(col("key"), col("n"), round(col("share"), 6).as("share"))
        .orderBy(col("n").desc, col("key"))
    }),

    // ---- Snapshot row-level diff: which rows were added / removed /
    // changed between two table versions, keyed by PK — one full-outer
    // join hash-partitioned on the key, everything else map-side. The
    // snapshots derive deterministically from orders: ref drops keys
    // ≡0 (mod 7), cur drops keys ≡0 (mod 5) and perturbs price and
    // status on keys ≡0 (mod 3) — so all four statuses occur.
    "cmp_row_diff" -> ((s, dir) => {
      val (ref, cur) = diffSnapshots(s, dir)
      graft.compare.SnapshotDiff.summary(ref, cur,
        keyCols = Seq("o_orderkey"),
        compareCols = Seq("o_orderstatus", "o_totalprice", "o_orderpriority"))
    }),

    // ---- Per-column change counts over the same joined frame — which
    // columns drove the changed rows (price and status here, priority
    // provably untouched). Same single-join cost shape as cmp_row_diff.
    "cmp_column_diff" -> ((s, dir) => {
      val (ref, cur) = diffSnapshots(s, dir)
      graft.compare.SnapshotDiff.columnChanges(ref, cur,
          keyCols = Seq("o_orderkey"),
          compareCols = Seq("o_orderstatus", "o_totalprice", "o_orderpriority"))
        .orderBy("column_name")
    }),

    // ---- Mergeable numeric profiles: three disjoint splits of
    // lineitem are summarized INDEPENDENTLY (as three daily partitions
    // would be), then merged via Chan's exact (n, mean, M2) combine —
    // the oracle computes the same statistics in ONE whole-table scan,
    // so a green row proves split-profile-then-merge ≡ full profile,
    // the incremental-profiling contract at 100 TB. 4dp absorbs the
    // merge-order float rounding.
    "p19_mergeable_profile" -> ((s, dir) => {
      import graft.profiler.MergeableStats
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val splits = (0 until 3).map(k =>
        MergeableStats.numericSummary(
          li.filter(pmod(col("l_orderkey"), lit(3)) === k), cols))
      MergeableStats.merge(splits.reduce(_ unionAll _))
        .select(col("column_name"), col("n_rows"),
          round(col("mean"), 4).as("mean"),
          round(col("stddev_samp"), 4).as("stddev_samp"),
          round(col("mn"), 4).as("min_value"),
          round(col("mx"), 4).as("max_value"))
        .orderBy("column_name")
    }),

    // ---- Frequent items above a support threshold (the multi-value
    // generalization of P9's top-1): every (column, value) with ≥ 5%
    // share of non-null rows — melt + one exact (column, value) agg,
    // output bounded at 1/support rows per column by definition.
    "p20_frequent_items" -> ((s, dir) => {
      ProfilePasses.frequentItems(t(s, dir, "orders"),
          Seq("o_orderstatus", "o_orderpriority"), minSupport = 0.05)
        .select(col("column").as("column_name"), col("value"),
          col("frequency"), round(col("share"), 6).as("share"))
        .orderBy("column_name", "value")
    }),

    // ---- Equi-width histogram of o_totalprice: 12 bins over
    // [0, 600k), out-of-range clamped to edges, empty bins present
    // with n = 0. One ≤12-key hash agg + a generated-bin join.
    "p21_histogram" -> ((s, dir) => {
      ProfilePasses.histogram(t(s, dir, "orders"), "o_totalprice",
          numBins = 12, lo = 0.0, hi = 600000.0)
        .select(col("bin"), round(col("lo_edge"), 2).as("lo_edge"),
          round(col("hi_edge"), 2).as("hi_edge"), col("n"))
        .orderBy("bin")
    }),

    // ---- Robust stats (median / MAD / IQR / scaled-MAD outlier
    // count) — order statistics in three fused passes, immune to the
    // outliers themselves unlike the 3σ pass. quantile_cont replays
    // Spark's exact percentile interpolation; the threshold compare
    // is safe because 3·1.4826·MAD is never exactly representable at
    // a data point.
    "p22_robust_stats" -> ((s, dir) => {
      ProfilePasses.robustStats(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice"))
        .select(col("column_name"), round(col("median"), 4).as("median"),
          round(col("mad"), 4).as("mad"), round(col("iqr"), 4).as("iqr"),
          col("n_outliers"))
        .orderBy("column_name")
    }),

    // ---- Per-group quantiles: o_totalprice quartiles per order
    // priority — one group-keyed shuffle, percentile state quarantined
    // in its own ObjectHashAggregate pass like A2.
    "p23_grouped_quantiles" -> ((s, dir) => {
      ProfilePasses.groupedPercentiles(t(s, dir, "orders"),
          "o_orderpriority", "o_totalprice")
        .select(col("group").as("o_orderpriority"),
          round(col("q1"), 4).as("q1"), round(col("median"), 4).as("median"),
          round(col("q3"), 4).as("q3"))
        .orderBy("o_orderpriority")
    }),

    // ---- String type inference: four stringified shapes (int key,
    // decimal price, ISO date, mixed-case boolean) plus a genuinely
    // textual column — shares + best_type from ONE wide conditional
    // aggregate, every regex replayed.
    "p24_type_inference" -> ((s, dir) => {
      val df = t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("key_str"),
        col("o_totalprice").cast("string").as("price_str"),
        to_date(col("o_orderdate")).cast("string").as("date_str"),
        when(pmod(col("o_orderkey"), lit(2)) === 0, "true").otherwise("FALSE").as("bool_str"),
        col("o_orderpriority").as("text_str"))
      ProfilePasses.typeInference(df,
          Seq("key_str", "price_str", "date_str", "bool_str", "text_str"))
        .select(col("column_name"), col("n_values"),
          round(col("integer_share"), 6).as("integer_share"),
          round(col("decimal_share"), 6).as("decimal_share"),
          round(col("date_share"), 6).as("date_share"),
          round(col("boolean_share"), 6).as("boolean_share"),
          col("best_type"))
        .orderBy("column_name")
    }),

    // ---- Quantile binning: l_quantity cut into 4 equal-mass bins at
    // its own exact quartiles — one quantile aggregate + a map-side
    // literal-boundary CASE, never an ntile sort over the corpus.
    "p25_quantile_bin" -> ((s, dir) => {
      ProfilePasses.quantileBin(t(s, dir, "lineitem"), "l_quantity", numBins = 4)
        .select(col("bin"), round(col("lo"), 4).as("lo"),
          round(col("hi"), 4).as("hi"), col("n"))
        .orderBy("bin")
    }),

    // ---- Benford first-digit screen on o_totalprice (spans four
    // magnitudes — the shape Benford applies to): digit shares +
    // χ² terms, pure float arithmetic both engines replay.
    "p26_benford" -> ((s, dir) => {
      ProfilePasses.benfordDigits(t(s, dir, "orders"), "o_totalprice")
        .select(col("digit"), col("n"),
          round(col("observed_share"), 6).as("observed_share"),
          round(col("expected_share"), 6).as("expected_share"),
          round(col("chi2_term"), 4).as("chi2_term"))
        .orderBy("digit")
    }),

    // ---- Feature standardization: z-score, min-max, and robust
    // scalings of two lineitem columns in one gate — per-method stats
    // from one aggregate, transform map-side, checksummed per method.
    "ft_standardize" -> ((s, dir) => {
      val df = t(s, dir, "lineitem").select(col("l_quantity"), col("l_extendedprice"))
      // abs sums: centered scalings cancel to ~0, where a sign flip in
      // the last float bit becomes a ±0.0 hash mismatch — |x| sums
      // carry real magnitude instead.
      def sums(method: String) = ProfilePasses
        .standardize(df, Seq("l_quantity", "l_extendedprice"), method)
        .agg(round(sum(abs(col("l_quantity_scaled"))), 2).as(s"${method}_qty_abs_sum"),
          round(sum(abs(col("l_extendedprice_scaled"))), 2).as(s"${method}_price_abs_sum"),
          round(max(col("l_quantity_scaled")), 4).as(s"${method}_qty_max"))
      sums("zscore").crossJoin(sums("minmax")).crossJoin(sums("robust"))
    }),

    // ---- Quantile winsorization: both columns clamped into their own
    // exact [p5, p95] band; sums + extremes checksum the clamp, and
    // the extremes ARE the cut points (so the oracle re-derives the
    // same interpolated order statistics via quantile_cont).
    "ft_winsorize" -> ((s, dir) => {
      val df = t(s, dir, "lineitem").select(col("l_quantity"), col("l_extendedprice"))
      ProfilePasses.winsorize(df, Seq("l_quantity", "l_extendedprice"),
          loP = 0.05, hiP = 0.95)
        .agg(
          round(sum(col("l_quantity_winsorized")), 2).as("qty_sum"),
          round(min(col("l_quantity_winsorized")), 4).as("qty_lo"),
          round(max(col("l_quantity_winsorized")), 4).as("qty_hi"),
          round(sum(col("l_extendedprice_winsorized")), 2).as("price_sum"),
          round(min(col("l_extendedprice_winsorized")), 4).as("price_lo"),
          round(max(col("l_extendedprice_winsorized")), 4).as("price_hi"))
    }),

    // ---- LLM-pipeline: asymmetric CONTAINMENT pairs via an inverted
    // shingle index — catches truncated/excerpted documents inside
    // longer ones, invisible to Jaccard LSH (a 40%-prefix copy has
    // containment 1.0 but Jaccard ~0.4). The fixture unions in a
    // 40-word prefix of every 25th document; the oracle brute-forces
    // the same capped-gram containment in SQL, so recall AND precision
    // are both gated.
    "ll25_containment_pairs" -> ((s, dir) => {
      val all = containmentFixture(s, dir)
      Dedup.containmentPairs(all, "doc_id", "text",
          threshold = 0.8, maxDocFrequency = 100)
        .select(col("id_sub"), col("id_super"),
          round(col("containment"), 4).as("containment"))
        .orderBy("id_sub", "id_super")
    }),

    // ---- The cap audit for ll25 ("no silent caps"), histogram form:
    // df counts of the shingle grams the frequency cap dropped. Empty
    // at gate scale (max natural gram df ≈ 7 at sf0.01) — proving the
    // containment scores above are the PLAIN set containments — so the
    // gate pins the cap machinery through a fixture cap of 3, which
    // the oracle replays exactly.
    "ll25b_capped_containment_grams" -> ((s, dir) => {
      val all = containmentFixture(s, dir)
      Dedup.cappedShingleGrams(all, "doc_id", "text", maxDocFrequency = 3)
        .orderBy("df_count")
    })
  )

  /** Shared fixture of the cmp_row_diff / cmp_column_diff gates: two
    * deterministic snapshots of orders (ref drops keys ≡0 mod 7; cur
    * drops keys ≡0 mod 5, shifts price +10% and flips status to 'X'
    * on keys ≡0 mod 3). */
  private def diffSnapshots(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    val ref = o.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val cur = o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(3)) === 0,
          round(col("o_totalprice") * 1.1, 2)).otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(pmod(col("o_orderkey"), lit(3)) === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
    (ref, cur)
  }

  /** Shared fixture of the ll25 containment gates: documents plus a
    * 40-word prefix of every 25th document (id + 1,000,000) — pairs
    * with containment 1.0 but low Jaccard, the case Jaccard-LSH dedup
    * cannot see. */
  private def containmentFixture(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "documents").filter(col("text").isNotNull)
    val trunc = df.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 40)).as("text"))
    df.select("doc_id", "text").unionAll(trunc)
  }

  /** DuckDB-equivalent SQL per query key; the driver executes these on
    * the same parquet tables and hash-compares with the Spark result
    * (columns sorted by name). */
  private val meanDriftOracle: String =
    """WITH ev AS (
        |  SELECT event_type AS key, CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS wk,
        |         value + CASE WHEN event_type = 'click' AND CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) = 2821 THEN 200.0
        |                      WHEN event_type = 'view' AND CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) = 2819 THEN -200.0
        |                      WHEN event_type = 'purchase' AND CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) = 2820 THEN 300.0
        |                      ELSE 0.0 END AS v
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |), batches AS (
        |  SELECT key, wk, count(*) AS bc, avg(v) AS bm, sum(v) AS s1, sum(v * v) AS s2
        |  FROM ev GROUP BY key, wk
        |), hist AS (
        |  SELECT key, wk, bc, bm,
        |    sum(bc) OVER w AS pn, sum(s1) OVER w AS ps1, sum(s2) OVER w AS ps2
        |  FROM batches
        |  WINDOW w AS (PARTITION BY key ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT key, bc AS batch_count, round(bm, 4) AS batch_mean,
        |  round(ps1 / pn, 4) AS running_mean,
        |  round(sqrt((ps2 - ps1 * ps1 / pn) / (pn - 1)), 4) AS running_stdev,
        |  round(abs(bm - ps1 / pn) / sqrt((ps2 - ps1 * ps1 / pn) / (pn - 1)), 4) AS z_score
        |FROM hist
        |WHERE pn >= 10 AND (ps2 - ps1 * ps1 / pn) > 0
        |  AND abs(bm - ps1 / pn) / sqrt((ps2 - ps1 * ps1 / pn) / (pn - 1)) > 3.0
        |ORDER BY key""".stripMargin

  /** Shared oracle CTE chain for the replayable Lloyd iteration the
    * ll5 / ll20 / ll20b gates run (init = the 8 lowest vec_ids, one
    * assignment+mean step, final assignment): defines `emb(vec_id, v)`
    * and ends with `cells(vec_id, cell)`; the intermediate CTEs
    * (`c0`..`c1n`) stay visible to the caller's continuation. Already
    * margin-stripped — interpolate into a WITH clause. */
  /** The PQ codebook replay CTEs (`sub`..`codes`) shared by the ll22
    * and ll23 oracles: 4 subspaces × 16 dims over `emb` (which the
    * caller's WITH must define first), one Euclidean Lloyd iteration
    * per subspace from the 8 lowest vec_ids, assignment by the SAME
    * augmented-dot arithmetic the Spark side's NearestCells evaluates
    * (argmax ⟨x,c⟩ − ‖c‖²/2 ≡ argmin ‖x−c‖²; formula parity keeps
    * cross-engine assignment flips to genuine ~1e-15 ties), empty-cell
    * fallback to the init centroid. Ends with `codes(vec_id, m, j)`
    * and keeps `pc1(m, j, cv)` (raw centroids) visible for ADC
    * scoring. Already margin-stripped — interpolate into a WITH
    * clause after `emb`. */
  private def pqCodebookCtesTrained(trainSub: String, afterSub: String = ""): String =
    s"""sub AS (
      |  SELECT vec_id, t.m AS m, list_slice(v, t.m * 16 + 1, t.m * 16 + 16) AS sv
      |  FROM emb CROSS JOIN range(0, 4) t(m)
      |)$afterSub, pc0 AS (
      |  SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS j, sv AS cv
      |  FROM $trainSub WHERE vec_id IN (
      |    SELECT DISTINCT vec_id FROM $trainSub ORDER BY vec_id LIMIT 8)
      |), pa1 AS (
      |  SELECT vec_id, m, (list(j ORDER BY dot DESC, j ASC))[1] AS j
      |  FROM (
      |    SELECT s.vec_id, s.m, c.j,
      |           list_sum([s.sv[i] * c.cv[i] for i in range(1, 17)])
      |             - 0.5 * list_sum([x * x for x in c.cv]) AS dot
      |    FROM $trainSub s JOIN pc0 c USING (m)
      |  ) GROUP BY vec_id, m
      |), pc1m AS (
      |  SELECT m, j, list(mm ORDER BY pos) AS cv
      |  FROM (
      |    SELECT a.m AS m, a.j AS j, t.pos AS pos, avg(s.sv[t.pos]) AS mm
      |    FROM pa1 a JOIN $trainSub s ON s.vec_id = a.vec_id AND s.m = a.m,
      |         range(1, 17) t(pos)
      |    GROUP BY a.m, a.j, t.pos
      |  ) GROUP BY m, j
      |), pc1 AS (
      |  SELECT pc0.m, pc0.j, COALESCE(pc1m.cv, pc0.cv) AS cv
      |  FROM pc0 LEFT JOIN pc1m USING (m, j)
      |), codes AS (
      |  SELECT vec_id, m, (list(j ORDER BY dot DESC, j ASC))[1] AS j
      |  FROM (
      |    SELECT s.vec_id, s.m, c.j,
      |           list_sum([s.sv[i] * c.cv[i] for i in range(1, 17)])
      |             - 0.5 * list_sum([x * x for x in c.cv]) AS dot
      |    FROM sub s JOIN pc1 c USING (m)
      |  ) GROUP BY vec_id, m
      |)""".stripMargin

  private val pqCodebookCtes: String = pqCodebookCtesTrained("sub")

  private val kmeansCellsCte: String =
    """emb AS (
      |  SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings
      |), c0 AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      |  FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8)
      |), c0n AS (
      |  SELECT cell, CASE WHEN nrm = 0 THEN v ELSE [x / nrm for x in v] END AS vn
      |  FROM (SELECT cell, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM c0)
      |), a1 AS (
      |  SELECT vec_id, (list(cell ORDER BY dot DESC, cell ASC))[1] AS cell
      |  FROM (
      |    SELECT e.vec_id, c.cell,
      |           list_sum([e.v[i] * c.vn[i] for i in range(1, len(e.v) + 1)]) AS dot
      |    FROM emb e CROSS JOIN c0n c
      |  ) GROUP BY vec_id
      |), c1m AS (
      |  SELECT cell, list(m ORDER BY pos) AS v
      |  FROM (
      |    SELECT a1.cell AS cell, t.pos AS pos, avg(e.v[t.pos]) AS m
      |    FROM a1 JOIN emb e USING (vec_id), range(1, 65) t(pos)
      |    GROUP BY a1.cell, t.pos
      |  ) GROUP BY cell
      |), c1 AS (
      |  SELECT c0.cell, COALESCE(c1m.v, c0.v) AS v FROM c0 LEFT JOIN c1m USING (cell)
      |), c1n AS (
      |  SELECT cell, CASE WHEN nrm = 0 THEN v ELSE [x / nrm for x in v] END AS vn
      |  FROM (SELECT cell, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM c1)
      |), cells AS (
      |  SELECT vec_id, (list(cell ORDER BY dot DESC, cell ASC))[1] AS cell
      |  FROM (
      |    SELECT e.vec_id, c.cell,
      |           list_sum([e.v[i] * c.vn[i] for i in range(1, len(e.v) + 1)]) AS dot
      |    FROM emb e CROSS JOIN c1n c
      |  ) GROUP BY vec_id
      |)""".stripMargin

  /** Rounds for the BPE gates — small enough that the DuckDB replay
    * (one chained-CTE block per round) stays cheap, large enough to
    * produce multi-char tokens on the documents corpus. */
  private val BpeRounds = 12

  /** Rounds for the byte-level BPE gate — the byte alphabet's richer
    * base vocabulary makes each replay round a little heavier, so the
    * gate runs slightly fewer. */
  private val ByteBpeRounds = 10

  /** Word-mode pre-tokenization + framing, as DuckDB expressions. */
  private val BpeWordsList =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"
  private val BpeWordFrame = ("word", "(.)")

  /** Byte-mode pre-tokenization + hex framing: base symbols are
    * lowercase 2-hex-digit UTF-8 bytes, so the frame regex groups two
    * chars per symbol. The pre-token regex is spliced from
    * [[graft.text.Bpe.BytePattern]] VERBATIM (it is RE2-compatible and
    * spells whitespace out as `[ \t\n\x0B\f\r]` precisely so the same
    * string means the same thing under Java regex and RE2) — one
    * source of truth, no engine/oracle drift. */
  private val BpeByteWordsList =
    s"regexp_extract_all(text, '${graft.text.Bpe.BytePattern}')"
  private val BpeByteFrame = ("lower(hex(encode(word)))", "(..)")

  /** The BPE learning chain as DuckDB CTEs: srcdocs = the corpus
    * (parameterized so gates can synthesize fixtures), w0 = pre-token
    * frequencies, v0 = separator-framed vocab, then per round i: p_i =
    * adjacent pair counts, b_i = argmax pair (count desc, then
    * lexicographic), v_i = vocab after the literal replace.
    * MATERIALIZED is required: v_i references b_i three times and b_i
    * chains back through every earlier round, so inlined CTEs would
    * expand exponentially. */
  private def bpeLearnCtesFor(docsSql: String, wordsList: String,
      frame: (String, String), numRounds: Int): String = {
    val (frameInput, frameGroup) = frame
    val head = Seq(
      s"""srcdocs AS MATERIALIZED ($docsSql)""",
      s"""w0 AS MATERIALIZED (
         |  SELECT word, count(*) AS freq FROM (
         |    SELECT unnest($wordsList) AS word FROM srcdocs)
         |  GROUP BY word)""".stripMargin,
      s"""v0 AS MATERIALIZED (
         |  SELECT left(s, len(s) - 1) AS w, freq FROM (
         |    SELECT '|' || regexp_replace($frameInput, '$frameGroup', '\\1||', 'g') AS s, freq FROM w0))""".stripMargin)
    val rounds = (1 to numRounds).flatMap { i =>
      Seq(
        s"""p$i AS MATERIALIZED (
           |  SELECT p.x AS x, p.y AS y, sum(freq) AS cnt FROM (
           |    SELECT unnest([{'x': s[j], 'y': s[j+1]} for j in range(1, len(s))]) AS p, freq FROM (
           |      SELECT string_split(substr(w, 2, len(w) - 2), '||') AS s, freq FROM v${i - 1}))
           |  GROUP BY 1, 2)""".stripMargin,
        s"""b$i AS MATERIALIZED (
           |  SELECT CAST($i AS BIGINT) AS rank, x, y, CAST(cnt AS BIGINT) AS cnt FROM p$i ORDER BY cnt DESC, x, y LIMIT 1)""".stripMargin,
        s"""v$i AS MATERIALIZED (
           |  SELECT replace(w, '|' || (SELECT x FROM b$i) || '||' || (SELECT y FROM b$i) || '|',
           |                    '|' || (SELECT x FROM b$i) || (SELECT y FROM b$i) || '|') AS w, freq FROM v${i - 1})""".stripMargin)
    }
    (head ++ rounds).mkString(",\n")
  }

  private def bpeLearnCtes: String = bpeLearnCtesFor(
    "SELECT doc_id, text FROM documents WHERE text IS NOT NULL",
    BpeWordsList, BpeWordFrame, BpeRounds)

  /** Encoding chain for the tokens oracles: each DISTINCT pre-token
    * runs the same replace chain (e_0..e_N), then joins back to
    * per-doc pre-token positions — the replay-side mirror of
    * BpeEncoder's memoization. */
  private def bpeTokenCtesFor(wordsList: String,
      frame: (String, String), numRounds: Int): String = {
    val (frameInput, frameGroup) = frame
    val enc0 =
      s"""e0 AS MATERIALIZED (
         |  SELECT word, left(s, len(s) - 1) AS w FROM (
         |    SELECT word, '|' || regexp_replace($frameInput, '$frameGroup', '\\1||', 'g') AS s FROM w0))""".stripMargin
    val encRounds = (1 to numRounds).map { i =>
      s"""e$i AS MATERIALIZED (
         |  SELECT word, replace(w, '|' || (SELECT x FROM b$i) || '||' || (SELECT y FROM b$i) || '|',
         |                          '|' || (SELECT x FROM b$i) || (SELECT y FROM b$i) || '|') AS w FROM e${i - 1})""".stripMargin
    }
    val tail = Seq(
      s"""wtoks AS MATERIALIZED (
         |  SELECT word, string_split(substr(w, 2, len(w) - 2), '||') AS ts FROM e$numRounds)""".stripMargin,
      s"""docw AS MATERIALIZED (
         |  SELECT doc_id, j AS wi, words[j] AS word FROM (
         |    SELECT doc_id, $wordsList AS words FROM srcdocs) t,
         |    LATERAL unnest(range(1, len(words) + 1)) u(j))""".stripMargin,
      """flat AS MATERIALIZED (
        |  SELECT d.doc_id, d.wi, u.ti, w.ts[u.ti] AS tok
        |  FROM docw d JOIN wtoks w USING (word),
        |       LATERAL unnest(range(1, len(w.ts) + 1)) u(ti))""".stripMargin)
    (Seq(enc0) ++ encRounds ++ tail).mkString(",\n")
  }

  private def bpeTokenCtes: String =
    bpeTokenCtesFor(BpeWordsList, BpeWordFrame, BpeRounds)

  /** The punctuation-heavy fixture for the byte-level BPE gate, as
    * DuckDB SQL — case, quotes, apostrophes, digits-with-separators,
    * a double-space whitespace run, and a multi-byte UTF-8 char, all
    * synthesized deterministically from doc_id so both engines build
    * the identical corpus. */
  private val ByteBpeFixtureSql =
    """SELECT doc_id, CASE CAST(doc_id % 3 AS INTEGER)
      |  WHEN 0 THEN 'Dr. O''Brien said: "' || text || '!" (cost: $1,234.56)'
      |  WHEN 1 THEN upper(substr(text, 1, 40)) || '... don''t; re-do?  ' || text
      |  ELSE text || '  -- endé' END AS text
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** The txt_html_strip oracle: the messy-HTML fixture plus the exact
    * chain documented in [[graft.functions.HtmlStripUtil]] — four
    * regexp_replace steps, the one-pass entity segmentation (named
    * table generated from the SAME Scala map the expression uses, so
    * the two engines cannot drift), and whitespace collapse. */
  private def htmlStripOracleSql: String = {
    val namedCases = graft.functions.HtmlStripUtil.named.toSeq.sorted.map {
      case (n, v) => s"WHEN seg = '&$n;' THEN '${v.replace("'", "''")}'"
    }.mkString("\n        ")
    val dec = "CAST(substr(seg, 3, len(seg) - 3) AS BIGINT)"
    val hex = "CAST('0x' || substr(seg, 4, len(seg) - 4) AS BIGINT)"
    s"""WITH fx AS MATERIALIZED (
       |  SELECT doc_id,
       |    '<html><head><title>Doc</title><style type="text/css">p{color:red}</style></head><body><!-- id '
       |    || CAST(doc_id AS VARCHAR) || ' --><p class="lead">' || substr(text, 1, 60) || '</p>' ||
       |    CASE CAST(doc_id % 4 AS INTEGER)
       |      WHEN 0 THEN '<script>var t = "<b>js</b>";</script><div>Fish &amp; Chips &lt;tagged&gt;</div>'
       |      WHEN 1 THEN '<DIV CLASS="x">&#65;&#x42;C &copy; 2024&nbsp;&mdash;&hellip;</DIV><STYLE>.x{}</STYLE>'
       |      WHEN 2 THEN '<p>caf&eacute; stays &unknown; &#55296; &#0; literal A&#11;B</p>'
       |      ELSE '<br/><span>' || substr(text, 61) || ' &quot;quoted&apos;&raquo;</span>'
       |    END || '</body></html>' AS html
       |  FROM documents WHERE text IS NOT NULL),
       |s4 AS MATERIALIZED (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
       |      '(?s)<!--.*?-->', '', 'g'),
       |      '(?is)<script\\b.*?</script[ \\t\\n\\x0B\\f\\r]*>', '', 'g'),
       |      '(?is)<style\\b.*?</style[ \\t\\n\\x0B\\f\\r]*>', '', 'g'),
       |      '(?s)<[^>]*>', '', 'g') AS s
       |  FROM fx),
       |dec AS MATERIALIZED (
       |  SELECT doc_id, array_to_string(list_transform(
       |    regexp_extract_all(s, '&[A-Za-z]+;|&#[0-9]{1,8};|&#[xX][0-9A-Fa-f]{1,6};|[^&]+|&'),
       |    seg -> CASE
       |        $namedCases
       |      WHEN regexp_matches(seg, '^&#[0-9]+;$$') THEN
       |        CASE WHEN $dec BETWEEN 1 AND 1114111 AND $dec NOT BETWEEN 55296 AND 57343
       |             THEN chr(CAST($dec AS INTEGER)) ELSE seg END
       |      WHEN regexp_matches(seg, '^&#[xX]') THEN
       |        CASE WHEN $hex BETWEEN 1 AND 1114111 AND $hex NOT BETWEEN 55296 AND 57343
       |             THEN chr(CAST($hex AS INTEGER)) ELSE seg END
       |      ELSE seg END), '') AS s
       |  FROM s4)
       |SELECT doc_id, trim(regexp_replace(s, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS clean_text
       |FROM dec ORDER BY doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "p1_row_count" ->
      "SELECT count(*) AS row_count FROM lineitem",

    "p2_null_counts" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      val parts = cols.map(c => s"count(*) FILTER (WHERE $c IS NULL) AS ${c}_nulls").mkString(", ")
      s"SELECT count(*) AS row_count, $parts FROM orders"
    },

    "p3_distinct_counts" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      val parts = cols.map(c => s"count(DISTINCT $c) AS ${c}_distinct").mkString(", ")
      s"SELECT $parts FROM lineitem"
    },

    "p4_duplicate_rows" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate").mkString(", ")
      s"""SELECT count(*) AS duplicate_count FROM (
         |  SELECT $cols, count(*) AS cnt FROM lineitem GROUP BY $cols HAVING count(*) > 1
         |) dup_groups""".stripMargin
    },

    "p5_numeric_stats" -> {
      val parts = Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
        s"""CAST(min($c) AS DOUBLE) AS ${c}_min, CAST(max($c) AS DOUBLE) AS ${c}_max,
           |round(avg($c), 4) AS ${c}_avg, round(CAST(sum($c) AS DOUBLE), 2) AS ${c}_sum,
           |round(stddev_samp($c), 4) AS ${c}_stdev,
           |round(quantile_cont($c, 0.25), 4) AS ${c}_q1,
           |round(quantile_cont($c, 0.5), 4) AS ${c}_median,
           |round(quantile_cont($c, 0.75), 4) AS ${c}_q3""".stripMargin
      }.mkString(",\n")
      s"SELECT $parts FROM lineitem"
    },

    "p6_text_lengths" -> {
      val parts = Seq("c_name", "c_mktsegment").map { c =>
        s"""CAST(min(length($c)) AS BIGINT) AS ${c}_min_length,
           |CAST(max(length($c)) AS BIGINT) AS ${c}_max_length,
           |round(avg(length($c)), 4) AS ${c}_avg_length""".stripMargin
      }.mkString(",\n")
      s"SELECT $parts FROM customer"
    },

    "p7_text_patterns" -> {
      val parts = Seq("text", "lang", "source").map { c =>
        s"""count(*) FILTER (WHERE regexp_matches($c, '.*@.*\\..*')) AS ${c}_email_count,
           |count(*) FILTER (WHERE regexp_matches($c, '^[0-9]+$$')) AS ${c}_numeric_count,
           |count(*) FILTER (WHERE regexp_matches($c, '^[0-9]{2,4}[/-][0-9]{1,2}[/-][0-9]{1,2}$$')) AS ${c}_date_count""".stripMargin
      }.mkString(",\n")
      s"SELECT $parts FROM documents"
    },

    "p8_date_stats" ->
      """SELECT min(o_orderdate) AS o_orderdate_min_date,
        |       max(o_orderdate) AS o_orderdate_max_date,
        |       count(DISTINCT o_orderdate) AS o_orderdate_distinct_dates,
        |       date_diff('day', CAST(min(o_orderdate) AS DATE), CAST(max(o_orderdate) AS DATE)) AS o_orderdate_range_days
        |FROM orders""".stripMargin,

    "p9_frequent_values" ->
      """WITH pairs AS (
        |  SELECT 'o_orderstatus' AS col_name, CAST(o_orderstatus AS VARCHAR) AS value FROM orders WHERE o_orderstatus IS NOT NULL
        |  UNION ALL
        |  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders WHERE o_orderpriority IS NOT NULL
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders WHERE o_custkey IS NOT NULL
        |), counted AS (
        |  SELECT col_name, value, count(*) AS frequency FROM pairs GROUP BY col_name, value
        |), ranked AS (
        |  SELECT col_name, value, frequency,
        |         row_number() OVER (PARTITION BY col_name ORDER BY frequency DESC, value DESC) AS rn
        |  FROM counted
        |)
        |SELECT col_name, value, frequency,
        |       round(frequency * 100.0 / (SELECT count(*) FROM orders), 2) AS percentage
        |FROM ranked WHERE rn = 1 ORDER BY col_name""".stripMargin,

    "p10_outlier_counts" ->
      """WITH stats AS (
        |  SELECT avg(s_acctbal) AS m, stddev_samp(s_acctbal) AS sd FROM supplier
        |)
        |SELECT count(*) FILTER (WHERE s_acctbal > m + 3 * sd OR s_acctbal < m - 3 * sd) AS s_acctbal_outlier_count
        |FROM supplier, stats""".stripMargin,

    "p11_samples" ->
      "SELECT CAST(count(*) AS BIGINT) AS sample_rows FROM (SELECT * FROM region LIMIT 3) s",

    "p11b_random_samples" ->
      """SELECT CAST(count(*) AS BIGINT) AS sample_rows,
        |       CAST(count(DISTINCT c_custkey) AS BIGINT) AS distinct_keys
        |FROM (SELECT * FROM customer USING SAMPLE 5 ROWS) s""".stripMargin,

    "p12_completeness" -> {
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val parts = cols.map { c =>
        s"""SELECT '$c' AS col_name,
           |  count(*) FILTER (WHERE $c IS NULL) AS nulls,
           |  round(count(*) FILTER (WHERE $c IS NULL) * 100.0 / count(*), 2) AS null_percentage,
           |  count(DISTINCT $c) AS distinct_count,
           |  round(count(DISTINCT $c) * 100.0 / count(*), 2) AS distinct_percentage
           |FROM customer""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"SELECT * FROM ($parts) ORDER BY col_name"
    },

    "p13_anomaly_detection" ->
      "SELECT 'row_count' AS anomaly_type, 'high' AS severity, true AS table_level",

    "p14_schema_shifts" ->
      """SELECT 'column_added' AS shift_type, 'r_name' AS column_name, 'medium' AS severity
        |UNION ALL
        |SELECT 'column_removed', 'legacy_flag', 'high'
        |ORDER BY shift_type, column_name""".stripMargin,

    "scale_profile_lineitem" ->
      """SELECT (SELECT count(*) FROM lineitem) AS row_count,
        |       (SELECT count(*) FILTER (WHERE l_orderkey IS NULL) FROM lineitem) AS l_orderkey_nulls,
        |       (SELECT count(*) FILTER (WHERE l_quantity IS NULL) FROM lineitem) AS l_quantity_nulls,
        |       (SELECT count(*) FROM (
        |          -- all 11 columns of the synthetic lineitem: full-row
        |          -- duplicate semantics, matching the engine's digest.
        |          SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |                 l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, count(*) AS c
        |          FROM lineitem GROUP BY ALL HAVING count(*) > 1) d) AS duplicate_count,
        |       (SELECT CAST(min(l_quantity) AS DOUBLE) FROM lineitem) AS l_quantity_min,
        |       (SELECT CAST(max(l_quantity) AS DOUBLE) FROM lineitem) AS l_quantity_max""".stripMargin,

    "d1_not_empty" ->
      "SELECT count(*) AS violation_count FROM orders",

    "d2_pk_unique" ->
      """SELECT count(*) AS violation_count FROM (
        |  SELECT o_orderkey, count(*) AS cnt FROM orders GROUP BY o_orderkey HAVING count(*) > 1
        |) duplicates""".stripMargin,

    "d4_unique" ->
      """SELECT count(*) AS violation_count FROM (
        |  SELECT p_partkey, count(*) AS cnt FROM part WHERE p_partkey IS NOT NULL
        |  GROUP BY p_partkey HAVING count(*) > 1
        |) duplicates""".stripMargin,

    "d6_positive" ->
      "SELECT count(*) AS violation_count FROM part WHERE p_retailprice < 0",

    "d7_not_zero" ->
      "SELECT count(*) AS violation_count FROM lineitem WHERE l_extendedprice = 0",

    "d8_date_sanity" ->
      """SELECT (SELECT count(*) FROM orders WHERE o_orderdate > CURRENT_DATE) AS not_future_violations,
        |       (SELECT count(*) FROM orders WHERE o_orderdate < '1970-01-01') AS reasonable_past_violations""".stripMargin,

    "d10_outliers" ->
      """WITH stats AS (
        |  SELECT avg(c_acctbal) AS avg_val, stddev_samp(c_acctbal) AS stddev_val
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |)
        |SELECT count(*) AS violation_count FROM customer, stats
        |WHERE c_acctbal > stats.avg_val + 3 * stats.stddev_val
        |   OR c_acctbal < stats.avg_val - 3 * stats.stddev_val""".stripMargin,

    "d12_null_rate" ->
      """SELECT round(CAST(count(*) FILTER (WHERE c_name IS NULL) * 100.0 / NULLIF(count(*), 0) AS DOUBLE), 4) AS null_rate_pct
        |FROM customer""".stripMargin,

    "d3_row_growth" ->
      """WITH current_count AS (SELECT COUNT(*) as count FROM orders),
        |prev_count AS (
        |  SELECT CASE WHEN COUNT(*) = 0 THEN NULL ELSE COUNT(*) END as count FROM orders
        |)
        |SELECT CAST(CASE
        |  WHEN prev_count.count IS NULL THEN 0
        |  WHEN ABS(current_count.count - prev_count.count) > prev_count.count * 0.2 THEN 1
        |  ELSE 0 END AS INT) AS violation_count
        |FROM current_count, prev_count""".stripMargin,

    "d5_not_null" ->
      """WITH strict_t AS (
        |  SELECT * FROM (VALUES (1, 'a', NULL), (2, 'b', 'x'), (3, 'c', NULL)) AS t(id, label, note)
        |)
        |SELECT count(*) AS violation_count FROM strict_t WHERE label IS NULL""".stripMargin,

    "d8b_end_date_order" ->
      """WITH projects AS (
        |  SELECT CAST(s AS DATE) AS start_date, CAST(e AS DATE) AS end_date
        |  FROM (VALUES ('2024-01-01','2024-02-01'), ('2024-03-01','2024-02-15'),
        |               (NULL,'2024-01-01'), ('2024-01-01',NULL)) AS t(s, e)
        |)
        |SELECT count(*) AS violation_count FROM projects
        |WHERE end_date IS NOT NULL AND start_date IS NOT NULL AND end_date < start_date""".stripMargin,

    "d9_string_rules" ->
      """WITH contacts AS (
        |  SELECT * FROM (VALUES
        |    ('a@b.com', '+1 (555) 123-4567', '12345', 'Alice'),
        |    ('bad-email', '555 1234', 'AB', 'Bob'),
        |    ('x@y.org', 'nope', '99999', ''),
        |    ('no-at-sign', '(02) 9999 8888', '7', 'VeryLongName!')
        |  ) AS t(email, phone, postal_code, name)
        |)
        |SELECT
        |  (SELECT count(*) FROM contacts WHERE email IS NOT NULL AND email NOT LIKE '%@%.%') AS email_violations,
        |  (SELECT count(*) FROM contacts WHERE phone IS NOT NULL AND NOT regexp_matches(phone, '(\+)?[0-9][0-9 ()-]+')) AS phone_violations,
        |  (SELECT count(*) FROM contacts WHERE postal_code IS NOT NULL AND length(trim(postal_code)) < 3) AS postal_violations,
        |  (SELECT count(*) FROM contacts WHERE length(name) > 10) AS maxlen_violations,
        |  (SELECT count(*) FROM contacts WHERE name = '') AS empty_violations""".stripMargin,

    "d11_ref_table_size" ->
      "SELECT count(*) AS ref_table_rows FROM region",

    "d15_updated_after_created" ->
      """WITH records AS (
        |  SELECT CAST(c AS TIMESTAMP) AS created_at, CAST(u AS TIMESTAMP) AS updated_at
        |  FROM (VALUES ('2024-01-01 10:00:00','2024-01-02 10:00:00'),
        |               ('2024-02-01 10:00:00','2024-01-15 10:00:00'),
        |               ('2024-03-01 10:00:00',NULL)) AS t(c, u)
        |)
        |SELECT count(*) AS violation_count FROM records
        |WHERE updated_at IS NOT NULL AND created_at IS NOT NULL AND updated_at < created_at""".stripMargin,

    "validator_ops" ->
      """SELECT 'op_error' AS rule_name, false AS is_valid, true AS has_error
        |UNION ALL
        |SELECT 'op_ge_fail', (SELECT count(*) FROM part) >= 10000000, false
        |UNION ALL
        |SELECT 'op_ge_pass', (SELECT count(*) FROM part) >= 1, false
        |UNION ALL
        |SELECT 'op_ne_fail', 5 <> 5, false
        |UNION ALL
        |SELECT 'op_ne_pass', (SELECT count(*) FROM part) <> 0, false
        |UNION ALL
        |SELECT 'op_unknown', false, false
        |ORDER BY rule_name""".stripMargin,

    "p10_outlier_values" ->
      """WITH stats AS (
        |  SELECT avg(value) AS m, stddev_samp(value) AS sd FROM events
        |)
        |SELECT COALESCE((SELECT list_sort(list(value))[1:10] FROM events, stats
        |        WHERE value > m + 3 * sd OR value < m - 3 * sd), CAST([] AS DOUBLE[])) AS value_outliers""".stripMargin,

    "d13_distribution" ->
      """WITH val_counts AS (
        |  SELECT o_orderstatus, count(*) AS cnt,
        |         (count(*) * 100.0 / NULLIF((SELECT count(*) FROM orders), 0)) AS pct
        |  FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY o_orderstatus
        |)
        |SELECT count(*) AS violation_count FROM val_counts WHERE pct > 95.0""".stripMargin,

    "d14_ref_distribution" ->
      """SELECT CASE
        |  WHEN (SELECT count(DISTINCT l_suppkey) FROM lineitem WHERE l_suppkey IS NOT NULL) = 1
        |  THEN 1 ELSE 0 END AS violation_count""".stripMargin,

    "validator_run" ->
      """SELECT 'check_avg_part_size_between' AS rule_name,
        |       (SELECT round(avg(p_size), 4) FROM part) BETWEEN 1 AND 50 AS is_valid,
        |       (SELECT round(avg(p_size), 4) FROM part) AS actual_value
        |UNION ALL
        |SELECT 'check_discount_max',
        |       (SELECT max(l_discount) FROM lineitem) < 1.0,
        |       (SELECT max(l_discount) FROM lineitem)
        |UNION ALL
        |SELECT 'check_orders_not_empty',
        |       (SELECT count(*) FROM orders) > 0,
        |       CAST((SELECT count(*) FROM orders) AS DOUBLE)
        |UNION ALL
        |SELECT 'check_quantity_no_negatives',
        |       (SELECT count(*) FROM lineitem WHERE l_quantity < 0) = 0,
        |       CAST((SELECT count(*) FROM lineitem WHERE l_quantity < 0) AS DOUBLE)
        |UNION ALL
        |SELECT 'check_status_count',
        |       (SELECT count(DISTINCT o_orderstatus) FROM orders) <= 3,
        |       CAST((SELECT count(DISTINCT o_orderstatus) FROM orders) AS DOUBLE)
        |ORDER BY rule_name""".stripMargin,

    "rules_file_roundtrip" ->
      """SELECT 'rt_orders_rows' AS rule_name,
        |       (SELECT count(*) FROM orders) > 0 AS is_valid,
        |       CAST((SELECT count(*) FROM orders) AS DOUBLE) AS actual_value
        |UNION ALL
        |SELECT 'rt_part_price_positive',
        |       (SELECT count(*) FROM part WHERE p_retailprice < 0) = 0,
        |       CAST((SELECT count(*) FROM part WHERE p_retailprice < 0) AS DOUBLE)
        |UNION ALL
        |SELECT 'rt_part_size_between',
        |       (SELECT round(avg(p_size), 4) FROM part) BETWEEN 1 AND 50,
        |       (SELECT round(avg(p_size), 4) FROM part)
        |ORDER BY rule_name""".stripMargin,

    "p15_trends" ->
      """WITH n AS (SELECT count(*) AS c FROM region)
        |SELECT '2026-01-01T00:00:00Z' AS ts, CAST(c - 2 AS DOUBLE) AS row_count, 0.0 AS duplicate_count FROM n
        |UNION ALL
        |SELECT '2026-01-02T00:00:00Z', CAST(c - 1 AS DOUBLE), 0.0 FROM n
        |UNION ALL
        |SELECT '2026-01-03T00:00:00Z', CAST(c AS DOUBLE), 0.0 FROM n
        |ORDER BY ts""".stripMargin,

    // Textbook Pearson per pair (pairwise null deletion), 4dp.
    "p16_correlations" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.length
      } yield (cols(i), cols(j))
      pairs.map { case (a, b) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, round(corr($a, $b), 4) AS corr_coef FROM lineitem"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
    },

    // Same histogram → log fold: H = log2(n) − Σc·log2(c)/n per
    // column over the melted non-null values.
    "p17_value_entropy" -> {
      val cols = Seq("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate")
      val melt = cols.map(n =>
        s"SELECT '$n' AS column_name, CAST($n AS VARCHAR) AS value FROM lineitem WHERE $n IS NOT NULL")
        .mkString("\nUNION ALL\n")
      s"""WITH m AS (
         |$melt
         |), c AS (
         |  SELECT column_name, value, count(*) AS cnt FROM m GROUP BY 1, 2
         |), a AS (
         |  SELECT column_name, sum(cnt) AS n, count(*) AS dv,
         |         sum(cnt * log2(cnt)) AS s
         |  FROM c GROUP BY 1
         |)
         |SELECT column_name, dv AS distinct_values,
         |       round(log2(n) - s / n, 4) AS entropy_bits,
         |       round(CASE WHEN dv > 1 THEN (log2(n) - s / n) / log2(dv)
         |             ELSE 0.0 END, 4) AS normalized_entropy
         |FROM a ORDER BY column_name""".stripMargin
    },

    // Same contingency arithmetic per pair: observed (a,b) counts,
    // marginal cross grid (zero cells included), χ² fold, V.
    "p18_categorical_association" -> {
      def pair(table: String, a: String, b: String): String =
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n, chi2, cramers_v FROM (
           |  WITH obs AS (
           |    SELECT CAST($a AS VARCHAR) AS a, CAST($b AS VARCHAR) AS b,
           |           CAST(count(*) AS DOUBLE) AS o
           |    FROM $table WHERE $a IS NOT NULL AND $b IS NOT NULL GROUP BY 1, 2
           |  ), rt AS (SELECT a, sum(o) AS rt FROM obs GROUP BY a
           |  ), ct AS (SELECT b, sum(o) AS ct FROM obs GROUP BY b
           |  ), tot AS (
           |    SELECT sum(o) AS n, CAST(count(DISTINCT a) AS DOUBLE) AS r,
           |           CAST(count(DISTINCT b) AS DOUBLE) AS c FROM obs
           |  ), grid AS (
           |    SELECT COALESCE(obs.o, 0.0) - rt.rt * ct.ct / tot.n AS d,
           |           rt.rt * ct.ct / tot.n AS e
           |    FROM rt CROSS JOIN ct
           |    LEFT JOIN obs ON obs.a = rt.a AND obs.b = ct.b
           |    CROSS JOIN tot
           |  ), x AS (SELECT sum(d * d / e) AS chi2 FROM grid)
           |  SELECT CAST(tot.n AS BIGINT) AS n, round(x.chi2, 4) AS chi2,
           |         round(CASE WHEN least(tot.r, tot.c) > 1.0
           |           THEN sqrt(x.chi2 / (tot.n * (least(tot.r, tot.c) - 1.0)))
           |           ELSE 0.0 END, 4) AS cramers_v
           |  FROM x CROSS JOIN tot
           |)""".stripMargin
      pair("lineitem", "l_returnflag", "l_linestatus") + "\nUNION ALL\n" +
        pair("orders", "o_orderstatus", "o_orderpriority") + "\nORDER BY col_a"
    },

    // Replays the deterministic binning (reference min/max edges,
    // identical two-step width arithmetic), per-side shares over a
    // full 0..9 spine, smoothed PSI terms, and the running CDF gap.
    // Exact KS over the same split: gap values are bit-identical in
    // both engines (integer cumulative counts through one division
    // each), so the argmin-value tiebreak on gap equality is robust.
    "cmp_ks_exact" ->
      """WITH r AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
        |  WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL
        |), c AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) * 1.2 AS v FROM lineitem
        |  WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL
        |), n AS (
        |  SELECT (SELECT count(*) FROM r) AS nr, (SELECT count(*) FROM c) AS nc
        |), m AS (
        |  SELECT v, sum(rn) AS rn, sum(cn) AS cn FROM (
        |    SELECT v, 1 AS rn, 0 AS cn FROM r
        |    UNION ALL SELECT v, 0, 1 FROM c) GROUP BY v
        |), g AS (
        |  SELECT v, abs(sum(rn) OVER w / CAST(nr AS DOUBLE) - sum(cn) OVER w / CAST(nc AS DOUBLE)) AS gap
        |  FROM m, n WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT round((SELECT max(gap) FROM g), 6) AS ks_stat,
        |       (SELECT min(v) FROM g WHERE gap = (SELECT max(gap) FROM g)) AS at_value,
        |       CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur
        |FROM n""".stripMargin,

    "cmp_psi_drift" ->
      """WITH ref AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
        |  WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL
        |), cur AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) * 1.2 AS v FROM lineitem
        |  WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL
        |), e AS (
        |  SELECT min(v) AS lo, (max(v) - min(v)) / 10 AS width FROM ref
        |), rh AS (
        |  SELECT least(9, greatest(0, CAST(floor((v - lo) / width) AS INTEGER))) AS bin,
        |         count(*) AS c
        |  FROM ref CROSS JOIN e GROUP BY 1
        |), ch AS (
        |  SELECT least(9, greatest(0, CAST(floor((v - lo) / width) AS INTEGER))) AS bin,
        |         count(*) AS c
        |  FROM cur CROSS JOIN e GROUP BY 1
        |), spine AS (SELECT CAST(range AS INTEGER) AS bin FROM range(0, 10)
        |), sh AS (
        |  SELECT s.bin,
        |         COALESCE(rh.c, 0) / (SELECT CAST(sum(c) AS DOUBLE) FROM rh) AS ref_share,
        |         COALESCE(ch.c, 0) / (SELECT CAST(sum(c) AS DOUBLE) FROM ch) AS cur_share
        |  FROM spine s LEFT JOIN rh ON rh.bin = s.bin LEFT JOIN ch ON ch.bin = s.bin
        |), terms AS (
        |  SELECT bin, ref_share, cur_share,
        |         (greatest(ref_share, 1e-6) - greatest(cur_share, 1e-6)) *
        |           ln(greatest(ref_share, 1e-6) / greatest(cur_share, 1e-6)) AS psi_term,
        |         abs(sum(ref_share) OVER w - sum(cur_share) OVER w) AS cum_gap
        |  FROM sh
        |  WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT bin, round(ref_share, 6) AS ref_share, round(cur_share, 6) AS cur_share,
        |       round(psi_term, 4) AS psi_term, round(cum_gap, 6) AS cum_gap
        |FROM terms ORDER BY bin""".stripMargin,

    "ll1_exact_dup_groups" ->
      """WITH all_docs AS (
        |  SELECT text FROM documents
        |  UNION ALL
        |  SELECT '  ' || upper(text) || ' ' FROM documents WHERE doc_id % 10 = 0
        |), fp AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f, count(*) AS c
        |  FROM all_docs GROUP BY 1 HAVING count(*) > 1
        |)
        |SELECT count(*) AS dup_group_count, CAST(sum(c) AS BIGINT) AS dup_rows FROM fp""".stripMargin,

    "ll2_near_dup_pairs" ->
      """WITH sh AS (
        |  -- Sub-3-token documents collapse to one whole-text shingle,
        |  -- mirroring wordShingles' fallback (Dedup.scala).
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 3
        |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |              ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       round(len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))), 4) AS jaccard
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // The pair graph is ll2's exact-Jaccard edge set; the closure is a
    // recursive min-label propagation (UNION = set semantics, so the
    // CTE converges): each node accumulates every label it can reach
    // over undirected edges, and the minimum reachable label IS the
    // component minimum.
    "ll11_dedup_components" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 3
        |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |              ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src
        |)
        |SELECT id AS doc_id, min(lbl) AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // ll11's closure again: survivors are every document that is NOT a
    // non-minimum member of some component.
    "ll8b_drop_near_dups_components" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 3
        |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |              ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src
        |), comp AS (
        |  SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
        |ORDER BY doc_id""".stripMargin,

    // Same recursive closure, then size-per-component and
    // clusters-per-size.
    "ll30_cluster_histogram" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 3
        |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |              ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src
        |), comp AS (
        |  SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id
        |), sizes AS (
        |  SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
        |)
        |SELECT cluster_size, count(*) AS n_clusters
        |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // Brute-force replay of the span construction: every positional
    // 6-gram (0-based), cross-doc equi-join on gram content, then
    // gaps-and-islands per (pair, diagonal) — maximal extents exactly.
    "ll31_substring_dedup" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, i AS pos, array_to_string(list_slice(w, i + 1, i + 6), ' ') AS gram
        |  FROM toks, LATERAL unnest(range(0, greatest(len(w) - 5, 0))) t(i)),
        |m AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b,
        |         a.pos - b.pos AS diag
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT *, pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
        |  FROM m)
        |SELECT id_a, id_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
        |       CAST(max(pos_a) - min(pos_a) + 6 AS BIGINT) AS span_len
        |FROM isl GROUP BY id_a, id_b, diag, island
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

    // Same spans, then the keep-earliest removal view: b-side spans
    // as (start, end] intervals, merged per document with a running-
    // max gaps-and-islands pass.
    "ll31b_span_removal" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, i AS pos, array_to_string(list_slice(w, i + 1, i + 6), ' ') AS gram
        |  FROM toks, LATERAL unnest(range(0, greatest(len(w) - 5, 0))) t(i)),
        |m AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b,
        |         a.pos - b.pos AS diag
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT *, pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
        |  FROM m),
        |spans AS (
        |  SELECT id_b AS doc_id, min(pos_b) AS s,
        |         min(pos_b) + max(pos_a) - min(pos_a) + 6 AS e
        |  FROM isl GROUP BY id_a, id_b, diag, island),
        |mk AS (
        |  SELECT doc_id, s, e,
        |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM spans),
        |isl2 AS (
        |  SELECT doc_id, s, e,
        |         sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM mk)
        |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start, CAST(max(e) AS BIGINT) AS span_end
        |FROM isl2 GROUP BY doc_id, island
        |ORDER BY doc_id, span_start, span_end""".stripMargin,

    // Same recursive closure; the keeper per component is argmax
    // (score desc, id desc) — Spark's max(struct(score, id)) tiebreak
    // — and unpaired documents keep themselves.
    "ll28_drop_keep_best" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 3
        |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |              ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src
        |), comp AS (
        |  SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id
        |), ranked AS (
        |  SELECT c.doc_id,
        |         row_number() OVER (PARTITION BY c.component
        |           ORDER BY len(d.text) DESC, c.doc_id DESC) AS rk
        |  FROM comp c JOIN documents d USING (doc_id)
        |)
        |SELECT doc_id, CAST(len(text) AS BIGINT) AS score FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rk > 1)
        |ORDER BY doc_id""".stripMargin,

    // ll11's recursive closure left-joined back onto the corpus:
    // unpaired documents coalesce to themselves (singletons).
    "ll13_component_ids" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 3
        |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |              ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src
        |), comp AS (
        |  SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id
        |)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // ll13's closure plus the survivor flag and the (empty) audit
    // count: the composed-pipeline semantics are exactly "label every
    // doc, keep the component minimum", and on this corpus the default
    // occupancy cap binds nothing.
    "ll15_pipeline" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 3
        |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |              ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION
        |  SELECT id_b, id_a FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src
        |), comp AS (
        |  SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id
        |)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
        |       coalesce(c.component, d.doc_id) = d.doc_id AS survivor,
        |       CAST(0 AS BIGINT) AS n_hot_buckets
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // OPH changes only the LSH candidate generation; emitted pairs are
    // the same exact-Jaccard set, so the oracle is ll2's verbatim.
    "ll2b_near_dup_pairs_oph" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 3
        |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |              ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       round(len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))), 4) AS jaccard
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "ll8_drop_near_dups" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 3
        |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |              ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |), losers AS (
        |  SELECT DISTINCT b.doc_id AS id
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |)
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
        |ORDER BY doc_id""".stripMargin,

    // Replays both README rules: the CTE percentage rule and the
    // join + interval rule (identical expression semantics in DuckDB).
    "validator_sql_rules" ->
      """WITH cc AS (
        |  SELECT o_custkey, COUNT(*) * 100.0 / (SELECT COUNT(*) FROM orders) AS percentage
        |  FROM orders GROUP BY o_custkey
        |), vals AS (
        |  SELECT 'check_customer_distribution' AS rule_name,
        |         (SELECT COUNT(*) FROM cc WHERE percentage > 50) AS v
        |  UNION ALL
        |  SELECT 'check_shipping_timeframe',
        |         (SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |          WHERE l_shipdate < o_orderdate OR l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |)
        |SELECT rule_name, v = 0 AS is_valid, CAST(v AS DOUBLE) AS actual_value
        |FROM vals ORDER BY rule_name""".stripMargin,

    "mm_array_profile" ->
      """SELECT CAST(min(len(embedding)) AS BIGINT) AS embedding_min_size,
        |       CAST(max(len(embedding)) AS BIGINT) AS embedding_max_size,
        |       round(CAST(avg(len(embedding)) AS DOUBLE), 4) AS embedding_avg_size,
        |       CAST(sum(len(embedding)) AS BIGINT) AS embedding_total_elements,
        |       CAST(sum(len(list_filter(embedding, x -> x IS NULL))) AS BIGINT) AS embedding_element_nulls
        |FROM embeddings""".stripMargin,

    "ev_windowed_completeness" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
        |       count(*) AS n_events,
        |       count(*) FILTER (WHERE value IS NULL) AS value_nulls,
        |       round(CAST(count(*) FILTER (WHERE value IS NULL) * 100.0 / count(*) AS DOUBLE), 4) AS value_null_rate,
        |       count(*) FILTER (WHERE props IS NULL) AS props_nulls,
        |       round(CAST(count(*) FILTER (WHERE props IS NULL) * 100.0 / count(*) AS DOUBLE), 4) AS props_null_rate
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Append-mode contract: a window emits only once the watermark
    // passes its end, so the windows still open when the stream runs
    // dry — the final day's — never appear. The oracle is the per-day
    // aggregate minus exactly that last day.
    "ev_windowed_stream_append" ->
      """WITH ev AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, value
        |  FROM events WHERE ts IS NOT NULL
        |)
        |SELECT CAST(day AS VARCHAR) AS day, event_type,
        |       count(*) AS n_events,
        |       count(*) FILTER (WHERE value IS NULL) AS value_nulls,
        |       round(CAST(count(*) FILTER (WHERE value IS NULL) * 100.0 / count(*) AS DOUBLE), 4) AS value_null_rate
        |FROM ev WHERE day < (SELECT max(day) FROM ev)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The oracle derives each file's expected format from the GROUND
    // TRUTH doc_id % 4 rule that synthesized the magic prefix, while
    // the engine sniffs it back out of the bytes — byte-size stats are
    // prefix length + UTF-8 text length.
    // The expected fields derive from the GROUND-TRUTH doc_id rule the
    // gate synthesized the headers from; the engine parses them back
    // out of the bytes.
    "mm2_binary_dimensions" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 0 ELSE doc_id % 512 + 16 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 0 ELSE doc_id % 256 + 16 END AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 1000 + 1 ELSE 1 END AS INTEGER) AS n_frames,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 2 + 1 ELSE 0 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN (CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 44100 END) ELSE 0 END AS INTEGER) AS sample_rate
        |FROM documents ORDER BY doc_id""".stripMargin,

    // The resize geometry recomputed from the doc_id ground truth:
    // scale = min(512/w, 512/h, 1), round half-up (positive values:
    // identical in both engines), clamp to >= 1.
    "mm3_resize_plan" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'png' ELSE 'jpeg' END AS format,
        |    CAST(doc_id % 512 + 16 AS INTEGER) AS width,
        |    CAST(doc_id % 256 + 16 AS INTEGER) AS height
        |  FROM documents WHERE doc_id % 3 IN (0, 1)
        |), s AS (
        |  SELECT *, least(512.0 / width, 512.0 / height, 1.0) AS sc FROM f
        |)
        |SELECT doc_id, format, width, height,
        |  CAST(greatest(round(width * sc), 1) AS INTEGER) AS out_width,
        |  CAST(greatest(round(height * sc), 1) AS INTEGER) AS out_height
        |FROM s ORDER BY doc_id""".stripMargin,

    // Evenly spaced 0-based frame indices for every multi-frame row
    // (the WAV sample-frame counts): step = max(floor(frames/4), 1),
    // sequence inclusive of 0 up to frames-1.
    "mm4_frame_plan" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(doc_id % 1000 + 1 AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 1000 + 1 > 1
        |)
        |SELECT doc_id, CAST(unnest(range(0, n_frames, greatest(n_frames // 4, 1))) AS BIGINT) AS frame_index
        |FROM f ORDER BY doc_id, frame_index""".stripMargin,

    // The oracle profiles the parquet fixture DIRECTLY; the engine
    // profiles it after a CSV round-trip through the Source factory —
    // equal values prove the CSV reader's schema inference and value
    // parsing round-trip losslessly.
    "src_csv_profile" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT s_nationkey) AS BIGINT) AS n_nations,
        |       CAST(min(s_suppkey) AS BIGINT) AS min_key,
        |       CAST(max(s_suppkey) AS BIGINT) AS max_key,
        |       CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
        |       min(s_name) AS min_name,
        |       max(s_name) AS max_name,
        |       round(CAST(sum(s_acctbal) AS DOUBLE), 2) AS acctbal_sum,
        |       round(CAST(avg(s_acctbal) AS DOUBLE), 4) AS acctbal_avg
        |FROM supplier""".stripMargin,

    // Replays the md5-mode uniform hash digit-for-digit: u = first 8
    // hex digits of md5('42:' || doc_id) over 2^32, then the same
    // cumulative-cut CASE (exact double cuts 0.8 / 0.9).
    "smp_hash_split" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" +\n         |         ")
      s"""WITH h AS (
         |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS hx FROM documents
         |), u AS (
         |  SELECT doc_id,
         |        ($nibbles) / 4294967296.0 AS u
         |  FROM h
         |)
         |SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM u GROUP BY 1 ORDER BY split""".stripMargin
    },

    "smp_stratified_sample" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" +\n         |         ")
      s"""WITH h AS (
         |  SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS src,
         |         md5('42:' || CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents
         |), u AS (
         |  SELECT doc_id, src,
         |        ($nibbles) / 4294967296.0 AS u
         |  FROM h
         |)
         |SELECT doc_id, src FROM u
         |WHERE u < (CASE src WHEN '0' THEN 1.0 WHEN '1' THEN 0.25 ELSE 0.0 END)
         |ORDER BY doc_id""".stripMargin
    },

    // Replays the temperature-rate arithmetic exactly as the engine
    // computes it — pow(share, α), normalization sum in source-NAME
    // order (list_sum over an ordered list — a deterministic fold both
    // engines share), rate = min(1, target·q/n) with the same
    // operation order — then the md5 uniform threshold per row.
    "smp_temperature_mix" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" +\n         |         ")
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 < 7 THEN 'head'
         |              WHEN doc_id % 10 < 9 THEN 'mid' ELSE 'tail' END AS src
         |  FROM documents
         |), c AS (
         |  SELECT src, count(*) AS n FROM d GROUP BY src
         |), t AS (
         |  SELECT sum(n) AS nn FROM c
         |), w AS (
         |  SELECT src, n, pow(CAST(n AS DOUBLE) / nn, 0.5) AS w FROM c CROSS JOIN t
         |), z AS (
         |  SELECT list_sum(list(w ORDER BY src)) AS z FROM w
         |), r AS (
         |  SELECT src, least(1.0, 250.0 * (w / z.z) / n) AS rate FROM w CROSS JOIN z
         |), h AS (
         |  SELECT doc_id, src, md5('42:' || CAST(doc_id AS VARCHAR)) AS hx FROM d
         |), u AS (
         |  SELECT doc_id, src,
         |        ($nibbles) / 4294967296.0 AS u
         |  FROM h
         |)
         |SELECT u.doc_id, u.src FROM u JOIN r USING (src)
         |WHERE u.u < r.rate ORDER BY doc_id""".stripMargin
    },

    // The oracle computes the exact greedy token prefix the engine's
    // threshold search must reproduce: order by (quality DESC, md5
    // uniform hash ASC, doc_id ASC), keep rows whose inclusive running
    // token sum fits the per-source budget.
    "smp_budget_select" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" +\n         |         ")
      s"""WITH d AS (
         |  SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS src,
         |         (doc_id * 37 % 101) / 100.0 AS quality,
         |         doc_id % 50 + 1 AS tokens,
         |         md5('42:' || CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents
         |), u AS (
         |  SELECT doc_id, src, quality, tokens,
         |        ($nibbles) / 4294967296.0 AS u
         |  FROM d
         |), c AS (
         |  SELECT doc_id, src, tokens,
         |         sum(tokens) OVER (PARTITION BY src
         |           ORDER BY quality DESC, u ASC, doc_id ASC
         |           ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM u
         |)
         |SELECT doc_id, src, CAST(tokens AS BIGINT) AS tokens FROM c
         |WHERE (src = '0' AND cum <= 800) OR (src = '1' AND cum <= 200)
         |ORDER BY doc_id""".stripMargin
    },

    // Replays the epoch-folded md5 shuffle key and the (key, id)
    // order — the permutation itself is what the row-order-sensitive
    // compare verifies.
    "smp_epoch_shuffle" -> {
      val folded = 42L + 0x9E3779B97F4A7C15L * 2L // seed 42, epoch 1
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" +\n         |         ")
      s"""WITH h AS (
         |  SELECT doc_id, md5('$folded:' || CAST(doc_id AS VARCHAR)) AS hx FROM documents
         |)
         |SELECT doc_id, round(($nibbles) / 4294967296.0, 4) AS shuffle_key
         |FROM h ORDER BY ($nibbles) / 4294967296.0, doc_id""".stripMargin
    },

    // Replays packing end-to-end: md5 uniform hash → shard = leading
    // 3 bits (floor(u·8)), per-shard (u, id) order, inclusive-minus-
    // self running token sum, bin = floor(sum/500).
    "smp_pack_bins" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" +\n         |         ")
      s"""WITH d AS (
         |  SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         |         md5('42:' || CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents WHERE text IS NOT NULL
         |), u AS (
         |  SELECT doc_id, n_tokens,
         |        ($nibbles) / 4294967296.0 AS u
         |  FROM d
         |), s AS (
         |  SELECT doc_id, n_tokens, u, CAST(floor(u * 8) AS INTEGER) AS shard FROM u
         |), c AS (
         |  SELECT doc_id, shard,
         |         sum(n_tokens) OVER (PARTITION BY shard ORDER BY u, doc_id
         |           ROWS UNBOUNDED PRECEDING) - n_tokens AS prior
         |  FROM s
         |)
         |SELECT doc_id, shard, CAST(floor(prior / 500.0) AS BIGINT) AS bin
         |FROM c ORDER BY doc_id""".stripMargin
    },

    // Replays the chunk windows: stride 24 (= 32 − 8 overlap),
    // ceil((n − 32)/24) + 1 windows, parallel unnest zipping index
    // and text, token count of each chunk.
    "txt_chunks" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |  WHERE text IS NOT NULL
        |), n AS (
        |  SELECT doc_id, w,
        |         CASE WHEN len(w) <= 32 THEN 1
        |              ELSE CAST(ceil((len(w) - 32) / 24.0) AS INTEGER) + 1 END AS nc
        |  FROM w
        |), c AS (
        |  SELECT doc_id,
        |         unnest([i for i in range(0, nc)]) AS chunk_idx,
        |         unnest([array_to_string(w[(i * 24 + 1):(i * 24 + 32)], ' ') for i in range(0, nc)]) AS chunk_text
        |  FROM n
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_text,
        |       CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "src_json_profile" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT s_nationkey) AS BIGINT) AS n_nations,
        |       CAST(min(s_suppkey) AS BIGINT) AS min_key,
        |       CAST(max(s_suppkey) AS BIGINT) AS max_key,
        |       CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
        |       min(s_name) AS min_name,
        |       max(s_name) AS max_name,
        |       round(CAST(sum(s_acctbal) AS DOUBLE), 2) AS acctbal_sum,
        |       round(CAST(avg(s_acctbal) AS DOUBLE), 4) AS acctbal_avg
        |FROM supplier""".stripMargin,

    // Identical float arithmetic: digit = floor(|x| / 10^floor(log10|x|)).
    "p26_benford" ->
      """WITH v AS (
        |  SELECT abs(CAST(o_totalprice AS DOUBLE)) AS a FROM orders
        |  WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) > 0
        |), d AS (
        |  SELECT CAST(floor(a / pow(10.0, floor(log10(a)))) AS INT) AS digit FROM v
        |), counts AS (
        |  SELECT digit, count(*) AS n FROM d
        |  WHERE digit BETWEEN 1 AND 9 GROUP BY digit
        |), spine AS (
        |  SELECT CAST(i AS INT) AS digit, log10(1.0 + 1.0 / i) AS expected_share
        |  FROM range(1, 10) t(i)
        |), tot AS (SELECT sum(n) AS total FROM counts)
        |SELECT s.digit, coalesce(c.n, 0) AS n,
        |       round(coalesce(c.n, 0) / CAST(t.total AS DOUBLE), 6) AS observed_share,
        |       round(s.expected_share, 6) AS expected_share,
        |       round(pow(coalesce(c.n, 0) - s.expected_share * t.total, 2)
        |             / (s.expected_share * t.total), 4) AS chi2_term
        |FROM spine s LEFT JOIN counts c USING (digit) CROSS JOIN tot t
        |ORDER BY s.digit""".stripMargin,

    // quantile_cont is the same interpolated order statistic as the
    // engine's exact distributed percentiles; the clamp is pure
    // arithmetic on identical doubles.
    "ft_winsorize" ->
      """WITH q AS (
        |  SELECT quantile_cont(CAST(l_quantity AS DOUBLE), 0.05) AS ql,
        |         quantile_cont(CAST(l_quantity AS DOUBLE), 0.95) AS qh,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS pl,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS ph
        |  FROM lineitem
        |), w AS (
        |  SELECT least(greatest(CAST(l_quantity AS DOUBLE), q.ql), q.qh) AS wq,
        |         least(greatest(CAST(l_extendedprice AS DOUBLE), q.pl), q.ph) AS wp
        |  FROM lineitem, q
        |)
        |SELECT round(sum(wq), 2) AS qty_sum, round(min(wq), 4) AS qty_lo,
        |       round(max(wq), 4) AS qty_hi,
        |       round(sum(wp), 2) AS price_sum, round(min(wp), 4) AS price_lo,
        |       round(max(wp), 4) AS price_hi
        |FROM w""".stripMargin,

    // The same three scalings from DuckDB's own stats (means/stddevs/
    // extremes/quartiles agree with Spark's to ~1e-12, absorbed by the
    // 2dp/4dp rounds on |x| magnitudes).
    "ft_standardize" ->
      """WITH st AS (
        |  SELECT avg(l_quantity) AS mq, stddev_samp(l_quantity) AS sq,
        |         avg(l_extendedprice) AS mp, stddev_samp(l_extendedprice) AS sp,
        |         CAST(min(l_quantity) AS DOUBLE) AS loq, CAST(max(l_quantity) AS DOUBLE) AS hiq,
        |         CAST(min(l_extendedprice) AS DOUBLE) AS lop, CAST(max(l_extendedprice) AS DOUBLE) AS hip,
        |         quantile_cont(l_quantity, 0.25) AS q1q, quantile_cont(l_quantity, 0.5) AS medq,
        |         quantile_cont(l_quantity, 0.75) AS q3q,
        |         quantile_cont(l_extendedprice, 0.25) AS q1p, quantile_cont(l_extendedprice, 0.5) AS medp,
        |         quantile_cont(l_extendedprice, 0.75) AS q3p
        |  FROM lineitem
        |)
        |SELECT round(sum(abs((l_quantity - mq) / sq)), 2) AS zscore_qty_abs_sum,
        |       round(sum(abs((l_extendedprice - mp) / sp)), 2) AS zscore_price_abs_sum,
        |       round(max((l_quantity - mq) / sq), 4) AS zscore_qty_max,
        |       round(sum(abs((l_quantity - loq) / (hiq - loq))), 2) AS minmax_qty_abs_sum,
        |       round(sum(abs((l_extendedprice - lop) / (hip - lop))), 2) AS minmax_price_abs_sum,
        |       round(max((l_quantity - loq) / (hiq - loq)), 4) AS minmax_qty_max,
        |       round(sum(abs((l_quantity - medq) / (q3q - q1q))), 2) AS robust_qty_abs_sum,
        |       round(sum(abs((l_extendedprice - medp) / (q3p - q1p))), 2) AS robust_price_abs_sum,
        |       round(max((l_quantity - medq) / (q3q - q1q)), 4) AS robust_qty_max
        |FROM lineitem, st""".stripMargin,

    // Per-column regex share replay; best_type = most specific shape
    // covering >= 0.95.
    "p24_type_inference" -> {
      val cols = Seq(
        ("key_str", "CAST(o_orderkey AS VARCHAR)"),
        ("price_str", "CAST(o_totalprice AS VARCHAR)"),
        ("date_str", "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"),
        ("bool_str", "CASE WHEN o_orderkey % 2 = 0 THEN 'true' ELSE 'FALSE' END"),
        ("text_str", "o_orderpriority"))
      val shapes = Seq(
        ("integer", "^[+-]?[0-9]+$"),
        ("decimal", "^[+-]?[0-9]*\\.[0-9]+$"),
        ("date", "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
        ("boolean", "^(?i)(true|false)$"))
      val parts = cols.map { case (name, sqlExpr) =>
        val shareExprs = shapes.map { case (shape, re) =>
          s"round(count(CASE WHEN regexp_matches(v, '$re') THEN 1 END) / CAST(count(v) AS DOUBLE), 6) AS ${shape}_share"
        }.mkString(",\n         |       ")
        val shareRaw = shapes.map { case (shape, re) =>
          s"count(CASE WHEN regexp_matches(v, '$re') THEN 1 END) / CAST(count(v) AS DOUBLE) AS ${shape}_raw"
        }.mkString(", ")
        s"""SELECT column_name, n_values, integer_share, decimal_share, date_share, boolean_share,
           |       CASE WHEN integer_raw >= 0.95 THEN 'integer'
           |            WHEN decimal_raw >= 0.95 THEN 'decimal'
           |            WHEN date_raw >= 0.95 THEN 'date'
           |            WHEN boolean_raw >= 0.95 THEN 'boolean'
           |            ELSE 'string' END AS best_type
           |FROM (
           |  SELECT '$name' AS column_name, count(v) AS n_values,
           |       $shareExprs,
           |       $shareRaw
           |  FROM (SELECT $sqlExpr AS v FROM orders)
           |)""".stripMargin
      }
      s"SELECT column_name, n_values, integer_share, decimal_share, date_share, boolean_share, best_type FROM (\n${parts.mkString("\nUNION ALL\n")}\n) ORDER BY column_name"
    },

    // Same quartile boundaries, same crossed-cut assignment.
    "p25_quantile_bin" ->
      """WITH q AS (
        |  SELECT quantile_cont(l_quantity, [0.0, 0.25, 0.5, 0.75, 1.0]) AS b FROM lineitem
        |), binned AS (
        |  SELECT (CASE WHEN l_quantity >= b[2] THEN 1 ELSE 0 END
        |        + CASE WHEN l_quantity >= b[3] THEN 1 ELSE 0 END
        |        + CASE WHEN l_quantity >= b[4] THEN 1 ELSE 0 END) AS bin
        |  FROM lineitem, q WHERE l_quantity IS NOT NULL
        |), counts AS (
        |  SELECT bin, count(*) AS n FROM binned GROUP BY bin
        |)
        |SELECT CAST(t.i AS BIGINT) AS bin,
        |       round(b[CAST(t.i AS INT) + 1], 4) AS lo,
        |       round(b[CAST(t.i AS INT) + 2], 4) AS hi,
        |       coalesce(n, 0) AS n
        |FROM range(4) t(i) CROSS JOIN q LEFT JOIN counts ON counts.bin = t.i
        |ORDER BY 1""".stripMargin,

    // Per-(label, position) means then an L2 rescale; 4dp absorbs the
    // float-sum fold-order gap.
    "ll29_mean_pool" ->
      """WITH m AS (
        |  SELECT label, i - 1 AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS mv
        |  FROM embeddings, range(1, 65) t(i)
        |  WHERE embedding IS NOT NULL
        |  GROUP BY label, i
        |), n AS (
        |  SELECT label, sqrt(sum(mv * mv)) AS nrm FROM m GROUP BY label
        |)
        |SELECT CAST(m.label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
        |       round(CASE WHEN n.nrm > 0 THEN mv / n.nrm ELSE mv END, 4) AS v
        |FROM m JOIN n USING (label)
        |ORDER BY label, pos""".stripMargin,

    // Centroids rebuilt elementwise (embedding[i] over range(1, 65)),
    // then the same cohesion/separation arithmetic; 4dp absorbs the
    // float-sum fold-order gap.
    "ll27_cluster_quality" ->
      """WITH c AS (
        |  SELECT label, i, avg(embedding[i]) AS cv
        |  FROM embeddings, range(1, 65) t(i)
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL
        |  GROUP BY label, i
        |), cent AS (
        |  SELECT label, list(cv ORDER BY i) AS centroid FROM c GROUP BY label
        |), rowcos AS (
        |  SELECT e.label, list_cosine_similarity(e.embedding, ct.centroid) AS cos
        |  FROM embeddings e JOIN cent ct ON e.label = ct.label
        |), agg AS (
        |  SELECT label, count(*) AS n, round(avg(cos), 4) AS mean_cos_to_centroid
        |  FROM rowcos GROUP BY label
        |), pair AS (
        |  SELECT a.label, max(list_cosine_similarity(a.centroid, b.centroid)) AS oc
        |  FROM cent a JOIN cent b ON a.label <> b.label GROUP BY a.label
        |)
        |SELECT CAST(agg.label AS VARCHAR) AS label, agg.n, agg.mean_cos_to_centroid,
        |       round(pair.oc, 4) AS nearest_other_centroid_cos
        |FROM agg JOIN pair USING (label) ORDER BY label""".stripMargin,

    "src_orc_profile" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT s_nationkey) AS BIGINT) AS n_nations,
        |       CAST(min(s_suppkey) AS BIGINT) AS min_key,
        |       CAST(max(s_suppkey) AS BIGINT) AS max_key,
        |       CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
        |       min(s_name) AS min_name,
        |       max(s_name) AS max_name,
        |       round(CAST(sum(s_acctbal) AS DOUBLE), 2) AS acctbal_sum,
        |       round(CAST(avg(s_acctbal) AS DOUBLE), 4) AS acctbal_avg
        |FROM supplier""".stripMargin,

    // json_extract_string replays the schema-on-read field pull.
    "ev_json_props" ->
      """SELECT event_type,
        |       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Expected video dimensions from the GROUND-TRUTH doc_id rule the
    // gate synthesized the mp4/Matroska containers from; the engine
    // walks the boxes/EBML elements back out of the bytes.
    "mm5_video_dimensions" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'mkv' END AS format,
        |  CAST(doc_id % 512 + 16 AS INTEGER) AS width,
        |  CAST(doc_id % 256 + 16 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Every dHash/aHash bit re-derived from the pixel rule: sampled
    // grid luma (integer 299/587/114 weights), neighbor comparisons /
    // mean threshold, bits packed row-major MSB-first into hex — the
    // Spark side must parse the actual PPM/BMP bytes back to the same
    // values.
    "mm6_image_dhash" ->
      """WITH dgrid AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    (299*((7*doc_id + 13*(c*18//9) + 31*(r*16//8)) % 256)
        |     + 587*((11*doc_id + 3*(c*18//9) + 17*(r*16//8)) % 256)
        |     + 114*((5*doc_id + 19*(c*18//9) + 23*(r*16//8)) % 256)) // 1000 AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 9) tc(c)),
        |dbits AS (
        |  SELECT a.doc_id, a.r, a.c, CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM dgrid a JOIN dgrid b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |drows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte FROM dbits GROUP BY 1, 2),
        |dhex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS dhash_hex FROM drows GROUP BY 1),
        |agrid AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    (299*((7*doc_id + 13*(c*18//8) + 31*(r*16//8)) % 256)
        |     + 587*((11*doc_id + 3*(c*18//8) + 17*(r*16//8)) % 256)
        |     + 114*((5*doc_id + 19*(c*18//8) + 23*(r*16//8)) % 256)) // 1000 AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 8) tc(c)),
        |am AS (SELECT doc_id, sum(lum) / 64.0 AS mean FROM agrid GROUP BY 1),
        |abits AS (
        |  SELECT g.doc_id, g.r, g.c, CASE WHEN g.lum > m.mean THEN 1 ELSE 0 END AS bit
        |  FROM agrid g JOIN am m ON m.doc_id = g.doc_id),
        |arows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte FROM abits GROUP BY 1, 2),
        |ahex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS ahash_hex FROM arows GROUP BY 1)
        |SELECT d.doc_id, CASE WHEN d.doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS format,
        |       CAST(18 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
        |       dh.dhash_hex, ah.ahash_hex
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |JOIN dhex dh USING (doc_id) JOIN ahex ah USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Every energy-hash bit re-derived from the sample rule: per-frame
    // integer |sample| sums over the same f·n/65 bounds, neighbor
    // comparisons, MSB-first packing into hex.
    "mm8_audio_ehash" ->
      """WITH params AS MATERIALIZED (
        |  SELECT doc_id, 130 + (doc_id % 4) * 33 AS n FROM documents),
        |en AS MATERIALIZED (
        |  SELECT doc_id, f,
        |         sum(abs(((13*doc_id + 7*i*i + 3*i) % 65536) - 32768)) AS e
        |  FROM params, range(0, 65) tf(f),
        |       LATERAL unnest(range(f * n // 65, ((f + 1) * n) // 65)) ti(i)
        |  GROUP BY doc_id, f),
        |bits AS (
        |  SELECT a.doc_id, a.f, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
        |  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
        |  WHERE a.f < 64),
        |bys AS (
        |  SELECT doc_id, f // 8 AS byt,
        |         CAST(sum(bit * (1 << (7 - (f % 8)))) AS INTEGER) AS v
        |  FROM bits GROUP BY 1, 2),
        |hx AS (
        |  SELECT doc_id, string_agg(printf('%02x', v), '' ORDER BY byt) AS ehash_hex
        |  FROM bys GROUP BY doc_id)
        |SELECT p.doc_id, 'wav' AS format, CAST(1 AS INTEGER) AS channels,
        |       CAST(8000 AS INTEGER) AS sample_rate,
        |       CAST(p.n AS BIGINT) AS n_samples, h.ehash_hex
        |FROM params p JOIN hx h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Every JPEG hash bit re-derived from the DC formula: DC-only
    // baseline blocks with Q0=16 decode to exactly 2·dc+128 per
    // sample, so the 9×8 / 8×8 sample grids reduce to block lookups
    // (bx = (c·16/9)/8, by = r/4). Progressive rows (doc%3=2) must be
    // the decoder's honest null — width/height 0, NULL hashes.
    "mm9_jpeg_dhash" ->
      """WITH px AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    128 + 2*(((7*doc_id + 31*(r//4) + 13*((c*16//9)//8)) % 128) - 64) AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 9) tc(c)
        |  WHERE doc_id % 3 <> 2),
        |dbits AS (
        |  SELECT a.doc_id, a.r, a.c, CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |drows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte
        |  FROM dbits GROUP BY 1, 2),
        |dhex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS dhash_hex
        |  FROM drows GROUP BY 1),
        |apx AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    128 + 2*(((7*doc_id + 31*(r//4) + 13*(c//4)) % 128) - 64) AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 8) tc(c)
        |  WHERE doc_id % 3 <> 2),
        |am AS (SELECT doc_id, sum(lum) / 64.0 AS mean FROM apx GROUP BY 1),
        |abits AS (
        |  SELECT g.doc_id, g.r, g.c, CASE WHEN g.lum > m.mean THEN 1 ELSE 0 END AS bit
        |  FROM apx g JOIN am m ON m.doc_id = g.doc_id),
        |arows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte
        |  FROM abits GROUP BY 1, 2),
        |ahex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS ahash_hex
        |  FROM arows GROUP BY 1)
        |SELECT d.doc_id, 'jpeg' AS format,
        |       CAST(CASE WHEN d.doc_id % 3 = 2 THEN 0 ELSE 16 END AS INTEGER) AS width,
        |       CAST(CASE WHEN d.doc_id % 3 = 2 THEN 0 ELSE 16 END AS INTEGER) AS height,
        |       dh.dhash_hex, ah.ahash_hex
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN dhex dh USING (doc_id) LEFT JOIN ahex ah USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Every dHash/aHash bit re-derived from the PNG pixel rule
    // `(5·doc + 17·y + 29·x) mod 256` at the sampleGrid positions
    // (sx = c·16//9, sy = 2r for the 9×8 dhash grid; 2c/2r for the
    // 8×8 ahash grid); doc%8==3 carries the same pixels Adam7-
    // interlaced (same formula, same hashes); doc%8==7 is the
    // refused 16-bit stub.
    "mm10_png_dhash" ->
      """WITH px AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    (5*doc_id + 34*r + 29*((c*16)//9)) % 256 AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 9) tc(c)
        |  WHERE doc_id % 8 <> 7),
        |dbits AS (
        |  SELECT a.doc_id, a.r, a.c, CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |drows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte
        |  FROM dbits GROUP BY 1, 2),
        |dhex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS dhash_hex
        |  FROM drows GROUP BY 1),
        |apx AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    (5*doc_id + 34*r + 58*c) % 256 AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 8) tc(c)
        |  WHERE doc_id % 8 <> 7),
        |am AS (SELECT doc_id, sum(lum) / 64.0 AS mean FROM apx GROUP BY 1),
        |abits AS (
        |  SELECT g.doc_id, g.r, g.c, CASE WHEN g.lum > m.mean THEN 1 ELSE 0 END AS bit
        |  FROM apx g JOIN am m ON m.doc_id = g.doc_id),
        |arows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte
        |  FROM abits GROUP BY 1, 2),
        |ahex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS ahash_hex
        |  FROM arows GROUP BY 1)
        |SELECT d.doc_id, 'png' AS format,
        |       CAST(CASE WHEN d.doc_id % 8 = 7 THEN 0 ELSE 16 END AS INTEGER) AS width,
        |       CAST(CASE WHEN d.doc_id % 8 = 7 THEN 0 ELSE 16 END AS INTEGER) AS height,
        |       dh.dhash_hex, ah.ahash_hex
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN dhex dh USING (doc_id) LEFT JOIN ahex ah USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Every dHash/aHash bit re-derived from the GIF pixel rule
    // `(7·doc + 13·y + 31·x) mod 256` at the sampleGrid positions;
    // doc%4∈{1,2} are the interlaced / local-table layouts of the
    // SAME pixels (same hashes); doc%4==3 is the refused animation.
    "mm12_gif_dhash" ->
      """WITH px AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    (7*doc_id + 26*r + 31*((c*16)//9)) % 256 AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 9) tc(c)
        |  WHERE doc_id % 4 <> 3),
        |dbits AS (
        |  SELECT a.doc_id, a.r, a.c, CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |drows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte
        |  FROM dbits GROUP BY 1, 2),
        |dhex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS dhash_hex
        |  FROM drows GROUP BY 1),
        |apx AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    (7*doc_id + 26*r + 62*c) % 256 AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 8) tc(c)
        |  WHERE doc_id % 4 <> 3),
        |am AS (SELECT doc_id, sum(lum) / 64.0 AS mean FROM apx GROUP BY 1),
        |abits AS (
        |  SELECT g.doc_id, g.r, g.c, CASE WHEN g.lum > m.mean THEN 1 ELSE 0 END AS bit
        |  FROM apx g JOIN am m ON m.doc_id = g.doc_id),
        |arows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte
        |  FROM abits GROUP BY 1, 2),
        |ahex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS ahash_hex
        |  FROM arows GROUP BY 1)
        |SELECT d.doc_id, 'gif' AS format,
        |       CAST(CASE WHEN d.doc_id % 4 = 3 THEN 0 ELSE 16 END AS INTEGER) AS width,
        |       CAST(CASE WHEN d.doc_id % 4 = 3 THEN 0 ELSE 16 END AS INTEGER) AS height,
        |       dh.dhash_hex, ah.ahash_hex
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN dhex dh USING (doc_id) LEFT JOIN ahex ah USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Every dHash/aHash bit re-derived from the TIFF pixel rule
    // `(11·doc + 19·y + 23·x) mod 256`; doc%4∈{1,2} are the
    // big-endian / inverted-polarity storages of the SAME pixels
    // (same hashes); doc%4==3 is the refused compressed stub.
    "mm13_tiff_dhash" ->
      """WITH px AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    (11*doc_id + 38*r + 23*((c*16)//9)) % 256 AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 9) tc(c)
        |  WHERE doc_id % 4 <> 3),
        |dbits AS (
        |  SELECT a.doc_id, a.r, a.c, CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |  WHERE a.c < 8),
        |drows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte
        |  FROM dbits GROUP BY 1, 2),
        |dhex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS dhash_hex
        |  FROM drows GROUP BY 1),
        |apx AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    (11*doc_id + 38*r + 46*c) % 256 AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 8) tc(c)
        |  WHERE doc_id % 4 <> 3),
        |am AS (SELECT doc_id, sum(lum) / 64.0 AS mean FROM apx GROUP BY 1),
        |abits AS (
        |  SELECT g.doc_id, g.r, g.c, CASE WHEN g.lum > m.mean THEN 1 ELSE 0 END AS bit
        |  FROM apx g JOIN am m ON m.doc_id = g.doc_id),
        |arows AS (
        |  SELECT doc_id, r, CAST(sum(bit * (1 << (7 - c))) AS INTEGER) AS byte
        |  FROM abits GROUP BY 1, 2),
        |ahex AS (
        |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY r) AS ahash_hex
        |  FROM arows GROUP BY 1)
        |SELECT d.doc_id, 'tiff' AS format,
        |       CAST(CASE WHEN d.doc_id % 4 = 3 THEN 0 ELSE 16 END AS INTEGER) AS width,
        |       CAST(CASE WHEN d.doc_id % 4 = 3 THEN 0 ELSE 16 END AS INTEGER) AS height,
        |       dh.dhash_hex, ah.ahash_hex
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN dhex dh USING (doc_id) LEFT JOIN ahex ah USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // End-to-end replay of the image pipeline: dHashes re-derived
    // from the block-constant pixel rule (format-independent — all
    // four writers land on the same luma grid), brute-force Hamming
    // pairs (= the uncapped recall-guaranteed blocked join),
    // transitive-closure components, then the keep-best argmax
    // ((score, id), score = doc_id mod 7) per cluster.
    "mm11_image_pipeline" ->
      """WITH RECURSIVE grid AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    128 + 2 * (CASE WHEN doc_id % 2 = 1 AND r = 0 AND bx = 0
        |               THEN -bb - 1 ELSE bb END) AS lum
        |  FROM (
        |    SELECT doc_id, r, c, bx,
        |      (((((doc_id//2) * 2654435761) % 1048576) // (1 << (bx + r))
        |        + 31*r*r + 13*bx*bx + 5*r*bx) % 128) - 64 AS bb
        |    FROM (SELECT doc_id, r, c, ((c*64)//9)//8 AS bx
        |          FROM documents, range(0, 8) tr(r), range(0, 9) tc(c)))),
        |rws AS (
        |  SELECT a.doc_id, a.r,
        |         CAST(sum(CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END * (1 << (7 - a.c))) AS BIGINT) AS byte
        |  FROM grid a JOIN grid b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |  WHERE a.c < 8 GROUP BY 1, 2),
        |hs AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN r = 0 AND byte >= 128 THEN (byte - 256) * 72057594037927936
        |             WHEN r = 0 THEN byte * 72057594037927936
        |             ELSE byte * (CAST(1 AS BIGINT) << (8 * (7 - r))) END) AS h
        |  FROM rws GROUP BY doc_id),
        |prs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.h, b.h)) <= 4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM prs
        |  UNION SELECT id_b, id_a FROM prs),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src),
        |comp AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id),
        |compfull AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |  FROM (SELECT DISTINCT doc_id FROM documents) d
        |  LEFT JOIN comp c USING (doc_id)),
        |ranked AS (
        |  SELECT doc_id, component,
        |         row_number() OVER (PARTITION BY component
        |                            ORDER BY doc_id % 7 DESC, doc_id DESC) AS rn
        |  FROM compfull)
        |SELECT doc_id, component, (rn = 1) AS kept
        |FROM ranked ORDER BY doc_id""".stripMargin,

    // Brute-force Hamming pairs over the formula-derived dHashes
    // (signed 64-bit reconstruction, xor + bit_count): exactly what
    // the recall-guaranteed uncapped Manku-blocked join must emit.
    "mm7_image_near_dups" ->
      """WITH grid AS MATERIALIZED (
        |  SELECT doc_id, r, c,
        |    CASE WHEN doc_id % 2 = 1 AND c = 4 AND r = 3
        |      THEN ((c*c*((doc_id//2) % 5 + 1) + r*(3 + (doc_id//2) % 7) + c*r*((doc_id//2) + 1)) % 97 * 2 % 256 + 50) % 256
        |      ELSE (c*c*((doc_id//2) % 5 + 1) + r*(3 + (doc_id//2) % 7) + c*r*((doc_id//2) + 1)) % 97 * 2 % 256
        |    END AS lum
        |  FROM documents, range(0, 8) tr(r), range(0, 9) tc(c)),
        |rws AS (
        |  SELECT a.doc_id, a.r,
        |         CAST(sum(CASE WHEN b.lum > a.lum THEN 1 ELSE 0 END * (1 << (7 - a.c))) AS BIGINT) AS byte
        |  FROM grid a JOIN grid b ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
        |  WHERE a.c < 8 GROUP BY 1, 2),
        |hashes AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN r = 0 AND byte >= 128 THEN (byte - 256) * 72057594037927936
        |             WHEN r = 0 THEN byte * 72057594037927936
        |             ELSE byte * (CAST(1 AS BIGINT) << (8 * (7 - r))) END) AS h
        |  FROM rws GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 4
        |ORDER BY id_a, id_b""".stripMargin,

    "mm_binary_metadata" ->
      """WITH b AS (
        |  SELECT CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |              WHEN 2 THEN 'wav' ELSE 'unknown' END AS format,
        |         CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 4
        |              WHEN 2 THEN 12 ELSE 0 END + octet_length(encode(coalesce(text, ''))) AS n_bytes
        |  FROM documents
        |)
        |SELECT format,
        |       count(*) AS n_files,
        |       CAST(min(n_bytes) AS BIGINT) AS min_bytes,
        |       CAST(max(n_bytes) AS BIGINT) AS max_bytes,
        |       round(CAST(avg(n_bytes) AS DOUBLE), 2) AS avg_bytes,
        |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes
        |FROM b GROUP BY format ORDER BY format""".stripMargin,

    "ev_windowed_numeric" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
        |       count(*) AS n_events,
        |       round(CAST(avg(value) AS DOUBLE), 4) AS avg_value,
        |       round(CAST(stddev_samp(value) AS DOUBLE), 4) AS stdev_value,
        |       min(value) AS min_value,
        |       max(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev_windowed_quantiles" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
        |       count(value) AS n_values,
        |       round(quantile_cont(value, 0.25), 4) AS q1,
        |       round(quantile_cont(value, 0.5), 4) AS median,
        |       round(quantile_cont(value, 0.75), 4) AS q3
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Recomputes the corpus-wide reference histogram and each day's
    // bin shares with the identical IEEE binning, then the smoothed
    // PSI fold per day over the full 0..9 spine.
    "ev_windowed_psi" ->
      """WITH v AS (
        |  SELECT ts, CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
        |), e AS (
        |  SELECT min(v) AS lo, (max(v) - min(v)) / 10 AS width FROM v
        |), binned AS (
        |  SELECT ts, least(9, greatest(0, CAST(floor((v - lo) / width) AS INTEGER))) AS bin
        |  FROM v CROSS JOIN e
        |), rs AS (
        |  SELECT bin, count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM binned) AS share
        |  FROM binned GROUP BY bin
        |), d AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, bin, count(*) AS c
        |  FROM binned GROUP BY 1, 2
        |), n AS (
        |  SELECT window_start, sum(c) AS n FROM d GROUP BY 1
        |), spine AS (
        |  SELECT n.window_start, n.n, CAST(r.range AS INTEGER) AS bin,
        |         COALESCE(rs.share, 0.0) AS p,
        |         COALESCE(d.c, 0) / CAST(n.n AS DOUBLE) AS q
        |  FROM n CROSS JOIN range(0, 10) r
        |  LEFT JOIN d ON d.window_start = n.window_start AND d.bin = CAST(r.range AS INTEGER)
        |  LEFT JOIN rs ON rs.bin = CAST(r.range AS INTEGER)
        |)
        |SELECT window_start, CAST(n AS BIGINT) AS n_events,
        |       round(sum((greatest(p, 1e-6) - greatest(q, 1e-6)) *
        |             ln(greatest(p, 1e-6) / greatest(q, 1e-6))), 4) AS psi
        |FROM spine GROUP BY window_start, n ORDER BY window_start""".stripMargin,

    // Replays meanDrift's day-ordered micro-batch sequence as an
    // expanding window: the Welford prior state at batch k equals the
    // moments of all values in days 1..k-1 (sum/sum-of-squares form is
    // algebraically identical; 4dp rounding absorbs float noise).
    // The raw-events gate shares it verbatim: raw fold and moments
    // merge are algebraically the same state evolution.
    "ev_mean_drift" -> meanDriftOracle,
    "ev_mean_drift_raw" -> meanDriftOracle,

    "ll3_ann_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
        |), pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum([qv[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1, len(qv) + 1)]) /
        |    (sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE for i in range(1, len(qv) + 1)])) *
        |     sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1, len(e.embedding) + 1)]))) AS sim
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM pairs
        |)
        |SELECT query_id, rank, neighbor_id, round(sim, 4) AS cosine_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // The LSH hyperplanes are seed-deterministic Scala constants, so
    // the oracle re-derives the same sign buckets from them as NUMERIC
    // LITERALS (Double.toString round-trips exactly through DuckDB's
    // decimal parser): bucket membership, multiprobe expansion, and
    // the exact cosine rank all replay in SQL — a full hash-checked
    // gate for an "approximate" operator, because LSH only shapes the
    // candidate set deterministically.
    "ll4_ann_lsh_topk" -> {
      val planes = graft.similarity.Similarity.hyperplanes(nPlanes = 6, dim = 64, seed = 42L)
      val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_dot_product(embedding[1:64]::DOUBLE[], ${p.mkString("[", ", ", "]")}) > 0 THEN ${1 << i} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH d AS (
         |  SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings
         |), q AS (
         |  SELECT vec_id AS query_id, embedding AS qv, bucket AS qb FROM d WHERE vec_id < 5
         |), probes AS (
         |  SELECT query_id, qv, qb AS bucket FROM q
         |  UNION ALL
         |  SELECT query_id, qv, xor(qb, (1 << i)) FROM q, range(6) t(i)
         |), cand AS (
         |  SELECT p.query_id, d.vec_id AS neighbor_id,
         |    list_sum([p.qv[i]::DOUBLE * d.embedding[i]::DOUBLE for i in range(1, len(p.qv) + 1)]) /
         |    (sqrt(list_sum([p.qv[i]::DOUBLE * p.qv[i]::DOUBLE for i in range(1, len(p.qv) + 1)])) *
         |     sqrt(list_sum([d.embedding[i]::DOUBLE * d.embedding[i]::DOUBLE for i in range(1, len(d.embedding) + 1)]))) AS sim
         |  FROM probes p JOIN d ON d.bucket = p.bucket
         |  WHERE d.vec_id <> p.query_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM cand
         |)
         |SELECT query_id, rank, neighbor_id, round(sim, 4) AS cosine_sim
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // Full Lloyd replay of the IVF gate: init = the 8 lowest vec_ids
    // (the gate's centroidInitOrder, chosen so an external engine can
    // reproduce it), one assignment+mean iteration, then cell
    // assignment, 3-cell probing, exact cosine, top-5. Spark's
    // distributed mean and DuckDB's avg differ only in summation order
    // (~1e-14 relative) and the float->double init repr by ~3e-9 —
    // both orders of magnitude inside the 4dp rounding, and the
    // argmax/rank comparisons they feed are nowhere near ties on this
    // data (the recall spec pins the margins).
    "ll5_ann_ivf_topk" ->
      s"""WITH $kmeansCellsCte, probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT e.vec_id AS query_id, c.cell,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_sum([e.v[i] * c.vn[i] for i in range(1, len(e.v) + 1)]) DESC, c.cell ASC) AS rn
        |    FROM emb e CROSS JOIN c1n c WHERE e.vec_id < 5
        |  ) WHERE rn <= 3
        |), cand AS (
        |  SELECT p.query_id, d.vec_id AS neighbor_id,
        |    list_sum([qe.v[i] * de.v[i] for i in range(1, len(qe.v) + 1)]) /
        |    (sqrt(list_sum([qe.v[i] * qe.v[i] for i in range(1, len(qe.v) + 1)])) *
        |     sqrt(list_sum([de.v[i] * de.v[i] for i in range(1, len(de.v) + 1)]))) AS sim
        |  FROM probes p
        |  JOIN cells d USING (cell)
        |  JOIN emb qe ON qe.vec_id = p.query_id
        |  JOIN emb de ON de.vec_id = d.vec_id
        |  WHERE d.vec_id <> p.query_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM cand
        |)
        |SELECT query_id, rank, neighbor_id, round(sim, 4) AS cosine_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Same literal-hyperplane replay as ll4: the oracle recomputes the
    // 4-plane sign bucket per vector, joins on bucket equality, and
    // verifies with the exact cosine — the full candidate-then-verify
    // semantics of Similarity.nearDupByEmbedding in SQL.
    "ll9_embedding_near_dups" -> {
      val planes = graft.similarity.Similarity.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_dot_product(embedding[1:64]::DOUBLE[], ${p.mkString("[", ", ", "]")}) > 0 THEN ${1 << i} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH d AS (
         |  SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE for i in range(1, len(a.embedding) + 1)]) /
         |    (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE for i in range(1, len(a.embedding) + 1)])) *
         |     sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE for i in range(1, len(b.embedding) + 1)]))) AS cosine_sim
         |  FROM d a JOIN d b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, round(cosine_sim, 4) AS cosine_sim
         |FROM pairs WHERE cosine_sim >= 0.3 ORDER BY id_a, id_b""".stripMargin
    },

    // Same literal-hyperplane replay as ll9, aggregated to bucket
    // occupancy: sign buckets holding more than 25 vectors.
    "ll12_capped_buckets" -> {
      val planes = graft.similarity.Similarity.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_dot_product(embedding[1:64]::DOUBLE[], ${p.mkString("[", ", ", "]")}) > 0 THEN ${1 << i} ELSE 0 END"
      }.mkString(" + ")
      s"""SELECT bucket, count(*) AS occupancy
         |FROM (SELECT $bucketExpr AS bucket FROM embeddings)
         |GROUP BY bucket HAVING count(*) > 25
         |ORDER BY bucket""".stripMargin
    },

    // Ground-truth derivation instead of an xxhash64 replay (DuckDB
    // has no xxhash64): the synthesized corpus pins the answer — the
    // constant-text cluster (even doc_ids) is the only occupant of one
    // bucket per band, disjoint odd docs can never share its buckets,
    // so the audit's shape is exactly (32 buckets, cluster size each).
    "ll12b_capped_band_buckets" ->
      """SELECT CAST(32 AS BIGINT) AS n_hot_buckets,
        |       (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS min_occupancy,
        |       (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS max_occupancy""".stripMargin,

    // Ground-truth derivation, SimHash flavor (no xxhash64 in DuckDB):
    // the constant-text cluster (even doc_ids) is the sole occupant of
    // exactly one (tbl, key) per block table — C(6,3) = 20 tables at
    // defaults — disjoint odd docs cannot share its sketch, and the
    // capped join prunes all 20 hot keys before pairing, so 0
    // candidate pairs survive.
    "ll14_capped_block_keys" ->
      """SELECT CAST(20 AS BIGINT) AS n_hot_keys,
        |       CAST(20 AS BIGINT) AS n_tables,
        |       (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS min_occupancy,
        |       (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS max_occupancy,
        |       CAST(0 AS BIGINT) AS n_capped_pairs""".stripMargin,

    // Replays the md5-derived simhash sketch (gate hash mode) bit for
    // bit: bit b of a shingle's field is bit (b mod 4) of hex nibble
    // (b div 4). Banding is omitted because maxHamming (7) < bands (8)
    // makes it lossless (pigeonhole): candidates ≡ all pairs ≤ 7.
    "ll6_simhash_pairs" -> {
      val bitSums = (0 until 64).map { b =>
        s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(hx, ${b / 4 + 1}, 1)) - 1) >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
      }.mkString(",\n         ")
      val bitVec = (0 until 64).map(b => s"CASE WHEN s$b > 0 THEN 1 ELSE 0 END")
        .mkString("[", ", ", "]")
      s"""WITH sh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(w) >= 3
         |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
         |              ELSE [array_to_string(w, ' ')] END AS ts
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
         |), hx AS (
         |  SELECT doc_id, md5(s) AS hx FROM (SELECT doc_id, unnest(ts) AS s FROM sh)
         |), sums AS (
         |  SELECT doc_id, $bitSums
         |  FROM hx GROUP BY doc_id
         |), sk AS (
         |  SELECT doc_id, $bitVec AS bv FROM sums
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(list_sum([CASE WHEN a.bv[i] <> b.bv[i] THEN 1 ELSE 0 END for i in range(1, 65)]) AS INTEGER) AS hamming
         |  FROM sk a, sk b WHERE a.doc_id < b.doc_id
         |)
         |SELECT * FROM pairs WHERE hamming <= 7 ORDER BY id_a, id_b""".stripMargin
    },

    // Replays md5-mode winnowing: k-gram (k=8) md5 hex strings, w=4
    // sliding lexicographic minima, per-document distinct, document-
    // frequency cap 100, shared-fingerprint count ≥ 40.
    "ll7_overlap_pairs" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents
        |), h AS (
        |  SELECT doc_id, [md5(substr(t, i, 8)) for i in range(1, greatest(length(t) - 7, 1) + 1)] AS hs FROM n
        |), m AS (
        |  SELECT doc_id, list_distinct([list_aggregate(hs[i:least(i + 3, len(hs))], 'min') for i in range(1, len(hs) + 1)]) AS fps FROM h
        |), f AS (
        |  SELECT doc_id, unnest(fps) AS fp FROM m
        |), rare AS (
        |  SELECT fp FROM f GROUP BY fp HAVING count(*) <= 100
        |), p AS (
        |  SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp)
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fingerprints
        |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 40 ORDER BY 1, 2""".stripMargin,

    "ll7b_capped_fingerprints" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents
        |), h AS (
        |  SELECT doc_id, [md5(substr(t, i, 8)) for i in range(1, greatest(length(t) - 7, 1) + 1)] AS hs FROM n
        |), m AS (
        |  SELECT doc_id, list_distinct([list_aggregate(hs[i:least(i + 3, len(hs))], 'min') for i in range(1, len(hs) + 1)]) AS fps FROM h
        |), f AS (
        |  SELECT doc_id, unnest(fps) AS fp FROM m
        |)
        |SELECT fp, count(*) AS df_count FROM f
        |GROUP BY fp HAVING count(*) > 100
        |ORDER BY df_count DESC, fp""".stripMargin,

    // Week-ordered batches + within-batch (ts, event_id) sort make the
    // stream's admission order per user exactly (ts, event_id): the
    // oracle ranks it directly. seq checks admission ORDER.
    "ev_capped_stream" ->
      """WITH r AS (
        |  SELECT event_id, user_id,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        |  FROM events WHERE ts IS NOT NULL
        |)
        |SELECT event_id, user_id, CAST(seq AS BIGINT) AS seq
        |FROM r WHERE seq <= 30 ORDER BY event_id""".stripMargin,

    "ll10_stream_dedup" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |       CAST(min(doc_id % 5) AS BIGINT) AS first_batch
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY 1 ORDER BY fingerprint""".stripMargin,

    // Derived ground truth for the streaming near-dup replay (the
    // corpus pins the watermark walk — see the gate): every disjoint
    // singleton survives; each constant-text cluster survives exactly
    // twice — its first arrival on day 0 and its first arrival on
    // day 3, where the day-0 claim has lapsed.
    "ll16_stream_near_dup" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 100 // 20 AS INTEGER) AS day,
        |         CASE WHEN doc_id % 10 = 0 THEN 'A'
        |              WHEN doc_id % 10 = 5 THEN 'B' ELSE 'S' END AS cls
        |  FROM documents
        |), keep AS (
        |  SELECT doc_id, day FROM d WHERE cls = 'S'
        |  UNION ALL
        |  SELECT min(doc_id) AS doc_id, day FROM d
        |  WHERE cls IN ('A', 'B') AND day IN (0, 3) GROUP BY cls, day
        |)
        |SELECT doc_id, strftime(DATE '2024-01-01' + day, '%Y-%m-%d') AS day
        |FROM keep ORDER BY doc_id""".stripMargin,

    // Replays the symmetric int8 quantization: per-vector scale =
    // max|x|/127 (1.0 for all-zero), q = round(x/scale) in double,
    // HALF_UP ≡ round-half-away-from-zero on both engines. The byte
    // vector is comma-joined to a scalar string (see the Spark side).
    "ll19_quantized_embeddings" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        |  FROM embeddings WHERE embedding IS NOT NULL
        |), s AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN max_abs = 0 THEN 1.0 ELSE max_abs / 127.0 END AS scale
        |  FROM m
        |)
        |SELECT vec_id,
        |       array_to_string([CAST(CAST(greatest(least(round(CAST(x AS DOUBLE) / scale), 127.0), -127.0) AS TINYINT) AS VARCHAR) for x in embedding], ',') AS qvec_csv,
        |       round(scale, 6) AS scale
        |FROM s ORDER BY vec_id""".stripMargin,

    // Same Lloyd replay as ll5 through the `cells` assignment, then a
    // within-cell self-join verified with exact cosine — the SemDeDup
    // candidate scope in SQL. Pairs and cosines fully hash-checked.
    "ll20_semantic_near_dups" ->
      s"""WITH $kmeansCellsCte,
        |d AS (
        |  SELECT c.vec_id, c.cell, e.v FROM cells c JOIN emb e USING (vec_id)
        |), pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) /
        |    (sqrt(list_sum([a.v[i] * a.v[i] for i in range(1, len(a.v) + 1)])) *
        |     sqrt(list_sum([b.v[i] * b.v[i] for i in range(1, len(b.v) + 1)]))) AS cosine_sim
        |  FROM d a JOIN d b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, round(cosine_sim, 4) AS cosine_sim
        |FROM pairs WHERE cosine_sim >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    // Same replay, aggregated to cell occupancy: cells holding more
    // than 60 vectors (the audit a capped ll20 would consult).
    "ll20b_capped_cells" ->
      s"""WITH $kmeansCellsCte
        |SELECT CAST(cell AS INTEGER) AS bucket, count(*) AS occupancy
        |FROM cells GROUP BY cell HAVING count(*) > 60 ORDER BY bucket""".stripMargin,

    // Literal-hyperplane bipartite replay (ll9's convention, two
    // sides): bucket the id-shifted incoming batch and the corpus
    // under the same 4 planes, join on bucket equality, verify with
    // the exact cosine.
    "ll21_embedding_near_dups_against" -> {
      val planes = graft.similarity.Similarity.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_dot_product(embedding[1:64]::DOUBLE[], ${p.mkString("[", ", ", "]")}) > 0 THEN ${1 << i} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH inc AS (
         |  SELECT vec_id + 10000 AS vec_id, embedding, $bucketExpr AS bucket
         |  FROM embeddings WHERE vec_id < 40
         |), ex AS (
         |  SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings
         |), pairs AS (
         |  SELECT a.vec_id AS incoming_id, b.vec_id AS existing_id,
         |    list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE for i in range(1, len(a.embedding) + 1)]) /
         |    (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE for i in range(1, len(a.embedding) + 1)])) *
         |     sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE for i in range(1, len(b.embedding) + 1)]))) AS cosine_sim
         |  FROM inc a JOIN ex b ON a.bucket = b.bucket
         |)
         |SELECT incoming_id, existing_id, round(cosine_sim, 4) AS cosine_sim
         |FROM pairs WHERE cosine_sim >= 0.3 ORDER BY incoming_id, existing_id""".stripMargin
    },

    // Same bipartite replay aggregated to combined bucket occupancy
    // with the per-side split, cap 25.
    "ll21b_capped_embedding_buckets_against" -> {
      val planes = graft.similarity.Similarity.hyperplanes(nPlanes = 4, dim = 64, seed = 42L)
      val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_dot_product(embedding[1:64]::DOUBLE[], ${p.mkString("[", ", ", "]")}) > 0 THEN ${1 << i} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH u AS (
         |  SELECT $bucketExpr AS bucket, CAST(1 AS BIGINT) AS inc
         |  FROM embeddings WHERE vec_id < 40
         |  UNION ALL
         |  SELECT $bucketExpr AS bucket, CAST(0 AS BIGINT) AS inc FROM embeddings
         |)
         |SELECT bucket, count(*) AS occupancy,
         |       CAST(sum(inc) AS BIGINT) AS incoming_occupancy,
         |       CAST(count(*) - sum(inc) AS BIGINT) AS existing_occupancy
         |FROM u GROUP BY bucket HAVING count(*) > 25 ORDER BY bucket""".stripMargin
    },

    // Replays the full PQ pipeline per subspace: the same one-Lloyd-
    // iteration codebook training as ll5's cells CTE (init = lowest
    // vec_ids, empty-cell fallback to the init centroid) but with
    // EUCLIDEAN assignment — argmax ⟨x,c⟩ − ‖c‖²/2 ≡ argmin ‖x−c‖²,
    // ties to the lowest code, the SAME augmented-dot arithmetic the
    // Spark side's NearestCells evaluates (formula parity keeps
    // cross-engine assignment flips to genuine ~1e-15 ties) — then
    // per-vector codes, then ADC scoring against the RAW centroids —
    // codebooks, codes, scores, and ranks all hash-checked at 4dp.
    "ll22_ann_pq_topk" ->
      s"""WITH emb AS (
        |  SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings
        |), $pqCodebookCtes, cand AS (
        |  SELECT qs.vec_id AS query_id, cd.vec_id AS neighbor_id,
        |         sum(list_sum([qs.sv[i] * c.cv[i] for i in range(1, 17)])) AS sim
        |  FROM sub qs
        |  JOIN codes cd ON cd.m = qs.m AND cd.vec_id <> qs.vec_id
        |  JOIN pc1 c ON c.m = cd.m AND c.j = cd.j
        |  WHERE qs.vec_id < 5
        |  GROUP BY qs.vec_id, cd.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM cand
        |)
        |SELECT query_id, rank, neighbor_id, round(sim, 4) AS adc_score
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // The sampled-training variant of ll22: identical ADC pipeline,
    // but the codebook CTEs (init pick, assignment, means) are scoped
    // to tsub — the train rows whose replayed md5 uniform hash falls
    // under 0.5 — while `codes` still encodes all of `sub`. Exactly
    // the Spark side's trainFraction contract.
    "ll22b_ann_pq_sampled" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" + ")
      val sampledCtes = pqCodebookCtesTrained("tsub",
        """, tsub AS (
          |  SELECT s.* FROM sub s JOIN tr USING (vec_id)
          |)""".stripMargin)
      s"""WITH emb AS (
        |  SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings
        |), tr AS (
        |  SELECT vec_id FROM (
        |    SELECT vec_id, md5('42:' || CAST(vec_id AS VARCHAR)) AS hx FROM emb
        |  ) WHERE ($nibbles) / 4294967296.0 < 0.5
        |), $sampledCtes, cand AS (
        |  SELECT qs.vec_id AS query_id, cd.vec_id AS neighbor_id,
        |         sum(list_sum([qs.sv[i] * c.cv[i] for i in range(1, 17)])) AS sim
        |  FROM sub qs
        |  JOIN codes cd ON cd.m = qs.m AND cd.vec_id <> qs.vec_id
        |  JOIN pc1 c ON c.m = cd.m AND c.j = cd.j
        |  WHERE qs.vec_id < 5
        |  GROUP BY qs.vec_id, cd.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM cand
        |)
        |SELECT query_id, rank, neighbor_id, round(sim, 4) AS adc_score
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // Literal-matrix replay of the JL projection (ll9's plane-literal
    // convention): 8 scaled Gaussian rows as double literals, each
    // projected element a list_dot_product, scaled to micro-units
    // (round-half-away-from-zero on both engines) and CSV-joined.
    "ll24_random_projection" -> {
      val rows = graft.similarity.Similarity.hyperplanes(nPlanes = 8, dim = 64, seed = 42L)
        .map(_.map(_ / math.sqrt(8.0)))
      val elems = rows.map { r =>
        s"CAST(CAST(round(list_dot_product(v64, ${r.mkString("[", ", ", "]")}) * 1000000.0) AS BIGINT) AS VARCHAR)"
      }.mkString("[", ", ", "]")
      s"""WITH emb AS (
         |  SELECT vec_id, embedding[1:64]::DOUBLE[] AS v64 FROM embeddings
         |  WHERE embedding IS NOT NULL
         |)
         |SELECT vec_id, array_to_string($elems, ',') AS proj_csv
         |FROM emb ORDER BY vec_id""".stripMargin
    },

    // Composes the two proven replay blocks: ll5's coarse cells CTE
    // (emb..cells, probes = top-3 cells per query) scopes the
    // candidates; the shared PQ CTEs (sub..codes) price them — ADC
    // score against the raw per-subspace centroids, ranked per query.
    "ll23_ann_ivfpq_topk" ->
      s"""WITH $kmeansCellsCte, $pqCodebookCtes, probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT e.vec_id AS query_id, c.cell,
        |           row_number() OVER (PARTITION BY e.vec_id
        |             ORDER BY list_sum([e.v[i] * c.vn[i] for i in range(1, len(e.v) + 1)]) DESC, c.cell ASC) AS rn
        |    FROM emb e CROSS JOIN c1n c WHERE e.vec_id < 5
        |  ) WHERE rn <= 3
        |), cand AS (
        |  SELECT p.query_id, d.vec_id AS neighbor_id,
        |         sum(list_sum([qs.sv[i] * c.cv[i] for i in range(1, 17)])) AS sim
        |  FROM probes p
        |  JOIN cells d USING (cell)
        |  JOIN codes cd ON cd.vec_id = d.vec_id
        |  JOIN sub qs ON qs.vec_id = p.query_id AND qs.m = cd.m
        |  JOIN pc1 c ON c.m = cd.m AND c.j = cd.j
        |  WHERE d.vec_id <> p.query_id
        |  GROUP BY p.query_id, d.vec_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM cand
        |)
        |SELECT query_id, rank, neighbor_id, round(sim, 4) AS adc_score
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Brute-force bipartite Jaccard ground truth over the synthesized
    // incoming batch (perturbed donors + novel docs) vs the corpus.
    "ll18_incremental_near_dups" ->
      """WITH inc AS (
        |  SELECT doc_id + 1000000 AS inc_id, text || ' xq' AS text FROM documents
        |  WHERE doc_id % 31 = 2 AND text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS inc_id,
        |         'fz' || doc_id || 'a fz' || doc_id || 'b fz' || doc_id || 'c fz' || doc_id || 'd fz' || doc_id || 'e fz' || doc_id || 'f' AS text
        |  FROM documents WHERE doc_id % 37 = 5
        |), shi AS (
        |  SELECT inc_id, CASE WHEN len(w) >= 3
        |       THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |       ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT inc_id, string_split_regex(trim(text), '\s+') AS w FROM inc)
        |), she AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3
        |       THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
        |       ELSE [array_to_string(w, ' ')] END AS ts
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents WHERE text IS NOT NULL)
        |)
        |SELECT a.inc_id AS incoming_id, b.doc_id AS existing_id,
        |       round(len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))), 4) AS jaccard
        |FROM shi a, she b
        |WHERE len(list_intersect(a.ts, b.ts)) * 1.0 / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.8
        |ORDER BY incoming_id, existing_id""".stripMargin,

    // Derived ground truth (ll12b-style): identical texts share one
    // bucket per band, so 25 incoming + 30 existing copies make
    // exactly 32 hot buckets at combined occupancy 55, split 25/30.
    "ll18b_capped_bipartite_buckets" ->
      """SELECT CAST(32 AS BIGINT) AS n_hot_buckets,
        |       CAST(55 AS BIGINT) AS min_occupancy,
        |       CAST(55 AS BIGINT) AS max_occupancy,
        |       CAST(25 AS BIGINT) AS incoming_occupancy,
        |       CAST(30 AS BIGINT) AS existing_occupancy""".stripMargin,

    // Replays the full decontamination construction: synthesized
    // benchmark (preamble + tokens 5..24 of every 29th doc), md5
    // token-8-gram posting lists on both sides (short docs collapse to
    // one whole-text gram), bench-df <= 10 pruning, posting join,
    // full-count denominator, 4-decimal fraction, threshold 0.5.
    "ll17_contamination" -> {
      val pre = (1 to 12).map(i => s"pz$i").mkString(" ")
      s"""WITH hosts AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
         |  WHERE doc_id % 29 = 3 AND text IS NOT NULL
         |), bench AS (
         |  SELECT doc_id AS q_id, '$pre ' || array_to_string(w[5:24], ' ') AS q_text FROM hosts
         |), bw AS (
         |  SELECT q_id, string_split_regex(trim(q_text), '\\s+') AS w FROM bench
         |), bg AS (
         |  SELECT q_id, unnest(CASE WHEN len(w) >= 8
         |      THEN list_distinct([md5(array_to_string(w[i:i+7], ' ')) for i in range(1, len(w) - 6)])
         |      ELSE [md5(array_to_string(w, ' '))] END) AS gram FROM bw
         |), bcnt AS (SELECT q_id, count(*) AS bench_grams FROM bg GROUP BY 1),
         |rare AS (SELECT gram FROM bg GROUP BY gram HAVING count(*) <= 10),
         |bp AS (SELECT q_id, gram FROM bg JOIN rare USING (gram)),
         |cw AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
         |  WHERE text IS NOT NULL
         |), cg AS (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= 8
         |      THEN list_distinct([md5(array_to_string(w[i:i+7], ' ')) for i in range(1, len(w) - 6)])
         |      ELSE [md5(array_to_string(w, ' '))] END) AS gram FROM cw
         |), sh AS (
         |  SELECT cg.doc_id AS corpus_id, bp.q_id AS bench_id, count(*) AS shared_grams
         |  FROM cg JOIN bp USING (gram) GROUP BY 1, 2
         |), rep AS (
         |  SELECT corpus_id, bench_id, shared_grams, bench_grams,
         |         round(CAST(shared_grams AS DOUBLE) / bench_grams, 4) AS overlap_frac
         |  FROM sh JOIN bcnt ON sh.bench_id = bcnt.q_id
         |)
         |SELECT * FROM rep WHERE overlap_frac >= 0.5 ORDER BY corpus_id, bench_id""".stripMargin
    },

    "ll17b_capped_bench_grams" -> {
      val pre = (1 to 12).map(i => s"pz$i").mkString(" ")
      s"""WITH hosts AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
         |  WHERE doc_id % 29 = 3 AND text IS NOT NULL
         |), bench AS (
         |  SELECT doc_id AS q_id, '$pre ' || array_to_string(w[5:24], ' ') AS q_text FROM hosts
         |), bw AS (
         |  SELECT q_id, string_split_regex(trim(q_text), '\\s+') AS w FROM bench
         |), bg AS (
         |  SELECT q_id, unnest(CASE WHEN len(w) >= 8
         |      THEN list_distinct([md5(array_to_string(w[i:i+7], ' ')) for i in range(1, len(w) - 6)])
         |      ELSE [md5(array_to_string(w, ' '))] END) AS gram FROM bw
         |)
         |SELECT gram, count(*) AS bench_df FROM bg
         |GROUP BY gram HAVING count(*) > 10
         |ORDER BY bench_df DESC, gram""".stripMargin
    },

    "txt_fingerprints" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Full replay of BPE learning: 12 chained-CTE rounds re-derive the
    // merge table from the raw documents (see bpeLearnCtes).
    "txt_bpe_merges" -> {
      val union = (1 to BpeRounds).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
      s"""WITH $bpeLearnCtes
         |SELECT rank, x AS "left", y AS "right", cnt AS freq
         |FROM ($union) ORDER BY rank""".stripMargin
    },

    // Learning replay PLUS encoding replay: the distinct-word encode
    // chain (e0..eN) joined back to per-doc word positions.
    "txt_bpe_tokens" ->
      s"""WITH $bpeLearnCtes,
         |$bpeTokenCtes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(count(DISTINCT tok) AS BIGINT) AS n_unique_tokens,
         |       string_agg(tok, ' ' ORDER BY wi, ti) AS tokens_str
         |FROM flat GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Byte-level replay: the punctuation-heavy fixture, byte-hex
    // framing, and the same learning + distinct-pre-token encode chain.
    "txt_bpe_bytes" ->
      s"""WITH ${bpeLearnCtesFor(ByteBpeFixtureSql, BpeByteWordsList, BpeByteFrame, ByteBpeRounds)},
         |${bpeTokenCtesFor(BpeByteWordsList, BpeByteFrame, ByteBpeRounds)}
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(count(DISTINCT tok) AS BIGINT) AS n_unique_tokens,
         |       string_agg(tok, ' ' ORDER BY wi, ti) AS tokens_str
         |FROM flat GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Learning + encoding + global token positions + window slicing
    // all replayed; stride 24 = 32 − 8, final window short, chunk
    // count ceil((n−32)/24)+1 past one window.
    "txt_bpe_chunks" ->
      s"""WITH $bpeLearnCtes,
         |$bpeTokenCtes,
         |pos_ AS MATERIALIZED (
         |  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY wi, ti) AS pos, tok
         |  FROM flat),
         |nn AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM pos_ GROUP BY 1),
         |ck AS MATERIALIZED (
         |  SELECT doc_id, k FROM nn, LATERAL unnest(range(0,
         |    CASE WHEN n <= 32 THEN 1 ELSE CAST(ceil((n - 32) / 24.0) AS BIGINT) + 1 END)) tk(k))
         |SELECT c.doc_id, CAST(c.k AS BIGINT) AS chunk_idx,
         |       CAST(count(*) AS BIGINT) AS n_tokens,
         |       string_agg(p.tok, ' ' ORDER BY p.pos) AS chunk_text
         |FROM ck c JOIN pos_ p
         |  ON p.doc_id = c.doc_id AND p.pos BETWEEN c.k * 24 + 1 AND c.k * 24 + 32
         |GROUP BY 1, 2 ORDER BY c.doc_id, chunk_idx""".stripMargin,

    "txt_token_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_tokens_bpe,
        |  round(list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) * 1.0
        |        / greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS avg_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_html_strip" -> htmlStripOracleSql,

    "txt_quality" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS w,
        |    len(regexp_extract_all(text, '[[:punct:]]')) * 1.0 / greatest(length(text), 1.0) AS punct_r,
        |    len(regexp_extract_all(text, '[0-9]')) * 1.0 / greatest(length(text), 1.0) AS digit_r
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, punct_r, digit_r,
        |    greatest(len(w), 1) * 1.0 AS n_tok,
        |    len(list_filter(w, t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0
        |      / greatest(len(w), 1) AS stop_r
        |  FROM raw
        |)
        |SELECT doc_id,
        |  round(punct_r, 4) AS punct_ratio,
        |  round(digit_r, 4) AS digit_ratio,
        |  round(stop_r, 4) AS stopword_ratio,
        |  round(least(least(n_tok / 100.0, 1.0) * (1.0 - punct_r) * (0.5 + 0.5 * stop_r), 1.0), 4) AS quality_score
        |FROM tok ORDER BY doc_id""".stripMargin,

    // Replays every rule over the same doc_id-derived line pathologies:
    // the same token/line splits, list-lambda metrics, thresholds, and
    // sorted failed-rule names.
    "txt_quality_filter" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || chr(10) || 'same line' || chr(10) || 'same line' || chr(10) || 'same line'
        |         WHEN doc_id % 13 = 1 THEN '- alpha' || chr(10) || '- beta' || chr(10) || '- gamma' || chr(10) || '- delta'
        |         WHEN doc_id % 13 = 2 THEN text || chr(10) || 'to be continued...' || chr(10) || 'more soon...' || chr(10) || 'end...'
        |         ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL
        |), b AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines
        |  FROM m
        |), s AS (
        |  SELECT doc_id,
        |    len(w) AS n_words,
        |    list_sum(list_transform(w, x -> len(x))) * 1.0 / greatest(len(w), 1) AS mwl,
        |    len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / greatest(len(w), 1) AS awf,
        |    len(list_intersect(list_distinct(list_transform(w, x -> lower(x))),
        |        ['the','a','an','and','or','of','to','in','is','it'])) AS n_stop,
        |    len(list_filter(lines, x -> x LIKE '%...' OR x LIKE '%…')) * 1.0 / greatest(len(lines), 1) AS elf,
        |    len(list_filter(lines, x -> x LIKE '-%' OR x LIKE '*%' OR x LIKE '•%')) * 1.0 / greatest(len(lines), 1) AS blf,
        |    len(list_filter(lines, x -> len(list_filter(lines, y -> y = x)) > 1)) * 1.0 / greatest(len(lines), 1) AS dlf
        |  FROM b
        |), r AS (
        |  SELECT doc_id, n_words, mwl, awf, n_stop, elf, blf, dlf,
        |    list_sort(list_filter([
        |      CASE WHEN n_words < 50 THEN 'too_few_words' END,
        |      CASE WHEN n_words > 100000 THEN 'too_many_words' END,
        |      CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 'word_length' END,
        |      CASE WHEN awf < 0.8 THEN 'alpha_words' END,
        |      CASE WHEN n_stop < 2 THEN 'stopword_diversity' END,
        |      CASE WHEN elf > 0.3 THEN 'ellipsis_lines' END,
        |      CASE WHEN blf > 0.9 THEN 'bullet_lines' END,
        |      CASE WHEN dlf > 0.3 THEN 'duplicate_lines' END
        |    ], x -> x IS NOT NULL)) AS reasons
        |  FROM s
        |)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round(mwl, 4) AS mean_word_len, round(awf, 4) AS alpha_word_frac,
        |  CAST(n_stop AS BIGINT) AS n_stopwords,
        |  round(elf, 4) AS ellipsis_line_frac, round(blf, 4) AS bullet_line_frac,
        |  round(dlf, 4) AS dup_line_frac,
        |  len(reasons) = 0 AS keep,
        |  coalesce(array_to_string(reasons, ','), '') AS reasons
        |FROM r ORDER BY doc_id""".stripMargin,

    // The same first-8-md5-hex-digits-mod-dim bucket per token.
    "txt_hashed_tf" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}")
        .mkString(" +\n         |         ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
         |  FROM documents WHERE text IS NOT NULL
         |), h AS (
         |  SELECT doc_id, md5(t) AS hx FROM tok WHERE t <> ''
         |), b AS (
         |  SELECT doc_id,
         |        CAST(($nibbles) % 64 AS INT) AS bucket
         |  FROM h
         |)
         |SELECT doc_id, bucket, count(*) AS tf
         |FROM b GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin
    },

    // Same buckets; df per bucket = docs holding it; N = non-null-text
    // docs; smoothed idf arithmetic identical on both engines.
    "txt_hashed_tfidf" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}")
        .mkString(" +\n         |         ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
         |  FROM documents WHERE text IS NOT NULL
         |), h AS (
         |  SELECT doc_id, md5(t) AS hx FROM tok WHERE t <> ''
         |), b AS (
         |  SELECT doc_id,
         |        CAST(($nibbles) % 64 AS INT) AS bucket
         |  FROM h
         |), tc AS (
         |  SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY doc_id, bucket
         |), dfq AS (
         |  SELECT bucket, count(*) AS df_count FROM tc GROUP BY bucket
         |), n AS (
         |  SELECT count(*) AS nd FROM documents WHERE text IS NOT NULL
         |)
         |SELECT doc_id, bucket,
         |       round(tf * (ln((nd + 1.0) / (df_count + 1.0)) + 1.0), 4) AS w
         |FROM tc JOIN dfq USING (bucket), n
         |ORDER BY doc_id, bucket""".stripMargin
    },

    // The same construction via chr(); the strip class is the
    // documented Cc-minus-tab/LF/CR plus Cf definition, expressible
    // directly in RE2.
    "txt_normalize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         text || chr(7) || ' cafe' || chr(769) || ' ' || chr(8203) || 'zero' AS text
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, regexp_replace(nfc_normalize(text),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F\p{Cf}]', '', 'g') AS normalized
        |  FROM m
        |)
        |SELECT doc_id, normalized, CAST(length(normalized) AS BIGINT) AS n_chars
        |FROM n ORDER BY doc_id""".stripMargin,

    "txt_lang_id" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> t IN ('der','die','und','ist','nicht'))) AS de,
        |    len(list_filter(toks, t -> t IN ('the','and','of','to','is'))) AS en,
        |    len(list_filter(toks, t -> t IN ('el','la','que','los','una'))) AS es,
        |    len(list_filter(toks, t -> t IN ('le','les','des','est','une'))) AS fr,
        |    len(list_filter(toks, t -> t IN ('的','是','了','在','我'))) AS zh
        |  FROM w
        |)
        |SELECT doc_id,
        |  CASE WHEN greatest(de,en,es,fr,zh) = 0 THEN 'unknown'
        |       WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
        |       WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
        |       WHEN es >= fr AND es >= zh THEN 'es'
        |       WHEN fr >= zh THEN 'fr'
        |       ELSE 'zh' END AS lang_pred,
        |  CAST(greatest(de,en,es,fr,zh) AS BIGINT) AS marker_hits
        |FROM c ORDER BY doc_id""".stripMargin,

    // Full replay of the char-bigram language classifier: profiles are
    // re-derived from the SAME seed literals (graft.text.TextAnalysis
    // .LanguageSeeds), additive smoothing over the union vocabulary,
    // then the scoring join + deterministic argmax.
    "txt_lang_id2" -> {
      val seedValues = graft.text.TextAnalysis.LanguageSeeds
        .map { case (l, s) => s"('$l', '$s')" }.mkString(", ")
      s"""WITH seeds(lang, s) AS (VALUES $seedValues),
         |sg AS MATERIALIZED (
         |  SELECT lang, unnest([substr(lower(s), j, 2) for j in range(1, len(s))]) AS gram FROM seeds),
         |pc AS MATERIALIZED (SELECT lang, gram, count(*) AS c FROM sg GROUP BY 1, 2),
         |vocab AS MATERIALIZED (SELECT DISTINCT gram FROM pc),
         |vn AS MATERIALIZED (SELECT count(*) AS v FROM vocab),
         |tot AS MATERIALIZED (SELECT lang, CAST(sum(c) AS DOUBLE) AS total FROM pc GROUP BY 1),
         |prof AS MATERIALIZED (
         |  SELECT vo.gram, t.lang, ln((coalesce(pc.c, 0) + 0.5) / (t.total + 0.5 * vn.v)) AS logp
         |  FROM vocab vo CROSS JOIN tot t CROSS JOIN vn
         |  LEFT JOIN pc ON pc.gram = vo.gram AND pc.lang = t.lang),
         |floors AS MATERIALIZED (
         |  SELECT t.lang, ln(0.5 / (t.total + 0.5 * vn.v)) AS floorp FROM tot t CROSS JOIN vn),
         |dg AS MATERIALIZED (
         |  SELECT doc_id, unnest([substr(lower(text), j, 2) for j in range(1, len(text))]) AS gram
         |  FROM documents WHERE text IS NOT NULL),
         |dgc AS MATERIALIZED (SELECT doc_id, gram, count(*) AS c FROM dg GROUP BY 1, 2),
         |sc AS MATERIALIZED (
         |  SELECT d.doc_id, f.lang,
         |         sum(d.c * coalesce(p.logp, f.floorp)) AS score, sum(d.c) AS n
         |  FROM dgc d CROSS JOIN floors f
         |  LEFT JOIN prof p ON p.gram = d.gram AND p.lang = f.lang
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT doc_id, max(n) AS n_grams,
         |         (list(lang ORDER BY score DESC, lang ASC))[1] AS lang_pred,
         |         (list(score ORDER BY score DESC, lang ASC))[1] AS best_score
         |  FROM sc GROUP BY doc_id)
         |SELECT d.doc_id,
         |       coalesce(b.lang_pred, 'unknown') AS lang_pred,
         |       CAST(coalesce(b.n_grams, 0) AS BIGINT) AS n_grams,
         |       round(b.best_score / b.n_grams, 4) AS avg_logp
         |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
         |LEFT JOIN best b USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "txt_pattern_counts" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' see https://example.org/p/' || CAST(doc_id AS VARCHAR) || ' there' ELSE '' END AS t
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS email_count,
        |  CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS BIGINT) AS url_count,
        |  CAST(len(regexp_extract_all(t, '[0-9]+')) AS BIGINT) AS digit_run_count
        |FROM c ORDER BY doc_id""".stripMargin,

    // Replays the full repetition-stat definition over the same
    // synthesized line structure: trimmed non-empty lines, O(L²)
    // per-line occurrence counts, word bigrams of the lowered text,
    // argmax with lexicographic tiebreak.
    "txt_repetition" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text || chr(10) || text || chr(10) || 'tail'
        |         ELSE text || chr(10) || 'tail ' || CAST(doc_id AS VARCHAR) END AS t
        |  FROM documents WHERE text IS NOT NULL
        |), l AS (
        |  SELECT doc_id, t,
        |    [x for x in [trim(y) for y in string_split(t, chr(10))] if x <> ''] AS lines,
        |    string_split_regex(trim(lower(t)), '\s+') AS w
        |  FROM c
        |), g AS (
        |  SELECT doc_id, t, lines,
        |    CASE WHEN len(w) >= 2
        |         THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |         ELSE []::VARCHAR[] END AS grams
        |  FROM l
        |), dl AS (
        |  SELECT doc_id, t, lines, grams,
        |    len([i for i in range(1, len(lines) + 1)
        |         if len([x for x in lines if x = lines[i]]) > 1]) AS n_dup_lines,
        |    coalesce(list_sum([CASE WHEN len([x for x in lines if x = lines[i]]) > 1
        |         THEN length(lines[i]) ELSE 0 END for i in range(1, len(lines) + 1)]), 0) AS dup_chars,
        |    coalesce(list_sum([length(x) for x in lines]), 0) AS tot_chars
        |  FROM g
        |), tg AS (
        |  SELECT doc_id, gram, count(*) AS n
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
        |  GROUP BY doc_id, gram
        |), tb AS (
        |  SELECT doc_id, gram, n,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, gram ASC) AS rk
        |  FROM tg
        |), dg AS (
        |  SELECT doc_id,
        |         coalesce(sum(CASE WHEN n > 1 THEN n * length(gram) ELSE 0 END), 0) AS dup_gram_chars
        |  FROM tg GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(len(d.lines) AS BIGINT) AS n_lines,
        |  round(coalesce(d.n_dup_lines * 1.0 / nullif(len(d.lines), 0), 0), 4) AS dup_line_frac,
        |  round(coalesce(d.dup_chars * 1.0 / nullif(d.tot_chars, 0), 0), 4) AS dup_line_char_frac,
        |  CAST(coalesce(b.n, 0) AS BIGINT) AS top_bigram_count,
        |  round(coalesce(b.n * length(b.gram) * 1.0 / nullif(length(d.t), 0), 0), 4) AS top_bigram_char_frac,
        |  round(least(1.0, coalesce(g2.dup_gram_chars * 1.0 / nullif(length(d.t), 0), 0)), 4) AS dup_bigram_char_frac
        |FROM dl d
        |LEFT JOIN (SELECT doc_id, gram, n FROM tb WHERE rk = 1) b USING (doc_id)
        |LEFT JOIN dg g2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Replays the redaction chain with RE2: email, then URL, then
    // digit runs, each global-replaced in order.
    "txt_redact" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' see https://example.org/p/' || CAST(doc_id AS VARCHAR) || ' there' ELSE '' END AS t
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]+', '<NUMBER>', 'g') AS text
        |FROM c ORDER BY doc_id""".stripMargin,

    // Replays the document-frequency trigram count: distinct trigrams
    // per document (short docs collapse to one whole-text gram),
    // df >= 2, (df desc, gram) total order, top 25.
    "txt_top_ngrams" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |  WHERE text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
        |      ELSE [array_to_string(w, ' ')] END) AS gram FROM w
        |)
        |SELECT gram, count(*) AS df_count FROM g
        |GROUP BY gram HAVING count(*) >= 2
        |ORDER BY df_count DESC, gram LIMIT 25""".stripMargin,

    // The identical regexp chain (DuckDB needs the explicit 'g' flag —
    // Spark's regexp_replace is global by default).
    "txt_url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0
        |           THEN 'HTTPS://WWW.Example' || CAST((doc_id // 2) % 5 AS VARCHAR) ||
        |                '.COM:443/p/' || CAST(doc_id // 2 AS VARCHAR) ||
        |                '?utm_source=feed&id=' || CAST(doc_id // 2 AS VARCHAR) || '&utm_campaign=x#frag'
        |           ELSE 'https://www.example' || CAST((doc_id // 2) % 5 AS VARCHAR) ||
        |                '.com/p/' || CAST(doc_id // 2 AS VARCHAR) ||
        |                '?id=' || CAST(doc_id // 2 AS VARCHAR)
        |         END AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, url,
        |         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |         lower(regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
        |               '^[^@]*@', '')) AS hostport,
        |         regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1),
        |               '#.*$', '') AS tail0
        |  FROM u
        |), cleaned AS (
        |  SELECT doc_id, scheme,
        |         regexp_replace(hostport, ':[0-9]+$', '') AS host,
        |         CASE WHEN (scheme = 'https' AND hostport LIKE '%:443')
        |                OR (scheme = 'http' AND hostport LIKE '%:80')
        |           THEN regexp_replace(hostport, ':[0-9]+$', '') ELSE hostport END AS chp,
        |         regexp_replace(regexp_replace(regexp_replace(
        |           regexp_replace(regexp_replace(regexp_replace(tail0,
        |             '([?&])utm_[A-Za-z0-9_]*=[^&#]*', '\1', 'g'),
        |             '([?&])fbclid=[^&#]*', '\1', 'g'),
        |             '([?&])gclid=[^&#]*', '\1', 'g'),
        |           '&&+', '&', 'g'), '\?&', '?'), '[?&]$', '') AS tail
        |  FROM parts
        |)
        |SELECT doc_id, scheme, host, scheme || '://' || chp || tail AS normalized
        |FROM cleaned ORDER BY doc_id""".stripMargin,

    // The same smoothed idf arithmetic over the same whitespace
    // tokens; rank replayed with the identical (score desc, term)
    // tiebreak.
    "txt_tfidf_terms" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |  WHERE text IS NOT NULL
        |), t AS (
        |  SELECT doc_id, unnest(w) AS term FROM w
        |), tc AS (
        |  SELECT doc_id, term, count(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2
        |), dfq AS (
        |  SELECT term, count(*) AS df_count FROM tc GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS nd FROM documents WHERE text IS NOT NULL
        |), s AS (
        |  SELECT doc_id, term, tf, df_count,
        |         tf * (ln((nd + 1.0) / (df_count + 1.0)) + 1.0) AS score,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tf * (ln((nd + 1.0) / (df_count + 1.0)) + 1.0) DESC, term) AS rank
        |  FROM tc JOIN dfq USING (term), n
        |)
        |SELECT doc_id, term, tf, df_count, round(score, 4) AS score, rank
        |FROM s WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // Class-based TF-IDF: the txt_tfidf_terms replay with the SOURCE
    // as the class — class-grouped tf, class df, idf base = distinct
    // classes.
    "txt_class_tfidf" ->
      """WITH w AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS w FROM documents
        |  WHERE text IS NOT NULL
        |), t AS (
        |  SELECT source, unnest(w) AS term FROM w
        |), tc AS (
        |  SELECT source, term, count(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2
        |), dfq AS (
        |  SELECT term, count(*) AS df_count FROM tc GROUP BY 1
        |), n AS (
        |  -- idf base = distinct classes holding >= 1 token (NULL label
        |  -- counted) — derived from tc, the same frame the engine uses,
        |  -- so tokenless classes and NULL labels agree on both sides.
        |  SELECT count(*) AS nc FROM (SELECT DISTINCT source FROM tc)
        |), s AS (
        |  SELECT source, term, tf, df_count,
        |         tf * (ln((nc + 1.0) / (df_count + 1.0)) + 1.0) AS score,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY tf * (ln((nc + 1.0) / (df_count + 1.0)) + 1.0) DESC, term) AS rank
        |  FROM tc JOIN dfq USING (term), n
        |)
        |SELECT source, term, tf, df_count, round(score, 4) AS score, CAST(rank AS BIGINT) AS rank
        |FROM s WHERE rank <= 3 ORDER BY source, rank""".stripMargin,

    // Boilerplate mining: word-trigram document frequency >= 5, full
    // n-grams only (no short-doc fallback — a span shorter than the
    // pattern cannot be a match site).
    "txt_frequent_grams" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |  WHERE text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])
        |      ELSE CAST([] AS VARCHAR[]) END) AS gram FROM w
        |)
        |SELECT gram, CAST(count(*) AS BIGINT) AS df_count FROM g
        |GROUP BY gram HAVING count(*) >= 5
        |ORDER BY df_count DESC, gram""".stripMargin,

    // Frequent-span removal: every word position covered by any
    // occurrence of a df>=5 trigram is dropped; survivors rejoin in
    // order. Fully-stripped docs keep their row with clean_text = ''.
    "txt_strip_boilerplate" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
        |  WHERE text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 3
        |      THEN [{'i': i, 'g': array_to_string(w[i:i+2], ' ')} for i in range(1, len(w) - 1)]
        |      ELSE CAST([] AS STRUCT(i BIGINT, g VARCHAR)[]) END) AS u FROM w
        |), gg AS (
        |  SELECT doc_id, u.i AS i, u.g AS gram FROM g
        |), freq AS (
        |  SELECT gram FROM (
        |    SELECT gram, count(DISTINCT doc_id) AS dfc FROM gg GROUP BY gram
        |  ) WHERE dfc >= 5
        |), hits AS (
        |  SELECT doc_id, i FROM gg JOIN freq USING (gram)
        |), cov AS (
        |  SELECT DISTINCT doc_id, unnest([i + d for d in range(0, 3)]) AS p FROM hits
        |), pos AS (
        |  SELECT doc_id, unnest([{'p': i, 'wd': w[i]} for i in range(1, len(w) + 1)]) AS u FROM w
        |), pp AS (
        |  SELECT doc_id, u.p AS p, u.wd AS word FROM pos
        |), kept AS (
        |  SELECT pp.doc_id, pp.p, pp.word FROM pp
        |  LEFT JOIN cov ON pp.doc_id = cov.doc_id AND pp.p = cov.p
        |  WHERE cov.p IS NULL
        |), agg AS (
        |  SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS clean_text,
        |         count(*) AS n_kept
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT w.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |       CAST(len(w.w) AS BIGINT) AS n_words,
        |       CAST(len(w.w) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM w LEFT JOIN agg a USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,

    // Replays the corpus trigram LM: position-order char trigrams per
    // document, corpus counts, (count desc, gram) vocabulary truncated
    // to 256, OOV floor 0.5, avg natural-log-prob + perplexity at 4dp.
    "txt_lm_score" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(text) >= 3
        |      THEN [substr(text, i, 3) for i in range(1, len(text) - 1)]
        |      ELSE CAST(NULL AS VARCHAR[]) END) AS gram
        |  FROM docs
        |), counts AS (
        |  SELECT gram, count(*) AS cnt FROM g GROUP BY gram
        |), total AS (
        |  SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM counts
        |), topv AS (
        |  SELECT gram, cnt FROM counts ORDER BY cnt DESC, gram LIMIT 256
        |), scored AS (
        |  SELECT g.doc_id, count(*) AS n_grams,
        |         CAST(sum(CASE WHEN v.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_grams,
        |         sum(ln(coalesce(CAST(v.cnt AS DOUBLE), 0.5) / t.tot)) AS slogp
        |  FROM g LEFT JOIN topv v ON g.gram = v.gram CROSS JOIN total t
        |  GROUP BY g.doc_id
        |)
        |SELECT d.doc_id,
        |       coalesce(s.n_grams, 0) AS n_grams,
        |       coalesce(s.oov_grams, 0) AS oov_grams,
        |       round(s.slogp / s.n_grams, 4) AS avg_logp,
        |       round(exp(-s.slogp / s.n_grams), 4) AS perplexity
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Replays the snapshot construction and the md5-fingerprint
    // full-outer join; IS NOT DISTINCT FROM mirrors Spark's null-safe
    // <=> on the fingerprint compare.
    "txt_corpus_diff" ->
      """WITH after_c AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 3 THEN text || ' edited' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 5
        |  UNION ALL
        |  SELECT doc_id + 5000 AS doc_id, text FROM documents WHERE doc_id % 13 = 1
        |), b AS (
        |  SELECT doc_id AS id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fpb, 1 AS pb
        |  FROM documents
        |), a AS (
        |  SELECT doc_id AS id,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fpa, 1 AS pa
        |  FROM after_c
        |)
        |SELECT COALESCE(b.id, a.id) AS id,
        |  CASE WHEN b.pb IS NULL THEN 'added'
        |       WHEN a.pa IS NULL THEN 'removed'
        |       WHEN b.fpb IS NOT DISTINCT FROM a.fpa THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM b FULL OUTER JOIN a ON b.id = a.id
        |ORDER BY id""".stripMargin,

    // Composes the txt_fingerprints / txt_quality / txt_lang_id
    // replays under a per-source aggregate: corpus-wide dup flag via a
    // window over the md5 fingerprint, then counts/sums/averages and a
    // fixed-label argmax (>= chain over the sorted label order = the
    // engine's first-strictly-greater fold, ties to the earliest).
    "rpt_source_mix" ->
      """WITH d AS (
        |  SELECT source, text,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE text IS NOT NULL
        |), f AS (
        |  SELECT source, text,
        |         CASE WHEN count(*) OVER (PARTITION BY fp) > 1 THEN 1.0 ELSE 0.0 END AS is_dup
        |  FROM d
        |), m AS (
        |  SELECT source, is_dup, text,
        |         string_split_regex(trim(text), '\s+') AS w,
        |         string_split_regex(trim(lower(text)), '\s+') AS lw
        |  FROM f
        |), c AS (
        |  SELECT source, is_dup,
        |    CAST(length(text) AS BIGINT) AS chars,
        |    CAST(len(w) AS BIGINT) AS toks,
        |    least(least(greatest(len(w), 1) * 1.0 / 100.0, 1.0)
        |      * (1.0 - len(regexp_extract_all(text, '[[:punct:]]')) * 1.0 / greatest(length(text), 1.0))
        |      * (0.5 + 0.5 * (len(list_filter(w, t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0
        |          / greatest(len(w), 1))), 1.0) AS quality,
        |    len(list_filter(lw, t -> t IN ('der','die','und','ist','nicht'))) AS de,
        |    len(list_filter(lw, t -> t IN ('the','and','of','to','is'))) AS en,
        |    len(list_filter(lw, t -> t IN ('el','la','que','los','una'))) AS es,
        |    len(list_filter(lw, t -> t IN ('le','les','des','est','une'))) AS fr,
        |    len(list_filter(lw, t -> t IN ('的','是','了','在','我'))) AS zh
        |  FROM m
        |), p AS (
        |  SELECT source, is_dup, chars, toks, quality,
        |    CASE WHEN greatest(de,en,es,fr,zh) = 0 THEN 'unknown'
        |         WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
        |         WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
        |         WHEN es >= fr AND es >= zh THEN 'es'
        |         WHEN fr >= zh THEN 'fr'
        |         ELSE 'zh' END AS lang
        |  FROM c
        |), a AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(chars) AS BIGINT) AS total_chars,
        |    CAST(sum(toks) AS BIGINT) AS total_tokens,
        |    avg(quality) AS avg_q, avg(is_dup) AS dup_f,
        |    sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS n_de,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en,
        |    sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS n_es,
        |    sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS n_fr,
        |    sum(CASE WHEN lang = 'unknown' THEN 1 ELSE 0 END) AS n_unknown,
        |    sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS n_zh
        |  FROM p GROUP BY source
        |)
        |SELECT source, n_docs, total_chars, total_tokens,
        |  round(avg_q, 4) AS avg_quality,
        |  round(dup_f, 4) AS dup_fraction,
        |  CASE WHEN n_de >= n_en AND n_de >= n_es AND n_de >= n_fr AND n_de >= n_unknown AND n_de >= n_zh THEN 'de'
        |       WHEN n_en >= n_es AND n_en >= n_fr AND n_en >= n_unknown AND n_en >= n_zh THEN 'en'
        |       WHEN n_es >= n_fr AND n_es >= n_unknown AND n_es >= n_zh THEN 'es'
        |       WHEN n_fr >= n_unknown AND n_fr >= n_zh THEN 'fr'
        |       WHEN n_unknown >= n_zh THEN 'unknown'
        |       ELSE 'zh' END AS top_lang,
        |  round(greatest(n_de, n_en, n_es, n_fr, n_unknown, n_zh) * 1.0 / n_docs, 4) AS top_lang_fraction
        |FROM a ORDER BY source""".stripMargin,

    "validator_batched" ->
      """SELECT 'b1_no_negative_price' AS rule_name,
        |       (SELECT count(*) FROM part WHERE p_retailprice < 0) = 0 AS is_valid,
        |       CAST((SELECT count(*) FROM part WHERE p_retailprice < 0) AS DOUBLE) AS actual_value
        |UNION ALL
        |SELECT 'b2_part_not_empty',
        |       (SELECT count(*) FROM part) > 0,
        |       CAST((SELECT count(*) FROM part) AS DOUBLE)
        |UNION ALL
        |SELECT 'b3_small_parts',
        |       (SELECT count(*) FROM part WHERE p_size <= 10) > 0,
        |       CAST((SELECT count(*) FROM part WHERE p_size <= 10) AS DOUBLE)
        |UNION ALL
        |SELECT 'b4_customer_not_empty',
        |       (SELECT count(*) FROM customer) > 0,
        |       CAST((SELECT count(*) FROM customer) AS DOUBLE)
        |UNION ALL
        |SELECT 'b5_nonfusable_max',
        |       (SELECT max(p_size) FROM part) <= 50,
        |       CAST((SELECT max(p_size) FROM part) AS DOUBLE)
        |ORDER BY rule_name""".stripMargin,

    "sql_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        |       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "sql_join_revenue" ->
      """SELECT n.n_name AS nation,
        |       round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue,
        |       count(*) AS line_count
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    "sql_window_top_orders" ->
      """SELECT * FROM (
        |  SELECT c.c_mktsegment AS segment, o.o_orderkey, o.o_totalprice,
        |         row_number() OVER (PARTITION BY c.c_mktsegment
        |                            ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rn
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |) WHERE rn <= 3
        |ORDER BY segment, rn""".stripMargin,

    "sql_cube_agg" ->
      """SELECT coalesce(l_returnflag, '(all)') AS rflag,
        |       coalesce(l_linestatus, '(all)') AS lstatus,
        |       count(*) AS n, round(CAST(sum(l_quantity) AS DOUBLE), 2) AS qty_sum
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    // Pivot replayed as conditional aggregation.
    "sql_pivot_status" ->
      """SELECT l_returnflag,
        |       round(CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS DOUBLE), 2) AS F,
        |       round(CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS DOUBLE), 2) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sql_set_ops" ->
      """SELECT count(*) AS n_high_not_urgent FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |)""".stripMargin,

    // Identical window chain: integer-microsecond gap compare, running
    // sum of break flags, then per-session aggregates.
    "ev_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), se AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM e
        |)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
        |FROM se GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // Native session_window semantics: a gap EXACTLY equal to the 30
    // min duration breaks (>=, half-open windows); session_end is
    // last-event + gap.
    "ev_session_window" ->
      s"""WITH $sessionWindowSql
         |SELECT user_id, session_start, session_end, n_events, sum_value
         |FROM sessions ORDER BY user_id, session_start""".stripMargin,

    // Append-mode contract: only sessions the final watermark (= max
    // event time, delay 0) closed — i.e. session_end ≤ global max ts —
    // are ever emitted; each user's last session stays open.
    "ev_session_stream_append" ->
      s"""WITH $sessionWindowSql
         |SELECT user_id, session_start, session_end, n_events, sum_value
         |FROM sessions
         |WHERE session_end <= (SELECT max(ts) FROM events)
         |ORDER BY user_id, session_start""".stripMargin,

    // The same chained running-min windows: a stage-k event counts iff
    // a strictly-earlier row reached stage k-1.
    "ev_funnel" ->
      """WITH e1 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN event_type = 'view' THEN ts END AS r0
        |  FROM events
        |), e2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND min(r0) OVER wp IS NOT NULL THEN ts END AS r1
        |  FROM e1
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), e3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND min(r1) OVER wp IS NOT NULL THEN ts END AS r2
        |  FROM e2
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), per_user AS (
        |  SELECT user_id, count(r0) > 0 AS h0, count(r1) > 0 AS h1, count(r2) > 0 AS h2
        |  FROM e3 GROUP BY user_id
        |)
        |SELECT stage_idx, stage, n_entities FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, count(*) FILTER (WHERE h0) AS n_entities FROM per_user
        |  UNION ALL
        |  SELECT 1, 'click', count(*) FILTER (WHERE h1) FROM per_user
        |  UNION ALL
        |  SELECT 2, 'purchase', count(*) FILTER (WHERE h2) FROM per_user
        |) ORDER BY stage_idx""".stripMargin,

    // The windowed chain: each stage's hit requires the LATEST prior
    // reach within 7200 s (the latest is the tightest bound, so it
    // decides the window test).
    "ev_funnel_windowed" ->
      """WITH e1 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN event_type = 'view' THEN ts END AS r0
        |  FROM events
        |), e2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND max(r0) OVER wp IS NOT NULL
        |         AND epoch_us(ts) - epoch_us(max(r0) OVER wp) <= 7200000000 THEN ts END AS r1
        |  FROM e1
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), e3 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND max(r1) OVER wp IS NOT NULL
        |         AND epoch_us(ts) - epoch_us(max(r1) OVER wp) <= 7200000000 THEN ts END AS r2
        |  FROM e2
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), per_user AS (
        |  SELECT user_id, count(r0) > 0 AS h0, count(r1) > 0 AS h1, count(r2) > 0 AS h2
        |  FROM e3 GROUP BY user_id
        |)
        |SELECT stage_idx, stage, n_entities FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, count(*) FILTER (WHERE h0) AS n_entities FROM per_user
        |  UNION ALL
        |  SELECT 1, 'click', count(*) FILTER (WHERE h1) FROM per_user
        |  UNION ALL
        |  SELECT 2, 'purchase', count(*) FILTER (WHERE h2) FROM per_user
        |) ORDER BY stage_idx""".stripMargin,

    // The as-of match replayed as the pair blowup the oracle CAN
    // afford at sf0.01: rank every earlier click per purchase, keep
    // rn = 1 (newest ts, greatest event_id on ties) — the row the
    // union-stack window carries.
    "ev_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.event_id AS purchase_id, c.event_id AS click_id, c.value AS click_value,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        |)
        |SELECT p.event_id AS purchase_id, p.user_id, m.click_id,
        |       round(CAST(m.click_value AS DOUBLE), 4) AS click_value
        |FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m ON p.event_id = m.purchase_id
        |ORDER BY purchase_id""".stripMargin,

    // The identical lag-window gap arithmetic.
    "ev_interarrival" ->
      """WITH g AS (
        |  SELECT user_id,
        |         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS gap
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, count(*) AS n_gaps,
        |       round(avg(gap), 4) AS mean_gap_s,
        |       round(min(gap), 4) AS min_gap_s,
        |       round(max(gap), 4) AS max_gap_s,
        |       round(CASE WHEN avg(gap) > 0
        |         THEN coalesce(stddev_samp(gap), 0.0) / avg(gap) ELSE 0.0 END, 4) AS cv
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // First-activity epoch-week per user, offsets counted off the
    // distinct (user, week) activity set.
    "ev_retention_cohorts" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS period
        |  FROM events WHERE ts IS NOT NULL
        |), cohorts AS (
        |  SELECT user_id, min(period) AS cohort_period FROM active GROUP BY user_id
        |)
        |SELECT c.cohort_period, a.period - c.cohort_period AS period_offset,
        |       count(DISTINCT a.user_id) AS n_entities
        |FROM active a JOIN cohorts c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Replays the md5-mode uniform hash digit-for-digit, then the same
    // (u, event_id) rank-≤-50 keep; kept_id_sum hash-checks membership.
    "ev_capped_entities" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" +\n         |         ")
      s"""WITH h AS (
         |  SELECT user_id, event_id, md5('42:' || CAST(event_id AS VARCHAR)) AS hx
         |  FROM events
         |), u AS (
         |  SELECT user_id, event_id,
         |        ($nibbles) / 4294967296.0 AS u
         |  FROM h
         |), r AS (
         |  SELECT user_id, event_id,
         |         row_number() OVER (PARTITION BY user_id ORDER BY u, event_id) AS rk
         |  FROM u
         |), k AS (
         |  SELECT user_id, count(*) AS n_kept,
         |         CAST(sum(event_id) AS BIGINT) AS kept_id_sum
         |  FROM r WHERE rk <= 50 GROUP BY user_id
         |), tot AS (
         |  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
         |)
         |SELECT k.user_id, tot.n_events, k.n_kept, k.kept_id_sum,
         |       tot.n_events > 50 AS was_capped
         |FROM k JOIN tot USING (user_id) ORDER BY user_id""".stripMargin
    },

    // Forward replay: rank ascending (earliest ts, smallest id) over
    // the future-side pairs within the 24 h window.
    "ev_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        |m AS (
        |  SELECT p.event_id AS purchase_id, e.event_id AS next_error_id,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY e.ts ASC, e.event_id ASC) AS rn
        |  FROM p JOIN e ON p.user_id = e.user_id AND e.ts >= p.ts
        |                AND e.ts <= p.ts + INTERVAL 24 HOURS
        |)
        |SELECT p.event_id AS purchase_id, p.user_id, m.next_error_id
        |FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m ON p.event_id = m.purchase_id
        |ORDER BY purchase_id""".stripMargin,

    // Tolerance variant: restricting the pair set to the 1-hour
    // lookback before ranking ≡ the engine's null-out of a too-old
    // carried match (the carry keeps the NEWEST match, so if it is too
    // old, all are).
    "ev_asof_join_tol" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        |                AND c.ts >= p.ts - INTERVAL 1 HOUR
        |)
        |SELECT p.event_id AS purchase_id, p.user_id, m.click_id
        |FROM p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m ON p.event_id = m.purchase_id
        |ORDER BY purchase_id""".stripMargin,

    // The streaming path earns the SAME oracle as the batch frame: day
    // batches preserve per-user ts order, so online state folding must
    // reproduce the batch window row-for-row.
    "ev_rolling_stream" ->
      """SELECT event_id, user_id,
        |       count(value) OVER w AS roll_n,
        |       round(CAST(sum(value) OVER w AS DOUBLE), 4) AS roll_sum,
        |       min(value) OVER w AS roll_min,
        |       max(value) OVER w AS roll_max,
        |       round(CAST(avg(value) OVER w AS DOUBLE), 4) AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // The identical ROWS frame; count/min/max exact, sum/mean 4dp.
    "ev_rolling_stats" ->
      """SELECT event_id, user_id,
        |       count(value) OVER w AS roll_n,
        |       round(CAST(sum(value) OVER w AS DOUBLE), 4) AS roll_sum,
        |       min(value) OVER w AS roll_min,
        |       max(value) OVER w AS roll_max,
        |       round(CAST(avg(value) OVER w AS DOUBLE), 4) AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // DuckDB joins on the raw inequality — both Spark formulations
    // (binned shuffle join, broadcast BNLJ) must agree with it.
    "rj_price_bands" ->
      """WITH bands AS (
        |  SELECT CAST(i AS BIGINT) AS band_id, i * 50000.0 AS lo, (i + 1) * 50000.0 AS hi
        |  FROM range(10) t(i)
        |)
        |SELECT band_id, count(*) AS n_orders,
        |       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS price_sum
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,

    "rj_price_bands_bc" ->
      """WITH bands AS (
        |  SELECT CAST(i AS BIGINT) AS band_id, i * 50000.0 AS lo, (i + 1) * 50000.0 AS hi
        |  FROM range(10) t(i)
        |)
        |SELECT band_id, count(*) AS n_orders,
        |       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS price_sum
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,

    // The raw inequality-overlap join IS the oracle: the binned
    // formulation must produce exactly its pair multiset.
    "rj_interval_overlap" ->
      """WITH a AS (
        |  SELECT o_orderkey AS a_key, o_totalprice AS a_lo, o_totalprice + 5000.0 AS a_hi
        |  FROM orders WHERE o_orderkey % 7 = 0
        |), b AS (
        |  SELECT o_orderkey AS b_key, o_totalprice AS b_lo, o_totalprice + 3000.0 AS b_hi
        |  FROM orders WHERE o_orderkey % 5 = 0
        |)
        |SELECT count(*) AS n_pairs,
        |       CAST(sum(a_key) AS BIGINT) AS a_key_sum,
        |       CAST(sum(b_key) AS BIGINT) AS b_key_sum
        |FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi""".stripMargin,

    // Group-keyed md5 split replayed digit-for-digit on the SOURCE
    // string: every doc of a source shares one u, so each source maps
    // to exactly one split in both engines.
    "smp_group_split" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" +\n         |         ")
      s"""WITH h AS (
         |  SELECT source, doc_id, md5('42:' || source) AS hx FROM documents
         |), u AS (
         |  SELECT source, doc_id,
         |        ($nibbles) / 4294967296.0 AS u
         |  FROM h
         |)
         |SELECT source,
         |       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM u GROUP BY 1, 2 ORDER BY source, split""".stripMargin
    },

    // A-ES replay: same md5 uniform, same key = pow(u, 1/w), same
    // (key DESC, doc_id) cut at 100.
    "smp_weighted_sample" -> {
      val nibbles = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${1L << (4 * (7 - i))}.0")
        .mkString(" +\n         |         ")
      s"""WITH h AS (
         |  SELECT doc_id, n_chars, md5('42:' || CAST(doc_id AS VARCHAR)) AS hx FROM documents
         |), u AS (
         |  SELECT doc_id, n_chars,
         |        ($nibbles) / 4294967296.0 AS u
         |  FROM h
         |), k AS (
         |  SELECT doc_id, n_chars, pow(u, 1.0 / n_chars) AS key
         |  FROM u WHERE n_chars IS NOT NULL AND n_chars > 0
         |)
         |SELECT doc_id, n_chars FROM (
         |  SELECT doc_id, n_chars FROM k ORDER BY key DESC, doc_id LIMIT 100
         |) ORDER BY doc_id""".stripMargin
    },

    // The plain unsalted join IS the oracle: salting must be invisible
    // in the result.
    "jn_salted_revenue" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "cmp_row_diff" ->
      s"""WITH $diffSnapshotsSql
         |SELECT count(*) FILTER (WHERE r.o_orderkey IS NULL) AS added,
         |       count(*) FILTER (WHERE c.o_orderkey IS NULL) AS removed,
         |       count(*) FILTER (WHERE r.o_orderkey IS NOT NULL AND c.o_orderkey IS NOT NULL
         |         AND (r.o_orderstatus IS DISTINCT FROM c.o_orderstatus
         |           OR r.o_totalprice IS DISTINCT FROM c.o_totalprice
         |           OR r.o_orderpriority IS DISTINCT FROM c.o_orderpriority)) AS changed,
         |       count(*) FILTER (WHERE r.o_orderkey IS NOT NULL AND c.o_orderkey IS NOT NULL
         |         AND r.o_orderstatus IS NOT DISTINCT FROM c.o_orderstatus
         |         AND r.o_totalprice IS NOT DISTINCT FROM c.o_totalprice
         |         AND r.o_orderpriority IS NOT DISTINCT FROM c.o_orderpriority) AS unchanged
         |FROM ref r FULL OUTER JOIN cur c ON r.o_orderkey = c.o_orderkey""".stripMargin,

    "cmp_column_diff" ->
      s"""WITH $diffSnapshotsSql,
         |j AS (SELECT r.o_orderstatus AS r_status, c.o_orderstatus AS c_status,
         |             r.o_totalprice AS r_price, c.o_totalprice AS c_price,
         |             r.o_orderpriority AS r_prio, c.o_orderpriority AS c_prio
         |      FROM ref r FULL OUTER JOIN cur c ON r.o_orderkey = c.o_orderkey
         |      WHERE r.o_orderkey IS NOT NULL AND c.o_orderkey IS NOT NULL)
         |SELECT column_name, changed_rows FROM (
         |  SELECT 'o_orderstatus' AS column_name,
         |         count(*) FILTER (WHERE r_status IS DISTINCT FROM c_status) AS changed_rows FROM j
         |  UNION ALL
         |  SELECT 'o_totalprice',
         |         count(*) FILTER (WHERE r_price IS DISTINCT FROM c_price) FROM j
         |  UNION ALL
         |  SELECT 'o_orderpriority',
         |         count(*) FILTER (WHERE r_prio IS DISTINCT FROM c_prio) FROM j
         |) ORDER BY column_name""".stripMargin,

    // ONE whole-table scan: a green row proves the split-summarize-
    // then-merge path reproduces exactly these statistics.
    "p19_mergeable_profile" -> {
      val parts = Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
        s"""SELECT '$c' AS column_name, count($c) AS n_rows,
           |round(avg($c), 4) AS mean, round(stddev_samp($c), 4) AS stddev_samp,
           |round(CAST(min($c) AS DOUBLE), 4) AS min_value,
           |round(CAST(max($c) AS DOUBLE), 4) AS max_value FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"SELECT * FROM (\n$parts\n) ORDER BY column_name"
    },

    "p20_frequent_items" ->
      """WITH pairs AS (
        |  SELECT 'o_orderstatus' AS column_name, CAST(o_orderstatus AS VARCHAR) AS value
        |  FROM orders WHERE o_orderstatus IS NOT NULL
        |  UNION ALL
        |  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
        |  FROM orders WHERE o_orderpriority IS NOT NULL
        |), counted AS (
        |  SELECT column_name, value, count(*) AS frequency FROM pairs GROUP BY 1, 2
        |), totals AS (
        |  SELECT column_name, CAST(sum(frequency) AS DOUBLE) AS total FROM counted GROUP BY 1
        |)
        |SELECT c.column_name, c.value, c.frequency,
        |       round(c.frequency / t.total, 6) AS share
        |FROM counted c JOIN totals t USING (column_name)
        |WHERE c.frequency / t.total >= 0.05
        |ORDER BY c.column_name, c.value""".stripMargin,

    // Identical IEEE binning: w = 600000/12, bin = clamp(floor((x-0)/w)),
    // empty bins joined in from range(12).
    "p21_histogram" ->
      """WITH bins AS (SELECT CAST(i AS BIGINT) AS bin FROM range(12) t(i)),
        |counts AS (
        |  SELECT least(11, greatest(0, CAST(floor(o_totalprice / 50000.0) AS BIGINT))) AS bin,
        |         count(*) AS n
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
        |)
        |SELECT b.bin,
        |       round(b.bin * 50000.0, 2) AS lo_edge,
        |       round((b.bin + 1) * 50000.0, 2) AS hi_edge,
        |       coalesce(c.n, 0) AS n
        |FROM bins b LEFT JOIN counts c USING (bin)
        |ORDER BY b.bin""".stripMargin,

    // The same three dependent order-statistic passes: quartiles,
    // deviation median around it, scaled-MAD outlier count.
    "p22_robust_stats" -> {
      def ctes(col: String, i: Int) =
        s"""m$i AS (SELECT quantile_cont($col, 0.25) AS q1, quantile_cont($col, 0.5) AS med,
           |             quantile_cont($col, 0.75) AS q3 FROM lineitem),
           |d$i AS (SELECT quantile_cont(abs($col - (SELECT med FROM m$i)), 0.5) AS mad
           |        FROM lineitem),
           |o$i AS (SELECT count(*) AS n_out FROM lineitem
           |        WHERE abs($col - (SELECT med FROM m$i)) >
           |              3 * 1.4826 * (SELECT mad FROM d$i))""".stripMargin
      def one(col: String, i: Int) =
        s"""SELECT '$col' AS column_name,
           |       round(m$i.med, 4) AS median, round(d$i.mad, 4) AS mad,
           |       round(m$i.q3 - m$i.q1, 4) AS iqr, o$i.n_out AS n_outliers
           |FROM m$i, d$i, o$i""".stripMargin
      s"""WITH ${ctes("l_quantity", 1)},
         |${ctes("l_extendedprice", 2)}
         |SELECT * FROM (
         |${one("l_quantity", 1)}
         |UNION ALL
         |${one("l_extendedprice", 2)}
         |) ORDER BY column_name""".stripMargin
    },

    "p23_grouped_quantiles" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS median,
        |       round(quantile_cont(o_totalprice, 0.75), 4) AS q3
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // Interval algebra replayed: carried = unchanged matches, closed =
    // changed-or-missing ref rows, opened = changed-or-new cur rows.
    "cmp_scd2_history" ->
      s"""WITH $diffSnapshotsSql,
         |j AS (
         |  SELECT r.o_orderkey AS rk, c.o_orderkey AS ck,
         |         r.o_orderkey AS r_key, r.o_totalprice AS r_price,
         |         c.o_orderkey AS c_key, c.o_totalprice AS c_price,
         |         (r.o_orderstatus IS DISTINCT FROM c.o_orderstatus
         |          OR r.o_totalprice IS DISTINCT FROM c.o_totalprice
         |          OR r.o_orderpriority IS DISTINCT FROM c.o_orderpriority) AS chg
         |  FROM ref r FULL OUTER JOIN cur c ON r.o_orderkey = c.o_orderkey
         |),
         |rows_out AS (
         |  SELECT '2024-01-01' AS vf, CAST(NULL AS VARCHAR) AS vt, r_key AS k, r_price AS p
         |  FROM j WHERE rk IS NOT NULL AND ck IS NOT NULL AND NOT chg
         |  UNION ALL
         |  SELECT '2024-01-01', '2024-02-01', r_key, r_price
         |  FROM j WHERE rk IS NOT NULL AND (ck IS NULL OR chg)
         |  UNION ALL
         |  SELECT '2024-02-01', CAST(NULL AS VARCHAR), c_key, c_price
         |  FROM j WHERE ck IS NOT NULL AND (rk IS NULL OR chg)
         |)
         |SELECT vf, vt, count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum
         |FROM rows_out GROUP BY vf, vt ORDER BY vf, vt""".stripMargin,

    // The as-of view mid-January is exactly the ref snapshot.
    "cmp_scd2_asof" ->
      s"""WITH $diffSnapshotsSql
         |SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS price_sum
         |FROM ref""".stripMargin,

    "cmp_category_drift" ->
      s"""WITH $diffSnapshotsSql,
         |rc AS (SELECT CAST(o_orderstatus AS VARCHAR) AS value, count(*) AS rn FROM ref GROUP BY 1),
         |cc AS (SELECT CAST(o_orderstatus AS VARCHAR) AS value, count(*) AS cn FROM cur GROUP BY 1),
         |j AS (SELECT coalesce(rc.value, cc.value) AS value, rc.rn, cc.cn
         |      FROM rc FULL OUTER JOIN cc ON rc.value IS NOT DISTINCT FROM cc.value),
         |t AS (SELECT sum(coalesce(rn, 0)) AS rt, sum(coalesce(cn, 0)) AS ct FROM j)
         |SELECT value, coalesce(rn, 0) AS ref_n, coalesce(cn, 0) AS cur_n,
         |       round(coalesce(rn, 0) / CAST(t.rt AS DOUBLE), 6) AS ref_share,
         |       round(coalesce(cn, 0) / CAST(t.ct AS DOUBLE), 6) AS cur_share,
         |       CASE WHEN rn IS NULL THEN 'added'
         |            WHEN cn IS NULL THEN 'removed' ELSE 'shared' END AS status,
         |       round(abs(coalesce(rn, 0) / CAST(t.rt AS DOUBLE)
         |                 - coalesce(cn, 0) / CAST(t.ct AS DOUBLE)) / 2, 6) AS tvd_term
         |FROM j, t ORDER BY value""".stripMargin,

    // Same (n DESC, key) tiebreak at the top-k boundary.
    "jn_skew_report" ->
      """WITH c AS (SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT key, n, round(CAST(n AS DOUBLE) / t.total, 6) AS share
        |FROM c, t ORDER BY n DESC, key LIMIT 10""".stripMargin,

    // Brute-force containment over the SAME capped-gram semantics:
    // grams with df > cap leave both the intersection and the
    // denominator (cap 100 drops nothing at gate scale — ll25b proves
    // it — so these are the plain set containments).
    "ll25_containment_pairs" ->
      s"""WITH $containmentFixtureSql,
         |grams AS (SELECT doc_id, unnest(ts) AS g FROM sh),
         |dfg AS (SELECT g, count(*) AS dfc FROM grams GROUP BY g),
         |kept AS (SELECT doc_id, g FROM grams JOIN dfg USING (g) WHERE dfc <= 100),
         |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |shared AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), both_dirs AS (
         |  SELECT s.id_a AS id_sub, s.id_b AS id_super, s.inter * 1.0 / sa.n AS containment
         |  FROM shared s JOIN sizes sa ON s.id_a = sa.doc_id
         |  UNION ALL
         |  SELECT s.id_b, s.id_a, s.inter * 1.0 / sb.n
         |  FROM shared s JOIN sizes sb ON s.id_b = sb.doc_id
         |)
         |SELECT id_sub, id_super, round(containment, 4) AS containment
         |FROM both_dirs WHERE containment >= 0.8
         |ORDER BY id_sub, id_super""".stripMargin,

    "ll25b_capped_containment_grams" ->
      s"""WITH $containmentFixtureSql,
         |grams AS (SELECT doc_id, unnest(ts) AS g FROM sh),
         |dfg AS (SELECT g, count(*) AS dfc FROM grams GROUP BY g)
         |SELECT dfc AS df_count, count(*) AS n_capped_grams
         |FROM dfg WHERE dfc > 3 GROUP BY dfc ORDER BY dfc""".stripMargin
  )

  /** Native session_window replay in DuckDB CTE form, shared by both
    * ev_session gates: a gap strictly greater than 30 min breaks
    * (adjacent windows merge), session_end = last event + gap. */
  private val sessionWindowSql: String =
    """e AS (
      |  SELECT user_id, ts, event_id, value,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), se AS (
      |  SELECT user_id, ts, value,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM e
      |), sessions AS (
      |  SELECT user_id, min(ts) AS session_start,
      |         max(ts) + INTERVAL 1800 SECOND AS session_end,
      |         count(*) AS n_events,
      |         round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
      |  FROM se GROUP BY user_id, session_idx
      |)""".stripMargin

  /** The cmp_row_diff / cmp_column_diff snapshot fixture in DuckDB
    * CTE form (see [[diffSnapshots]]). */
  private val diffSnapshotsSql: String =
    """base AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders),
      |ref AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
      |cur AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |         CASE WHEN o_orderkey % 3 = 0 THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice END AS o_totalprice,
      |         o_orderpriority
      |  FROM base WHERE o_orderkey % 5 <> 0
      |)""".stripMargin

  /** The ll25 containment fixture (documents + 40-word prefixes of
    * every 25th document) shingled in DuckDB — the `sh` CTE both ll25
    * oracles build on (see [[containmentFixture]]). */
  private val containmentFixtureSql: String =
    """docs AS (
      |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         array_to_string(string_split_regex(trim(text), '\s+')[1:40], ' ')
      |  FROM documents WHERE text IS NOT NULL AND doc_id % 25 = 0
      |), sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])
      |              ELSE [array_to_string(w, ' ')] END AS ts
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM docs)
      |)""".stripMargin
}
