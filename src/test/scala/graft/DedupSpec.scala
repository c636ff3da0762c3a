package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.dedup.Dedup

/** Unit tests for exact and MinHash-LSH near-duplicate detection. */
class DedupSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  /** In-memory union-find reference: (node, smallest node of its
    * component) for every node of a non-self edge. */
  private def unionFind[T](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map[T, T]()
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb) }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** Chain 1-2-3-4 (diameter > 1 forces multiple star rounds), a
    * cycle 10-11-12-10, a star 20-{21,22,23}, an isolated pair, a
    * self-loop (must be ignored), plus a seeded random graph with
    * repeated and reversed edges. */
  private val fixedAndRandomGraph: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(11)
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L), (40L, 40L)) ++
      Seq.fill(120)((rng.nextInt(60) + 100L, rng.nextInt(60) + 100L))
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square at dusk"

  test("wordShingles: n-grams over the raw token sequence, distinct") {
    val df = docs((1L, "a b c d"))
    val sh = df.select(Dedup.wordShingles(col("text"), 3).as("s"))
      .head().getSeq[String](0)
    sh should contain theSameElementsAs Seq("a b c", "b c d")
  }

  test("wordShingles: shorter-than-n text collapses to one shingle") {
    val df = docs((1L, "only two"))
    df.select(Dedup.wordShingles(col("text"), 3)).head().getSeq[String](0) shouldBe
      Seq("only two")
  }

  test("shingleHashes is value-identical to xxhash64 over wordShingles") {
    val df = docs(
      (1L, base),
      (2L, "  leading and   internal\twhitespace\n runs collapse  "),
      (3L, "only two"),
      (4L, ""),
      (5L, "naïve café déjà-vu unicode résumé tokens here"),
      (6L, "rep rep rep rep rep rep"), // repeated grams → heavy dedup
      (7L, "a b c d"))
    val legacy = df.select(col("doc_id"),
        transform(Dedup.wordShingles(col("text"), 3), s => xxhash64(s)).as("hs"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1)).toSeq
    val native = Dedup.shingleHashes(df, "doc_id", "text", 3)
      .orderBy("id").collect().map(_.getSeq[Long](1)).toSeq
    native shouldBe legacy
  }

  test("minhashSignatures is value-identical to the explode+MinHashAgg form") {
    val df = docs(
      (1L, base),
      (2L, "  leading and   internal\twhitespace\n runs collapse  "),
      (3L, "only two"),
      (4L, ""),
      (5L, "rep rep rep rep rep rep"))
    val legacy = Dedup.shingleHashes(df, "doc_id", "text", 3)
      .select(col("id"), explode(col("sh")).as("h"))
      .groupBy("id")
      .agg(graft.functions.VectorFunctions.minhashAgg(col("h"), 32).as("sig"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val native = Dedup.minhashSignatures(df, "doc_id", "text", 3, 32)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    native shouldBe legacy
  }

  test("simhashSketches is value-identical to the explode+SimHashAgg form, both modes") {
    val df = docs(
      (1L, base),
      (2L, "  leading and   internal\twhitespace\n runs collapse  "),
      (3L, "only two"),
      (4L, ""),
      (5L, "naïve café déjà-vu unicode résumé tokens here"),
      (6L, "rep rep rep rep rep rep"),
      (7L, "a b c d"))
    for (mode <- Seq("xxhash64", "md5")) {
      val field: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (mode == "md5") md5(_) else xxhash64(_)
      val legacy = df
        .select(col("doc_id").as("id"), explode(Dedup.wordShingles(col("text"), 3)).as("sh"))
        .select(col("id"), field(col("sh")).as("f"))
        .groupBy("id")
        .agg(graft.functions.VectorFunctions.simhashAgg(col("f")).as("sk"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val native = Dedup.simhashSketches(df, "doc_id", "text", 3, mode)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      withClue(s"mode=$mode: ") { native shouldBe legacy }
    }
  }

  test("null-text documents drop out of hash-shingle pipelines; empty ones stay") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some("a real document here")), (2L, Option.empty[String]),
      (3L, Some(""))).toDF("doc_id", "text")
    // Deliberate semantics (vs the legacy wordShingles form, which
    // collapsed null to the empty-string shingle and made null docs
    // jaccard-1.0 "near-dups" of empty docs): a null document has no
    // shingles, no signature, and no sketch; the empty document keeps
    // its whole-text shingle.
    Dedup.minhashSignatures(df, "doc_id", "text", 3, 8)
      .select("id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L)
    Dedup.simhashSketches(df, "doc_id", "text")
      .select("id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L)
  }

  test("minhash signatures are identical for identical shingle sets") {
    val df = docs((1L, "a b c d"), (2L, "a b c d"))
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", 3, 16)
      .orderBy("id").collect().map(_.getSeq[Long](1))
    sigs(0) shouldBe sigs(1)
    sigs(0) should have size 16
  }

  test("exactDupGroups counts normalized groups occurring more than once") {
    val df = docs(
      (1L, "Hello   World"), (2L, " hello world"), (3L, "HELLO WORLD"),
      (4L, "something else"), (5L, "something  ELSE"), (6L, "unique text"))
    val groups = Dedup.exactDupGroups(df, "text").collect()
    groups should have size 2
    groups.map(_.getAs[Long]("dup_count")).sorted shouldBe Array(2L, 3L)
  }

  test("nearDupPairs finds a mutated copy and reports exact Jaccard") {
    val mutated = base.replace("dusk", "dawn") // 1-word change
    val df = docs(
      (1L, base), (2L, mutated),
      (3L, "completely different content about spark aggregates and shuffles here"),
      (4L, "another unrelated document mentioning neither foxes nor towns at all"))
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.5).collect()
    pairs should have size 1
    val p = pairs.head
    (p.getAs[Long]("id_a"), p.getAs[Long]("id_b")) shouldBe ((1L, 2L))
    // The last word changed in a 19-word doc: each side has 17
    // 3-gram shingles, exactly one differs → 16 shared of 18 distinct.
    // The value is exact Jaccard, not an LSH estimate.
    p.getAs[Double]("jaccard") shouldBe (16.0 / 18.0 +- 1e-9)
  }

  test("nearDupPairs: identical docs have Jaccard exactly 1.0") {
    val df = docs((1L, base), (2L, base))
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text").collect()
    pairs should have size 1
    pairs.head.getAs[Double]("jaccard") shouldBe 1.0
  }

  test("dropNearDuplicates keeps the lowest id of a dup pair") {
    val df = docs((1L, base), (2L, base), (3L, "totally different text about other things entirely"))
    val kept = Dedup.dropNearDuplicates(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    kept shouldBe Array(1L, 3L)
  }

  test("candidate generation is banded, never all-pairs") {
    // Disjoint-vocabulary docs share no shingles → no common bucket →
    // zero candidates (an all-pairs approach would emit 6).
    val df = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (3L, "phi chi psi omega one two three four five six"),
      (4L, "seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"))
    Dedup.candidatePairs(df, "doc_id", "text").count() shouldBe 0L
  }

  test("simhash: identical tokens → distance 0; near texts closer than far ones") {
    val df = docs(
      (1L, base), (2L, base.replace("dusk", "dawn")),
      (3L, "entirely disjoint vocabulary covering machine learning pipelines and storage"))
    val hs = df.select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    ham(hs(1L), hs(1L)) shouldBe 0
    ham(hs(1L), hs(2L)) should be < ham(hs(1L), hs(3L))
  }

  test("simhashNearDupPairs: near-identical docs are closer than disjoint ones") {
    val longBase = (base + " ") * 4 // more shingles → stabler majority bits
    val df = docs(
      (1L, longBase),
      (2L, longBase + "with a few extra trailing words"), // tail-only change
      (3L, "wholly different content concerning spark catalyst optimizer rules and physical planning " * 4))
    // Measure the actual sketch distances (8-bit bands collide freely,
    // so every pair surfaces), then assert the threshold separates the
    // near pair from the far ones.
    val all = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 64, blocks = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Int]("hamming")).toMap
    val near = all.getOrElse((1L, 2L), 0)
    val far = all.getOrElse((1L, 3L), 64)
    near should be < far
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = near, blocks = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
  }

  test("simhash band blocking guarantees recall below the band count") {
    // Identical docs: hamming 0 < bands, must always be found.
    val df = docs((1L, base), (2L, base))
    Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = 3, blocks = 4)
      .count() shouldBe 1L
  }

  test("OPH signature match fraction estimates Jaccard (distribution property)") {
    // Shingle-hash sets with engineered overlap: 200 shared + 50+50
    // unique → J = 2/3. The densified-OPH slot-match fraction is an
    // unbiased Jaccard estimator; with k=128 the standard error is
    // ~sqrt(J(1-J)/k) ≈ 0.042, so ±0.15 is a > 3σ acceptance band.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val shared = Seq.fill(200)(rnd.nextLong())
    val a = (shared ++ Seq.fill(50)(rnd.nextLong())).distinct
    val b = (shared ++ Seq.fill(50)(rnd.nextLong())).distinct
    val df = Seq((a, b)).toDF("a", "b")
    val row = df.select(
        graft.functions.VectorFunctions.onePermSignature(col("a"), 128),
        graft.functions.VectorFunctions.onePermSignature(col("b"), 128))
      .head()
    val sa = row.getSeq[Long](0)
    val sb = row.getSeq[Long](1)
    sa.length shouldBe 128
    val matches = sa.zip(sb).count { case (x, y) => x == y }
    val j = a.intersect(b).size.toDouble / a.union(b).distinct.size
    matches.toDouble / 128 shouldBe j +- 0.15
  }

  test("OPH densification is deterministic and fills every slot") {
    // 5 shingles into 128 bins: most bins are empty and must densify
    // to copies of filled bins, identically on every evaluation.
    val s = spark
    import s.implicits._
    val hashes = Seq(11L, -42L, 7777L, Long.MinValue + 5, 999999L)
    val df = Seq(Tuple1(hashes), Tuple1(hashes)).toDF("h")
    val sigs = df.select(
        graft.functions.VectorFunctions.onePermSignature(col("h"), 128).as("sig"))
      .collect().map(_.getSeq[Long](0))
    sigs(0) shouldBe sigs(1)
    sigs(0).length shouldBe 128
    // Every slot holds one of the input hashes (bins or densified copies).
    sigs(0).toSet.subsetOf(hashes.toSet) shouldBe true
  }

  test("nearDupPairs in OPH mode finds the same pairs as the k-hash gate mode") {
    val mutated = base.replace("quick", "speedy")
    val df = docs(
      (1L, base), (2L, base), (3L, mutated),
      (4L, "wholly different content concerning catalyst optimizer rules and planning"),
      (5L, base + " extra trailing tail"))
    def pairs(mode: String) =
      Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.5, signatureMode = mode)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          BigDecimal(r.getAs[Double]("jaccard")).setScale(4, BigDecimal.RoundingMode.HALF_UP))).toSet
    pairs("oph") shouldBe pairs("k-hash")
  }

  test("Manku block keys: every pair within maxHamming shares a table key") {
    // Pigeonhole recall property at the default blocking (blocks=6,
    // maxHamming=3, C(6,3)=20 tables on ~32-bit keys): flip ≤ 3
    // random bits of random sketches and assert the key arrays
    // intersect — the property the candidate equi-join relies on.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val fixture = (1 to 300).map { _ =>
      val a = rnd.nextLong()
      val flips = rnd.nextInt(4) // 0..3 flipped bits
      val b = (0 until flips).foldLeft(a)((acc, _) => acc ^ (1L << rnd.nextInt(64)))
      (a, b)
    }
    val out = fixture.toDF("a", "b").select(
      arrays_overlap(
        Dedup.simhashBlockKeys(col("a"), maxHamming = 3, blocks = 6),
        Dedup.simhashBlockKeys(col("b"), maxHamming = 3, blocks = 6)).as("hit"),
      bit_count(col("a").bitwiseXOR(col("b"))).as("ham")).collect()
    out.count(_.getInt(1) <= 3) should be > 200 // fixture sanity
    out.filter(_.getInt(1) <= 3).foreach(_.getBoolean(0) shouldBe true)
  }

  test("simhashNearDupPairs at the default multi-table blocking matches brute force") {
    val longBase = (base + " ") * 4
    val df = docs(
      (1L, longBase),
      (2L, longBase + "with a few extra trailing words"),
      (3L, longBase),
      (4L, "wholly different content concerning spark catalyst optimizer rules " * 4),
      (5L, "another unrelated body of text about streaming watermarks and state " * 4))
    val sk = Dedup.simhashSketches(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("sk")).toMap
    val maxHamming = 3
    val brute = (for {
      a <- sk.keys; b <- sk.keys if a < b
      h = java.lang.Long.bitCount(sk(a) ^ sk(b)) if h <= maxHamming
    } yield (a, b, h)).toSet
    brute should not be empty // fixture sanity: 1-3 identical, 1-2 near
    val got = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = maxHamming)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming"))).toSet
    got shouldBe brute
  }

  test("overlapPairs finds the pair sharing a passage, nothing else") {
    val passage = "this exact shared passage is long enough to leave fingerprints behind"
    val df = docs(
      (1L, s"unique preamble alpha beta gamma $passage and a unique tail one"),
      (2L, s"completely different opening words $passage with another distinct ending"),
      (3L, "nothing in common with either document at all whatsoever in any way"))
    val pairs = Dedup.overlapPairs(df, "doc_id", "text", minShared = 2).collect()
    pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))) shouldBe Array((1L, 2L))
    pairs.head.getAs[Long]("shared_fingerprints") should be > 1L
  }

  test("cappedFingerprints surfaces what the overlapPairs frequency cap drops") {
    // A passage shared by 5 documents: with maxDocFrequency=4 its
    // fingerprints exceed the cap, so overlapPairs sees NONE of the
    // C(5,2)=10 pairs — and the audit must report exactly the
    // fingerprints that were dropped, each carried by all 5 docs.
    val passage = "this exact shared passage is long enough to leave fingerprints behind"
    val cluster = (1L to 5L).map(i => (i, s"doc number $i says $passage plus unique suffix token$i"))
    val df = docs(cluster :+ (9L, "nothing in common with the cluster documents at all whatsoever"): _*)

    val capped = Dedup.overlapPairs(df, "doc_id", "text", minShared = 2, maxDocFrequency = 4)
    capped.count() shouldBe 0L

    val audit = Dedup.cappedFingerprints(df, "doc_id", "text", maxDocFrequency = 4).collect()
    audit should not be empty
    all(audit.map(_.getAs[Long]("df_count"))) shouldBe 5L

    // Raising the cap past the cluster size recovers every pair, and
    // empties the audit — the cap bound nothing.
    Dedup.overlapPairs(df, "doc_id", "text", minShared = 2, maxDocFrequency = 5)
      .count() shouldBe 10L
    Dedup.cappedFingerprints(df, "doc_id", "text", maxDocFrequency = 5).count() shouldBe 0L
  }

  test("candidatePairs occupancy cap bounds the degenerate hot-bucket join; the audit names it") {
    // 520 identical documents — the single most common real input
    // (uncollapsed exact duplicates). Every band bucket they share
    // holds all 520, so the uncapped self-join materializes every one
    // of the C(520,2) pairs; the capped join prunes those buckets
    // BEFORE pairing and the audit reports exactly what was dropped.
    val df = docs(((1L to 520L).map(i => (i, base)) :+
      (900L, "totally disjoint other words standing alone here")): _*)

    Dedup.candidatePairs(df, "doc_id", "text", maxBucketOccupancy = 0)
      .count() shouldBe 520L * 519 / 2

    Dedup.candidatePairs(df, "doc_id", "text", maxBucketOccupancy = 100)
      .count() shouldBe 0L

    // The audit: one hot bucket per band (identical docs share all 32
    // band buckets), each holding the whole cluster.
    val audit = Dedup.cappedBuckets(df, "doc_id", "text", maxBucketOccupancy = 100).collect()
    audit should have length 32
    all(audit.map(_.getAs[Long]("occupancy"))) shouldBe 520L

    // A cap above the cluster size keeps every pair and empties the audit.
    Dedup.cappedBuckets(df, "doc_id", "text", maxBucketOccupancy = 600).count() shouldBe 0L
    Dedup.candidatePairs(df, "doc_id", "text", maxBucketOccupancy = 600)
      .count() shouldBe 520L * 519 / 2
  }

  test("candidatePairs shares a precomputed bucket set with the audit (one minhash scan)") {
    val df = docs((1L, base), (2L, base), (3L, "other unrelated words entirely"))
    val buckets = Dedup.bandBuckets(df, "doc_id", "text")
    val viaShared = Dedup.candidatePairsFromBuckets(buckets).collect().toSet
    val direct = Dedup.candidatePairs(df, "doc_id", "text").collect().toSet
    viaShared shouldBe direct
    Dedup.cappedBucketsFromBuckets(buckets, maxBucketOccupancy = 1).collect()
      .map(_.getAs[Long]("occupancy")) should contain only 2L
    // The FromBuckets shapes reject a frame that is not a bandBuckets
    // product — the provenance guard for the shared-scan contract.
    val e = intercept[IllegalArgumentException] {
      Dedup.candidatePairsFromBuckets(df)
    }
    e.getMessage should include("band")
  }

  test("simhashNearDupPairs occupancy cap bounds the degenerate hot-key join; the audit names it") {
    // Same hazard, SimHash flavor: identical documents have identical
    // 64-bit sketches, so they share the SAME (tbl, key) in every one
    // of the C(6,3)=20 block tables — the ~2^32 bucket space bounds
    // only random collisions, not exact-duplicate clusters.
    val df = docs(((1L to 520L).map(i => (i, base)) :+
      (900L, "totally disjoint other words standing alone here")): _*)

    Dedup.simhashNearDupPairs(df, "doc_id", "text", maxBucketOccupancy = 100)
      .count() shouldBe 0L

    // The audit: one hot key per block table, each holding the cluster.
    val audit = Dedup.cappedBlockKeys(df, "doc_id", "text", maxBucketOccupancy = 100).collect()
    audit should have length 20
    all(audit.map(_.getAs[Long]("occupancy"))) shouldBe 520L
    audit.map(_.getAs[Int]("tbl")).toSet shouldBe (0 until 20).toSet

    // A cap above the cluster keeps every pair and empties the audit.
    Dedup.cappedBlockKeys(df, "doc_id", "text", maxBucketOccupancy = 600)
      .count() shouldBe 0L
    Dedup.simhashNearDupPairs(df, "doc_id", "text", maxBucketOccupancy = 600)
      .filter(col("hamming") === 0).count() shouldBe 520L * 519 / 2

    // Shared-scan contract: join + audit off one blockKeys frame agree
    // with the direct forms, and the provenance guard rejects other
    // frames.
    val keys = Dedup.blockKeys(df, "doc_id", "text")
    Dedup.simhashNearDupPairsFromKeys(keys, maxHamming = 3, maxBucketOccupancy = 100)
      .count() shouldBe 0L
    Dedup.cappedBlockKeysFromKeys(keys, maxBucketOccupancy = 100)
      .count() shouldBe 20L
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairsFromKeys(df)
    }
    e.getMessage should include("blockKeys")
  }

  test("hammingDistance column matches bitCount of xor") {
    val s = spark
    import s.implicits._
    val df = Seq((0x0FL, 0x00L), (0xFFL, 0xFFL), (-1L, 0L)).toDF("a", "b")
    df.select(Dedup.hammingDistance(col("a"), col("b"))).collect()
      .map(_.getInt(0)) shouldBe Array(4, 0, 64)
  }

  test("connectedComponents matches union-find on chains, cycles, stars and a random graph") {
    val s = spark
    import s.implicits._
    val pairs = fixedAndRandomGraph.toDF("id_a", "id_b")
    val expected = unionFind(fixedAndRandomGraph)
    expected should not contain key(40L) // self-loop-only node absent

    val got = Dedup.connectedComponents(pairs, "id_a", "id_b").as[(Long, Long)]
      .collect().toMap
    got shouldBe expected
    // Every label is its component's minimum member.
    got.groupBy(_._2).foreach { case (comp, members) =>
      comp shouldBe members.keys.min
    }
  }

  test("connectedComponents: one partition contracts to stars and needs zero rounds") {
    val s = spark
    import s.implicits._
    val edges = fixedAndRandomGraph
    // Every edge in one partition: local contraction alone yields the
    // star fixpoint, so even maxRounds = 0 succeeds.
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b").coalesce(1),
        "id_a", "id_b", maxRounds = 0)
      .as[(Long, Long)].collect().toMap
    got shouldBe unionFind(edges)
  }

  test("connectedComponents: edges spread over 8 partitions contract partially, then rounds finish") {
    val s = spark
    import s.implicits._
    val edges = fixedAndRandomGraph
    val pairs = edges.toDF("id_a", "id_b").repartition(8)
    // Components cross partitions here, so zero rounds cannot suffice.
    an[IllegalStateException] should be thrownBy
      Dedup.connectedComponents(pairs, "id_a", "id_b", maxRounds = 0)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap shouldBe unionFind(edges)
  }

  test("connectedComponents: string ids contract and round in string order") {
    val s = spark
    import s.implicits._
    // Unpadded names order differently as strings than as numbers
    // ("n10" < "n9"): the component minimum must be the string one.
    val edges = fixedAndRandomGraph.map { case (a, b) => (s"n$a", s"n$b") }
    val expected = unionFind(edges)
    for (pairs <- Seq(edges.toDF("id_a", "id_b").coalesce(1),
        edges.toDF("id_a", "id_b").repartition(8)))
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .as[(String, String)].collect().toMap shouldBe expected
  }

  test("contractPartitions: a full union-find flushes its stars and keeps the components") {
    val s = spark
    import s.implicits._
    val edges = fixedAndRandomGraph
    val edgeList = edges.toDF("u", "v").filter(col("u") =!= col("v")).coalesce(1)
    // A budget of 2 nodes holds one edge, so nearly every edge flushes.
    val tiny = Dedup.contractPartitions(edgeList, budget = 2).as[(Long, Long)].collect().toSeq
    val full = Dedup.contractPartitions(edgeList, budget = 1 << 17).as[(Long, Long)].collect().toSeq
    all(tiny ++ full) should matchPattern { case (u: Long, v: Long) if u > v => }
    unionFind(tiny) shouldBe unionFind(edges)
    unionFind(full) shouldBe unionFind(edges)
    // Unflushed, the one partition is a star forest: one edge per
    // non-minimum node. Flushing leaves more edges than that.
    full should have size (unionFind(edges).count { case (x, c) => x != c }).toLong
    tiny.size should be > full.size
  }

  test("connectedComponents: a one-partition 4-chain runs fewer Spark jobs than distinct + star rounds") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b").coalesce(1)
    val jobs = jobsOf {
      Dedup.connectedComponents(pairs, "id_a", "id_b").collect()
      ()
    }
    // A global distinct before the star rounds ran 23 jobs here (the
    // distinct, its checkpoint, star tests and star rounds, the
    // readout). Local contraction leaves 5: the checkpoint, one star
    // test (2) and the readout's distinct (2).
    jobs should be <= 5
  }

  test("dropNearDuplicates components policy keeps exactly one doc per cluster") {
    val s = spark
    import s.implicits._
    // a≈b≈c form one near-dup cluster under LSH even if a-c alone
    // might not pair; greedy could keep both endpoints of a chain,
    // components keeps only the minimum.
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " tailA"),
      (3L, base + " tailA tailB"),
      (9L, "completely different content that stands alone")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text",
        threshold = 0.7, policy = "components")
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 9L)
    an[IllegalArgumentException] should be thrownBy
      Dedup.dropNearDuplicates(docs, "doc_id", "text", policy = "nope")
  }

  test("connectedComponents under a reliable checkpoint dir yields identical components") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L)).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val sc = s.sparkContext
    try {
      // With a checkpoint dir set, auto-detection switches the rounds
      // to reliable Dataset.checkpoint — same components either way.
      sc.setCheckpointDir(dir)
      val reliable = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      reliable shouldBe local
    } finally {
      // No public unset API: clear the private conf so later suites
      // keep exercising the localCheckpoint path.
      val f = sc.getClass.getDeclaredMethod("checkpointDir_$eq", classOf[Option[String]])
      f.invoke(sc, None)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("connectedComponents works on string ids (native ordering, no numeric cast)") {
    val s = spark
    import s.implicits._
    val pairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x", "y")).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(String, String)].collect().toMap
    got shouldBe Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "x" -> "x", "y" -> "x")
  }

  test("componentIds labels every doc; unpaired docs are their own singleton component") {
    val s = spark
    import s.implicits._
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.componentIds(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L)
  }

  test("connectedComponents fails fast instead of mislabeling when maxRounds is too low") {
    val s = spark
    import s.implicits._
    // A 4-chain needs more than one star round; a silent exit would
    // label node 4 with component 2. One edge per partition, so local
    // contraction cannot shorten the chain before the rounds.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val pairs = s.sparkContext.parallelize(edges, numSlices = edges.size).toDF("id_a", "id_b")
    an[IllegalStateException] should be thrownBy
      Dedup.connectedComponents(pairs, "id_a", "id_b", maxRounds = 1)
  }

  test("componentIds rejects an input that already carries the component column") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, 10L)).toDF("doc_id", "component")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    an[IllegalArgumentException] should be thrownBy
      Dedup.componentIds(docs, "doc_id", pairs)
  }

  test("connectedComponents detects an already-star input with zero rounds") {
    val s = spark
    import s.implicits._
    // Two per-component stars centered at their minima — the exact
    // fixpoint shape. The star convergence test must accept it BEFORE
    // any star round runs, so even maxRounds = 0 succeeds (the old
    // no-change fingerprint detection needed one round to observe a
    // fixpoint and would have thrown here).
    val pairs = Seq((5L, 1L), (3L, 1L), (9L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b", maxRounds = 0)
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 7L)
  }

  test("connectedComponents of an empty pair set is empty") {
    val s = spark
    import s.implicits._
    Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      "id_a", "id_b").count() shouldBe 0L
  }

  test("nearDupPairsAgainst pairs strictly across sides and verifies Jaccard") {
    val s = spark
    import s.implicits._
    val existing = docs((1L, base), (2L, "completely different words about other topics entirely here today"))
    // Incoming: a light perturbation of doc 1, an exact copy of it,
    // and a fresh doc. The two incoming near-dups of doc 1 must NOT
    // pair with each other (that is within-batch dedup's job).
    val incoming = Seq(
      (101L, base + " extra"),
      (102L, base),
      (103L, "fresh unseen content nothing shared with anything at all"))
      .toDF("inc_id", "text")
    val pairs = Dedup.nearDupPairsAgainst(
        incoming, "inc_id", "text", existing, "doc_id", "text", threshold = 0.8)
      .collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((101L, 1L), (102L, 1L))
    pairs.find(_.getLong(0) == 102L).get.getAs[Double]("jaccard") shouldBe 1.0
  }

  test("bipartite occupancy cap counts the COMBINED cluster; audit splits the sides") {
    val s = spark
    import s.implicits._
    val existing = docs((1L to 30L).map(i => (i, base)): _*)
    val incoming = (101L to 125L).map(i => (i, base)).toDF("inc_id", "text")
    val incB = Dedup.bandBuckets(incoming, "inc_id", "text")
    val exB = Dedup.bandBuckets(existing, "doc_id", "text")
    // Neither side alone exceeds 40; combined 55 does — a one-sided
    // count would silently let the 25×30 bipartite join through.
    val audit = Dedup.cappedBucketsAgainstFromBuckets(incB, exB, maxBucketOccupancy = 40)
      .collect()
    audit.length shouldBe 32 // one hot bucket per band
    all(audit.map(_.getAs[Long]("occupancy"))) shouldBe 55L
    all(audit.map(_.getAs[Long]("incoming_occupancy"))) shouldBe 25L
    all(audit.map(_.getAs[Long]("existing_occupancy"))) shouldBe 30L
    Dedup.candidatePairsAgainstFromBuckets(incB, exB, maxBucketOccupancy = 40)
      .count() shouldBe 0L
    Dedup.candidatePairsAgainstFromBuckets(incB, exB, maxBucketOccupancy = 0)
      .count() shouldBe 25L * 30L
  }

  test("dropNearDuplicatesAgainst keeps exactly the novel incoming documents") {
    val s = spark
    import s.implicits._
    val existing = docs((1L, base))
    val incoming = Seq(
      (101L, base + " tail"),
      (102L, "genuinely novel text with no overlap whatsoever to be found"))
      .toDF("inc_id", "text")
    val kept = Dedup.dropNearDuplicatesAgainst(
      incoming, "inc_id", "text", existing, "doc_id", "text", threshold = 0.8)
    kept.select("inc_id").collect().map(_.getLong(0)).toSeq shouldBe Seq(102L)
    kept.columns.toSeq shouldBe incoming.columns.toSeq
  }

  test("containmentPairs finds a truncated prefix (containment 1.0, low Jaccard)") {
    val words = (1 to 50).map(i => s"w$i")
    val full = words.mkString(" ")
    val prefix = words.take(20).mkString(" ") // Jaccard = 18/48 = 0.375
    val corpus = docs((1L, full), (2L, prefix),
      (3L, "completely unrelated content about something else entirely here"))
    val out = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.toSeq shouldBe Seq((2L, 1L, 1.0))
    // Sanity: Jaccard LSH at the same threshold cannot see this pair.
    Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.8).count() shouldBe 0L
  }

  test("containment frequency cap drops ubiquitous grams from score AND denominator") {
    // 10 docs share boilerplate "b1..b5"; docs 1-2 additionally share
    // unique content. With the cap at 5 the boilerplate grams (df=10)
    // leave the index, so containment measures the unique grams only.
    val boiler = (1 to 5).map(i => s"b$i").mkString(" ")
    val unique = (1 to 10).map(i => s"u$i").mkString(" ")
    val corpus = docs(
      Seq((1L, s"$unique $boiler"), (2L, s"$unique $boiler")) ++
        (3L to 10L).map(i => (i, s"doc$i content $boiler")): _*)
    val capped = Dedup.containmentPairs(corpus, "doc_id", "text",
      threshold = 0.9, maxDocFrequency = 5)
    // docs 1,2 are identical on their kept grams → both directions 1.0
    capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet shouldBe Set((1L, 2L, 1.0), (2L, 1L, 1.0))
    val audit = Dedup.cappedShingleGrams(corpus, "doc_id", "text", maxDocFrequency = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // The 3 pure-boilerplate grams appear in all 10 docs; the
    // "content b1 b2" bridge of docs 3-10 has df 8 — also above the
    // cap. Docs 1-2's own bridges (df 2) stay.
    audit.toSet shouldBe Set((8L, 1L), (10L, 3L))
    // An uncapped run sees everything: audit empty.
    Dedup.cappedShingleGrams(corpus, "doc_id", "text", maxDocFrequency = 100)
      .count() shouldBe 0L
  }

  test("shinglePostings precompute is shared by pairs and audit") {
    val corpus = docs((1L, (1 to 30).map(i => s"x$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"x$i").mkString(" ")))
    val postings = Dedup.shinglePostings(corpus, "doc_id", "text").persist()
    try {
      val pairs = Dedup.containmentPairs(corpus, "doc_id", "text",
        precomputedPostings = Some(postings)).collect()
      pairs.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((1L, 2L), (2L, 1L))
      Dedup.cappedShingleGrams(corpus, "doc_id", "text",
        precomputedPostings = Some(postings)).count() shouldBe 0L
    } finally { postings.unpersist(); () }
  }

  test("LshPlan.forThreshold picks a divisor split whose inflection sits at the target") {
    val p = Dedup.LshPlan.forThreshold(numHashes = 128, threshold = 0.8)
    p.bands * p.rowsPerBand shouldBe 128
    p.inflection shouldBe 0.8 +- 0.1
    // The S-curve actually separates: monotone through the threshold,
    // with a real gap across ±0.1 (near the inflection the curve is at
    // its steepest, not yet saturated).
    p.pAbove should be > p.pAtThreshold
    p.pAtThreshold should be > p.pBelow
    p.pAbove should be > p.pBelow + 0.3
    // Known anchor: (b=32, r=4) inflection (1/32)^(1/4) ≈ 0.42 — the
    // default candidatePairs banding targets recall-heavy ~0.4.
    val loose = Dedup.LshPlan.forThreshold(128, 0.42)
    (loose.bands, loose.rowsPerBand) shouldBe ((32, 4))
    // Probability formula sanity: s=1 → always candidate; s→0 → never.
    Dedup.LshPlan.candidateProbability(1.0, 32, 4) shouldBe 1.0
    Dedup.LshPlan.candidateProbability(0.0, 32, 4) shouldBe 0.0
  }

  test("clusterSizeHistogram profiles the pair graph; singletons absent") {
    val s = spark
    import s.implicits._
    // Components: {1,2,3} (size 3), {4,5} and {6,7} (two of size 2).
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.clusterSizeHistogram(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(3L -> 1L, 2L -> 2L)
  }

  test("dropNearDuplicatesKeepBest keeps the argmax-(score, id) member per cluster") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base, 10L),            // cluster {1,2,3}: 3 has the top score
      (2L, base, 20L),
      (3L, base, 30L),
      (4L, "one two three four five six seven eight", 5L),  // cluster {4,5}: tie
      (5L, "one two three four five six seven eight", 5L),  //   → higher id (5) wins
      (6L, "completely unrelated content nothing shared here at all", 1L) // singleton
    ).toDF("doc_id", "text", "score")
    val kept = Dedup.dropNearDuplicatesKeepBest(docs, "doc_id", "text", "score",
        threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    kept.toSeq shouldBe Seq(3L, 5L, 6L)
    // Schema passes through: the caller's columns, nothing internal.
    Dedup.dropNearDuplicatesKeepBest(docs, "doc_id", "text", "score")
      .columns.toSeq shouldBe docs.columns.toSeq
  }

  test("AdvisedBands resolves the banding from the threshold via LshPlan") {
    val s = spark
    import s.implicits._
    // Near-identical docs (Jaccard well above the inflection) so the
    // advisor's lower-recall banding still pairs them — the test pins
    // the WIRING (sentinel → forThreshold → bandBuckets), not recall.
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o p"),
      (3L, "q r s t u v w x y z zz yy xx ww vv uu")).toDF("doc_id", "text")
    val advised = Dedup.LshPlan.forThreshold(128, 0.8)
    val viaSentinel = Dedup.nearDupPairs(docs, "doc_id", "text",
        threshold = 0.8, bands = Dedup.AdvisedBands)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaExplicit = Dedup.nearDupPairs(docs, "doc_id", "text",
        threshold = 0.8, bands = advised.bands)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    viaSentinel shouldBe Set((1L, 2L))
    viaSentinel shouldBe viaExplicit
    // The advisor picked a DIFFERENT split than the recall-first
    // default — the sentinel is a real parameter change, not a no-op.
    advised.bands should not be 32
  }

  // ---- exact substring-level dedup (sharedSpans / spanRemovalIntervals)

  private def spanDf(docs: (Long, String)*) = {
    val s = spark
    import s.implicits._
    docs.toDF("doc_id", "text")
  }

  test("sharedSpans finds a maximal span at document start and end, exactly once") {
    // doc 1 ends with the 4 tokens doc 2 starts with: one maximal
    // span of exactly minSpan, anchored at a=start? no — a's END,
    // b's START: boundary offsets on both sides.
    val df = spanDf(
      (1L, "x1 x2 x3 a b c d"),
      (2L, "a b c d y1 y2 y3"))
    val out = graft.dedup.Dedup.sharedSpans(df, "doc_id", "text", minSpan = 4).collect()
    out.length shouldBe 1
    val r = out.head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) shouldBe
      ((1L, 2L, 3L, 0L, 4L))
  }

  test("sharedSpans merges consecutive anchors into ONE maximal span, not per-gram rows") {
    // a 7-token shared run with minSpan=4 has 4 aligned 4-grams —
    // they must collapse to one row of span_len 7.
    val shared = "s1 s2 s3 s4 s5 s6 s7"
    val df = spanDf(
      (1L, s"p q $shared r"),
      (2L, s"$shared z1 z2"))
    val out = graft.dedup.Dedup.sharedSpans(df, "doc_id", "text", minSpan = 4).collect()
    out.length shouldBe 1
    out.head.getLong(4) shouldBe 7L
    (out.head.getLong(2), out.head.getLong(3)) shouldBe ((2L, 0L))
  }

  test("sharedSpans: a gram repeated WITHIN one document yields one span per alignment") {
    // doc 1 contains the span twice (two diagonals vs doc 2's single
    // occurrence) → two rows, both maximal.
    val df = spanDf(
      (1L, "a b c d z1 z2 a b c d"),
      (2L, "q a b c d w"))
    val out = graft.dedup.Dedup.sharedSpans(df, "doc_id", "text", minSpan = 4)
      .orderBy("start_a").collect()
    out.length shouldBe 2
    (out(0).getLong(2), out(0).getLong(3), out(0).getLong(4)) shouldBe ((0L, 1L, 4L))
    (out(1).getLong(2), out(1).getLong(3), out(1).getLong(4)) shouldBe ((6L, 1L, 4L))
  }

  test("sharedSpans emits nothing for documents shorter than minSpan or within-doc-only repeats") {
    val df = spanDf(
      (1L, "a b c"), // shorter than minSpan
      (2L, "d e f g d e f g"), // repeats only within itself
      (3L, "h i j k l m"))
    graft.dedup.Dedup.sharedSpans(df, "doc_id", "text", minSpan = 4).count() shouldBe 0L
  }

  test("spanRemovalIntervals merges overlapping b-side spans per document (keep-earliest)") {
    // doc 3 shares tokens 0..5 with doc 1 and 3..8 with doc 2 —
    // overlapping removal intervals that must merge to one [0, 9).
    val df = spanDf(
      (1L, "a b c d e f"),
      (2L, "d e f g h i"),
      (3L, "a b c d e f g h i"))
    val spans = graft.dedup.Dedup.sharedSpans(df, "doc_id", "text", minSpan = 4)
    val iv = graft.dedup.Dedup.spanRemovalIntervals(spans).collect()
    // doc 2 also shares "d e f" prefix... only >= 4 tokens count:
    // doc2 vs doc1 share "d e f" (3) — below minSpan, absent.
    iv.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet shouldBe
      Set((3L, 0L, 9L))
  }

  test("cappedSpanGrams audits exactly what an occupancy cap drops") {
    val boiler = "t1 t2 t3 t4"
    val df = spanDf(
      (1L, s"$boiler u1"), (2L, s"$boiler u2"), (3L, s"$boiler u3"),
      (4L, "v1 v2 v3 v4 v5"), (5L, "v1 v2 v3 v4 w"))
    // cap 2: the 3-doc boilerplate gram is pruned from the join...
    val capped = graft.dedup.Dedup.sharedSpans(df, "doc_id", "text",
      minSpan = 4, maxGramOccupancy = 2)
    capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((4L, 5L))
    // ...and the audit names it with its corpus-wide count.
    val audit = graft.dedup.Dedup.cappedSpanGrams(df, "doc_id", "text",
      minSpan = 4, maxGramOccupancy = 2).collect()
    audit.length shouldBe 1
    audit.head.getString(0) shouldBe boiler
    audit.head.getLong(1) shouldBe 3L
    // uncapped finds all three boilerplate pairs
    graft.dedup.Dedup.sharedSpans(df, "doc_id", "text", minSpan = 4)
      .count() shouldBe 4L // (1,2) (1,3) (2,3) + (4,5)
  }
}
