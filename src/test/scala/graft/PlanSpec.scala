package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.dedup.Dedup
import graft.profiler.ProfilePasses
import graft.similarity.Similarity

/** Physical-plan audits: the scale properties this engine claims are
  * asserted against the actual Catalyst output, not just documented.
  * Each test pins a property that, if regressed, becomes a 100×-scale
  * bottleneck long before it shows up in small-data timings.
  */
class PlanSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private lazy val lineitem =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("frequent values: no Window operator (max-struct agg instead)") {
    val plan = physical(ProfilePasses.frequentValues(lineitem,
      Seq("l_returnflag", "l_linestatus", "l_suppkey"), 1000L))
    plan should not include "Window"
    plan should include("HashAggregate")
  }

  test("fused null-count agg plans as codegen-capable HashAggregate") {
    // (AQE prints the pre-execution plan without WholeStageCodegen
    // spans; HashAggregate vs ObjectHashAggregate is the codegen
    // boundary that matters.)
    val plan = physical(ProfilePasses.nullCounts(lineitem, lineitem.columns.toSeq))
    plan should include("HashAggregate")
    plan should not include "ObjectHashAggregate"
  }

  test("percentiles are quarantined: only their own pass uses ObjectHashAggregate") {
    val pct = physical(ProfilePasses.percentiles(lineitem, Seq("l_quantity")))
    // expected: the percentile_approx sketch is a TypedImperativeAggregate
    pct should include("ObjectHashAggregate")
    // ...but the numeric base stats stay codegen'd.
    val base = physical(lineitem.agg(
      min("l_quantity"), max("l_quantity"), avg("l_quantity"),
      sum("l_quantity"), stddev_samp("l_quantity")))
    base should not include "ObjectHashAggregate"
  }

  test("correlation pass: one codegen'd agg, no window, pruned scan") {
    val df = ProfilePasses.correlations(lineitem,
      Seq("l_quantity", "l_extendedprice", "l_discount"))
    val plan = physical(df)
    // corr is a DeclarativeAggregate: the fused pass must stay on the
    // codegen'd HashAggregate path (unlike the percentile sketches).
    plan should include("HashAggregate")
    plan should not include "ObjectHashAggregate"
    plan should not include "Window"
    // The melt is map-side off the single agg row — exactly one
    // aggregate pair (partial + final), no second scan.
    plan.linesIterator.count(_.trim.startsWith("+- Scan parquet")) should be <= 1
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    readSchema should not include "l_orderkey"
  }

  test("PQ search: corpus streams map-side into a broadcast join; no corpus shuffle before scoring") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val plan = physical(Similarity.pqTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", dim = 64, k = 3, numSubspaces = 4,
      codebookSize = 4, kmeansIterations = 1,
      centroidInitOrder = Some(Seq(col("vec_id")))))
    // Queries (with their ADC tables) are the broadcast side.
    plan should include("BroadcastNestedLoopJoin")
    // The corpus side reaches the join through projections only: the
    // only exchanges in the whole plan are the input spread
    // (RoundRobin — a no-op at scale) and topK's two candidate
    // aggregations (hashpartitioning).
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    exchanges.count(_.contains("hashpartitioning")) should be <= 2
    plan should not include "SortMergeJoin"
  }

  test("IVF-PQ search: cell equi-join broadcasts the probed queries") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val plan = physical(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", dim = 64, k = 3, nCells = 4, nProbe = 2,
      numSubspaces = 4, codebookSize = 4, kmeansIterations = 1,
      centroidInitOrder = Some(Seq(col("vec_id")))))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("column pruning reaches the parquet scan") {
    val narrow = lineitem.select("l_quantity", "l_discount")
      .agg(sum("l_quantity"), avg("l_discount"))
    val scan = physical(narrow)
    // ReadSchema carries only the two referenced columns.
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    readSchema should include("l_quantity")
    readSchema should include("l_discount")
    readSchema should not include "l_orderkey"
    readSchema should not include "l_shipdate"
  }

  test("filter pushdown reaches the parquet scan") {
    val filtered = lineitem.filter(col("l_quantity") > 30).agg(count(lit(1)))
    val scan = physical(filtered)
    scan should include("PushedFilters")
    scan.linesIterator.find(_.contains("PushedFilters")).getOrElse("") should
      include("l_quantity")
  }

  test("duplicate digest path groups by a fixed-width hash pair, not every column") {
    val digestPlan = ProfilePasses.duplicateGroupCount(lineitem, projectToHash = true)
      .queryExecution.optimizedPlan.toString
    digestPlan should include("xxhash64")
    // No row-to-string serialization in the digest.
    digestPlan should not include "to_json"
    // Exact mode keys by every column (oracle semantics).
    val fullPlan = ProfilePasses.duplicateGroupCount(lineitem, projectToHash = false)
      .queryExecution.optimizedPlan.toString
    fullPlan should not include "xxhash64"
  }

  test("LSH candidate join is equi-keyed, never a cartesian product") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l"), (3L, "a b c d e g"))
      .toDF("doc_id", "text")
    val plan = physical(Dedup.candidatePairs(docs, "doc_id", "text", numHashes = 16, bands = 4))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("near-dup verification semi-joins candidates before shuffling shingle arrays") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l"), (3L, "a b c d e g"))
      .toDF("doc_id", "text")
    val plan = physical(Dedup.nearDupPairs(docs, "doc_id", "text", numHashes = 16, bands = 4))
    // The candidate-id prune keeps non-candidate documents' shingle
    // arrays out of the verification join shuffles.
    plan should include("LeftSemi")
  }

  test("minhash signatures are map-side: no exchange, no aggregate in the plan") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l"))
      .toDF("doc_id", "text")
    val plan = physical(Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 16))
    plan should not include "Exchange"
    plan should not include "Aggregate"
    plan should not include "Generate"
  }

  test("minhash signatures are computed once, after the spread of a one-split input") {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.functions.{MinHashSignature, OnePermSignature}
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("minhash-spread").toString
    ((1 to 50).map(i => (i.toLong, s"doc number $i of the corpus")) :+ ((51L, null: String)))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    for (mode <- Seq("k-hash", "oph")) withClue(s"$mode: ") {
      val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 16, signatureMode = mode)
      val spreads = sigs.queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
      }
      spreads should not be empty
      spreads.foreach { e =>
        e.child.exists(_.expressions.exists(_.exists {
          case _: MinHashSignature | _: OnePermSignature => true
          case _ => false
        })) shouldBe false
      }
      // The null-text document has no signature; every other one has.
      sigs.count() shouldBe 50
    }
  }

  test("simhash sketching is map-side: no exchange, no aggregate in the plan") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l"))
      .toDF("doc_id", "text")
    // One SimHashSketch eval per document — the explode+agg form this
    // replaced shuffled a partial sketch per doc.
    val plan = physical(Dedup.simhashSketches(docs, "doc_id", "text"))
    plan should not include "Exchange"
    plan should not include "Aggregate"
    plan should not include "Generate"
  }

  test("capped LSH paths shuffle the bucketed corpus once: every consumer reuses one exchange") {
    val s = spark
    import s.implicits._
    // With AQE off, ReuseExchangeAndSubquery runs at physical planning
    // and the reuse is visible in the printed plan (under AQE the same
    // dedup happens at runtime via shuffle-stage reuse).
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // Force the corpus self-join to its at-scale sort-merge shape; the
    // hot-key prune must STILL be a broadcast anti join (explicit hint).
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "g h i j k l"))
        .toDF("doc_id", "text")
      val dplan = physical(Dedup.candidatePairs(docs, "doc_id", "text",
        numHashes = 16, bands = 4, maxBucketOccupancy = 10))
      val dex = dplan.linesIterator.filter(_.contains("hashpartitioning(band")).toSeq
      withClue(dplan) {
        // One real shuffle of the corpus's banded keys (the self-join's
        // second side reuses it) plus one tiny partial-aggregated
        // exchange in the hot-key branch; the prune itself is a
        // broadcast anti join, never a count-over-window (which would
        // buffer the flooded bucket on one task).
        dex.count(!_.contains("ReusedExchange")) shouldBe 2
        dex.count(_.contains("ReusedExchange")) should be >= 1
        dplan should include("LeftAnti")
        dplan should include("BroadcastHashJoin")
        dplan should not include "Window"
      }
      val vecs = (0 until 8).map(i => (i.toLong, Seq.fill(4)(i.toDouble + 1)))
        .toDF("vec_id", "embedding")
      val splan = physical(Similarity.nearDupByEmbedding(vecs, "vec_id", "embedding",
        dim = 4, maxBucketOccupancy = 10))
      val sex = splan.linesIterator.filter(_.contains("hashpartitioning(bucket")).toSeq
      withClue(splan) {
        sex.count(!_.contains("ReusedExchange")) shouldBe 2
        sex.count(_.contains("ReusedExchange")) should be >= 1
        splan should include("LeftAnti")
        splan should not include "Window"
      }
      // The SimHash block-key join — the third member of the capped
      // family — keeps the same shape.
      val hplan = physical(Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        maxBucketOccupancy = 10))
      val hex = hplan.linesIterator.filter(_.contains("hashpartitioning(tbl")).toSeq
      withClue(hplan) {
        hex.count(!_.contains("ReusedExchange")) shouldBe 2
        hex.count(_.contains("ReusedExchange")) should be >= 1
        hplan should include("LeftAnti")
        hplan should not include "Window"
      }
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prev)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("bipartite candidate join shuffles the unioned banded keys once") {
    val s = spark
    import s.implicits._
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ex = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
      val inc = Seq((9L, "a b c d e f")).toDF("inc_id", "text")
      val plan = physical(Dedup.candidatePairsAgainstFromBuckets(
        Dedup.bandBuckets(inc, "inc_id", "text", numHashes = 16, bands = 4),
        Dedup.bandBuckets(ex, "doc_id", "text", numHashes = 16, bands = 4),
        maxBucketOccupancy = 10))
      val lines = plan.linesIterator.filter(_.contains("hashpartitioning(band")).toSeq
      withClue(plan) {
        // Catalyst pushes the side filters into the union, so each join
        // side shuffles exactly its own banded keys (combined volume =
        // one union shuffle) and the hot-key agg adds a tiny third
        // exchange; the hot-key BROADCAST is built once and reused by
        // both sides' anti joins. No window, no cartesian.
        lines.count(!_.contains("ReusedExchange")) shouldBe 3
        plan should include("ReusedExchange")
        plan should include("LeftAnti")
        plan should not include "Window"
        plan should not include "CartesianProduct"
      }
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prev)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("composed pipeline: audit and candidate join both read the ONE persisted banded scan") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "g h i j k l"))
      .toDF("doc_id", "text")
    val buckets = Dedup.bandBuckets(docs, "doc_id", "text", numHashes = 16, bands = 4).persist()
    try {
      buckets.count() // populate the cache as the pipeline's first action would
      val pairs = Dedup.candidatePairsFromBuckets(buckets)
      val audit = Dedup.cappedBucketsFromBuckets(buckets).agg(count(lit(1)).as("n_hot_buckets"))
      val plan = physical(pairs.crossJoin(audit))
      withClue(plan) {
        // Every leaf under the join AND the audit is the cache — the
        // map-side minhash+banding scan cannot run a second time. (The
        // InMemoryRelation's stored build plan prints the original
        // LocalTableScan once inside the cache node; what must NOT
        // appear is a live ShingleHashes/minhash projection.)
        plan should include("InMemoryTableScan")
        plan.toLowerCase should not include "shingle"
      }
    } finally { buckets.unpersist(blocking = false); () }
  }

  test("embedding near-dup pairing is bucket-equi-keyed, never a cartesian product") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 8).map(i => (i.toLong, Seq.fill(4)(i.toDouble + 1)))
      .toDF("vec_id", "embedding")
    val plan = physical(Similarity.nearDupByEmbedding(vecs, "vec_id", "embedding", dim = 4))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("bipartite embedding join shuffles the unioned sign buckets once") {
    val s = spark
    import s.implicits._
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ex = (0 until 8).map(i => (i.toLong, Seq.fill(4)(i.toDouble + 1)))
        .toDF("vec_id", "embedding")
      val inc = Seq((99L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("vec_id", "embedding")
      val plan = physical(Similarity.nearDupByEmbeddingAgainstFromBuckets(
        Similarity.signBuckets(inc, "vec_id", "embedding", dim = 4),
        Similarity.signBuckets(ex, "vec_id", "embedding", dim = 4),
        maxBucketOccupancy = 10))
      val lines = plan.linesIterator.filter(_.contains("hashpartitioning(bucket")).toSeq
      withClue(plan) {
        // Same shape as the bipartite banded join: side filters push
        // into the union (each side shuffles its own rows), hot-bucket
        // agg is the tiny third exchange, broadcast reused.
        lines.count(!_.contains("ReusedExchange")) shouldBe 3
        plan should include("ReusedExchange")
        plan should include("LeftAnti")
        plan should not include "Window"
        plan should not include "CartesianProduct"
      }
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prev)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("semantic near-dup pairing is cell-equi-keyed and reuses one exchange") {
    val s = spark
    import s.implicits._
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val vecs = (0 until 8).map(i => (i.toLong, Seq.fill(4)(i.toDouble + 1)))
        .toDF("vec_id", "embedding")
      // The centroid pass runs as driver-side setup (k×dim scalars);
      // the PAIRING plan under test is the capped within-cell join.
      val plan = physical(Similarity.semanticNearDupPairs(vecs, "vec_id", "embedding",
        nCells = 2, kmeansIterations = 1, maxCellOccupancy = 10))
      val lines = plan.linesIterator.filter(_.contains("hashpartitioning(bucket")).toSeq
      withClue(plan) {
        plan should not include "CartesianProduct"
        plan should not include "BroadcastNestedLoopJoin"
        // One real shuffle of the cell assignments (the join's second
        // side reuses it) plus the hot-cell branch's tiny partial-agg
        // exchange; the prune is a broadcast anti join, never a window.
        lines.count(!_.contains("ReusedExchange")) shouldBe 2
        lines.count(_.contains("ReusedExchange")) should be >= 1
        plan should include("LeftAnti")
        plan should not include "Window"
      }
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prev)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("two-phase top-k has no Window and no global sort of candidates") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 8).map(i => (i.toLong, Seq.fill(4)(i.toDouble + 1)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
    val plan = physical(Similarity.bruteForceTopK(
      vecs, "vec_id", "embedding", q, "vec_id", "embedding", k = 2))
    plan should not include "Window"
    // Both top-k phases are hash aggregates; sorting happens only
    // inside bounded arrays (array_sort), never as a plan-level Sort
    // of the full candidate set.
    plan should include("HashAggregate")
  }

  test("star join broadcasts the small dimension") {
    val nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val joined = customer.join(nation,
      customer("c_nationkey") === nation("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n"))
    physical(joined) should include("BroadcastHashJoin")
  }

  test("decontamination broadcasts the benchmark; corpus text is never sort-merge joined") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p q r s t"))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "c d e f g h i j")).toDF("q_id", "q_text")
    val plan = physical(graft.dedup.Decontaminate.contaminationReport(
      corpus, "doc_id", "text", bench, "q_id", "q_text", gramSize = 4))
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  test("lmScore broadcasts the vocabulary and total; corpus text is never sort-merge joined") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "abcdefgh"), (2L, "abcdxyzw")).toDF("doc_id", "text")
    val plan = physical(graft.text.TextAnalysis.lmScore(corpus, "text", "doc_id",
      vocabSize = 8))
    withClue(plan) {
      // The gram lookup and the 1-row total both ride broadcasts; the
      // only sort-merge allowed is the final per-doc id join of two
      // already-aggregated sides — corpus TEXT never shuffles.
      plan should include("BroadcastHashJoin")
      plan should not include "CartesianProduct"
      plan.linesIterator.filter(_.contains("SortMergeJoin")).foreach { l =>
        l should include("doc_id")
      }
      plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).foreach { l =>
        l should not include "text"
      }
    }
  }

  test("chunking is pure map-side: the one Generate, no exchange, no aggregate") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, (1 to 50).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val plan = physical(graft.text.TextAnalysis.chunk(df, "text", "doc_id",
      maxTokens = 8, overlap = 2))
    plan should not include "Exchange"
    plan should not include "Aggregate"
    // Exactly the posexplode of the chunk array — the operator's output.
    plan.linesIterator.count(_.contains("Generate")) shouldBe 1
  }

  test("packBins shuffles once, on the shard key, and sorts per-shard only") {
    val s = spark
    import s.implicits._
    val df = (1L to 100L).map(i => (i, i % 30 + 1)).toDF("id", "n_tok")
    val plan = physical(graft.sampling.Sampling.packBins(df, "id", "n_tok",
      tokenBudget = 100L, numShards = 8))
    plan.linesIterator.count(_.contains("Exchange")) shouldBe 1
    plan should include("hashpartitioning(shard")
    // The sort under the window is per-partition, not global.
    plan should not include "rangepartitioning"
  }

  test("repetition stats are one map-side projection: no exchange, no aggregate, no explode") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b\na b")).toDF("doc_id", "text")
    val plan = physical(graft.text.TextAnalysis.repetitionStats(df, "text", "doc_id"))
    plan should not include "Exchange"
    plan should not include "Aggregate"
    plan should not include "Generate"
  }

  test("nested stats aggregate in one pass without explode") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "arr")
    val plan = physical(ProfilePasses.nestedStats(df, Seq("arr")))
    plan should not include "Generate" // explode would multiply rows
  }

  test("spread triggers on a one-split parquet scan without physically planning the probe") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spread").toString
    (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir)
    val out = graft.util.Partitioning.spread(one.select("id", "text"))
    // Estimated from the file index (tiny file → 1 split < local[2]):
    // the plan gains a round-robin repartition up to default parallelism.
    physical(out) should include("RoundRobinPartitioning(2")
    out.rdd.getNumPartitions shouldBe 2
  }

  test("spread passes through non-file and already-shuffled plans") {
    val s = spark
    import s.implicits._
    val local = (1 to 10).map(i => (i.toLong, s"d$i")).toDF("id", "text")
    // In-memory fixture: LocalTableScan already parallelizes to the
    // session default; spread must not inject a shuffle.
    graft.util.Partitioning.spread(local) should be theSameInstanceAs local
    val agged = lineitem.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    graft.util.Partitioning.spread(agged) should be theSameInstanceAs agged
  }

  test("co-bucketed tables join without an exchange on either side") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("bucketed").toString
    val orders = (1L to 200L).map(k => (k, s"clerk${k % 7}")).toDF("o_orderkey", "o_clerk")
    val items = (1L to 200L).flatMap(k => Seq((k, k * 2.0), (k, k * 3.0)))
      .toDF("l_orderkey", "l_price")
    graft.sources.Bucketing.write(orders, s"$base/o", "bkt_orders",
      Seq("o_orderkey"), buckets = 4, sortCols = Seq("o_orderkey"))
    graft.sources.Bucketing.write(items, s"$base/l", "bkt_items",
      Seq("l_orderkey"), buckets = 4, sortCols = Seq("l_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a non-broadcast join
      val joined = graft.sources.Bucketing.table(spark, "bkt_orders")
        .join(graft.sources.Bucketing.table(spark, "bkt_items"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_clerk").agg(sum("l_price").as("rev"))
      joined.collect().length shouldBe 7
      // The join itself is exchange-free: everything BELOW the
      // SortMergeJoin node (its two bucketed scans — the text after it
      // in the tree print) has no Exchange; the only shuffle in the
      // plan is the one the groupBy on a DIFFERENT key must add above.
      val plan = physical(joined)
      plan should include("SortMergeJoin")
      plan.split("SortMergeJoin").last should not include "Exchange"
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("spreadIfLarge leaves sub-threshold files alone but spreads them when the gate is 0") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spreadgate").toString
    (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val one = spark.read.parquet(dir)
    // A few-KB file is far below the derived gate (256 KB × session
    // parallelism): the exchange's fixed cost would exceed any
    // parallelism win, so no repartition.
    graft.util.Partitioning.derivedSpreadMinBytes(spark) shouldBe
      spark.sparkContext.defaultParallelism.toLong * (256L << 10)
    graft.util.Partitioning.spreadIfLarge(one) should be theSameInstanceAs one
    // Gate dropped to zero → the ungated spread.
    physical(graft.util.Partitioning.spread(one))
      .should(include("RoundRobinPartitioning(2"))
  }

  test("broadcast range join plans as BNLJ, never a cartesian shuffle") {
    val s = spark
    import s.implicits._
    val ranges = Seq(("a", 0.0, 10.0), ("b", 10.0, 20.0)).toDF("range_id", "lo", "hi")
    val points = lineitem.select(col("l_orderkey"), col("l_quantity"))
    val plan = physical(graft.join.RangeJoin.broadcastRangeJoin(
      points, "l_quantity", ranges, "lo", "hi"))
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "CartesianProduct"
  }

  test("binned range join is a hash equi-join on the bin — no nested loop, no cartesian") {
    val s = spark
    import s.implicits._
    val ranges = Seq(("a", 0.0, 10.0), ("b", 10.0, 20.0)).toDF("range_id", "lo", "hi")
    val points = lineitem.select(col("l_orderkey"), col("l_quantity"))
    val plan = physical(graft.join.RangeJoin.binnedRangeJoin(
      points, "l_quantity", ranges, "lo", "hi", binWidth = 5.0))
    plan should not include "CartesianProduct"
    plan should not include "NestedLoopJoin"
    (plan.contains("HashJoin") || plan.contains("SortMergeJoin")) shouldBe true
  }

  test("as-of join is a union-stack: one entity-keyed exchange, no physical join at all") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val left = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("ts"))
    val right = ev.filter(col("event_id") % 2 === 1)
    val plan = physical(graft.events.Events.asOfJoin(left, right,
      "user_id", "user_id", "ts", "ts",
      rightValueCols = Seq("value"), rightTiebreakCol = "event_id"))
    plan should not include "Join"
    plan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    plan should include("Window")
  }

  test("histogram and benford are single bounded-key aggregates with no window over the corpus") {
    val h = physical(ProfilePasses.histogram(lineitem, "l_quantity", 10, 0.0, 50.0))
    h.linesIterator.count(_.contains("Scan parquet")) shouldBe 1
    h should not include "Window"
    // benford's total is a 1-row agg cross-joined back; statically that
    // is a second consumer of the digit-count aggregate, so pin the
    // EXECUTED adaptive plan: the total branch must read the join
    // branch's shuffle via ReusedExchange, leaving exactly one live
    // corpus scan.
    val bdf = ProfilePasses.benfordDigits(lineitem, "l_extendedprice")
    bdf.collect()
    val b = bdf.queryExecution.executedPlan.toString
    val bFinal = b.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    bFinal.linesIterator.count(_.contains("Scan parquet")) shouldBe 1
    bFinal should include("ReusedExchange")
    bFinal should not include "Window"
    bFinal should include("HashAggregate")
  }

  test("hashedTfIdfVectors: the df aggregate reuses the posting exchange — one live corpus scan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.text.TextAnalysis.hashedTfIdfVectors(docs, "text", "doc_id", dim = 64)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    // two consumers of the (id, bucket) posting aggregate — df counts
    // and weighted assembly — must share ONE shuffle: a regression here
    // silently doubles a 100 TB corpus scan.
    finalPlan.linesIterator.count(_.contains("Scan parquet")) shouldBe 1
    finalPlan should include("ReusedExchange")
  }

  test("lmScore: model-build and scoring share one live corpus-gram exchange per consumer pair") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.text.TextAnalysis.lmScore(docs, "text", "doc_id", n = 3, vocabSize = 256)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    // lmScore legitimately scans text twice (model + scoring,
    // documented) plus a doc_id-only spine projection; within the
    // model side, the vocab top-k and the total must reuse the same
    // gram-count exchange rather than re-aggregate the corpus.
    finalPlan.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("text:string")) shouldBe 2
    finalPlan should include("ReusedExchange")
  }

  test("ll14 shape: cappedBlockKeysFromKeys + pair join share the block-key scan when persisted") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val keys = graft.dedup.Dedup.blockKeys(docs, "doc_id", "text").persist()
    try {
      keys.count()
      val audit = graft.dedup.Dedup.cappedBlockKeysFromKeys(keys, maxBucketOccupancy = 10)
      audit.collect()
      val plan = audit.queryExecution.executedPlan.toString
      // the audit over a persisted keys frame must read the cache, not
      // re-run the sketch scan: nothing above the InMemoryRelation
      // (whose description echoes the ORIGINAL cached plan, FileScan
      // included) may touch parquet.
      val live = plan.linesIterator.takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
      live should include("InMemoryTableScan")
      live should not include "Scan parquet"
    } finally { keys.unpersist(); () }
  }

  test("sharedSpans is one corpus scan and two shuffles — postings, then diagonal runs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.dedup.Dedup.sharedSpans(docs, "doc_id", "text", minSpan = 6)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    val finalPlan = plan.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
    withClue(finalPlan) {
      // pairs come from nested transforms over each posting list, NOT
      // a self-join: one tokenize/explode pass over the corpus, one
      // gram-keyed exchange, one (pair, diagonal) exchange for the
      // run merge (whose groupBy extends the window keys and rides
      // the same exchange). A regression here multiplies a 100 TB
      // tokenize scan.
      finalPlan.linesIterator.count(_.contains("Scan parquet")) shouldBe 1
      finalPlan.linesIterator.count(l =>
        l.trim.startsWith("+- Exchange") || l.trim.startsWith("Exchange")) should be <= 2
      finalPlan should not include "SortMergeJoin"
      finalPlan should not include "BroadcastHashJoin"
    }
  }

  test("mm11 shape: block keys and component join-back share the ONE persisted image-hash scan") {
    val s = spark
    import s.implicits._
    // tiny mixed corpus: the per-partition decode (mapPartitions) is
    // the expensive stage — it must run once into the cache, and
    // NOTHING live above the cache may re-run it.
    val lum = Array.tabulate(64 * 64)(i => (i * 7 + 3) % 256)
    val bins = Seq(
      (1L, graft.multimodal.PngWriter.gray8(64, 64, lum)),
      (2L, graft.multimodal.PngWriter.gray8(64, 64, lum)),
      (3L, graft.multimodal.PngWriter.gray8(64, 64, lum.map(v => (v + 101) % 256))))
      .toDF("doc_id", "bin")
    val hashes = graft.multimodal.Multimodal.imageHashes(bins, "doc_id", "bin").persist()
    try {
      hashes.count()
      val keys = graft.dedup.Dedup.blockKeysFromSketches(
        hashes, "id", "dhash", maxHamming = 4, blocks = 6)
      val pairs = graft.dedup.Dedup.simhashNearDupPairsFromKeys(
        keys, maxHamming = 4, maxBucketOccupancy = 0)
      val labeled = graft.dedup.Dedup.componentIds(
        hashes.select(col("id").as("doc_id")), "doc_id", pairs)
      labeled.collect()
      val plan = labeled.queryExecution.executedPlan.toString
      val live = plan.linesIterator.takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
      withClue(plan) {
        live should include("InMemoryTableScan")
        live should not include "MapPartitions" // the decode never re-runs
      }
    } finally { hashes.unpersist(blocking = false); () }
  }

  test("typeInference is one wide conditional aggregate — single scan, no shuffle-per-column") {
    val plan = physical(ProfilePasses.typeInference(
      lineitem.select(col("l_returnflag"), col("l_linestatus")),
      Seq("l_returnflag", "l_linestatus")))
    plan.linesIterator.count(_.contains("Scan parquet")) shouldBe 1
    plan.linesIterator.count(_.contains("Exchange")) should be <= 1
  }

  test("tfidf: df is a partial aggregate joined on term — no term-keyed window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = physical(graft.text.TextAnalysis.tfidfTerms(docs, "text", "doc_id", k = 3))
    // A stop-word term appears in ~every document; a window partitioned
    // by term would buffer O(n_docs) posting rows on one task. The only
    // window allowed here is the per-DOCUMENT top-k rank.
    val windowLines = plan.linesIterator.filter(_.contains(" Window [")).toSeq
    withClue(plan) {
      windowLines should have size 1
      windowLines.head should include("windowspecdefinition(doc_id")
    }
  }

  test("sourceMixReport: dup flag is a fp-keyed partial aggregate — no window, text stays map-side") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = physical(graft.text.TextAnalysis.sourceMixReport(docs, "text", "source"))
    withClue(plan) {
      plan should not include "Window"
      // The dup flag comes from the fp-keyed partial aggregate joined
      // back on fp — the hot-fingerprint case collapses map-side.
      plan should include("HashAggregate")
      plan.linesIterator.count(l => l.contains("SortMergeJoin") ||
        l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin")) shouldBe 1
    }
  }

  test("SCD2 apply plans exactly one join; closed history rows bypass it") {
    val s = spark
    import s.implicits._
    val snap0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val snap1 = Seq((1L, "a"), (3L, "c")).toDF("k", "v")
    val plan = physical(graft.compare.Scd2.applyChanges(
      graft.compare.Scd2.initial(snap0, lit("2024-01-01")), snap1,
      Seq("k"), Seq("v"), lit("2024-02-01")))
    plan.linesIterator.count(l => l.contains("SortMergeJoin") ||
      l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin")) shouldBe 1
  }

  test("rolling stats shuffle once on the entity key; the window frame is ROWS-bounded") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val plan = physical(graft.events.Events.rollingStats(ev,
      "user_id", "ts", "value", windowRows = 4, tiebreakCol = "event_id"))
    plan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    plan should include("specifiedwindowframe(RowFrame, -3, currentrow$())")
  }

  test("qualityFilter is one map-side scan — no keyed exchange, no window, no join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = physical(graft.text.TextAnalysis.qualityFilter(docs, "text", "doc_id"))
    withClue(plan) {
      // The only permissible exchange is spread()'s round-robin
      // repartition (CPU-heavy map work wants every core); nothing may
      // shuffle BY KEY and no window/join/aggregate machinery appears.
      plan should not include "Exchange hashpartitioning"
      plan should not include "Exchange rangepartitioning"
      plan should not include "Window"
      plan should not include "Join"
      plan should not include "HashAggregate"
    }
  }

  test("hashedTfVectors: two keyed aggregates, no window, no join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = physical(graft.text.TextAnalysis.hashedTfVectors(
      docs, "text", "doc_id", dim = 64))
    withClue(plan) {
      plan should not include "Window"
      plan should not include "Join"
      // (id, bucket) count then id-keyed assembly — the posting rows
      // partial-aggregate map-side before each shuffle.
      plan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 2
    }
  }

  test("meanPool: (key, pos) partial aggregate, never a key window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = physical(graft.similarity.Similarity.meanPool(emb, "label", "embedding"))
    withClue(plan) {
      plan should not include "Window"
      plan should include("HashAggregate")
    }
  }

  test("capPerEntity plans a PARTIAL window group limit before the shuffle") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val plan = physical(graft.events.Events.capPerEntity(
      ev, "user_id", cap = 50, idCol = "event_id"))
    withClue(plan) {
      // InferWindowGroupLimit must rewrite the rank filter into a
      // map-side partial group limit: each task keeps ≤ cap rows per
      // entity BEFORE the exchange, so a hot entity never floods one
      // reducer — the whole point of the cap at 100 TB.
      plan should include("WindowGroupLimit")
      plan should include("Partial")
      plan.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
    }
  }
}
