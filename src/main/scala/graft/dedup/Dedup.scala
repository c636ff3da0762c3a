package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.text.TextAnalysis
import graft.util.Partitioning.spread

/** Document deduplication for large-scale training-data pipelines:
  * exact duplicates via content fingerprints and near-duplicates via
  * MinHash + banded LSH with exact n-gram-Jaccard verification.
  *
  * This is north-star scope beyond the reference surface (the
  * reference profiles duplicate ROWS only,
  * reference: sparvi/profiler/profile_engine.py:97-123); the text
  * normalization matches [[graft.text.TextAnalysis.fingerprint]].
  *
  * Scale design — the whole point is to NEVER materialize the O(N²)
  * pair space:
  *   - shingling + minhash signatures are pure map-side work: one
  *     native [[graft.functions.ShingleHashes]] eval per document
  *     hashes each word n-gram's byte range in place (no UDFs, no
  *     gram-string materialization, no shuffle);
  *   - candidate generation shuffles each doc once per band keyed by
  *     (band, bucket-hash) and self-joins equi-keyed — only docs
  *     agreeing on a full band of minhashes ever meet;
  *   - verification computes EXACT Jaccard only on candidate pairs,
  *     so LSH affects recall, never precision;
  *   - with b bands of r rows, P(candidate | J=s) = 1-(1-s^r)^b —
  *     the default 32×4 makes misses at J ≥ 0.8 ~5e-8.
  */
object Dedup {

  /** Distinct word n-gram shingles of a document. Shorter-than-n
    * documents collapse to one whole-text shingle.
    *
    * Built as `arrays_zip` of n shifted slices of the token array and
    * a transform whose lambda touches only its own element — NOT as
    * `transform(sequence(...), i => slice(w, i+1, n))`, whose lambda
    * would capture the token-split subtree and re-tokenize the whole
    * document once per shingle (quadratic in document length). */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val w = split(trim(text), "\\s+")
    val cnt = size(w) - (n - 1)
    val zipped = arrays_zip((0 until n).map(j => slice(w, lit(j + 1), greatest(cnt, lit(1)))): _*)
    val grams = transform(zipped,
      s => concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*))
    array_distinct(when(size(w) >= n, grams).otherwise(array(concat_ws(" ", w))))
  }

  /** Whitespace normalization shared by the hash-based shingle paths:
    * under it every word n-gram is a contiguous byte range (see
    * [[graft.functions.ShingleHashes]]). `concat_ws(" ", split(trim(t),
    * "\\s+"))` ≡ `regexp_replace(trim(t), "\\s+", " ")`. */
  private def wsNormalized(text: Column): Column =
    regexp_replace(trim(text), "\\s+", " ")

  /** Distinct 64-bit shingle hashes per document: (id, sh: array<long>).
    * The native [[graft.functions.ShingleHashes]] hashes each word
    * n-gram's byte range in place — no per-gram string materialization,
    * and downstream joins shuffle fixed-width longs instead of gram
    * strings. Hash-distinctness ≡ string-distinctness modulo 64-bit
    * collisions, which MinHash/Jaccard consumers absorb by design. */
  def shingleHashes(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame =
    spread(df).select(col(idCol).as("id"),
      graft.functions.VectorFunctions.shingleHashes(
        wsNormalized(col(textCol)), shingleSize).as("sh"))

  /** MinHash signatures as a DataFrame: (id, sig: array<long>) where
    * sig(s) = min over shingles of xxhash64(s, shingle) — k
    * independent-enough hash families from one seeded hash, the
    * standard construction.
    *
    * Entirely map-side: each shingle is hashed ONCE from its byte
    * range ([[shingleHashes]]) and the whole signature folds in one
    * [[graft.functions.MinHashSignature]] eval per document — no
    * explode, no aggregate, no shuffle. (The path here: a k-COLUMN min
    * formulation — 128 inlined janino branches per plan shape — then
    * explode + the [[graft.functions.MinHashAgg]] relational form,
    * which still materialized one row per shingle and shuffled a
    * partial signature per document to group by a key that was the
    * row id all along. Nested array-lambda minhashing was never an
    * option: a HOF lambda re-evaluates captured subtrees per element.)
    * Null-text documents yield no signature.
    *
    * `signatureMode` picks the construction: `"k-hash"` (default, the
    * gate mode above) pays k seed-hashes per shingle; `"oph"` is
    * one-permutation hashing with optimal densification
    * ([[graft.functions.OnePermSignature]]) — ONE hash per shingle,
    * the scale mode for 10^9+-document corpora where the k×|shingles|
    * arithmetic dominates the map side. Both emit array<long> of
    * length k and band identically; their values are not mutually
    * comparable, so pick one mode per corpus. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128,
      signatureMode: String = "k-hash"): DataFrame = {
    val sh = col("sh")
    val sig = signatureMode match {
      case "k-hash" => graft.functions.VectorFunctions.minhashSignature(sh, numHashes)
      case "oph" => graft.functions.VectorFunctions.onePermSignature(sh, numHashes)
      case other => throw new IllegalArgumentException(
        s"unknown signatureMode: $other (expected k-hash or oph)")
    }
    // The signature is null exactly when the text is: ShingleHashes
    // gives non-null text at least one gram. Filtering the text, not
    // the signature, keeps the filter that Catalyst pushes below
    // shingleHashes' spread from computing every signature a second
    // time on the one task before the spread.
    shingleHashes(df.filter(col(textCol).isNotNull), idCol, textCol, shingleSize)
      .select(col("id"), sig.as("sig"))
  }

  /** LSH band keys over a BOUND signature attribute: the signature is
    * cut into `bands` runs of `rowsPerBand` and each run is hashed to
    * one bucket id. Two docs are candidates iff they share a bucket in
    * ANY band. Pass a materialized column (e.g. from
    * [[minhashSignatures]]), not a nested expression — see the lambda
    * capture note above. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        xxhash64(slice(signature, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))).as("bucket")))

  /** Exact Jaccard similarity of two shingle-set columns. Inputs must
    * be duplicate-free (as [[wordShingles]] emits); the union size is
    * then |A| + |B| − |A∩B|, which skips materializing a second hash
    * set per pair — array_intersect is the only set build. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Exact-duplicate groups by normalized-content fingerprint:
    * (fingerprint, dup_count) for every group occurring more than
    * once. One map-side digest + one hash aggregate on a 128-bit key —
    * the scale-safe shape regardless of document size. */
  def exactDupGroups(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Banded (id, band, bucket) LSH keys for every document — the
    * shared input of [[candidatePairs]] and [[cappedBuckets]]. A caller
    * running the audit alongside the join should compute this once
    * (persist it and pass to both) instead of paying the map-side
    * minhash scan twice — the same sharing contract as
    * [[overlapPairs]]/[[cappedFingerprints]]'s `precomputedFps`. */
  def bandBuckets(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      signatureMode: String = "k-hash"): DataFrame = {
    require(numHashes % bands == 0, s"numHashes ($numHashes) must divide into bands ($bands)")
    val rowsPerBand = numHashes / bands
    minhashSignatures(df, idCol, textCol, shingleSize, numHashes, signatureMode)
      .select(col("id"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /** LSH candidate pairs (id_a < id_b), deduplicated across bands.
    * `numHashes` must be bands × rowsPerBand.
    *
    * `maxBucketOccupancy` bounds the self-join's worst case: every
    * document pair sharing a (band, bucket) key meets in the join, so a
    * bucket holding n documents — n copies of one document, or n docs
    * with identical band signatures (boilerplate, templated text) —
    * emits ~n²/2 rows BEFORE the downstream Jaccard filter can drop
    * anything. Buckets hotter than the cap are pruned before pairing
    * (0 disables the cap). Like [[overlapPairs]]'s frequency cap this
    * is a recall tradeoff made VISIBLE, never silent: run
    * [[cappedBuckets]] alongside — rows there are clusters this
    * operator cannot pair; collapse them with exact dedup first (the
    * scale-correct order) or raise the cap at O(occupancy²) join cost.
    * (Unlike the spread byte-gate, the cap default is deliberately a
    * fixed constant, NOT derived from the session: it changes RESULTS
    * — recall — and a results knob that silently varied with cluster
    * shape would make runs irreproducible across environments. Tune it
    * explicitly, guided by the audit.)
    *
    * Plan shape: the cap is enforced with a partial-aggregated
    * `groupBy(band, bucket).count()` of the HOT keys only, broadcast
    * and anti-joined back (see [[pruneHotKeys]]) — deliberately NOT a
    * count-over-window partitioned by the bucket key: in the exact
    * degenerate corpus the cap exists for (one bucket flooded by 10⁹
    * near-identical documents) a window exec would buffer the whole
    * hot bucket on ONE task just to compute the count that discards
    * it, while the partial aggregate collapses the hot key to one row
    * per mapper before any shuffle. The hot-key list is bounded by
    * n_rows / cap keys (0.1% of bucket rows at the default cap), so
    * the prune is a broadcast anti hash join — no shuffle of the
    * corpus — and the self-join's exchange reuse is unchanged. The
    * aggregate branch does read the buckets frame a second time; at
    * corpus scale use this FromBuckets shape over a persisted
    * [[bandBuckets]] frame (as the composed pipeline does) so that
    * read is a cache hit, not a second minhash scan. */
  def candidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      signatureMode: String = "k-hash", maxBucketOccupancy: Int = 1000): DataFrame =
    candidatePairsFromBuckets(
      bandBuckets(df, idCol, textCol, shingleSize, numHashes, bands, signatureMode),
      maxBucketOccupancy)

  /** [[candidatePairs]] over an already-computed [[bandBuckets]] frame —
    * the shared-scan path for running the join and the [[cappedBuckets]]
    * audit off ONE persisted bucket set. Takes ONLY the buckets and the
    * cap: the signature parameters are baked into the buckets, so this
    * shape cannot be called with parameters that contradict them. */
  def candidatePairsFromBuckets(
      buckets: DataFrame, maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(buckets, "bandBuckets frame", "id", "band", "bucket")
    val kept =
      if (maxBucketOccupancy <= 0) buckets
      else pruneHotKeys(buckets, Seq("band", "bucket"), maxBucketOccupancy)
    kept.as("a")
      .join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Shared precondition of the `FromBuckets`/`FromKeys` shapes: the
    * caller hands a frame THEY built with the paired precompute, so a
    * missing column means the wrong frame (or one built by a different
    * operator) — fail with the contract spelled out rather than an
    * unresolved-column error deep in the join. */
  private def requireColumns(df: DataFrame, what: String, cols: String*): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$what must carry columns ${cols.mkString("(", ", ", ")")} — " +
        s"missing ${missing.mkString(", ")}; pass the frame produced by the " +
        "matching precompute, not a reshaped one")
  }

  /** The shared skew-proof occupancy prune behind every bucket/block
    * cap in this object and [[graft.similarity.Similarity]]: drop
    * every row whose `keyCols` tuple occurs more than `cap` times.
    * Shape: partial-aggregated `groupBy(keyCols).count()` keeps ONLY
    * keys over the cap — map-side combine collapses even a
    * 10⁹-row hot key to one row per mapper, so no task ever buffers a
    * hot bucket — then that hot-key list (≤ n_rows / cap keys by
    * pigeonhole, so ~0.1% of rows at cap 1000) broadcasts into a
    * left_anti hash join that never shuffles `rows`. A
    * count-over-window on the same key would funnel the hottest
    * bucket through one window task precisely in the flooded-corpus
    * case the cap exists for.
    *
    * Null keys: the anti-join matches with null-safe equality (`<=>`),
    * so a null-keyed group over the cap IS pruned — unlike a plain
    * equi-key anti-join, which never matches nulls and would silently
    * exempt them from the cap. All current call sites pass non-null
    * hash-derived bucket keys, but the shared prune must not depend on
    * that. */
  private[graft] def pruneHotKeys(
      rows: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    val hot = rows
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("occupancy"))
      .filter(col("occupancy") > cap)
      .select(keyCols.zipWithIndex.map { case (n, i) => col(n).as(s"__hot_$i") }: _*)
    val cond = keyCols.zipWithIndex
      .map { case (n, i) => col(n) <=> col(s"__hot_$i") }
      .reduce(_ && _)
    rows.join(broadcast(hot), cond, "left_anti")
  }

  /** The audit for [[candidatePairs]]'s occupancy cap — "no silent
    * caps": every (band, bucket) key holding more than
    * `maxBucketOccupancy` documents, with its occupancy. Empty output
    * means the cap bound nothing and the join saw every candidate;
    * rows here are document clusters the LSH join cannot pair, each
    * quantified by its size. One groupBy over the banded keys — the
    * same cost shape as the pruning step inside candidatePairs itself,
    * scale-safe at any corpus size. Mirrors [[cappedFingerprints]]. */
  def cappedBuckets(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      signatureMode: String = "k-hash", maxBucketOccupancy: Int = 1000): DataFrame =
    cappedBucketsFromBuckets(
      bandBuckets(df, idCol, textCol, shingleSize, numHashes, bands, signatureMode),
      maxBucketOccupancy)

  /** [[cappedBuckets]] over an already-computed [[bandBuckets]] frame —
    * the audit half of the shared-scan contract (see
    * [[candidatePairsFromBuckets]]). */
  def cappedBucketsFromBuckets(
      buckets: DataFrame, maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(buckets, "bandBuckets frame", "band", "bucket")
    buckets
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("occupancy"))
      .filter(col("occupancy") > maxBucketOccupancy)
  }

  /** Pass as `bands` to the threshold-carrying near-dup entry points
    * ([[nearDupPairs]], [[dropNearDuplicates]], [[nearDupPairsAgainst]],
    * [[dropNearDuplicatesAgainst]]) to have the banding resolved by
    * [[LshPlan.forThreshold]]: the (bands, rowsPerBand) split of
    * `numHashes` whose S-curve inflection sits closest to `threshold`.
    * OPT-IN, deliberately not the default: the advisor balances
    * precision against recall AT the threshold (~50% candidate
    * probability at the inflection), which is right when there is no
    * verify step; these operators DO verify with exact Jaccard, so
    * their default banding (32×4 at 128 hashes, inflection 0.42) is
    * recall-first — near-threshold true pairs survive and the verify
    * join discards the extra candidates. */
  val AdvisedBands: Int = -1

  private def resolveBands(bands: Int, numHashes: Int, threshold: Double): Int =
    if (bands == AdvisedBands) LshPlan.forThreshold(numHashes, threshold).bands
    else bands

  /** Near-duplicate pairs: LSH candidates verified with EXACT word
    * n-gram Jaccard, keeping pairs at or above `threshold`.
    * Output: (id_a, id_b, jaccard). Never all-pairs — the only joins
    * are the banded bucket join and two id-keyed shingle lookups.
    * `bands` accepts [[AdvisedBands]] to derive the banding from
    * `threshold` via [[LshPlan.forThreshold]]. */
  def nearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      signatureMode: String = "k-hash", maxBucketOccupancy: Int = 1000): DataFrame =
    nearDupPairsFromBuckets(df, idCol, textCol,
      bandBuckets(df, idCol, textCol, shingleSize, numHashes,
        resolveBands(bands, numHashes, threshold), signatureMode),
      threshold, shingleSize, maxBucketOccupancy)

  /** [[nearDupPairs]] over an already-computed [[bandBuckets]] frame —
    * the composed-pipeline path: ONE banded scan feeds the candidate
    * join, the [[cappedBucketsFromBuckets]] audit, AND (via
    * [[componentIds]]) the cluster labeling. `shingleSize` here
    * parameterizes only the exact-Jaccard VERIFICATION sets; the
    * banding parameters are baked into the buckets. */
  def nearDupPairsFromBuckets(
      df: DataFrame, idCol: String, textCol: String,
      buckets: DataFrame, threshold: Double = 0.8, shingleSize: Int = 3,
      maxBucketOccupancy: Int = 1000): DataFrame = {
    // Semi-join the corpus against the candidate id set BEFORE the two
    // verification joins: candidates are a tiny fraction of the corpus
    // at scale, and without the prune every document's full shingle
    // array ships through both join shuffles. The candidate frame is
    // consumed twice below (the id prune and the verification join),
    // and each copy would re-embed the whole minhash+bucket subtree —
    // the r21 plan still carried 14 separate scans of the corpus with
    // no statically-reused exchange — so it materializes once as an
    // eager row-block checkpoint (tiny at scale: that is the point of
    // LSH). Verification intersects the fixed-width HASH sets — the
    // exact gram-set Jaccard modulo 64-bit collisions — so the join
    // ships array<long>, not gram strings. candIds uses explode, not a
    // union of two projections: one read of the candidate blocks.
    val candidates = graft.util.Materialize.rowBlocks(
      candidatePairsFromBuckets(buckets, maxBucketOccupancy))
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val shingled = shingleHashes(df, idCol, textCol, shingleSize)
      .join(candIds, Seq("id"), "left_semi")
    candidates
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components of a near-dup pair graph: (id, component)
    * for every node that appears in a pair, where `component` is the
    * smallest node id in the node's component — the canonical
    * representative a dedup pipeline keeps per cluster.
    *
    * Two stages, one materialized frame between them:
    *   - **Local contraction** ([[contractPartitions]], Łącki et al.,
    *     "Connected Components at Scale via Local Contractions", 2018):
    *     each partition folds its edges into a union-find whose roots
    *     are their set's smallest id, and emits (member, root) for every
    *     non-root node. A local set is connected in the input, so the
    *     components do not change; duplicate edges are absorbed. A
    *     graph whose edges share one partition comes out as the star
    *     fixpoint already — the star test below accepts it with zero
    *     rounds. Memory is bounded: one union-find holds at most
    *     [[ContractionBudget]] nodes, and a full one emits its stars
    *     and starts over (components are preserved either way).
    *   - **Star rounds** (alternating large-star / small-star, Kiveris
    *     et al., "Connected Components in MapReduce and Beyond",
    *     SoCC'14): they still follow, because contraction only sees one
    *     partition at a time — a component split across partitions (or
    *     across flushes) comes out as several overlapping stars. Each
    *     round is two grouped aggregates + joins over the edge list,
    *     and the edge set provably converges to per-component stars
    *     centered at the minimum id in O(log n) rounds — the
    *     scale-correct replacement for label propagation, whose round
    *     count is the component DIAMETER. No driver-side graph state:
    *     the driver loop only reads one boolean per round (the exact
    *     star-shape convergence test, see `isStar` below).
    *
    * The contracted edges and each round's edge set materialize
    * through [[graft.util.Materialize.rowBlocks]], which truncates
    * lineage to an RDD-backed leaf (a reliable checkpoint when the
    * session has a checkpoint dir, so the cut survives executor loss).
    * That is load-bearing: the star transforms reference their input
    * 3–4 times, so an unmaterialized loop re-plans (and on a cache
    * miss recomputes) a plan tree that grows ~4^rounds. Ids keep their
    * native type and are ordered as `least`/`min` order them.
    * Self-pairs are ignored; nodes never paired are absent (they are
    * their own singleton component by definition). */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    // Ids keep their NATIVE type: the algorithm needs only a total
    // order (Spark's, for the column type), which strings and UUIDs
    // satisfy as well as longs — a forced numeric cast would null out
    // string ids and silently drop every edge.
    val edgeList = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)

    // Convergence test: the loop's only fixpoints are per-component
    // STARS centered at the minimum (each u appears exactly once,
    // pointing at its center; centers never appear on the left), and
    // star-ness is checkable directly on the current edge set — one
    // node-keyed aggregate job — instead of running one more full
    // star round to observe "nothing changed" (the former
    // fingerprint-nominate + exceptAll-confirm shape paid an extra
    // round's 4-exchange job, two fingerprint jobs and a confirm
    // anti-join per call). Star ⇒ fixpoint: on such a set both
    // transforms reproduce it verbatim (largeStar maps every member
    // back to (member, center); smallStar's members branch is empty
    // and its self branch re-emits (member, center)). Fixpoint ⇒
    // star: a u with two centers or a center that is itself a member
    // changes under the next round, so the check is exact — no
    // checksum nomination, no confirm pass. A duplicate edge (two
    // partitions contracting the same pair) fails it too (du > 1).
    // Edges stay canonical (u > v), so a star's center is the minimum
    // of its component by construction and the readout below stays
    // valid.
    def isStar(e: DataFrame): Boolean = {
      val nodes = e.select(col("u").as("n"), lit(1).as("iu"), lit(0).as("iv"))
        .union(e.select(col("v").as("n"), lit(0).as("iu"), lit(1).as("iv")))
      nodes.groupBy("n")
        .agg(sum(col("iu")).as("du"), max(col("iu")).as("mu"), max(col("iv")).as("mv"))
        .filter(col("du") > 1 || (col("mu") === 1 && col("mv") === 1))
        .isEmpty
    }

    // Large-star: every node connects its strictly-larger neighbors to
    // the minimum of its closed neighborhood. Small-star: every node
    // connects its smaller-or-equal neighbors (edges are kept directed
    // u > v between rounds) and itself to that minimum.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u").as("x"), col("v").as("n"))
        .union(e.select(col("v").as("x"), col("u").as("n")))
      val mins = nbrs.groupBy("x").agg(least(min(col("n")), col("x")).as("m"))
      nbrs.join(mins, "x").filter(col("n") > col("x"))
        .select(col("n").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val members = e.join(mins, "u")
        .select(col("v").as("n"), col("m"), col("u"))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
      val self = mins.select(col("u"), col("m").as("v"))
      members.union(self)
        .filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
    }

    var edges = graft.util.Materialize.rowBlocks(contractPartitions(edgeList, ContractionBudget))
    var rounds = 0
    var converged = isStar(edges)
    while (!converged && rounds < maxRounds) {
      edges = graft.util.Materialize.rowBlocks(smallStar(largeStar(edges)))
      converged = isStar(edges)
      rounds += 1
    }
    // Fail fast rather than reinterpret a mid-iteration edge set as
    // stars: a non-converged readout would hand back silently WRONG
    // component ids (two "canonical" survivors from one cluster). The
    // default budget is far above the O(log n) bound, so tripping this
    // means maxRounds was set too low for the graph.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxRounds rounds; raise maxRounds")
    // At the fixpoint every canonical edge is (member, center) with
    // center = component minimum; centers map to themselves. The
    // result reads the final checkpoint's blocks — no recomputation,
    // whatever the caller does with it; superseded round checkpoints
    // are freed by the context cleaner once unreferenced.
    edges.select(col("u").as("id"), col("v").as("component")).union(
      edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Most nodes one partition's union-find holds in
    * [[contractPartitions]] before it emits its stars and starts over.
    * A node costs about 100 bytes of task heap (a tree-map entry, the
    * copied id and a parent slot), so this caps the contraction at
    * roughly 13 MB per running task. */
  private val ContractionBudget = 1 << 17

  /** Local contraction of an edge list (u, v), partition by partition:
    * each partition folds its edges into a [[MinRootUnionFind]] of at
    * most `budget` nodes and emits (x, r) for every non-root node x,
    * with r the smallest id of x's local set — so u > v on every output
    * edge, and a partition's output is a star forest without
    * duplicates. When an edge would take the union-find past `budget`,
    * the current stars are emitted and it starts over. Every output
    * edge joins two nodes connected in the input and every input edge's
    * endpoints share a local set, so the components are unchanged.
    * Ids are ordered as `least`/`min` order them, and ids equal under
    * that order are one node. */
  private[graft] def contractPartitions(edges: DataFrame, budget: Int): DataFrame = {
    require(budget >= 2, s"contraction budget must hold one edge (2 nodes), got $budget")
    val idType = edges.schema("u").dataType
    ColumnBridge.mapInternalPartitions(edges) { rows =>
      val forest = new MinRootUnionFind(ColumnBridge.ordering(idType), budget)
      rows.flatMap { r =>
        val u = InternalRow.copyValue(r.get(0, idType))
        val v = InternalRow.copyValue(r.get(1, idType))
        val flushed = if (forest.fits(u, v)) Iterator.empty else forest.drainStars()
        forest.union(u, v)
        flushed
      } ++ forest.drainStars()
    }
  }

  /** Union-find over at most `budget` ids whose every root is the
    * smallest id of its set under `ord` (union links the larger root
    * under the smaller; path halving keeps finds short). */
  private final class MinRootUnionFind(ord: Ordering[Any], budget: Int) {
    private val index = new java.util.TreeMap[Any, Integer](ord)
    private val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    private var parent = new Array[Int](16)

    private def isNew(x: Any): Int = if (index.containsKey(x)) 0 else 1
    def fits(u: Any, v: Any): Boolean =
      ids.length + isNew(u) + isNew(v) <= budget

    private def node(x: Any): Int = {
      val known = index.get(x)
      if (known != null) known.intValue
      else {
        val i = ids.length
        if (i == parent.length) parent = java.util.Arrays.copyOf(parent, i * 2)
        parent(i) = i
        ids += x
        index.put(x, i)
        i
      }
    }
    private def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def union(u: Any, v: Any): Unit = {
      val (a, b) = (find(node(u)), find(node(v)))
      if (a != b) { if (ord.lt(ids(a), ids(b))) parent(b) = a else parent(a) = b }
    }

    /** (member, root) rows for every non-root node; empties the forest. */
    def drainStars(): Iterator[InternalRow] = {
      val stars = ids.indices.iterator.flatMap { i =>
        val r = find(i)
        if (r == i) None else Some(new GenericInternalRow(Array[Any](ids(i), ids(r))))
      }.toArray
      index.clear(); ids.clear()
      stars.iterator
    }
  }

  /** The pair-id → document-id cast in [[componentIds]] and
    * [[dropNearDuplicates]] must be LOSSLESS: an incompatible cast
    * (e.g. string pair ids against a long doc id) evaluates to null,
    * the join matches nothing, and every document silently becomes its
    * own singleton — wrong cluster assignments with no error. Fail up
    * front instead: identical types, or a cast Spark itself certifies
    * as an up-cast (int→long, atomic→string, …). */
  private def requireIdCastCompatible(
      pairIdType: org.apache.spark.sql.types.DataType,
      docIdType: org.apache.spark.sql.types.DataType): Unit =
    require(pairIdType == docIdType ||
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(pairIdType, docIdType),
      s"pair id type $pairIdType is not losslessly castable to document id type " +
        s"$docIdType — matching on it would null out and silently mislabel; " +
        "align the id types before joining components back")

  /** Canonical component id for EVERY document: [[connectedComponents]]
    * over `pairs` left-joined back onto the corpus, with unpaired
    * documents labeled as their own singleton component — the full
    * cluster-assignment a dedup pipeline materializes before choosing
    * survivors. One broadcast-or-shuffle join beyond the component
    * computation itself. */
  def componentIds(
      df: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      componentCol: String = "component"): DataFrame = {
    require(!df.columns.contains(componentCol),
      s"input already has a '$componentCol' column — pass componentCol to relabel under a different name")
    requireIdCastCompatible(pairs.schema(aCol).dataType, df.schema(idCol).dataType)
    val comps = connectedComponents(pairs, aCol, bCol)
      .select(col("id").cast(df.schema(idCol).dataType).as(idCol),
        col("component").cast(df.schema(idCol).dataType).as(componentCol))
    df.join(comps, Seq(idCol), "left")
      .withColumn(componentCol, coalesce(col(componentCol), col(s"`$idCol`")))
  }

  /** Near-dup removal. `policy` picks the representative rule:
    *   - `greedy` (default): for every pair the lower id is kept; any
    *     id appearing on the right side of a pair is dropped. One
    *     anti-join — at worst a chain keeps more than one member,
    *     never drops all members of a group.
    *   - `components`: cluster-exact — [[connectedComponents]] labels
    *     each paired doc with its component minimum and exactly that
    *     one survives per cluster, at the cost of the O(log n) star
    *     rounds. */
  def dropNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      signatureMode: String = "k-hash", policy: String = "greedy",
      maxBucketOccupancy: Int = 1000): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, shingleSize, numHashes,
      bands, signatureMode, maxBucketOccupancy)
    val losers = policy match {
      case "greedy" => pairs.select(col("id_b").as(idCol)).distinct()
      case "components" =>
        requireIdCastCompatible(pairs.schema("id_a").dataType, df.schema(idCol).dataType)
        connectedComponents(pairs, "id_a", "id_b")
          .filter(col("id") =!= col("component"))
          .select(col("id").cast(df.schema(idCol).dataType).as(idCol))
      case other => throw new IllegalArgumentException(
        s"unknown policy: $other (greedy|components)")
    }
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dup removal keeping the BEST document of each duplicate
    * cluster by `scoreCol` — the production policy ([[dropNearDuplicates]]'s
    * greedy/components policies keep by id, which is deterministic but
    * quality-blind; a crawl pipeline wants the longest / highest-
    * quality / most-recent representative). Clusters are the connected
    * components of the verified pair graph; within a cluster the
    * keeper is argmax (score, id) — id breaks score ties, so the
    * choice is deterministic and type-generic (numeric or string ids
    * order lexicographically). Null scores lose to any non-null score.
    * Documents in no pair keep themselves.
    *
    * Plan shape: pair graph → O(log n) component rounds
    * ([[connectedComponents]]) → ONE partial-aggregated
    * `groupBy(component).agg(max(struct(score, id)))` — argmax via
    * struct max, which map-side combine collapses even for a
    * pathological million-document cluster (never a per-component
    * window) — then a semi-join of the corpus against the keeper ids.
    * Only paired documents enter the aggregate; the untouched corpus
    * majority streams through the final semi-join alone. */
  def dropNearDuplicatesKeepBest(
      df: DataFrame, idCol: String, textCol: String, scoreCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      signatureMode: String = "k-hash", maxBucketOccupancy: Int = 1000): DataFrame = {
    require(df.columns.contains(scoreCol), s"missing score column '$scoreCol'")
    val pairs = nearDupPairs(df, idCol, textCol, threshold, shingleSize, numHashes,
      bands, signatureMode, maxBucketOccupancy)
    requireIdCastCompatible(pairs.schema("id_a").dataType, df.schema(idCol).dataType)
    val members = connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").cast(df.schema(idCol).dataType).as(idCol), col("component"))
      .join(df.select(col(idCol), col(scoreCol).as("__score")), Seq(idCol))
    val keepers = members
      .groupBy(col("component"))
      .agg(max(struct(col("__score").as("s"), col(idCol).as("i"))).as("best"))
      .select(col("best.i").as(idCol))
    val losers = members.select(col(idCol))
      .join(keepers, Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---- Bipartite (incremental) near-dup dedup: an INCOMING batch
  // against an EXISTING curated corpus — the every-crawl-cycle shape.
  // A self-join over the union would also pair incoming×incoming and
  // existing×existing (wasted work: the curated side is already
  // deduped, and the incoming batch can be self-deduped separately at
  // batch scale); these operators join strictly across the two sides.

  /** Bipartite LSH candidates: (incoming_id, existing_id) for every
    * cross-side pair sharing a (band, bucket) key — never
    * incoming×incoming or existing×existing. Both bucket frames must
    * come from [[bandBuckets]] runs with IDENTICAL signature
    * parameters (use [[nearDupPairsAgainst]] to have that guaranteed);
    * this shape exists to share ONE pair of banded scans between the
    * join and the [[cappedBucketsAgainstFromBuckets]] audit.
    *
    * `maxBucketOccupancy` caps the COMBINED per-(band, bucket)
    * occupancy across both sides — the bipartite fan-out of a bucket
    * is n_incoming × n_existing, and a cluster split across the sides
    * (the same boilerplate in corpus AND crawl — the common case) is
    * exactly what a one-sided count would miss. Same recall-tradeoff
    * contract as [[candidatePairsFromBuckets]]: pruned buckets are
    * named by the audit, never dropped silently.
    *
    * Plan shape: the combined occupancy is a partial-aggregated
    * groupBy over the UNION of both bucket frames (so a cluster split
    * across the sides is counted whole) whose over-cap keys broadcast
    * into a left_anti prune ([[pruneHotKeys]] — skew-proof where a
    * count-over-window would funnel the flooded bucket through one
    * task). The join sides then filter the pruned union by side;
    * Catalyst pushes those filters INTO the union and prunes the
    * opposite branch, so each side shuffles exactly its own banded
    * keys — two exchanges whose combined volume equals the one union
    * shuffle, with the hot-key broadcast built once and reused by
    * both sides' anti joins. */
  def candidatePairsAgainstFromBuckets(
      incomingBuckets: DataFrame, existingBuckets: DataFrame,
      maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(incomingBuckets, "incoming bandBuckets frame", "id", "band", "bucket")
    requireColumns(existingBuckets, "existing bandBuckets frame", "id", "band", "bucket")
    val tagged = incomingBuckets
      .select(col("id"), col("band"), col("bucket"), lit(true).as("is_incoming"))
      .unionByName(existingBuckets
        .select(col("id"), col("band"), col("bucket"), lit(false).as("is_incoming")))
    val kept =
      if (maxBucketOccupancy <= 0) tagged
      else pruneHotKeys(tagged, Seq("band", "bucket"), maxBucketOccupancy)
    kept.filter(col("is_incoming")).as("a")
      .join(kept.filter(!col("is_incoming")).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("incoming_id"), col("b.id").as("existing_id"))
      .distinct()
  }

  /** The audit for the bipartite cap — "no silent caps": every
    * (band, bucket) whose COMBINED occupancy exceeds the cap, with the
    * per-side split (how much of the cluster is already curated vs
    * arriving). Rows here are clusters [[nearDupPairsAgainst]] cannot
    * pair; collapse them with exact dedup first or raise the cap at
    * O(n_inc × n_ex) join cost. */
  def cappedBucketsAgainstFromBuckets(
      incomingBuckets: DataFrame, existingBuckets: DataFrame,
      maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(incomingBuckets, "incoming bandBuckets frame", "id", "band", "bucket")
    requireColumns(existingBuckets, "existing bandBuckets frame", "id", "band", "bucket")
    incomingBuckets.select(col("band"), col("bucket"), lit(1L).as("inc"))
      .unionByName(existingBuckets.select(col("band"), col("bucket"), lit(0L).as("inc")))
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("occupancy"),
        sum(col("inc")).as("incoming_occupancy"),
        (count(lit(1)) - sum(col("inc"))).as("existing_occupancy"))
      .filter(col("occupancy") > maxBucketOccupancy)
  }

  /** Bipartite near-duplicate pairs, exact-Jaccard verified:
    * (incoming_id, existing_id, jaccard) for every cross-side pair at
    * or above `threshold`. The verification semi-joins each side
    * against its own candidate id set before shipping shingle arrays —
    * the [[nearDupPairsFromBuckets]] pruning, applied per side. */
  def nearDupPairsAgainst(
      incoming: DataFrame, incomingIdCol: String, incomingTextCol: String,
      existing: DataFrame, existingIdCol: String, existingTextCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      signatureMode: String = "k-hash", maxBucketOccupancy: Int = 1000): DataFrame =
    nearDupPairsAgainstFromBuckets(
      incoming, incomingIdCol, incomingTextCol,
      existing, existingIdCol, existingTextCol,
      bandBuckets(incoming, incomingIdCol, incomingTextCol, shingleSize, numHashes,
        resolveBands(bands, numHashes, threshold), signatureMode),
      bandBuckets(existing, existingIdCol, existingTextCol, shingleSize, numHashes,
        resolveBands(bands, numHashes, threshold), signatureMode),
      threshold, shingleSize, maxBucketOccupancy)

  /** [[nearDupPairsAgainst]] over precomputed bucket frames — the
    * shared-scan path (run the audit off the same two frames). */
  def nearDupPairsAgainstFromBuckets(
      incoming: DataFrame, incomingIdCol: String, incomingTextCol: String,
      existing: DataFrame, existingIdCol: String, existingTextCol: String,
      incomingBuckets: DataFrame, existingBuckets: DataFrame,
      threshold: Double = 0.8, shingleSize: Int = 3,
      maxBucketOccupancy: Int = 1000): DataFrame = {
    // The candidate-pair frame is consumed THREE times below (each
    // side's semi-join prune plus the verification join), and every
    // copy would re-embed BOTH banded bucket subtrees — the full
    // minhash of both corpora (the ll18 plan carried 39 separate
    // parquet scans and no reusable exchange). Materialize it once as
    // an eager row-block checkpoint: candidates are a tiny fraction of
    // either corpus at scale (that is the point of LSH), so the blocks
    // are small and every consumer reads (incoming_id, existing_id)
    // rows instead of recomputing two minhash pipelines.
    val candidates = graft.util.Materialize.rowBlocks(
      candidatePairsAgainstFromBuckets(
        incomingBuckets, existingBuckets, maxBucketOccupancy))
    val shInc = shingleHashes(incoming, incomingIdCol, incomingTextCol, shingleSize)
      .join(candidates.select(col("incoming_id").as("id")).distinct(), Seq("id"), "left_semi")
    val shEx = shingleHashes(existing, existingIdCol, existingTextCol, shingleSize)
      .join(candidates.select(col("existing_id").as("id")).distinct(), Seq("id"), "left_semi")
    candidates
      .join(shInc.select(col("id").as("incoming_id"), col("sh").as("sh_a")), "incoming_id")
      .join(shEx.select(col("id").as("existing_id"), col("sh").as("sh_b")), "existing_id")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("incoming_id"), col("existing_id"), col("jaccard"))
  }

  /** The incremental-ingest filter: the incoming batch minus every
    * document near-duplicating something already in the curated
    * corpus. Self-dups WITHIN the batch are [[dropNearDuplicates]]'s
    * job (run it first at batch scale); this is one anti-join after
    * the bipartite pairing. */
  def dropNearDuplicatesAgainst(
      incoming: DataFrame, incomingIdCol: String, incomingTextCol: String,
      existing: DataFrame, existingIdCol: String, existingTextCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      signatureMode: String = "k-hash", maxBucketOccupancy: Int = 1000): DataFrame = {
    val dupIds = nearDupPairsAgainst(
        incoming, incomingIdCol, incomingTextCol,
        existing, existingIdCol, existingTextCol,
        threshold, shingleSize, numHashes, bands, signatureMode, maxBucketOccupancy)
      .select(col("incoming_id").as(incomingIdCol)).distinct()
    incoming.join(dupIds, Seq(incomingIdCol), "left_anti")
  }

  /** 64-bit hashes of a document's lowercased whitespace tokens.
    * Project this into a column first when feeding [[simhash64FromHashes]]
    * in a hot path, so the split+hash runs once per row. */
  def tokenHashes(text: Column): Column =
    transform(TextAnalysis.tokens(lower(text)), t => xxhash64(t))

  /** SimHash-64 over precomputed token hashes: bit i of the result is
    * set iff more than half the token hashes have bit i set — the
    * classic Charikar sketch; near-dups land within a small Hamming
    * distance. Pure map-side column expression (64 mask tests per
    * token, no UDF, no shuffle). */
  def simhash64FromHashes(hashes: Column): Column = {
    val n = size(hashes)
    val masks = array((0 until 64).map(b => lit(1L << b)): _*)
    aggregate(
      masks,
      lit(0L),
      (acc, m) => {
        val ones = size(filter(hashes, h => h.bitwiseAND(m) =!= lit(0L)))
        acc.bitwiseOR(when(ones * 2 > n, m).otherwise(lit(0L)))
      })
  }

  def simhash64(text: Column): Column = simhash64FromHashes(tokenHashes(text))

  /** SimHash sketches as a DataFrame: (id, sk: long) over word-shingle
    * hashes — ONE map-side [[graft.functions.SimHashSketch]] eval per
    * document: distinct gram fields → 64 signed bit votes → sketch,
    * with no explode, no aggregate, no shuffle. (Two earlier
    * formulations document the path here: a 64-COLUMN sum aggregate —
    * seconds of janino per plan shape — then the explode +
    * [[graft.functions.SimHashAgg]] relational form, which still paid
    * per-gram-row aggregate machinery and a per-document partial-
    * sketch shuffle.) `md5` is the engine-reproducible gate mode: bit
    * b is bit (b mod 4) of hex nibble (b div 4) of the gram digest —
    * a definition DuckDB replays character-for-character. `xxhash64`
    * (default) is the cheaper scale mode. The Column-expression
    * [[simhash64]] evaluates 64 interpreted array traversals per row,
    * fine for short token lists; this shape is the one to use over a
    * corpus. */
  def simhashSketches(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, hashMode: String = "xxhash64"): DataFrame =
    spread(df).filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.VectorFunctions.simhashSketch(
          wsNormalized(col(textCol)), shingleSize, hashMode).as("sk"))

  /** Hamming distance between two 64-bit sketches. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Partial-overlap pairs via winnowing fingerprints: documents
    * sharing at least `minShared` fingerprint hashes (id_a < id_b,
    * with the shared count). Catches a copied PASSAGE inside otherwise
    * different documents — invisible to whole-document Jaccard or
    * SimHash. The join is equi-keyed on the fingerprint hash; a
    * frequency cap drops ubiquitous fingerprints (boilerplate) before
    * pairing, bounding join fan-out.
    *
    * The cap is load-bearing at scale AND a recall tradeoff: each
    * fingerprint contributes O(df²) rows to the self-join, so an
    * uncapped ubiquitous fingerprint is quadratic blowup (df=500 on
    * one fp already OOMs a 1 GB driver at 5000 docs) — but a passage
    * shared by MORE than `maxDocFrequency` documents becomes
    * invisible to this operator. Measured on the sf0.1 fixture
    * (5000 docs, minShared=40): cap=100 → 2 pairs, cap=250 → 101
    * pairs — the corpus's near-dup clusters span >100 docs, so the
    * absolute cap silently swallowed them. Run [[cappedFingerprints]]
    * alongside to make that drop visible; when it returns rows,
    * either raise the cap (cost ~df² per fingerprint) or collapse
    * the big clusters first with exact / MinHash dedup, which is the
    * scale-correct order for a 100 TB pipeline anyway. */
  def overlapPairs(
      df: DataFrame, idCol: String, textCol: String,
      minShared: Int = 2, k: Int = 8, w: Int = 4,
      maxDocFrequency: Int = 100, hashMode: String = "xxhash64",
      precomputedFps: Option[DataFrame] = None): DataFrame = {
    // Fingerprinting is the dominant per-byte cost here; a caller
    // running the cap audit alongside should compute the (id, fp) set
    // once — persist winnowingFingerprints and pass it to BOTH this
    // and [[cappedFingerprints]] — instead of paying the map-side scan
    // twice. WITHIN one call the (id, fp) frame is referenced four
    // times in the plan (the df-count aggregate plus both self-join
    // sides each re-embed it; no exchange is reusable across those
    // shapes — the r21 plan dump shows 4 separate parquet scans), so
    // the internally-computed frame materializes once as an eager
    // row-block checkpoint: the winnowing scan runs ONCE and every
    // reference reads narrow (id, fp) blocks. A caller-provided frame
    // is trusted to be materialized already.
    val fps = precomputedFps.getOrElse(graft.util.Materialize.rowBlocks(
      TextAnalysis.winnowingFingerprints(df, textCol, idCol, k, w, hashMode)))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxDocFrequency)
      .select("fp")
    val pruned = fps.join(rare, "fp")
    pruned.as("a")
      .join(pruned.as("b"), col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** The audit for [[overlapPairs]]'s frequency cap — "no silent
    * caps": the fingerprints the cap DROPS, i.e. those appearing in
    * more than `maxDocFrequency` documents, as (fp, df_count). Empty
    * output means the cap bound nothing and overlapPairs saw every
    * fingerprint; rows here are passages the operator cannot pair,
    * each quantified by how many documents carry it. One groupBy over
    * the map-side fingerprint set — same cost shape as the pruning
    * step inside overlapPairs itself, scale-safe at any corpus size. */
  def cappedFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDocFrequency: Int = 100,
      hashMode: String = "xxhash64",
      precomputedFps: Option[DataFrame] = None): DataFrame =
    precomputedFps.getOrElse(
      TextAnalysis.winnowingFingerprints(df, textCol, idCol, k, w, hashMode))
      .groupBy("fp").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") > maxDocFrequency)

  /** Asymmetric CONTAINMENT pairs: (id_sub, id_super, containment)
    * where containment = |grams(sub) ∩ grams(super)| / |grams(sub)| ≥
    * `threshold`, over word-n-gram shingles with document frequency ≤
    * `maxDocFrequency`. Catches the pair Jaccard dedup is blind to: a
    * truncated or excerpted document inside a longer one (containment
    * 1.0, Jaccard = |sub|/|super| — arbitrarily small), the common
    * shape of re-crawled partial pages in a training corpus. MinHash
    * LSH banding is calibrated for JACCARD and misses exactly those
    * pairs, so candidates here come from an INVERTED INDEX instead:
    * postings equi-joined on the shingle hash (the [[overlapPairs]]
    * shape) — never all-pairs, exact recall over the kept grams.
    *
    * The frequency cap is the same quadratic-fan-out bound as
    * [[overlapPairs]]'s (each gram contributes O(df²) join rows), and
    * doubles as an idf-style filter: ubiquitous boilerplate grams
    * carry no authorship signal, so they are dropped from BOTH the
    * intersection and the denominator — containment is measured over
    * informative grams only. Run [[cappedShingleGrams]] alongside:
    * empty means the cap dropped nothing and the scores are the plain
    * set containments.
    *
    * Plan: one map-side shingle scan, explode to postings, one
    * df-count agg reused (exchange-shared) for prune + audit, the
    * equi-self-join, one (id_a, id_b) count agg, two id-keyed size
    * lookups, and a 2-way explode to emit both directions. */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      maxDocFrequency: Int = 100,
      precomputedPostings: Option[DataFrame] = None): DataFrame = {
    // The (id, g) postings frame is re-embedded FOUR+ times per
    // reference below (`kept` appears in the self-join twice and under
    // both size lookups, and each copy re-derives `rare` — the r21
    // plan dump of ll25 shows 32 separate parquet scans of the same
    // table in one query). Materialize the internally-computed
    // postings once as an eager row-block checkpoint (narrow frame,
    // the r21 rule), then pin `kept` the same way so the prune join
    // also runs once: the shingle scan happens exactly once per call.
    val postings = precomputedPostings.getOrElse(graft.util.Materialize.rowBlocks(
      shinglePostings(df, idCol, textCol, shingleSize)))
    val rare = postings.groupBy("g").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxDocFrequency)
      .select("g")
    val kept = graft.util.Materialize.rowBlocks(postings.join(rare, "g"))
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val shared = kept.as("a")
      .join(kept.as("b"), col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_grams"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_grams").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_grams").as("n_b")), "id_b")
      .select(explode(array(
        struct(col("id_a").as("id_sub"), col("id_b").as("id_super"),
          (col("shared_grams").cast("double") / col("n_a")).as("containment")),
        struct(col("id_b").as("id_sub"), col("id_a").as("id_super"),
          (col("shared_grams").cast("double") / col("n_b")).as("containment")))).as("e"))
      .select(col("e.id_sub"), col("e.id_super"), col("e.containment"))
      .filter(col("containment") >= threshold)
  }

  /** Exploded inverted-index postings (id, g) of distinct shingle
    * hashes — the shared precompute for [[containmentPairs]] and its
    * [[cappedShingleGrams]] audit (persist it to pay the shingle scan
    * once). */
  def shinglePostings(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame =
    shingleHashes(df, idCol, textCol, shingleSize)
      .select(col("id"), explode(col("sh")).as("g"))

  /** The audit for [[containmentPairs]]'s frequency cap — "no silent
    * caps", histogram form: how many shingle grams were dropped at
    * each document frequency above the cap, as (df_count,
    * n_capped_grams). Empty output means containment scores are the
    * plain set containments; rows here quantify the boilerplate the
    * cap blinded the operator to (by COUNT of grams, not gram
    * identity — the postings carry 64-bit hashes, deliberately never
    * the gram text). Same one-agg cost shape as the prune step. */
  def cappedShingleGrams(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, maxDocFrequency: Int = 100,
      precomputedPostings: Option[DataFrame] = None): DataFrame =
    precomputedPostings.getOrElse(shinglePostings(df, idCol, textCol, shingleSize))
      .groupBy("g").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") > maxDocFrequency)
      .groupBy("df_count").agg(count(lit(1)).as("n_capped_grams"))

  /** Blocking keys for a 64-bit sketch, Manku-style (Manku/Jain/Sarma,
    * WWW'07 §3): the sketch is cut into `blocks` contiguous bit-fields;
    * a pair within Hamming distance `maxHamming` differs in at most
    * `maxHamming` blocks, so by pigeonhole it agrees EXACTLY on some
    * set of `m = blocks - maxHamming` blocks. One table per m-block
    * combination, keyed on those blocks' bits concatenated — key width
    * ≈ 64·m/blocks bits, so the bucket space GROWS with corpus-scale
    * parameters instead of being capped by a single block's width
    * (the old one-block banding capped it at 2^16 for 4 bands, which
    * is quadratic-blowup territory at 10^9+ documents; the default
    * blocks=6 / maxHamming=3 gives C(6,3)=20 tables on ~32-bit keys,
    * ~4·10^9 buckets per table). Returns array<struct<tbl:int,
    * key:bigint>> — one entry per table. */
  def simhashBlockKeys(sk: Column, maxHamming: Int, blocks: Int): Column = {
    require(blocks > 0 && blocks <= 64, s"blocks must be in [1,64]: $blocks")
    // Distribute the 64 bits: the first (64 mod blocks) blocks get the
    // extra bit. m clamps to ≥ 1 so maxHamming ≥ blocks degrades to
    // single-block tables (recall then relies on the verify step's
    // callers choosing maxHamming < blocks — asserted below).
    val widths = Array.tabulate(blocks)(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val m = math.max(1, blocks - maxHamming)
    val combos = (0 until blocks).combinations(m).toSeq
    require(combos.size <= 70,
      s"C($blocks, $m) = ${combos.size} tables — too many; pick blocks closer to maxHamming")
    array(combos.zipWithIndex.map { case (combo, ci) =>
      val key = combo.foldLeft(lit(0L): Column) { (acc, bi) =>
        shiftleft(acc, widths(bi)).bitwiseOR(
          shiftrightunsigned(sk, starts(bi)).bitwiseAND(
            lit(if (widths(bi) == 64) -1L else (1L << widths(bi)) - 1)))
      }
      struct(lit(ci), key).cast("struct<tbl:int,key:bigint>")
    }: _*)
  }

  /** SimHash near-dup pairs via Manku multi-table blocking: candidates
    * come from equi-joins on [[simhashBlockKeys]] — never all-pairs —
    * and are then verified with the exact Hamming distance. Output:
    * (id_a, id_b, hamming) with hamming ≤ maxHamming. Recall is
    * GUARANTEED when maxHamming < blocks (pigeonhole over the block
    * tables); the bucket space is ~2^(64·(blocks-maxHamming)/blocks)
    * per table, so occupancy stays sub-quadratic as long as corpus
    * size ≪ bucket count — at defaults (~2^32) that covers ~10^9
    * documents with O(1) expected bucket size; for larger corpora
    * raise `blocks` toward 2·maxHamming to widen keys further. That
    * bound covers RANDOM collisions only — identical documents share
    * every block key no matter how wide the key space — so the join is
    * additionally capped by `maxBucketOccupancy` (see
    * [[simhashNearDupPairsFromKeys]] for the hazard arithmetic and
    * [[cappedBlockKeys]] for the audit).
    *
    * The sketch is over word n-gram SHINGLES, not bare tokens: on
    * corpora with a shared vocabulary a bag-of-words simhash collapses
    * (word order carries the signal); shingles keep it discriminating.
    * Sketches come from the relational [[simhashSketches]]. */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, blocks: Int = 6, shingleSize: Int = 3,
      hashMode: String = "xxhash64", maxBucketOccupancy: Int = 1000): DataFrame =
    simhashNearDupPairsFromKeys(
      blockKeys(df, idCol, textCol, maxHamming, blocks, shingleSize, hashMode),
      maxHamming, maxBucketOccupancy)

  /** [[blockKeys]] over an ALREADY-SKETCHED frame — any 64-bit
    * similarity-preserving sketch works (text simhash, image
    * dHash/aHash from [[graft.multimodal.Multimodal.imageHashes]], …):
    * the Manku blocking only assumes "near-dup ⇒ small Hamming
    * distance". Null sketches (e.g. undecodable images) are dropped —
    * they carry no signal to block on. */
  def blockKeysFromSketches(
      sketches: DataFrame, idCol: String, skCol: String,
      maxHamming: Int = 3, blocks: Int = 6): DataFrame =
    sketches.filter(col(skCol).isNotNull)
      .select(col(idCol).as("id"), col(skCol).as("sk"),
        explode(simhashBlockKeys(col(skCol), maxHamming, blocks)).as("bk"))
      .select(col("id"), col("sk"), col("bk.tbl").as("tbl"), col("bk.key").as("key"))

  /** Exploded (id, sk, tbl, key) Manku block keys for every document —
    * the shared input of [[simhashNearDupPairsFromKeys]] and
    * [[cappedBlockKeysFromKeys]]. A caller running the audit alongside
    * the join computes this once (persist it and pass to both) instead
    * of paying the map-side sketch scan twice — the same sharing
    * contract as [[bandBuckets]]. */
  def blockKeys(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, blocks: Int = 6, shingleSize: Int = 3,
      hashMode: String = "xxhash64"): DataFrame =
    simhashSketches(df, idCol, textCol, shingleSize, hashMode)
      .select(col("id"), col("sk"),
        explode(simhashBlockKeys(col("sk"), maxHamming, blocks)).as("bk"))
      .select(col("id"), col("sk"), col("bk.tbl").as("tbl"), col("bk.key").as("key"))

  /** [[simhashNearDupPairs]] over an already-computed [[blockKeys]]
    * frame. `maxHamming` here is ONLY the verify threshold — the
    * blocking combinatorics are baked into the keys; recall is
    * guaranteed when it does not exceed the maxHamming the keys were
    * built with (a larger verify threshold silently costs recall, never
    * precision).
    *
    * `maxBucketOccupancy` closes the same silent-quadratic hazard as
    * [[candidatePairsFromBuckets]]: the ~2^32-per-table bucket space
    * only bounds RANDOM collisions — n identical documents have
    * identical sketches, hence the same (tbl, key) in every one of the
    * C(blocks, m) tables, so the join emits ~tables·n²/2 rows before
    * the Hamming filter can drop one. Keys hotter than the cap are
    * pruned before pairing (0 disables); run [[cappedBlockKeysFromKeys]]
    * alongside — rows there are clusters this join cannot pair;
    * collapse them with exact dedup first (the scale-correct order) or
    * raise the cap at O(occupancy²) cost. Same plan shape as
    * candidatePairs: hot (tbl, key) blocks are found with a
    * partial-aggregated groupBy and broadcast-anti-joined away
    * ([[pruneHotKeys]]) — skew-proof in the identical-sketch flood
    * case — so the keyed corpus shuffles once for the self-join and
    * both join sides reuse that exchange. */
  def simhashNearDupPairsFromKeys(
      keys: DataFrame, maxHamming: Int = 3,
      maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(keys, "blockKeys frame", "id", "sk", "tbl", "key")
    val kept =
      if (maxBucketOccupancy <= 0) keys
      else pruneHotKeys(keys, Seq("tbl", "key"), maxBucketOccupancy)
    kept.as("a")
      .join(kept.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingDistance(col("a.sk"), col("b.sk")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The audit for [[simhashNearDupPairs]]'s occupancy cap — "no
    * silent caps", completing the family ([[cappedBuckets]],
    * [[cappedFingerprints]], [[graft.similarity.Similarity.cappedBuckets]]):
    * every (tbl, key) block key holding more than `maxBucketOccupancy`
    * documents, with its occupancy. Empty output means the cap bound
    * nothing and the join saw every candidate; rows here are document
    * clusters the blocked join cannot pair — an exact-duplicate cluster
    * surfaces as C(blocks, m) rows, one per table, each at the cluster
    * size. One groupBy over the exploded keys, scale-safe at any
    * corpus size. */
  def cappedBlockKeys(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, blocks: Int = 6, shingleSize: Int = 3,
      hashMode: String = "xxhash64", maxBucketOccupancy: Int = 1000): DataFrame =
    cappedBlockKeysFromKeys(
      blockKeys(df, idCol, textCol, maxHamming, blocks, shingleSize, hashMode),
      maxBucketOccupancy)

  /** [[cappedBlockKeys]] over an already-computed [[blockKeys]] frame —
    * the audit half of the shared-scan contract. */
  def cappedBlockKeysFromKeys(
      keys: DataFrame, maxBucketOccupancy: Int = 1000): DataFrame = {
    requireColumns(keys, "blockKeys frame", "tbl", "key")
    keys.groupBy("tbl", "key")
      .agg(count(lit(1)).as("occupancy"))
      .filter(col("occupancy") > maxBucketOccupancy)
  }

  /** Cluster-size histogram over a near-dup pair graph — the corpus
    * duplication profile ("how duplicated is my data"): one row per
    * observed cluster size with the number of clusters at that size.
    * Singletons (documents in no pair) are NOT rows here — the graph
    * doesn't see them; subtract Σ(size·n) from the corpus count for
    * the singleton mass. The curation dashboard next to the per-key
    * audits: audits name what a CAP dropped, this profiles what the
    * pairing FOUND (a heavy tail of big clusters says run exact dedup
    * first; mass at size 2 says the threshold is doing fine work).
    *
    * Plan: the O(log n) component rounds ([[connectedComponents]]),
    * then two partial-aggregated groupBys (component → size,
    * size → count) — skew-proof at any cluster size, output bounded
    * by the distinct-size count. */
  def clusterSizeHistogram(pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  // ---- Exact substring-level dedup: the distributed, token-
  // granular take on suffix-array dedup — the pass that catches
  // boilerplate headers/footers repeated INSIDE otherwise-unique
  // documents, which whole-document fingerprints and shingle-Jaccard
  // both miss.

  /** Maximal token spans of length ≥ `minSpan` shared across two
    * documents: one row `(id_a, id_b, start_a, start_b, span_len)`
    * per maximal shared run (0-based token offsets, `id_a < id_b`).
    *
    * Exactness: a span of `s ≥ minSpan` shared tokens contains
    * `s − minSpan + 1` aligned `minSpan`-grams, ALL of which match —
    * so anchoring on every positional `minSpan`-gram (not a sampled
    * or content-winnowed subset) finds every qualifying span, and
    * merging consecutive anchors along each `(pair, diagonal)` into
    * runs reconstructs the span's exact maximal extent. Both
    * overlapping spans (different diagonals) and a gram repeated
    * WITHIN one document (one row per alignment) fall out naturally.
    * Tokens are `\s+`-split of the trimmed text (the [[wordShingles]]
    * convention); documents shorter than `minSpan` tokens emit
    * nothing.
    *
    * Scale shape: positional grams are map-side (`posexplode` over
    * the arrays_zip slices — the [[wordShingles]] trick, linear not
    * quadratic in document length); the df ≥ 2 prefilter is ONE
    * partial-aggregated count on the gram hash that discards the
    * corpus-unique long tail before any pair work; the anchor join is
    * equi-keyed on the 64-bit gram hash (never all-pairs) with gram-
    * string equality verified inside the co-partitioned join (hash
    * collisions affect candidates, never results); run-merging is a
    * keyed window over `(id_a, id_b, diag)` — never a global window.
    * `maxGramOccupancy` caps the per-gram fan-out the same way the
    * LSH-family joins cap bucket occupancy — and here it also bounds
    * MEMORY: pair generation materializes one c·(c−1)/2-element
    * struct array per posting before the explode, ≈20 MB at the
    * default cap of 1000 and quadratically worse uncapped (a gram in
    * 100k documents would build a 5·10⁹-element array in ONE row).
    * 0 disables the cap — only for oracle-exact tests at bounded
    * scale. Audit what the cap silently drops with
    * [[cappedSpanGrams]] — "no silent caps". */
  def sharedSpans(
      df: DataFrame, idCol: String, textCol: String,
      minSpan: Int = 20, maxGramOccupancy: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = spanPostings(df, idCol, textCol, minSpan)
    val kept =
      if (maxGramOccupancy > 0)
        postings.filter(size(col("occ")).between(2, maxGramOccupancy))
      else postings.filter(size(col("occ")) >= 2)
    // Ordered cross-doc pairs generated IN PLACE from each posting
    // list (a nested-transform expression, no second shuffle, no
    // self-join): posting order is irrelevant because the id_b > id_a
    // filter is symmetric-complete.
    val occ = col("occ")
    val prs = kept
      .select(explode(flatten(transform(occ, a =>
        transform(filter(occ, b => b.getField("id") > a.getField("id")), b =>
          struct(a.getField("id").as("id_a"), b.getField("id").as("id_b"),
            a.getField("pos").as("pos_a"), b.getField("pos").as("pos_b")))))).as("pr"))
      .select(col("pr.id_a"), col("pr.id_b"), col("pr.pos_a"), col("pr.pos_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    // The final groupBy's keys extend the window's partition keys, so
    // the aggregate rides the window exchange — two shuffles total
    // (gram postings + diagonal runs) for the whole operator.
    prs
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("island"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (max(col("pos_a")) - min(col("pos_a")) + lit(minSpan)).cast("long").as("span_len"))
      .select(col("id_a"), col("id_b"),
        col("start_a").cast("long").as("start_a"),
        col("start_b").cast("long").as("start_b"), col("span_len"))
  }

  /** Positional `n`-gram posting lists: `(ghash, gram, occ)` with
    * `occ = [(id, pos), …]` over the whole corpus — ONE map-side
    * tokenize/explode scan (the [[wordShingles]] arrays_zip trick,
    * linear in document length; 0-based positions; documents shorter
    * than `n` tokens emit nothing) and ONE shuffle keyed on the
    * 64-bit gram hash (gram string in the key too, so a hash
    * collision splits groups instead of corrupting pairs). List
    * length is the gram's corpus occurrence count — the df ≥ 2
    * filter, the occupancy cap, and the audit all read it without
    * re-scanning. Shared by [[sharedSpans]] and [[cappedSpanGrams]]
    * so the audit sees exactly the pair generator's input. */
  private def spanPostings(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val w = split(trim(col(textCol)), "\\s+")
    val cnt = size(w) - (n - 1)
    val zipped = arrays_zip((0 until n).map(j =>
      slice(w, lit(j + 1), greatest(cnt, lit(0)))): _*)
    val gramArr = transform(zipped,
      s => concat_ws(" ", (0 until n).map(j => s.getField(j.toString)): _*))
    df.select(col(idCol), posexplode(gramArr).as(Seq("pos", "gram")))
      .groupBy(xxhash64(col("gram")).as("ghash"), col("gram"))
      .agg(collect_list(struct(col(idCol).as("id"), col("pos").as("pos"))).as("occ"))
  }

  /** The spans-family occupancy audit: grams whose corpus-wide
    * occurrence count exceeds `maxGramOccupancy` — exactly what a
    * capped [[sharedSpans]] run silently skipped, with the count. */
  def cappedSpanGrams(
      df: DataFrame, idCol: String, textCol: String,
      minSpan: Int, maxGramOccupancy: Int): DataFrame = {
    require(maxGramOccupancy > 0, "audit needs a positive cap")
    spanPostings(df, idCol, textCol, minSpan)
      .filter(size(col("occ")) > maxGramOccupancy)
      .select(col("gram"), size(col("occ")).cast("long").as("n_occurrences"))
  }

  /** Per-document removal intervals from [[sharedSpans]] output:
    * keep-earliest policy (the span text survives in the LOWER id;
    * every b-side occurrence is marked for removal), overlapping and
    * adjacent intervals merged per document. Rows:
    * `(doc_id, span_start, span_end)` — 0-based, end-exclusive token
    * offsets. Interval merging is a keyed window per document
    * (running max of span ends), never a global sort. */
  def spanRemovalIntervals(
      spans: DataFrame, idCol: String = "id_b",
      startCol: String = "start_b", lenCol: String = "span_len"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = spans.select(col(idCol).as("doc_id"), col(startCol).as("s"),
      (col(startCol) + col(lenCol)).as("e"))
    val w = Window.partitionBy("doc_id").orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("__new", when(prevMax.isNull || col("s") > prevMax, 1).otherwise(0))
      .withColumn("__island",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("s")).cast("long").as("span_start"),
        max(col("e")).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** One (bands, rowsPerBand) candidate for [[LshPlan.forThreshold]]:
    * its S-curve inflection (1/b)^(1/r) plus the candidate
    * probability 1−(1−s^r)^b at the target and at ±0.1 around it —
    * what the banding actually does to near-misses and clear dups. */
  final case class LshPlan(
      bands: Int, rowsPerBand: Int, inflection: Double,
      pAtThreshold: Double, pBelow: Double, pAbove: Double)

  object LshPlan {
    /** P(candidate | Jaccard = s) under (b, r) banding. */
    def candidateProbability(s: Double, bands: Int, rowsPerBand: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)

    /** Pick the (bands, rowsPerBand) split of `numHashes` whose
      * S-curve inflection (1/b)^(1/r) sits closest to the target
      * Jaccard `threshold` — the standard parameter question every
      * MinHash deployment answers by folklore, as a pure driver-side
      * function (nothing distributed; feed the result to
      * [[candidatePairs]]). Only exact divisors of `numHashes` are
      * considered: padding bands with reused rows skews the curve.
      * Ranked by |inflection − threshold|, ties to MORE bands (higher
      * recall at the threshold — missed dups cost more than extra
      * verify candidates, which the exact-Jaccard verify discards). */
    def forThreshold(numHashes: Int, threshold: Double): LshPlan = {
      require(numHashes >= 2, s"numHashes must be >= 2: $numHashes")
      require(threshold > 0 && threshold < 1, s"threshold out of (0,1): $threshold")
      val candidates = (1 to numHashes).filter(numHashes % _ == 0)
        .map { r =>
          val b = numHashes / r
          val inflection = math.pow(1.0 / b, 1.0 / r)
          LshPlan(b, r, inflection,
            candidateProbability(threshold, b, r),
            candidateProbability(math.max(threshold - 0.1, 0.0), b, r),
            candidateProbability(math.min(threshold + 0.1, 1.0), b, r))
        }
      candidates.minBy(p => (math.abs(p.inflection - threshold), -p.bands))
    }
  }
}
