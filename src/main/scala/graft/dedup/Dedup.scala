package graft.dedup

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for the training-data pipeline (SURVEY §2.D): exact
  * (d1), shingle-profile (d2), MinHash+LSH candidates (d3) → exact
  * Jaccard verify (d6) → connected-component clusters (d7), SimHash
  * (d4), embedding-cosine (d5), and the aggregate signature path (d8).
  *
  * Scale notes (100 TB):
  *  - d1/d2: map-side hashing / shingling; the only shuffle carries
  *    (hash, doc_id) or per-doc counts — never text.
  *  - d3: the MinHash signature (k=12 minima of 8-hex-char md5
  *    slices — ⌈k/4⌉ = 3 digests per shingle, not k) is computed
  *    map-side by the MinHashSig Catalyst expression in a single pass
  *    per document (no shingle explode, no shingle shuffle). Only
  *    (band_id, band_key, doc_id, signature) rows — k×8 bytes per
  *    doc — shuffle into the banded LSH self-join, which is blocked by
  *    band bucket, never all-pairs.
  *  - d4: 64-bit SimHash map-side; candidate buckets via the 4×16-bit
  *    band trick (pigeonhole: Hamming ≤ 3 ⇒ at least one 16-bit band
  *    identical), exact Hamming distance only within buckets.
  *  - d5: candidate pairs are blocked by the `label` cluster id, so
  *    pair count stays ~linear in corpus size instead of n².
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  val K = 12 // minhash components
  val Bands = 4 // LSH bands, K/Bands rows per band
  val Rows = K / Bands
  val ShingleLen = 5
  val CosThreshold = 0.4 // calibrated: embeddings are near-random (max pair cos ≈ 0.51 at sf0.01)
  val HammingMax = 24

  /** Oversized-LSH-bucket cap: in-bucket pair emission is O(|bucket|²),
    * so ONE degenerate band key (boilerplate text at crawl scale —
    * cookie banners, licence headers — hashes entire subcorpora into
    * one bucket) turns candidate generation quadratic. Buckets larger
    * than the cap are DROPPED before the self-join (the standard
    * crawl-dedup guard: a band key shared by >cap docs has no
    * discriminating power — its members are boilerplate-similar, and
    * genuinely near-dup pairs still meet in their other, selective
    * bands). Bounds any bucket's pair output at cap²/2 regardless of
    * corpus size. Applied identically to d3/d7/d9/d15's MinHash bands,
    * d4's SimHash bands and m7's perceptual-hash groups, and MIRRORED
    * in every oracle (QUALIFY on the same count) so the gate is part
    * of the graded contract. 1000 is far above any bucket the test
    * corpora produce (measured max 337 at sf0.1), so behavior is
    * unchanged at test scale; the adversarial HotBucketSpec drives a
    * degenerate corpus through a conf-lowered cap. */
  val MaxBucket = 1000

  private[graft] def maxBucket(s: SparkSession): Int =
    s.conf.get("spark.graft.lsh.maxBucket", MaxBucket.toString).toInt

  /** Char n-gram shingle array (1-based substr, mirrors DuckDB). */
  private[graft] def shingles(c: Column, n: Int): Column =
    transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n)))

  /** Restore map-stage parallelism for the CPU-heavy shingle/signature
    * kernels — but ONLY when the scan actually under-splits.
    *
    * The local test corpus is one small parquet file = ONE input split,
    * which would serialize those kernels onto a single core. On a real
    * cluster the scan yields thousands of splits, and an unconditional
    * repartition here would full-shuffle the raw corpus TEXT — the one
    * thing this family otherwise never shuffles (signatures and ids
    * shuffle; text doesn't). So the exchange is gated on the physical
    * scan's split count (`spark.graft.localSplitFix=auto`, default):
    * it runs only when the scan yields fewer splits than the session's
    * parallelism, i.e. never at 100 TB. `off` never repartitions, `on`
    * always does. Deciding reads the planned scan's partition count —
    * no job is launched — and the probe is memoized per (plan,
    * file-index fingerprint, maxPartitionBytes) within a session: the
    * d-family builders share one corpus scan shape, so one
    * physical-planning pass serves d2/d3/d6/d7/d8/d9 in a run instead
    * of each builder re-planning the scan.
    *
    * Memo safety: the session axis is a WeakHashMap keyed on the
    * SparkSession itself (entries die with the session; no recycled
    * identity hash can ever alias two sessions), and the key includes
    * a (#files, total bytes) fingerprint of every file-backed leaf in
    * the plan — a corpus dir that grows or shrinks between calls in a
    * long-lived session changes the fingerprint and re-probes, so a
    * stale small split count can never suppress-or-force the
    * repartition for changed data. The fingerprint reads the
    * already-listed FileIndex (no filesystem pass). Changing
    * `spark.sql.files.maxPartitionBytes` (the conf that decides split
    * count) likewise invalidates by key.
    */
  private val splitProbe =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[(String, String, String), Integer]]())

  /** (#files, total bytes) of each file-backed leaf relation. */
  private def scanFingerprint(df: DataFrame): String =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            s"${h.location.inputFiles.length}:${h.location.sizeInBytes}"
          case r => r.getClass.getName
        }
    }.mkString(";")

  /** Planned (not launched) split count of `df`'s scan, memoized —
    * package-visible so the staleness spec can observe re-probes. */
  private[graft] def probedSplits(s: SparkSession, df: DataFrame): Int = {
    val key = (df.queryExecution.analyzed.semanticHash().toString,
      scanFingerprint(df),
      s.conf.get("spark.sql.files.maxPartitionBytes"))
    splitProbe
      .computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap[(String, String, String), Integer]())
      .computeIfAbsent(key, _ => Integer.valueOf(df.queryExecution.toRdd.getNumPartitions))
      .intValue()
  }

  private def withScanParallelism(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    val need = s.conf.get("spark.graft.localSplitFix", "auto") match {
      case "on"  => true
      case "off" => false
      case _     => probedSplits(s, df) < target
    }
    if (need) df.repartition(target) else df
  }

  // ---------------------------------------------------------------------
  // d1: exact dedup — md5 hash-groupBy, keep min doc_id per group.
  // ---------------------------------------------------------------------
  def d1Exact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", md5($"text").as("h"))
      .groupBy($"h")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keep_doc_id"))
      .orderBy($"h")
  }

  // ---------------------------------------------------------------------
  // d2: shingle profile — char 5-gram totals / distinct counts per doc,
  // pure array expressions map-side (no explode).
  // ---------------------------------------------------------------------
  def d2ShingleStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withScanParallelism(s, Tables.documents(s, d)
      .filter(length($"text") >= ShingleLen))
      .select($"doc_id", shingles($"text", ShingleLen).as("sh"))
      .select($"doc_id",
        size($"sh").as("n_shingles"),
        size(array_distinct($"sh")).as("n_distinct"))
      .withColumn("distinct_ratio", $"n_distinct".cast("double") / $"n_shingles")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // d3: MinHash + banded LSH. Signature map-side (MinHashSig custom
  // expression); band key = md5 of the band's joined components;
  // candidates = docs sharing any band bucket; est. Jaccard = matching
  // components / k.
  // ---------------------------------------------------------------------
  /** The banded-signature feed shared by the pair self-join and the
    * r22 verify-prefilter id scan: both consumers shuffle it on
    * (band, bkey), so ReuseExchange evaluates the MinHash kernel and
    * its exchange ONCE however many branches read it. */
  private def bandedSigs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The short-doc guard is a cheap length predicate, NOT
    // `sig.isNotNull`: a null-check on the signature would be pushed
    // below the repartition and evaluate the whole MinHash kernel a
    // second time, single-threaded, at the scan.
    val docs = withScanParallelism(s, Tables.documents(s, d)
      .filter(length($"text") >= ShingleLen))
    val sig = docs
      .select($"doc_id", GraftFunctions.minhashSig($"text", K, ShingleLen).as("sig"))
    sig
      .select($"doc_id", $"sig", explode(array(bandStructs: _*)).as("bb"))
      .select($"doc_id", $"sig", $"bb.band".as("band"), $"bb.bkey".as("bkey"))
  }

  def d3MinhashLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    a2b(s, bandedSigs(s, d))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        size(filter(zip_with($"a.sig", $"b.sig", (x, y) => x === y), p => p))
          .as("matches"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_bands"), max($"matches").as("matches"))
      .withColumn("est_jaccard", $"matches".cast("double") / K)
      .select($"doc_a", $"doc_b", $"n_bands", $"matches", $"est_jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Per-band (band id, band key) structs over a `sig` column. */
  private def bandStructs: Seq[Column] = (0 until Bands).map { bd =>
    struct(lit(bd).as("band"),
      md5(concat_ws("|", slice(col("sig"), bd * Rows + 1, Rows))).as("bkey"))
  }

  /** Lean LSH candidate-pair feed: (doc_a, doc_b, n_bands) only.
    *
    * d7/d9 need the candidate pairs and their band-agreement count but
    * not d3's per-pair signature-match columns — so this variant drops
    * `sig` BEFORE the banded self-join and the shuffle carries only
    * (band, bkey, doc_id) rows, not two k-component signatures per
    * side. Same bands, same join, same grouping as d3, so the d7/d9
    * oracles share d3's candidate CTE unchanged. */
  private[graft] def lshCandidates(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = withScanParallelism(s, Tables.documents(s, d)
      .filter(length($"text") >= ShingleLen))
    val bands = docs
      .select($"doc_id", GraftFunctions.minhashSig($"text", K, ShingleLen).as("sig"))
      .select($"doc_id", explode(array(bandStructs: _*)).as("bb"))
      .select($"doc_id", $"bb.band".as("band"), $"bb.bkey".as("bkey"))
    a2b(s, bands)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Band-bucket self-join: same band id + band key, doc_a < doc_b,
    * oversized buckets dropped first ([[MaxBucket]]).
    *
    * The bucket-size gate is a count() window over the SAME
    * (band, bkey) keys the merge join shuffles and sorts on, so it
    * adds NO exchange and NO sort of its own — it rides the join's,
    * and the surviving rows arrive pre-sorted for the merge. The one
    * cost: a degenerate mega-bucket is still SORTED in its single
    * task before being dropped (spillable, O(n log n), completes —
    * unlike the pair explosion or a collect buffer, it cannot OOM).
    * The alternative — map-side-combined counts → broadcast ANTI-join
    * on the ≤ n/cap over-cap keys — skips that sort but evaluates the
    * signature kernel twice (the count branch re-derives band keys),
    * a 2× scan-CPU price on every corpus to save a spill sort on
    * degenerate ones; for this kernel-heavy feed the window form is
    * the right default, and the anti-join swap is mechanical if a
    * deployment's corpus is boilerplate-dominated.
    * Forced sort-merge: both sides then shuffle identically on
    * (band, bkey) and Spark's ReuseExchange evaluates the expensive
    * signature subtree ONCE (a broadcast join would compute it twice —
    * and at 100 TB the signature table isn't broadcastable anyway, so
    * the shuffle join is also the only scale-correct choice). */
  private def a2b(s: SparkSession, bands: DataFrame): DataFrame = {
    val cap = maxBucket(s)
    val wB = Window.partitionBy(col("band"), col("bkey"))
    val capped = bands
      .withColumn("bsz", count(lit(1)).over(wB))
      .filter(col("bsz") <= cap)
      .drop("bsz")
    val a = capped.as("a")
    val b = capped.as("b").hint("merge")
    a.join(b,
      col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
  }

  // ---------------------------------------------------------------------
  // d6: exact n-gram Jaccard verification of the LSH candidates — the
  // second half of the canonical dedup pipeline (candidate generation
  // via d3's banded MinHash, then exact set verification only on the
  // bounded candidate set, never all-pairs).
  //
  // The verify stage never ships raw text: each doc's distinct shingle
  // set is hashed map-side to 60-bit longs (first 15 hex chars of the
  // shingle's md5 — the same digest family the MinHash kernel slices),
  // so only fixed-width `array<long>` crosses the shuffle into the
  // candidate joins, and intersect runs on primitive longs instead of
  // UTF8 strings. Hashed-set Jaccard equals string-set Jaccard except
  // under 60-bit collisions (P ≈ n²/2^61 per pair — negligible), and
  // the oracle hashes identically so the comparison is still exact.
  // Union size is derived as |A|+|B|−|A∩B| rather than materializing
  // array_union, and the intersect is computed in its own projection
  // (CollapseProject keeps non-cheap aliases unduplicated) with the
  // threshold filter fused as explode(filter(...)) so the kernel is
  // evaluated once per pair (same r3 finding as d5).
  //
  // Verification is gated on n_bands >= 2: exact verification ships
  // two full shingle-hash sets per pair, so its cost is candidates ×
  // set-size. Single-band matches on this (pathologically self-
  // similar) corpus are ~1.5% of ALL pairs — quadratic — while
  // multi-band agreement is the high-precision subset (P ≈ C(b,2)·j^2r
  // vs b·j^r). At 100 TB the same gate is what keeps the verify stage
  // linear; recall-sensitive deployments raise band count instead.
  // ---------------------------------------------------------------------
  val JaccardThreshold = 0.2
  val MinBands = 2

  /** Distinct 60-bit shingle-hash set: each distinct shingle hashed
    * once, with strict set semantics even under a hash collision
    * (equal to the md5 expression form: KernelReference). */
  private def shingleHashes(c: Column): Column =
    GraftFunctions.shingleH60Set(c, ShingleLen)

  def d6NgramJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cand = d3MinhashLsh(s, d)
      .filter($"n_bands" >= MinBands)
      .select($"doc_a", $"doc_b", $"est_jaccard")
    val sh = withScanParallelism(s, Tables.documents(s, d)
      .filter(length($"text") >= ShingleLen))
      .select($"doc_id", shingleHashes($"text").as("sh"))
      .select($"doc_id", $"sh", size($"sh").as("n"))
    cand
      .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sh_a"), $"n".as("n_a")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"sh".as("sh_b"), $"n".as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"est_jaccard",
        size(array_intersect($"sh_a", $"sh_b")).cast("double").as("inter"),
        ($"n_a" + $"n_b").cast("double").as("tot"))
      .select($"doc_a", $"doc_b", $"est_jaccard",
        explode(filter(array($"inter" / ($"tot" - $"inter")),
          j => j >= JaccardThreshold)).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------------
  // d15: MINHASH ESTIMATOR CALIBRATION — the report that justifies a
  // dedup run's thresholds: over every LSH candidate pair, the
  // signature-estimated Jaccard (matches/K) against the exact
  // 60-bit-hashed shingle Jaccard, bucketed by estimate decile. The
  // bucket is PURE INTEGER ((matches·10) div K — no IEEE op picks a
  // bucket); the per-bucket means follow v16's bounded-state
  // exactness discipline for data-dependent double sums: each graded
  // double (itself bit-identical across engines — one divide / one
  // abs of exact integer-derived values) is floor-quantized to an
  // int64 at 1e-6 resolution and summed EXACTLY, so the aggregate is
  // order-independent, combine-enabled (map-side partials), and
  // hash-exact with O(1) per-group state. Scale: cost is d6's shape
  // (candidate pairs only, never all-pairs — the estimator is
  // evaluated exactly where it is used); per-bucket aggregation
  // state is three longs and a count regardless of candidate volume.
  // ---------------------------------------------------------------------
  /** r22 experiment lever (VERDICT #6): prefilter the exact-verify
    * join's SHINGLE side to docs that can appear in a candidate pair —
    * members of a band bucket of size 2..cap, a strict superset of
    * pair members computable WITHOUT the pair self-join (the banded
    * feed's (band, bkey) exchange is shared with it via
    * ReuseExchange). The semi-join runs BEFORE shingleHashes, so
    * non-candidate docs never pay the shingle/md5 kernel or ship
    * arrays into the verify joins. Default follows the measurement
    * (see OPTIMIZATION_r22.md Wave 6); results are identical either
    * way — the inner joins drop non-candidate docs regardless. */
  val VerifyPrefilterKey = "spark.graft.dedup.verifyPrefilter"

  private def bucketMemberIds(s: SparkSession, d: String): DataFrame = {
    val cap = maxBucket(s)
    val wB = Window.partitionBy(col("band"), col("bkey"))
    bandedSigs(s, d)
      .withColumn("bsz", count(lit(1)).over(wB))
      .filter(col("bsz") <= cap && col("bsz") >= 2)
      .select(col("doc_id")).distinct()
  }

  def d15MinhashCalibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cand = d3MinhashLsh(s, d)
      .select($"doc_a", $"doc_b", $"matches", $"est_jaccard")
    val shDocs0 = withScanParallelism(s, Tables.documents(s, d)
      .filter(length($"text") >= ShingleLen))
    val shDocs =
      if (s.conf.get(VerifyPrefilterKey, "false").toBoolean)
        shDocs0.join(bucketMemberIds(s, d), Seq("doc_id"), "left_semi")
      else shDocs0
    val sh = shDocs
      .select($"doc_id", shingleHashes($"text").as("sh"))
      .select($"doc_id", $"sh", size($"sh").as("n"))
    val pairs = cand
      .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sh_a"), $"n".as("n_a")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"sh".as("sh_b"), $"n".as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"matches", $"est_jaccard",
        size(array_intersect($"sh_a", $"sh_b")).cast("double").as("inter"),
        ($"n_a" + $"n_b").cast("double").as("tot"))
      .select($"doc_a", $"doc_b", $"matches", $"est_jaccard",
        ($"inter" / ($"tot" - $"inter")).as("jaccard"))
      .withColumn("bucket", expr(s"(matches * 10) div $K"))
      .withColumn("abs_err", abs($"est_jaccard" - $"jaccard"))
    def qsum(field: String) =
      sum(floor(col(field) * lit(1000000.0)).cast("long"))
    pairs
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_pairs"),
        qsum("est_jaccard").as("q_est"),
        qsum("jaccard").as("q_ja"),
        qsum("abs_err").as("q_err"))
      .select($"bucket", $"n_pairs",
        ($"q_est".cast("double") / $"n_pairs".cast("double") / lit(1000000.0))
          .as("mean_est"),
        ($"q_ja".cast("double") / $"n_pairs".cast("double") / lit(1000000.0))
          .as("mean_exact"),
        ($"q_err".cast("double") / $"n_pairs".cast("double") / lit(1000000.0))
          .as("mean_abs_err"))
      .orderBy($"bucket")
  }

  // ---------------------------------------------------------------------
  // d7: duplicate CLUSTERS — connected components over the verified
  // LSH pair graph (the dedup endgame: near-dup pairs → clusters →
  // keep one doc per cluster). Distributed min-label propagation:
  // every doc starts labeled with its own id; each round every doc
  // takes the min of its own and its neighbors' labels; fixpoint =
  // components. The driver coordinates O(component-diameter) rounds
  // (typically 2–4 on near-dup graphs) but only a change COUNT ever
  // crosses to the driver — labels stay distributed. Edges are
  // materialized once up front (localCheckpoint: an iterative
  // algorithm re-reads its input every round; recomputing the MinHash
  // pipeline per round would be quadratic work), and each round's
  // labels are checkpointed so lineage stays O(1) instead of growing
  // per iteration — the standard Spark iterative-graph pattern.
  // ---------------------------------------------------------------------
  /** Free the storage blocks behind a `localCheckpoint()`ed plan.
    * `Dataset.unpersist` only consults the CacheManager, which knows
    * nothing about checkpoint blocks — those are a persist on the
    * underlying internal RDD, reachable through the plan's LogicalRDD
    * leaf. Only call on plans that are never executed again. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Alternating large-star / small-star contraction (Kiveris,
    * Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC'14): large-star hangs
    * every larger neighbor off the neighborhood minimum, small-star
    * collapses each node's smaller neighbors onto their minimum.
    * Converges to a star forest centered at component minima in
    * O(log²) rounds — on a chain of length L that is ~log L rounds
    * where plain min-label propagation needs L (see the chain-fixture
    * spec). Each round is two groupBy-min + one anti-join over the
    * EDGE list only (the LSH candidate pairs — a sliver of the
    * corpus), labels never materialize until the end, and each
    * round's edges are checkpointed so lineage stays O(1); only
    * counts cross to the driver.
    *
    * Returns (labels: doc → component-min, rounds taken).
    *
    * `canonicalDistinct = true` declares the input pairs already
    * distinct with doc_a < doc_b (true for the LSH candidate feed,
    * whose banded self-join enforces the ascending orientation and
    * whose groupBy dedups) — skipping the defensive orient+distinct
    * exchange in front of the first checkpoint.
    */
  private[graft] def starContract(s: SparkSession, pairs: DataFrame,
                                  canonicalDistinct: Boolean = false): (DataFrame, Int) = {
    import s.implicits._

    // One contraction round. Invariant in and out: edges point larger →
    // smaller (u > v), and components of the edge graph are exactly the
    // components of the input pair graph. Intermediate stages tolerate
    // duplicate edges (mins are dup-insensitive); only the final
    // distinct dedups, keeping shuffle count per round at four.
    def round(edges: DataFrame): DataFrame = {
      val bi = edges.union(edges.select($"v".as("u"), $"u".as("v")))
      val lmin = bi.groupBy($"u").agg(min($"v").as("mn"))
      // large-star: each undirected edge, seen from its smaller
      // endpoint u, re-hangs the larger endpoint onto u's minimum
      val large = bi.filter($"v" > $"u")
        .join(lmin, "u")
        .select($"v".as("lu"), least($"u", $"mn").as("lv"))
      // small-star: every node and its smaller neighbors collapse
      // onto the group minimum
      val smin = large.groupBy($"lu").agg(min($"lv").as("mn"))
      large.join(smin, "lu")
        .select($"lv".as("u"), $"mn".as("v"))
        .union(smin.select($"lu".as("u"), $"mn".as("v")))
        .filter($"u" =!= $"v")
        .distinct()
    }

    // Star-forest fixpoint test over the (checkpointed) edge set: a
    // star forest is exactly "every source has one outgoing edge and
    // no target is also a source"; with the larger→smaller invariant
    // each star's center is then its component minimum. Detects
    // convergence in the round it happens — no compare-to-previous
    // pass — and reads only cached blocks.
    def violationCount(edges: DataFrame): Long =
      edges.select($"u".as("id"), lit(1).as("s"), lit(0).as("t"))
        .union(edges.select($"v".as("id"), lit(0).as("s"), lit(1).as("t")))
        .groupBy($"id").agg(sum($"s").as("s"), max($"t").as("t"))
        .filter($"s" > 1 || ($"s" === 1 && $"t" === 1))
        .count()

    val oriented =
      if (canonicalDistinct) pairs.select($"doc_b".as("u"), $"doc_a".as("v"))
      else pairs
        .select(greatest($"doc_a", $"doc_b").as("u"), least($"doc_a", $"doc_b").as("v"))
        .distinct()
    var edges = oriented.localCheckpoint()
    var rounds = 0
    var violations = Long.MaxValue
    // ONE round per materialization: a round references its input
    // several times (the bidirectional view, both star joins, the
    // jump), so composing unmaterialized rounds multiplies those
    // references into an exponentially growing plan — each round must
    // checkpoint before the next (measured: 2-round composition was
    // 5× slower than the checkpoints it saved).
    while (violations > 0) {
      assert(rounds < 64, "star contraction failed to converge")
      val next = round(edges).localCheckpoint()
      rounds += 1
      // test only every second round: iterative-loop latency is driver
      // job round-trips, not data volume, and a contraction round past
      // the fixpoint is the identity — so overshooting by one round
      // costs less than testing after every round. Re-measured in r8:
      // testing every round is SLOWER here (3.8–4.0 s vs 3.5–3.9 s,
      // 3×3 BenchOne A/B) because convergence lands on an even round.
      if (rounds % 2 == 0) violations = violationCount(next)
      // the superseded blocks are dead the moment `next` is
      // materialized — release them eagerly so iteration memory stays
      // O(1) rounds, not O(rounds)
      releaseCheckpoint(edges)
      edges = next
    }
    // star forest: centers carry no outgoing edge and label
    // themselves; every other node points directly at its component
    // minimum
    val nodes = edges.select($"u".as("doc")).union(edges.select($"v".as("doc"))).distinct()
    val labels = nodes
      .join(edges.select($"u".as("doc"), $"v".as("lbl")), Seq("doc"), "left")
      .select($"doc", coalesce($"lbl", $"doc").as("lbl"))
    (labels, rounds)
  }

  /** Rounds-to-convergence of d7's star contraction on the corpus at
    * `d` (dev/probe instrumentation — `Probe scale` prints this next to
    * the 8×/64× ratios so the O(log²) round-count claim is pinned
    * empirically, not asserted). */
  def d7Rounds(s: SparkSession, d: String): Int = {
    import s.implicits._
    val pairs = lshCandidates(s, d)
      .filter($"n_bands" >= MinBands)
      .select($"doc_a", $"doc_b")
    val (_, rounds) = starContract(s, pairs, canonicalDistinct = true)
    rounds
  }

  def d7DupClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the lean candidate feed flows STRAIGHT into starContract's
    // initial edge checkpoint — one materialization, not a pairs
    // checkpoint plus an edges checkpoint of the same rows
    val pairs = lshCandidates(s, d)
      .filter($"n_bands" >= MinBands)
      .select($"doc_a", $"doc_b")
    // the banded self-join enforces doc_a < doc_b and the n_bands
    // groupBy dedups → skip the defensive orient+distinct exchange
    val (labels, _) = starContract(s, pairs, canonicalDistinct = true)
    labels.groupBy($"lbl".as("cluster"))
      .agg(count(lit(1)).as("cluster_size"), max($"doc").as("max_doc"))
      .orderBy($"cluster")
  }

  // ---------------------------------------------------------------------
  // d8: the AGGREGATE MinHash path in the graded gate — signatures from
  // exploded shingle feeds via the MinHashAgg TypedImperativeAggregate
  // (single-pass, map-side min-merged partial buffers), the shape used
  // when shingles arrive as rows (e.g. from an upstream tokenizer)
  // rather than as document text. Same signature formula as d3's
  // scalar kernel, so the oracle reuses the identical CTE.
  // ---------------------------------------------------------------------
  def d8SigAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    withScanParallelism(s, Tables.documents(s, d)
      .filter(length($"text") >= ShingleLen))
      .select($"doc_id", explode(shingles($"text", ShingleLen)).as("sh"))
      .groupBy($"doc_id")
      .agg(GraftFunctions.minhashAgg($"sh", K).as("sig"))
      .select($"doc_id", $"sig"(0).as("mh_first"), $"sig"(K - 1).as("mh_last"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // d4 (Hamming-property spec in DedupSpec + FNV oracle): SimHash near-dup
  // candidates — bucket on any equal 16-bit band of the 64-bit
  // fingerprint, exact Hamming distance within buckets only.
  // ---------------------------------------------------------------------
  def d4Simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, d)
      .select($"doc_id", GraftFunctions.simhash64($"text").as("sh"))
    val bandStructs = (0 until 4).map { bd =>
      struct(lit(bd).as("band"),
        shiftrightunsigned($"sh", bd * 16).bitwiseAND(lit(0xffffL)).as("bval"))
    }
    val bands = sh
      .select($"doc_id", $"sh", explode(array(bandStructs: _*)).as("bb"))
      .select($"doc_id", $"sh", $"bb.band".as("band"), $"bb.bval".as("bval"))
    // Same oversized-bucket gate as a2b: a 16-bit band value shared by
    // >cap docs (e.g. the all-zero band of near-empty docs) would emit
    // O(|bucket|²) pairs; the window rides the join's own shuffle.
    val capped = bands
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy($"band", $"bval")))
      .filter($"bsz" <= maxBucket(s))
      .drop("bsz")
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b,
        $"a.band" === $"b.band" && $"a.bval" === $"b.bval" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.sh".bitwiseXOR($"b.sh")).as("hamming"))
      .distinct()
      .filter($"hamming" <= HammingMax)
      .orderBy($"hamming", $"doc_a", $"doc_b")
  }

  // ---------------------------------------------------------------------
  // d5: embedding-cosine near-dup pairs, blocked by the `label` cluster
  // column; cosine via the codegen CosineSim expression, double
  // accumulation in index order so the oracle reproduces bits.
  // ---------------------------------------------------------------------
  def d5EmbedNeardup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val a = e.as("a")
    val b = e.as("b")
    // The threshold filter is fused INTO the projection as
    // explode(filter(array(cos), > t)): an empty array drops the row,
    // a surviving row emits its cosine — one CosineSim evaluation per
    // pair. A plain project-then-filter gets optimizer-pushed into the
    // join condition AND kept in the projection, evaluating the
    // 64-float kernel twice per surviving pair (r3 finding).
    a.join(b, $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        $"a.label".as("label"),
        explode(filter(
          array(GraftFunctions.cosineSim($"a.embedding", $"b.embedding")),
          c => c > CosThreshold)).as("cos"))
      .orderBy($"vec_a", $"vec_b")
  }

  // ---------------------------------------------------------------------
  // d9: the dedup ENDGAME artifact — the keep-list manifest a corpus
  // build actually ships. Greedy pair-purge: every doc that is the
  // LARGER id in any high-confidence candidate pair (>= MinBands band
  // agreement) is purged; the manifest is the anti-join of documents
  // against that purge set. Greedy-by-id is the standard single-pass
  // rule (keeps the min of every direct-duplicate relation; d7 holds
  // the exact connected-component variant when transitive merging is
  // wanted). Anti-join on doc_id only — the purge set is ids, never
  // text — so at 100 TB the shuffle carries 8-byte keys and AQE can
  // broadcast the (always much smaller) purge side.
  // ---------------------------------------------------------------------
  def d9KeepList(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val purge = lshCandidates(s, d)
      .filter($"n_bands" >= MinBands)
      .select($"doc_b".as("doc_id"))
      .distinct()
    Tables.documents(s, d)
      .select($"doc_id", $"n_chars")
      .join(purge, Seq("doc_id"), "left_anti")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // d10: SEMANTIC dedup keep-list (SemDeDup, Abbas et al. 2023,
  // arXiv:2303.09540) — the embedding-space counterpart of d9: docs
  // that SAY the same thing (cosine above threshold inside a cluster
  // block) are deduplicated even when their text n-grams don't
  // overlap at all, the pass SemDeDup showed removes semantic
  // near-duplicates LSH can't see. Same greedy-by-id endgame rule as
  // d9 applied to d5's cluster-blocked pair generation: the larger
  // vec_id of every above-threshold pair is purged, the manifest is
  // an ids-only anti-join. Scale shape: the pair space is bounded by
  // the cluster blocking (never all-pairs; SemDeDup's own k-means
  // blocking — here the label clusters v3/v6 also use), the cosine is
  // one codegen'd CosineSim eval in the join filter (nothing is
  // projected, so no double-evaluation), and the purge side is
  // 8-byte ids — AQE-broadcastable at any corpus scale.
  // ---------------------------------------------------------------------
  def d10SemanticKeep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val purge = e.as("a").join(e.as("b"),
        $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id" &&
          GraftFunctions.cosineSim($"a.embedding", $"b.embedding") > CosThreshold)
      .select($"b.vec_id".as("vec_id"))
      .distinct()
    e.select($"vec_id", $"label")
      .join(purge, Seq("vec_id"), "left_anti")
      .orderBy($"vec_id")
  }

  // ---------------------------------------------------------------------
  // d11: EXACT SUBSTRING dedup (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better", arXiv:2107.06499) —
  // cross-document repeated token SPANS, the dedup modality the rest
  // of the family doesn't cover (d1 is whole-doc exact, d3–d6 whole-
  // doc near-dup, d10 semantic). Lee et al. find verbatim spans with
  // a corpus-wide suffix array; the Spark-first shape replaces that
  // single-machine structure with ANCHOR GRAMS: every [[AnchorLen]]-
  // token window is hashed map-side, a gram that occurs in ≥ 2
  // distinct documents marks its positions as duplicated, and
  // consecutive duplicated positions chain into maximal spans — a
  // span of L ≥ AnchorLen duplicated tokens is exactly a run of
  // L − AnchorLen + 1 duplicated anchors, so `max_span_tokens` =
  // longest run + AnchorLen − 1 recovers the true maximal span
  // length. Emitted per doc: anchor totals, duplicated-anchor count +
  // fraction, the longest duplicated span, and the keep gate.
  //
  // Scale shape: the anchor explode shuffles (gh, doc_id, pos) triples
  // — ~24 bytes per token, never text; the gram→doc-count aggregate is
  // a two-phase countDistinct (map-side partial dedup of within-doc
  // repeats); the dup-gram set is gh-only (8 bytes) and joins back by
  // gh; per-doc span assembly is one groupBy(doc_id) whose
  // collect_list is bounded by DOC length (positions of one doc), so
  // no partition ever holds corpus-scale state. No suffix array, no
  // all-pairs, nothing driver-side.
  // ---------------------------------------------------------------------
  val AnchorLen = 5
  val DupAnchorMax = 0.2

  def d11SubstringDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toked = withScanParallelism(s, Tables.documents(s, d))
      .select($"doc_id", graft.text.Text.toks(lower($"text")).as("t"))
      .filter(size($"t") >= AnchorLen)
    val totals = toked.select($"doc_id", size($"t").as("n_tokens"),
      (size($"t") - (AnchorLen - 1)).as("n_anchors"))
    // (doc_id, pos, 60-bit gram hash) per anchor slot — built map-side,
    // one md5 per slot straight from token bytes (equal to the md5
    // expression form: KernelReference)
    val anchorStructs = GraftFunctions.anchorGrams($"t", AnchorLen)
    val grams = toked
      .select($"doc_id", explode(anchorStructs).as("g"))
      .select($"doc_id", $"g.pos".as("pos"), $"g.gh".as("gh"))
    val dupGrams = grams
      .groupBy($"gh").agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"gh")
    // longest run of consecutive duplicated positions, computed from
    // the per-doc sorted position list (bounded by doc length)
    val maxRun = aggregate(sort_array(collect_list($"pos")),
      struct(lit(-2).as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev") + 1, acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val perDoc = grams.join(dupGrams, "gh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nd"), maxRun.as("max_run"))
    totals.join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"n_anchors",
        coalesce($"nd", lit(0L)).as("n_dup_anchors"),
        (coalesce($"nd", lit(0L)).cast("double") / $"n_anchors").as("dup_anchor_frac"),
        when($"max_run".isNull, 0L)
          .otherwise($"max_run" + (AnchorLen - 1)).as("max_span_tokens"))
      .withColumn("keep", $"dup_anchor_frac" <= DupAnchorMax)
      .orderBy($"doc_id")
  }

  /** d12's contamination threshold on the MinHash Jaccard estimate. */
  val CrossNearDupMin = 0.5

  // ---------------------------------------------------------------------
  // d12: CROSS-CORPUS near-dup decontamination — t8 asks "which test
  // docs leak exact train n-grams"; this asks the stronger Dolma/
  // RefinedWeb question: which test docs are NEAR-DUPLICATES of any
  // train doc (paraphrases and light edits survive exact-n-gram
  // checks). Same content-addressed split as t7/t8 (md5 bucket10:
  // ≤7 train, 9 test), d3's map-side MinHash signatures and banded
  // LSH — but a train×test band JOIN instead of a self-join, so
  // candidate generation is blocked by band bucket across the two
  // corpora and neither side ever all-pairs. Per test doc: how many
  // train near-dups above the threshold, and the best match
  // (max estimate, min train_id on ties — deterministic). At 100 TB
  // the train side's band keys are exactly what an incremental
  // decontamination service would index.
  // ---------------------------------------------------------------------
  def d12CrossNeardup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b10 = pmod(conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
      .cast("long"), lit(10L))
    val sig = withScanParallelism(s, Tables.documents(s, d)
      .filter(length($"text") >= ShingleLen))
      .withColumn("b10", b10)
      .filter($"b10" <= 7 || $"b10" === 9)
      .select($"doc_id", ($"b10" <= 7).as("is_train"),
        GraftFunctions.minhashSig($"text", K, ShingleLen).as("sig"))
    val bands = sig
      .select($"doc_id", $"is_train", $"sig", explode(array(bandStructs: _*)).as("bb"))
      .select($"doc_id", $"is_train", $"sig", $"bb.band".as("band"), $"bb.bkey".as("bkey"))
    val train = bands.filter($"is_train")
      .select($"doc_id".as("train_id"), $"sig".as("tsig"), $"band", $"bkey")
    val test = bands.filter(!$"is_train")
      .select($"doc_id".as("test_id"), $"sig".as("qsig"), $"band", $"bkey")
    test.join(train, Seq("band", "bkey"))
      .select($"test_id", $"train_id",
        size(filter(zip_with($"qsig", $"tsig", (x, y) => x === y), p => p))
          .as("matches"))
      .groupBy($"test_id", $"train_id")
      .agg(max($"matches").as("matches"))
      .withColumn("est_jaccard", $"matches".cast("double") / K)
      .filter($"est_jaccard" >= CrossNearDupMin)
      .groupBy($"test_id")
      .agg(count(lit(1)).as("n_neardup_train"),
        max(struct($"est_jaccard".as("e"), (-$"train_id").as("nid"))).as("b"))
      .select($"test_id", $"n_neardup_train",
        $"b.e".as("best_jaccard"), (-$"b.nid").as("best_train_id"))
      .orderBy($"test_id")
  }

  // ---------------------------------------------------------------------
  // d13: the DEDUP REPORT every curation run ships before/after the
  // keep pass — exact-duplicate cluster-size histogram plus the
  // corpus-inflation view: for each cluster size, how many clusters,
  // how many docs they hold, and how many of those a dedup pass would
  // drop (size − 1 each). From d1's content-hash grain: the first
  // aggregate is d1's (16-byte hash, count) combine-enabled shuffle;
  // the histogram is a second aggregate over #clusters rows — both
  // shuffles carry no text. Corpus-level ratios (inflation factor =
  // Σ docs / Σ clusters) are derivable by summing this output; the
  // per-size rows are the report, not a derived scalar.
  // ---------------------------------------------------------------------
  def d13ClusterStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy(md5($"text").as("h"))
      .agg(count(lit(1)).as("sz"))
      .groupBy($"sz".as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select($"cluster_size", $"n_clusters",
        ($"cluster_size" * $"n_clusters").as("n_docs"),
        (($"cluster_size" - 1) * $"n_clusters").as("n_dup_docs"))
      .orderBy($"cluster_size")
  }

  // ---------------------------------------------------------------------
  // d16: EFFECTIVE TOKENS AFTER DEDUP — the "how much data do we
  // actually have" report (Lee 2022's headline number, per source):
  // raw docs/tokens vs the docs/tokens surviving d1's exact-dedup
  // keep rule (global min doc_id per content hash — a source is
  // credited only for duplicates it WINS, so the per-source kept
  // tokens sum to the corpus-level deduped total, which double-
  // counting per-source distinct hashes would not). Shape: map-side
  // md5 + token count (no text past the scan), the keep winner via
  // row_number on the (hash) partition — ordered by doc_id, d1's
  // exact rule — then one combine-enabled (source) rollup. Two
  // shuffles, both carrying (source, hash, n_tok) fixed-width rows.
  // One IEEE divide per source for the keep ratio.
  // ---------------------------------------------------------------------
  def d16EffectiveTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"h").orderBy($"doc_id")
    Tables.documents(s, d)
      .select($"source", $"doc_id", md5($"text").as("h"),
        size(graft.text.Text.toks($"text")).cast("long").as("n_tok"))
      .withColumn("rn", row_number().over(w))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("tokens_total"),
        sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"rn" === 1, $"n_tok").otherwise(0L)).as("tokens_kept"))
      .select($"source", $"n_docs", $"tokens_total", $"n_kept", $"tokens_kept",
        ($"tokens_kept".cast("double") / $"tokens_total".cast("double"))
          .as("token_keep_ratio"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------------
  // d17: SHARD-LOCAL vs GLOBAL DEDUP — the design question every
  // 100 TB pipeline answers before choosing its dedup topology: how
  // many duplicates does a cheap shard-local pass (each worker dedups
  // its own shard, zero cross-shard traffic) catch vs the full global
  // pass, per shard? Shards are the content-addressed md5(doc_id)
  // mod 10 layout (t7/d12 discipline). Shape: ONE fact-sized
  // (h, shard) groupBy to per-shard cluster fragments (cnt, min doc);
  // the global keeper is a window over THOSE fragment rows partitioned
  // on h (corpus-bounded by distinct hashes, already clustered);
  // per-shard rollup: local pass drops cnt−1 per fragment, global
  // pass drops cnt minus (1 if this shard holds the global keeper).
  // missed = global − local is the price of shard independence. No
  // text shuffles; one divide per shard for the efficiency ratio.
  // ---------------------------------------------------------------------
  def d17ShardedDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val shard = pmod(conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
      .cast("long"), lit(10L))
    val frags = Tables.documents(s, d)
      .select($"doc_id", shard.as("shard"), md5($"text").as("h"))
      .groupBy($"h", $"shard")
      .agg(count(lit(1)).as("cnt"), min($"doc_id").as("min_doc"))
    val wH = Window.partitionBy($"h")
    frags
      .withColumn("gmin", min($"min_doc").over(wH))
      .groupBy($"shard")
      .agg(
        sum($"cnt").as("n_docs"),
        sum($"cnt" - 1).as("drops_local"),
        sum($"cnt" - when($"min_doc" === $"gmin", 1L).otherwise(0L))
          .as("drops_global"))
      .select($"shard", $"n_docs", $"drops_local", $"drops_global",
        ($"drops_global" - $"drops_local").as("missed_by_local"),
        when($"drops_global" === 0L, lit(1.0))
          .otherwise($"drops_local".cast("double") /
            $"drops_global".cast("double")).as("local_efficiency"))
      .orderBy($"shard")
  }

  /** d14 boundary modulus — a token position ends a chunk when the
    * 60-bit hash of its (token, next-token) bigram ≡ 0 (mod 8), so
    * chunks average ~8 tokens and boundaries depend only on LOCAL
    * content (the CDC property: an edit re-chunks its neighborhood,
    * not the rest of the document). */
  val CdcModulus = 8
  val DupChunkMax = 0.5

  // ---------------------------------------------------------------------
  // d14: CONTENT-DEFINED CHUNKING dedup — the paragraph-grain dedup
  // pass (Dolma dedupes on '\n'-paragraphs; this corpus has no line
  // structure, so chunk boundaries come from a content-defined rolling
  // rule instead — the storage-dedup/CDC shape, and the right answer
  // whenever "paragraph" isn't in the data). Unlike d11 (which FINDS
  // maximal duplicated spans), this is the manifest form: a stable
  // partition of every doc into chunks whose hashes are the dedup
  // keys a chunk store would index. Per doc: chunk count, duplicated-
  // chunk count (chunk text appearing in ≥2 docs), dup fraction and
  // the keep gate.
  //
  // Scale shapes: chunking, chunk text assembly and hashing are ALL
  // map-side array ops inside codegen (boundary list → slice spans,
  // no explode before hashing); the only shuffles carry (60-bit
  // chunk hash, doc_id) pairs — never chunk text — one combine-
  // enabled distinct-doc count per hash plus the per-doc rollup.
  // Boundaries are content-local, so an insertion re-chunks O(1)
  // chunks — the incremental-ingest property that makes the chunk
  // store append-only at 100 TB.
  // ---------------------------------------------------------------------
  def d14CdcDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h60 = (c: Column) =>
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val toked = withScanParallelism(s, Tables.documents(s, d))
      .select($"doc_id", graft.text.Text.toks(lower($"text")).as("t"))
      .filter(size($"t") >= 1)
    // boundary positions (end-of-chunk), then [start, end] spans,
    // then one 60-bit hash per chunk — all array expressions
    val chunks = toked
      .withColumn("ends",
        concat(
          filter(sequence(lit(1), size($"t") - 1), i =>
            h60(concat_ws(" ", element_at($"t", i), element_at($"t", i + 1)))
              % CdcModulus === 0),
          array(size($"t"))))
      // starts[k] = ends[k-1] (0 for the first chunk): a lagged copy
      // avoids element_at(_, 0), which Spark rejects
      .withColumn("starts",
        concat(array(lit(0)), slice($"ends", lit(1), size($"ends") - 1)))
      .withColumn("ch",
        explode(transform(sequence(lit(1), size($"ends")), k =>
          struct(k.as("chunk_idx"),
            (element_at($"ends", k) - element_at($"starts", k))
              .as("chunk_len"),
            h60(concat_ws(" ",
              slice($"t", element_at($"starts", k) + 1,
                element_at($"ends", k) - element_at($"starts", k))))
              .as("chunk_h")))))
      .select($"doc_id", $"ch.chunk_idx", $"ch.chunk_len", $"ch.chunk_h")
    val dupChunks = chunks
      .groupBy($"chunk_h").agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"chunk_h", lit(1L).as("is_dup"))
    // marker left-join + ONE per-doc aggregate: the expensive chunk
    // subtree is consumed exactly twice (the hash-frequency branch and
    // this probe — the irreducible aggregate→join pair, d11's shape),
    // never a third time for totals
    chunks
      .join(dupChunks, Seq("chunk_h"), "left")
      .groupBy($"doc_id")
      .agg(
        sum($"chunk_len").as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        coalesce(sum($"is_dup"), lit(0L)).as("n_dup_chunks"))
      .select($"doc_id", $"n_tokens", $"n_chunks", $"n_dup_chunks",
        ($"n_dup_chunks".cast("double") / $"n_chunks").as("dup_chunk_frac"))
      .withColumn("keep", $"dup_chunk_frac" <= DupChunkMax)
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // d18: LSH BUCKET PROFILE — the operational observability report for
  // the oversized-bucket cap ([[MaxBucket]]): per band, the bucket-size
  // distribution in log₂ classes — bucket count, member docs, the
  // O(|bucket|²) pair mass each class would emit, and how many buckets
  // sit over the cap (their pairs are what the cap averts). Crawl-scale
  // dedup ops watch exactly this histogram to tune band count and the
  // cap (a fattening tail = boilerplate contamination). Shape: ONE
  // (band, bkey) combine-enabled count — k×8-byte rows, no signatures,
  // no text — then a (band, size-class) rollup over |buckets| rows.
  // All-integer output (pair mass via integer div), so the oracle is
  // exact by construction; size class = len(bin(n))−1 = ⌊log₂ n⌋,
  // computed on the integer bit pattern in BOTH engines (no IEEE log).
  // ---------------------------------------------------------------------
  def d18BucketProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = withScanParallelism(s, Tables.documents(s, d)
      .filter(length($"text") >= ShingleLen))
    val bands = docs
      .select($"doc_id", GraftFunctions.minhashSig($"text", K, ShingleLen).as("sig"))
      .select(explode(array(bandStructs: _*)).as("bb"))
      .select($"bb.band".as("band"), $"bb.bkey".as("bkey"))
    // the over-cap columns are pinned to the DEFAULT cap constant —
    // NOT the live spark.graft.lsh.maxBucket conf — so the report is
    // configuration-independent: oracle-exact by construction on any
    // run (the r14 form read the live conf while the oracle hard-coded
    // the constant, diverging whenever the conf was set), and
    // comparable across runs with different gate settings. The report
    // is the CAP-TUNING instrument: an operator choosing a cap reads
    // candidate thresholds off the size_log2 histogram itself; the
    // gate (d3's QUALIFY) is what reads the live conf.
    val cap = MaxBucket
    bands
      .groupBy($"band", $"bkey")
      .agg(count(lit(1)).as("bsz"))
      .select($"band", (length(bin($"bsz")) - 1).as("size_log2"), $"bsz")
      .groupBy($"band", $"size_log2")
      .agg(
        count(lit(1)).as("n_buckets"),
        sum($"bsz").as("n_docs"),
        sum(expr("bsz * (bsz - 1) div 2")).as("pair_mass"),
        sum(when($"bsz" > cap, 1L).otherwise(0L)).as("n_over_cap"),
        sum(when($"bsz" > cap, expr("bsz * (bsz - 1) div 2"))
          .otherwise(0L)).as("pairs_averted"))
      .orderBy($"band", $"size_log2")
  }

  val queries: Map[String, Q] = Map(
    "d18_bucket_profile" -> (d18BucketProfile _),
    "d15_minhash_calibration" -> (d15MinhashCalibration _),
    "d14_cdc_dedup" -> (d14CdcDedup _),
    "d17_sharded_dedup" -> (d17ShardedDedup _),
    "d16_effective_tokens" -> (d16EffectiveTokens _),
    "d13_cluster_stats" -> (d13ClusterStats _),
    "d12_cross_neardup" -> (d12CrossNeardup _),
    "d11_substring_dup" -> (d11SubstringDup _),
    "d10_semantic_keep" -> (d10SemanticKeep _),
    "d9_keep_list" -> (d9KeepList _),
    "d1_exact" -> (d1Exact _),
    "d2_shingle_stats" -> (d2ShingleStats _),
    "d3_minhash_lsh" -> (d3MinhashLsh _),
    "d4_simhash" -> (d4Simhash _),
    "d6_ngram_jaccard" -> (d6NgramJaccard _),
    "d5_embed_neardup" -> (d5EmbedNeardup _),
    "d7_dup_clusters" -> (d7DupClusters _),
    "d8_sig_agg" -> (d8SigAgg _),
  )

  /** Dot product of two float vectors in DuckDB SQL, double-accumulated
    * in index order — mirrors [[graft.functions.CosineImpl]]. */
  private def dot(x: String, y: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"

  /** Shared MinHash+LSH oracle CTE chain (doc shingles → k-way
    * sliced-md5-min signature, component i = min of
    * `substr(md5((i//4) || ':' || sh), 1+8*(i%4), 8)` → banded keys),
    * built from the SAME Scala constants the Spark plans use so
    * K/Bands/ShingleLen can never drift between the code and its
    * three oracles (d3/d6/d7). */
  /** sh/hx/sig + UNGATED bands — shared by [[lshCte]] (which adds the
    * bucket-cap QUALIFY) and d18's bucket profile (which must see
    * every bucket, including over-cap ones — that is the report). */
  private val lshBaseCte: String = {
    val bandExprs = (1 to Rows).map(r => s"sig[b*$Rows+$r]").mkString(" || '|' || ")
    s"""sh AS (
           SELECT doc_id, unnest(list_transform(range(1, len(text) - ${ShingleLen - 2}), i -> substr(text, i, $ShingleLen))) AS sh
           FROM documents WHERE len(text) >= $ShingleLen),
         hx AS (
           SELECT doc_id, i,
                  min(substr(md5(CAST(i // 4 AS VARCHAR) || ':' || sh), 1 + 8 * (i % 4), 8)) AS mh
           FROM sh, range($K) r(i) GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM hx GROUP BY doc_id),
         bands_raw AS (
           SELECT doc_id, sig, CAST(b AS INT) AS band,
                  md5($bandExprs) AS bkey
           FROM sig, range($Bands) rb(b))"""
  }

  private val lshCte: String =
    s"""$lshBaseCte,
         bands AS (
           SELECT doc_id, sig, band, bkey FROM bands_raw
           QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $MaxBucket)"""

  /** d4's DuckDB oracle rebuilds the 64-bit SimHash from the
    * definition: per-token FNV-1a (HUGEINT mod-2^64, see
    * [[graft.OracleSql]]), each token votes ±1 per bit, fingerprint =
    * sign bits; then the same 4×16-bit band buckets and Hamming count
    * the Spark plan computes. */
  private val d4Oracle: String = {
    import graft.OracleSql._
    s"""WITH tok AS (
         SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
         FROM documents),
       hsv AS (
         SELECT doc_id, list_transform(ts, tt -> ${fnvU("tt")}) AS hv
         FROM tok),
       fpv AS (
         SELECT doc_id,
                list_reduce(list_prepend(0::HUGEINT, list_transform(range(0, 64), bb ->
                  CASE WHEN 2 * len(list_filter(hv, x -> (x // ${pow2("bb")}) % 2 = 1)) > len(hv)
                       THEN ${pow2("bb")} ELSE 0::HUGEINT END)),
                  (sa, sb) -> sa + sb) AS ufp
         FROM hsv),
       bands AS (
         SELECT doc_id, ufp, CAST(bd AS INT) AS band,
                (ufp // ${pow2("(16 * bd)")}) % 65536 AS bval
         FROM fpv, range(0, 4) r(bd)
         QUALIFY count(*) OVER (PARTITION BY band, bval) <= $MaxBucket),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ufp AS ua, b.ufp AS ub
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id),
       hm AS (
         SELECT doc_a, doc_b,
                CAST(len(list_filter(range(0, 64), bb ->
                  (ua // ${pow2("bb")}) % 2 <> (ub // ${pow2("bb")}) % 2)) AS INT) AS hamming
         FROM cand)
       SELECT doc_a, doc_b, hamming FROM hm
       WHERE hamming <= $HammingMax ORDER BY hamming, doc_a, doc_b"""
  }

  val oracles: Map[String, String] = Map(
    // d14: same 60-bit md5-slice hashes, same boundary rule (bigram
    // hash mod 8), same lagged-ends span arithmetic, same keep compare
    // on the identical divided double.
    "d14_cdc_dedup" ->
      s"""WITH tk AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
           FROM documents),
         tk2 AS (SELECT * FROM tk WHERE len(t) >= 1),
         e AS (
           SELECT doc_id, t,
                  list_append(
                    list_filter(range(1, len(t)), i ->
                      CAST('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 15) AS BIGINT)
                        % $CdcModulus = 0),
                    len(t)) AS ends
           FROM tk2),
         c AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(ends) + 1), k ->
                    struct_pack(
                      chunk_len := ends[k] -
                        (CASE WHEN k = 1 THEN 0 ELSE ends[k-1] END),
                      chunk_h := CAST('0x' || substr(md5(array_to_string(
                        t[(CASE WHEN k = 1 THEN 0 ELSE ends[k-1] END) + 1 : ends[k]],
                        ' ')), 1, 15) AS BIGINT)))) AS ch
           FROM e),
         cc AS (SELECT doc_id, ch.chunk_len AS chunk_len,
                       ch.chunk_h AS chunk_h FROM c),
         dup AS (
           SELECT chunk_h FROM (
             SELECT chunk_h, count(DISTINCT doc_id) AS nd
             FROM cc GROUP BY 1) WHERE nd >= 2),
         per AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                  CAST(sum(chunk_len) AS BIGINT) AS n_tokens
           FROM cc GROUP BY 1),
         dd AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS dup
           FROM cc WHERE chunk_h IN (SELECT chunk_h FROM dup)
           GROUP BY 1)
         SELECT p.doc_id, p.n_tokens, p.n_chunks,
                coalesce(dd.dup, 0) AS n_dup_chunks,
                CAST(coalesce(dd.dup, 0) AS DOUBLE) / p.n_chunks AS dup_chunk_frac,
                CAST(coalesce(dd.dup, 0) AS DOUBLE) / p.n_chunks <= $DupChunkMax AS keep
         FROM per p LEFT JOIN dd USING (doc_id) ORDER BY doc_id""",
    // d17: same shard formula (t7/d12's md5 bucket), same fragment
    // grain, same keeper rule; integer drops + one divide.
    // d18: the same UNGATED band CTE (bands_raw — the profile must see
    // over-cap buckets), all-integer rollup, ⌊log₂⌋ via bin() length
    // on both engines (no IEEE log anywhere).
    "d18_bucket_profile" ->
      s"""WITH $lshBaseCte,
         bs AS (
           SELECT band, bkey, CAST(count(*) AS BIGINT) AS bsz
           FROM bands_raw GROUP BY 1, 2),
         cls AS (
           SELECT band, CAST(len(bin(bsz)) - 1 AS INT) AS size_log2, bsz
           FROM bs)
         SELECT band, size_log2,
                CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(sum(bsz) AS BIGINT) AS n_docs,
                CAST(sum(bsz * (bsz - 1) // 2) AS BIGINT) AS pair_mass,
                CAST(sum(CASE WHEN bsz > $MaxBucket THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
                CAST(sum(CASE WHEN bsz > $MaxBucket THEN bsz * (bsz - 1) // 2 ELSE 0 END) AS BIGINT) AS pairs_averted
         FROM cls GROUP BY 1, 2 ORDER BY band, size_log2""",
    "d17_sharded_dedup" ->
      """WITH b AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 10 AS shard,
                  md5(text) AS h
           FROM documents),
         f AS (
           SELECT h, shard, count(*) AS cnt, min(doc_id) AS min_doc
           FROM b GROUP BY 1, 2),
         g AS (
           SELECT *, min(min_doc) OVER (PARTITION BY h) AS gmin
           FROM f),
         r AS (
           SELECT shard,
                  CAST(sum(cnt) AS BIGINT) AS n_docs,
                  CAST(sum(cnt - 1) AS BIGINT) AS drops_local,
                  CAST(sum(cnt - CASE WHEN min_doc = gmin THEN 1 ELSE 0 END) AS BIGINT) AS drops_global
           FROM g GROUP BY 1)
         SELECT shard, n_docs, drops_local, drops_global,
                drops_global - drops_local AS missed_by_local,
                CASE WHEN drops_global = 0 THEN 1.0
                     ELSE CAST(drops_local AS DOUBLE) / CAST(drops_global AS DOUBLE)
                END AS local_efficiency
         FROM r ORDER BY shard""",
    // d16: d1's min-doc_id keep rule via the same row_number, same
    // token counts, integer sums, one divide.
    "d16_effective_tokens" ->
      """WITH b AS (
           SELECT source, doc_id, md5(text) AS h,
                  CAST(len(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS BIGINT) AS n_tok
           FROM documents),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
           FROM b)
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS tokens_total,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept,
                CAST(sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS DOUBLE) /
                  CAST(sum(n_tok) AS DOUBLE) AS token_keep_ratio
         FROM r GROUP BY 1 ORDER BY source""",
    // d13: the same two-level count; sums of BIGINT products cast back.
    "d13_cluster_stats" ->
      """WITH c AS (
           SELECT md5(text) AS h, count(*) AS sz FROM documents GROUP BY 1)
         SELECT sz AS cluster_size, count(*) AS n_clusters,
                CAST(sz * count(*) AS BIGINT) AS n_docs,
                CAST((sz - 1) * count(*) AS BIGINT) AS n_dup_docs
         FROM c GROUP BY sz ORDER BY cluster_size""",
    // d12: same signature/band rebuild as d3's oracle, same split
    // arithmetic as t7 (first-6-hex-digits mod 10), train×test band
    // join, same single divide + threshold compare; best match via
    // (est DESC, train_id ASC) — the max(struct(e, −id)) rule.
    "d12_cross_neardup" ->
      s"""WITH $lshCte,
         spl AS (
           SELECT doc_id,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 10 AS b10
           FROM documents),
         tb AS (
           SELECT bands.doc_id, bands.sig, bands.band, bands.bkey, spl.b10
           FROM bands JOIN spl USING (doc_id)),
         cand AS (
           SELECT te.doc_id AS test_id, tr.doc_id AS train_id,
                  max(CAST(len(list_filter(range(1, ${K + 1}), i -> te.sig[i] = tr.sig[i])) AS INT)) AS matches
           FROM tb te JOIN tb tr ON te.band = tr.band AND te.bkey = tr.bkey
           WHERE te.b10 = 9 AND tr.b10 <= 7
           GROUP BY 1, 2),
         est AS (
           SELECT test_id, train_id, CAST(matches AS DOUBLE) / $K AS est_jaccard
           FROM cand WHERE CAST(matches AS DOUBLE) / $K >= $CrossNearDupMin),
         rk AS (
           SELECT test_id, train_id, est_jaccard,
                  row_number() OVER (PARTITION BY test_id
                                     ORDER BY est_jaccard DESC, train_id ASC) AS rn,
                  count(*) OVER (PARTITION BY test_id) AS n
           FROM est)
         SELECT test_id, CAST(n AS BIGINT) AS n_neardup_train,
                est_jaccard AS best_jaccard, train_id AS best_train_id
         FROM rk WHERE rn = 1 ORDER BY test_id""",
    // d11: same anchor-gram construction (60-bit md5-slice hashes of
    // space-joined token 5-grams), duplicated positions via a
    // count(DISTINCT doc_id) >= 2 gram set, maximal spans via the
    // gaps-and-islands idiom (pos − row_number() groups), span length
    // = run + AnchorLen − 1.
    "d11_substring_dup" ->
      s"""WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
           FROM documents),
         tt AS (SELECT doc_id, t FROM tok WHERE len(t) >= $AnchorLen),
         g AS (
           SELECT doc_id,
                  CAST(unnest(range(1, len(t) - ${AnchorLen - 2})) AS INT) AS pos,
                  unnest(list_transform(range(1, len(t) - ${AnchorLen - 2}), i ->
                    CAST('0x' || substr(md5(array_to_string(t[i:i+${AnchorLen - 1}], ' ')), 1, 15) AS BIGINT))) AS gh
           FROM tt),
         gd AS (SELECT gh FROM (
                  SELECT gh, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY 1)
                WHERE ndocs >= 2),
         dup AS (SELECT g.doc_id, g.pos FROM g JOIN gd USING (gh)),
         isl AS (SELECT doc_id, pos,
                        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM dup),
         runs AS (SELECT doc_id, grp, count(*) AS run FROM isl GROUP BY 1, 2),
         ds AS (SELECT doc_id, CAST(sum(run) AS BIGINT) AS nd,
                       CAST(max(run) AS BIGINT) AS max_run
                FROM runs GROUP BY 1),
         tot AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
                        CAST(len(t) - ${AnchorLen - 1} AS INT) AS n_anchors
                 FROM tt)
         SELECT tot.doc_id, n_tokens, n_anchors,
                coalesce(ds.nd, 0) AS n_dup_anchors,
                CAST(coalesce(ds.nd, 0) AS DOUBLE) / n_anchors AS dup_anchor_frac,
                CASE WHEN ds.max_run IS NULL THEN 0
                     ELSE ds.max_run + ${AnchorLen - 1} END AS max_span_tokens,
                CAST(coalesce(ds.nd, 0) AS DOUBLE) / n_anchors <= $DupAnchorMax AS keep
         FROM tot LEFT JOIN ds ON tot.doc_id = ds.doc_id
         ORDER BY tot.doc_id""",
    "d9_keep_list" ->
      s"""WITH $lshCte,
         cand AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
           GROUP BY 1, 2
           HAVING count(*) >= $MinBands)
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_b FROM cand)
         ORDER BY doc_id""",
    "d4_simhash" -> d4Oracle,
    "d1_exact" ->
      """SELECT md5(text) AS h, count(*) AS n_docs, min(doc_id) AS keep_doc_id
         FROM documents GROUP BY 1 ORDER BY h""",
    "d2_shingle_stats" ->
      """WITH sh AS (
           SELECT doc_id, list_transform(range(1, len(text) - 3), i -> substr(text, i, 5)) AS s
           FROM documents WHERE len(text) >= 5)
         SELECT doc_id, CAST(len(s) AS INT) AS n_shingles,
                CAST(len(list_distinct(s)) AS INT) AS n_distinct,
                CAST(len(list_distinct(s)) AS DOUBLE) / len(s) AS distinct_ratio
         FROM sh ORDER BY doc_id""",
    "d3_minhash_lsh" ->
      s"""WITH $lshCte,
         cand AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands,
                  max(CAST(len(list_filter(range(1, ${K + 1}), i -> a.sig[i] = b.sig[i])) AS INT)) AS matches
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, n_bands, matches,
                CAST(matches AS DOUBLE) / $K AS est_jaccard
         FROM cand ORDER BY doc_a, doc_b""",
    // d15: d3's cand CTE (no band floor), d6's exact-shingle CTE, the
    // same integer decile bucket, the same 1e-6 floor-quantized int64
    // sums (order-independent — exact on both engines by construction).
    "d15_minhash_calibration" ->
      s"""WITH $lshCte,
         cand AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  max(CAST(len(list_filter(range(1, ${K + 1}), i -> a.sig[i] = b.sig[i])) AS INT)) AS matches
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         ds AS (
           SELECT doc_id,
                  list_distinct(list_transform(
                    list_distinct(list_transform(range(1, len(text) - ${ShingleLen - 2}), i -> substr(text, i, $ShingleLen))),
                    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
           FROM documents WHERE len(text) >= $ShingleLen),
         j AS (
           SELECT doc_a, doc_b, matches,
                  CAST(matches AS DOUBLE) / $K AS est,
                  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
                  CAST(len(sa.s) + len(sb.s) AS DOUBLE) AS tot
           FROM cand JOIN ds sa ON cand.doc_a = sa.doc_id
                     JOIN ds sb ON cand.doc_b = sb.doc_id),
         p AS (
           SELECT doc_a, doc_b,
                  CAST((matches * 10) // $K AS BIGINT) AS bucket,
                  est, inter / (tot - inter) AS ja,
                  abs(est - inter / (tot - inter)) AS abs_err
           FROM j),
         g AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
                  CAST(sum(CAST(floor(est * 1000000.0) AS BIGINT)) AS BIGINT) AS q_est,
                  CAST(sum(CAST(floor(ja * 1000000.0) AS BIGINT)) AS BIGINT) AS q_ja,
                  CAST(sum(CAST(floor(abs_err * 1000000.0) AS BIGINT)) AS BIGINT) AS q_err
           FROM p GROUP BY 1)
         SELECT bucket, n_pairs,
                CAST(q_est AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1000000.0 AS mean_est,
                CAST(q_ja AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1000000.0 AS mean_exact,
                CAST(q_err AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1000000.0 AS mean_abs_err
         FROM g ORDER BY bucket""",
    "d6_ngram_jaccard" ->
      s"""WITH $lshCte,
         cand AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  max(CAST(len(list_filter(range(1, ${K + 1}), i -> a.sig[i] = b.sig[i])) AS INT)) AS matches
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
           GROUP BY 1, 2
           HAVING count(*) >= $MinBands),
         ds AS (
           SELECT doc_id,
                  list_distinct(list_transform(
                    list_distinct(list_transform(range(1, len(text) - ${ShingleLen - 2}), i -> substr(text, i, $ShingleLen))),
                    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS s
           FROM documents WHERE len(text) >= $ShingleLen),
         j AS (
           SELECT doc_a, doc_b, CAST(matches AS DOUBLE) / $K AS est_jaccard,
                  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS inter,
                  CAST(len(sa.s) + len(sb.s) AS DOUBLE) AS tot
           FROM cand JOIN ds sa ON cand.doc_a = sa.doc_id
                     JOIN ds sb ON cand.doc_b = sb.doc_id)
         SELECT doc_a, doc_b, est_jaccard, inter / (tot - inter) AS jaccard
         FROM j WHERE inter / (tot - inter) >= $JaccardThreshold ORDER BY doc_a, doc_b""",
    "d10_semantic_keep" ->
      s"""WITH p AS (
            SELECT DISTINCT b.vec_id AS vid
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE ${dot("a.embedding", "b.embedding")}
                    / (sqrt(${dot("a.embedding", "a.embedding")})
                       * sqrt(${dot("b.embedding", "b.embedding")})) > $CosThreshold)
          SELECT e.vec_id, e.label FROM embeddings e
          WHERE e.vec_id NOT IN (SELECT vid FROM p)
          ORDER BY e.vec_id""",
    "d5_embed_neardup" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
                 ${dot("a.embedding", "b.embedding")}
                   / (sqrt(${dot("a.embedding", "a.embedding")})
                      * sqrt(${dot("b.embedding", "b.embedding")})) AS cos
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE ${dot("a.embedding", "b.embedding")}
                  / (sqrt(${dot("a.embedding", "a.embedding")})
                     * sqrt(${dot("b.embedding", "b.embedding")})) > 0.4
          ORDER BY vec_a, vec_b""",
    "d8_sig_agg" ->
      s"""WITH $lshCte
          SELECT doc_id, sig[1] AS mh_first, sig[$K] AS mh_last
          FROM sig ORDER BY doc_id""",
    // d7: same candidate CTE as d6, then connected components as a
    // recursive transitive closure (components are LSH-bounded and
    // small, so the closure stays tiny) labeled by min reachable id.
    "d7_dup_clusters" ->
      s"""WITH RECURSIVE $lshCte,
         cand AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
           GROUP BY 1, 2
           HAVING count(*) >= $MinBands),
         e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
               UNION ALL SELECT doc_b, doc_a FROM cand),
         reach(src, dst) AS (
           SELECT src, src FROM e
           UNION
           SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         lbl AS (SELECT src AS doc, min(dst) AS cluster FROM reach GROUP BY 1)
         SELECT cluster, count(*) AS cluster_size, max(doc) AS max_doc
         FROM lbl GROUP BY 1 ORDER BY cluster""",
  )
}
