package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for 100 TB-scale corpora.
  *
  * All three avoid the O(n²) all-pairs comparison: exact dedup is a hash
  * aggregate; MinHash-LSH and SimHash generate candidates by bucket
  * self-join (shuffle keyed on band/block hash — each bucket is small, so
  * the join is local and skew-free for natural corpora), then verify only
  * the candidates. Published designs: Broder 1997 (MinHash), Leskovec et
  * al. MMDS ch.3 (banding), Charikar 2002 (SimHash); see PAPERS.md.
  */
object Dedup {

  /** The live shingle-stage caches (see minhashLsh): at most one CALL's
    * caches per session — the shingle table and its collapsed
    * representative table. Each new call evicts the previous call's
    * pair, so a session holds one bounded working set. */
  @volatile private var lastShingleCaches: Seq[DataFrame] = Nil

  /** Release the cached shingle tables — call when a dedup workload is
    * done with a table (driver mains call it on exit; long-lived
    * services should call it between corpora). */
  def clearShingleCache(): Unit = Dedup.synchronized {
    lastShingleCaches.foreach(_.unpersist(blocking = false))
    lastShingleCaches = Nil
  }

  private[llm] def swapShingleCaches(next: Seq[DataFrame]): Unit =
    Dedup.synchronized {
      lastShingleCaches.foreach(_.unpersist(blocking = false))
      lastShingleCaches = next
    }

  /** The dedup family's working-set materialization: an eager
    * `localCheckpoint` (beat `persist` in OPTIMIZATION_r15.md), freed
    * by the ContextCleaner after driver GC, not by
    * [[swapShingleCaches]]' unpersist — the bench's periodic GC bounds
    * the lingering blocks (the IterFrame / CC-loop discipline). */
  private[llm] def matD(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Degenerate mass dropped so far this session by the opt-in size cap
    * ([[Lsh.MaxBucketConf]]): oversized LSH BUCKETS and, since the
    * exact-copy collapse, oversized COPY GROUPS excluded from pair
    * expansion (each group can bump the counter up to twice — once per
    * expansion join leg — the documented ≤2× diagnostic over-count).
    * Nonzero means a corpus had degenerate buckets or copy cliques
    * (usually mass-duplicate documents — run [[exact]] first); also
    * visible in the Spark UI as accumulator "graft.lsh.droppedBuckets".
    * A diagnostic, not data (task retries may also over-count). */
  def droppedLshBuckets(spark: org.apache.spark.sql.SparkSession): Long =
    Lsh.droppedBuckets(spark)

  /** Dual-hash content-class key of a string-array column (the
    * exact-copy collapse key for [[minhashCollapse]] /
    * [[SetSimilarity.selfJoinPairs]] / the cross-corpus forms):
    * md5 over a LENGTH-PREFIXED canonical encoding — each sorted
    * element renders as `<len>:<element>` before the U+0001 join, so
    * the encoding is injective even when an element CONTAINS the
    * separator byte: normalization only lowercases and collapses
    * WHITESPACE, so arbitrary non-space bytes survive into tokens and
    * shingles, and the bare U+0001 join this replaces aliased the
    * distinct sets {"x<U+0001>y","z"} and {"x","y<U+0001>z"} — same
    * joined string, hence same md5 AND same xxhash64 — wrongly
    * merging unrelated content classes. The second hash is Spark's
    * STRUCTURAL xxhash64 over the sorted array itself (per-element
    * hashing, no string encoding involved at all), plus the set size;
    * distinct classes merge only if both hashes collide
    * simultaneously. */
  private[graft] def classKey(arr: Column): Column = {
    // lambda-free on purpose: see [[graft.functions.LengthPrefixExpr]].
    // Both hashes skip null elements, so sort_array's nulls-first order
    // cannot change a key.
    val sorted = sort_array(arr)
    val h1 = md5(concat_ws("\u0001", graft.functions.Hashing.lengthPrefix(sorted)))
    struct(h1, xxhash64(sorted), size(sorted))
  }

  /** Exact dedup: group by content fingerprint, keep the smallest doc_id
    * as canonical. One map-side-combinable shuffle on the 128-bit hash. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature as array<bigint>: perm i = min over shingles of a
    * splitmix64-mixed XXH64 base hash — a single-pass custom Catalyst
    * expression ([[graft.functions.MinHashKernel]]); each shingle is
    * string-hashed once, all map-side, codegen-friendly. */
  def minhashSignature(shingles: Column, numPerms: Int): Column =
    graft.functions.Hashing.minhashSignature(shingles, numPerms)

  /** The exact-copy collapse behind [[minhashLsh]] / [[simhashPairs]] /
    * [[minhashClusters]]: `members` is (id, rep, grp_n) for every doc
    * that reached the pipeline (rep = min id of the doc's content
    * class, grp_n = class size — computed in ONE slim window pass, no
    * join), `multiReps` is (id, grp_n) for classes with ≥ 2 members,
    * and `repPairs` is the verified near-dup pair set over
    * REPRESENTATIVES only. */
  private[graft] case class NearDupCollapse(members: DataFrame,
                                            multiReps: DataFrame,
                                            repPairs: DataFrame)

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: shingle → EXACT-COPY COLLAPSE (group docs by canonical
    * shingle set, keep min-id representative) → 128-perm signature of
    * each representative → `bands` bands of `rowsPerBand` hashes →
    * explode to (band, bandHash, id) → self-join on the band bucket
    * (candidate generation) → exact-Jaccard verification of candidates
    * only → expand pairs back through the copy groups. With b=32, r=4
    * the LSH catch probability at j=0.8 is 1-(1-0.8^4)^32 ≈ 1-1e-7, so
    * post-verification output equals the brute-force truth with near
    * certainty (the DuckDB oracle computes the brute-force version).
    *
    * The collapse is BIT-EXACT, not an approximation — every
    * downstream value is a function of the shingle SET alone: the
    * minhash signature (min over the set), hence every band key, hence
    * bucket membership, hence the candidate set; and the verification
    * Jaccard. So for docs a, b with equal canonical shingle sets:
    * (1) a shares every bucket with its representative, so the raw
    * candidate set equals the expansion of the representative-level
    * candidate set through the groups; (2) verified Jaccard of any
    * cross-group member pair equals the representatives' Jaccard;
    * (3) any within-group pair is a raw candidate (all 32 buckets
    * shared) verified at exactly round(1.0, 4) = 1.0 ≥ any threshold
    * ≤ 1. Expansion therefore reproduces the uncollapsed output
    * row-for-row — the q32/q56 oracle rows and the sf0.1/sf1
    * TruthCheck tiers gate this equality against brute force.
    *
    * Why it matters at scale: a corpus that is N copies of U uniques
    * costs the raw pipeline O(N) banding + O(N²/U) candidate pairs —
    * the round-11 sf10 probe measured 1.98 G candidates and a spill
    * wall on a 100×-copy corpus. Collapsed, candidate generation runs
    * at O(U), and the copy mass is paid only where it is genuinely
    * output (the expanded pair rows), streamed through merge joins.
    * Under the opt-in degenerate cap ([[Lsh.MaxBucketConf]]) the
    * guard's strength is preserved: band rows carry the class size as
    * a weight, so bucket drop decisions are keyed on the bucket's RAW
    * population — identical to the uncollapsed pipeline, bounding each
    * bucket's emission at C(cap, 2) — and copy groups larger than the
    * cap are additionally dropped from PAIR expansion with the same
    * accounting. The one (bounded) superset vs the old capped output:
    * a small group's within-clique survives even when bucket
    * co-occupancy pushed every one of its raw buckets over the cap —
    * ≤ C(cap, 2) rows per group, pairs the cheaper exact pass finds
    * anyway.
    *
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b. */
  def minhashLsh(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                 shingleK: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
                 threshold: Double = 0.8): DataFrame =
    expandCollapsed(
      minhashCollapse(docs, textCol, idCol, shingleK, bands, rowsPerBand, threshold),
      Seq("jaccard"), Seq(lit(1.0)), withinQualifies = threshold <= 1.0)

  /** Near-duplicate CLUSTERS (doc_id, cluster_id = min reachable id),
    * computed on the COLLAPSED graph: connected components run over
    * representative-level pairs only, then every doc inherits its
    * representative's component. With no bucket cap in force this
    * equals `connectedComponents(minhashLsh(docs))` — contracting an
    * exact-copy clique to its representative changes no reachability
    * and the component min is always a representative (each rep is the
    * min of its own group) — but the component computation never sees
    * the copy-clique edge mass: a corpus of 100× verbatim copies runs
    * CC on the 1× graph (the round-11 sf10 probe measured the expanded
    * clique set at ~25 M edges vs ~250 k collapsed). Docs in a
    * multi-member group cluster even when their representative has no
    * near-dup partner (they ARE duplicates of each other), matching
    * the uncollapsed semantics where such pairs verify at 1.0.
    *
    * Under a cap ([[Lsh.MaxBucketConf]]) the two DELIBERATELY diverge:
    * the pair path must bound its quadratic output, but cluster
    * membership is linear, so this path applies no group cap at all —
    * every exact-copy family still clusters (the capped pair path
    * would have dropped the oversized clique), which is strictly
    * closer to the uncapped truth. Rep-level edge discovery still
    * honors the bucket cap like every LSH consumer.
    *
    * `alternating = true` uses the large-star/small-star algorithm
    * ([[connectedComponentsAlternating]]) — diameter-independent round
    * count — instead of min-label propagation. */
  def minhashClusters(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                      shingleK: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
                      threshold: Double = 0.8, alternating: Boolean = false): DataFrame = {
    val c = minhashCollapse(docs, textCol, idCol, shingleK, bands, rowsPerBand, threshold)
    val cc = if (alternating) connectedComponentsAlternating(c.repPairs)
             else connectedComponents(c.repPairs)
    val labels = cc.select(col("doc_id").as("rep"), col("cluster_id"))
    c.members.hint("merge").join(labels, Seq("rep"), "left")
      .filter(col("cluster_id").isNotNull || col("grp_n") > 1)
      .select(col("id").as("doc_id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
  }

  /** Shared collapse + representative-level MinHash-LSH pipeline. */
  private[graft] def minhashCollapse(docs: DataFrame, textCol: String, idCol: String,
                                     shingleK: Int, bands: Int, rowsPerBand: Int,
                                     threshold: Double): NearDupCollapse = {
    // The shingle table feeds the collapse groupBy and the membership
    // window; the representative table feeds banding and both verify
    // legs. Persist both so the scan+shingle work runs once and the
    // collapse aggregation once — a deliberate ≤2× cached-footprint
    // trade (spill-safe): the alternative, persisting only a slim
    // (id, ck) projection, re-runs the scan+shingle pass that profiling
    // pinned as the pipeline's dominant cost. MEMORY_AND_DISK keeps this safe at
    // corpus scale (spills instead of OOM) — in a real pipeline the
    // shingle table is the reusable asset. Each call evicts the
    // previous call's caches so a session holds at most one pair.
    //
    // ck is the canonical content class over the SORTED distinct
    // shingle array ([[classKey]]: injective length-prefixed encoding
    // under a dual hash — normalization does NOT strip the separator
    // byte from tokens, so a bare separator join would alias distinct
    // shingle sets). Keying on the shingle SET — not the raw text —
    // also merges docs whose texts differ in ways the pipeline
    // provably cannot distinguish (shingle multiplicity, order).
    val sh = matD(docs
      .select(col(idCol).as("id"), TextOps.wordShingles(col(textCol), shingleK).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("ck", classKey(col("shingles"))))
    // min/first/count all combine map-side, so the collapse exchange
    // carries one (ck, shingles) row per PARTITION-LOCAL distinct class,
    // not per doc; `first(shingles)` is value-deterministic because every
    // row under one ck carries the same shingle set and all consumers are
    // set-functions of it.
    val reps = matD(sh.groupBy("ck")
      .agg(min("id").as("id"), first("shingles").as("shingles"),
        count(lit(1)).as("grp_n")))
    // membership in ONE slim window pass over (id, ck) — no join; the
    // window's exchange+sort move two columns, and its two consumers in
    // the pair expansion share the same canonicalized subtree, so the
    // exchange is reused rather than recomputed (no persist needed).
    val w = Window.partitionBy("ck")
    val members = sh.select(col("id"), col("ck"))
      .select(col("id"), min("id").over(w).as("rep"),
        count(lit(1)).over(w).as("grp_n"))
    swapShingleCaches(Seq(sh, reps))
    val multiReps = reps.filter(col("grp_n") > 1).select("id", "grp_n")

    // Band keys travel WITHOUT the shingle arrays: the banded shuffle
    // moves (id, band, hash64) triples only — at corpus scale replicating
    // each document's shingle set bands× through the exchange is the
    // dominant cost, not the hashing. Signature + banding are fused in
    // one kernel pass (the per-band slice copies dominated otherwise).
    val banded = reps
      .select(col("id"), col("grp_n"),
        posexplode(graft.functions.Hashing.minhashBands(
          col("shingles"), bands, rowsPerBand)))
      .select(col("id"), col("grp_n"), col("pos").as("band"), col("col").as("bh"))

    // grp_n is the bucket-cap weight: drop decisions stay keyed on the
    // bucket's RAW population, identical to the uncollapsed pipeline
    val cand = Lsh.bucketPairs(banded, Seq("band", "bh"), "doc_a", "doc_b",
      weightCol = "grp_n")

    // fetch shingle sets only for surviving candidate pairs (few), then
    // verify with exact Jaccard
    val sa = reps.select(col("id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = reps.select(col("id").as("doc_b"), col("shingles").as("sh_b"))
    val repPairs = cand.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(TextOps.jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    NearDupCollapse(members, multiReps, repPairs)
  }

  /** Expand representative-level pairs back through the copy groups:
    * cross-group pairs inherit the representatives' verified value;
    * within-group cliques ride the SAME two joins as degenerate
    * "self pairs" (rep, rep, `withinValue` — an identity by
    * construction: Jaccard 1.0 / Hamming 0), with `ia < ib` keeping
    * the ordered-pair semantics on the self legs. Both joins are
    * streamed merge joins — a group's pair fan-out costs O(|group|)
    * memory and O(|group|²) streamed OUTPUT rows, the
    * [[Lsh.bucketPairs]] shape. Under a cap ([[Lsh.MaxBucketConf]])
    * groups larger than the cap are excluded from expansion — their
    * self pair is dropped WITH accounting in the shared accumulator
    * (fires once per oversized group per join leg, the documented ≤2×
    * diagnostic over-count) and only their representative row survives
    * into the member legs, so neither their within-clique nor their
    * member-level cross fan-out is materialized. */
  private[llm] def expandCollapsed(c: NearDupCollapse, values: Seq[String],
                                   withinValues: Seq[Column],
                                   withinQualifies: Boolean): DataFrame = {
    val spark = c.members.sparkSession
    val cap = Lsh.capInForce(spark)
    val selfPairs0 =
      if (cap == Int.MaxValue) c.multiReps
      else {
        val acc = Lsh.dropAccumulator(spark)
        val keep = udf { (n: Long) =>
          val ok = n <= cap
          if (!ok) acc.add(1L)
          ok
        }
        c.multiReps.filter(keep(col("grp_n")))
      }
    // withinValues may reference multiReps columns (e.g. the set size
    // for q136's inter/uni identities), not just literals
    val selfPairs = selfPairs0
      .select(col("id").as("ra") +: col("id").as("rb") +:
        values.zip(withinValues).map { case (n, v) => v.as(n) }: _*)
    val p = c.repPairs
      .select(col("doc_a").as("ra") +: col("doc_b").as("rb") +:
        values.map(col): _*)
    val pAll = if (withinQualifies) p.unionByName(selfPairs) else p
    val xm =
      if (cap == Int.MaxValue) c.members
      else c.members.filter(col("grp_n") <= cap || col("id") === col("rep"))
    val ma = xm.select(col("rep").as("ra"), col("id").as("ia"))
    val mb = xm.select(col("rep").as("rb"), col("id").as("ib"))
    pAll.hint("merge").join(ma, "ra")
      .hint("merge").join(mb, "rb")
      .where(col("ra") =!= col("rb") || col("ia") < col("ib"))
      .select(least(col("ia"), col("ib")).as("doc_a") +:
        greatest(col("ia"), col("ib")).as("doc_b") +:
        values.map(col): _*)
  }

  /** Expand cross-side representative pairs through BOTH sides' copy
    * groups: every (batch member, base member) combination inherits its
    * representatives' verified value. Same streamed merge-join shape as
    * [[expandCollapsed]] (O(|group|) memory per side; the copy mass is
    * paid only as output rows). Two structural simplifications vs the
    * self-join expansion: (1) there are NO self pairs — same-class
    * cross-SIDE pairs arrive as ordinary rep pairs from the bucket
    * join, because the two side-representatives share every bucket and
    * verify at exactly 1.0; (2) no group cap is needed — under a cap,
    * a rep pair only survives candidate generation if some bucket
    * holding both reps passed the RAW-population test, and that
    * bucket's population is ≥ grp_a + grp_b, so the pair's fan-out is
    * already bounded at (cap/2)² ≤ the uncollapsed capped semantics'
    * own bound (the self path needs the extra cap only because
    * within-clique pairs bypass the bucket join entirely). */
  private def expandCross(repPairs: DataFrame, batchMembers: DataFrame,
                          baseMembers: DataFrame, aName: String,
                          bName: String, values: Seq[String]): DataFrame = {
    val ma = batchMembers.select(col("rep").as("ra"), col("id").as("ia"))
    val mb = baseMembers.select(col("rep").as("rb"), col("id").as("ib"))
    repPairs
      .select(col(aName).as("ra") +: col(bName).as("rb") +: values.map(col): _*)
      .hint("merge").join(ma, "ra")
      .hint("merge").join(mb, "rb")
      .select(col("ia").as(aName) +: col("ib").as(bName) +: values.map(col): _*)
  }

  /** Incremental (cross-corpus) MinHash-LSH near-dup: candidates are
    * generated by joining the NEW BATCH's band keys against the BASE
    * corpus's band keys — the base is never self-joined, so daily
    * re-ingestion pays O(batch bands ⋈ base bands), not O(base²). Same
    * signature/banding kernels and exact-Jaccard verification as
    * [[minhashLsh]]; the streaming twin is
    * [[graft.streaming.StreamOps.nearDupAlerts]], which probes a
    * PERSISTED copy of the base band index — at 100 TB that index
    * ([[graft.Compact]]'s class-level state) is the asset this
    * operator's base side reads, so the per-batch cost is one keyed
    * join of slim triples plus candidate verification.
    *
    * EXACT-COPY COLLAPSE, per (content class, SIDE) — the round-12
    * closure of the round-11 collapse asymmetry: the batch path used
    * to band every raw document, so a 100×-copies batch (or base)
    * paid the same copies² candidate mass that killed the self-join
    * forms at sf10 before their collapse. Now each side's exact
    * copies collapse to a min-id representative before banding, and
    * verified rep pairs expand through both sides' groups
    * ([[expandCross]]). Bit-exactness is the [[minhashLsh]] argument
    * verbatim (every downstream value is a function of the shingle
    * set; copies share every bucket with their side's representative);
    * cross-side pairs between equal-content classes need no special
    * case — the two reps share all buckets and verify at 1.0. Under
    * the opt-in cap ([[Lsh.MaxBucketConf]]) band rows carry class
    * size as a weight, so bucket drops stay keyed on RAW population —
    * identical decisions to the uncollapsed pipeline, with no
    * additional group cap needed (see [[expandCross]]).
    *
    * Returns (batch_id, base_id, jaccard ≥ threshold). */
  def minhashLshAgainst(base: DataFrame, batch: DataFrame,
                        textCol: String = "text", idCol: String = "doc_id",
                        shingleK: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
                        threshold: Double = 0.8): DataFrame = {
    def shingled(d: DataFrame, isBatch: Boolean) = d
      .select(col(idCol).as("id"),
        TextOps.wordShingles(col(textCol), shingleK).as("shingles"),
        lit(isBatch).as("isBatch"))
      .filter(size(col("shingles")) > 0)
    // one shingle table for both sides, persisted under the same
    // single-live-cache discipline as minhashLsh: the scan+shingle work
    // (the profiled dominant cost) runs once per input and serves the
    // collapse, the banding pass, and both verify legs
    val sh = matD(shingled(base, isBatch = false)
      .union(shingled(batch, isBatch = true))
      .withColumn("ck", classKey(col("shingles"))))
    // collapse per (class, side): reps get banded + verified, members
    // only expand. The slim membership window mirrors minhashCollapse.
    val reps = matD(sh.groupBy("ck", "isBatch")
      .agg(min("id").as("id"), first("shingles").as("shingles"),
        count(lit(1)).as("grp_n")))
    swapShingleCaches(Seq(sh, reps))
    val w = Window.partitionBy("ck", "isBatch")
    val members = sh.select(col("id"), col("ck"), col("isBatch"))
      .select(col("id"), col("isBatch"), min("id").over(w).as("rep"))
    val banded = reps
      .select(col("id"), col("isBatch"), col("grp_n"),
        posexplode(graft.functions.Hashing.minhashBands(
          col("shingles"), bands, rowsPerBand)))
      .select(col("id"), col("isBatch"), col("grp_n"),
        col("pos").as("band"), col("col").as("bh"))
    // grouped cross-bucket candidates: base never self-joins; grp_n is
    // the weight keeping cap decisions on the bucket's RAW population
    val cand = Lsh.crossBucketPairs(banded, Seq("band", "bh"),
      "batch_id", "base_id", weightCol = "grp_n")
    val repPairs = cand
      .join(reps.filter(col("isBatch"))
        .select(col("id").as("batch_id"), col("shingles").as("sh_a")), "batch_id")
      .join(reps.filter(!col("isBatch"))
        .select(col("id").as("base_id"), col("shingles").as("sh_b")), "base_id")
      .select(col("batch_id"), col("base_id"),
        round(TextOps.jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    expandCross(repPairs,
      members.filter(col("isBatch")), members.filter(!col("isBatch")),
      "batch_id", "base_id", Seq("jaccard"))
  }

  /** [[minhashLshAgainst]] served from a PERSISTED base index
    * ([[graft.Compact]]'s CLASS-LEVEL state: `classes` = one row per
    * content class carrying (ck, rep, grp_n, fp, shingles, bands),
    * `members` = one slim (id, ck) row per document) instead of
    * re-deriving the base side from raw text: candidates come from the
    * batch's band keys joined against the index's STORED band keys —
    * one stored band set per class, not per document, so both the
    * 100 TB index asset and the per-batch candidate mass shrink by the
    * base's duplication factor — and the Jaccard verify leg reads the
    * stored class shingle sets. The batch side collapses exactly like
    * [[minhashLshAgainst]]'s. Same output contract (spec-pinned
    * equal). The stored class key additionally carries the bag
    * fingerprint (q110's identity, not a shingle-set function), which
    * only makes base classes FINER than pure shingle classes — a batch
    * rep then pairs with each matching base class separately and
    * expansion still covers every member combination. */
  def minhashLshAgainstIndex(classes: DataFrame, members: DataFrame,
                             batch: DataFrame,
                             textCol: String = "text", idCol: String = "doc_id",
                             shingleK: Int = 3, bands: Int = 32,
                             rowsPerBand: Int = 4,
                             threshold: Double = 0.8): DataFrame = {
    val batchSh = matD(batch
      .select(col(idCol).cast("long").as("id"),
        TextOps.wordShingles(col(textCol), shingleK).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("ck", classKey(col("shingles"))))
    val batchReps = matD(batchSh.groupBy("ck")
      .agg(min("id").as("id"), first("shingles").as("shingles"),
        count(lit(1)).as("grp_n")))
    swapShingleCaches(Seq(batchSh, batchReps))
    val wb = Window.partitionBy("ck")
    val batchMembers = batchSh.select(col("id"), col("ck"))
      .select(col("id"), min("id").over(wb).as("rep"))
    val baseClasses = classes.filter(size(col("shingles")) > 0)
    val batchBanded = batchReps
      .select(col("id"), lit(true).as("isBatch"), col("grp_n"),
        posexplode(graft.functions.Hashing.minhashBands(
          col("shingles"), bands, rowsPerBand)))
      .select(col("id"), col("isBatch"), col("grp_n"),
        col("pos").as("band"), col("col").as("bh"))
    val baseBanded = baseClasses
      .select(col("rep").as("id"), lit(false).as("isBatch"), col("grp_n"),
        posexplode(col("bands")))
      .select(col("id"), col("isBatch"), col("grp_n"),
        col("pos").as("band"), col("col").as("bh"))
    val cand = Lsh.crossBucketPairs(batchBanded.unionByName(baseBanded),
      Seq("band", "bh"), "batch_id", "base_id", weightCol = "grp_n")
    val repPairs = cand
      .join(batchReps.select(col("id").as("batch_id"), col("shingles").as("sh_a")),
        "batch_id")
      .join(baseClasses.select(col("rep").as("base_id"), col("shingles").as("sh_b")),
        "base_id")
      .select(col("batch_id"), col("base_id"),
        round(TextOps.jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // base membership: the stored slim (id, ck) sidecar keyed back to
    // each class's representative
    val baseMembers = members
      .join(baseClasses.select(col("ck"), col("rep")), "ck")
      .select(col("id"), col("rep"))
    expandCross(repPairs, batchMembers, baseMembers,
      "batch_id", "base_id", Seq("jaccard"))
  }

  /** 64-bit SimHash fingerprint of the token multiset: bit k of the
    * fingerprint is the sign of Σ_tokens (±1 by bit k of xxhash64(token)).
    * Returned as array of 4 × 16-bit block values (int), which is both the
    * LSH blocking key material and a compact fingerprint encoding. */
  def simhashBlocks(text: Column): Column =
    graft.functions.Hashing.simhashBlocks(TextOps.tokens(text))

  /** SimHash fingerprint with the per-token hash drawn from MD5 instead
    * of xxhash64 ([[graft.functions.Md5SimHashKernel]]): bit-for-bit
    * reproducible by any SQL engine with `md5()`, so the whole near-dup
    * pair set is independently oracle-checkable. Slightly slower per
    * token; same LSH/blocking behavior. */
  def md5SimhashBlocks(text: Column): Column =
    graft.functions.Hashing.md5SimhashBlocks(TextOps.tokens(text))

  /** Duplicate-cluster assignment: connected components over a near-dup
    * pair graph by iterative min-label propagation (each node adopts the
    * smallest label among itself and its neighbors until fixpoint —
    * converges in ≤ diameter iterations, each one distributed join +
    * aggregate; `localCheckpoint` truncates lineage so plans stay flat).
    * This is the step after pair discovery in a dedup pipeline: keep
    * cluster_id == doc_id, drop the rest.
    *
    * Round count EQUALS the graph diameter — fine for the tight clusters
    * LSH produces, but a chain of near-dups longer than `maxIter` will
    * NOT converge; use [[connectedComponentsAlternating]] when the
    * diameter is unknown or potentially large.
    *
    * Deliberately NOT routed through the bucketed serving shape
    * (`spark.graft.graph.bucketedServe`, operators/GraphArtifact): its
    * edge set is a TRANSIENT pair frame produced by the same job
    * (MinHash/SimHash candidates), so materializing a bucketed table
    * first would pay the very exchange the shape saves, plus a parquet
    * encode/decode per round — strictly worse than the checkpointed
    * full-width frame on every deployment. The bucketed path exists for
    * PERSISTED edge state (q116/q242/q211), where the write is already
    * amortized across runs.
    *
    * Returns (doc_id, cluster_id) for every node that appears in a pair;
    * cluster_id is the smallest doc_id reachable from the node. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 20): DataFrame = {
    // FIXED edge set joined on v every round, materialized through the
    // audited width guard (graft.common.IterFrame — the round-10 q116
    // IterProbe finding: a bare checkpointed shuffle output gets
    // AQE-coalesced, at fixture scale to ONE partition, so every
    // propagation round scanned and shuffle-wrote its biggest input
    // single-threaded)
    val edges = graft.common.IterFrame.keyed(
      pairs.select(col(aCol).as("u"), col(bCol).as("v"))
        .union(pairs.select(col(bCol).as("u"), col(aCol).as("v"))),
      col("v"))
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("c", col("id"))
      .localCheckpoint(true)
    def prop(e: DataFrame, l: DataFrame): DataFrame =
      e.join(l, e("v") === l("id"))
        .groupBy("u").agg(min("c").as("nc"))

    var changed = 1L
    var iter = 0
    val spark = pairs.sparkSession
    while (changed > 0 && iter < maxIter) {
      // the changed-label count piggybacks on the checkpoint
      // materialization via an accumulator instead of a second join+count
      // job per iteration (an accumulator, not observe/CollectMetrics,
      // because AQE empty-relation propagation can prune metric nodes;
      // task retries can only OVER-count, which merely runs a redundant
      // extra iteration — convergence stays correct)
      val acc = spark.sparkContext.longAccumulator("graft.cc.changed")
      val bump = udf { (chg: Boolean) => if (chg) acc.add(1L); true }
      // null-safe inequality: a plain =!= yields null for null labels,
      // which the primitive-Boolean udf would short-circuit to null and
      // the filter would silently DROP the node
      val next = labels.join(prop(edges, labels), labels("id") === col("u"), "left")
        .select(labels("id"),
          least(labels("c"), coalesce(col("nc"), labels("c"))).as("c"),
          not(least(labels("c"), coalesce(col("nc"), labels("c"))) <=> labels("c")).as("chg"))
        .filter(bump(col("chg")))
        .select("id", "c")
        .localCheckpoint(true) // eager: acc is complete after this returns
      changed = acc.value
      labels = next
      iter += 1
    }
    labels.select(col("id").as("doc_id"), col("c").as("cluster_id"))
  }

  /** Rounds the last [[connectedComponentsAlternating]] call took to
    * reach its fixpoint (one LS+SS pass per round). Test-only
    * introspection with last-call-wins semantics — any interleaved
    * caller (e.g. [[Similarity.semDedupClusters]]) overwrites it, so
    * read it immediately after the call under test. */
  @volatile private[graft] var lastAlternatingRounds: Int = 0

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC '14): round count is O(log² n) in the NODE count and
    * independent of graph diameter, unlike [[connectedComponents]]
    * whose round count equals the diameter. Use this when the dup graph
    * may contain long chains (A≈B≈C≈… "telephone" near-dup chains where
    * the ends are not similar): a 10k-link chain needs 10k label-prop
    * rounds but ~⌈log₂ 10k⌉ alternating rounds. Same contract as
    * [[connectedComponents]]: returns (doc_id, cluster_id) for every
    * node in `pairs`, cluster_id = smallest reachable id (any orderable
    * id type).
    *
    * Each round is two distributed steps over the edge set E, kept
    * oriented child→parent with child > parent:
    *  - large-star: each node u connects every LARGER neighbor to
    *    m = min(Γ(u) ∪ {u}) — one groupBy(u) min + one join back;
    *  - small-star: each node u connects its smaller neighbors and
    *    itself to m = min(Γ₋(u) ∪ {u}) — same shape on the oriented set.
    * Both steps preserve connectivity and only ever re-point a node to a
    * smaller id, so |E| never grows beyond the bidirectional input and
    * the fixpoint is one star per component rooted at the component min.
    * Convergence is detected EXACTLY (count + set-difference emptiness,
    * both over the deduped edge set), not by a hash signature. */
  def connectedComponentsAlternating(pairs: DataFrame, aCol: String = "doc_a",
                                     bCol: String = "doc_b", maxIter: Int = 30): DataFrame = {
    // materialize the (possibly expensive) upstream pair-discovery plan
    // exactly ONCE; nodes and the oriented edge set both derive from
    // this cut — two separate checkpoints would execute the upstream
    // pipeline (LSH banding, within-cell cosine join, …) twice
    val canon = pairs.select(col(aCol).as("pa"), col(bCol).as("pb"))
      .localCheckpoint(true)
    val nodes = canon.select(col("pa").as("id"))
      .union(canon.select(col("pb").as("id")))
      .distinct()
    // canonical orientation (u, v) with u > v; self-loops dropped
    var edges = canon
      .select(greatest(col("pa"), col("pb")).as("u"),
              least(col("pa"), col("pb")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)

    // large-star over the UNDIRECTED view: for every node u, re-point
    // each neighbor v > u at m(u) = min(Γ(u) ∪ {u}); emitted (v, m) has
    // v > u ≥ m, so the child>parent orientation is preserved for free
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select("u", "v")
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u")
        .agg(least(min("v"), first("u")).as("m"))
        .withColumnRenamed("u", "ku")
      nbrs.join(mins, nbrs("u") === col("ku"))
        .where(col("v") > nbrs("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }

    // small-star over the ORIENTED view: every smaller neighbor of u,
    // and u itself, re-points at m(u) = min of the smaller neighbors
    // (all values under key u are < u, so m < u and each emitted (v, m)
    // again keeps v > m after dropping the root's self-edge)
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }

    var converged = false
    var iter = 0
    var edgeCount = edges.count()
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextCount = next.count()
      // exact set equality: both sides are distinct, so equal counts plus
      // an empty one-sided difference means identical edge sets
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    // a non-star edge set would make the label join below fan out to
    // several rows per node — fail loudly instead of breaking the
    // one-row-per-node contract (maxIter=30 covers any physical graph:
    // rounds grow O(log² n) in the node count)
    require(converged,
      s"connectedComponentsAlternating did not converge in $maxIter rounds; " +
        "raise maxIter")
    lastAlternatingRounds = iter
    // fixpoint: a star per component, each child pointing at the root
    // (= component min); roots appear only on the v side
    nodes.join(edges, nodes("id") === edges("u"), "left")
      .select(nodes("id").as("doc_id"),
              coalesce(edges("v"), nodes("id")).as("cluster_id"))
  }

  /** Partial-duplicate pairs by ALIGNED fixed-size blocks: md5 of each
    * `blockLen`-char block of the normalized text; pairs sharing at
    * least `minShared` block fingerprints. The position-aligned sibling
    * of [[partialDupPairs]]: weaker against insertions (no boundary
    * resync), but every step is plain SQL, so an external engine can
    * replay it exactly — this is the oracle-gated face of partial
    * dedup. Discovery is a fingerprint bucket join; work is
    * proportional to sharing, never all-pairs. */
  def alignedBlockPairs(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", blockLen: Int = 64,
                        minShared: Int = 2): DataFrame = {
    val nt = docs.select(col(idCol).as("id"),
      regexp_replace(lower(trim(col(textCol))), "\\s+", " ").as("s"))
    val blocks = nt
      .select(col("id"), explode(split(col("s"), s"(?<=\\G.{$blockLen})")).as("block"))
      .filter(length(col("block")) === blockLen)
      .select(col("id"), md5(col("block").cast("binary")).as("fp"))
    val perDoc = blocks.groupBy("id").agg(sort_array(collect_set(col("fp"))).as("fps"))
    val cand = Lsh.bucketPairs(blocks, Seq("fp"), "doc_a", "doc_b")
    val fa = perDoc.select(col("id").as("doc_a"), col("fps").as("f_a"))
    val fb = perDoc.select(col("id").as("doc_b"), col("fps").as("f_b"))
    cand.join(fa, "doc_a").join(fb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("f_a"), col("f_b"))).as("shared_blocks"))
      .filter(col("shared_blocks") >= minShared)
  }

  /** Partial-duplicate pairs via content-defined chunking (Rabin-style
    * rolling hash, [[graft.functions.RollingChunkKernel]]): documents
    * sharing at least `minSharedChunks` chunk fingerprints — catches
    * SUBSTRING-level duplication (shared boilerplate, quoted blocks)
    * that whole-doc or shingle-set measures dilute. Discovery is by
    * chunk-fingerprint bucket join (each shared chunk is a bucket key),
    * so work is proportional to actual sharing, never all-pairs; the
    * expected chunk length is `mask+1` chars (mask = 2^k − 1).
    *
    * Returns (doc_a, doc_b, shared_chunks) with doc_a < doc_b. */
  def partialDupPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                      minChunk: Int = 64, mask: Long = 0xff, minSharedChunks: Int = 2): DataFrame = {
    val chunked = docs.select(col(idCol).as("id"),
      graft.functions.Hashing.rollingChunks(col(textCol), minChunk, mask).as("chunks"))
    val exploded = chunked.select(col("id"), explode(col("chunks")).as("ch"))
    // each chunk fingerprint is a bucket; in-bucket pairs share that chunk
    val pairs = Lsh.bucketPairs(exploded.select(col("id"), col("ch")), Seq("ch"), "doc_a", "doc_b")
    // count DISTINCT shared chunks per candidate pair via re-join
    val ca = chunked.select(col("id").as("doc_a"), col("chunks").as("ch_a"))
    val cb = chunked.select(col("id").as("doc_b"), col("chunks").as("ch_b"))
    pairs.join(ca, "doc_a").join(cb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ch_a"), col("ch_b"))).as("shared_chunks"))
      .filter(col("shared_chunks") >= minSharedChunks)
  }

  /** SimHash near-dup pairs via 4×16-bit block LSH.
    *
    * @param tokenHash "xxh64" (default, fastest) or "md5"
    *        ([[md5SimhashBlocks]] — oracle-replayable). The 4×16-bit
    *        block LSH is pigeonhole-complete for `maxHamming` ≤ 3: every
    *        pair within that radius shares at least one block, so the
    *        output is exactly the all-pairs Hamming-≤3 set with no
    *        O(n²) scan. Larger radii still work but become best-effort
    *        (a pair differing in all four blocks is never a candidate). */
  def simhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                   maxHamming: Int = 3, tokenHash: String = "xxh64"): DataFrame = {
    val blocksOf = tokenHash match {
      case "xxh64" => simhashBlocks _
      case "md5"   => md5SimhashBlocks _
      case other   => throw new IllegalArgumentException(s"unknown tokenHash: $other")
    }
    // Exact-copy collapse, keyed on the 64-bit fingerprint ITSELF
    // (reassembled from the four 16-bit blocks — injective, so no hash
    // collision risk at all): every output value is a function of the
    // fingerprint alone (bucket membership = the blocks; verification =
    // Hamming over the blocks), so docs with equal fingerprints are
    // interchangeable and pairing runs over one representative per
    // fingerprint. Within-group pairs carry Hamming 0; cross-group
    // pairs inherit the representatives' Hamming. Same bit-exactness
    // argument as [[minhashLsh]] — here even stronger, since the
    // collapse key IS the entire downstream input. The collapse
    // groupBy replaces nothing: the raw pipeline evaluated the
    // fingerprint kernel three times (banding + two verify legs);
    // collapsed, those consumers share the grouped exchange.
    // bit ops, not arithmetic: block 4 shifted 48 bits may set the sign
    // bit, which is fine for a KEY but overflows a signed multiply
    val fpk = (1 to 4).map(i =>
      shiftleft(element_at(col("blocks"), i).cast("long")
        .bitwiseAND(lit(0xFFFFL)), 16 * (i - 1)))
      .reduce(_ bitwiseOR _)
    val fp = docs.select(col(idCol).as("id"), blocksOf(col(textCol)).as("blocks"))
      .withColumn("fpk", fpk)
    // the representative frame is slim (ids + a long + 4 small blocks)
    // and multiply consumed (banding + two verify legs + multiReps) —
    // persist it; the fingerprint kernel then runs twice total (reps +
    // members) vs three times pre-collapse, and the members window's
    // two expansion consumers share one reused exchange
    val reps = matD(fp.groupBy("fpk")
      .agg(min("id").as("id"), first("blocks").as("blocks"),
        count(lit(1)).as("grp_n")))
    val wf = Window.partitionBy("fpk")
    val members = fp.select(col("id"), col("fpk"))
      .select(col("id"), min("id").over(wf).as("rep"),
        count(lit(1)).over(wf).as("grp_n"))
    swapShingleCaches(Seq(reps))
    val multiReps = reps.filter(col("grp_n") > 1).select("id", "grp_n")

    val banded = reps.select(col("id"), col("grp_n"),
      explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("band"), element_at(col("blocks"), b + 1).as("bv")))).as("bb"))
      .select(col("id"), col("grp_n"), col("bb.band"), col("bb.bv"))

    val cand = Lsh.bucketPairs(banded, Seq("band", "bv"), "doc_a", "doc_b",
      weightCol = "grp_n")

    val fa = reps.select(col("id").as("doc_a"), col("blocks").as("bl_a"))
    val fb = reps.select(col("id").as("doc_b"), col("blocks").as("bl_b"))
    val ham = (1 to 4).map(i =>
      bit_count(element_at(col("bl_a"), i).bitwiseXOR(element_at(col("bl_b"), i))))
      .reduce(_ + _)

    val repPairs = cand.join(fa, "doc_a").join(fb, "doc_b")
      .select(col("doc_a"), col("doc_b"), ham.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    expandCollapsed(NearDupCollapse(members, multiReps, repPairs),
      Seq("hamming"), Seq(lit(0)), withinQualifies = maxHamming >= 0)
  }

  /** Exact duplicated-substring spans (the substring-granular dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL '22 — realized relationally instead of via a suffix
    * array): a token position is "duplicated" when the k-token shingle
    * starting there occurs ≥ `minOccurs` times anywhere in the corpus
    * (other documents OR elsewhere in the same one); overlapping or
    * adjacent duplicated positions merge into maximal spans.
    *
    * Returns one row per document that contains at least one span:
    * (doc_id, n_spans, dup_tokens, max_span, dup_frac) where dup_tokens
    * is the exact number of tokens covered by some duplicated shingle.
    *
    * Scale shape: the positional-shingle explode is a linear codegen
    * pass over the corpus (shingles leave the map stage as md5 hashes,
    * never text); the duplicate set comes from one map-combinable
    * count per hash; positions rejoin it with a hash-keyed shuffle
    * join — deliberately NOT a collect_list-per-hash regroup, whose
    * per-key state is unbounded under stop-shingles. Span merging is a
    * per-document window (running max-end → island ids), the q127
    * sweep-line shape. No stage is quadratic and no per-key state is
    * unbounded, so the plan survives a 100× corpus. The positional
    * explode is evaluated twice (count leg + rejoin leg) — recomputing
    * a map-side pass beats materializing O(corpus tokens) rows. */
  def duplicatedSpans(docs: DataFrame, k: Int = 5, minOccurs: Int = 2,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pos = positionalShingles(docs, k, idCol, textCol)
    val dup = pos.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minOccurs).select("h")
    val wOrd = Window.partitionBy("doc_id").orderBy("p")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val spans = pos.join(dup, "h")
      .withColumn("me", max(col("p") + lit(k - 1)).over(wPrev))
      .withColumn("isl", sum(when(col("me").isNull || col("p") > col("me") + 1, 1)
        .otherwise(0)).over(wOrd))
      .groupBy("doc_id", "n_tokens", "isl")
      .agg(min("p").as("s"), (max(col("p")) + lit(k - 1)).as("e"))
    spans.groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"),
        max(col("e") - col("s") + 1).cast("int").as("max_span"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("max_span"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 4).as("dup_frac"))
  }

  /** Per-document n-gram novelty score (the boilerplate-density signal
    * next to [[duplicatedSpans]]' span extraction): the fraction of a
    * document's k-token shingles that are corpus-UNIQUE (occur fewer
    * than `minOccurs` times anywhere, within-document repeats
    * included). `flagged` marks documents whose novelty falls below ½
    * — the "mostly boilerplate" drop gate — via the integer comparison
    * `2·(n − dup) < n`, so no float boundary can flip between engines;
    * `novelty` itself is one exact-integer division rounded once.
    *
    * Every stage pre-aggregates before it shuffles: positions collapse
    * to per-(doc, shingle) counts map-side (a map-combinable reduction
    * — the shuffle carries DISTINCT (doc, h) pairs, not the token
    * stream), corpus totals are one further count per h, and the flag
    * join + per-doc rollup are keyed on h / doc_id. Linear at 100 TB,
    * no unbounded per-key state.
    *
    * Round 15: the flag join carries only the DUPLICATED-shingle set
    * (tot ≥ minOccurs, projected to h) instead of the vocabulary-wide
    * (h, tot) table — `sum(when(tot ≥ k, c))` over a full join equals
    * `sum(c where h ∈ dupset)` over a left join, bit for bit, while
    * the join's build side shrinks from every distinct shingle to the
    * duplicated subset (the [[duplicatedSpans]] discipline; at 100 TB
    * the difference between broadcasting a vocabulary and a dup set). */
  def shingleNovelty(docs: DataFrame, k: Int = 5, minOccurs: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val dh = positionalShingles(docs, k, idCol, textCol)
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
    val dup = dh.groupBy("h").agg(sum("c").as("tot"))
      .filter(col("tot") >= minOccurs)
      .select(col("h"), lit(true).as("isdup"))
    dh.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_shingles"),
        sum(when(col("isdup"), col("c")).otherwise(lit(0)))
          .cast("long").as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        round((col("n_shingles") - col("n_dup")).cast("double") /
          col("n_shingles"), 4).as("novelty"),
        ((col("n_shingles") - col("n_dup")) * 2 < col("n_shingles"))
          .as("flagged"))
  }

  /** Shared positional-shingle explode behind [[duplicatedSpans]] and
    * [[shingleNovelty]]: one row per k-token shingle start position,
    * (doc_id, n_tokens, p, h) with h = md5 of the shingle text — the
    * text itself never leaves the map stage. */
  private def positionalShingles(docs: DataFrame, k: Int, idCol: String,
                                 textCol: String): DataFrame = {
    require(k >= 1, s"shingle width must be >= 1: $k")
    val toks = TextOps.tokens(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"), col("toks"))
      .filter(col("n_tokens") >= k)
      .select(col("doc_id"), col("n_tokens"),
        // single-pass codegen kernel; the equivalent
        // transform∘slice∘concat_ws∘md5 chain ran its lambda interpreted
        // with a k-token copy per position (identical md5 hex output —
        // PositionalShingleMd5Kernel feeds the digest the same bytes)
        posexplode(graft.functions.Hashing.positionalShingleMd5(col("toks"), k)))
      .select(col("doc_id"), col("n_tokens"), (col("pos") + 1).as("p"), col("col").as("h"))
  }
}
