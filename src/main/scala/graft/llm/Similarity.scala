package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact — broadcast the (small) query set against
  *    the corpus, map-side cosine, per-query top-k. Linear in corpus size,
  *    no corpus shuffle: the 100 TB-safe exact baseline.
  *  - [[lshBucketedPairs]]: approximate — sign-random-projection (SRP /
  *    hyperplane LSH, Charikar 2002) buckets; only intra-bucket pairs are
  *    scored. Replaces the O(n²) self-join with a bucket-keyed shuffle.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns — a single-pass
    * custom expression ([[graft.functions.CosineKernel]]); same
    * accumulation order as the equivalent aggregate/zip_with fold, so
    * results are bit-identical, just not interpreted. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosineSim(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k nearest neighbors (cosine) of each query vector.
    * `queries` is expected to be small (it is broadcast); the corpus is
    * scanned once, partition-parallel. Similarities are rounded before
    * ranking so ordering is stable across engines/architectures. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 4).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "sim", "rk")
  }

  /** Sign-random-projection signature: bit i = sign(v · h_i) where h_i is
    * a deterministic pseudo-random ±1 hyperplane derived from
    * xxhash64(plane index + offset, dim index) — reproducible with no
    * stored model. Returned as a long bucket key of `bits` bits
    * (single-pass custom expression, [[graft.functions.SrpKernel]]). */
  def srpBucket(vec: Column, bits: Int, offset: Int = 0): Column =
    graft.functions.VectorOps.srpBucket(vec, bits, offset)

  /** The per-cell sort key for nearest-centroid selection: similarities
    * are rounded (6 dp) and ties broken by cell id ascending, so the
    * assignment is deterministic and engine-portable. */
  private[llm] def cellRanks(vecName: String, centroids: Array[(Long, Array[Double])]): Column =
    array(centroids.map { case (cell, cv) =>
      struct((-round(cosine(col(vecName), typedLit(cv.toSeq)), 6)).as("negsim"),
        lit(cell).as("cell"))
    }.toIndexedSeq: _*)

  /** Map-side nearest-cell assignment: centroids are a small model
    * (nlist ≪ corpus) embedded as broadcast literals, so each row picks
    * its cell with per-row arithmetic only — no join, no window, no
    * Exchange between the corpus scan and the assignment (PlanSpec pins
    * this). At 100 TB this is the difference between a free map stage
    * and a corpus×nlist shuffle. */
  def assignCells(df: DataFrame, centroids: Array[(Long, Array[Double])],
                  vecName: String = "v"): DataFrame =
    df.withColumn("cell", graft.functions.VectorOps.nearestCell(col(vecName),
      centroids.map(_._1), centroids.map(_._2)))

  /** Deterministic "first-N" centroids: the vectors of the `nlist`
    * smallest ids. A placeholder for trained centroids that has the
    * virtue of being exactly reproducible in plain SQL (the q50 oracle
    * replays it); swap in [[trainCentroids]] for real cell balance. */
  def firstNCentroids(corpus: DataFrame, nlist: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): Array[(Long, Array[Double])] =
    corpus.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .orderBy("id").limit(nlist).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Sampled spherical k-means centroids: Lloyd iterations over a
    * bounded, deterministic sample (first `sampleN` ids) collected to
    * the driver — the standard offline-training step for IVF (the
    * sample, not the corpus, bounds the work; assignment of the full
    * corpus stays map-side). Initialization is the first `nlist` sample
    * vectors, so the result is reproducible run-to-run. */
  def trainCentroids(corpus: DataFrame, nlist: Int, sampleN: Int = 4096,
                     iters: Int = 5, idCol: String = "vec_id",
                     vecCol: String = "embedding"): Array[(Long, Array[Double])] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val sample = corpus.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .orderBy("id").limit(sampleN).collect()
      .map(r => normalize(r.getSeq[Double](1).toArray))
    require(sample.length >= nlist, s"need >= $nlist sample vectors, got ${sample.length}")
    val dim = sample.head.length
    var cents = sample.take(nlist).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Int](nlist)
      for (v <- sample) {
        var best = 0; var bestDot = Double.MinValue
        for (c <- 0 until nlist) {
          var d = 0.0; var i = 0
          while (i < dim) { d += v(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(nlist)(c =>
        if (counts(c) == 0) cents(c) else normalize(sums(c)))
    }
    cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv) }
  }

  /** Sampled spherical k-means whose EVERY step is integer-exact and
    * therefore bit-replayable by a SQL oracle (the SCALE.md caveat-3
    * closer: trained centroids with the same replayability contract as
    * [[firstNCentroids]]):
    *
    *  - sample: md5-bucket < 40 of vec_id (the q175 seeded-sampler
    *    pattern), smallest `sampleN` ids, zero vectors excluded;
    *  - quantize: each sample normalized and rounded to 6 dp — held as
    *    integer micro-units (×10⁶) from here on;
    *  - init: the first `nlist` sample vectors;
    *  - Lloyd iteration (×`iters`): assignment by EXACT integer dot
    *    product (ties → lowest cell), recompute as the integer member
    *    sum re-normalized and re-quantized to micro-units (empty cells
    *    keep their centroid).
    *
    * Because sums/dots are exact integers, no floating summation-order
    * issue exists anywhere in the loop — DuckDB replays it with two
    * unrolled CTE iterations and gets the same centroids to the last
    * micro-unit (q208's oracle). */
  def trainCentroidsReplayable(corpus: DataFrame, nlist: Int = 16,
                               sampleN: Int = 256, iters: Int = 2,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): Array[(Long, Array[Double])] = {
    def round6(x: Double): Long =
      BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val sample: Array[Array[Long]] = corpus
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .filter(graft.queries.Fragments.hashBucket(col("id").cast("string"), 100) < 40)
      .orderBy("id").limit(sampleN).collect()
      .map(r => r.getSeq[Double](1).toArray)
      .filter(v => v.exists(_ != 0.0))
      .map { v =>
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => round6(x / norm))
      }
    require(sample.length >= nlist,
      s"need >= $nlist non-zero sample vectors, got ${sample.length}")
    val dim = sample.head.length
    var cents: Array[Array[Long]] = sample.take(nlist).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist)(new Array[Long](dim))
      val counts = new Array[Int](nlist)
      for (u <- sample) {
        var best = 0
        var bestDot = Long.MinValue
        var c = 0
        while (c < nlist) {
          var d = 0L
          var i = 0
          while (i < dim) { d += u(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += u(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) cents(c)
        else {
          val sv = sums(c)
          var n2 = 0L
          sv.foreach(x => n2 += x * x) // ≤ 64·(256e6)² ≈ 4.2e18 < Long.Max
          val norm = math.sqrt(n2.toDouble)
          sv.map(x => round6(x / norm)) // x/norm is unitless ∈ [−1,1]
        }
      }
    }
    cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv.map(_ / 1e6)) }
  }

  /** Sentinel for [[semDedupClusters]]'s `nlist`: derive cell count
    * from the corpus (the IVF discipline, `autoNlist`). */
  val AutoNlist: Int = 0

  /** Cell-size target behind [[autoNlist]]: ~200 vectors per cell puts
    * the derived nlist inside the measured-safe band of SCALE.md
    * caveat 9 (at the 200 k-vector 100× probe corpus: nlist 256–1024
    * measured fine, 1024 completed the full clusters query in 52 s;
    * fixed nlist=16 measured fatal at 1.78 B within-cell pairs). */
  val TargetCellSize: Long = 200L

  /** nlist ∝ corpus: `max(16, corpusCount / TargetCellSize)` (capped at
    * 2²⁰ cells — beyond that, train real centroids instead of widening
    * a first-N model). Keeps the Σ|cell|² pair stage linear in corpus
    * size; returns the fixture-compatible 16 for any corpus ≤ 3 200
    * vectors, so every existing small-SF oracle is unchanged. */
  def autoNlist(corpusCount: Long): Int =
    math.min(math.max(16L, corpusCount / TargetCellSize), 1L << 20).toInt

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster embeddings by nearest centroid, find
    * exact cosine near-duplicate pairs WITHIN each cell only, connect
    * them into clusters, and keep one representative (the min id) per
    * cluster. Returns one row per corpus vector:
    * (vec_id, cluster_id, keep) with keep ⇔ vec_id == cluster_id.
    *
    * Scale shape: cell assignment is map-side against broadcast
    * centroids (no corpus shuffle — [[assignCells]]); the pair stage
    * shuffles each vector ONCE keyed on its cell and compares within
    * cells only, so the quadratic term is Σ|cell|² — bounded by cell
    * granularity (nlist ∝ corpus/target-cell-size keeps it linear),
    * never corpus². Cross-cell near-dups are missed by construction —
    * the documented SemDeDup trade-off (raise nprobe-style recall by
    * training better centroids, not by widening the join). Clustering
    * uses the diameter-independent alternating CC
    * ([[Dedup.connectedComponentsAlternating]]). */
  def semDedupClusters(corpus: DataFrame, threshold: Double = 0.4,
                       nlist: Int = AutoNlist, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       centroids: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    // IVF discipline BY DEFAULT: a naive caller at 100× corpus must not
    // be able to reproduce the caveat-9 explosion (fixed nlist=16 at
    // 200 k vectors ⇒ 1.78 B within-cell pairs, measured fatal). The
    // one extra corpus count() is noise next to the pair stage; callers
    // with a pinned model (q181's oracle replay) pass nlist explicitly.
    val n = if (nlist == AutoNlist) autoNlist(corpus.count()) else nlist
    val cents = centroids.getOrElse(firstNCentroids(corpus, n, idCol, vecCol))
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // materialize the assignment once (triangleCensus discipline): it
    // feeds both legs of the within-cell self-join and the final label
    // join — unchecked, each leg re-scans the corpus and re-runs the
    // nlist×dim assignment kernel
    val assigned = assignCells(v, cents, "v").localCheckpoint(true)
    val pairs = assigned
      .select(col("cell"), col("id").as("doc_a"), col("v").as("va"))
      .join(assigned.select(col("cell"), col("id").as("doc_b"), col("v").as("vb")),
        Seq("cell"))
      .where(col("doc_a") < col("doc_b"))
      .filter(round(cosine(col("va"), col("vb")), 4) >= threshold)
      .select("doc_a", "doc_b")
    val clusters = graft.llm.Dedup.connectedComponentsAlternating(pairs)
    val ids = assigned.select("id")
    ids.join(clusters, ids("id") === clusters("doc_id"), "left")
      .select(ids("id").as("vec_id"),
        coalesce(col("cluster_id"), ids("id")).as("cluster_id"),
        (coalesce(col("cluster_id"), ids("id")) === ids("id")).as("keep"))
  }

  /** Dimension-truncation rerank cascade (matryoshka-style serving, cf.
    * Kusupati et al., "Matryoshka Representation Learning", NeurIPS
    * '22): stage 1 scores the corpus against each query on only the
    * first `prefixDims` dimensions (4× less arithmetic and memory
    * traffic at 16 of 64 dims) and keeps `candidates` per query via a
    * row_number window Spark rewrites with WindowGroupLimit — each map
    * task pre-prunes to its local top-`candidates`, so the shuffle
    * carries O(tasks·candidates) rows; stage 2 reranks only those by
    * full-dimension cosine. Full vectors ride along with the candidate
    * rows (bounded by the group limit) rather than re-joining the
    * corpus — one corpus scan total. The complement of [[ivfTopK]]:
    * IVF prunes WHICH vectors are scored, truncation cheapens HOW each
    * one is scored; compose them for both. Exact-recall caveat: a true
    * neighbor outside the prefix-similarity top-`candidates` is lost —
    * widen `candidates` to trade cost for recall. */
  def truncRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                      prefixDims: Int = 16, candidates: Int = 20,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val wPre = Window.partitionBy("query_id")
      .orderBy(col("sim_prefix").desc, col("neighbor_id").asc)
    val wFull = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"),
        round(cosine(slice(col("qv"), 1, prefixDims), slice(col("cv"), 1, prefixDims)), 6)
          .as("sim_prefix"))
      .withColumn("crk", row_number().over(wPre))
      .filter(col("crk") <= candidates)
      .select(col("query_id"), col("neighbor_id"), col("sim_prefix"),
        round(cosine(col("qv"), col("cv")), 4).as("sim"))
      .withColumn("rk", row_number().over(wFull))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "sim_prefix", "sim", "rk")
  }

  /** Semantic decontamination: flag every corpus vector whose cosine
    * similarity to SOME held-out evaluation vector reaches `threshold`
    * — the embedding-space complement of n-gram decontamination (q87):
    * n-grams catch verbatim leakage, embeddings catch paraphrase
    * leakage. Shape is IVF serving ([[ivfTopK]]) with a threshold in
    * place of top-k: the corpus is cell-assigned map-side against
    * broadcast centroids (no Exchange above the corpus scan), the small
    * eval set probes its `nprobe` nearest cells, and the cell-keyed
    * join scores only corpus×probed-cell candidates — never corpus ×
    * eval-set, and never corpus². Per flagged vector, the single best
    * (sim desc, eval id asc) witness survives via a WindowGroupLimit
    * row_number. Same recall caveat as any IVF probe: a contaminated
    * vector whose cell the eval query does not probe is missed —
    * raise `nprobe` or train better centroids to trade cost for recall.
    *
    * Returns (vec_id, test_id, sim): corpus id, best eval witness, its
    * rounded cosine. */
  def contaminatedBy(test: DataFrame, corpus: DataFrame, threshold: Double,
                     nlist: Int = 16, nprobe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     centroids: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    val cents = centroids.getOrElse(firstNCentroids(corpus, nlist, idCol, vecCol))
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val assigned = assignCells(v, cents, "v")
    val q = test.select(col(idCol).as("test_id"), asDouble(col(vecCol)).as("qv"))
    val probes = q
      .select(col("test_id"), col("qv"),
        explode(slice(array_sort(cellRanks("qv", cents)), 1, nprobe)).as("pc"))
      .select(col("test_id"), col("qv"), col("pc.cell").as("cell"))
    val w = Window.partitionBy("id").orderBy(col("sim").desc, col("test_id").asc)
    assigned.join(broadcast(probes), "cell")
      .select(col("id"), col("test_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
      .filter(col("sim") >= threshold)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("id").as("vec_id"), col("test_id"), col("sim"))
  }

  /** Distributed spherical k-means: each Lloyd iteration is map-side
    * cell assignment over broadcast centroids ([[assignCells]], no
    * corpus shuffle) followed by ONE map-combinable aggregation for the
    * per-cell per-dimension sums — the shape that trains on the full
    * corpus at 100 TB (only nlist×dim numbers return to the driver per
    * iteration). Deterministic: first-N init, fixed iteration count. */
  def trainCentroidsDistributed(corpus: DataFrame, nlist: Int, iters: Int = 5,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): Array[(Long, Array[Double])] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    var cents = firstNCentroids(corpus, nlist, idCol, vecCol)
      .map { case (i, cv) => (i, normalize(cv)) }
    val dim = cents.head._2.length
    for (_ <- 0 until iters) {
      // per-(cell, dim) sums in one map-combinable aggregation; for a
      // SPHERICAL centroid normalize(sum) == normalize(mean), so the
      // count never needs to leave the executors
      val sums = assignCells(v, cents, "v")
        .select(col("cell"), posexplode(col("v")))
        .groupBy("cell", "pos")
        .agg(sum("col").as("s"))
        .collect()
      val byCell = sums.groupBy(_.getLong(0))
      cents = cents.map { case (c, old) =>
        byCell.get(c) match {
          case Some(rows) =>
            val total = new Array[Double](dim)
            rows.foreach(r => total(r.getInt(1)) = r.getDouble(2))
            (c, normalize(total))
          case None => (c, old) // empty cell keeps its centroid
        }
      }
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k: the corpus is assigned to
    * `nlist` cells by nearest centroid; each query probes only its
    * `nprobe` nearest cells, scoring ~n·nprobe/nlist candidates instead
    * of n. Centroids (default [[firstNCentroids]]; pass
    * [[trainCentroids]] output for k-means cells) are broadcast as
    * literals and assignment is map-side ([[assignCells]]) — the only
    * shuffle in the whole plan is the probe⋈corpus join keyed on cell
    * id. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroids: Option[Array[(Long, Array[Double])]] = None): DataFrame = {
    val cents = centroids.getOrElse(firstNCentroids(corpus, nlist, idCol, vecCol))
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val assigned = assignCells(v, cents, "v")

    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val probes = q
      .select(col("query_id"), col("qv"),
        explode(slice(array_sort(cellRanks("qv", cents)), 1, nprobe)).as("pc"))
      .select(col("query_id"), col("qv"), col("pc.cell").as("cell"))

    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(cosine(col("qv"), col("v")), 4).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Product-quantization approximate top-k (the FAISS-style IVF
    * companion: where IVF prunes the candidate SET, PQ compresses the
    * candidate VECTORS). The corpus is encoded once into `m` per-block
    * codebook ids (map-side kernel, no shuffle — at rest the codes are
    * m small ints per vector, a 32× compression of a 64-dim float
    * embedding); queries score candidates by asymmetric distance (ADC):
    * the sum of per-block distances from the query block to the centroid
    * block each code points at — never touching the original corpus
    * vectors.
    *
    * Codebook default is the deterministic first-`codes` vectors (same
    * replayability contract as [[firstNCentroids]]; the q78 oracle
    * replays encode + ADC bit-for-bit); swap in trained sub-codebooks for
    * real recall. Per-query top-k runs through a row_number window that
    * Spark rewrites with WindowGroupLimit — each map task pre-prunes to
    * its local top-k, so the shuffle carries O(tasks·k) slim rows, not
    * the corpus. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 8,
             codes: Int = 16, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val cb = firstNCentroids(corpus, codes, idCol, vecCol)
    val ids = cb.map(_._1)
    val cents = cb.map(_._2)
    val encoded = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("codes", graft.functions.VectorOps.pqEncode(col("v"), ids, cents, m))
      .select("neighbor_id", "codes")
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val scored = encoded.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VectorOps.pqAdc(col("qv"), col("codes"), ids, cents, m), 4)
          .as("adist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
  }

  /** IVF+PQ composed (the full FAISS-style ANN stack): IVF prunes each
    * query's candidate set to its `nprobe` nearest cells, PQ scores the
    * survivors by asymmetric distance against compressed codes — the
    * original vectors are touched only at index build. Cell assignment
    * AND code encoding are map-side kernels over broadcast literals, so
    * index build adds zero shuffles to the corpus scan; the only shuffle
    * is the probe⋈cell join, and it carries (id, cell, 8 codes) rows —
    * at 100 TB that is the whole point: the exchange moves ~1/32nd of
    * the embedding bytes and 1/(nlist/nprobe) of the rows. Deterministic
    * first-N cells/codebook keep the entire pipeline oracle-replayable
    * (q79). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 8, codes: Int = 16,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // one collect serves both models (cells + codebook are prefixes of
    // the same first-N id ordering)
    val firstN = firstNCentroids(corpus, math.max(nlist, codes), idCol, vecCol)
    val cents = firstN.take(nlist)
    val cb = firstN.take(codes)
    val ids = cb.map(_._1)
    val cvecs = cb.map(_._2)
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val indexed = assignCells(v, cents, "v")
      .withColumn("codes", graft.functions.VectorOps.pqEncode(col("v"), ids, cvecs, m))
      .select("id", "cell", "codes")
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val probes = q
      .select(col("query_id"), col("qv"),
        explode(slice(array_sort(cellRanks("qv", cents)), 1, nprobe)).as("pc"))
      .select(col("query_id"), col("qv"), col("pc.cell").as("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    probes.join(indexed, "cell")
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        round(graft.functions.VectorOps.pqAdc(col("qv"), col("codes"), ids, cvecs, m), 4)
          .as("adist"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
  }

  /** SRP-LSH pairs with *explicit* hyperplanes: like [[lshBucketedPairs]]
    * but the planes are literal vectors chosen by the caller (e.g. the
    * first `tables·bits` corpus vectors via [[firstNPlanes]]) instead of
    * hash-derived pseudo-random ones. Two properties follow:
    *  - bucketing is plain arithmetic (`sign(v · p_j)`) that any SQL
    *    engine can replay, so the full pipeline — bucket, intra-bucket
    *    pair, exact-cosine verify — is independently oracle-checkable;
    *  - bucket bits are computed map-side against broadcast literals, so
    *    the only shuffle is the bucket-keyed candidate grouping.
    * Plane `t·bits + j` supplies bit j of table t's bucket key. */
  def planeSrpPairs(corpus: DataFrame, planes: Array[Array[Double]], bits: Int,
                    threshold: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(planes.length % bits == 0, s"planes (${planes.length}) must be tables*bits")
    val tables = planes.length / bits
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val tabbed = v.select(col("id"),
      explode(array((0 until tables).map { t =>
        val bucket = (0 until bits).map { j =>
          val dot = graft.functions.VectorOps.dotProduct(col("v"), typedLit(planes(t * bits + j).toSeq))
          when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        struct(lit(t).as("tab"), bucket.as("bucket"))
      }.toIndexedSeq: _*)).as("tb"))
      .select(col("id"), col("tb.tab"), col("tb.bucket"))
    val cand = Lsh.bucketPairs(tabbed, Seq("tab", "bucket"), "id_a", "id_b")
    val va = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val vb = v.select(col("id").as("id_b"), col("v").as("v_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"), round(cosine(col("v_a"), col("v_b")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** [[planeSrpPairs]] with a QUANTIZE-THEN-COLLAPSE pre-pass — the
    * designed answer to the round-11 sf10 wall where SRP over a
    * copy-heavy embedding corpus followed the copies² candidate law
    * (perturbed copies have no EXACT vector copies for the dedup-style
    * collapse to merge). Pipeline: snap every coordinate to an integer
    * grid (`gv_i = round(v_i · scale)`, i.e. grid step h = 1/scale) →
    * collapse vectors with IDENTICAL grid coordinates to a min-id
    * representative (the grid array itself is the collapse key —
    * injective by construction, no hashing) → run the explicit-plane
    * SRP pipeline over representatives using the QUANTIZED vectors
    * (`qv = gv/scale`) → expand verified pairs through the grid-copy
    * groups, within-cell pairs carrying sim 1.0.
    *
    * The semantics contract has two layers, both testable:
    *  - relative to the QUANTIZED corpus the output is EXACT collapse
    *    algebra: every SRP bucket bit, every verified cosine, and
    *    every expansion value is a pure function of the grid cell, so
    *    the result equals [[planeSrpPairs]] run over (id, qv) row for
    *    row (spec-pinned) — the LSH recall profile is unchanged;
    *  - relative to the RAW corpus the only divergence is the
    *    quantization itself, with the stated bound: per-coordinate
    *    error ≤ h/2 gives ‖v̂−v‖ ≤ h√d/2, and via the normalized-chord
    *    bound ‖u(v̂)−u(v)‖ ≤ 2‖v̂−v‖/‖v‖ the cosine moves by at most
    *    ε(a,b) = (h·√d)·(1/‖a‖ + 1/‖b‖). Every reported pair has true
    *    cosine ≥ threshold − ε, every missed pair (that SRP would have
    *    caught) has true cosine < threshold + ε; pairs outside the
    *    ±ε band around the threshold are classified exactly as the
    *    raw pipeline classifies them. At the fixture's unit-ish norms
    *    and d = 64, scale = 100 gives ε ≈ 0.16; production corpora
    *    pick `scale` to taste (ε shrinks linearly).
    *
    * Zero-after-quantization vectors are excluded (cosine undefined —
    * same contract as the raw form's zero-vector caveat). Under the
    * opt-in cap ([[Lsh.MaxBucketConf]]) bucket rows carry grid-cell
    * population as the weight and oversized cells drop from expansion
    * with accounting — the [[Dedup.minhashLsh]] guard verbatim, since
    * the expansion IS [[Dedup.expandCollapsed]]. */
  def planeSrpPairsQuantized(corpus: DataFrame, planes: Array[Array[Double]],
                             bits: Int, threshold: Double, scale: Int = 100,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(planes.length % bits == 0, s"planes (${planes.length}) must be tables*bits")
    require(scale > 0, s"scale must be positive: $scale")
    val tables = planes.length / bits
    // integer grid coordinates: the injective collapse key; qv is the
    // engine-portable quantized vector every downstream value reads
    val g = mat(corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("gv", transform(col("v"), x => round(x * scale).cast("long")))
      .filter(exists(col("gv"), x => x =!= lit(0L)))
      .withColumn("qv", transform(col("gv"), x => x.cast("double") / scale)))
    // one representative per grid cell; qv/grp_n are cell functions
    val reps = mat(g.groupBy("gv")
      .agg(min("id").as("id"), first("qv").as("qv"), count(lit(1)).as("grp_n")))
    Dedup.swapShingleCaches(Seq(g, reps))
    // membership by grid-cell join (not a window: both engines replay
    // a keyed join on the grid array without window-over-list support)
    val members = g.select(col("id"), col("gv"))
      .join(reps.select(col("gv"), col("id").as("rep"), col("grp_n")), "gv")
      .select(col("id"), col("rep"), col("grp_n"))
    val multiReps = reps.filter(col("grp_n") > 1).select("id", "grp_n")

    // explicit-plane SRP over representatives' QUANTIZED vectors
    val tabbed = reps.select(col("id"), col("grp_n"),
      explode(array((0 until tables).map { t =>
        val bucket = (0 until bits).map { j =>
          val dot = graft.functions.VectorOps.dotProduct(col("qv"),
            typedLit(planes(t * bits + j).toSeq))
          when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        struct(lit(t).as("tab"), bucket.as("bucket"))
      }.toIndexedSeq: _*)).as("tb"))
      .select(col("id"), col("grp_n"), col("tb.tab"), col("tb.bucket"))
    val cand = Lsh.bucketPairs(tabbed, Seq("tab", "bucket"), "doc_a", "doc_b",
      weightCol = "grp_n")
    val pa = reps.select(col("id").as("doc_a"), col("qv").as("v_a"))
    val pb = reps.select(col("id").as("doc_b"), col("qv").as("v_b"))
    val repPairs = cand.join(pa, "doc_a").join(pb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(cosine(col("v_a"), col("v_b")), 4).as("sim"))
      .filter(col("sim") >= threshold)
    Dedup.expandCollapsed(
      Dedup.NearDupCollapse(members, multiReps, repPairs),
      Seq("sim"), Seq(lit(1.0)), withinQualifies = threshold <= 1.0)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("sim"))
  }

  /** Where [[srpTolerantPairs]] publishes the signature width its
    * `bits = 0` auto mode chose (runtime conf, value = the integer
    * width) — so probes, specs, and a deployment reading the run's
    * parameters see the derived value without re-deriving it. */
  val TolerantAutoBitsConf = "spark.graft.srp.tolerant.autoBits"

  /** The tolerant family's intermediate materialization: an eager
    * `localCheckpoint`, so every consumer replans against a tiny
    * `Scan ExistingRDD`. It beat the round-13/14 MEMORY_AND_DISK
    * `persist` interleaved min-of-N at sf0.1/local[32] (round 15):
    * q305 5.71 → 2.62 s, q306 4.98 → 2.53 s, q307 6.45 → 2.83 s, the
    * persist form planning ~3600-line cached subtrees plus 54
    * InMemoryTableScan jobs per q305. The trade: a lost block fails the
    * job instead of recomputing, as in [[graft.common.IterFrame]]. */
  private def mat(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** The [[srpTolerantPairs]] auto bit-width rule — the round-13 drift
    * ladder's finding encoded the way `bucketedServe=auto` encoded its
    * deployment rule: bucket cardinality (2^bits per table) must track
    * the number of distinct units being bucketed, or same-bucket
    * populations go quadratic (bits=8 → 256 buckets for ~20 k groups
    * at the 100× drift point exceeded 600 s; bits=16 ran 31.8 s —
    * SCALE.md round-13). What actually goes quadratic is same-bucket
    * POPULATION: candidate pairs per table ≈ Σ pop²/2, and with
    * average population p = n/2^bits that is ≈ n·p/2 — linear in n
    * exactly while p stays bounded. The rule bounds the average at 16
    * (2^bits ≥ n/16 ⇒ candidate mass ≤ 8n per table), and the
    * resulting widths reproduce every measured ladder point: 8 at the
    * 500-cell oracle fixture and the 2 k-cell pinned-constant fixture
    * (where r13's hand choice was 8), 16 at 20 k cells (sf1) and at
    * the 200 k-cell 100× drift point (where the hand-tuned 16 ran
    * 31.8 s and 8 died past 600 s — avg population 78 at 200 k cells,
    * vs 78 at 20 k cells/bits=8 which completed: death needs a large
    * avg AND a large n, and the 16× bound keeps both margins).
    * Constraints: at least 4 bits (below that table count explodes
    * for no selectivity), divides the plane count so every table gets
    * a full complement, and leaves AT LEAST TWO tables — one table of
    * all planes would make "shares any bucket" mean "identical full
    * signature", emptying the cross-class candidate set and silently
    * degenerating the operator to within-class-only; past every such
    * width the rule saturates at planeCount/2. `n` is the EXACT
    * distinct-cell count (an upper bound on leader-group count,
    * conservative in the safe direction — more buckets than groups
    * costs nothing but table count). ceil(log2) is computed on the
    * Long (no floating log), so the engine and the DuckDB oracle —
    * which replays this rule as `2^(b+4) ≥ n` off the same
    * `count(*)` — agree exactly. */
  private[graft] def autoSrpBits(n: Long, planeCount: Int,
                                 avgPopBits: Int = 4): Int = {
    require(planeCount >= 2, s"auto bits needs >= 2 planes, got $planeCount")
    val widths = (1 to planeCount / 2).filter(planeCount % _ == 0)
    val m = math.max(1L, n)
    // ceil(log2(m)): position of the highest set bit of m-1, plus one
    // (m=1 -> 0); exact integer arithmetic
    val ceilLog2 = if (m == 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    val target = math.max(4, ceilLog2 - avgPopBits)
    widths.find(_ >= target).getOrElse(widths.max)
  }

  /** Tolerant near-duplicate pairs over embeddings under COHERENT
    * drift — the round-13 answer to the corpus shape that
    * [[planeSrpPairsQuantized]]'s grid collapse provably cannot touch
    * (SCALE.md: a uniform per-copy shift crosses one grid boundary per
    * coordinate, fragmenting a 100-copy family into ~65 cells at any
    * usable step). Instead of collapsing on coordinates, this
    * collapses on SRP SIGNATURE CLASSES with radius-bounded leader
    * groups and classifies whole GROUP pairs through a Lipschitz
    * interval, descending to member-exact verification only inside
    * the boundary band. Published roots: sign-random-projection LSH
    * (Charikar 2002) for the class key; the triangle-inequality
    * pruning is the classic metric-space ball-bound (e.g. AESA/LAESA
    * family); see PAPERS.md.
    *
    * Pipeline (three levels, coarse to fine):
    *  1. EXACT cells: group by the raw embedding array (bit-identical
    *     vectors — the re-encode/verbatim-copy mass). Zero radius, so
    *     within-cell pairs are sim 1.0 exactly and the cell expansion
    *     is [[Dedup.expandCollapsed]] verbatim.
    *  2. SIGNATURE classes: each distinct vector's full explicit-plane
    *     SRP signature (every table's bucket word). Sign bits are
    *     FLIP-stable under small coherent shifts (a drifted copy
    *     changes `sign(v·p)` only where v·p sits near zero), so a
    *     drift ladder spans a handful of classes where the coordinate
    *     grid shattered into one cell per boundary crossing. All
    *     within-class pairs are verified EXACTLY — the class self-join
    *     that assigns leaders (below) already computes their cosines.
    *  3. Radius-bounded LEADER groups inside each class: member m's
    *     leader is the MIN-id class member within chord radius
    *     `maxChord` of m (m itself qualifies, so the rule is total; it
    *     is a pure function of the class SET, so it is deterministic
    *     and engine-replayable with one self-join — no sequential
    *     scan). Every group therefore sits inside a ball of chord
    *     `maxChord` around its leader's REAL vector, with the group's
    *     measured radius R = √(2 − 2·min cos(member, leader)) ≤
    *     maxChord stored alongside.
    *
    * Cross-class candidate GROUP pairs come from the bucket join over
    * leaders' signatures — an EXACT lift of the raw pipeline's
    * candidate generation, because every member carries its leader's
    * signature: member pair (x, y) shares table t's bucket iff their
    * leaders do. Each candidate pair is classified by the dot-product
    * ball bound: for unit vectors, x ∈ ball(a, Ra), y ∈ ball(b, Rb)
    * implies |cos(x,y) − cos(a,b)| ≤ Δ with Δ = Ra + Rb + Ra·Rb
    * (expand (a+δx)·(b+δy) and bound the three cross terms by
    * Cauchy–Schwarz). So with c = cos(leader_a, leader_b):
    *  - c − Δ ≥ threshold: EVERY member pair qualifies — emitted with
    *    the rep-attributed sim round(c, 4) (each true cosine is within
    *    Δ of it and provably ≥ threshold);
    *  - c + Δ < threshold − 5·10⁻⁵: NO member pair qualifies even
    *    after the output's 4-dp rounding (a true cosine at the
    *    half-step threshold − 5·10⁻⁵ is the smallest value that
    *    rounds up past the gate) — dropped, no member work at all;
    *  - otherwise (the boundary band): member-exact verification,
    *    exact sims.
    *
    * Output contract: the PAIR SET equals [[planeSrpPairs]] on the
    * same planes/bits/threshold — EXACTLY, by construction: the
    * candidate lift is exact, the band's lower edge is widened by the
    * 4-dp rounding half-step above so the razor pairs (true cosine in
    * [threshold − 5·10⁻⁵, threshold), emitted by the raw pipeline
    * after rounding) always reach member-exact verification instead
    * of the drop leg (round-13 ADVICE; sf1 had measured 0/0 but the
    * old bound was not exact by construction);
    * sims are exact within signature classes and inside the band, and
    * rep-attributed (true value within Δ, qualification guaranteed)
    * above it. Classification inputs are rounded to 6 dp in BOTH
    * engines (the [[truncRerankTopK]] precedent) so the branch taken
    * is replay-stable.
    *
    * Scale shape: candidate generation runs at GROUP granularity (a
    * 100-copy drifted family is a handful of groups, off the copies²
    * candidate law that killed raw SRP and the grid collapse at sf10);
    * the within-class self-join is quadratic in DISTINCT vectors per
    * signature class (bounded by flip stability for natural corpora;
    * the opt-in [[Lsh.MaxBucketConf]] cap applies to the bucket join
    * and the cell expansion as everywhere else in the family);
    * member-exact work materializes only for band pairs and output.
    * Everything else is keyed joins and map-side arithmetic.
    *
    * `bits = 0` derives the signature width automatically from the
    * corpus's distinct-vector count (see [[autoSrpBits]]); the chosen
    * width is published under [[TolerantAutoBitsConf]]. */
  def srpTolerantPairs(corpus: DataFrame, planes: Array[Array[Double]],
                       bits: Int, threshold: Double, maxChord: Double = 0.1,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(bits == 0 || planes.length % bits == 0,
      s"planes (${planes.length}) must be tables*bits (or bits=0 for auto)")
    require(maxChord > 0 && maxChord < math.sqrt(2.0),
      s"maxChord $maxChord must be in (0, sqrt(2)): at sqrt(2) the ball " +
        "covers the whole orthogonal cap and the bound classifies nothing")
    // leader admission in cosine terms: chord(u,v) <= maxChord
    // <=> cos(u,v) >= 1 - maxChord^2/2 (unit vectors)
    val cosMinAdmit = 1.0 - maxChord * maxChord / 2.0

    // level 1: exact cells keyed on the RAW array (no computed floats
    // in the key — verbatim copies are bit-identical by definition)
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .filter(exists(col("v"), x => x =!= lit(0.0)))
    val cells = mat(v.groupBy("v")
      .agg(min("id").as("id"), count(lit(1)).as("ex_n")))
    val cellMembers = v.select(col("id"), col("v"))
      .join(cells.select(col("v"), col("id").as("rep"), col("ex_n").as("grp_n")), "v")
      .select(col("id"), col("rep"), col("grp_n"))

    // bits=0: derive the signature width from the corpus — the
    // measured deployment rule (SCALE.md round-13 drift ladder: bits
    // must track group count; bits=8 exceeded 600 s at the 100× point
    // where bits=16 ran 31.8 s — an LSH parameter error users should
    // not be able to make). The estimate is the EXACT distinct-cell
    // count off the already-persisted exemplar table — one cheap count
    // over data the pipeline materializes anyway, deterministic, so
    // the DuckDB oracle replays the same rule off the same count. The
    // chosen width lands in [[TolerantAutoBitsConf]] for probes/specs.
    val width =
      if (bits > 0) bits
      else {
        val w = autoSrpBits(cells.count(), planes.length)
        corpus.sparkSession.conf.set(TolerantAutoBitsConf, w.toString)
        w
      }
    val tables = planes.length / width

    // level 2: full SRP signature per exemplar — array of per-table
    // bucket words, all map-side against broadcast literal planes
    val sig = array((0 until tables).map { t =>
      (0 until width).map { j =>
        val dot = graft.functions.VectorOps.dotProduct(col("v"),
          typedLit(planes(t * width + j).toSeq))
        when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }.toIndexedSeq: _*)
    // ex's own persist looks redundant (sig is a map-side projection
    // over the already-persisted cells), but dropping it MEASURED
    // SLOWER — fixture min-of-4 6.49 → 7.04 s with the q304 anchor
    // identical at 3.01 s (round 14): six consumers × 32 dot products
    // per row beats one materialize. Kept deliberately.
    val ex = mat(cells.select(col("id"), col("v"), col("ex_n"))
      .withColumn("sig", sig))

    // one self-join per signature class: ordered exemplar pairs with
    // their 6-dp cosine — reused for (a) exact within-class output and
    // (b) leader assignment. Persisted SLIM (ids + cosine only): the
    // heavy vector payloads are consumed inside the join's projection
    // and must not ride the persist — at 100× the pair rows number in
    // the tens of millions, and carrying two 64-double arrays per row
    // is the difference between a 240 MB working set and a 10 GB one
    // (the round-13 sf10 OOM, fixed here).
    val exA = ex.select(col("sig"), col("id").as("ia"), col("v").as("va"))
    val exB = ex.select(col("sig"), col("id").as("ib"), col("v").as("vb"))
    val classPairs = mat(exA.join(exB, Seq("sig"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), cosine(col("va"), col("vb")).as("cosr"))
      .withColumn("cos6", round(col("cosr"), 6)))
    // exact legs round the RAW cosine ONCE, exactly as planeSrpPairs
    // does: rounding the 6-dp intermediate again would promote pairs
    // whose raw cosine sits in [x.xxxx4949.., x.xxxx5) past the 4-dp
    // threshold boundary (the sf1 truth gate caught 2 such extras in
    // 207k pairs) — cos6 serves only the INTERNAL classification
    // decisions, where replay stability matters and a 1e-6 slack is
    // absorbed by the rounding granularity of the output filter
    val withinClass = classPairs
      .filter(round(col("cosr"), 4) >= threshold)
      .select(col("ia").as("doc_a"), col("ib").as("doc_b"),
        round(col("cosr"), 4).as("sim"))

    // level 3: leader(m) = min id within the admission ball (m itself
    // qualifies) — a pure set function, one aggregate over the pair
    // rows in both directions. The aggregate carries the cosine OF the
    // winning neighbor alongside the min (one struct-min: nb is unique
    // per (id, pair), so ordering by nb picks the leader's own cos6) —
    // the round-13 form re-joined classPairs afterwards to look that
    // same value up, a whole extra join + aggregate over the hottest
    // intermediate (round-13 verdict: the fixture constant's fusion
    // room, 229 exchanges at sf0.001). The VALUES are unchanged: the
    // leader's cos6 here is the identical classPairs row the lookup
    // join returned, so the measured radii — and the DuckDB oracle's
    // replay of them — are bit-identical.
    val admitted = classPairs.filter(col("cos6") >= cosMinAdmit)
    val neighborMin = admitted
      .select(col("ia").as("id"), col("ib").as("nb"), col("cos6"))
      .unionByName(admitted.select(
        col("ib").as("id"), col("ia").as("nb"), col("cos6")))
      .groupBy("id").agg(min(struct(col("nb"), col("cos6"))).as("mn"))
    // the slim membership table (exemplar id -> its leader), the
    // expansion spine for both cross-class legs below; lead_cos is the
    // member→leader cosine when the row HAS a foreign leader (mn.nb <
    // id means the min admitted neighbor wins), null for self-leaders
    val assign = mat(ex.select(col("id"), col("ex_n"))
      .join(neighborMin, Seq("id"), "left")
      .select(col("id"), col("ex_n"),
        least(col("id"), coalesce(col("mn.nb"), col("id"))).as("leader"),
        when(col("mn.nb") < col("id"), col("mn.cos6")).as("lead_cos")))
    // measured group radius from the SAME 6-dp cosines the admission
    // used: R = sqrt(2 - 2*minCos) over members, 0 for the leader row
    // (null lead_cos rows — self-leaders — vanish under min, and a
    // singleton group's null min_cos coalesces to cos 1 ⇒ radius 0)
    val groups = mat(assign.groupBy("leader")
      .agg(sum("ex_n").as("pop"), min("lead_cos").as("min_cos"))
      .withColumn("radius",
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * coalesce(col("min_cos"), lit(1.0)))))
      .join(ex.select(col("id").as("leader"), col("v").as("lv"), col("sig")), "leader"))
    graft.llm.Dedup.swapShingleCaches(Seq(cells, ex, classPairs, assign, groups))

    // cross-class candidates at GROUP granularity: leaders sharing any
    // (table, bucket); same-class pairs are already answered exactly
    val banded = groups.select(col("leader").as("id"), col("pop"),
        posexplode(col("sig")))
      .select(col("id"), col("pop"), col("pos").as("tab"), col("col").as("bucket"))
    val cand = Lsh.bucketPairs(banded, Seq("tab", "bucket"), "la", "lb",
      weightCol = "pop")
    // classification on SCALARS only (leader vector, radius, signature
    // equality) — member expansion joins happen strictly AFTER the
    // band filter, so below-band candidates (the bulk at scale) cost
    // one slim row each and zero member work
    val ga = groups.select(col("leader").as("la"), col("lv").as("va"),
      col("radius").as("ra"), col("sig").as("sig_a"))
    val gb = groups.select(col("leader").as("lb"), col("lv").as("vb"),
      col("radius").as("rb"), col("sig").as("sig_b"))
    val classified = cand.join(ga, "la").join(gb, "lb")
      .filter(col("sig_a") =!= col("sig_b"))
      .select(col("la"), col("lb"), cosine(col("va"), col("vb")).as("cr"),
        (col("ra") + col("rb") + col("ra") * col("rb")).as("delta"))
      .withColumn("c", round(col("cr"), 6))
    val memA = assign.select(col("leader").as("la"), col("id").as("ea"))
    val memB = assign.select(col("leader").as("lb"), col("id").as("eb"))

    // above the band: every member pair qualifies — rep-attributed sim,
    // expanded through the assignment spine (streamed keyed joins)
    val above = classified.filter(col("c") - col("delta") >= threshold)
      .select(col("la"), col("lb"), round(col("cr"), 4).as("sim"))
      .join(memA, "la").join(memB, "lb")
      .select(least(col("ea"), col("eb")).as("doc_a"),
        greatest(col("ea"), col("eb")).as("doc_b"), col("sim"))
    // inside the band: member-exact verification, exact sims. The
    // lower edge carries the 4-dp rounding half-step (5e-5): a member
    // pair whose true cosine sits in [threshold - 5e-5, threshold)
    // rounds UP to the gate in the raw pipeline's output filter, so
    // dropping at c + delta < threshold would lose it — widening the
    // band here makes the pair-set parity exact by construction at
    // the cost of member-verifying a sliver more candidates
    val band = classified
      .filter(col("c") - col("delta") < threshold &&
        col("c") + col("delta") >= threshold - 5e-5)
      .select(col("la"), col("lb"))
      .join(memA, "la").join(memB, "lb")
      .join(ex.select(col("id").as("ea"), col("v").as("xva")), "ea")
      .join(ex.select(col("id").as("eb"), col("v").as("xvb")), "eb")
      .select(col("ea"), col("eb"),
        round(cosine(col("xva"), col("xvb")), 4).as("sim"))
      .filter(col("sim") >= threshold)
      .select(least(col("ea"), col("eb")).as("doc_a"),
        greatest(col("ea"), col("eb")).as("doc_b"), col("sim"))
    // below the band: provably no qualifying member pair — dropped

    val exemplarPairs = withinClass.unionByName(above).unionByName(band)
    val multiReps = cells.filter(col("ex_n") > 1)
      .select(col("id"), col("ex_n").as("grp_n"))
    Dedup.expandCollapsed(
      Dedup.NearDupCollapse(cellMembers, multiReps, exemplarPairs),
      Seq("sim"), Seq(lit(1.0)), withinQualifies = threshold <= 1.0)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("sim"))
  }

  /** Incremental (cross-corpus) tolerant SRP near-dup: the
    * [[srpTolerantPairs]] collapse applied per (signature class,
    * SIDE) — the design that closed the MinHash collapse asymmetry in
    * round 12 ([[Dedup.minhashLshAgainst]]), transferred to drifted
    * embeddings so a corpus arriving in batches stops re-running the
    * self form from scratch (round-13 verdict #2). Each side collapses
    * independently: exact-vector cells → per-side signature classes →
    * per-side radius-bounded min-id leader groups with measured radii.
    * Cross-side candidates come from the leader bucket join
    * ([[Lsh.crossBucketPairs]] — the base side is NEVER self-joined,
    * so a daily batch pays O(batch groups ⋈ base groups), not
    * O(base²)), and every candidate GROUP pair is classified through
    * the same Lipschitz ball bound with the same 4-dp-half-step band
    * edge: above the band all member pairs qualify with the
    * rep-attributed sim, inside it members verify exactly, below it
    * the pair drops with zero member work.
    *
    * The candidate lift is exact BY THE SELF FORM'S OWN ARGUMENT,
    * applied per side: a member carries its side-leader's full
    * signature (leaders are assigned within a (signature class, side)),
    * so batch member x and base member y share a raw bucket iff their
    * leaders do. There is no within-class output leg — same-signature
    * cross-side pairs arrive as ordinary candidates (the two leaders
    * share every bucket) and classify through the ball bound like any
    * other; the per-side class self-join exists only to assign leaders
    * and measure radii. Output PAIR SET therefore equals the
    * cross-side subset of [[planeSrpPairs]] over the union corpus at
    * the same planes/width — exact by construction, razor edge
    * included.
    *
    * `bits = 0` derives the width from the SUMMED per-side cell count
    * (one count over the already-persisted cell table; a vector
    * present on both sides counts twice, which is the right load
    * proxy — the bucket join's row count is per (cell, side));
    * published under [[TolerantAutoBitsConf]] like the self form.
    *
    * Sides are assumed disjoint id sets (a caller-defined corpus
    * split — the [[Lsh.crossBucketPairs]] contract).
    * Returns (batch_id, base_id, sim ≥ threshold). */
  def srpTolerantPairsAgainst(base: DataFrame, batch: DataFrame,
                              planes: Array[Array[Double]],
                              bits: Int, threshold: Double,
                              maxChord: Double = 0.1,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    require(bits == 0 || planes.length % bits == 0,
      s"planes (${planes.length}) must be tables*bits (or bits=0 for auto)")
    require(maxChord > 0 && maxChord < math.sqrt(2.0),
      s"maxChord $maxChord must be in (0, sqrt(2))")
    val cosMinAdmit = 1.0 - maxChord * maxChord / 2.0

    def sided(df: DataFrame, isBatch: Boolean) = df
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
        lit(isBatch).as("isBatch"))
      .filter(exists(col("v"), x => x =!= lit(0.0)))
    val v = sided(batch, isBatch = true).unionByName(sided(base, isBatch = false))
    // exact cells per (vector, SIDE); ids are globally unique across
    // the split, so cell representatives are side-disjoint too
    val cells = mat(v.groupBy("v", "isBatch")
      .agg(min("id").as("id"), count(lit(1)).as("ex_n")))
    val cellMembers = v.select(col("id"), col("v"), col("isBatch"))
      .join(cells.select(col("v"), col("isBatch"), col("id").as("rep")),
        Seq("v", "isBatch"))
      .select(col("id"), col("rep"), col("isBatch"))

    val width =
      if (bits > 0) bits
      else {
        val w = autoSrpBits(cells.count(), planes.length)
        base.sparkSession.conf.set(TolerantAutoBitsConf, w.toString)
        w
      }
    val tables = planes.length / width
    val sig = array((0 until tables).map { t =>
      (0 until width).map { j =>
        val dot = graft.functions.VectorOps.dotProduct(col("v"),
          typedLit(planes(t * width + j).toSeq))
        when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }.toIndexedSeq: _*)
    val ex = mat(cells.select(col("id"), col("v"), col("ex_n"), col("isBatch"))
      .withColumn("sig", sig))

    // per-(class, side) self-join, persisted SLIM (the self form's
    // sf10 lesson) — consumed only by leader assignment + radii here
    val exA = ex.select(col("sig"), col("isBatch"),
      col("id").as("ia"), col("v").as("va"))
    val exB = ex.select(col("sig"), col("isBatch"),
      col("id").as("ib"), col("v").as("vb"))
    val classPairs = mat(exA.join(exB, Seq("sig", "isBatch"))
      .filter(col("ia") < col("ib"))
      .select(col("isBatch"), col("ia"), col("ib"),
        round(cosine(col("va"), col("vb")), 6).as("cos6")))
    val admitted = classPairs.filter(col("cos6") >= cosMinAdmit)
    val neighborMin = admitted
      .select(col("isBatch"), col("ia").as("id"), col("ib").as("nb"), col("cos6"))
      .unionByName(admitted.select(
        col("isBatch"), col("ib").as("id"), col("ia").as("nb"), col("cos6")))
      .groupBy("isBatch", "id").agg(min(struct(col("nb"), col("cos6"))).as("mn"))
    val assign = mat(ex.select(col("isBatch"), col("id"), col("ex_n"))
      .join(neighborMin, Seq("isBatch", "id"), "left")
      .select(col("isBatch"), col("id"), col("ex_n"),
        least(col("id"), coalesce(col("mn.nb"), col("id"))).as("leader"),
        when(col("mn.nb") < col("id"), col("mn.cos6")).as("lead_cos")))
    val groups = mat(assign.groupBy("isBatch", "leader")
      .agg(sum("ex_n").as("pop"), min("lead_cos").as("min_cos"))
      .withColumn("radius",
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * coalesce(col("min_cos"), lit(1.0)))))
      .join(ex.select(col("isBatch"), col("id").as("leader"),
        col("v").as("lv"), col("sig")), Seq("isBatch", "leader")))
    Dedup.swapShingleCaches(Seq(cells, ex, classPairs, assign, groups))

    // cross-side candidates at GROUP granularity; pop keeps the opt-in
    // bucket cap keyed on RAW population across both sides
    val banded = groups.select(col("leader").as("id"), col("isBatch"),
        col("pop"), posexplode(col("sig")))
      .select(col("id"), col("isBatch"), col("pop"),
        col("pos").as("tab"), col("col").as("bucket"))
    val cand = Lsh.crossBucketPairs(banded, Seq("tab", "bucket"), "la", "lb",
      weightCol = "pop")
    val ga = groups.filter(col("isBatch")).select(col("leader").as("la"),
      col("lv").as("va"), col("radius").as("ra"))
    val gb = groups.filter(!col("isBatch")).select(col("leader").as("lb"),
      col("lv").as("vb"), col("radius").as("rb"))
    val classified = cand.join(ga, "la").join(gb, "lb")
      .select(col("la"), col("lb"), cosine(col("va"), col("vb")).as("cr"),
        (col("ra") + col("rb") + col("ra") * col("rb")).as("delta"))
      .withColumn("c", round(col("cr"), 6))
    val memA = assign.filter(col("isBatch"))
      .select(col("leader").as("la"), col("id").as("ea"))
    val memB = assign.filter(!col("isBatch"))
      .select(col("leader").as("lb"), col("id").as("eb"))

    val above = classified.filter(col("c") - col("delta") >= threshold)
      .select(col("la"), col("lb"), round(col("cr"), 4).as("sim"))
      .join(memA, "la").join(memB, "lb")
      .select(col("ea"), col("eb"), col("sim"))
    val band = classified
      .filter(col("c") - col("delta") < threshold &&
        col("c") + col("delta") >= threshold - 5e-5)
      .select(col("la"), col("lb"))
      .join(memA, "la").join(memB, "lb")
      .join(ex.filter(col("isBatch"))
        .select(col("id").as("ea"), col("v").as("xva")), "ea")
      .join(ex.filter(!col("isBatch"))
        .select(col("id").as("eb"), col("v").as("xvb")), "eb")
      .select(col("ea"), col("eb"),
        round(cosine(col("xva"), col("xvb")), 4).as("sim"))
      .filter(col("sim") >= threshold)

    // expand through both sides' cell groups (no self pairs, no
    // ordering fixup — the sides are id-disjoint)
    val ma = cellMembers.filter(col("isBatch"))
      .select(col("rep").as("ea"), col("id").as("ia"))
    val mb = cellMembers.filter(!col("isBatch"))
      .select(col("rep").as("eb"), col("id").as("ib"))
    above.unionByName(band)
      .join(ma, "ea").join(mb, "eb")
      .select(col("ia").as("batch_id"), col("ib").as("base_id"), col("sim"))
  }

  /** One corpus's tolerant-SRP collapse as a VALUE — the
    * [[srpTolerantPairs]] levels 1–3 (exact cells → signature classes →
    * radius-bounded min-id leader groups) with no cross-class legs, in
    * the three-tier shape the round-14 byte measurement established
    * (SCALE.md `tolerantindexsize`): `groups` is the serve tier
    * (leader, pop, radius, leader vector, full signature — what a
    * cross-corpus candidate join scans), `exemplars` the exact-verify
    * tier (one row per DISTINCT vector: id, v, sig, leader), `members`
    * the slim id → cell-rep spine. [[graft.TolerantCompact]] persists
    * exactly these frames; [[srpTolerantServe]] consumes them. `width`
    * is pinned at build time (the [[autoSrpBits]] rule over THIS
    * corpus's cell count when `bits = 0`) because every stored
    * signature is a function of it. `caches` carries the builder's
    * persisted intermediates so a same-session consumer can register
    * them for cleanup ([[Dedup.swapShingleCaches]]); empty when the
    * state was read back from disk. */
  case class TolerantState(groups: DataFrame, exemplars: DataFrame,
                           members: DataFrame, width: Int, maxChord: Double,
                           private[graft] val caches: Seq[DataFrame] = Nil)

  /** The per-table SRP signature word array for a vector column at a
    * given width — the exact expression [[srpTolerantPairs]] computes
    * inline; shared by the state builder so persisted signatures are
    * bit-identical to the self form's. */
  private[graft] def tolerantSig(planes: Array[Array[Double]], width: Int,
                               vCol: Column): Column = {
    val tables = planes.length / width
    array((0 until tables).map { t =>
      (0 until width).map { j =>
        val dot = graft.functions.VectorOps.dotProduct(vCol,
          typedLit(planes(t * width + j).toSeq))
        when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }.toIndexedSeq: _*)
  }

  /** Levels 2–3 over an already-built cell table (id, v, ex_n):
    * signatures, per-class slim pair cosines, min-id leader assignment
    * with the fused struct-min cosine carry, measured radii. Returns
    * (ex, assign, groups, caches) — the same frames, persisted the same
    * way, as the inline blocks in [[srpTolerantPairs]] /
    * [[srpTolerantPairsAgainst]]; factored for the state builder and
    * the serve path's batch side (the shipped pair operators keep their
    * measured inline forms untouched). */
  private[graft] def collapseCellsTolerant(cells: DataFrame,
      planes: Array[Array[Double]], width: Int, cosMinAdmit: Double)
      : (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    val ex = mat(cells.select(col("id"), col("v"), col("ex_n"))
      .withColumn("sig", tolerantSig(planes, width, col("v"))))
    val exA = ex.select(col("sig"), col("id").as("ia"), col("v").as("va"))
    val exB = ex.select(col("sig"), col("id").as("ib"), col("v").as("vb"))
    val classPairs = mat(exA.join(exB, Seq("sig"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        round(cosine(col("va"), col("vb")), 6).as("cos6")))
    val admitted = classPairs.filter(col("cos6") >= cosMinAdmit)
    val neighborMin = admitted
      .select(col("ia").as("id"), col("ib").as("nb"), col("cos6"))
      .unionByName(admitted.select(
        col("ib").as("id"), col("ia").as("nb"), col("cos6")))
      .groupBy("id").agg(min(struct(col("nb"), col("cos6"))).as("mn"))
    val assign = mat(ex.select(col("id"), col("ex_n"))
      .join(neighborMin, Seq("id"), "left")
      .select(col("id"), col("ex_n"),
        least(col("id"), coalesce(col("mn.nb"), col("id"))).as("leader"),
        when(col("mn.nb") < col("id"), col("mn.cos6")).as("lead_cos")))
    val groups = mat(assign.groupBy("leader")
      .agg(sum("ex_n").as("pop"), min("lead_cos").as("min_cos"))
      .withColumn("radius",
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * coalesce(col("min_cos"), lit(1.0)))))
      .join(ex.select(col("id").as("leader"), col("v").as("lv"), col("sig")), "leader")
      .select(col("leader"), col("pop"), col("radius"), col("lv"), col("sig")))
    (ex, assign, groups, Seq(ex, classPairs, assign, groups))
  }

  /** Build a [[TolerantState]] for `corpus` — the persistable base side
    * of the q306 family. `bits = 0` derives the width from THIS
    * corpus's distinct-cell count ([[autoSrpBits]], published under
    * [[TolerantAutoBitsConf]]): unlike [[srpTolerantPairsAgainst]]'s
    * summed-side rule, a state's width must be a pure function of the
    * state's own corpus — it is pinned into every stored signature and
    * future batches have not arrived yet. */
  def tolerantStateOf(corpus: DataFrame, planes: Array[Array[Double]],
                      bits: Int = 0, maxChord: Double = 0.1,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): TolerantState = {
    require(bits == 0 || planes.length % bits == 0,
      s"planes (${planes.length}) must be tables*bits (or bits=0 for auto)")
    require(maxChord > 0 && maxChord < math.sqrt(2.0),
      s"maxChord $maxChord must be in (0, sqrt(2))")
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .filter(exists(col("v"), x => x =!= lit(0.0)))
    val cells = mat(v.groupBy("v")
      .agg(min("id").as("id"), count(lit(1)).as("ex_n")))
    val members = v.select(col("id"), col("v"))
      .join(cells.select(col("v"), col("id").as("rep")), "v")
      .select(col("id"), col("rep"))
    val width =
      if (bits > 0) bits
      else {
        val w = autoSrpBits(cells.count(), planes.length)
        corpus.sparkSession.conf.set(TolerantAutoBitsConf, w.toString)
        w
      }
    val (ex, assign, groups, caches) = collapseCellsTolerant(
      cells, planes, width, 1.0 - maxChord * maxChord / 2.0)
    val exemplars = ex.select(col("id"), col("v"), col("sig"))
      .join(assign.select(col("id"), col("leader")), "id")
    TolerantState(groups, exemplars, members, width, maxChord,
      cells +: caches)
  }

  /** Serve a batch against a built/persisted [[TolerantState]] — the
    * [[srpTolerantPairsAgainst]] answer where the base side comes from
    * the state instead of a re-collapse (the
    * [[Dedup.minhashLshAgainstIndex]] analog for drifted embeddings).
    * The batch collapses alone AT THE STATE'S WIDTH (the stored
    * signatures pin it; a width mismatch would empty the candidate
    * join), candidates come from the cross-side leader bucket join over
    * the state's serve tier — the base is never self-joined and nothing
    * re-reads or re-signs base vectors — and classification is the same
    * ball bound with the same 4-dp-half-step band edge, band pairs
    * verifying member-exactly against the state's exemplar tier.
    * Output PAIR SET equals `srpTolerantPairsAgainst(base, batch,
    * bits = state.width)` — same per-side collapse algebra, same
    * candidate lift, same classification — and therefore equals the
    * cross-side subset of [[planeSrpPairs]] over the union at that
    * width (spec-pinned both ways). `planes` must be the set the state
    * was built with ([[graft.TolerantCompact]] stores them).
    * Returns (batch_id, base_id, sim ≥ threshold). */
  def srpTolerantServe(state: TolerantState, batch: DataFrame,
                       planes: Array[Array[Double]], threshold: Double,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(planes.length % state.width == 0 &&
      planes.length / state.width >= 2,
      s"planes (${planes.length}) incompatible with state width ${state.width}")
    val cosMinAdmit = 1.0 - state.maxChord * state.maxChord / 2.0
    val vb = batch.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .filter(exists(col("v"), x => x =!= lit(0.0)))
    val cellsB = mat(vb.groupBy("v")
      .agg(min("id").as("id"), count(lit(1)).as("ex_n")))
    val membersB = vb.select(col("id"), col("v"))
      .join(cellsB.select(col("v"), col("id").as("rep")), "v")
      .select(col("id"), col("rep"))
    val (exB, assignB, groupsB, cachesB) = collapseCellsTolerant(
      cellsB, planes, state.width, cosMinAdmit)

    val banded = groupsB.select(col("leader").as("id"), lit(true).as("isBatch"),
        col("pop"), posexplode(col("sig")))
      .unionByName(state.groups.select(col("leader").as("id"),
        lit(false).as("isBatch"), col("pop"), posexplode(col("sig"))))
      .select(col("id"), col("isBatch"), col("pop"),
        col("pos").as("tab"), col("col").as("bucket"))
    val cand = Lsh.crossBucketPairs(banded, Seq("tab", "bucket"), "la", "lb",
      weightCol = "pop")
    val ga = groupsB.select(col("leader").as("la"),
      col("lv").as("va"), col("radius").as("ra"))
    val gb = state.groups.select(col("leader").as("lb"),
      col("lv").as("vb"), col("radius").as("rb"))
    val classified = cand.join(ga, "la").join(gb, "lb")
      .select(col("la"), col("lb"), cosine(col("va"), col("vb")).as("cr"),
        (col("ra") + col("rb") + col("ra") * col("rb")).as("delta"))
      .withColumn("c", round(col("cr"), 6))
    val memA = assignB.select(col("leader").as("la"), col("id").as("ea"))
    val memB = state.exemplars.select(col("leader").as("lb"), col("id").as("eb"))

    val above = classified.filter(col("c") - col("delta") >= threshold)
      .select(col("la"), col("lb"), round(col("cr"), 4).as("sim"))
      .join(memA, "la").join(memB, "lb")
      .select(col("ea"), col("eb"), col("sim"))
    val band = classified
      .filter(col("c") - col("delta") < threshold &&
        col("c") + col("delta") >= threshold - 5e-5)
      .select(col("la"), col("lb"))
      .join(memA, "la").join(memB, "lb")
      .join(exB.select(col("id").as("ea"), col("v").as("xva")), "ea")
      .join(state.exemplars.select(col("id").as("eb"), col("v").as("xvb")), "eb")
      .select(col("ea"), col("eb"),
        round(cosine(col("xva"), col("xvb")), 4).as("sim"))
      .filter(col("sim") >= threshold)

    val ma = membersB.select(col("rep").as("ea"), col("id").as("ia"))
    val mb = state.members.select(col("rep").as("eb"), col("id").as("ib"))
    Dedup.swapShingleCaches(state.caches ++ (cellsB +: cachesB))
    above.unionByName(band)
      .join(ma, "ea").join(mb, "eb")
      .select(col("ia").as("batch_id"), col("ib").as("base_id"), col("sim"))
  }

  /** Deterministic plane set for [[planeSrpPairsQuantized]]: the
    * QUANTIZED embedding vectors of the `n` smallest ids with a
    * nonzero grid image — the same first-N discipline as
    * [[firstNPlanes]], expressed on the grid so an external engine
    * derives bit-identical planes from the raw table. */
  def firstNQuantizedPlanes(corpus: DataFrame, n: Int, scale: Int = 100,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): Array[Array[Double]] =
    corpus.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("gv", transform(col("v"), x => round(x * scale).cast("long")))
      .filter(exists(col("gv"), x => x =!= lit(0L)))
      .select(col("id"), transform(col("gv"), x => x.cast("double") / scale).as("qv"))
      .orderBy("id").limit(n).collect()
      .map(_.getSeq[Double](1).toArray)

  /** Deterministic plane set for [[planeSrpPairs]]: the embedding vectors
    * of the `n` smallest ids (position in id order = plane index). */
  def firstNPlanes(corpus: DataFrame, n: Int, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Array[Array[Double]] =
    corpus.select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .orderBy("id").limit(n).collect()
      .map(_.getSeq[Double](1).toArray)

  /** Approximate near-neighbor pairs: vectors sharing an SRP bucket, scored
    * exactly within the bucket, kept above `threshold`. Multiple independent
    * hash tables (`tables`) raise recall; buckets are the shuffle key so
    * work stays distributed at corpus scale. */
  def lshBucketedPairs(corpus: DataFrame, threshold: Double, bits: Int = 12,
                       tables: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val v = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // each table offsets the plane index so tables are independent
    val tabbed = v.select(col("id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tab"),
          srpBucket(col("v"), bits, t * bits).as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("tb.tab"), col("tb.bucket"))
    val cand = graft.llm.Lsh.bucketPairs(tabbed, Seq("tab", "bucket"), "id_a", "id_b")
    val va = v.select(col("id").as("id_a"), col("v").as("v_a"))
    val vb = v.select(col("id").as("id_b"), col("v").as("v_b"))
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"), round(cosine(col("v_a"), col("v_b")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Upper-triangle covariance matrix of the embedding dimensions as
    * (i, j, cov) rows — the matrix-accumulator formulation of q197
    * (SCALE.md caveat 5's d ≳ 512 path). Instead of exploding d(d+1)/2
    * product rows PER VECTOR (fine at d=64, a 500k× row blowup at
    * d=1024), each partition accumulates one d-vector of sums and one
    * d(d+1)/2 triangle of products in place and emits them ONCE as
    * keyed partial rows; the downstream combine is a d²-key aggregate
    * whose input is partitions × d², independent of corpus size.
    * `mapPartitions` is justified exactly like the multimodal codecs:
    * a cross-row matrix accumulator has no Expression form.
    *
    * Output contract matches [[graft.queries.LlmQueries.embCovariance]]
    * bit-for-bit after rounding (same 4-dp round, same −0.0 collapse),
    * so the same DuckDB oracle verifies both paths. */
  def covarianceMatrix(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val vecs = emb.select(asDouble(col(vecCol))).as[Seq[Double]]
    val partials = vecs.mapPartitions { it =>
      var n = 0L
      var d = -1
      var sums: Array[Double] = null
      var prods: Array[Double] = null
      it.foreach { v =>
        if (d < 0) {
          d = v.length
          sums = new Array[Double](d)
          prods = new Array[Double](d * (d + 1) / 2)
        }
        require(v.length == d,
          s"ragged embedding width: expected $d, got ${v.length}")
        n += 1
        var i = 0
        var k = 0
        while (i < d) {
          val xi = v(i)
          sums(i) += xi
          var j = i
          while (j < d) { prods(k) += xi * v(j); j += 1; k += 1 }
          i += 1
        }
      }
      if (n == 0) Iterator.empty
      else {
        // (0,0)=count, (0,j)=sum of dim j, (i,j)=sum of x_i·x_j (1-based)
        val out = new scala.collection.mutable.ArrayBuffer[(Int, Int, Double)](
          prods.length + d + 1)
        out += ((0, 0, n.toDouble))
        var i = 0
        while (i < d) { out += ((0, i + 1, sums(i))); i += 1 }
        i = 0
        var k = 0
        while (i < d) {
          var j = i
          while (j < d) { out += ((i + 1, j + 1, prods(k))); j += 1; k += 1 }
          i += 1
        }
        out.iterator
      }
    }.toDF("i", "j", "x")
    val agg = partials.groupBy("i", "j").agg(sum("x").as("x"))
    val n = agg.filter(col("i") === 0 && col("j") === 0).select(col("x").as("n"))
    val means = agg.filter(col("i") === 0 && col("j") > 0)
      .crossJoin(broadcast(n))
      .select(col("j").as("pos"), (col("x") / col("n")).as("mu"))
    agg.filter(col("i") > 0)
      .crossJoin(broadcast(n))
      .join(broadcast(means.select(col("pos").as("i"), col("mu").as("mu_i"))), "i")
      .join(broadcast(means.select(col("pos").as("j"), col("mu").as("mu_j"))), "j")
      .select(col("i"), col("j"),
        (round(col("x") / col("n") - col("mu_i") * col("mu_j"), 4) + lit(0.0))
          .as("cov"))
      .orderBy("i", "j")
  }
}
