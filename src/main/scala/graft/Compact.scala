package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.TextOps

/** Incremental-base compaction for the dedup family: folds a batch of
  * documents into the PERSISTED base-corpus index that
  * [[graft.llm.Dedup.minhashLshAgainstIndex]] (q209's serving shape) and
  * the q110 fingerprint anti-join probe read — so daily re-ingestion
  * reads a ready-made index instead of re-shingling the whole
  * accumulated base.
  *
  * State layout (CLASS-LEVEL since round 12 — the exact-copy collapse
  * applied to the asset itself):
  *  - `<stateDir>/index/classes`: ONE row per content class —
  *    `(ck, rep, grp_n, fp, shingles, bands)` where ck is the class key
  *    (the bag fingerprint + the dual-hash shingle-set key,
  *    [[graft.llm.Dedup.classKey]]), rep the min member id, grp_n the
  *    member count, and fp/shingles/bands the indexed payload — all
  *    pure functions of the class's text content;
  *  - `<stateDir>/index/members`: one SLIM `(id, ck)` row per document.
  *
  * Why class-level: the payload columns (shingle sets + 32 band keys)
  * dominate the index's bytes, and a duplication-heavy corpus stores
  * them once per CLASS instead of once per document — at 100 TB the
  * asset shrinks by the corpus's duplication factor, and the LSH serve
  * path ([[graft.llm.Dedup.minhashLshAgainstIndex]]) generates
  * candidates at class scale (off the copies² law the round-11 sf10
  * probe measured) while the membership sidecar restores per-document
  * answers as pure output expansion. The identity rows (id, ck) are the
  * irreducible per-document residue.
  *
  * Write protocol (the S15 two-phase-commit discipline, batch-side): the
  * merged index is fully materialized into `_staging` FIRST — both
  * sub-tables, then an explicit top-level `_SUCCESS` marker AFTER both
  * writes complete (the per-table parquet markers only cover their own
  * table) — while the live dir is still being read lazily; the swap
  * delete(live) → rename(staging, live) is the commit point. A crash
  * between the two steps loses nothing: [[readIndex]]/[[readClassIndex]]
  * serve the complete staging copy in place READ-ONLY, and the next
  * [[run]] (the single writer) rolls the swap forward at entry.
  * Re-running the same batch is a no-op by construction: membership is
  * an id-keyed upsert (new rows replace, absent ids survive), class
  * stats recompute from the merged membership, the class payload is
  * picked by a deterministic min-rep rule over old ∪ fresh class rows,
  * and every indexed column is a deterministic function of the text.
  *
  * Scale shape: the merge is keyed joins/aggregates on id and ck only —
  * O(index + batch) — and nothing re-shingles the base.
  */
object Compact {

  private def live(stateDir: String) = new Path(stateDir, "index")
  private def staging(stateDir: String) = new Path(stateDir, "_staging")

  /** Persisted-state format version, written as `_FORMAT` next to the
    * sub-tables (inside staging BEFORE `_SUCCESS`, so it commits with
    * the data it describes). History: v1 = flat per-document
    * `(id, fp, shingles, bands)` rows (rounds ≤ 11); v2 = classes/ +
    * members/ split keyed on [[graft.llm.Dedup.classKey]]. The version
    * matters twice over: the round-12 layout change left a v1 live dir
    * throwing a path-not-found AnalysisException inside the writer
    * lease (the round-12 ADVICE finding this closes), and `ck` is
    * STORED — any future key-encoding change would silently split
    * every content class joined across versions. So readers REFUSE
    * unknown formats with an actionable error and the single writer
    * MIGRATES known older ones in place. */
  private[graft] val FormatVersion = 2

  /** Detect the format of a committed state root. No marker means the
    * dir predates the marker itself: classes/ present ⇒ v2 (the
    * marker-less round-12 build wrote the same layout and key
    * encoding, so it is current), else the flat v1 layout. */
  private[graft] def detectFormat(f: org.apache.hadoop.fs.FileSystem,
                                  root: Path): Int = {
    val marker = new Path(root, "_FORMAT")
    if (f.exists(marker)) {
      val in = f.open(marker)
      try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
    } else if (f.exists(new Path(root, "classes"))) 2
    else 1
  }

  private def fs(spark: SparkSession, stateDir: String) =
    new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Per-document index rows for `batch`: (id, fp, shingles, bands, ck).
    * ck carries the bag fingerprint ALONGSIDE the shingle-set key
    * because fp is an index payload that is NOT a shingle-set function
    * (it hashes the token set; distinct token sequences can share a
    * k-shingle set) — including it in the key keeps every stored class
    * column a pure class function. */
  private[graft] def indexRows(batch: DataFrame, shingleK: Int, bands: Int,
                               rowsPerBand: Int, textCol: String,
                               idCol: String): DataFrame =
    batch.select(col(idCol).cast("long").as("id"),
      TextOps.bagFingerprint(col(textCol)).as("fp"),
      TextOps.wordShingles(col(textCol), shingleK).as("shingles"))
      .withColumn("bands",
        graft.functions.Hashing.minhashBands(col("shingles"), bands, rowsPerBand))
      .withColumn("ck", struct(col("fp").as("fp"),
        graft.llm.Dedup.classKey(col("shingles")).as("sk")))

  /** Collapse per-document rows to class rows (ck, rep, grp_n, fp,
    * shingles, bands). The payload is taken from the MIN-ID member via
    * one struct-min aggregate — deterministic, so idempotent re-runs
    * write byte-identical class rows (the raw `shingles` ARRAY order
    * can differ between members of one class even though the set
    * cannot; every consumer is a set function, but the stored bytes
    * must not wobble across runs). */
  private[graft] def classRowsOf(docRows: DataFrame): DataFrame =
    docRows
      .groupBy("ck")
      .agg(min(struct(col("id"), col("fp"), col("shingles"), col("bands")))
          .as("m"),
        count(lit(1)).as("grp_n"))
      .select(col("ck"), col("m.id").as("rep"), col("grp_n"),
        col("m.fp").as("fp"), col("m.shingles").as("shingles"),
        col("m.bands").as("bands"))

  /** Derive an in-memory class index (classes, members) for a corpus —
    * the same shape [[run]] persists, for callers that serve without
    * state on disk (the q209 registry derivation). The two returned
    * frames deliberately re-evaluate the scan+shingle+band pass rather
    * than caching it — same measured verdict as the merge path (see
    * the [[run]] body comment: persisting lost at sf0.1 AND sf1). */
  def classIndexOf(batch: DataFrame, shingleK: Int = 3, bands: Int = 32,
                   rowsPerBand: Int = 4, textCol: String = "text",
                   idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val rows = indexRows(batch, shingleK, bands, rowsPerBand, textCol, idCol)
    (classRowsOf(rows), rows.select("id", "ck"))
  }

  /** Resolve the committed state root — live, else a COMPLETE staging
    * copy (interrupted swap), else None. Strictly read-only (the
    * GraphArtifact serve discipline): an interrupted swap is served
    * FROM the staging copy in place, never renamed here. A reader that
    * renamed could race a re-running compactor's staging overwrite —
    * observe `_SUCCESS` an instant before the overwrite deletes it,
    * then rename a partially rewritten staging dir into live. The
    * roll-forward rename belongs to the single writer ([[run]]
    * recovers at entry).
    *
    * CONCURRENT-RECOVERY CAVEAT: a read that resolves base = staging
    * just before the writer's entry recovery renames staging → live
    * fails at (lazy) SCAN time with a missing-path error — Spark
    * resolves parquet files at execution, after this method returned,
    * so the window cannot be intercepted here without materializing
    * the frame. The committed direction is live: a caller whose scan
    * of a staging-resolved frame fails should retry the read once (it
    * then resolves the renamed live copy). The window exists only
    * while a crashed compactor is being recovered by its retry —
    * steady-state reads always resolve live directly. */
  private def resolveRoot(spark: SparkSession, stateDir: String): Option[Path] = {
    val f = fs(spark, stateDir)
    val l = live(stateDir)
    val s = staging(stateDir)
    if (f.exists(l)) Some(l)
    else if (f.exists(new Path(s, "_SUCCESS"))) Some(s)
    else None
  }

  /** Read the live CLASS index as (classes, members) — the serving
    * shape for [[graft.llm.Dedup.minhashLshAgainstIndex]]. Read-only;
    * see [[resolveRoot]] for the interrupted-swap and concurrent-
    * recovery contract. Returns None when no state exists. */
  def readClassIndex(spark: SparkSession,
                     stateDir: String): Option[(DataFrame, DataFrame)] = {
    resolveRoot(spark, stateDir).map { root =>
      val v = detectFormat(fs(spark, stateDir), root)
      if (v != FormatVersion) throw new IllegalStateException(
        s"dedup index at $stateDir is format v$v but this build serves " +
          s"v$FormatVersion (the layouts are incompatible): run " +
          "Compact.run with any batch — the writer migrates the state in " +
          s"place — or delete $stateDir and rebuild")
      (spark.read.parquet(new Path(root, "classes").toString),
        spark.read.parquet(new Path(root, "members").toString))
    }
  }

  /** Read the live index as the PER-DOCUMENT view
    * `(id, fp, shingles, bands)` — membership joined back through the
    * classes, one keyed join on ck. The compatibility face for
    * per-document consumers (q110's fingerprint set, q302's dup-rate
    * census, the streaming alert monitor); the LSH serve path should
    * use [[readClassIndex]] and stay at class scale. */
  def readIndex(spark: SparkSession, stateDir: String): Option[DataFrame] =
    readClassIndex(spark, stateDir).map { case (classes, members) =>
      members.join(classes, "ck")
        .select(col("id"), col("fp"), col("shingles"), col("bands"))
    }

  /** Writer-side crash recovery: roll an interrupted swap forward
    * (staging complete + live missing ⇒ rename). Called only from the
    * single-writer entry point [[run]] — readers never mutate. */
  private def recover(spark: SparkSession, stateDir: String): Unit = {
    val f = fs(spark, stateDir)
    val l = live(stateDir)
    val s = staging(stateDir)
    if (!f.exists(l) && f.exists(new Path(s, "_SUCCESS"))) {
      if (!f.rename(s, l) && !f.exists(l))
        throw new IllegalStateException(s"roll-forward rename $s -> $l failed")
    }
  }

  /** Fold `batch` into the persisted index (id-keyed membership upsert;
    * class rows recomputed from the merged membership). */
  def run(spark: SparkSession, stateDir: String, batch: DataFrame,
          shingleK: Int = 3, bands: Int = 32, rowsPerBand: Int = 4,
          textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val f = fs(spark, stateDir)
    // single-writer enforcement (the GraphArtifact/AnnIndex round-10
    // lease): two concurrent compactions would interleave the
    // staging-overwrite/delete/rename triple undetected
    graft.common.WriterLease.withLease(f,
        new Path(stateDir, "_writer.lease")) {
      runUnlocked(spark, f, stateDir, batch, shingleK, bands, rowsPerBand,
        textCol, idCol)
    }
  }

  private def runUnlocked(spark: SparkSession,
          f: org.apache.hadoop.fs.FileSystem, stateDir: String,
          batch: DataFrame, shingleK: Int, bands: Int, rowsPerBand: Int,
          textCol: String, idCol: String): Unit = {
    recover(spark, stateDir) // writer entry: finish any interrupted swap
    // writer entry, step 2: an older-format live dir migrates via its
    // own staged swap before the merge reads it (readers only REFUSE —
    // migration mutates, so it belongs to the lease holder)
    resolveRoot(spark, stateDir).foreach { root =>
      val v = detectFormat(f, root)
      if (v != FormatVersion) migrate(spark, f, stateDir, root, v)
    }
    // `fresh` feeds three merge subtrees (id anti-join, membership
    // union, class payload) UNCACHED — deliberately. Persisting it was
    // measured (round 12, focused min-of-N A/B at matched scan
    // throughput) and LOST at both sf0.1 and sf1 (q302 22.8 → 32.5 s,
    // q209 3.3 → 4.2 s): materializing wide array rows through the
    // block manager costs more than re-running the codegen'd
    // scan+shingle+band pass, and the cache barrier breaks write
    // pipelining. The minhashCollapse persists are the opposite case —
    // profiled WINS with many heavy consumers — so "persist the
    // shingle work" is not a blanket rule; measure per shape.
    val fresh = indexRows(batch, shingleK, bands, rowsPerBand, textCol, idCol)
    val (mergedClasses, mergedMembers) =
      readClassIndex(spark, stateDir) match {
        case Some((oldClasses, oldMembers)) =>
          // id-keyed membership upsert: re-indexed ids move to their
          // fresh class (or keep it — a no-op row), absent ids survive
          val survivors = oldMembers
            .join(fresh.select("id"), Seq("id"), "left_anti")
          val members = survivors.unionByName(fresh.select("id", "ck"))
          // rep + grp_n recompute from the merged membership (a class
          // whose members all got re-ingested elsewhere disappears via
          // the inner payload join)
          val stats = members.groupBy("ck")
            .agg(min("id").as("rep"), count(lit(1)).as("grp_n"))
          // payload by the deterministic min-rep rule over old ∪ fresh
          // class rows: both carry the same class functions (fp is part
          // of ck; shingles/bands are set functions), so the rule only
          // pins WHICH member's array ordering is stored
          val payload = oldClasses
            .select("ck", "rep", "fp", "shingles", "bands")
            .unionByName(classRowsOf(fresh)
              .select("ck", "rep", "fp", "shingles", "bands"))
            .groupBy("ck")
            .agg(min(struct(col("rep"), col("fp"), col("shingles"),
              col("bands"))).as("m"))
            .select(col("ck"), col("m.fp").as("fp"),
              col("m.shingles").as("shingles"), col("m.bands").as("bands"))
          (stats.join(payload, "ck")
            .select("ck", "rep", "grp_n", "fp", "shingles", "bands"),
            members)
        case None =>
          (classRowsOf(fresh), fresh.select("id", "ck"))
      }
    commitStaged(f, stateDir, mergedClasses, mergedMembers)
  }

  /** Phase 1: materialize an index completely into staging (the live
    * dir is only READ here; both sub-tables, then the `_FORMAT` version
    * marker, are written before the top-level `_SUCCESS` marker, which
    * is what readers and recovery test for completeness). Phase 2 (the
    * commit point): swap. Readers are strictly read-only, but the
    * rename stays tolerant: under the single-writer contract a
    * crashed-then-retried compactor's own recover() may have finished
    * the identical rename — losing it is success iff live exists and
    * staging is gone. */
  private def commitStaged(f: org.apache.hadoop.fs.FileSystem,
                           stateDir: String, classes: DataFrame,
                           members: DataFrame): Unit = {
    val s = staging(stateDir)
    f.delete(s, true)
    // the two sub-table writes are independent (separate staging
    // subdirs, both only READ the live dir) — overlap them on a
    // 2-thread pool (guide §2.6, the GraphArtifact build/append
    // discipline) so one write's task tail back-fills with the other's
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val fc = scala.concurrent.Future {
      classes.write.parquet(new Path(s, "classes").toString)
    }(ec)
    val fm = scala.concurrent.Future {
      members.write.parquet(new Path(s, "members").toString)
    }(ec)
    try
      // drain both writes to completion before rethrowing (round-14
      // advice): staging must be quiescent when the exception escapes
      Seq(fc, fm).map(f =>
        scala.concurrent.Await.ready(
          f, scala.concurrent.duration.Duration.Inf).value.get)
        .foreach(_.get)
    finally pool.shutdown()
    val m = f.create(new Path(s, "_FORMAT"), true)
    m.write(FormatVersion.toString.getBytes("UTF-8")); m.close()
    f.create(new Path(s, "_SUCCESS"), true).close()
    f.delete(live(stateDir), true)
    if (!f.rename(s, live(stateDir)) &&
        !(f.exists(live(stateDir)) && !f.exists(s)))
      throw new IllegalStateException(s"commit rename failed for $stateDir")
    ()
  }

  /** Writer-path format migration (called under the lease, after crash
    * recovery): rewrite a committed older-format state as current via its
    * own staged swap, so the merge that follows reads a current-format
    * live dir. v1 → v2 recomputes `ck` from STORED columns — fp is
    * stored and the shingle-set key is a pure function of the stored
    * shingle array — so no text is re-read and no re-shingling
    * happens; the flat rows then collapse to class rows plus the
    * membership sidecar, exactly as a fresh build would. */
  private def migrate(spark: SparkSession,
                      f: org.apache.hadoop.fs.FileSystem,
                      stateDir: String, root: Path, from: Int): Unit = {
    val freshCk = struct(col("fp").as("fp"),
      graft.llm.Dedup.classKey(col("shingles")).as("sk"))
    val (classes, members) = from match {
      case 1 =>
        val rows = spark.read.parquet(root.toString).withColumn("ck", freshCk)
        (classRowsOf(rows), rows.select("id", "ck"))
      case other => throw new IllegalStateException(
        s"dedup index at $stateDir reports format v$other, which this " +
          s"build (v$FormatVersion) does not know how to migrate — " +
          s"delete $stateDir and rebuild")
    }
    commitStaged(f, stateDir, classes, members)
  }

  /** CLI: `Compact <stateDir> <sfDir> <sourcesCsv>` — index the fixture
    * documents whose `source` is in the comma-separated list (the q177
    * batch convention) into the state at `<stateDir>`. */
  def main(args: Array[String]): Unit = {
    val Array(stateDir, sfDir, sourcesCsv) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sources = sourcesCsv.split(',').map(_.trim).toSeq
    val docs = Tables.t(spark, sfDir, "documents")
      .filter(col("source").isin(sources: _*))
    run(spark, stateDir, docs)
    val (nDocs, nClasses) = readClassIndex(spark, stateDir)
      .map { case (c, m) => (m.count(), c.count()) }
      .getOrElse((0L, 0L))
    println(s"""{"state":"$stateDir","indexed_docs":$nDocs,"classes":$nClasses}""")
    spark.stop()
  }
}
