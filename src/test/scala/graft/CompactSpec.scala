package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Dedup

/** The incremental-base compaction contract ([[Compact]]): idempotent
  * re-runs, id-keyed upsert semantics, crash roll-forward, and answer
  * parity — the persisted index must give exactly the answers the
  * from-scratch paths (q177's minhashLshAgainst, q110's fingerprint
  * anti-join) compute from raw text. */
class CompactSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val batchSources = Seq("src15", "src16", "src17", "src18", "src19")

  private def tmpState(): String =
    java.nio.file.Files.createTempDirectory("graft-compact").toString

  private def rm(dir: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete(); ()
    }
    go(new java.io.File(dir))
  }

  private lazy val docs = Tables.t(spark, sf, "documents").cache()
  private lazy val base = docs.filter(!col("source").isin(batchSources: _*))
  private lazy val batch = docs.filter(col("source").isin(batchSources: _*))

  private def indexRows(state: String) =
    Compact.readIndex(spark, state).get
      .select(col("id"), col("fp"), col("shingles"), col("bands"))
      .as[(Long, String, Seq[String], Seq[Long])].collect()
      .map { case (i, f, sh, b) => (i, f, sh.toList, b.toList) }.toSet

  test("compaction is idempotent: re-running the same batch leaves the state identical") {
    val state = tmpState()
    try {
      Compact.run(spark, state, base)
      val first = indexRows(state)
      Compact.run(spark, state, base)
      assert(indexRows(state) === first)
      assert(first.map(_._1) === base.select("doc_id").as[Long].collect().toSet)
    } finally rm(state)
  }

  test("Compact.run indexes a driver-built createDataFrame corpus") {
    // a local-relation frame is constant-folded on the driver, by
    // several threads at once inside Compact.run's parallel writes;
    // the key's lambdas raced there (array_sort: "Comparison method
    // violates its general contract" from ConvertToLocalRelation;
    // transform: class keys that members and classes disagree on)
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(11)
    val texts = (0 until 2000).map(_ =>
      Seq.fill(12)(s"w${rnd.nextInt(300)}").mkString(" "))
    // every tenth doc a shuffled copy of its predecessor: real classes
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val text = if (i % 10 == 9) rnd.shuffle(texts(i - 1).split(" ").toSeq).mkString(" ") else t
      Row(i.toLong, text)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val corpus = spark.createDataFrame(rows.asJava, schema)
    val state = tmpState()
    try {
      Compact.run(spark, state, corpus)
      assert(indexRows(state).map(_._1) === (0L until 2000L).toSet)
    } finally rm(state)
  }

  test("lambda-free keys equal the array_sort/transform keys they replace, nulls and duplicates included") {
    // Compact v2 state and the DuckDB twin Fragments.BagFpSql were
    // written under the lambda forms: the keys must not move
    def oldClassKey(arr: org.apache.spark.sql.Column) = {
      val sorted = array_sort(arr)
      struct(md5(concat_ws("\u0001",
        transform(sorted, s => concat(length(s).cast("string"), lit(":"), s)))),
        xxhash64(sorted), size(sorted))
    }
    val arrays = Seq(Seq("b", "a", null), Seq(null, "a", "b"), Seq("a", "a", "b"),
      Seq.empty[String], null, Seq(null: String), Seq(null, null, "z", "z"),
      Seq("x\u0001y", "z"), Seq("z", "x\u0001y"), Seq("ü", "日本", ""))
    val keys = arrays.map(Tuple1(_)).toDF("a")
      .select(oldClassKey(col("a")), Dedup.classKey(col("a"))).collect()
    assert(keys.length === arrays.size)
    keys.foreach(r => assert(r.get(0) === r.get(1)))
    val texts = Seq("b a a", "a b", "  B\tA  ", "", null, "z y x y")
    texts.map(Tuple1(_)).toDF("text").select(
      md5(concat_ws(" ", array_sort(array_distinct(
        graft.llm.TextOps.tokens(col("text")))))),
      graft.llm.TextOps.bagFingerprint(col("text")))
      .collect().foreach(r => assert(r.get(0) === r.get(1)))
  }

  test("compaction upserts: a re-indexed id's row is replaced, others survive") {
    val state = tmpState()
    try {
      Compact.run(spark, state,
        Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
          .toDF("doc_id", "text"))
      Compact.run(spark, state,
        Seq((2L, "delta epsilon zeta CHANGED"), (3L, "eta theta iota"))
          .toDF("doc_id", "text"))
      val rows = indexRows(state)
      assert(rows.map(_._1) === Set(1L, 2L, 3L))
      val fp2 = rows.find(_._1 == 2L).get._2
      val expected2 = Seq((2L, "delta epsilon zeta CHANGED")).toDF("doc_id", "text")
        .select(graft.llm.TextOps.bagFingerprint(col("text"))).as[String].head()
      assert(fp2 === expected2)
    } finally rm(state)
  }

  test("an interrupted swap: reads serve staging READ-ONLY; the next run rolls forward") {
    val state = tmpState()
    try {
      Compact.run(spark, state, base)
      val before = indexRows(state)
      // simulate a crash between delete(live) and rename(staging, live):
      // a COMPLETE staging exists, live is gone
      val fs = new org.apache.hadoop.fs.Path(state)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = new org.apache.hadoop.fs.Path(state, "index")
      val staging = new org.apache.hadoop.fs.Path(state, "_staging")
      assert(fs.rename(live, staging))
      assert(!fs.exists(live))
      // read path: full committed content, WITHOUT mutating the layout —
      // a renaming reader could race a re-running compactor's staging
      // overwrite and promote a half-rewritten dir (round-9 ADVICE)
      assert(indexRows(state) === before)
      assert(!fs.exists(live) && fs.exists(staging),
        "readIndex must never repair — readers are strictly read-only")
      // writer entry point recovers, then folds the batch as usual
      Compact.run(spark, state,
        Seq((99L, "kappa lambda mu")).toDF("doc_id", "text"))
      assert(fs.exists(live) && !fs.exists(staging))
      assert(indexRows(state).map(_._1) === (before.map(_._1) + 99L))
    } finally rm(state)
  }

  test("q177 parity: probing the compacted index equals minhashLshAgainst from raw text") {
    val state = tmpState()
    try {
      Compact.run(spark, state, base)
      val (classes, members) = Compact.readClassIndex(spark, state).get
      val fromIndex = Dedup.minhashLshAgainstIndex(classes, members, batch)
        .as[(Long, Long, Double)].collect().toSet
      val fromScratch = Dedup.minhashLshAgainst(base, batch)
        .as[(Long, Long, Double)].collect().toSet
      assert(fromScratch.nonEmpty, "fixture should contain cross-split near-dups")
      assert(fromIndex === fromScratch)
    } finally rm(state)
  }

  test("class-level state: one payload row per content class, slim membership covers every doc") {
    val state = tmpState()
    try {
      // plant verbatim copies so classes < docs (the asset-shrink claim)
      val withCopies = base.select("doc_id", "text").unionByName(
        base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Compact.run(spark, state, withCopies)
      val (classes, members) = Compact.readClassIndex(spark, state).get
      val nDocs = withCopies.count()
      assert(members.count() === nDocs, "one member row per document")
      val nClasses = classes.count()
      assert(nClasses * 2 <= nDocs,
        s"verbatim copies must collapse: $nClasses classes for $nDocs docs")
      assert(classes.agg(sum("grp_n")).as[Long].head() === nDocs,
        "class sizes partition the membership")
      // every class's rep is its min member id
      val repTruth = members.groupBy("ck").agg(min("id").as("want"))
      assert(classes.join(repTruth, "ck")
        .filter(col("rep") =!= col("want")).count() === 0L)
      // the per-doc compatibility view reconstructs exactly
      val viaView = Compact.readIndex(spark, state).get
        .select("id", "fp").as[(Long, String)].collect().toSet
      val direct = withCopies
        .select(col("doc_id"),
          graft.llm.TextOps.bagFingerprint(col("text"))).as[(Long, String)]
        .collect().toSet
      assert(viaView === direct)
    } finally rm(state)
  }

  test("format versioning: a v1 flat dir migrates on the writer path; readers refuse it") {
    val state = tmpState()
    try {
      val v1docs = Seq((1L, "alpha beta gamma delta"),
        (2L, "epsilon zeta eta theta"),
        (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
      // plant the rounds-≤11 layout: flat (id, fp, shingles, bands)
      // parquet rows directly at <state>/index, no sub-dirs, no marker
      Compact.indexRows(v1docs, 3, 32, 4, "text", "doc_id")
        .drop("ck")
        .write.parquet(new java.io.File(state, "index").toString)
      // readers refuse with the actionable message instead of the
      // round-12 path-not-found AnalysisException (ADVICE finding)
      val ex = intercept[IllegalStateException] {
        Compact.readClassIndex(spark, state)
      }
      assert(ex.getMessage.contains("format v1") &&
        ex.getMessage.contains("migrates"), ex.getMessage)
      // the writer migrates in place, then folds the batch as usual
      Compact.run(spark, state, Seq((4L, "iota kappa lambda mu"))
        .toDF("doc_id", "text"))
      val fresh = tmpState()
      try {
        Compact.run(spark, fresh, v1docs.unionByName(
          Seq((4L, "iota kappa lambda mu")).toDF("doc_id", "text")))
        assert(indexRows(state) === indexRows(fresh),
          "migrated-then-merged state must equal a from-scratch build")
      } finally rm(fresh)
      // the migrated dir carries the marker, so the next writer skips
      val marker = new java.io.File(new java.io.File(state, "index"), "_FORMAT")
      assert(marker.exists)
      assert(new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8").trim === Compact.FormatVersion.toString)
    } finally rm(state)
  }

  test("format versioning: an unknown FUTURE format is refused by readers AND the writer") {
    val state = tmpState()
    try {
      Compact.run(spark, state, Seq((1L, "alpha beta gamma delta"))
        .toDF("doc_id", "text"))
      val marker = java.nio.file.Paths.get(state, "index", "_FORMAT")
      // drop the Hadoop local-FS checksum sibling: planting the marker
      // via NIO bypasses it and the stale crc would fail the next open
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(state, "index", "._FORMAT.crc"))
      java.nio.file.Files.writeString(marker, "99")
      val exR = intercept[IllegalStateException] {
        Compact.readClassIndex(spark, state)
      }
      assert(exR.getMessage.contains("format v99"))
      val exW = intercept[IllegalStateException] {
        Compact.run(spark, state, Seq((2L, "epsilon zeta eta theta"))
          .toDF("doc_id", "text"))
      }
      assert(exW.getMessage.contains("does not know how to migrate"))
      // refusal must not have clobbered the state: restoring the true
      // marker restores service
      java.nio.file.Files.writeString(marker, Compact.FormatVersion.toString)
      assert(Compact.readIndex(spark, state).get.count() === 1L)
    } finally rm(state)
  }

  test("q110 parity: the index's fingerprint set drives the same incremental exact dedup") {
    val state = tmpState()
    try {
      // q110's split: base = everything but src19, batch = src19
      val b110 = docs.filter(col("source") =!= "src19")
      val n110 = docs.filter(col("source") === "src19")
      Compact.run(spark, state, b110)
      val baseFps = Compact.readIndex(spark, state).get.select("fp").distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      val viaIndex = n110
        .select(col("doc_id"), col("lang"),
          graft.llm.TextOps.bagFingerprint(col("text")).as("fp"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(baseFps, Seq("fp"), "left_anti")
        .select("doc_id", "lang", "fp")
        .as[(Long, String, String)].collect().toSet
      val fromScratch = graft.queries.Analytics.incrementalDedup(spark, sf)
        .as[(Long, String, String)].collect().toSet
      assert(viaIndex === fromScratch)
    } finally rm(state)
  }
}
