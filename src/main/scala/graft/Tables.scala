package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table access — the Spark analog of the reference's table scan
  * entry point (`HiveInput.readTable`, reference
  * hive-io-exp-core/src/main/java/com/facebook/hiveio/input/HiveInput.java:66).
  *
  * Tables are parquet directories under a scale-factor dir; Spark's file
  * source gives us partition pruning, column pruning, and predicate
  * pushdown for free (SURVEY.md §2.1 S1–S10 are all subsumed by
  * `spark.read.parquet`).
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan one table. Column projection and row-level filters applied by the
    * caller stay pushed down to the parquet scan by Catalyst.
    *
    * `events.ts` has been written by different fixture generations as
    * parquet TIMESTAMP(NANOS) (which Spark 4 rejects by default — read
    * as a raw nanos long via `spark.sql.legacy.parquet.nanosAsLong` and
    * truncated to micros with integer `div`, no double rounding) and as
    * TIMESTAMP(MICROS) without UTC adjustment (surfaces as
    * TIMESTAMP_NTZ — reinterpreted in the session's UTC zone). Both
    * normalize to the same session-zone TIMESTAMP the queries and the
    * DuckDB oracle agree on, decided by the file's actual schema. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Memoize the ANALYZED frame per (session, path, [[stamp]]) —
    // metadata only: `spark.read.parquet` costs ~50 ms per call (driver
    // file listing + footer schema inference), and the bench constructs
    // every query body per rep — ~40 s of pure metadata work across a
    // 308-query sweep (round-15 `tcost` probe: 200 constructions ≈
    // 10-12 s). The cached value is an immutable lazy plan; every
    // action still reads the parquet bytes, so nothing about "compute
    // from the inputs per run" changes — this is the register-once
    // catalog-table pattern, keyed on the file stat so a rewritten
    // fixture (ScaleGen/SfGen re-runs, test temp dirs) invalidates.
    val path = s"$dir/$name.parquet"
    val key = (spark, path, stamp(path))
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val df =
        if (name == "events") {
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          val raw = spark.read.parquet(path)
          normalizeTs(raw, raw.schema("ts").dataType)
        } else spark.read.parquet(path)
      if (cache.size > 256) cache.clear() // bound stale-session entries
      cache.put(key, df)
      df
    }
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, Stamp), DataFrame]()

  /** A table's sorted leaf files, their total bytes and newest mtime
    * (ns). A directory's own length is its inode size, and its mtime can
    * sit still through a rewrite inside the timestamp granularity. */
  private type Stamp = (Seq[String], Long, Long)

  private def stamp(path: String): Stamp = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.BasicFileAttributes
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    // a missing table keeps Spark's own "path does not exist" error
    if (!Files.exists(root)) return (Nil, 0L, 0L)
    val walk = Files.walk(root)
    val leaves = try walk.iterator().asScala
      .map(p => root.relativize(p).toString -> Files.readAttributes(p, classOf[BasicFileAttributes]))
      .filter(_._2.isRegularFile).toSeq finally walk.close()
    (leaves.map(_._1).sorted, leaves.map(_._2.size).sum,
      leaves.map(_._2.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)).foldLeft(0L)(math.max))
  }

  /** The single definition of the events `ts` fixup, shared with the
    * streaming reader so batch and stream can never desynchronize on a
    * new fixture generation. Unknown physical types fail HERE, loudly,
    * instead of surfacing as a DATATYPE_MISMATCH deep inside a query. */
  private[graft] def normalizeTs(df: DataFrame,
                                 tsType: org.apache.spark.sql.types.DataType): DataFrame =
    tsType match {
      case org.apache.spark.sql.types.LongType =>
        // The legacy nanosAsLong read surfaces TIMESTAMP(NANOS) as a raw
        // int64 — but so would a plain int64-micros column, which `div
        // 1000` would silently misread 1000x off. Guard the magnitude
        // in-row (epoch nanos for any post-1973 date exceed 1e17; epoch
        // micros stay ~1.7e15): codegen'd, no driver-side sample, and it
        // works identically for the batch and streaming readers.
        df.withColumn("ts", timestamp_micros(
          when(col("ts").isNull || abs(col("ts")) >= lit(100000000000000000L),
            expr("ts div 1000"))
            .otherwise(raise_error(concat(
              lit("events.ts int64 value "), col("ts").cast("string"),
              lit(" is below the epoch-nanoseconds range — a micros fixture" +
                " would be read 1000x off; extend Tables.normalizeTs"))))))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case org.apache.spark.sql.types.TimestampType => df
      case other => throw new IllegalArgumentException(
        s"unsupported events.ts physical type $other — extend Tables.normalizeTs " +
          "for this fixture generation")
    }
}
