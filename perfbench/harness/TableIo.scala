package perfbench

import graft.Tables
import graft.api.{Engine, TableSpec, TypeWidening, WriteSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** The reference benchmark's row shape (IdIdSimRow: two ids and a
  * similarity), mapped onto lineitem columns. */
final case class IdIdSimRow(l_orderkey: Long, l_partkey: Long, l_quantity: Double)

/** `table_io`: the reference's own surface (readTable, writeTable,
  * hivetail, InputBenchmark) over a partitioned warehouse table. A seeded
  * shuffle of a deck of 10 reads and 3 writes repeats until time is up. */
final class TableIo(spark: SparkSession, seed: Long, small: Boolean)
    extends Workload(spark, seed, small) {
  import spark.implicits._

  val rows: Long = if (small) 40000L else 600000L
  val batchRows: Long = if (small) 4000L else 30000L
  val writeParts = 4
  /** A coverage deck, not a measured traffic mix. The IdIdSimRow full scan
    * through `Engine.read` is the reference's published benchmark
    * (InputBenchmark), so it takes three of the ten reads and about a third
    * of the deck's read time; the other read paths take one or three. */
  val Deck = Seq("scan", "scan", "scan", "fixture_scan", "pruned", "pruned", "pruned",
    "read_as", "tail", "stats", "write", "write", "write")
  // The warehouse table's directory is named like a fixture file, so the
  // fixture scan entry point (Tables.t) reads the same table.
  private val Main = TableSpec("lineitem.parquet")
  private val IdIdSim = Seq("l_orderkey", "l_partkey", "l_quantity")

  def sizes: Map[String, Any] = ListMap("lineitem_rows" -> rows, "partitions" -> 16,
    "write_batch_rows" -> batchRows, "write_partitions" -> writeParts,
    "read_write_ratio" -> "10:3")
  def deck: Map[String, Int] = ListMap(Deck.distinct.map(k => k -> Deck.count(_ == k)): _*)

  private val li = Gen.lineitem(spark, 0L, rows, seed)
  private var sumOrderkey = 0L
  private var partRows = Map.empty[String, Long]
  private var engine: Engine = _
  private var warehouse = ""
  private var lastFixture: Option[DataFrame] = None
  private var tableBytes = 0L
  private var tableFiles = 0
  private val rnd = new java.util.Random(seed)
  // skewed partition draw: the seed picks which partitions are hot
  private val hot = new scala.util.Random(seed + 1).shuffle((0 until 16).map(i => f"d$i%02d"))
  private val cum = (1 to 16).map(i => 1.0 / i).scanLeft(0.0)(_ + _).tail
  private def drawPartition(): String = {
    val u = rnd.nextDouble() * cum.last
    hot(cum.indexWhere(_ >= u))
  }
  private val ops = Util.decks(Deck, rnd)
  private var opCount = 0
  private def pass = opCount / Deck.size

  override def prepareTruth(): Unit = {
    val t = li.agg(sum("l_orderkey")).head()
    sumOrderkey = t.getLong(0)
    partRows = li.groupBy("ds").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** A write batch: `batchRows` generated rows from a seed-drawn offset,
    * with `l_partkey` narrowed to int so the write widens it back. */
  private def batch(start: Long): DataFrame =
    Gen.lineitem(spark, start, batchRows, seed + 7).drop("ds")
      .withColumn("l_partkey", col("l_partkey").cast("int"))

  def setup(dir: String, rec: Recorder): Unit = {
    warehouse = s"$dir/warehouse"
    engine = new Engine(spark, warehouse)
    engine.writePartitioned(Main, li, Seq("ds"))
    engine.write(TableSpec("lineitem_w"),
      batch(0L).withColumn("l_partkey", col("l_partkey").cast("long")),
      WriteSpec(Map("ds" -> "w00")))
    val (f, b) = Util.dirStats(s"$warehouse/default/${Main.table}")
    tableFiles = f; tableBytes = b
    rec.sample("api.table_mb", tableBytes / 1e6)
    // open the fixture once, as a caller registering the table would; the
    // fixture scans then measure Tables.t's memo
    lastFixture = Some(Tables.t(spark, s"$warehouse/default", "lineitem"))
  }

  /** One op of every kind. */
  override def warmUp(rec: Recorder): Unit = Deck.distinct.foreach(k => runOp(rec, k))

  /** Typed-getter drain of an IdIdSimRow scan, on the executors:
    * (rows, sum of l_orderkey). */
  private def drainTyped(df: DataFrame): (Long, Long) =
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var so = 0L; var sq = 0.0
      it.foreach { r => n += 1; so += r.getLong(0); r.getLong(1); sq += r.getDouble(2) }
      Iterator((n, so))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  private def fullScanCheck(r: (Long, Long)): Option[String] =
    if (r._1 != rows || r._2 != sumOrderkey) Some(s"scan read ${r._1} rows, checksum ${r._2}; " +
      s"expected $rows rows, checksum $sumOrderkey") else None

  private def read(rec: Recorder, spec: TableSpec): DataFrame =
    rec.span("api.read_call", "api")(engine.read(spec))

  private def runOp(rec: Recorder, kind: String): Unit = kind match {
    case "scan" =>
      rec.op(kind, "read", pass, rows) {
        val df = read(rec, Main.copy(columns = IdIdSim))
        rec.span("exec.drain", "exec")(drainTyped(df))
      }(fullScanCheck)
    case "fixture_scan" =>
      rec.op(kind, "read", pass, rows) {
        val df = rec.span("tables.t", "tables")(Tables.t(spark, s"$warehouse/default", "lineitem"))
        if (rec.traced) rec.sample("tables.memo_hit", if (lastFixture.exists(_ eq df)) 1 else 0)
        lastFixture = Some(df)
        rec.span("exec.drain", "exec")(drainTyped(df.select(IdIdSim.map(col): _*)))
      }(fullScanCheck)
    case "pruned" =>
      val p = drawPartition()
      rec.op(kind, "read", pass, partRows(p)) {
        val df = read(rec, Main.copy(columns = IdIdSim, partitionFilter = Some(col("ds") === p)))
        rec.span("exec.drain", "exec")(drainTyped(df))
      } { case (n, _) =>
        if (n != partRows(p)) Some(s"partition $p read $n rows, expected ${partRows(p)}")
        else None
      }
    case "read_as" =>
      val p = drawPartition()
      rec.op(kind, "read", pass, partRows(p)) {
        val ds = rec.span("api.read_call", "api")(engine.readAs[IdIdSimRow](
          Main.copy(partitionFilter = Some(col("ds") === p))))
        rec.span("exec.drain", "exec")(ds.collect())
      } { a =>
        if (a.length != partRows(p)) Some(s"readAs $p gave ${a.length} rows") else None
      }
    case "tail" =>
      rec.op(kind, "read", pass, rows) {
        rec.span("api.tail", "api")(engine.tail(Main, 100, Some("l_orderkey")))
      } { a =>
        val keys = a.map(_.getAs[Long]("l_orderkey"))
        // four lines per order: the first 100 rows are orders 1 to 25
        if (keys.length != 100 || keys.head != 1L || keys.last != 25L ||
            keys.sliding(2).exists(w => w(0) > w(1))) Some("tail not the 100 lowest keys")
        else None
      }
    case "stats" =>
      rec.op(kind, "read", pass, rows) {
        rec.span("api.stats", "api")(engine.stats(Main))
      } { case (n, b) =>
        // the engine's byte count also takes in Spark's marker files
        if (n != rows || b < tableBytes) Some(s"stats ($n, $b) vs ($rows, $tableBytes)")
        else None
      }
    case "write" =>
      val part = f"w${rnd.nextInt(writeParts)}%02d"
      val start = rnd.nextInt(1000) * batchRows
      val df = batch(start)
      val spec = TableSpec("lineitem_w")
      rec.op(kind, "write", pass, batchRows) {
        rec.span("api.write", "api")(
          engine.write(spec, df, WriteSpec(Map("ds" -> part), dropExistingPartition = true)))
      } { _ =>
        val back = engine.read(spec).where(col("ds") === part)
        val n = back.count()
        val schemaOk = back.schema("l_partkey").dataType == org.apache.spark.sql.types.LongType
        if (n != batchRows || !schemaOk) Some(s"partition $part read back $n rows, " +
          s"l_partkey ${back.schema("l_partkey").dataType}") else None
      }
      if (rec.traced) {
        // the api layer's metadata steps, timed outside the op
        rec.span("api.partition_columns", "api")(engine.partitionColumns(spec))
        val target = engine.read(spec).drop("ds").schema
        rec.span("api.widen", "api")(TypeWidening.widenTo(df, target))
        val (files, bytes) = Util.dirStats(s"$warehouse/default/lineitem_w/ds=$part")
        rec.sample("api.files_per_write", files)
        rec.sample("api.bytes_per_row", bytes.toDouble / batchRows)
      }
  }

  /** A pass is one deck. */
  def minPasses: Int = 1

  def run(rec: Recorder, untilMs: Double, minPasses: Int): Unit = {
    var i = 0
    do {
      runOp(rec, ops.next())
      i += 1
      opCount += 1
    } while (Clock.ms() < untilMs || i < minPasses * Deck.size)
  }

  def finish(rec: Recorder): Unit = {
    val (f, b) = Util.dirStats(s"$warehouse/default/${Main.table}")
    rec.check("table_io.table_unchanged", f == tableFiles && b == tableBytes,
      s"$f files, $b bytes after the run; $tableFiles, $tableBytes before")
    rec.check("table_io.stats_rows", engine.stats(Main)._1 == rows)
  }
}
