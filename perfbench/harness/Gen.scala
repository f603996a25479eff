package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same frames; the
  * program under test only ever receives these frames (or parquet files
  * written from them). Sizes are fixed per workload so that a seed changes
  * the contents, never the amount of work. */
object Gen {

  /** `df` written once to parquet at `path` and read back. This works
    * round a program defect: `Compact.run` on a frame built from
    * driver-side rows (a local relation) fails in the optimizer with
    * "Comparison method violates its general contract", from the array
    * sort of `Dedup.classKey` that `ConvertToLocalRelation` evaluates.
    * The documents and embeddings therefore reach the program from
    * parquet, as a stored corpus would. Pass the generated frames directly
    * once that defect is fixed. */
  def stored(spark: SparkSession, path: String, df: => DataFrame): DataFrame = {
    if (!new java.io.File(path, "_SUCCESS").exists()) df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Deterministic per-row hash in [0, m). */
  private def h(seed: Long, salt: Int, m: Long, cols: org.apache.spark.sql.Column*) =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(m))

  /** TPC-H-shaped `lineitem` with a 16-value partition key `ds`. Orders
    * carry 1 to 7 lines. */
  def lineitem(spark: SparkSession, start: Long, rows: Long, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(start, start + rows).select(
      (id / 4).cast("long").plus(1).as("l_orderkey"),
      h(seed, 1, 20000, id).plus(1).as("l_partkey"),
      h(seed, 2, 1000, id).plus(1).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (h(seed, 3, 50, id) + 1).cast("double").as("l_quantity"),
      (h(seed, 4, 9000000, id) / 100.0 + 900.0).as("l_extendedprice"),
      (h(seed, 5, 11, id) / 100.0).as("l_discount"),
      (h(seed, 6, 9, id) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(seed, 7, 3, id) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (h(seed, 8, 2, id) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + h(seed, 9, 2400L * 86400, id)).as("l_shipdate"),
      format_string("d%02d", h(seed, 10, 16, id).cast("int")).as("ds"))
  }

  private val Syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da",
    "xi", "bu", "fo", "ge", "ha", "ju", "ze", "wo", "qi", "ly")

  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + 20
    while (x > 0) { sb.append(Syll(x % 20)); x /= 20 }
    sb.toString
  }

  /** `documents(doc_id, text, lang, source, n_chars)` with planted exact
    * copies, near-copies (a few token substitutions) and shared
    * boilerplate spans, spread over 20 sources. */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val rnd = new java.util.Random(seed * 7919L + 17)
    val vocab = Array.tabulate(4000)(word)
    def zipfWord(): String = {
      // skewed draw: low ids are frequent, like a real vocabulary
      val u = rnd.nextDouble()
      vocab(math.min(vocab.length - 1, (math.pow(u, 2.2) * vocab.length).toInt))
    }
    val boiler = Array.fill(6)(Array.fill(12)(zipfWord()))
    val docs = new Array[Array[String]](n)
    for (i <- 0 until n) {
      val r = rnd.nextDouble()
      docs(i) =
        if (i > 20 && r < 0.05) docs(rnd.nextInt(i)).clone()
        else if (i > 20 && r < 0.20) {
          val d = docs(rnd.nextInt(i)).clone()
          for (_ <- 0 until rnd.nextInt(3) + 1) d(rnd.nextInt(d.length)) = zipfWord()
          d
        } else {
          val body = Array.fill(30 + rnd.nextInt(60))(zipfWord())
          if (rnd.nextDouble() < 0.2) boiler(rnd.nextInt(boiler.length)) ++ body else body
        }
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = docs.indices.map { i =>
      val text = docs(i).mkString(" ")
      org.apache.spark.sql.Row(i.toLong, text, "en", f"src${rnd.nextInt(20)}%02d",
        text.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** `embeddings(vec_id, embedding array<float>, label)`: points around
    * 48 Gaussian centers, with planted near-copies and exact copies. */
  def embeddings(spark: SparkSession, n: Int, dim: Int, seed: Long): DataFrame = {
    val rnd = new java.util.Random(seed * 104729L + 3)
    val centers = Array.fill(48)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = new Array[Array[Float]](n)
    val labels = new Array[Int](n)
    for (i <- 0 until n) {
      val r = rnd.nextDouble()
      if (i > 50 && r < 0.03) {
        val j = rnd.nextInt(i); vecs(i) = vecs(j).clone(); labels(i) = labels(j)
      } else if (i > 50 && r < 0.13) {
        val j = rnd.nextInt(i)
        vecs(i) = vecs(j).map(x => (x + 0.002 * rnd.nextGaussian()).toFloat); labels(i) = labels(j)
      } else {
        val c = rnd.nextInt(centers.length)
        vecs(i) = centers(c).map(x => (x + 0.6 * rnd.nextGaussian()).toFloat); labels(i) = c
      }
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val rows = (0 until n).map(i =>
      org.apache.spark.sql.Row(i.toLong, vecs(i).toSeq, labels(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Order–part incidence as `lineitem(l_orderkey, l_partkey)` rows:
    * `orders` orders of 1 to 7 parts drawn from a skewed catalog. */
  def orderItems(spark: SparkSession, orders: Long, parts: Long, seed: Long): DataFrame = {
    spark.range(orders * 7)
      .select((col("id") / 7).cast("long").as("o"), (col("id") % 7).as("slot"))
      .where(col("slot") < h(seed, 21, 7, col("o")) + 1)
      .select((col("o") + 1).as("l_orderkey"),
        // squaring a uniform draw skews toward popular parts, so
        // co-purchase support >= 2 is common
        (pow(h(seed, 22, 1000003, col("o"), col("slot")) / 1000003.0, 2) * parts)
          .cast("long").plus(1).as("l_partkey"))
  }

  /** Click/view `events` in the fixture schema; a click's item key is
    * `props.k`. */
  def events(spark: SparkSession, n: Long, users: Long, items: Long, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      id.as("event_id"),
      timestamp_seconds(lit(1700000000L) + h(seed, 31, 86400L * 30, id)).as("ts"),
      h(seed, 32, users, id).as("user_id"),
      when(h(seed, 33, 10, id) < 7, lit("click")).otherwise(lit("view")).as("event_type"),
      (h(seed, 34, 10000, id) / 100.0).as("value"),
      format_string("{\"k\": %d}", h(seed, 35, items, id)).as("props"))
  }
}
