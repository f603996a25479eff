package perfbench

import graft.functions.{Bpe, JaroWinkler}
import graft.llm.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-input kernel drains: each custom Catalyst kernel evaluated over
  * the same cached input, reported as rows per second. */
object Probe {
  val Rows = 20000
  val Reps = 5

  def kernels(spark: SparkSession, seed: Long, rec: Recorder, inputs: String): Unit = {
    val copies = spark.range(Rows / 2000).withColumnRenamed("id", "copy")
    val docs = Gen.stored(spark, s"$inputs/documents", Gen.documents(spark, 2000, seed))
      .select("text").crossJoin(copies).select(col("text")).persist()
    val vecs = Gen.stored(spark, s"$inputs/embeddings", Gen.embeddings(spark, 2000, 32, seed))
      .crossJoin(copies)
      .select(col("embedding").cast("array<double>").as("v")).persist()
    val shingles = docs.select(TextOps.wordShingles(col("text"), 3).as("sh")).persist()
    val words = docs.select(split(col("text"), " ").as("w"))
      .select(col("w")(0).as("a"), col("w")(1).as("b")).persist()
    Seq(docs, vecs, shingles, words).foreach(Util.drain)
    def bench(name: String, df: DataFrame): Unit = {
      Util.drain(df) // warm-up
      val secs = (1 to Reps).map { _ =>
        val t0 = Clock.ms()
        val n = rec.span(s"functions.$name", "functions")(Util.drain(df))
        require(n == Rows, s"$name drained $n rows")
        (Clock.ms() - t0) / 1e3
      }.sorted
      rec.sample(s"functions.${name}_rows_per_s", Rows / secs(Reps / 2))
    }
    bench("shingle", docs.select(TextOps.wordShingles(col("text"), 3)))
    bench("minhash", shingles.select(Dedup.minhashSignature(col("sh"), 128)))
    bench("srp", vecs.select(Similarity.srpBucket(col("v"), 16)))
    bench("jaro_winkler", words.select(JaroWinkler(col("a"), col("b"))))
    bench("bpe", docs.select(Bpe.bpeTokens(col("text"))))
    Seq(docs, vecs, shingles, words).foreach(_.unpersist(blocking = true))
  }
}
