package graft

import org.apache.spark.sql.SparkSession

/** Dev-facing plan explorer (like [[PlanInv]], but one query in full):
  * prints the formatted physical plan — scan pushdowns, exchanges,
  * codegen spans — for any registered query. Usage:
  *
  * {{{
  * sbt "runMain graft.Explain q32_dedup_minhash_lsh [/root/testdata/sf0.01]"
  * }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      s"usage: Explain <queryName> [sfDir]; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
