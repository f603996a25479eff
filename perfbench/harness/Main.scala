package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.io.File
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** A benchmark workload: generated inputs, a prepared state, and a
  * closed-loop client (one op at a time) over the program's public API.
  * `small` shrinks the inputs for the fixed-size layer probes a traced
  * run makes for layers its own workload leaves idle. */
abstract class Workload(val spark: SparkSession, val seed: Long, val small: Boolean) {
  /** Input sizes and op mix, recorded with the results. */
  def sizes: Map[String, Any]
  /** Times each op kind occurs in one pass; it weighs each kind's median
    * latency in the deck-time metrics. */
  def deck: Map[String, Int]
  /** Harness-side expected answers, computed from the generated frames. */
  def prepareTruth(): Unit = ()
  /** Build the workload's state under `dir`. */
  def setup(dir: String, rec: Recorder): Unit
  /** Untimed ops before the timed loop, so class loading and JIT fall
    * into set-up. */
  def warmUp(rec: Recorder): Unit
  /** Passes a timed run makes at least, however short `--seconds` is. */
  def minPasses: Int
  /** Run ops until the wall clock passes `untilMs` and `minPasses` passes
    * are done. */
  def run(rec: Recorder, untilMs: Double, minPasses: Int): Unit
  /** End-of-run output checks. */
  def finish(rec: Recorder): Unit
}

object Util {
  def drain(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** (files, bytes) of the regular files under `path`, hidden and
    * underscore files (Spark's markers and checksums) excluded. */
  def dirStats(path: String): (Int, Long) = {
    var n = 0; var b = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        n += 1; b += f.length()
      }
    walk(new File(path))
    (n, b)
  }

  /** Order-independent digest of a result set. */
  def digest(rows: Array[org.apache.spark.sql.Row]): String =
    rows.map(_.mkString("|")).sorted.mkString("\n").hashCode.toHexString + s"/${rows.length}"

  /** A seeded shuffle of `deck`, repeated without end. */
  def decks[T](deck: Seq[T], rnd: java.util.Random): Iterator[T] =
    Iterator.continually {
      val a = deck.toBuffer
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.iterator
    }.flatten
}

object Main {
  val SetupRounds = 3

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def workload(name: String, spark: SparkSession, seed: Long, inputs: String): Workload =
    name match {
      case "table_io" => new TableIo(spark, seed, small = false)
      case "artifact_lifecycle" => new Lifecycle(spark, seed, small = false, inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Fixed-size instances of the workloads whose layers `name` leaves
    * idle, run once after a traced run so every layer has per-call times. */
  def probes(name: String, spark: SparkSession, seed: Long, work: String): Seq[Workload] =
    name match {
      case "table_io" => Seq(new Lifecycle(spark, seed, small = true, s"$work/probe-inputs",
        Lifecycle.All))
      case _ => Seq(new TableIo(spark, seed, small = true), new Lifecycle(spark, seed,
        small = true, s"$work/probe-inputs", Lifecycle.All.filterNot(Lifecycle.Timed.contains)))
    }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val out = arg(args, "--out")
    val cores = arg(args, "--cores").toInt

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = Clock.ms()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.ms() - t0) / 1e3

    Calibration.start(cores)
    val result = new ArrayBuffer[(String, Any)]
    try {
      val w = workload(name, spark, seed, s"$work/inputs")
      val p0 = Clock.ms()
      w.prepareTruth()
      val prepareS = (Clock.ms() - p0) / 1e3
      // Build the state several times, each in a fresh directory, and
      // keep the last; then warm up once. Set-up time is the session
      // start plus the median build round plus the warm-up. A traced run
      // reports no set-up time and builds once.
      val scratch = new Recorder(traced)
      val rounds = (1 to (if (traced) 1 else SetupRounds)).map { r =>
        val s0 = Clock.ms()
        w.setup(s"$work/state$r", scratch)
        val s = (Clock.ms() - s0) / 1e3
        if (r > 1) Util.rm(new File(s"$work/state${r - 1}"))
        s
      }
      val w0 = Clock.ms()
      w.warmUp(scratch)
      val warmS = (Clock.ms() - w0) / 1e3
      scratch.ops.find(!_.ok).foreach(o => throw new IllegalStateException(
        s"warm-up ${o.kind} failed: ${o.err}"))
      val rec = new Recorder(traced)
      var untraced: Option[Recorder] = None
      var counters: Option[Counters] = None
      val opCounters = ArrayBuffer.empty[(Int, Map[String, Double])]
      val storage = ArrayBuffer.empty[(Int, Double, Double, Double)]
      val runStart = Clock.ms()
      if (!traced) w.run(rec, runStart + seconds * 1e3, w.minPasses)
      else {
        // Traced run: the first half runs untraced and the second half
        // traced, so the tracing overhead is measured on the same state.
        val u = new Recorder(traced = false)
        w.run(u, runStart + seconds * 500, 1)
        untraced = Some(u)
        val c = new Counters(spark)
        c.install()
        counters = Some(c)
        var before = c.snapshot()
        rec.onOpStart = id => {
          before = c.snapshot()
          val (blocks, mem, disk) = c.storage()
          storage += ((id, blocks, mem, disk))
        }
        rec.onOpEnd = id => opCounters += ((id, c.snapshot().minus(before)))
        w.run(rec, runStart + seconds * 1e3, 1)
        rec.onOpStart = _ => (); rec.onOpEnd = _ => ()
      }
      val runEnd = Clock.ms()
      w.finish(rec)
      val finishS = (Clock.ms() - runEnd) / 1e3
      rec.sample("llm.lsh_dropped_buckets", graft.llm.Lsh.droppedBuckets(spark).toDouble)

      val probe = new Recorder(traced = true)
      val q0 = Clock.ms()
      if (traced) {
        Probe.kernels(spark, seed, probe, s"$work/probe-inputs")
        for ((p, i) <- probes(name, spark, seed, work).zipWithIndex) {
          p.prepareTruth()
          p.setup(s"$work/probe$i", probe)
          p.run(probe, 0.0, p.minPasses)
        }
      }

      val probeS = (Clock.ms() - q0) / 1e3
      def pairs(xs: Iterable[(String, Double)]) = xs.map { case (k, v) => Seq(k, v) }
      result ++= Seq(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "cores" -> cores, "sizes" -> w.sizes, "deck" -> w.deck,
        "setup" -> Map("session_s" -> sessionS, "rounds_s" -> rounds, "warmup_s" -> warmS),
        "setup_samples" -> pairs(scratch.samples),
        "phases_s" -> ListMap("jvm_to_session" -> (t0 - jvmStart) / 1e3, "truth" -> prepareS,
          "run" -> (runEnd - runStart) / 1e3, "finish" -> finishS, "probes" -> probeS),
        "ops" -> rec.ops.toSeq, "probe_ops" -> probe.ops.toSeq,
        "checks" -> (rec.checks ++ probe.checks).toSeq,
        "samples" -> pairs(rec.samples))
      if (traced) result ++= Seq(
        "spans" -> rec.spans.toSeq,
        "setup_spans" -> scratch.spans.toSeq,
        "probe_spans" -> probe.spans.toSeq,
        "probe_samples" -> pairs(probe.samples),
        "untraced_ops" -> untraced.get.ops.toSeq,
        "op_counters" -> opCounters.map { case (id, c) => Seq(id, c) },
        "storage" -> storage.map(_.productIterator.toSeq),
        "jobs" -> counters.get.jobIntervals.map(_.productIterator.toSeq))
    } finally spark.stop()
    val pw = new java.io.PrintWriter(out, "UTF-8")
    try pw.write(Serialization.write(result.toMap)(DefaultFormats)) finally pw.close()
  }
}
