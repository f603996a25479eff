package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): one JSON line with per-query seconds
  * plus the BASELINE.md scan-throughput protocol (the reference's
  * InputBenchmark shape — full lineitem scan projecting
  * (l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE), drained;
  * reference hive-io-exp-cmdline benchmark/InputBenchmark.java:115-140,
  * published 140 MB/s — BASELINE.md).
  *
  * Queries are drained via `queryExecution.toRdd.count()` so every plan
  * fully materializes its rows: a plain DataFrame.count() lets Catalyst
  * drop column reads and would overstate scan speed.
  *
  * Per-query seconds are the MIN of `SPARK_GRAFT_REPS` (default 2)
  * full executions — the same steady-state estimator the scan protocol
  * uses (min of 3). The first execution of each query is dominated by
  * its whole-stage-codegen compile + JIT (a per-plan driver-side
  * constant, 1–2 s, independent of data volume); min-of-N reports the
  * data-dependent cost that actually scales. Set SPARK_GRAFT_REPS=1 for
  * the old single-pass (cold) numbers.
  */
object Bench {

  private[graft] def f3(v: Double) =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private[graft] def f2(v: Double) =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Compact per-query JSON map with a hard size budget: short keys
    * (the qNN prefix) at centisecond precision; if even that exceeds
    * `budget` chars, keep the slowest queries and fold the rest into
    * one `omitted_sec` remainder so the total stays reconstructible.
    * The driver parses the line out of a 2000-char stdout tail — an
    * oversized line loses its HEAD, which is the un-recoverable part.
    * Budget accounting: tail 2000 − sbt "[success] …" trailer ~75 −
    * metric/scan/sf line overhead ~190 ⇒ ≤1735 safe for the map;
    * 1700 keeps slack. ~11.5 B/query ⇒ ~148 queries fit outright. */
  private[graft] def compactQueries(results: Map[String, Double],
      budget: Int = 1700): String = {
    val shortKv = results.toSeq.sortBy(_._1)
      .map { case (k, v) => ("\"" + k.takeWhile(_ != '_') + "\":" + f2(v), v) }
    if (shortKv.map(_._1.length + 1).sum <= budget)
      shortKv.map(_._1).mkString("{", ",", "}")
    else {
      val keep = shortKv.sortBy(-_._2)
        .scanLeft(("", 0.0, 0)) { case ((_, _, len), (kv, v)) =>
          (kv, v, len + kv.length + 1)
        }
        .drop(1).takeWhile(_._3 <= budget - 30).map(_._1).toSet
      val omitted = shortKv.filterNot(p => keep(p._1))
      (shortKv.collect { case (kv, _) if keep(kv) => kv } :+
        ("\"omitted_sec\":" + f2(omitted.map(_._2).sum))).mkString("{", ",", "}")
    }
  }

  /** Load factor for the regression gate: the WORST of the single-task
    * decode ratio (prior/current MB/s — slower current ⇒ > 1) and the
    * multi-task probe ratio (current/prior seconds), clamped below at 1
    * so a FASTER machine never excuses a real slowdown. Missing probes
    * (0/NaN) contribute 1. */
  private[graft] def loadFactor(priorMb: Double, curMb: Double,
                                priorMt: Double, curMt: Double): Double = {
    val st = if (priorMb > 0 && curMb > 0) priorMb / curMb else 1.0
    val mt = if (priorMt > 0 && curMt > 0) curMt / priorMt else 1.0
    math.max(1.0, math.max(st, mt))
  }

  /** The per-query flag rule: a query regresses iff its load-deflated
    * time exceeds BOTH 2× its prior AND 0.5 s absolute (the and-guard
    * keeps sub-second noise from flagging). Returns (name, prior,
    * now) rows for queries present in both maps. */
  private[graft] def gateFlags(prior: Map[String, Double],
                               current: Map[String, Double],
                               load: Double): Seq[(String, Double, Double)] =
    current.toSeq.sorted.flatMap { case (name, t) =>
      prior.get(name) match {
        case Some(p) if p > 0 && t / load > 2 * p && t / load > 0.5 =>
          Some((name, p, t))
        case _ => None
      }
    }

  /** In-process adjudication of a gate flag (round-13 verdict #3: the
    * protocol rounds 12–13 ran BY HAND — CollapseProbe min-of-N after
    * the fact — folded into the bench itself). A flagged query is
    * re-run several more times in the same process right after the
    * sweep and judged on the MIN: the measured noise floor (SCALE.md
    * round-13 — 13 same-code queries tripped the 2× gate between two
    * clean runs thirty minutes apart, single readings swing up to
    * 3.25× on sub-2 s queries) makes one reading uninformative below
    * ~3×, while min-of-N back-to-back cancels the box epoch the way
    * the interleaved probe does. The verdict re-applies the gate's OWN
    * rule (load-deflated > 2× prior AND > 0.5 s) to that min: still
    * past it ⇒ `CONFIRMED code drift`; inside it ⇒ `box-noise`.
    * Annotation only — the reported times stay the sweep's, so the
    * committed BENCH_DIFF carries the evidence AND the verdict. */
  private[graft] def adjudicate(prior: Double, load: Double,
                                rerunSec: Seq[Double]): String = {
    val mn = rerunSec.min
    val ratio = mn / load / prior
    if (ratio > 2 && mn / load > 0.5)
      f"CONFIRMED code drift (min-of-${rerunSec.size} ${ratio}%.1fx)"
    else
      f"box-noise (min-of-${rerunSec.size} ${ratio}%.1fx)"
  }

  /** The TOTAL-drift flag (round-12 verdict: the clean-close series
    * crept 184 → 199.8 → 254.2 s across two rounds while every step
    * stayed under the per-query 2× gate — slow accretion at
    * ~0.1 s/query is invisible to a gate that only looks at queries
    * one at a time). Fires when the load-deflated total exceeds the
    * prior total by more than 15%, with the offset for registry GROWTH
    * handled by comparing only the queries present in BOTH runs:
    * a new query's own cost must not read as drift. Returns the
    * human-readable flag line, or None. */
  private[graft] def totalDriftFlag(prior: Map[String, Double],
                                    current: Map[String, Double],
                                    load: Double): Option[String] = {
    val shared = prior.keySet.intersect(current.keySet)
    if (shared.isEmpty) return None
    val p = shared.toSeq.map(prior).sum
    val t = shared.toSeq.map(current).sum / load
    if (p > 0 && t > 1.15 * p)
      Some(f"TOTAL drift: shared-query total $p%.1f s -> $t%.1f s " +
        f"load-normalized (${t / p}%.2fx, gate 1.15x) - no single query " +
        "need have tripped 2x; attribute before closing (SCALE.md " +
        "family budget)")
    else None
  }

  /** The prior run's committed BENCH_FULL.json as the gate reads it:
    * (full-name per-query seconds, scan MB/s, multi-task probe
    * seconds). Throws on a file that is not JSON. */
  private[graft] def readPrior(path: java.nio.file.Path): (Map[String, Double], Double, Double) = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(path))
    (root.path("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble(0)).toMap,
      root.path("scan").path("parquet_mb_per_sec").asDouble(0),
      root.path("scan").path("mt_sec").asDouble(0))
  }

  /** Run `body`; a failure is printed to stderr and returned as a
    * one-line message (`"<what>: <exception>"`) for the BENCH_FULL.json
    * `gate_error` field, so a broken gate is visible, never silent. */
  private[graft] def recordFailure[T](what: String)(body: => T): Option[String] =
    try { body; None } catch { case e: Throwable =>
      System.err.println(s"[bench-diff] $what failed"); e.printStackTrace(); Some(s"$what: $e")
    }

  /** The full-name BENCH_FULL.json line; `gate_error` is null when the
    * regression gate ran clean. Lifecycle rows are deliberately-heavy
    * persisted-state PROOFS whose weight is the point: they stay in
    * `queries` (totalled and gated), and the `lifecycle` rollup lets
    * per-query statistics separate them from real queries. */
  private[graft] def fullLine(results: Map[String, Double], scan: String,
                              sfDir: String, gateError: Option[String]): String = {
    val total = results.values.sum
    val full = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val lifecycleKeys = Seq("q000_graph_build", "q302_lifecycle_capstone")
      .filter(results.contains)
    val lifecycle = lifecycleKeys
      .map(k => "\"" + k + "\":" + f3(results(k)))
      .mkString("{", ",", "}")
    val lifecycleSec = lifecycleKeys.map(results).sum
    val err = gateError.fold("null")(
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(_))
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$full,"lifecycle":$lifecycle,"lifecycle_sec":${f3(lifecycleSec)},"scan":$scan,"sf":"$sfDir","gate_error":$err}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 250 queries × reps leave dereferenced localCheckpoint blocks
      // behind; the ContextCleaner only reclaims them after a driver GC,
      // and the default 30-min periodic GC never fires inside one bench
      // run — late queries were measuring memory pressure, not plans
      // (q211 13.5 s in-suite vs 2.9 s solo before this)
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def drain(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    // session warmup (parquet reader + codegen + shuffle JIT) so the
    // first measured query doesn't absorb cold-start costs
    val li = Tables.t(spark, sfDir, "lineitem")
    drain(li.select("l_orderkey", "l_partkey", "l_quantity"))
    drain(li.groupBy("l_returnflag").agg(sum("l_quantity")))

    // Build the shared graph-edge artifact ONCE and serve the graph
    // family (q116/q179/q184/q211/q242/q244/q245) from it — the
    // production lifecycle (operators/GraphArtifact). The build cost is
    // reported as its own timed entry ("q000_graph_build", counted in
    // the total) so the amortization is visible, not hidden.
    val artifactSec = try {
      val art = java.nio.file.Files
        .createTempDirectory("graft-graph-artifact").resolve("graph").toString
      val t0 = System.nanoTime()
      graft.operators.GraphArtifact.build(spark, sfDir, art)
      spark.conf.set(graft.operators.GraphArtifact.Key, art)
      (System.nanoTime() - t0) / 1e9
    } catch { case _: Throwable =>
      spark.conf.unset(graft.operators.GraphArtifact.Key); -1.0
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // dev-only substring filter for single-query iteration; the driver
    // never sets it, so the contract (full registry) is unchanged
    val nameFilter = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILTER", "")
    var sinceGc = 0
    val results = SparkEntry.queries
      .filter(_._1.contains(nameFilter)).map { case (name, fn) =>
      // a crashing query must surface as -1, not as its (fast) failure
      // latency — which min-of-reps would otherwise select as the winner
      val t = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { drain(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }.min
      // deterministic complement to the periodic cleaner GC: release the
      // previous queries' checkpoint blocks OUTSIDE any timed region
      sinceGc += 1
      if (sinceGc >= 16) { sinceGc = 0; System.gc() }
      name -> t
      // a failed artifact build (artifactSec = -1) must NOT leak a
      // negative time into the totals/regression gate — the graph
      // queries already fell back inline, which their own timings show
    } ++ (if (nameFilter.isEmpty && artifactSec >= 0)
            Map("q000_graph_build" -> artifactSec)
          else Map.empty[String, Double])

    // BASELINE scan protocol (IdIdSimRow shape): warmup pass, then the
    // best of three timed passes — min-of-N is the steady-state
    // estimator, robust to background machine load
    val scanDf = Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    // two warmups: the first pass is ~20× steady-state (codegen compile
    // + C2 JIT of the vectorized reader), the second still ~1.5×; the
    // sf0.1 file is a single parquet row group, so this measures ONE
    // task's decode throughput — min-of-5 at ~70 ms/pass is cheap and
    // converges on the steady state
    var rows = drain(scanDf)
    rows = drain(scanDf)
    val scanSec = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      rows = drain(scanDf)
      (System.nanoTime() - t0) / 1e9
    }.min
    // MULTI-TASK load probe: a fixed all-core shuffle job (scan →
    // 32-task hash aggregate). The single-task decode probe above is
    // blind to scheduler/CPU contention that inflates every multi-stage
    // query — the round-8 q116/q244 flags survived load factor 1.00
    // because only this dimension had degraded. Same min-of-5
    // steady-state estimator.
    val mtDf = Tables.t(spark, sfDir, "lineitem")
      .groupBy("l_partkey").agg(sum("l_quantity"))
    drain(mtDf); drain(mtDf)
    val mtSec = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      drain(mtDf)
      (System.nanoTime() - t0) / 1e9
    }.min
    // lineitem may be a single file (driver fixtures) or a Spark-written
    // directory (SfGen corpora) — sum the parts so MB/s is real either
    // way (a dir's File.length() is the inode size, ~4 KB). The
    // throughput is still only baseline-comparable on the single-file
    // fixtures, where the scan is genuinely one task.
    val bytes = {
      val f = new java.io.File(s"$sfDir/lineitem.parquet")
      if (f.isDirectory)
        Option(f.listFiles).map(_.filter(_.isFile).map(_.length()).sum)
          .getOrElse(0L)
      else f.length()
    }
    // Locale.ROOT like the query map — the f interpolator would emit
    // comma decimals on comma-decimal locales and break the JSON parse
    def f4(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    def f1(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val scan = s"""{"rows":$rows,"sec":${f4(scanSec)},"rows_per_sec":${(rows / scanSec).toLong},"parquet_mb_per_sec":${f1(bytes / 1e6 / scanSec)},"mt_sec":${f4(mtSec)}}"""

    // The driver keeps only the last ~2000 chars of stdout and parses the
    // JSON line out of that tail; sbt's "[success] ..." trailer eats ~80 of
    // them. Full query names at full double precision made the line ~3 KB,
    // so its head was truncated and the parse failed every round. Emit the
    // tail-safe line with short keys (q01..qNN, the stable name prefix) and
    // millisecond precision (~13 B/query), and write the full-name version
    // to BENCH_FULL.json for humans.
    // Locale.ROOT: the f interpolator uses the default locale, which on
    // comma-decimal locales would emit "1,234" and break the JSON parse
    // Per-query regression gate: diff this run against the committed
    // BENCH_FULL.json (the prior round's full-name artifact) and flag
    // any query at >2x its prior time AND >0.5 s absolute — the
    // harness must surface a real regression, not mask it in the
    // total. LOAD-NORMALIZED: both runs carry the same scan-protocol
    // probe (a fixed single-task decode workload), so the ratio of
    // prior to current scan throughput measures background machine
    // load, not code. Each current time is deflated by that factor
    // before the threshold test — the round-7 driver rerun of an
    // identical HEAD flagged six queries purely because the whole
    // machine ran ~25% slower; a gate that cries wolf under load masks
    // real regressions. Emitted to BENCH_DIFF.md + stderr only (a gate
    // that itself fails is recorded as BENCH_FULL.json's gate_error):
    // stdout stays one driver-parseable JSON line.
    // A run at a different scale than the committed baseline (e.g. the
    // round-10 BENCH_sf1 pass, redirected via SPARK_GRAFT_BENCH_OUT)
    // must neither diff against it (a 10x corpus "regresses" every
    // query) nor overwrite it.
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val gateError = if (nameFilter.isEmpty) recordFailure("regression gate") {
      val priorPath = java.nio.file.Paths.get("BENCH_FULL.json")
      if (java.nio.file.Files.exists(priorPath) && benchOut == "BENCH_FULL.json") {
        val (priorQ, priorMb, priorMt) = readPrior(priorPath)
        val curMb = bytes / 1e6 / scanSec
        // two probe dimensions, worst wins, clamped at 1 (loadFactor,
        // spec-pinned): this burstable box degrades single-task decode
        // and multi-task scheduling independently (round-8/9
        // adjudication — 211 → 90 MB/s single-task across consecutive
        // runs, multi-task contention at single-task load 1.00)
        val load = loadFactor(priorMb, curMb, priorMt, mtSec)
        // every flag row is adjudicated IN-PROCESS before the diff is
        // written: min-of-4 re-execution, verdict column appended (see
        // [[adjudicate]]); q000_graph_build has no registry body to
        // re-run — its row says so instead of guessing
        val flags = gateFlags(priorQ, results, load).map { case (name, p, t) =>
          val verdict = SparkEntry.queries.get(name) match {
            case Some(fn) =>
              val times = (1 to 4).map { _ =>
                val t0 = System.nanoTime()
                try { drain(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
                catch { case _: Throwable => Double.MaxValue }
              }
              adjudicate(p, load, times)
            case None => "unadjudicated (no registry body)"
          }
          f"| $name | $p%.2f | $t%.2f | ${t / p}%.1fx | ${t / load / p}%.1fx | $verdict |"
        }
        val hdr = f"Load factor (worst of single-task scan and multi-task probe): ${load}%.2f " +
          f"(scan prior ${priorMb}%.1f vs current ${curMb}%.1f MB/s; " +
          f"mt probe prior ${priorMt}%.3f vs current ${mtSec}%.3f s).%n%n"
        val drift = totalDriftFlag(priorQ, results, load)
          .map(d => s"\n**$d**\n").getOrElse("")
        val body =
          (if (flags.isEmpty) hdr +
            "No per-query regressions (load-normalized >2x and >0.5 s) vs prior BENCH_FULL.json.\n"
          else (hdr + "| query | prior s | now s | raw ratio | load-norm ratio | verdict |\n|---|---|---|---|---|---|\n"
            + flags.mkString("\n") + "\n")) + drift
        java.nio.file.Files.write(
          java.nio.file.Paths.get("BENCH_DIFF.md"),
          ("# Bench regression gate\n\n" + body).getBytes("UTF-8"))
        flags.foreach(f => System.err.println(s"[bench-diff] $f"))
      }
    } else None

    val qs = compactQueries(results)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // only a full (unfiltered) run may overwrite the committed artifact —
    // a dev-filtered run would clobber it with a partial query map
    if (nameFilter.isEmpty) recordFailure(s"write $benchOut") {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(benchOut),
        (fullLine(results, scan, sfDir, gateError) + "\n").getBytes("UTF-8"))
    }
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"scan":$scan,"sf":"$sfDir"}""")
    graft.llm.Dedup.clearShingleCache()
    spark.stop()
  }
}
