package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.common.{Backoff, ScanMetrics}

/** Parity specs for the reference's fault-tolerance + observer machinery
  * (FaultyCheckOutputSpecsTest / MetricsObserver shapes). */
class CommonSpec extends AnyFunSuite {
  import TestSpark._

  test("backoff retry succeeds within budget, counting attempts") {
    var calls = 0
    val got = Backoff.retry(Backoff.Policy(maxTries = 5, initialDelayMs = 1)) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(got === 42); assert(calls === 3)
  }

  test("backoff retry exhausts budget and rethrows, counting attempts") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Backoff.retry(Backoff.Policy(maxTries = 4, initialDelayMs = 1)) {
        calls += 1
        throw new RuntimeException(s"always-fails-$calls")
      }
    }
    assert(calls === 4)
    assert(e.getMessage === "always-fails-4")
  }

  test("no retry on first-try success") {
    var calls = 0
    Backoff.retry() { calls += 1 }
    assert(calls === 1)
  }

  test("query execution listener observes scan rows and bytes") {
    val m = ScanMetrics.attach(spark)
    try {
      Tables.t(spark, sf, "nation").collect()
      // listener events deliver asynchronously; poll briefly
      var waited = 0
      while (m.stats.isEmpty && waited < 50) { Thread.sleep(100); waited += 1 }
      assert(m.stats.nonEmpty, "listener should have observed the collect")
      assert(m.stats.exists(_.scanBytes > 0), m.stats.toString)
    } finally spark.listenerManager.unregister(m)
  }

  test("Tables.t sees a directory table rewritten under an unchanged directory stat") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toFile
    val table = new java.io.File(dir, "fixture.parquet")
    def rows = Tables.t(spark, dir.getPath, "fixture").as[Long].collect().sorted.toSeq
    try {
      Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(table.getPath)
      assert(rows === Seq(1L, 2L))
      val (len, mtime) = (table.length(), table.lastModified())
      Seq(3L, 4L).toDF("k").coalesce(1).write.mode("overwrite").parquet(table.getPath)
      // a rewrite inside the filesystem's timestamp granularity: the
      // directory's own length and mtime read exactly as before
      assert(table.setLastModified(mtime))
      assert(table.length() === len)
      assert(rows === Seq(3L, 4L))
    } finally {
      def go(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(go)); f.delete(); ()
      }
      go(dir)
    }
  }

  // InputTest.checkGets parity (reference input/InputTest.java:175-190):
  // wrong-typed access must throw, not silently coerce
  test("wrong-typed dataset access fails at analysis") {
    import spark.implicits._
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.t(spark, sf, "nation").as[(Long, Long, Long)].collect() // n_name is a string
    }
    assert(e.getMessage.contains("n_name") || e.getMessage.toLowerCase.contains("cannot up cast"))
  }

  // conf-options CLI parity (reference conf/AllOptions.java:40-70 +
  // cmdline/ConfOptionsCmd.java:28-33)
  test("conf-options registry is unique-keyed and renders grouped") {
    import graft.common.ConfOptions
    val keys = ConfOptions.all.map(o => s"${o.group}.${o.key}")
    assert(keys.distinct.size === keys.size, "duplicate option keys")
    val out = ConfOptions.render
    assert(out.startsWith("All Options:"))
    for (g <- ConfOptions.all.map(_.group).distinct)
      assert(out.contains(s"$g:\n"), s"missing group $g")
    assert(out.contains("TableSpec.numSplits"))
  }

  // Bench stdout contract: the driver parses the JSON line from a
  // 2000-char stdout tail, so the query map must stay under its budget
  // no matter how many queries are registered
  test("bench compact query map respects the tail budget at any registry size") {
    val small = (1 to 20).map(i => f"q$i%02d_name" -> i * 0.01).toMap
    val smallOut = Bench.compactQueries(small)
    assert(smallOut.length <= 1700)
    assert(!smallOut.contains("omitted_sec"), "small registries keep all keys")
    assert(smallOut.contains("\"q07\":0.07"))
    val big = (1 to 400).map(i => f"q$i%03d_long_query_name" -> i * 0.013).toMap
    val bigOut = Bench.compactQueries(big)
    assert(bigOut.length <= 1700, s"len=${bigOut.length}")
    assert(bigOut.contains("omitted_sec"), "oversized registries fold the fast tail")
    assert(bigOut.contains("\"q400\":5.20"), "slowest query always reported")
    // total is reconstructible: kept values + omitted_sec == full sum
    val kvs = bigOut.stripPrefix("{").stripSuffix("}").split(",")
      .map(_.split(":")).map(a => a(0).replaceAll("\"", "") -> a(1).toDouble).toMap
    assert(math.abs(kvs.values.sum - big.values.sum) < 0.01 * big.size)
    // live registry: within budget, and if the fold engages it may only
    // shave the fastest tail — nearly all queries stay individually
    // reported and the sum stays reconstructible
    val current = SparkEntry.queries.keys.map(_ -> 1.234).toMap
    val curOut = Bench.compactQueries(current)
    assert(curOut.length <= 1700, s"len=${curOut.length}")
    val kept = curOut.stripPrefix("{").stripSuffix("}").split(",")
      .count(!_.startsWith("\"omitted_sec\""))
    assert(kept >= math.min(current.size, 135),
      s"fold dropped too much: $kept entries for ${current.size} queries")
  }

  // reference tailer/Stats.java:48-110 meters rows/s + MB/s and
  // TailerArgs.java:62-66 appends the line to a stats file
  test("tail --append-stats-to accretes parseable stats lines") {
    val line = Tail.statsLine("lineitem", 20L, 2000L, 0.5)
    assert(line.contains("20 rows in 0.50 s"))
    assert(line.contains("40.00 rows/s"))
    assert(line.contains("0.00 MB/s")) // 2 KB / 0.5 s rounds to 0.00 MB/s
    val f = java.nio.file.Files.createTempFile("tail-stats", ".log")
    Tail.appendStats(f.toString, line)
    Tail.appendStats(f.toString, Tail.statsLine("orders", 5L, 500L, 0.25))
    val lines = java.nio.file.Files.readAllLines(f)
    assert(lines.size === 2, "append mode must accrete, not truncate")
    assert(lines.get(0) === line)
    assert(lines.get(1).startsWith("[tail] orders: 5 rows"))
  }

  test("WriterLease: exclusion, same-owner reclaim, TTL break, release-on-throw") {
    import graft.common.WriterLease
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("lease").toString, "w.lease")
    // exclusion: a fresh foreign lease fences a second writer out
    WriterLease.acquire(fs, lease, owner = "a@host")
    val ex = intercept[IllegalStateException] {
      WriterLease.acquire(fs, lease, owner = "b@host")
    }
    assert(ex.getMessage.contains("a@host"), "the loser learns the holder")
    assert(fs.exists(lease), "a failed acquire must not break a live lease")
    WriterLease.release(fs, lease)
    // same-owner reclaim: the holder DIED and its retry (fresh process,
    // same owner string) proceeds — simulated by planting the dead
    // process's leftover file directly, so no in-process held entry
    // exists (an in-process re-acquire is NESTING and throws, below)
    def plantLease(owner: String, acquiredMs: Long, ttlMs: Long = 600000L): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(lease.toUri.getPath),
        s"""{"owner":"$owner","acquired_ms":$acquiredMs,"ttl_ms":$ttlMs}""")
    plantLease("a@host", System.currentTimeMillis())
    WriterLease.acquire(fs, lease, owner = "a@host")
    WriterLease.release(fs, lease)
    // TTL break: an expired lease (crashed holder) yields to anyone
    WriterLease.acquire(fs, lease, owner = "dead@host", ttlMs = -1)
    WriterLease.acquire(fs, lease, owner = "b@host")
    assert(fs.exists(lease))
    // withLease releases on BOTH exits — normal and thrown
    WriterLease.release(fs, lease)
    assert(WriterLease.withLease(fs, lease)(42) === 42)
    assert(!fs.exists(lease))
    intercept[RuntimeException] {
      WriterLease.withLease(fs, lease)(throw new RuntimeException("boom"))
    }
    assert(!fs.exists(lease), "an in-process failure must release the lease")
    // NESTED acquire on a held path throws instead of self-reclaiming
    // (the inner finally-release would unlock the running outer section)
    WriterLease.withLease(fs, lease) {
      val exN = intercept[IllegalStateException] {
        WriterLease.acquire(fs, lease)
      }
      assert(exN.getMessage.contains("not reentrant"))
      assert(fs.exists(lease), "the refused nested acquire must not release")
    }
    assert(!fs.exists(lease))
    // UNREADABLE lease is never treated as stale: garbage content blocks
    // the acquire loudly instead of breaking a possibly-live holder
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(lease.toUri.getPath), "not json {{{")
    val exU = intercept[IllegalStateException] {
      WriterLease.acquire(fs, lease, owner = "c@host")
    }
    assert(exU.getMessage.contains("unreadable"))
    assert(fs.exists(lease))
    fs.delete(lease, false)
  }

  test("IterFrame.keyed pins a loop input at full shuffle width (bare checkpoint collapses)") {
    // the round-10 IterProbe class promoted to an enforced invariant:
    // the SAME tiny frame that a bare localCheckpoint lets AQE coalesce
    // (PlanSpec pins the collapse) comes out of the audited helper at
    // exactly the session's shuffle width, keyed for the loop's join
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val base = s2.range(0, 10000)
      .select(org.apache.spark.sql.functions.col("id").as("u"),
        (org.apache.spark.sql.functions.col("id") % 97).as("payload"))
    val other = s2.range(0, 10000)
      .select(org.apache.spark.sql.functions.col("id").as("u"),
        org.apache.spark.sql.functions.lit(1L).as("one"))
    val joined = base.join(other, "u")
    assert(joined.localCheckpoint(true).rdd.getNumPartitions < 8,
      "precondition: AQE coalesces the bare checkpoint (the hazard)")
    val guarded = graft.common.IterFrame.keyed(joined,
      org.apache.spark.sql.functions.col("u"))
    assert(guarded.rdd.getNumPartitions === 8)
  }

  test("WriterLease: a stalled holder's late release cannot delete the breaker's fresh lease") {
    import graft.common.WriterLease
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("lease-stall").toString, "w.lease")
    // A acquires with an instantly-expiring TTL — the stand-in for a
    // holder that stalls past its TTL while still ALIVE (GC pause,
    // suspended VM): its lease is legitimately breakable while its
    // eventual finally-release is still pending
    val nonceA = WriterLease.acquire(fs, lease, owner = "a@host", ttlMs = -1)
    // B breaks the expired lease and acquires
    val nonceB = WriterLease.acquire(fs, lease, owner = "b@host")
    assert(nonceA !== nonceB)
    // A wakes up and releases: the nonce no longer matches the live
    // file, so the release must be a no-op — B's lease survives...
    WriterLease.release(fs, lease, nonceA)
    assert(fs.exists(lease),
      "the stalled holder's release must not delete the breaker's lease")
    // ...and keeps fencing: a third writer is still excluded (under the
    // old unconditional delete this acquire SUCCEEDED — double writer)
    val ex = intercept[IllegalStateException] {
      WriterLease.acquire(fs, lease, owner = "c@host")
    }
    assert(ex.getMessage.contains("b@host"))
    // B's in-process record survived A's release too: a nested
    // re-acquire by B itself still fails fast
    val exN = intercept[IllegalStateException] {
      WriterLease.acquire(fs, lease, owner = "b@host")
    }
    assert(exN.getMessage.contains("not reentrant"))
    // B's own release (matching nonce) does delete
    WriterLease.release(fs, lease, nonceB)
    assert(!fs.exists(lease))
    // the claim-by-rename release must clean up after itself: neither
    // A's mismatching release nor B's matching one may leave a .rel.
    // scratch instance behind (a leak would accrete one file per
    // stalled release until the tombstone GC's TTL sweep)
    val leftovers = Option(new java.io.File(lease.getParent.toUri.getPath)
      .listFiles).toSeq.flatten.map(_.getName).filter(_.contains(".rel."))
    assert(leftovers.isEmpty, s"scratch leftovers: $leftovers")
  }

  test("WriterLease: a mismatching release is read-only — the live instance is never disturbed") {
    import graft.common.WriterLease
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("lease-ro").toString, "w.lease")
    val nonceA = WriterLease.acquire(fs, lease, owner = "a@host", ttlMs = -1)
    Thread.sleep(20) // separate mtimes: the breaker's write vs the release
    val nonceB = WriterLease.acquire(fs, lease, owner = "b@host")
    assert(nonceA !== nonceB)
    val stBefore = fs.getFileStatus(lease)
    Thread.sleep(20)
    // round-14 tightening (ADVICE): the round-13 form renamed EVERY
    // live instance away for inspection, so a stale release briefly
    // removed the breaker's valid lease — an absence window a fresh
    // contender could acquire into. With the preliminary read gating
    // the claim, a mismatch returns before ANY filesystem mutation:
    // same path, same bytes, same modification time (a rename+restore
    // would have re-created the file and bumped it).
    WriterLease.release(fs, lease, nonceA)
    val stAfter = fs.getFileStatus(lease)
    assert(stAfter.getModificationTime === stBefore.getModificationTime,
      "a mismatching release must not recreate (rename away + restore) the live lease")
    assert(stAfter.getLen === stBefore.getLen)
    val leftovers = Option(new java.io.File(lease.getParent.toUri.getPath)
      .listFiles).toSeq.flatten.map(_.getName).filter(_.contains(".rel."))
    assert(leftovers.isEmpty, s"a mismatching release must not shed scratch: $leftovers")
    WriterLease.release(fs, lease, nonceB)
    assert(!fs.exists(lease))
  }

  test("WriterLease: an empty lease is a create in flight, never stale evidence") {
    // CREATE_NEW makes the file before its bytes land; a contender that
    // read it empty parsed it as expired and broke the fresh lease
    // (the two-stale-contenders race below admitted two writers)
    import graft.common.WriterLease
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("lease-empty")
    val lease = java.nio.file.Files.createFile(dir.resolve("w.lease"))
    intercept[IllegalStateException] {
      WriterLease.acquire(fs, new org.apache.hadoop.fs.Path(lease.toString), owner = "c@host")
    }
    assert(java.nio.file.Files.size(lease) === 0, "the in-flight lease must be left alone")
    assert(dir.toFile.list().toSeq === Seq("w.lease"), "no tombstone may be claimed")
  }

  test("WriterLease.forceRelease: the named cross-process cleanup deletes unconditionally") {
    import graft.common.WriterLease
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("lease-force").toString, "w.lease")
    // a live foreign lease (another process — no in-process record):
    // the guarded no-nonce release is a documented NO-OP for it...
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(lease.toUri.getPath),
      s"""{"owner":"other@host","acquired_ms":${System.currentTimeMillis()},""" +
        """"ttl_ms":600000,"nonce":"their-nonce"}""")
    WriterLease.release(fs, lease)
    assert(fs.exists(lease),
      "release(fs, path) must not touch a lease this process never acquired")
    // ...and forceRelease is the explicit ops-tooling override
    WriterLease.forceRelease(fs, lease)
    assert(!fs.exists(lease))
  }

  test("WriterLease: two stale contenders — the tombstone rename admits exactly one") {
    import graft.common.WriterLease
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("lease-race")
    // the round-10 hazard: delete-then-create reclaim let two contenders
    // that both observed the same expired lease BOTH acquire (B's delete
    // removes A's fresh lease). The tombstone rename is the fix: rename
    // succeeds for exactly one contender, and only the winner creates.
    // Race N threads over many rounds; every round must admit exactly 1.
    for (round <- 1 to 20) {
      val lease = new org.apache.hadoop.fs.Path(dir.toString, s"w$round.lease")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(lease.toUri.getPath),
        s"""{"owner":"dead@host","acquired_ms":0,"ttl_ms":1}""")
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to 8).map { i =>
        new Thread(() => {
          gate.await()
          try {
            WriterLease.acquire(fs, lease, owner = s"c$i@host")
            wins.incrementAndGet()
          } catch { case _: IllegalStateException => () }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      assert(wins.get() === 1, s"round $round admitted ${wins.get()} writers")
      assert(fs.exists(lease), "the winner's lease must be live")
      // the tombstone is RETAINED as the per-instance fence: a laggard
      // still holding the consumed evidence must find it occupied
      val tombs = new java.io.File(dir.toString).listFiles()
        .filter(_.getName.startsWith(s"w$round.lease.tomb"))
      assert(tombs.length === 1, tombs.mkString(","))
      fs.delete(lease, false)
    }
    // the tombstone name is CONTENT-derived: breaking the identical
    // planted instance twice (fresh dirs) yields the identical name —
    // what guarantees all contenders race for the SAME fence
    val names = (1 to 2).map { i =>
      val d2 = java.nio.file.Files.createTempDirectory(s"lease-tomb$i")
      val l2 = new org.apache.hadoop.fs.Path(d2.toString, "w.lease")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(l2.toUri.getPath),
        s"""{"owner":"dead@host","acquired_ms":0,"ttl_ms":1,"nonce":"n0"}""")
      WriterLease.acquire(fs, l2, owner = "x@host")
      WriterLease.release(fs, l2)
      new java.io.File(d2.toString).listFiles()
        .map(_.getName).filter(_.startsWith("w.lease.tomb.")).toSeq
    }
    assert(names(0).size === 1 && names(0) === names(1))
    // tombstones older than the default TTL are GC'd by the next break
    // ATTEMPT (their fence has lapsed: evidence that old could break
    // the successor lease legitimately anyway — and a breaker that
    // crashed between claim and create must not fence forever)
    val d3 = java.nio.file.Files.createTempDirectory("lease-gc")
    val l3 = new org.apache.hadoop.fs.Path(d3.toString, "w.lease")
    val oldTomb = java.nio.file.Paths.get(d3.toString, "w.lease.tomb.ffff")
    java.nio.file.Files.writeString(oldTomb, "old")
    java.nio.file.Files.setLastModifiedTime(oldTomb,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - WriterLease.DefaultTtlMs - 60000))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(l3.toUri.getPath),
      s"""{"owner":"dead@host","acquired_ms":0,"ttl_ms":1,"nonce":"n1"}""")
    WriterLease.acquire(fs, l3, owner = "y@host")
    WriterLease.release(fs, l3)
    assert(!java.nio.file.Files.exists(oldTomb), "lapsed tombstone GC'd")
    assert(new java.io.File(d3.toString).listFiles()
      .count(_.getName.startsWith("w.lease.tomb.")) === 1,
      "the fresh break's own tombstone is retained")
  }
}
