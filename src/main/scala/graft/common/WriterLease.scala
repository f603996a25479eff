package graft.common

import org.apache.hadoop.fs.{FileSystem, Path}

/** Exclusive single-writer lease for the persisted-state operators
  * ([[graft.operators.GraphArtifact]], [[graft.llm.AnnIndex]],
  * [[graft.Compact]]). Their crash protocols (WAL pending markers,
  * staged swaps) make every MUTATION atomic against readers and against
  * a retry of the SAME writer — but two SIMULTANEOUS writers would
  * interleave renames undetected; until round 10 that contract lived in
  * scaladoc only. The lease makes it enforced: acquisition is an atomic
  * create-without-overwrite of a marker file (atomic on HDFS-like
  * stores; the local FS's exists+create window is accepted for dev use),
  * the loser FAILS FAST with the holder's identity, and the file
  * carries `{owner, acquired_ms, ttl_ms, nonce}` so a crashed holder's
  * lease is reclaimable:
  *
  *  - the SAME owner re-acquires immediately (a retried append after a
  *    PROCESS death — the documented repair path — is never blocked);
  *  - a DIFFERENT owner breaks the lease only once `ttl_ms` has
  *    elapsed (default 10 min), then acquires;
  *  - otherwise acquisition throws; the caller retries after the TTL,
  *    or the operator's `repair()` runs once no writer is live.
  *
  * == Atomic break (round-11 fix) ==
  *
  * Breaking an expired lease first CLAIMS a TOMBSTONE whose name is
  * derived from the observed lease CONTENT (owner + timestamps + a
  * per-acquisition nonce, so it names that lease INSTANCE): the claim
  * is an atomic create-no-overwrite, so exactly one contender per
  * instance wins it, and only the claim winner may delete the expired
  * file and create its own. The tombstone is RETAINED: a laggard whose
  * staleness evidence is the consumed instance finds its tombstone
  * occupied and fails, instead of destroying the winner's FRESH lease
  * — the delete-then-create reclaim this replaces let two contenders
  * that both observed the same stale lease interleave so that BOTH
  * believed they held it (the exact double-writer scenario the lease
  * exists to prevent, and one that, unlike the create window, also
  * existed on HDFS-like stores; an intermediate rename-to-tombstone
  * design failed the two-contender stress spec on the local FS, whose
  * rename clobbers an existing destination). Every exclusive create —
  * lease and tombstone alike — goes through NIO `CREATE_NEW`
  * (O_CREAT|O_EXCL, atomic on POSIX) when the store is the local FS,
  * which also closes the historically-accepted local exists+create
  * window; HDFS-like stores use their already-atomic
  * `create(overwrite=false)`. Tombstones older than the default TTL
  * are garbage-collected by the next break ATTEMPT (before its claim):
  * by then the lease the tombstone's instance was broken for has
  * itself aged past the TTL — and a breaker that crashed between claim
  * and create therefore blocks successors only until its tombstone
  * lapses, the same wait its own crashed LEASE would have imposed. An
  * UNREADABLE lease is never treated as stale: the read is retried
  * once (a transient error must not break a live holder), a lease that
  * VANISHED between create-attempt and read means the holder released
  * (acquisition retries the create), and one that stays
  * unreadable-but-present fails the acquire loudly.
  *
  * Acquisition is NOT reentrant, and that is enforced: a nested
  * acquire of a path this process already holds throws immediately
  * instead of riding the same-owner reclaim (which would let the inner
  * `finally` release the lease out from under the still-running outer
  * section).
  *
  * The lease file lives OUTSIDE the renamed trees (a sibling `.lease`
  * for GraphArtifact, whose live dir itself is swapped; a `_writer.
  * lease` inside the state dir for AnnIndex/Compact, whose roots are
  * stable), so no crash-recovery rename can move the lock out from
  * under its holder. Released in `finally` — an in-process failure
  * (including the crash-injection failpoints) releases immediately;
  * only a process death leaves the lease for TTL reclamation.
  *
  * == Nonce-matched release (round-12 fix, round-13 tightening) ==
  *
  * Release is as guarded as acquisition: [[acquire]] returns its
  * per-acquisition nonce and [[release]] removes the lease file ONLY
  * when its content still carries that nonce. A holder that stalls
  * past its TTL while still alive (long GC pause, suspended VM) can
  * have its lease legitimately broken; under the old unconditional
  * delete its late `finally` release destroyed the breaker's FRESH
  * lease and admitted a third writer. Since round 13 the match is
  * claim-by-rename rather than read-then-delete: the instance is
  * atomically renamed to a nonce-derived scratch path, inspected
  * there, and either dropped (ours) or restored via exclusive create
  * (not ours — yielding to any lease acquired during the inspection
  * window). The residual double-writer window is a few filesystem ops
  * wide and documented at the method. Cross-process cleanup is a
  * separate, deliberately-named [[forceRelease]].
  */
object WriterLease {

  /** Default time after which a dead holder's lease may be broken. */
  val DefaultTtlMs: Long = 10 * 60 * 1000L

  /** Stable for the calling thread (pid@host#tid), distinct across
    * processes AND across threads of one JVM — two in-process writers
    * fence each other too. Reclaim-by-same-owner is only ever needed
    * after a PROCESS death (in-process failures release the lease in
    * `finally`), where the retry comes from a fresh process and waits
    * out the TTL like any other contender. */
  def processOwner: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
      "#" + Thread.currentThread().getId

  /** One acquisition's identity: the owner string plus the
    * per-acquisition nonce written into the lease file — the nonce is
    * what [[release]] matches against the file before deleting, so a
    * release can only ever delete the lease instance its own acquire
    * created. */
  private final case class Held(owner: String, nonce: String)

  /** Leases held by THIS process (lease path → acquisition), so a
    * nested acquire on a held path fails fast instead of silently
    * reclaiming itself and letting the inner release unlock the outer
    * section — and so [[release]] knows which INSTANCE it may delete. */
  private val heldInProcess =
    new java.util.concurrent.ConcurrentHashMap[String, Held]()

  /** Atomic create-no-overwrite of a small file, the primitive every
    * exclusive claim here rests on. HDFS-like stores: the Hadoop
    * `create(overwrite=false)` is atomic. The LOCAL store's is
    * check-then-create, so `file://` routes through NIO `CREATE_NEW`
    * (O_CREAT|O_EXCL — atomic on POSIX); the two-stale-contenders
    * stress spec demonstrably hits the Hadoop-local window without
    * this. */
  private def createExclusive(fs: FileSystem, path: Path,
                              content: Array[Byte]): Boolean =
    if ("file" == fs.getUri.getScheme) {
      val p = java.nio.file.Paths.get(path.toUri.getPath)
      def attempt(): Boolean =
        try {
          java.nio.file.Files.write(p, content,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      try attempt()
      catch { case _: java.nio.file.NoSuchFileException =>
        // fs.create would have made the parent dirs; NIO does not
        java.nio.file.Files.createDirectories(p.getParent)
        try attempt() catch { case _: java.io.IOException => false }
      }
    } else
      try {
        val out = fs.create(path, false)
        try out.write(content) finally out.close()
        true
      } catch { case _: java.io.IOException => false }

  private def tryCreate(fs: FileSystem, path: Path, owner: String,
                        ttlMs: Long): Option[String] = {
    val nonce = java.util.UUID.randomUUID().toString
    val created = createExclusive(fs, path,
      (s"""{"owner":"$owner","acquired_ms":${System.currentTimeMillis()},""" +
        s""""ttl_ms":$ttlMs,"nonce":"$nonce"}""")
        .getBytes("UTF-8"))
    if (created) {
      heldInProcess.put(path.toString, Held(owner, nonce))
      Some(nonce)
    } else None
  }

  /** The tombstone naming a lease INSTANCE: md5 of the raw content
    * (instance-unique through the nonce), so every contender holding
    * the same staleness evidence computes the SAME name — and only the
    * first rename to it can succeed. */
  private def tombstoneOf(path: Path, rawContent: String): Path = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(rawContent.getBytes("UTF-8"))
    new Path(path.getParent,
      path.getName + ".tomb." + md.map("%02x".format(_)).mkString)
  }

  private def parseLease(raw: String): (String, Boolean) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw)
    val acq = node.path("acquired_ms").asLong(0L)
    val ttl = node.path("ttl_ms").asLong(DefaultTtlMs)
    (node.path("owner").asText(""),
      System.currentTimeMillis() - acq > ttl)
  }

  private def parseNonce(raw: String): Option[String] =
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(raw).path("nonce").asText("")
      if (n.isEmpty) None else Some(n)
    } catch { case _: java.io.IOException => None }

  /** Acquire the lease at `path` or throw; returns the acquisition
    * NONCE, which [[release]] matches against the live file so a
    * holder can only ever delete its own lease instance. See object
    * doc for the reclaim rules. */
  def acquire(fs: FileSystem, path: Path, owner: String = processOwner,
              ttlMs: Long = DefaultTtlMs): String = {
    val held = heldInProcess.get(path.toString)
    if (held != null && owner == held.owner)
      throw new IllegalStateException(
        s"nested writer-lease acquire at $path by its own holder '$owner' — " +
          "withLease is not reentrant (the inner release would unlock the " +
          "still-running outer section); restructure the caller so leased " +
          "entry points do not call each other on the same state dir")
    tryCreate(fs, path, owner, ttlMs) match {
      case Some(n) => return n
      case None => ()
    }
    // held: readable content decides reclaim. A transient read failure
    // must NOT break a live holder's lease — retry once; a lease that
    // VANISHED (holder released between our create and read) retries the
    // create; unreadable-but-present fails loudly.
    val raw =
      try Some(readFully(fs, path))
      catch { case _: java.io.IOException =>
        try Some(readFully(fs, path))
        catch { case _: java.io.IOException => None }
      }
    def unreadable(): Nothing = throw new IllegalStateException(
      s"writer lease at $path exists but is unreadable — refusing to " +
        "treat it as stale (that would break a live holder); inspect " +
        "and delete the file manually if it is corrupt")
    val (holder, stale) = raw match {
      case Some("") => ("", false) // a contender's create is mid-write: held
      case Some(r) =>
        try parseLease(r)
        catch { case _: java.io.IOException => unreadable() } // corrupt JSON
      case None =>
        if (!fs.exists(path)) {
          tryCreate(fs, path, owner, ttlMs) match {
            case Some(n) => return n
            case None => ()
          }
          ("", false) // re-held by someone else in the window
        } else unreadable()
    }
    if (holder == owner || stale) {
      // GC lapsed tombstones BEFORE claiming (not after winning): a
      // breaker that crashed between claim and create must not block
      // successors beyond its tombstone's TTL — with GC gated on
      // winning, nobody could ever win again
      gcTombstones(fs, path)
      // one break per lease instance: the tombstone CLAIM (atomic
      // create-no-overwrite, instance-named) admits exactly one
      // breaker; an occupied tombstone means this evidence was already
      // consumed — whatever sits at `path` now is the claim winner's
      // FRESH lease, which must not be touched
      val tomb = tombstoneOf(path, raw.get)
      if (createExclusive(fs, tomb, raw.get.getBytes("UTF-8"))) {
        fs.delete(path, false) // the consumed expired instance
        tryCreate(fs, path, owner, ttlMs) match {
          case Some(n) => return n
          case None => ()
          // a fresh contender slipped into the delete→create gap and
          // acquired legitimately (the lease was absent) — we lost
        }
      }
      // a claim LOSER throws (below) rather than retrying the create:
      // the winner's delete may still be in flight, and a create that
      // raced it could be destroyed by it — the loser's retry comes
      // from its caller, against a then-fresh lease
    }
    throw new IllegalStateException(
      s"writer lease at $path is held by '$holder' — the artifact is " +
        "single-writer: two concurrent mutations would interleave " +
        "renames undetected. Retry after the holder finishes (or after " +
        "its TTL if it crashed).")
  }

  /** Drop tombstones old enough that their consumed instance's
    * SUCCESSOR lease has itself aged past the default TTL — evidence
    * that old may legitimately break the current lease anyway, so the
    * fence they provided has lapsed. Run only by a break winner (the
    * one moment a contender provably owns the transition). */
  private def gcTombstones(fs: FileSystem, path: Path): Unit =
    try {
      val cutoff = System.currentTimeMillis() - DefaultTtlMs
      fs.listStatus(path.getParent)
        .filter(st => st.isFile &&
          (st.getPath.getName.startsWith(path.getName + ".tomb.") ||
            // a release that died between its rename-claim and the
            // drop/restore leaves its scratch instance behind; past
            // the TTL it is garbage by the same argument as a lapsed
            // tombstone (the lease it came from is breakable anyway)
            st.getPath.getName.startsWith(path.getName + ".rel.")) &&
          st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, false))
    } catch { case _: java.io.IOException => () } // best-effort housekeeping

  /** Release this process's most recent acquisition of `path`
    * (delegates to the nonce form using the in-process record).
    *
    * DELIBERATE NO-OP when this process holds no record for `path` —
    * this form releases OWN acquisitions only. Until round 12 it
    * deleted unconditionally, and out-of-band callers (ops tooling
    * clearing a stuck lease from another process) may have relied on
    * that; they now do nothing here and must call [[forceRelease]],
    * whose doc states the hazard they are accepting (round-12 ADVICE:
    * the silent behavior change needed a named, documented
    * destination). */
  def release(fs: FileSystem, path: Path): Unit = {
    val held = heldInProcess.get(path.toString)
    if (held != null) release(fs, path, held.nonce)
  }

  /** Cross-process CLEANUP: delete the lease at `path` regardless of
    * owner or nonce — for ops tooling clearing a lease whose holder is
    * known dead when waiting out the TTL is not an option. This is the
    * unconditional delete [[release]] used to be, under its true name:
    * it carries none of the lease's fencing guarantees, and running it
    * while the holder is actually ALIVE re-opens the double-writer
    * door the lease exists to close. Prefer the TTL break (just call
    * the operator again after `ttl_ms`); reach for this only with the
    * holder provably gone. */
  def forceRelease(fs: FileSystem, path: Path): Unit = {
    fs.delete(path, false)
    heldInProcess.remove(path.toString)
    ()
  }

  /** Release ONE acquisition, named by the nonce [[acquire]] returned:
    * the lease file is deleted only when its live content still carries
    * that nonce. Unconditional delete (what this replaces) re-opened
    * the double-writer door one hop removed from the reclaim race: a
    * holder that stalls past its TTL while still ALIVE (long GC pause,
    * suspended VM) can have its lease legitimately broken, and its
    * `finally` release would then delete the BREAKER's fresh lease,
    * letting a third writer acquire against a live second. With the
    * nonce match the stalled holder's late release is a no-op — the
    * breaker's instance survives and keeps fencing. A lease that
    * vanished, or whose read stays failing after one retry, is left
    * alone (deleting on uncertain evidence is exactly the hazard; an
    * orphaned own-lease then self-heals through the TTL break). The
    * in-process record is cleared only when it names this same
    * acquisition, so a breaker in the SAME process keeps its
    * nested-acquire fence. */
  def release(fs: FileSystem, path: Path, nonce: String): Unit = {
    // Read, THEN claim-by-rename, then re-verify (round-14 tightening
    // of the round-13 rename-first form): renaming the live file to a
    // nonce-derived scratch path atomically claims THAT instance, so
    // the nonce match and the removal act on the same bytes. The form
    // this replaces could read its own still-valid nonce, stall across
    // a TTL break, and then delete the BREAKER's fresh lease — the
    // decision and the delete were separated by unbounded time.
    //
    // The PRELIMINARY read gates the rename: a stale holder whose
    // lease was already broken sees a foreign nonce and returns
    // without touching the filesystem at all — the round-13 form
    // renamed EVERY live instance away for inspection, so every late
    // release by a stale holder briefly removed the breaker's valid
    // fresh lease, and a contender acquiring in that absence window
    // left the breaker unfenced (round-13 ADVICE). Now the only way a
    // foreign instance gets renamed is the instant where the content
    // changed BETWEEN the preliminary match and the rename (a TTL
    // break racing milliseconds of this release) — and the post-rename
    // re-verification then restores it via EXCLUSIVE create (never a
    // clobbering rename): if a contender acquired during the
    // inspection window, the restore yields and the contender's lease
    // keeps fencing — the restored-over instance belonged to a holder
    // already stalled past its TTL.
    //
    // RESIDUAL RACE, narrowed but still documented: between the
    // rename-away and the restore the path is briefly ABSENT, so a
    // fresh contender can acquire inside that window. Reaching it now
    // requires a TTL break to land inside the microseconds between
    // the preliminary read (which matched OUR nonce) and the rename —
    // versus the round-13 exposure on EVERY stale release and the
    // round-12 unbounded read→delete gap. A release that crashes
    // between rename and restore likewise drops the in-flight
    // instance (path absent → the next acquire is fresh); that
    // exposure is the same process-death-mid-release shape the old
    // form had.
    val pre =
      try Some(readFully(fs, path))
      catch { case _: java.io.IOException =>
        try Some(readFully(fs, path))
        catch { case _: java.io.IOException => None }
      }
    if (!pre.flatMap(parseNonce).contains(nonce)) {
      // foreign, vanished, or unreadable instance: not ours to touch —
      // clear only our own in-process record and leave the live lease
      // (if any) fencing; an orphaned own-lease self-heals via TTL
      heldInProcess.computeIfPresent(path.toString,
        (_, h) => if (h.nonce == nonce) null else h)
      return
    }
    val scratch = new Path(path.getParent, path.getName + ".rel." +
      java.security.MessageDigest.getInstance("MD5")
        .digest(nonce.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    val renamed =
      try fs.rename(path, scratch)
      catch { case _: java.io.IOException => false }
    if (renamed) {
      val content =
        try Some(readFully(fs, scratch))
        catch { case _: java.io.IOException =>
          try Some(readFully(fs, scratch))
          catch { case _: java.io.IOException => None }
        }
      if (content.flatMap(parseNonce).contains(nonce)) {
        // our own instance: the release completes by dropping it
        try fs.delete(scratch, false)
        catch { case _: java.io.IOException => () }
      } else
        try {
          content match {
            case Some(c) =>
              // someone else's live instance: put it back without
              // clobbering whatever may have been created meanwhile;
              // either way the path ends fenced, so drop the scratch
              createExclusive(fs, path, c.getBytes("UTF-8"))
              fs.delete(scratch, false)
              ()
            case None =>
              // claimed but unreadable (pathological store state): if
              // nothing re-acquired, restore the original bytes by
              // rename; if something did, its fresh lease fences and
              // the superseded instance is dropped
              if (!fs.exists(path)) fs.rename(scratch, path)
              else fs.delete(scratch, false)
              ()
          }
        } catch { case _: java.io.IOException => () }
    }
    heldInProcess.computeIfPresent(path.toString,
      (_, h) => if (h.nonce == nonce) null else h)
    ()
  }

  /** Run `body` under the lease, releasing THAT acquisition (by nonce)
    * on every in-process exit. */
  def withLease[T](fs: FileSystem, path: Path, owner: String = processOwner,
                   ttlMs: Long = DefaultTtlMs)(body: => T): T = {
    val nonce = acquire(fs, path, owner, ttlMs)
    try body finally release(fs, path, nonce)
  }

  private def readFully(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
