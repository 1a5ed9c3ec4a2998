package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}

/** Lease-file mutual exclusion for maintenance roots on filesystems
  * WITHOUT POSIX locks (HDFS / S3A / any Hadoop `FileSystem`), so a
  * multi-writer topology stops being forced into the single-writer
  * acknowledgment (VERDICT r18 missing #5). The protocol is the
  * standard cloud lease (create-if-absent + owner token + TTL +
  * renewal):
  *
  *  - ACQUIRE: `fs.create(path, overwrite = false)` — the atomic
  *    claim point on every Hadoop filesystem — writing
  *    `owner\nexpiryMs`. An existing unexpired lease by another owner
  *    fails the acquire; one by THIS owner renews (re-entrant).
  *  - RENEW: the current owner rewrites its expiry in place
  *    (overwrite = true — only the owner renews an unexpired lease,
  *    which is what makes the non-atomic rewrite safe).
  *  - EXPIRE + STEAL: a lease whose expiry has passed is dead state
  *    from a crashed holder; a stealer deletes it and re-races on
  *    create-if-absent — of N concurrent stealers exactly one create
  *    succeeds.
  *  - RELEASE: the owner deletes its own lease (never another's, and
  *    only while still unexpired — an expired lease is steal-able
  *    garbage whose deletion could race a stealer's fresh create).
  *
  * Known window, documented: between a stealer's `delete` and its
  * `create`, a SECOND stealer can also delete — both then race the
  * create and one wins; the loser retries. On stores with
  * read-after-delete lag (pre-strong-consistency S3) the TTL must
  * dominate the lag. Clock is injectable so LeaseSpec pins
  * acquire/renew/expire/steal semantics against a mocked time source
  * on a real Hadoop FileSystem.
  */
object Lease {

  /** This JVM's lease owner identity: random 64 bits + pid — unique
    * across processes and across restarts of one host.
    */
  lazy val jvmOwner: String =
    java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()) +
      "@" + ProcessHandle.current().pid()

  /** Sentinel returned when the lease file cannot be read because of a
    * TRANSIENT store failure (S3A throttling/5xx, HDFS DN timeout):
    * an unknown owner with an expiry that never passes, so callers
    * treat it as a live lease held by someone else — acquire keeps
    * polling and a renewer keeps retrying, instead of the IOException
    * aborting the whole withLease loop the polling was built to ride
    * out.
    */
  private[graft] val Unreadable: (String, Long) = ("<unreadable>", Long.MaxValue)

  /** What [[read]] returns for a torn file: an expired corpse. */
  private[graft] val Torn: (String, Long) = ("", Long.MinValue)

  /** Pause before a torn stamp is re-read: a rewrite in flight (create
    * truncates, then writes) finishes well inside it.
    */
  private val TornRereadMs = 20L

  /** The (owner, expiryMs) of a lease file: None iff the file is
    * ABSENT. A file that exists but is torn — empty (a crash between
    * create and write), missing its expiry line, or unparsable — reads
    * as an already-EXPIRED corpse (owner "", expiry MIN): create-if-
    * absent will keep failing against it forever, so it must be
    * steal-able, never invisible (a None for an existing file would
    * permanently lock out every writer). A transient IOException (NOT
    * file-not-found) is retried once, then surfaced as [[Unreadable]]
    * — a live lease by an unknown owner — so one store blip makes the
    * caller poll again rather than fail a maintenance op.
    */
  def read(fs: FileSystem, path: Path): Option[(String, Long)] =
    try readOnce(fs, path)
    catch {
      case _: java.io.IOException =>
        try readOnce(fs, path)
        catch {
          case e: java.io.IOException =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"lease $path unreadable after retry (${e.getMessage}); " +
                "treating as live-by-unknown until the store recovers")
            Some(Unreadable)
        }
    }

  private def readOnce(fs: FileSystem, path: Path): Option[(String, Long)] =
    try {
      val in = fs.open(path)
      val bytes = try in.readAllBytes() finally in.close()
      new String(bytes, "UTF-8").split("\n", 3) match {
        case Array(o, e, _*) if o.nonEmpty && e.trim.nonEmpty =>
          Some((o, e.trim.toLong))
        case _ => Some(Torn)
      }
    } catch {
      case _: java.io.FileNotFoundException => None
      case _: NumberFormatException => Some(Torn)
    }

  /** [[read]], except that a torn stamp is read once more after
    * [[TornRereadMs]]: a live lease being rewritten reads as an empty
    * file for a moment. A torn stamp that persists is a corpse. The
    * pause throws InterruptedException to an interrupted caller.
    */
  private def readPastRewrite(fs: FileSystem, path: Path): Option[(String, Long)] =
    read(fs, path) match {
      case Some(Torn) =>
        Thread.sleep(TornRereadMs)
        read(fs, path)
      case r => r
    }

  private def write(
      fs: FileSystem, path: Path, owner: String, expiry: Long,
      overwrite: Boolean): Boolean =
    try {
      val out = fs.create(path, overwrite)
      try out.write(s"$owner\n$expiry\n".getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  /** Guard interval a stealer waits between winning the create race and
    * confirming ownership (see the steal note below). Injectable so the
    * spec's mocked-clock tests don't sleep.
    */
  private[graft] def stealConfirmMs: Long =
    sys.props.get("graft.lease.steal.confirm.ms").map(_.toLong).getOrElse(200L)

  /** One acquire attempt; true iff this owner now holds the lease.
    *
    * STEAL is the protocol's one non-atomic composite (delete the
    * expired corpse, re-race create-if-absent): two stealers can
    * interleave so that B's delete lands on A's FRESH lease. The
    * confirm step closes that to a narrow window — after winning the
    * create, wait [[stealConfirmMs]] and re-read: a concurrent
    * stealer's delete+create inside the guard changes the owner and
    * the re-read returns false (the loser backs off and retries
    * against a now-LIVE lease). The residual window is a stealer
    * suspended longer than the guard between its expiry read and its
    * delete — closing it fully needs a conditional-put/etag primitive
    * the generic FileSystem API does not expose; size the TTL and
    * guard to dominate pause times on the deployment's store.
    */
  def acquire(
      fs: FileSystem, path: Path, owner: String, ttlMs: Long,
      now: () => Long = () => System.currentTimeMillis()): Boolean =
    if (write(fs, path, owner, now() + ttlMs, overwrite = false)) true
    else readPastRewrite(fs, path) match {
      case Some((o, _)) if o == owner =>
        renew(fs, path, owner, ttlMs, now) // re-entrant acquire = renew
      case Some((_, exp)) if exp < now() =>
        // expired: steal — delete the corpse, re-race the atomic
        // create, then CONFIRM ownership past the guard interval
        fs.delete(path, false)
        if (!write(fs, path, owner, now() + ttlMs, overwrite = false)) false
        else {
          Thread.sleep(stealConfirmMs)
          // confirm ownership past the guard, then RE-STAMP the expiry
          // (the pre-sleep stamp burned the guard interval off the TTL).
          // A failed re-stamp is an UNCONFIRMED steal: returning true on
          // the stale stamp would silently shorten the effective TTL by
          // the guard, so the caller retries — the re-entrant path
          // (owner already matches) renews on the next attempt.
          read(fs, path).exists(_._1 == owner) &&
            renew(fs, path, owner, ttlMs, now)
        }
      case Some(_) => false // live lease by another owner
      case None => // holder released between our create and read
        write(fs, path, owner, now() + ttlMs, overwrite = false)
    }

  /** Extend this owner's lease; false (no write) if it no longer holds. */
  def renew(
      fs: FileSystem, path: Path, owner: String, ttlMs: Long,
      now: () => Long = () => System.currentTimeMillis()): Boolean =
    read(fs, path) match {
      case Some((o, _)) if o == owner =>
        write(fs, path, owner, now() + ttlMs, overwrite = true)
      case _ => false
    }

  /** Delete this owner's lease (never another's) — and only while it is
    * still UNEXPIRED. An expired lease of ours is steal-able garbage: a
    * stealer may acquire between our read (owner still matches) and our
    * delete, and the delete would then kill the stealer's LIVE lease —
    * the read-then-delete dual-writer window. Skipping the delete on an
    * expired lease buys nothing lost (any writer steals the corpse) and
    * closes that window to the one remaining race: a lease that expires
    * AND is stolen inside the read→delete gap itself — which the TTL
    * sizing rule (TTL ≫ op latency + pause times) makes vanishing,
    * where the expired-delete window it replaces was open for the whole
    * post-expiry epoch.
    */
  def release(
      fs: FileSystem, path: Path, owner: String,
      now: () => Long = () => System.currentTimeMillis()): Unit =
    read(fs, path) match {
      case Some((o, exp)) if o == owner && exp >= now() =>
        fs.delete(path, false); ()
      case _ => () // not ours, or ours-but-expired (steal-able garbage)
    }

  /** After a failed renew: is the lease genuinely lost? renew()==false is
    * AMBIGUOUS — genuine loss (another owner holds it, or the file is
    * gone) vs a transient store blip (the read surfaced Unreadable, the
    * overwrite itself threw, or the read caught a rewrite between its
    * truncate and its write). Re-read to distinguish: a false-positive
    * loss would tell the operator a fully-successful maintenance op
    * raced a second writer, on the strength of one 5xx or one torn read.
    */
  private[graft] def renewLost(
      fs: FileSystem, path: Path, owner: String, ttlMs: Long,
      now: () => Long): Boolean = {
    val stamp =
      try readPastRewrite(fs, path)
      catch { case _: InterruptedException => return false } // stopping
    stamp match {
      case Some((o, exp)) if o == owner =>
        // still ours: the renew WRITE blipped. Retry the re-stamp once;
        // even if that fails, the lease is lost only when the on-disk
        // stamp has ALREADY expired (steal-able now).
        !write(fs, path, owner, now() + ttlMs, overwrite = true) && exp < now()
      case Some((o, _)) if o == Unreadable._1 =>
        false // store unreadable: transient — retry next cycle
      case _ =>
        true // another owner, absent, or torn: stolen after an expiry
    }
  }

  /** Blocking acquire (the flock semantics maintenance callers expect:
    * the op should WAIT, not error), a renewal daemon at ttl/3 while
    * `body` runs, release after. `acquireTimeoutMs` bounds the wait
    * loudly — an unreachable store must not hang a maintenance thread
    * forever with no diagnosis.
    */
  def withLease[T](
      fs: FileSystem, path: Path, owner: String, ttlMs: Long,
      now: () => Long = () => System.currentTimeMillis(),
      pollMs: Long = 200L,
      acquireTimeoutMs: Long = 10L * 60 * 1000)(body: => T): T = {
    require(ttlMs > 0, "lease ttl must be positive")
    val deadline = now() + acquireTimeoutMs
    while (!acquire(fs, path, owner, ttlMs, now)) {
      if (now() >= deadline)
        throw new java.io.IOException(
          s"lease $path not acquired within ${acquireTimeoutMs} ms " +
            s"(held by ${read(fs, path).map(_._1).getOrElse("?")})")
      Thread.sleep(pollMs)
    }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    val renewer = new Thread(() => {
      while (!stop.get()) {
        try Thread.sleep(math.max(1L, ttlMs / 3))
        catch { case _: InterruptedException => stop.set(true) }
        if (!stop.get() && !renew(fs, path, owner, ttlMs, now) &&
            renewLost(fs, path, owner, ttlMs, now)) {
          // another writer may be mutating the root NOW. A daemon
          // cannot safely abort an arbitrary body mid-step; record the
          // loss so withLease FAILS LOUD after the body instead of
          // reporting a success that may have raced a second writer
          lost.set(true)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"lease $path lost by $owner during maintenance — another " +
              "writer may have stolen an expired lease; verify TTL vs " +
              "maintenance duration")
        }
      }
    }, "graft-lease-renewer")
    renewer.setDaemon(true)
    renewer.start()
    def lostEx() = new java.io.IOException(
      s"lease $path was LOST mid-maintenance (owner $owner): a second " +
        "writer may have run concurrently — verify the root's state " +
        "(recoverFlush) and re-run; raise GRAFT_IVF_LEASE_TTL_MS above " +
        "the op duration + store pause times")
    val r =
      try body
      catch {
        case t: Throwable =>
          // the body failed on its own; if the lease was ALSO lost, the
          // concurrent-writer fact must ride the propagating exception
          // (a WARN log alone makes a raced root undiagnosable from the
          // failure the operator actually sees)
          if (lost.get()) t.addSuppressed(lostEx())
          throw t
      }
      finally {
        stop.set(true)
        renewer.interrupt()
        release(fs, path, owner, now)
      }
    if (lost.get()) throw lostEx()
    r
  }
}
