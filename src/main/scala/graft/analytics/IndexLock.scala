package graft.analytics

import org.apache.spark.sql.SparkSession

/** Single-writer contract for the persisted indexes ([[PqIndex]],
  * [[SearchIndex]], [[DedupIndex]], [[CdcIndex]], [[BloomIndex]]).
  *
  * Why: every index mutation is MULTI-FILE (codes + centroids, postings +
  * df + stats, bands + shingles, chunks + meta, bloom.bin + shingles), and
  * two writers interleaving those writes can leave a silently-torn index —
  * e.g. two racing [[BloomIndex.append]]s both read the same base
  * `bloom.bin`, each ORs in only its own delta, and the second write DROPS
  * the first's bits while both shingle appends land: the filter now
  * under-screens with no error anywhere. Real ingest pipelines retry, so the race is not
  * hypothetical; the contract is that a concurrent mutation FAILS LOUDLY
  * instead of corrupting.
  *
  * Mechanism: an atomic create of `<dir>/_lock` (POSIX O_CREAT|O_EXCL via
  * NIO for local/file: paths; Hadoop `create(p, overwrite=false)` — atomic
  * on HDFS — otherwise). The loser of a race gets
  * [[IndexLock.ConcurrentWriterException]] naming the current holder and
  * the index is untouched. The lock is released in a `finally`, so a body
  * that throws cannot leak it. On object stores without atomic
  * create-if-absent, swap `acquire` for the store's conditional-put
  * primitive; the index code is unchanged.
  *
  * Stale-lock reclaim: a lock orphaned by a CRASHED holder is reclaimed
  * automatically instead of requiring an operator to delete it by hand.
  *   - Local: exclusivity IS liveness — the lock is an OS advisory file
  *     lock (`FileChannel.tryLock` on `_lock`), which the kernel releases
  *     the instant the holding process dies, so a crashed holder's lock is
  *     acquirable with no reclaim protocol at all (atomic by construction —
  *     there is no read-check-delete window for racing reclaimers to
  *     exploit; an earlier rename-quarantine design had exactly that ABA
  *     hole and its spec caught two concurrent holders). The file content
  *     (pid/thread/time) is diagnostics only. Same-JVM contenders are
  *     refused via the JVM-wide overlapping-lock check plus a held-locks
  *     registry. Assumes a local POSIX filesystem (advisory locks on NFS
  *     are unreliable — use the remote/lease path there).
  *   - Remote: no cross-host liveness oracle exists, so the lock carries a
  *     lease: a contender may reclaim only when the lock file's
  *     modification time is older than `leaseTtlMs` (long-running holders
  *     should `refresh` periodically). Delete-then-create is not atomic on
  *     HDFS, so reclaim re-checks the mtime immediately before the delete
  *     and the subsequent create is still create-if-absent — of N racing
  *     reclaimers at most one create wins; the rest fail loudly. On object
  *     stores, replace this with the store's conditional delete/put.
  *
  * Readers never take the lock. For the APPEND paths this is safe by
  * layout: appends add parquet parts (or swap a single file whole), so a
  * reader concurrent with one serialized appender sees a consistent pre-
  * or post-state. A REBUILD (`build` with mode("overwrite")) deletes and
  * rewrites directories in place, so a reader overlapping a rebuild can
  * observe missing or partial parts — rebuilds need downtime or a
  * build-into-new-dir + swap at the caller.
  */
object IndexLock {

  val LockFile = "_lock"

  /** Default remote lease: a lock untouched for this long may be reclaimed. */
  val DefaultLeaseTtlMs: Long = 30L * 60 * 1000

  final class ConcurrentWriterException(dir: String, holder: String)
    extends RuntimeException(
      s"index at $dir has a concurrent writer ($dir/$LockFile held by " +
        s"$holder); writes are single-writer — retry after it finishes (a " +
        s"lock left by a crashed local pid or an expired remote lease is " +
        s"reclaimed automatically on the next acquire)")

  private def isLocal(dir: String): Boolean =
    !dir.contains(":/") || dir.startsWith("file:")

  private def localPath(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(
      if (dir.startsWith("file:")) new java.net.URI(dir).getPath else dir)

  private def ownerString(): String =
    s"pid=${ProcessHandle.current().pid()} " +
      s"thread=${Thread.currentThread().getName} " +
      s"at=${java.time.Instant.ofEpochMilli(System.currentTimeMillis())}"

  /** Held local locks: canonical lock path → (channel, OS lock). The OS
    * lock enforces cross-process exclusion; this registry backs release and
    * (with the JVM's overlapping-lock check) same-process exclusion. */
  private val heldLocal =
    new java.util.concurrent.ConcurrentHashMap[
      String, (java.nio.channels.FileChannel, java.nio.channels.FileLock)]()

  /** Acquire or throw [[ConcurrentWriterException]]. Never blocks; a stale
    * lock (dead local holder / expired remote lease) is reclaimed in-line. */
  def acquire(spark: SparkSession, dir: String,
              leaseTtlMs: Long = DefaultLeaseTtlMs): Unit =
    if (isLocal(dir)) acquireLocal(dir) else acquireRemote(spark, dir, leaseTtlMs)

  private def acquireLocal(dir: String): Unit = {
    import java.nio.file.{Files, StandardOpenOption}
    val p = localPath(dir)
    Files.createDirectories(p)
    val lockPath = p.resolve(LockFile)
    val key = lockPath.toAbsolutePath.toString
    val ch = java.nio.channels.FileChannel.open(lockPath,
      StandardOpenOption.CREATE, StandardOpenOption.READ, StandardOpenOption.WRITE)
    val osLock =
      try ch.tryLock()
      catch { case _: java.nio.channels.OverlappingFileLockException => null }
    if (osLock == null) {
      // held by another process (kernel) or another thread of this JVM —
      // read the diagnostics the holder wrote, then fail loudly
      val holder = try {
        val buf = java.nio.ByteBuffer.allocate(512)
        val n = ch.read(buf, 0L)
        if (n <= 0) "<unknown>" else new String(buf.array(), 0, n, "UTF-8")
      } catch { case _: java.io.IOException => "<unreadable>" }
      ch.close()
      throw new ConcurrentWriterException(dir, holder)
    }
    // we hold it: record diagnostics (a dead holder's stale content is
    // simply overwritten — the kernel already released its lock)
    val owner = java.nio.ByteBuffer.wrap(ownerString().getBytes("UTF-8"))
    ch.truncate(0L)
    while (owner.hasRemaining) ch.write(owner)
    ch.force(false)
    if (heldLocal.putIfAbsent(key, (ch, osLock)) != null) {
      // registry raced (should be impossible: the OS lock is JVM-wide
      // exclusive) — back out rather than leak a channel
      osLock.release(); ch.close()
      throw new ConcurrentWriterException(dir, "<same-process holder>")
    }
  }

  private def acquireRemote(spark: SparkSession, dir: String, leaseTtlMs: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$LockFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(p, false)
        try out.write(ownerString().getBytes("UTF-8")) finally out.close()
        true
      } catch {
        // ONLY the already-exists signal means "concurrent writer"; any
        // other IOException (network, quota, perms) propagates untranslated
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    if (tryCreate()) return
    val st = try Some(fs.getFileStatus(p)) catch {
      case _: java.io.FileNotFoundException => None // holder just released
    }
    val expired = st.forall(s =>
      System.currentTimeMillis() - s.getModificationTime > leaseTtlMs)
    if (!expired)
      throw new ConcurrentWriterException(dir, s"<remote holder, lease live>")
    // lease expired: re-check mtime right before the delete (narrows, does
    // not close, the non-atomic window — conditional ops on the store close it)
    st.foreach { s =>
      val cur = try Some(fs.getFileStatus(p)) catch {
        case _: java.io.FileNotFoundException => None
      }
      if (cur.exists(_.getModificationTime == s.getModificationTime))
        fs.delete(p, false): Unit
    }
    if (!tryCreate())
      throw new ConcurrentWriterException(dir, "<remote holder>")
  }

  /** Refresh a held remote lease (bump the lock file's mtime) — call
    * periodically from long-running holders so contenders never see the
    * lease expire. No-op for local locks (pid liveness needs no refresh). */
  def refresh(spark: SparkSession, dir: String): Unit =
    if (!isLocal(dir)) {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$LockFile")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.setTimes(p, System.currentTimeMillis(), -1)
    }

  def release(spark: SparkSession, dir: String): Unit =
    if (isLocal(dir)) {
      val lockPath = localPath(dir).resolve(LockFile)
      val held = heldLocal.remove(lockPath.toAbsolutePath.toString)
      // delete-before-close: the OS lock pins the old inode until close, so
      // a contender that opens the path after the delete gets a FRESH inode
      // and may lock it immediately — by then our critical section is over
      java.nio.file.Files.deleteIfExists(lockPath): Unit
      if (held != null) {
        val (ch, osLock) = held
        try osLock.release() finally ch.close()
      }
    } else {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$LockFile")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false): Unit
    }

  /** Run `body` holding the index write lock; release on any exit. */
  def withLock[T](spark: SparkSession, dir: String)(body: => T): T = {
    acquire(spark, dir)
    try body finally release(spark, dir)
  }
}
