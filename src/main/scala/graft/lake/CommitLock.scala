package graft.lake

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** Serializes snapshot manifest publishes on filesystems that lack an
  * atomic create-if-absent primitive (s3a/gs/abfs...). The snapshot
  * commit protocol is a CAS on the version file — local FS and HDFS
  * give us that natively, object stores do not, so two writers could
  * both "win" the same version and silently drop a commit. A
  * registered provider (see [[SnapshotTable.setLockProvider]]) wraps
  * the check-and-publish step in an exclusive critical section,
  * restoring the CAS — the same role Delta's LogStore + DynamoDB lock
  * plays for delta-on-S3.
  *
  * Implementations must provide MUTUAL EXCLUSION per table path across
  * all concurrent writers (threads or processes). What backs it is
  * deployment-specific: a lock table in an external store, a lease
  * service, or — where create-if-absent IS atomic —
  * [[FileCommitLockProvider]].
  */
trait CommitLockProvider {
  /** Run `body` while holding the exclusive commit lock for
    * `tablePath`; the lock must be released on all exit paths. */
  def withLock[T](tablePath: String)(body: => T): T
}

/** Reference lock provider: an exclusive `.commit.lock` file created
  * atomically inside the table's log directory, with a lease-based
  * expiry so a crashed holder cannot wedge the table forever.
  *
  * Liveness + safety against the classic lease races:
  *  - The lock file CONTAINS an owner token (UUID); every break
  *    decision is made against a token, never a bare mtime, so a
  *    breaker can only remove the exact lock incarnation it observed
  *    as stale — breaking is an atomic RENAME onto a breaker-unique
  *    path (only one of racing breakers wins the rename), followed by
  *    a content check: if the claimed file holds a DIFFERENT token
  *    (the stale lock was broken and re-acquired between our
  *    observation and our rename), the breaker restores it by
  *    renaming it back and retries. The old check-mtime-then-delete
  *    TOCTOU (delete removing a FRESH holder's lock) is gone.
  *  - A live holder renews the lock's mtime from a daemon heartbeat
  *    (period leaseMs/3), so a holder merely slower than `leaseMs`
  *    is not broken; staleness now really means "holder stopped
  *    heartbeating" (crashed or partitioned). Size `leaseMs` well
  *    above the heartbeat period, not above the longest publish.
  *  - Release deletes the lock ONLY while it still holds our own
  *    token — if our lease was broken anyway (e.g. a long GC pause
  *    suppressed heartbeats), release leaves the new holder's lock
  *    intact.
  *
  * Scope: correct where file creation and rename are atomic — local
  * FS (java.nio `createFile`) and HDFS (`create(overwrite = false)`).
  * It is the working default for multi-writer tests and NFS/HDFS
  * deployments, and the template for an object-store provider (swap
  * the create-if-absent for a conditional PUT or an external lock
  * table — plain S3 file creation is NOT atomic, which is the whole
  * reason this interface exists).
  */
class FileCommitLockProvider(leaseMs: Long = 60000L,
    acquireTimeoutMs: Long = 60000L) extends CommitLockProvider
    with org.apache.spark.internal.Logging {
  import java.nio.charset.StandardCharsets.UTF_8

  override def withLock[T](tablePath: String)(body: => T): T = {
    val spark = SparkSession.active
    val fs = SnapshotTable.fs(spark, tablePath)
    val lock = new Path(s"${SnapshotTable.logDir(tablePath)}/.commit.lock")
    fs.mkdirs(lock.getParent)
    val token = java.util.UUID.randomUUID.toString
    val deadline = System.currentTimeMillis() + acquireTimeoutMs

    def readToken(p: Path): Option[String] =
      try {
        val in = fs.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          Some(new String(buf.toByteArray, UTF_8))
        } finally in.close()
      } catch { case _: java.io.IOException => None }

    var acquired = false
    while (!acquired) {
      acquired =
        try {
          if (Option(fs.getScheme).contains("file")) {
            val p = java.nio.file.Paths.get(lock.toUri.getPath)
            java.nio.file.Files.createFile(p)
            java.nio.file.Files.write(p, token.getBytes(UTF_8))
            true
          } else {
            val out = fs.create(lock, false)
            try out.write(token.getBytes(UTF_8)) finally out.close()
            true
          }
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException => false
        }
      if (!acquired) {
        // observe (mtime, token) together; break only via an atomic
        // rename-claim of that exact token
        val staleToken: Option[String] =
          try {
            val st = fs.getFileStatus(lock)
            if (st.getModificationTime < System.currentTimeMillis() - leaseMs)
              readToken(lock)
            else None
          } catch { case _: java.io.FileNotFoundException => None }
        staleToken match {
          case Some(observed) =>
            val claim = new Path(s"${lock.toString}.broken-$token")
            val claimed = try fs.rename(lock, claim)
              catch { case _: java.io.IOException => false }
            if (claimed) {
              if (readToken(claim).contains(observed)) fs.delete(claim, false)
              else {
                // we stole a FRESH lock (broken + re-acquired between
                // our observation and our rename) — put it back
                if (!fs.rename(claim, lock)) fs.delete(claim, false)
              }
            }
          case None =>
            if (System.currentTimeMillis() > deadline)
              throw new IllegalStateException(
                s"could not acquire commit lock $lock within ${acquireTimeoutMs}ms " +
                  s"(held and not stale; lease ${leaseMs}ms)")
            else Thread.sleep(20L + scala.util.Random.nextInt(30))
        }
      }
    }
    // heartbeat: a live holder never looks stale
    val beat = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-commit-lock-heartbeat"); t.setDaemon(true); t })
    val period = math.max(50L, leaseMs / 3)
    beat.scheduleAtFixedRate(() => {
      try if (readToken(lock).contains(token))
        fs.setTimes(lock, System.currentTimeMillis(), -1)
      catch {
        // keep beating: one failed touch is not fatal to the lease, but
        // a run of them lets it go stale under a live holder. A touch
        // cut short by the release's shutdownNow is no failure.
        case scala.util.control.NonFatal(e) => if (!beat.isShutdown)
          logWarning(s"commit lock heartbeat failed at $lock: ${e.getMessage}")
      }
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body
    finally {
      beat.shutdownNow()
      // conditional release: only remove our own incarnation
      if (readToken(lock).contains(token)) fs.delete(lock, false)
    }
  }
}
