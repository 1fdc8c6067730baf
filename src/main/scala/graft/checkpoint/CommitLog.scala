package graft.checkpoint

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** The on-disk protocol every persisted dir-per-commit store shares — the
  * engine's analogue of freader's single offsets upsert
  * (internal/store/sqlite_store.go:104-119), spelled as directories:
  *
  *  - a commit is written under `_tmp-<id>` and published by ONE rename to
  *    `<prefix><id>` — the commit point; a crash mid-write leaves only an
  *    unread `_tmp-*` dir, never partial state;
  *  - the store's content is the union of its [[live]] dirs; a store
  *    supersedes dirs either by deleting them or by [[retire]]-marking them
  *    (readers skip marked dirs, the [[sweep]] deletes them later);
  *  - mutations that rewrite live dirs serialize under [[withLock]].
  *
  * Layout (byte-identical to the stores' hand-written predecessors, so
  * existing stores read unchanged):
  * `<root>/<prefix><id>/`, `<root>/_tmp-<id>/`, `<root>/<prefix><id>/_retired`,
  * `<root>/_lock`, and store-level files `<root>/_<name>` ([[putFile]]).
  */
private[graft] final class CommitLog(val fs: FileSystem, val root: Path, prefix: String) {
  import CommitLog._

  /** Committed dirs without a `_retired` marker, sorted by name. */
  def live: Seq[Path] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        !fs.exists(new Path(p, RetiredMarker)))
      .sortBy(_.getName)

  /** Atomic publish: `write` fills `_tmp-<id>`, then one rename makes it
    * `<prefix><id>`. A `write` that returns false abandons the commit: its
    * `_tmp-<id>` is deleted and nothing is published. Returns whether the
    * commit was published.
    */
  def commit(id: String)(write: Path => Boolean): Boolean = {
    val tmp = new Path(root, s"_tmp-$id")
    val dest = new Path(root, s"$prefix$id")
    if (!write(tmp)) { fs.delete(tmp, true); false }
    else {
      require(fs.rename(tmp, dest), s"commit rename $tmp -> $dest failed")
      true
    }
  }

  /** The text of file `p`, if present. */
  def read(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }

  /** Write `text` to file `p`; without `overwrite`, fails if `p` exists. */
  def write(p: Path, text: String, overwrite: Boolean = true): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Publish the store-level file `<root>/<name>` atomically: written under
    * `_tmp-<id>` and renamed, so a crash leaves the whole file or none (the
    * leftover is swept like any `_tmp-*`). Returns false, publishing
    * nothing, when `<root>/<name>` already exists — another writer got
    * there first.
    */
  def putFile(name: String, text: String): Boolean = {
    val tmp = new Path(root, s"_tmp-${freshId()}")
    val dest = new Path(root, name)
    write(tmp, text, overwrite = false)
    fs.rename(tmp, dest) || {
      fs.delete(tmp, false)
      require(fs.exists(dest), s"publish $tmp -> $dest failed")
      false
    }
  }

  /** Create file `p` holding `text`; fails if `p` exists, and of several
    * concurrent callers exactly one succeeds. Hadoop's local file system
    * implements `create(p, overwrite = false)` as an existence check
    * followed by an open, which two threads can both pass, so on `file:`
    * the create is the platform's own CREATE_NEW; elsewhere
    * `create(p, false)` (atomic on HDFS).
    */
  private def createExclusive(p: Path, text: String): Unit =
    if (fs.getUri.getScheme == "file")
      java.nio.file.Files.write(java.nio.file.Paths.get(fs.makeQualified(p).toUri),
        text.getBytes(StandardCharsets.UTF_8), java.nio.file.StandardOpenOption.CREATE_NEW)
    else write(p, text, overwrite = false)

  /** Supersede `dir` in place: it drops out of [[live]] at once but stays
    * physically intact until the [[sweep]], so a concurrent reader whose
    * plan pinned its file paths never hits a deleted file mid-scan. The
    * leading `_` keeps parquet readers ignoring the marker.
    */
  def retire(dir: Path): Unit = fs.create(new Path(dir, RetiredMarker), true).close()

  /** Serialize store MUTATIONS (compaction, retraction) against each
    * other: both rewrite-and-supersede live dirs, and unserialized they can
    * resurrect retracted rows (a compaction that listed dirs before a
    * concurrent retraction rewrote them merges the pre-retraction rows
    * back in). A `_lock` file at the store root is the lease: an exclusive
    * create acquires it ([[createExclusive]]), so of several contenders
    * exactly one holds it at a time; it is deleted to release.
    *
    * Ownership and liveness (nothing here may break a LIVE lease — a
    * broken live lease is exactly the resurrection this lock prevents):
    *
    *  - the lock file carries the holder's unique TOKEN, and release
    *    deletes the lock only while it still holds that token — a waiter
    *    that (wrongly or rightly) re-took the path is never un-locked by
    *    the previous holder's `finally`;
    *  - the holder HEARTBEATS the lock's mtime on a daemon thread every
    *    [[LockHeartbeatMs]], so "stale" ([[LockStaleMs]] without a touch)
    *    means a dead holder, not a long Spark job inside the lease;
    *  - a stale lease is broken ATOMICALLY: rename to a breaker-unique
    *    name, then delete — exactly one of several concurrent breakers
    *    wins the rename, so two waiters can never both "free" the path
    *    and both acquire;
    *  - a waiter never breaks a live lease; if one is still held past the
    *    acquire timeout it THROWS rather than proceeding unserialized.
    *
    * Readers never take the lock: retention-delayed retirement already
    * keeps their pinned files alive.
    */
  def withLock[T](body: => T): T = {
    fs.mkdirs(root)
    val lock = new Path(root, "_lock")
    val token = java.util.UUID.randomUUID().toString
    val giveUpAt = System.currentTimeMillis() + 10L * 60 * 1000
    var acquired = false
    while (!acquired) {
      try {
        createExclusive(lock, token)
        acquired = true
      } catch {
        case _: java.io.IOException =>
          val mtime =
            try Some(fs.getFileStatus(lock).getModificationTime)
            catch { case _: java.io.IOException => None }
          val now = System.currentTimeMillis()
          if (mtime.exists(now - _ > LockStaleMs)) {
            val broken = new Path(root, s"_lock.broken-$token")
            try { if (fs.rename(lock, broken)) fs.delete(broken, false) }
            catch { case _: java.io.IOException => () }
          } else if (now > giveUpAt)
            throw new IllegalStateException(
              s"store lock $lock still held live after the acquire " +
                "timeout; refusing to mutate unserialized")
          else Thread.sleep(200)
      }
    }
    @volatile var done = false
    val hb = new Thread(() => {
      var interrupted = false
      while (!done && !interrupted) {
        try fs.setTimes(lock, System.currentTimeMillis(), -1)
        catch {
          case _: java.io.IOException => // fs without setTimes: rewrite
            try write(lock, token) catch { case _: java.io.IOException => () }
        }
        try Thread.sleep(LockHeartbeatMs)
        catch { case _: InterruptedException => interrupted = true }
      }
    }, "graft-store-lock-heartbeat")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      done = true
      hb.interrupt()
      try { if (read(lock).contains(token)) fs.delete(lock, false) }
      catch { case _: java.io.IOException => () }
    }
  }

  /** Sweep crash leftovers and expired retirements: `_tmp-*` dirs are
    * never read and every commit gets a fresh id, so a long crash-prone
    * campaign must not accrete them — the sink root's `_staging-*` sweep,
    * applied here. Retired dirs physically delete here too. Only items
    * OLDER than an hour go: a commit in flight from another writer sharing
    * the store finishes in seconds, and a concurrent reader's pinned plan
    * over a just-retired dir drains long before the retention window
    * closes.
    */
  def sweep(): Unit =
    if (fs.exists(root)) {
      val cutoff = System.currentTimeMillis() - RetentionMs
      def retiredAt(dir: Path): Long = // no marker: not retired
        try fs.getFileStatus(new Path(dir, RetiredMarker)).getModificationTime
        catch { case _: java.io.IOException => Long.MaxValue }
      fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        val expired =
          if (name.startsWith("_tmp-")) st.getModificationTime < cutoff
          else name.startsWith(prefix) && retiredAt(st.getPath) < cutoff
        if (expired) fs.delete(st.getPath, true)
      }
    }
}

private[graft] object CommitLog {
  private val RetiredMarker = "_retired"
  private val LockHeartbeatMs = 20L * 1000
  private val LockStaleMs = 5L * 60 * 1000
  private val RetentionMs = 60L * 60 * 1000

  /** A fresh commit id: every commit gets its own, so two writers sharing
    * a store never collide on `_tmp-<id>` or `<prefix><id>`.
    */
  def freshId(): String = java.util.UUID.randomUUID().toString.take(8)
}
