package graft.checkpoint

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** The on-disk protocol every persisted store shares — the engine's
  * analogue of freader's single offsets upsert
  * (internal/store/sqlite_store.go:104-119), spelled as directories. It is
  * the only code that renames, retires or deletes a store's commits,
  * manifests and `_tmp-*` dirs; every store follows one rule:
  *
  *  - publish: a commit is written under a fresh `_tmp-*` dir (or file)
  *    and published by ONE rename ([[commit]], [[putFile]],
  *    [[publishFiles]]) — the commit point; a crash mid-write leaves only
  *    an unread `_tmp-*`, never partial state;
  *  - rewrite: compaction, prune and retraction write ONE fresh commit
  *    under the lease ([[withLock]]) and then retire their sources
  *    ([[replace]], [[compact]]); the store's content is the union of its
  *    [[live]] commits, and a retired commit drops out of it at once but
  *    stays physically intact, so a reader may run during any rewrite: a
  *    DataFrame read before it keeps reading the files its plan pinned;
  *  - clean up: crash leftovers and retired commits age out through
  *    [[sweep]].
  *
  * Layout (byte-identical to the stores' hand-written predecessors, so
  * existing stores read unchanged):
  * `<root>/<prefix><label>-<id>/`, `<root>/_tmp-*`,
  * `<root>/<prefix><label>-<id>/_retired`, `<root>/_lock`, and store-level
  * files `<root>/<name>` ([[putFile]]).
  */
private[graft] final class CommitLog(val fs: FileSystem, val root: Path, prefix: String) {
  import CommitLog._

  /** Published commits without a `_retired` marker, sorted by name. A
    * commit is a dir ([[commit]]) or a file ([[putFile]]); only a dir can
    * carry the marker.
    */
  def live: Seq[Path] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.getPath.getName.startsWith(prefix) &&
        (st.isFile || !fs.exists(new Path(st.getPath, RetiredMarker))))
      .map(_.getPath).sortBy(_.getName)

  /** Atomic publish: `write` fills a fresh `_tmp-*` dir, then one rename
    * makes it `<prefix><label>-<fresh id>`. The fresh id keeps every commit
    * out of every other: Hadoop's local `rename` of a dir onto an existing
    * non-empty dir moves it INSIDE that dir, where readers skip it as
    * hidden, so no commit may target a name that can exist. A `write` that
    * returns false abandons the commit: its tmp dir is deleted and nothing
    * is published. Returns whether the commit was published.
    */
  def commit(label: String)(write: Path => Boolean): Boolean = {
    val id = s"$label-${freshId()}"
    val tmp = new Path(root, s"_tmp-$id")
    val dest = new Path(root, s"$prefix$id")
    if (!write(tmp)) { fs.delete(tmp, true); false }
    else {
      require(fs.rename(tmp, dest), s"commit rename $tmp -> $dest failed")
      true
    }
  }

  /** Supersede `sources` by ONE fresh commit that `write` fills from them:
    * the commit lands first and only then do the sources retire, so a
    * crash in between leaves duplicates (which every store reads as
    * harmless), never a hole. A `write` that returns false publishes
    * nothing, and the sources still retire: a rewrite that keeps no row.
    * The caller holds the lease ([[withLock]]) and listed and read
    * `sources` under it, so no other rewrite changed them meanwhile.
    *
    * A retired dir carries a `_retired` marker (the leading `_` keeps
    * parquet readers ignoring it): it drops out of [[live]] at once but
    * stays physically intact until the [[sweep]], so a concurrent reader
    * whose plan pinned its file paths never hits a deleted file mid-scan.
    */
  def replace(sources: Seq[Path])(write: Path => Boolean): Unit = {
    commit("rewrite")(write)
    sources.foreach(d => fs.create(new Path(d, RetiredMarker), true).close())
  }

  /** Past-N compaction: when more than `maxDirs` commits are live, all of
    * them merge into one ([[replace]]), `merge(dirs)` writing it. The count
    * is first checked without the lease, so a store within its bound takes
    * none; the lease holder lists again before it merges.
    */
  def compact(maxDirs: Int)(merge: Seq[Path] => Path => Boolean): Unit =
    if (live.size > maxDirs) withLock {
      val dirs = live
      if (dirs.size > maxDirs) replace(dirs)(merge(dirs))
    }

  /** Run `body` over a fresh scratch dir `_tmp-<label>-<id>`, deleted once
    * `body` returns or throws; a crash leaves it to [[sweep]]. For writes
    * that publish piecewise out of the scratch dir rather than by one
    * rename of it.
    */
  def scratch[T](label: String)(body: Path => T): T = {
    val tmp = new Path(root, s"_tmp-$label-${freshId()}")
    try body(tmp) finally fs.delete(tmp, true)
  }

  /** Publish the data files `write` leaves in a scratch dir, each by one
    * rename into `dest` as `<id>-<name>` under one fresh id; returns their
    * paths, sorted. Hidden files (`_*`, `.*`: job markers, checksums) are
    * not data and stay behind.
    */
  def publishFiles(dest: Path)(write: Path => Unit): Seq[Path] = {
    val id = freshId()
    scratch(id) { tmp =>
      write(tmp)
      fs.mkdirs(dest)
      fs.listStatus(tmp).toSeq.map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .map { p =>
          val to = new Path(dest, s"$id-${p.getName}")
          require(fs.rename(p, to), s"publish rename $p -> $to failed")
          to
        }.sortBy(_.toString)
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
    * a fresh `_tmp-*` and renamed, so a crash leaves the whole file or none
    * (the leftover is swept like any `_tmp-*`). Returns false, publishing
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

  /** Serialize store REWRITES (compaction, prune, retraction) against each
    * other: each rewrites-and-supersedes live commits, and unserialized
    * they can resurrect removed rows (a compaction that listed dirs before
    * a concurrent retraction rewrote them merges the pre-retraction rows
    * back in). Ordinary commits and reads never take it. A `_lock` file at
    * the store root is the lease: an exclusive create acquires it
    * ([[createExclusive]]), so of several contenders exactly one holds it
    * at a time; it is deleted to release.
    *
    * Ownership and liveness (nothing here may break a LIVE lease — a
    * broken live lease is exactly the resurrection this lock prevents):
    *
    *  - the lock file carries the holder's unique TOKEN and the time it was
    *    taken, and release deletes the lock only while it still holds that
    *    text — a waiter that (wrongly or rightly) re-took the path is never
    *    un-locked by the previous holder's `finally`;
    *  - the holder HEARTBEATS the lock's mtime on a daemon thread every
    *    [[LockHeartbeatMs]], so "stale" ([[LockStaleMs]] without a touch)
    *    means a dead holder, not a long Spark job inside the lease;
    *  - a stale lease is broken ATOMICALLY: rename to a breaker-unique
    *    name, then delete — exactly one of several concurrent breakers
    *    wins the rename, so two waiters can never both "free" the path
    *    and both acquire;
    *  - a waiter never breaks a live lease; if one is still held past the
    *    acquire timeout it THROWS rather than proceeding unserialized;
    *  - a wait past [[LockWaitReportMs]] prints one stderr line naming the
    *    lock, the holder's token and the lease's age, so a stalled run
    *    leaves evidence of what it waited for.
    */
  def withLock[T](body: => T): T = {
    fs.mkdirs(root)
    val lock = new Path(root, "_lock")
    val token = java.util.UUID.randomUUID().toString
    val started = System.currentTimeMillis()
    val holder = s"$token $started"
    var acquired = false
    var reported = false
    while (!acquired) {
      try {
        createExclusive(lock, holder)
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
          } else if (now - started > LockGiveUpMs)
            throw new IllegalStateException(
              s"store lock $lock still held live after the acquire " +
                "timeout; refusing to mutate unserialized")
          else {
            if (!reported && now - started > LockWaitReportMs) {
              reported = true
              val held = (try read(lock) catch { case _: java.io.IOException => None })
                .getOrElse("").split(" ")
              val age = held.lift(1).flatMap(_.toLongOption)
                .fold("unknown")(t => s"${(now - t) / 1000} s")
              System.err.println(s"graft: waited ${(now - started) / 1000} s for store lock " +
                s"$lock, held by ${held(0)}, lease age $age")
            }
            Thread.sleep(200)
          }
      }
    }
    @volatile var done = false
    val hb = new Thread(() => {
      var interrupted = false
      while (!done && !interrupted) {
        try fs.setTimes(lock, System.currentTimeMillis(), -1)
        catch {
          case _: java.io.IOException => // fs without setTimes: rewrite
            try write(lock, holder) catch { case _: java.io.IOException => () }
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
      try { if (read(lock).contains(holder)) fs.delete(lock, false) }
      catch { case _: java.io.IOException => () }
    }
  }

  /** Sweep crash leftovers and expired retirements: `_tmp-*` entries are
    * never read and every publish gets a fresh name, so a long crash-prone
    * campaign must not accrete them; retired commits physically delete
    * here too. Only items OLDER than an hour go: a publish in flight from
    * another writer sharing the store finishes in seconds, and a
    * concurrent reader's pinned plan over a just-retired dir drains long
    * before the retention window closes.
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
  private val LockGiveUpMs = 10L * 60 * 1000
  private val LockWaitReportMs = 30L * 1000
  private val RetentionMs = 60L * 60 * 1000

  /** A fresh id: every publish gets its own, so two writers sharing a
    * store never collide on a `_tmp-*` or a commit name.
    */
  private def freshId(): String = java.util.UUID.randomUUID().toString.take(8)
}
