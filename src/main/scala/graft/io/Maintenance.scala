package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Plain-parquet table maintenance (SURVEY §4): the Delta ZORDER / VACUUM
  * surface (reference `src/utils/spark_utils.py:519-588`) re-expressed for
  * a parquet directory that has no transaction log. (The log-based
  * OPTIMIZE is one file-set rewrite in [[VersionedTable]]: `compact`
  * rewrites the whole live set, `compactSmallFiles` only its small files,
  * and `compactBySize` sizes a `compact`.)
  *
  *  - clusterBy (Z-ORDER approximation): range-repartition on the clustering
  *    keys + sort within partitions, so parquet row-group min/max footers
  *    become selective and data-skipping prunes on those columns. It
  *    rewrites the directory through a staging copy and a two-move swap,
  *    single-writer under [[withWriterLock]].
  *  - vacuum: GC of the `.retired-*` / `.staging-*` directories that swap
  *    leaves (the Delta time-travel retention analogue; reference default
  *    168 h, spark_utils.py:562).
  *
  * This file is the only home of the lock and the directory swap: every
  * upsert commits through the [[VersionedTable]] log.
  */
object Maintenance {

  /** ZORDER-approximation: cluster rows so min/max stats prune on `cols`.
    * A true Z-curve interleaves bits of all columns; lexicographic
    * range-partition + local sort gives the same pruning on the leading
    * column and good pruning on followers, with zero custom code.
    * Partition-LAYOUT-PRESERVING: see [[readPreservingLayout]] — a naive
    * read+rewrite would flatten `col=value` directories into data columns
    * with partition-type inference applied, silently corrupting string
    * partition keys ("007" → int 7) and destroying the pruning layout. */
  def clusterBy(spark: SparkSession, path: String, cols: Seq[String],
      targetFiles: Int, staleLockMs: Long = 60L * 60 * 1000): Unit =
    withWriterLock(path, staleLockMs) {
      recoverOrphanedSwap(path)
      val staging = s"$path.staging-cluster"
      val (df, parts) = readPreservingLayout(spark, path)
      val w = df
        .repartitionByRange(targetFiles, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
        .write.mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(staging)
      swap(path, staging)
    }

  /** Read a parquet table so a rewrite round-trips its partition layout
    * EXACTLY: partition columns are discovered from the `col=value`
    * directory chain and read with type inference OFF, so their values
    * stay the literal directory strings. Writing back with the same
    * `partitionBy` re-emits identical directory names — partition values
    * never pass through a lossy type round-trip ("007" → 7 → "7"), and
    * since partition columns live in directory names, not data files, the
    * on-disk schema is unchanged. The DataFrame resolves its partition
    * schema eagerly, so restoring the conf immediately is safe. Returns
    * (frame, partition columns). */
  private def readPreservingLayout(
      spark: SparkSession, path: String): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val parts = partitionColumnsOf(path)
    if (parts.isEmpty) (spark.read.parquet(path), Nil)
    else {
      val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val prev = spark.conf.get(inferKey)
      try {
        spark.conf.set(inferKey, "false")
        (spark.read.parquet(path), parts)
      } finally spark.conf.set(inferKey, prev)
    }
  }

  /** Partition columns of a parquet directory, from the first
    * `name=value` directory chain (Hive layout). */
  private[graft] def partitionColumnsOf(path: String): Seq[String] = {
    def firstPartDir(p: Path): Option[Path] = {
      val l = Files.list(p)
      try {
        val it = l.iterator()
        var found: Option[Path] = None
        while (it.hasNext && found.isEmpty) {
          val c = it.next()
          val n = c.getFileName.toString
          if (Files.isDirectory(c) && n.contains("=") && !n.startsWith("."))
            found = Some(c)
        }
        found
      } finally l.close()
    }
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = Paths.get(path)
    var next = firstPartDir(cur)
    while (next.isDefined) {
      cols += next.get.getFileName.toString.split("=", 2)(0)
      cur = next.get
      next = firstPartDir(cur)
    }
    cols.toSeq
  }

  /** Delete retired/staging siblings of `path` older than `retainMs`
    * (default 7 days, mirroring the reference's 168 h). Returns the number
    * of directories removed. NEVER deletes a retired version while `path`
    * itself is missing — that retired dir is the crash-recovery source
    * [[recoverOrphanedSwap]] restores from. */
  def vacuum(path: String, retainMs: Long = 168L * 3600 * 1000,
      nowMs: Long = System.currentTimeMillis()): Int = {
    val dir = Paths.get(path).toAbsolutePath
    val parent = dir.getParent
    if (parent == null || !Files.exists(parent)) return 0
    val pathAlive = Files.exists(dir)
    val prefixRetired = dir.getFileName.toString + ".retired-"
    val prefixStaging = dir.getFileName.toString + ".staging-"
    var removed = 0
    val listing = Files.list(parent)
    try {
      val it = listing.iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        val retireTs =
          if (n.startsWith(prefixRetired))
            scala.util.Try(n.stripPrefix(prefixRetired).toLong).toOption
          else None
        val stale = (retireTs.exists(ts => nowMs - ts > retainMs) &&
          pathAlive) ||
          (n.startsWith(prefixStaging) &&
            Files.getLastModifiedTime(p).toMillis < nowMs - retainMs)
        if (stale) { graft.util.Fs.deleteRecursively(p); removed += 1 }
      }
    } finally listing.close() // directory streams hold an fd until closed
    removed
  }

  /** Crash recovery for the two-move swap: a kill between "retire the
    * live dir" and "promote staging" leaves `path` ABSENT with the full
    * pre-swap table sitting in the newest `.retired-*` sibling. Restore
    * it (the interrupted operation simply never happened; its orphaned
    * staging dir is garbage vacuum collects). Returns true when a
    * restore was performed. Call before any read-modify-write of the
    * table — [[clusterBy]] does. */
  def recoverOrphanedSwap(path: String): Boolean = {
    val dir = Paths.get(path).toAbsolutePath
    if (Files.exists(dir)) return false
    val parent = dir.getParent
    if (parent == null || !Files.exists(parent)) return false
    val prefix = dir.getFileName.toString + ".retired-"
    val listing = Files.list(parent)
    val newest =
      try {
        val it = listing.iterator()
        var best: Option[(Long, Path)] = None
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (n.startsWith(prefix))
            scala.util.Try(n.stripPrefix(prefix).toLong).toOption
              .foreach(ts => if (best.forall(_._1 < ts)) best = Some(ts -> p))
        }
        best
      } finally listing.close()
    newest.exists { case (_, p) =>
      Files.move(p, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    }
  }

  /** Two-move commit: retire the live dir, promote staging. NOT atomic
    * across the two renames — the crash window between them is healed by
    * [[recoverOrphanedSwap]] on the next table operation. */
  private def swap(path: String, staging: String): Unit = {
    val dir = Paths.get(path)
    val retired = Paths.get(s"$path.retired-${System.currentTimeMillis()}")
    Files.move(dir, retired, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(staging), dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Advisory single-writer lock that serializes rewrites of one plain
    * parquet directory: [[clusterBy]] reads the whole table, writes a
    * staging copy and swaps it in, so two unlocked rewrites racing on one
    * directory would both read the old table and the second swap would
    * silently drop the first's work. The second writer instead fails
    * with [[Upsert.ConcurrentWriteException]] and the table is
    * untouched. Lock = atomic create of `<path>.lock` (POSIX `O_EXCL`
    * semantics — also atomic on NFS v3+ and HDFS; on object stores
    * without atomic create this degrades to best-effort, which is still
    * strictly better than no guard). Tables that need more than one
    * concurrent writer live on the [[VersionedTable]] log instead.
    *
    * Liveness: the holder HEARTBEATS the lock's mtime (daemon thread,
    * every staleLockMs/4), so a legitimately long rewrite never looks
    * abandoned. A lock older than `staleLockMs` therefore really is a
    * killed JVM's leftover and is broken — by an atomic RENAME to a
    * breaker-private tombstone, never delete+create: exactly one racing
    * breaker can win the rename (deleteIfExists let a second breaker
    * delete the first's FRESH lock), and the winner verifies by owner
    * token that it renamed the lock it observed stale, restoring it if a
    * live writer raced in. The interrupted swap itself is healed
    * separately by [[recoverOrphanedSwap]]. */
  private def withWriterLock[T](targetPath: String, staleLockMs: Long)
      (body: => T): T = {
    val lock = Paths.get(targetPath + ".lock")
    Option(lock.getParent).foreach(Files.createDirectories(_))
    val token = UUID.randomUUID().toString
    def readToken(p: Path): String =
      try Files.readString(p) catch { case _: java.io.IOException => "" }
    // create-exclusive WITH the owner token in place (tmp + hard link,
    // the CommitArbiter.PosixLink shape) so a breaker can tell whose
    // lock it renamed; no-hardlink filesystems fall back to
    // create-then-write (brief empty-token window — breakers treat an
    // unreadable token as a LIVE lock and restore, the safe side)
    def tryAcquire(): Boolean = {
      val tmp = Paths.get(s"$targetPath.lock.tmp-$token")
      try {
        Files.writeString(tmp, token)
        try { Files.createLink(lock, tmp); true }
        catch {
          case _: UnsupportedOperationException =>
            // no-hardlink fallback: create-exclusive may ALSO lose the
            // race — map that to false here (the handler cases are
            // siblings, so the outer FileAlreadyExistsException case
            // would not catch a throw from inside this one)
            try {
              Files.createFile(lock)
              Files.writeString(lock, token)
              true
            } catch {
              case _: java.nio.file.FileAlreadyExistsException => false
            }
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } finally { Files.deleteIfExists(tmp); () }
    }
    var acquired = tryAcquire()
    if (!acquired) {
      val age =
        try System.currentTimeMillis() -
          Files.getLastModifiedTime(lock).toMillis
        catch { case _: java.io.IOException => 0L } // vanished = fresh race
      // an EMPTY token is still breakable when stale: externally created
      // or fallback-crash locks have no token, and the fallback's brief
      // empty-token window is always fresh-mtime (excluded by the age
      // check) — the tombstone compare below still catches a live lock
      // (nonempty token) renamed by mistake
      val staleToken = readToken(lock)
      if (age > staleLockMs) {
        val tomb = Paths.get(s"$targetPath.lock.broken-$token")
        val won =
          try { Files.move(lock, tomb, StandardCopyOption.ATOMIC_MOVE); true }
          catch { case _: java.io.IOException => false }
        if (won) {
          if (readToken(tomb) == staleToken) {
            // broke the abandoned lock we observed; claim the slot
            Files.deleteIfExists(tomb)
            acquired = tryAcquire()
          } else {
            // the file changed owner between our stat and our rename —
            // we stole a LIVE lock; put it back. The restore must FAIL
            // when a third writer has already claimed the path (the
            // path holder wins): rename(2) silently REPLACES an
            // existing target on POSIX, so restore via hard link
            // (create-exclusive semantics), falling back to
            // create-exclusive + copy on no-hardlink filesystems. Only
            // when the create succeeded is the tombstone consumed.
            try { Files.createLink(lock, tomb); Files.delete(tomb) }
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                // a third writer holds the path — it wins; the stolen
                // owner's heartbeat will recreate/err on its side
                Files.deleteIfExists(tomb); ()
              case _: UnsupportedOperationException =>
                try {
                  Files.createFile(lock)
                  Files.writeString(lock, readToken(tomb))
                  Files.deleteIfExists(tomb); ()
                } catch {
                  case _: java.nio.file.FileAlreadyExistsException =>
                    Files.deleteIfExists(tomb); ()
                }
              case _: java.io.IOException =>
                Files.deleteIfExists(tomb); ()
            }
          }
        }
      }
      if (!acquired)
        throw new Upsert.ConcurrentWriteException(
          s"another writer holds $lock (single-writer contract; " +
            "retry after it completes, or remove the lock if its " +
            "owner is known dead)")
    }
    // heartbeat: a live holder's lock never ages past staleLockMs
    val period = math.max(1000L, staleLockMs / 4)
    val hb = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(period)
          try Files.setLastModifiedTime(lock,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis()))
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-maintenance-lock-heartbeat-$token")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      hb.interrupt()
      // release only OUR lock — if something broke it despite the
      // heartbeat, the current holder's file must survive our exit
      if (readToken(lock) == token) { Files.deleteIfExists(lock); () }
    }
  }
}
