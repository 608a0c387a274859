package graft.storage

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}

/** Driver-side metadata I/O for an engine root, on the Hadoop
  * `FileSystem` API — the same abstraction Spark's own readers and
  * writers resolve paths through, so the engine runs wherever a 100 TB
  * corpus can actually live (HDFS, S3A, GCS, ABFS, local `file:`), not
  * only where the driver can POSIX-walk a directory. The reference's
  * analog is its provider layer (/root/reference/internal/cephprovider/
  * cephprovider.go + etcd metadata) — storage-specific plumbing behind
  * one interface.
  *
  * Everything here is METADATA-scale I/O (commit files, pointer files,
  * partition-directory listings); bulk data always moves through Spark's
  * parquet reader/writer, which shares this `FileSystem` resolution.
  *
  * Atomicity per store (the crash-safety contract every commit point
  * relies on; see SCALE.md "Storage atomicity"):
  *   - HDFS / local `file:`: `rename` is atomic — `writeAtomic` stages a
  *     dot-tmp file and renames onto the target. Visibility is the
  *     rename instant.
  *   - Object stores (s3a, gs, abfs, …): `rename` is copy+delete, NOT
  *     atomic — but a single PUT is: an object materializes in full at
  *     close, never partially. `writeAtomic` therefore writes the target
  *     DIRECTLY on these schemes; `writeExclusive` relies on the
  *     conditional-create the committers expose (best-effort where the
  *     store offers none — documented in SCALE.md).
  */
final class Store(rootUri: String, conf: Configuration) {

  val fs: FileSystem = new Path(rootUri).getFileSystem(conf)
  val root: Path = fs.makeQualified(new Path(rootUri))

  private val scheme = Option(root.toUri.getScheme).getOrElse("file")
  /** Schemes whose rename is non-atomic (object stores): commit via
    * direct single-PUT create instead of tmp+rename. */
  val isObjectStore: Boolean =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "wasb", "wasbs", "abfs", "abfss")
      .contains(scheme)

  /** Listing/walk operation counter — specs pin hot paths to ZERO
    * metadata listings beyond the parquet scan itself. */
  val listingOps = new AtomicLong(0L)

  def resolve(part: String): Path =
    if (part.isEmpty) root else new Path(root, part)

  def exists(part: String): Boolean = fs.exists(resolve(part))

  /** Child names of a directory (empty if absent). */
  def listNames(part: String): Seq[String] = {
    listingOps.incrementAndGet()
    val p = resolve(part)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** True iff the subtree holds at least one file with `suffix` — an
    * existing-but-drained directory must read as empty. Short-circuits
    * on the first hit. Hidden names (`_` or `.` first, as Spark's reader
    * skips them: markers, `_temporary`, `.spark-staging-*`, temp files
    * of an atomic write) are not walked, and an entry another writer
    * removes during the walk reads as absent: a recursive `listFiles`
    * loads each entry's permissions as it goes and fails on one that
    * vanished since its directory was listed. */
  def containsFile(part: String, suffix: String): Boolean = {
    listingOps.incrementAndGet()
    def holds(p: Path): Boolean =
      (try fs.listStatus(p).toSeq catch { case _: java.io.FileNotFoundException => Nil })
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .exists(f => if (f.isDirectory) holds(f.getPath) else f.getPath.getName.endsWith(suffix))
    holds(resolve(part))
  }

  /** Oldest file modification time (ms) under a subtree, if any file. */
  def oldestFileMtime(part: String): Option[Long] = {
    listingOps.incrementAndGet()
    val p = resolve(part)
    if (!fs.exists(p)) None
    else {
      val it = fs.listFiles(p, true)
      var oldest = Long.MaxValue
      while (it.hasNext) oldest = math.min(oldest, it.next().getModificationTime)
      if (oldest == Long.MaxValue) None else Some(oldest)
    }
  }

  /** Total bytes of the files under `part` (recursive) — 0 when the
    * directory is absent. Driver-side metadata listing; callers use it
    * on partition dirs they just wrote, which are metadata-scale. */
  def dirBytes(part: String): Long = {
    listingOps.incrementAndGet()
    val p = resolve(part)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var bytes = 0L
      while (it.hasNext) bytes += it.next().getLen
      bytes
    }
  }

  def deleteRecursive(part: String): Unit = {
    val p = resolve(part)
    if (fs.exists(p)) fs.delete(p, true)
  }

  def delete(part: String): Unit = fs.delete(resolve(part), false)

  def mkdirs(part: String): Unit = fs.mkdirs(resolve(part))

  def readString(part: String): Option[String] = {
    val p = resolve(part)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  def modificationTime(part: String): Option[Long] = {
    val p = resolve(part)
    if (fs.exists(p)) Some(fs.getFileStatus(p).getModificationTime) else None
  }

  private def writeFile(p: Path, content: Array[Byte], overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(content) finally out.close()
  }

  /** Atomically publish `content` at `part` (see class doc for the
    * per-store commit point). `overwrite = false` + an existing target
    * throws. */
  def writeAtomic(part: String, content: String, overwrite: Boolean = true): Unit = {
    val target = resolve(part)
    fs.mkdirs(target.getParent)
    if (isObjectStore) {
      // single PUT materializes in full at close — the commit point
      if (!overwrite && fs.exists(target))
        throw new FileAlreadyExistsException(target.toString)
      writeFile(target, content.getBytes("UTF-8"), overwrite)
    } else {
      val tmp = new Path(target.getParent, s".${target.getName}.tmp")
      writeFile(tmp, content.getBytes("UTF-8"), overwrite = true)
      // FileContext exposes the atomic-overwrite rename (FileSystem's
      // public 2-arg rename cannot replace an existing target on HDFS)
      val opt = if (overwrite) Options.Rename.OVERWRITE else Options.Rename.NONE
      fileContext.rename(tmp, target, opt)
    }
  }

  /** Atomically publish a file whose content is STREAMED by `write` —
    * the large-content form of [[writeAtomic]] (same per-store commit
    * point), for producers that must not hold the whole payload in
    * driver memory. */
  def writeAtomicStream(part: String)(write: java.io.OutputStream => Unit): Unit = {
    val target = resolve(part)
    fs.mkdirs(target.getParent)
    if (isObjectStore) {
      val out = fs.create(target, true)
      try write(out) finally out.close()
    } else {
      val tmp = new Path(target.getParent, s".${target.getName}.tmp")
      val out = fs.create(tmp, true)
      try write(out) finally out.close()
      fileContext.rename(tmp, target, Options.Rename.OVERWRITE)
    }
  }

  /** Stream a file's bytes into `out` (fixed copy buffer — never
    * materializes the file). */
  def copyTo(part: String, out: java.io.OutputStream): Unit = {
    val in = fs.open(resolve(part))
    try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
    finally in.close()
  }

  private lazy val fileContext: FileContext =
    FileContext.getFileContext(root.toUri, conf)

  /** Create-no-overwrite: true iff this call created the file (the
    * advisory-lock primitive). On rename-atomic stores this is exact;
    * on object stores it is best-effort (see SCALE.md). The stale-lock
    * TAKEOVER built on it (delete + create, Btrdb's lock block) is
    * additionally exposed to delayed visibility and coarse mtime
    * resolution on such stores — the claimant settles and re-verifies
    * twice, scaled to the staleness window, but on an eventually-
    * consistent store prefer deleting a crash-leftover lock by hand
    * over racing another automatic claimant. */
  def writeExclusive(part: String, content: String): Boolean =
    try { writeAtomic(part, content, overwrite = false); true }
    catch {
      case _: FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.PathExistsException => false
      case e: java.io.IOException
        if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) => false
    }

  /** Touch an existing file's content (refreshes mtime everywhere,
    * including stores that don't track mtime on metadata-only ops). */
  def rewrite(part: String, content: String): Unit =
    writeFile(resolve(part), content.getBytes("UTF-8"), overwrite = true)
}
