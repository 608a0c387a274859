package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A commit-log record, one row of [[Btrdb.CommitSchema]]: the source of
  * truth for versions, visibility, changed-range queries, and pyramid
  * invalidation. `kind` is `insert`, `delete` or `purge` (the bytes of an
  * obliterated stream are gone); `ranges` are the touched time ranges
  * [s, e); `compacted = true` marks a record that supersedes the
  * stream's history at or below its version; `batches` are the staging
  * batch ids a flush consumed; `grid` is true iff every value lies on
  * the cents grid. */
final case class CommitRecord(sid: Long, version: Long, kind: String,
    tmin: Long, tmax: Long, npoints: Long, ranges: Seq[(Long, Long)],
    compacted: Boolean = false, batches: Seq[Long] = Nil, grid: Boolean = false) {

  /** The record's one JSON line in the commit log. */
  def json: String =
    s"""{"sid":$sid,"version":$version,"kind":"$kind","tmin":$tmin,""" +
      s""""tmax":$tmax,"npoints":$npoints,"ranges":""" +
      ranges.map { case (s, e) => s"""{"s":$s,"e":$e}""" }.mkString("[", ",", "]") +
      s""","compacted":$compacted,"batches":${batches.mkString("[", ",", "]")},""" +
      s""""grid":$grid}""" + "\n"

  /** The record as a row of [[Btrdb.CommitSchema]]. */
  def toRow: Row = Row(sid, version, kind, tmin, tmax, npoints,
    ranges.map { case (s, e) => Row(s, e) }, compacted, batches, grid)
}

object CommitRecord {
  /** A JSON line read with [[Btrdb.CommitSchema]]. Legacy records without
    * `ranges` touched their envelope, without `batches` consumed none,
    * and without `compacted` or `grid` read as false. */
  def of(r: Row): CommitRecord =
    CommitRecord(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4),
      r.getLong(5),
      if (r.isNullAt(6)) Seq((r.getLong(3), r.getLong(4) + 1))
      else r.getSeq[Row](6).map(x => (x.getLong(0), x.getLong(1))),
      !r.isNullAt(7) && r.getBoolean(7), if (r.isNullAt(8)) Nil else r.getSeq[Long](8),
      !r.isNullAt(9) && r.getBoolean(9))
}

/** The commit log of a root, held as one immutable [[StreamState]] per
  * stream with the stream's live records: the log is the union of the
  * states and [[StreamState.committed]] its one supersede rule. It is
  * loaded once, and every commit appends one file and publishes the
  * stream's next state, with no re-read. Mixed into [[Btrdb]]. */
private[engine] trait CommitLog { self: Btrdb =>
  import Btrdb._

  /** Per-stream commit state, seeded once and replaced by every commit.
    * A read takes one value per stream and pins everything to it, with
    * no lock. */
  private[engine] val states = new ConcurrentHashMap[Long, StreamState]()
  @volatile private var seeded = false

  private[engine] def stateOf(sid: Long): StreamState = {
    seed()
    states.getOrDefault(sid, StreamState.Empty)
  }

  /** Every stream's state, as one snapshot. */
  private[engine] def snapshot(): Map[Long, StreamState] = { seed(); states.asScala.toMap }

  /** Replaces stream `sid`'s state by `f` of it. */
  private[engine] def publish(sid: Long)(f: StreamState => StreamState): Unit = {
    seed()
    states.compute(sid, (_, s) => f(if (s == null) StreamState.Empty else s))
  }

  /** Seeds every stream's state once: the log loaded with its declared
    * schema in one collect (a crash between an archive write and its
    * per-file deletes leaves identical lines in both, read once) and
    * folded per stream, then the write buffer's staged counts (after
    * [[recoverFlushedStaging]]). */
  protected def seed(): Unit = if (!seeded) synchronized {
    if (!seeded) {
      val records =
        if (!exists("commits")) Nil
        else spark.read.schema(StructType.fromDDL(CommitSchema)).json(path("commits"))
          .collect().toSeq.map(CommitRecord.of).distinct
      val committed = StreamState.fold(records)
      recoverFlushedStaging(committed)
      val staged =
        if (!hasParquet("staging")) Array.empty[Row]
        else stagingDf.groupBy("sid").agg(count(lit(1)), min("time"), max("time")).collect()
      val all = staged.foldLeft(committed) { (m, r) =>
        m.updated(r.getLong(0), m.getOrElse(r.getLong(0), StreamState.Empty)
          .staged(r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      states.clear()
      states.putAll(all.asJava)
      seeded = true
    }
  }

  /** Re-seed staged counts from disk — call after an external writer
    * (e.g. StreamingIngest) appended to this root's staging area. */
  def refreshStaging(): Unit = synchronized { seeded = false }

  /** Re-read commit metadata from disk — call after an external process
    * touched the commit log (recovery tooling, tests). */
  def refreshCommits(): Unit = synchronized {
    seeded = false
    refreshRollups()
  }

  /** The commit log as a DataFrame: every stream's live records, as a
    * local relation over one snapshot of the states. */
  def commits: DataFrame =
    local(CommitSchema, snapshot().toSeq.sortBy(_._1).flatMap(_._2.records.map(_.toRow)))

  /** Flush crash recovery: each flush commit records the staging batch
    * ids it consumed; a crash between the commit and the staging delete
    * leaves those batches on disk, where a naive restart would re-flush
    * them as duplicates. On seeding, drop any staged batch dir whose
    * id appears in its stream's latest insert commit — the
    * same version-match replay guard as the reference's `pqm.go:172-179`,
    * keyed by batch id instead of journal version. */
  private def recoverFlushedStaging(committed: Map[Long, StreamState]): Unit = {
    val consumed = committed.map { case (sid, s) =>
      sid -> s.records.findLast(_.kind == "insert").fold(Set.empty[Long])(_.batches.toSet)
    }.filter(_._2.nonEmpty)
    if (consumed.isEmpty || !exists("staging")) return
    store.listNames("staging")
      .filter(_.startsWith("sid="))
      .foreach { sidDir =>
        val dead = consumed.getOrElse(sidDir.stripPrefix("sid=").toLong, Set.empty[Long])
        if (dead.nonEmpty)
          store.listNames(s"staging/$sidDir")
            .filter(_.stripPrefix("batch=").toLongOption.exists(dead.contains))
            .foreach(b => deleteDir(s"staging/$sidDir/$b"))
      }
  }

  /** Append one commit record: one JSON line written by the driver with
    * no Spark job (the reference's superblock append,
    * blockstore.go:317-360), published atomically, then the stream's next
    * state. A flush commit empties the write buffer in the same step, so
    * no reader sees its rows both committed and staged. */
  protected def appendCommit(r: CommitRecord): Unit = {
    requireWriterLive()
    store.writeAtomic(s"commits/commit-${r.sid}-${r.version}${if (r.compacted) "-c" else ""}.json",
      r.json)
    publish(r.sid)(s => if (r.batches.nonEmpty) s.committed(r).flushed else s.committed(r))
  }

  /** Delete this stream's loose plain commit files at or below the
    * compacted version, plus older compacted records — pure garbage
    * collection: the supersede rule already ignores them. Closed archive
    * segments are never rewritten. */
  protected def gcCommitFiles(sid: Long, compactedVersion: Long): Unit = {
    val plain = s"commit-$sid-(\\d+)\\.json".r
    val compactRe = s"commit-$sid-(\\d+)-c\\.json".r
    store.listNames("commits").foreach {
      case name @ plain(v) if v.toLong <= compactedVersion =>
        store.delete(s"commits/$name")
      case name @ compactRe(v) if v.toLong < compactedVersion =>
        store.delete(s"commits/$name")
      case _ => ()
    }
  }

  /** Roll loose per-commit files into a CLOSED archive segment when the
    * commit directory holds more than `maxFiles` of them — over an
    * engine root's lifetime the log would otherwise accumulate one tiny
    * file per commit (millions of files to list and open at 100 TB
    * scale; the reference's analog is the superblock chain packed
    * inside its block store). Returns true iff a segment was written.
    *
    * Segments are IMMUTABLE once closed: each pass streams ONLY the
    * current loose files into the next `archive-N.json` and never reads
    * or rewrites a previous segment — driver memory is one copy buffer
    * and lifetime archive I/O is linear in the log, where a
    * fold-everything design re-writes the whole history every pass
    * (O(n²) bytes) and must hold it in driver memory. The load counts
    * identical lines once, so the only crash window — between the atomic
    * segment publish and the per-file deletes — duplicates records
    * harmlessly; compact()'s stale records and a purged stream's records
    * inside closed segments stay superseded. */
  def archiveCommitLog(maxFiles: Int = 1024): Boolean =
    admission.run(Admission.Maintenance) {
      val names = store.listNames("commits").filter(_.endsWith(".json"))
      val loose = names.filterNot(_.startsWith("archive-"))
      if (loose.size <= maxFiles) false
      else {
        val seq = names.filter(_.startsWith("archive-"))
          .flatMap(_.stripPrefix("archive-").stripSuffix(".json").toLongOption)
          .maxOption.getOrElse(0L) + 1
        store.writeAtomicStream(s"commits/archive-$seq.json") { out =>
          loose.sorted.foreach(n => store.copyTo(s"commits/$n", out))
        }
        loose.foreach(n => store.delete(s"commits/$n"))
        true
      }
    }
}
