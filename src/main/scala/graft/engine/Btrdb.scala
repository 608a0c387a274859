package graft.engine

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.ReentrantLock

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{TimeConsts, TimeOps}
import graft.operators.StatOps
import graft.storage.Store

/** The engine facade — the BTrDB public surface (the 19 RPCs of
  * /root/reference/grpcinterface/btrdb.proto:5-24) re-expressed as a
  * versioned, partitioned Parquet point log + commit log + staging
  * buffer + stat-rollup pyramid, all driven through DataFrame programs.
  *
  * Storage layout under `root`:
  *   catalog/ or catalog_v/N + catalog_CURRENT pointer — stream
  *              descriptors (sid, uuid, collection, tags, annotations,
  *              annotationVersion, tombstoned); rewrites are versioned
  *              directories behind an atomically-moved pointer file
  *   points/    committed point log, partitioned by sbucket = sid % SBuckets
  *              and tbucket = time >> TBucketPw; carries a `version` column
  *   commits/   commit log, one driver-written JSON line per commit:
  *              (sid, version, kind insert|delete, tmin, tmax, npoints,
  *              ranges[{s,e}...]) — the source of truth for visibility,
  *              version counters, changed-range queries, and rollup
  *              invalidation; touched `ranges` carry tree-diff fidelity
  *   staging/sid=S/batch=B/  unflushed inserts (the PQM write buffer,
  *              /root/reference/pqm.go:29-35) — merged on latest reads;
  *              per-stream partitions flush independently, per-batch
  *              subkeys make streaming replay idempotent
  *   pyramid/pw=K/sbucket=X/wbucket=Y/  one rollup table for ALL levels
  *              (sid, wstart, cnt, ccnt, vmin, vmax, vsum, vsc),
  *              partitioned so maintenance dynamic-overwrites only
  *              dirtied partitions. `ccnt` counts rows whose value has
  *              a representable cents integer; serving compares Σccnt
  *              to Σcnt and degrades that window's mean to Σvsum/Σcnt
  *              when they differ (never a null-skipped cents sum over
  *              the full count).
  *              `vsc` is the exact integer cents sum (StatOps.cents):
  *              long sums are associative, so pyramid-served mean/sum
  *              are bit-deterministic — and EXACT when every value lies
  *              on the 2-decimal cents grid. Whether that holds is
  *              TRACKED, not assumed: each insert commit records a
  *              `grid` flag (one off-grid value in any commit clears
  *              the stream's flag) and the SQL pyramid substitution
  *              refuses to serve avg/sum for a non-grid stream — the
  *              raw IEEE plan answers instead. `vsum` keeps the plain
  *              double sum for the engine's own stat surface
  *
  * Scale design (100 TB, 1000 executors):
  *   - sbucket partitioning spreads streams; tbucket (2^48 ns ≈ 3.26 d)
  *     gives partition pruning for time-range queries — the distributed
  *     analog of the reference's per-stream tree + MASH placement.
  *   - Commit metadata is tiny and broadcast into every read — delete
  *     anti-filters and version pins never shuffle the point log.
  *   - Rollup maintenance recomputes only commit-touched buckets
  *     (the CGeneration trick, SURVEY §4.1) via dynamic partition
  *     overwrite, so backfill cost is proportional to dirtied data.
  *
  * Single-writer per engine root is assumed — enforced fail-fast by an
  * advisory heartbeat lock file, see "single-writer root lock" below.
  * Inside the one writer, writes to a stream hold that stream's write
  * lock (the reference's per-stream write locks) and reads take one
  * immutable [[StreamState]] per stream.
  */
class Btrdb(val spark: SparkSession, val root: String,
            private[engine] val sBuckets: Int = 64, tBucketPw: Int = 48,
            bufferCommitThreshold: Long = 32768L,
            private[engine] val pyramidLevels: Seq[Int] = Seq(30, 36, 42, 48),
            private[engine] val pyramidWBucketPw: Int = 54,
            commitRangePw: Int = 36,
            private[engine] val quantileLevel: Option[Int] = None,
            lockRoot: Boolean = true,
            lockStaleMillis: Long = 120000L,
            private[engine] val admission: Admission = Admission.default) extends Pyramid {
  import Btrdb._

  require(pyramidLevels.isEmpty || pyramidWBucketPw >= pyramidLevels.max,
    "pyramid window-bucket width must be at least the coarsest level")
  require(quantileLevel.forall(q => pyramidLevels.nonEmpty &&
      q <= pyramidWBucketPw && q <= pyramidLevels.max),
    "quantile histogram level needs the stat pyramid's maintenance " +
      "machinery (watermark, touched ranges) and must fit the wbucket")

  spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  /** All driver-side metadata I/O (commit files, pointers, partition
    * listings) goes through the Hadoop `FileSystem` of the root URI —
    * the engine runs wherever Spark can read parquet (HDFS, S3A, local).
    * Bulk data always moves through Spark's own parquet reader/writer,
    * which resolves paths through the SAME FileSystem. */
  val store = new Store(root, spark.sessionState.newHadoopConf())

  private[engine] def path(part: String) = s"$root/$part"
  private[engine] def exists(part: String) = store.exists(part)

  // ---- persisted layout geometry --------------------------------------
  //
  // sBuckets / tBucketPw / pyramid geometry are properties of the DATA
  // LAYOUT, not of the handle: a handle opened with the wrong geometry
  // reads the wrong partition dirs (silently missing points), and a
  // mutating op corrupts — compact would find nothing under the wrong
  // sbucket, write a superseding "0 points" commit record and gc the
  // real per-commit files. The first locking writer stamps the root's
  // geometry; EVERY later open (read-only included) validates against
  // it before touching data. External tools (console, daemon) open via
  // [[Btrdb.attach]], which reads the stamp instead of guessing.
  //
  // Sizing pyramidWBucketPw at root creation: the incremental fold
  // rewrites whole (pw, sbucket, wbucket) rollup dirs, so keep the
  // expected finest-level rows per wbucket — 2^(wb − min(pyramidLevels))
  // × stream duty cycle — at or under ~10⁶, or steady commit cost bends
  // from O(batch) toward O(total rollup) as the stream grows (the
  // 1 B-point soak's 1.66 s → 5.2 s, SCALE.md "wbucket geometry"). The
  // engine detects the degeneracy at fold time and surfaces it via
  // engineInfo().warnings + stderr (see Btrdb.wbucketAlarmBytes), but
  // the FIX is this knob, and it is stamped — re-creating the root is
  // the remediation, which is why it must be sized here, not retrofit.
  private val geometryLine = Btrdb.renderGeometry(
    sBuckets, tBucketPw, pyramidLevels, pyramidWBucketPw, quantileLevel)
  store.readString(GeometryFile).map(_.trim).foreach { g =>
    if (g != geometryLine)
      throw new IllegalArgumentException(
        s"engine root $root was built with geometry [$g] but this " +
          s"handle was constructed with [$geometryLine]; a mismatched " +
          "open reads the wrong partition dirs and a mutating op would " +
          "corrupt — use Btrdb.attach(spark, root) to open at the " +
          "persisted geometry")
  }

  // ---- single-writer root lock ---------------------------------------
  //
  // The engine assumes ONE writer per root (the reference holds
  // per-stream write locks; here the commit log + catalog pointer are
  // root-wide, so the contract is root-wide). A best-effort advisory
  // lock makes contention FAIL FAST instead of corrupting the commit
  // log: `engine.lock` is created create-no-overwrite, heartbeat-
  // refreshed while the engine lives, and a lock whose mtime is older
  // than `lockStaleMillis` is treated as a crash leftover and taken
  // over. Best-effort, documented: the stale takeover (delete + create)
  // is not atomic, and `writeExclusive` is only as exact as the store's
  // conditional create (see SCALE.md "Storage atomicity"). Readers and
  // the staging-only streaming appender are NOT gated — the lock guards
  // the commit-log/catalog writer.
  private val lockToken = java.util.UUID.randomUUID().toString
  // heartbeat cadence: a beat every window/4, floored at 250 ms — so
  // the EFFECTIVE staleness window is never tighter than 4 beats,
  // whatever the configured value
  private val lockBeatMillis = math.max(lockStaleMillis / 4, 250L)
  private val lockWindowMillis = math.max(lockStaleMillis, 4 * lockBeatMillis)
  // the lock body carries the holder's EFFECTIVE window (covering the
  // real beat cadence, not the raw configured value — a sub-second
  // configuration would otherwise declare a window its own heartbeat
  // cannot keep) so a later claimant judges liveness by the holder's
  // cadence, not its own: a short-windowed console must not steal the
  // lock from a live writer heartbeating on a longer cadence.
  private def lockBody = s"$lockToken $lockWindowMillis"
  @volatile private var lockHeld = false
  // Set when the heartbeat discovers this writer was EVICTED (paused
  // past its staleness window — GC, VM suspend, NFS hang — and another
  // claimant took the lock over). An evicted handle must not keep
  // mutating: the new owner may already be writing, and two concurrent
  // writers on one root is the exact state the lock exists to prevent.
  // Mutations funnel through writeCommitFile/overwriteCatalog, both of
  // which check this and throw.
  @volatile private var lockEvicted = false
  private var heartbeat: java.util.concurrent.ScheduledExecutorService = null

  private def requireWriterLive(): Unit =
    if (lockEvicted) throw new IllegalStateException(
      s"engine root $root: this writer's lock was evicted (the process " +
        "paused past the staleness window and another claimant took " +
        "over) — mutations are refused to keep the root single-writer; " +
        "open a fresh handle once the other writer is closed")

  if (lockRoot) {
    if (!store.writeExclusive(LockFile, lockBody)) {
      val declared = store.readString(LockFile)
        .flatMap(_.trim.split("\\s+").lift(1))
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(0L)
      val staleAfter = math.max(declared, lockStaleMillis)
      val stale = store.modificationTime(LockFile)
        .forall(m => System.currentTimeMillis() - m > staleAfter)
      if (stale) {
        // re-check right before the delete: a racing claimant that
        // already won the takeover has refreshed the mtime by now, and
        // we must not delete ITS fresh lock
        val still = store.modificationTime(LockFile)
          .forall(m => System.currentTimeMillis() - m > staleAfter)
        if (still) store.delete(LockFile)
      }
      if (!stale || !store.writeExclusive(LockFile, lockBody))
        throw new IllegalStateException(
          s"engine root $root is locked by another live writer " +
            s"(${store.readString(LockFile).getOrElse("?")}); single-writer " +
            "contract — close() the other engine, or delete " +
            s"$root/$LockFile if it is a crash leftover older than " +
            s"$staleAfter ms")
      // The takeover (delete + create) is not atomic: a second claimant
      // racing this one may have deleted OUR fresh lock and created its
      // own — settle, then verify ownership, TWICE. The settle scales
      // with the configured staleness window (floor 50 ms, cap 1 s)
      // rather than hard-coding one store's propagation latency, and
      // the second, longer round catches delayed visibility (coarse
      // mtime resolution, object-store read-after-delete lag) that a
      // single short settle can miss. Still best-effort on stores
      // without atomic conditional create — see writeExclusive's note
      // and SCALE.md "Storage atomicity": on an eventually-consistent
      // object store, prefer deleting a crash-leftover lock by hand
      // over relying on automatic takeover racing another claimant.
      val settle = math.min(math.max(lockStaleMillis / 1000, 50L), 1000L)
      (1 to 2).foreach { round =>
        Thread.sleep(settle * round)
        if (!store.readString(LockFile).map(_.trim).contains(lockBody))
          throw new IllegalStateException(
            s"lost the stale-lock takeover race on $root to " +
              s"${store.readString(LockFile).getOrElse("?")}")
      }
    }
    lockHeld = true
    heartbeat = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      r => { val t = new Thread(r, s"btrdb-lock-heartbeat"); t.setDaemon(true); t })
    heartbeat.scheduleAtFixedRate(
      () => if (lockHeld) {
        // best-effort guards, both load-bearing: (a) verify ownership
        // before rewriting — a holder paused past its window (GC, VM
        // suspend, NFS hang) may have been legitimately evicted, and an
        // unconditional rewrite would clobber the new owner's lock and
        // put two writers on the root (close() carries the same guard);
        // (b) never let an exception escape the task — a thrown
        // scheduled task is silently CANCELLED by the executor, the
        // mtime stops advancing, and a LIVE writer becomes stealable
        // after one transient I/O blip.
        try {
          if (store.readString(LockFile).map(_.trim).contains(lockBody))
            store.rewrite(LockFile, lockBody)
          else {
            // evicted while paused: stand down AND poison the handle —
            // the new owner may already be writing, so silently
            // continuing as a writer would put two writers on the root
            lockHeld = false
            lockEvicted = true
            System.err.println(s"[graft] engine root $root: writer lock " +
              "evicted while this process was paused — another claimant " +
              "took over; this handle now refuses mutations")
          }
        } catch { case _: Exception => () } // transient: retry next beat
      },
      lockBeatMillis, lockBeatMillis,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    // watermark enablement marker, written BEFORE any commit this
    // writer can make: under the marker, a stream with commits but no
    // per-sid watermark file is a CRASHED FIRST FOLD (stale), not a
    // legacy root — without the marker that state would silently read
    // as current (see pyramidCurrent)
    if (pyramidLevels.nonEmpty && !exists(WmEnabledMarker))
      store.writeAtomic(WmEnabledMarker, "1")
    // stamp the root's layout geometry (validated above when present;
    // a pre-stamp root is stamped by its first locking writer, whose
    // args ARE the layout — the single-writer lock serializes this)
    if (!exists(GeometryFile)) store.writeAtomic(GeometryFile, geometryLine)
  }

  /** Release the root lock and drop cached state. The engine must not
    * be used after close; a new `Btrdb` on the same root takes over. */
  def close(): Unit = synchronized {
    if (heartbeat != null) { heartbeat.shutdownNow(); heartbeat = null }
    orderedReader.close()
    if (lockHeld) {
      // only remove a lock we still own (a stale takeover may have
      // replaced it while we were paused)
      if (store.readString(LockFile).map(_.trim.split("\\s+").head)
          .contains(lockToken))
        store.delete(LockFile)
      lockHeld = false
    }
    invalidateCatalog()
    invalidateCommits()
  }

  /** True iff the directory holds at least one parquet data file — an
    * existing-but-drained directory (e.g. staging after every stream
    * flushed: only _SUCCESS and empty partition dirs remain) counts as
    * empty. Driver-side short-circuiting
    * walk; these are metadata-scale directories at any data volume. */
  private[engine] def hasParquet(part: String): Boolean =
    store.containsFile(part, ".parquet")

  private def emptyDf(schema: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  /** An engine-owned Parquet area, or one partition directory inside
    * it, read with its declared schema (see [[Btrdb.PointsSchema]]).
    * Inferring the schema from footers would cost a Spark job per read.
    * Partition columns of a directory read below the area root are
    * absent from its files and read as null. */
  private[engine] def readArea(part: String, schema: String): DataFrame =
    spark.read.schema(schema).parquet(path(part))

  private def readOr(part: String, schema: String): DataFrame =
    if (exists(part)) readArea(part, schema)
    else emptyDf(schema)

  /** One listing of directories inside an engine area: the files whose
    * own directory name passes the request's partition filters, their
    * bytes, and the area's relation over the whole listing, built on
    * first use. */
  private[engine] final class Scan(val files: Seq[FileStatus], relation: => DataFrame) {
    val bytes: Long = files.iterator.map(_.getLen).sum
    lazy val frame: DataFrame = relation
  }

  /** Directories `dirs` inside the area `base` (for example
    * `points/sbucket=S`), listed once by Spark's own file index — the
    * engine issues no listing of its own and never lists the whole area.
    * `keep` picks the files the request's partition filters leave. The
    * relation reads the listing with the area's declared schema; its
    * partition columns come from the paths below `base`, the same
    * relation `spark.read.parquet` builds. Absent directories read
    * empty. */
  private[engine] def scanDirs(base: String, dirs: Seq[String], schema: String)(
      keep: String => Boolean): Scan = {
    val present = dirs.filter(exists)
    if (present.isEmpty) new Scan(Nil, emptyDf(schema))
    else {
      val declared = StructType.fromDDL(schema)
      val options = Map("basePath" -> path(base))
      val index = new InMemoryFileIndex(spark,
        present.map(d => store.fs.makeQualified(store.resolve(d))), options, Some(declared))
      new Scan(index.allFiles().filter(f => keep(f.getPath.getParent.getName)), {
        val partitions = index.partitionSchema
        spark.baseRelationToDataFrame(HadoopFsRelation(index, partitions,
          StructType(declared.filterNot(f => partitions.fieldNames.contains(f.name))),
          None, new ParquetFileFormat, options)(spark))
      })
    }
  }

  /** Keeps the partition directories `key=N` with N in [lo, hi]; signed
    * names such as `tbucket=-3` included. */
  private[engine] def within(key: String, lo: Long, hi: Long)(dirName: String): Boolean =
    dirName.startsWith(s"$key=") &&
      dirName.stripPrefix(s"$key=").toLongOption.exists(v => v >= lo && v <= hi)

  /** The small-read rule of the public DataFrame reads: a per-stream
    * read whose listed files total at most
    * `spark.sql.files.openCostInBytes` — Spark's own cost of opening one
    * file — runs as one partition, so its aggregate and global sort plan
    * no exchange and it runs one job with one task. Larger reads keep the
    * parallel plan. The serving path ([[served]]) runs no plan at all. */
  private def fit(df: DataFrame, bytes: Long): DataFrame =
    if (bytes <= spark.sessionState.conf.filesOpenCostInBytes) df.coalesce(1) else df

  /** Decoder of the files the serving path reads. */
  private[engine] val localParquet = new LocalParquet(spark)
  /** The serving path's reader: one decode thread per session core. */
  private[engine] val orderedReader =
    new OrderedReader(localParquet, spark.sparkContext.defaultParallelism)

  /** Serving-path reads per kind: (reads, points). */
  private val servedCounts: Map[String, (LongAdder, LongAdder)] =
    Seq("raw", "aligned", "windows", "changes", "nearest")
      .map(_ -> ((new LongAdder, new LongAdder))).toMap

  /** One serving-path read of stream `sid`, counted under `kind` with the
    * points `points` gives each row: `read` opens it on one snapshot of
    * the stream's state, and its rows are produced on the calling thread
    * as the reply drains, with no Spark job. A read that races a commit
    * of the stream is opened once more from fresh state: when a listed
    * file vanished before it was opened (a flush deletes the staged files
    * it committed, after the commit), or when the major version moved
    * while it opened, since the log and the write buffer may then hold
    * the same rows. The reply carries the snapshot's (major, minor). */
  private def served[R](kind: String, sid: Long, points: R => Long = (_: R) => 1L)(
      read: StreamState => Rows[R]): ServedRows[R] = {
    def attempt(): Option[ServedRows[R]] = {
      val state = stateOf(sid)
      try {
        val rows = read(state)
        if (majorOf(sid) == state.major) {
          val (_, counted) = servedCounts(kind)
          Some(new ServedRows((state.major, state.minor), rows, (r: R) => counted.add(points(r))))
        } else { rows.close(); None }
      } catch { case e: Exception if vanished(e) => None }
    }
    val out = attempt().orElse(attempt()).getOrElse(throw new IllegalStateException(
      s"a read of stream $sid raced two commits of that stream; retry it"))
    servedCounts(kind)._1.increment()
    out
  }

  private def vanished(e: Throwable): Boolean =
    e != null && (e.isInstanceOf[FileNotFoundException] || vanished(e.getCause))

  // ---- catalog (mprovider equivalent) --------------------------------

  @volatile private var catalogCache: DataFrame = null
  @volatile private var commitsCache: DataFrame = null
  /** Staging batch-id generator: ms epoch << 20 + counter — unique
    * across restarts, disjoint from Spark streaming batch ids. */
  private val batchIdGen = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis() << 20)

  private def invalidateCatalog(): Unit = synchronized {
    if (catalogCache != null) catalogCache.unpersist()
    catalogCache = null
    sidCache.clear()
    tombstonedSidsCache = null
    migratingInSidsCache = null
    migratingOutSidsCache = null
  }

  /** sids of tombstoned (obliterated-but-not-yet-purged) streams —
    * excluded from the SQL views and the pyramid substitution, which
    * span every stream and so cannot rely on per-uuid lookups failing. */
  @volatile private var tombstonedSidsCache: Set[Long] = null
  private def tombstonedSids: Set[Long] = {
    var t = tombstonedSidsCache
    if (t == null) synchronized {
      t = tombstonedSidsCache
      if (t == null) {
        t = catalog.filter(col("tombstoned")).select("sid")
          .collect().map(_.getLong(0)).toSet
        tombstonedSidsCache = t
      }
    }
    t
  }

  /** sids of streams being migrated INTO this root
    * ([[Federation.migrate]]): live in the catalog — their replay goes
    * through the normal uuid API — but excluded from the SQL views and
    * the pyramid substitution until the cutover clears the
    * [[Btrdb.MigratingInAnnotation]] marker, so a federated read can
    * never count a stream at both its old and new home. */
  @volatile private var migratingInSidsCache: Set[Long] = null
  private[engine] def migratingInSids: Set[Long] = {
    var m = migratingInSidsCache
    if (m == null) synchronized {
      m = migratingInSidsCache
      if (m == null) {
        m = catalog.filter(!col("tombstoned") &&
            map_contains_key(col("annotations"),
              Btrdb.MigratingInAnnotation))
          .select("sid").collect().map(_.getLong(0)).toSet
        migratingInSidsCache = m
      }
    }
    m
  }
  /** sids of streams being migrated OUT of this root — the write
    * fence [[Federation.migrate]] raises before replaying: a write
    * that lands at the source after the parity digest would be
    * silently discarded at cutover (the tombstone hides commits that
    * were never replayed to the target), so inserts and deletes are
    * rejected outright while the marker is up. Durable (a catalog
    * annotation) so the fence survives a crash mid-migration; flushes
    * of ALREADY-staged data stay allowed — migrate drains them before
    * the replay, and with inserts fenced no new staging can appear. */
  @volatile private var migratingOutSidsCache: Set[Long] = null
  private[engine] def migratingOutSids: Set[Long] = {
    var m = migratingOutSidsCache
    if (m == null) synchronized {
      m = migratingOutSidsCache
      if (m == null) {
        m = catalog.filter(!col("tombstoned") &&
            map_contains_key(col("annotations"),
              Btrdb.MigratingOutAnnotation))
          .select("sid").collect().map(_.getLong(0)).toSet
        migratingOutSidsCache = m
      }
    }
    m
  }

  private def requireNotMigratingOut(sid: Long, op: String): Unit =
    require(!migratingOutSids.contains(sid),
      s"$op rejected: stream sid=$sid is migrating out of this root " +
        "(writes after the migration's parity digest would be lost at cutover)")

  /** Raise the migrating-out fence (idempotent). */
  private[engine] def beginMigrationOut(uuid: String): Unit = {
    val (desc, _, _) = streamInfo(uuid)
    if (!desc.annotations.contains(Btrdb.MigratingOutAnnotation))
      updateAnnotations(uuid, desc.annotationVersion,
        Map(Btrdb.MigratingOutAnnotation -> Some("1")))
  }

  /** Clear the migrating-out fence (idempotent) — the abort path of a
    * failed migration; the success path obliterates the stream, which
    * removes the fence with it. */
  private[engine] def endMigrationOut(uuid: String): Unit = {
    val (desc, _, _) = streamInfo(uuid)
    if (desc.annotations.contains(Btrdb.MigratingOutAnnotation))
      updateAnnotations(uuid, desc.annotationVersion,
        Map(Btrdb.MigratingOutAnnotation -> None))
  }

  private def invalidateCommits(): Unit = synchronized {
    if (commitsCache != null) commitsCache.unpersist()
    commitsCache = null
  }

  /** The live catalog directory. Whole-catalog rewrites (annotation
    * CAS, obliterate) go to a NEW `catalog_v/<n>` directory and then
    * atomically swing the `catalog_CURRENT` pointer file — a crash at
    * any instant leaves either the old or the new catalog fully intact,
    * never a half-written table (the tmp-then-overwrite pattern this
    * replaces had a destroy-then-rebuild window). Appends (stream
    * creation) land inside the current directory, which parquet commits
    * via its own task-temp rename. */
  private def catalogDir: String =
    store.readString("catalog_CURRENT") match {
      case Some(v) => s"catalog_v/${v.trim}"
      case None => "catalog" // pre-first-rewrite layout
    }

  def catalog: DataFrame = {
    var c = catalogCache
    if (c == null) synchronized {
      c = catalogCache
      if (c == null) {
        c = readOr(catalogDir, CatalogSchema).cache()
        c.count()
        catalogCache = c
      }
    }
    c
  }

  /** CreateStream: uuid and (collection, tags) must be unique among live
    * streams; tombstoned uuids may never be reused
    * (/root/reference/internal/mprovider/metaprovider.go:288-320). */
  def createStream(uuid: String, collection: String,
                   tags: Map[String, String],
                   annotations: Map[String, String] = Map.empty): Long = {
    val cat = catalog.cache()
    // uniqueness of (collection, tags) uses the canonical sorted tag
    // string, as Spark has no MapType equality (reference
    // /root/reference/internal/mprovider/metaprovider.go:27)
    val canonical = tags.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    val canonCol = expr(
      "array_join(transform(array_sort(map_entries(tags)), e -> concat(e.key, '=', e.value)), ',')")
    val clash = cat.filter(col("uuid") === uuid ||
      (!col("tombstoned") && col("collection") === collection &&
        canonCol === canonical)).count()
    require(clash == 0, s"stream exists or uuid tombstoned: $uuid")
    validateMetadata(collection, tags, annotations)
    val sid = cat.agg(coalesce(max("sid"), lit(-1L))).head().getLong(0) + 1
    val row = spark.createDataFrame(Seq(
      (uuid, sid, collection, tags, annotations, 0L, false)))
      .toDF("uuid", "sid", "collection", "tags", "annotations",
        "annotationVersion", "tombstoned")
    row.write.mode(SaveMode.Append).parquet(path(catalogDir))
    cat.unpersist()
    invalidateCatalog()
    sid
  }

  /** Bulk stream creation — one catalog write for N streams (the
    * per-stream path costs a Spark job each; catalogs are created in
    * bulk at 10k-stream scale, mp_test.go:285). Same uniqueness rules. */
  def createStreams(streams: Seq[(String, String, Map[String, String])]): Seq[Long] = {
    val cat = catalog
    val canon = (t: Map[String, String]) =>
      t.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    val existingUuids = cat.select("uuid").collect().map(_.getString(0)).toSet
    val existingKeys = cat.filter(!col("tombstoned"))
      .select("collection", "tags").collect()
      .map(r => (r.getString(0),
        canon(r.getAs[scala.collection.Map[String, String]]("tags").toMap))).toSet
    val dupIn = streams.groupBy(s => (s._2, canon(s._3))).exists(_._2.size > 1)
    require(!dupIn, "duplicate (collection, tags) within batch")
    // two batch rows with the same uuid would get distinct sids, silently
    // breaking uuid uniqueness (/root/reference/internal/mprovider/
    // metaprovider.go:288-320) and making sidOf(uuid) nondeterministic
    require(streams.map(_._1).distinct.size == streams.size,
      "duplicate uuid within batch")
    streams.foreach { case (u, c, t) =>
      require(!existingUuids.contains(u), s"uuid exists/tombstoned: $u")
      require(!existingKeys.contains((c, canon(t))), s"(collection, tags) exists: $c")
      validateMetadata(c, t, Map.empty)
    }
    val sid0 = cat.agg(coalesce(max("sid"), lit(-1L))).head().getLong(0) + 1
    val rows = streams.zipWithIndex.map { case ((u, c, t), i) =>
      (u, sid0 + i, c, t, Map.empty[String, String], 0L, false)
    }
    spark.createDataFrame(rows)
      .toDF("uuid", "sid", "collection", "tags", "annotations",
        "annotationVersion", "tombstoned")
      .write.mode(SaveMode.Append).parquet(path(catalogDir))
    invalidateCatalog()
    rows.map(_._2)
  }

  /** LookupStreams: tag/annotation predicates; None ⇒ key must exist
    * (/root/reference/internal/mprovider/lookup.go:209-292). */
  def lookupStreams(collectionPrefix: String,
                    tags: Map[String, Option[String]] = Map.empty,
                    annotations: Map[String, Option[String]] = Map.empty): DataFrame = {
    val base = tags.foldLeft(
      catalog.filter(!col("tombstoned") &&
        col("collection").startsWith(collectionPrefix))) {
      case (df, (k, Some(v))) => df.filter(col("tags")(k) === v)
      case (df, (k, None))    => df.filter(col("tags")(k).isNotNull)
    }
    annotations.foldLeft(base) {
      case (df, (k, Some(v))) => df.filter(col("annotations")(k) === v)
      case (df, (k, None))    => df.filter(col("annotations")(k).isNotNull)
    }
  }

  /** ListCollections with prefix + cursor + limit (≤10k,
    * /root/reference/internal/mprovider/metaprovider.go:423-451). */
  def listCollections(prefix: String, startingFrom: String = "",
                      limit: Int = 10000): DataFrame =
    catalog.filter(!col("tombstoned") && col("collection").startsWith(prefix) &&
        col("collection") >= startingFrom)
      .select("collection").distinct()
      .orderBy("collection").limit(math.min(limit, 10000))

  /** GetKeyUsage: streams-per-tag-key and per-annotation-key counts. */
  def keyUsage(collectionPrefix: String): DataFrame = {
    val live = catalog.filter(!col("tombstoned") &&
      col("collection").startsWith(collectionPrefix))
    live.select(explode(map_keys(col("tags"))).as("key"), lit("tag").as("kind"))
      .unionByName(live.select(explode(map_keys(col("annotations"))).as("key"),
        lit("annotation").as("kind")))
      .groupBy("kind", "key").agg(count(lit(1)).as("cnt"))
  }

  /** SetStreamAnnotations, set-only convenience form. */
  def setAnnotations(uuid: String, expectedVersion: Long,
                     updates: Map[String, String]): Unit =
    updateAnnotations(uuid, expectedVersion,
      updates.map { case (k, v) => k -> Some(v) })

  /** SetStreamAnnotations with the reference's full change semantics:
    * CAS on annotationVersion; a `None` value REMOVES the key (the
    * `map[string]*string` nil-value convention,
    * /root/reference/internal/mprovider/metaprovider.go:98,142-208). */
  def updateAnnotations(uuid: String, expectedVersion: Long,
                        changes: Map[String, Option[String]]): Unit = {
    val updated = collectCatalog().map { c =>
      if (c._1 == uuid) {
        require(c._6 == expectedVersion,
          s"annotation CAS failed: expected $expectedVersion got ${c._6}")
        changes.foreach { case (k, v) =>
          require(Btrdb.validAnnKey(k), s"invalid annotation key: '$k'")
          v.foreach(value => require(value.length < Btrdb.MaxAnnValLength,
            s"annotation value too long: '$k'"))
        }
        val anns = (c._5 ++ changes.collect { case (k, Some(v)) => k -> v }) --
          changes.collect { case (k, None) => k }
        require(anns.size <= Btrdb.MaximumAnnotations, "annotation limit")
        c.copy(_5 = anns, _6 = c._6 + 1)
      } else c
    }
    overwriteCatalog(updated)
  }

  /** Obliterate: tombstone the stream; its sid never reappears in reads
    * (/root/reference/quasar.go:572-593). Data is left for compaction. */
  def obliterate(uuid: String): Unit =
    overwriteCatalog(collectCatalog().map(c =>
      if (c._1 == uuid) c.copy(_7 = true) else c))

  private def collectCatalog(): Array[(String, Long, String,
      Map[String, String], Map[String, String], Long, Boolean)] =
    catalog.collect().map { r => // catalog is small by construction
      (r.getAs[String]("uuid"), r.getAs[Long]("sid"), r.getAs[String]("collection"),
        r.getAs[scala.collection.Map[String, String]]("tags").toMap,
        r.getAs[scala.collection.Map[String, String]]("annotations").toMap,
        r.getAs[Long]("annotationVersion"), r.getAs[Boolean]("tombstoned"))
    }

  /** Crash-safe whole-catalog rewrite: write the next `catalog_v/<n>`
    * directory in full, then atomically move a pointer file onto
    * `catalog_CURRENT`. Readers resolve through the pointer, so they
    * see the old catalog until the instant of the (atomic) move and the
    * new one after — no window where the catalog is missing or partial.
    * The superseded directory is removed after the swing; a crash
    * between move and cleanup leaves only an orphan directory. */
  private def overwriteCatalog(rows: Array[(String, Long, String,
      Map[String, String], Map[String, String], Long, Boolean)]): Unit = {
    requireWriterLive()
    val df = spark.createDataFrame(rows.toSeq)
      .toDF("uuid", "sid", "collection", "tags", "annotations",
        "annotationVersion", "tombstoned")
    val oldDir = catalogDir
    val next = oldDir match {
      case "catalog" => 1L
      case d => d.stripPrefix("catalog_v/").toLong + 1
    }
    df.write.mode(SaveMode.Overwrite).parquet(path(s"catalog_v/$next"))
    store.writeAtomic("catalog_CURRENT", next.toString)
    // Superseded generations are RETAINED (bounded) rather than deleted
    // on the spot: a registered SQL view captures its parquet file list
    // at registration, so deleting the just-replaced directory turns
    // every live catalog view into FILE_NOT_EXIST on the next metadata
    // mutation — the long-running daemon's catalog surface must degrade
    // to STALE, never to broken. A view more than
    // [[Btrdb.RetainedCatalogGenerations]] swings stale needs a
    // re-registration, the same contract compaction already imposes on
    // pinned point readers.
    val floor = next - Btrdb.RetainedCatalogGenerations
    if (floor > 0) deleteDir("catalog") // pre-versioning layout
    store.listNames("catalog_v")
      .flatMap(_.toLongOption).filter(_ <= floor)
      .foreach(n => deleteDir(s"catalog_v/$n"))
    invalidateCatalog()
  }

  /** Full metadata validation — the reference's limits table
    * (/root/reference/internal/mprovider/metaprovider.go:18-47): key
    * regex ^[a-z][a-z0-9_.]*$ with length < 64; tag values non-empty,
    * NUL-free, < 256; annotation values < 256 (may be empty); collection
    * non-empty, NUL-free, < 256; ≤32 tags, ≤64 annotations. */
  private def validateMetadata(collection: String, tags: Map[String, String],
                               annotations: Map[String, String]): Unit = {
    import Btrdb._
    require(collection.nonEmpty && collection.length < MaxCollectionLength &&
      !collection.contains('\u0000'), s"invalid collection: '$collection'")
    require(tags.size <= MaximumTags, "tag limit")
    require(annotations.size <= MaximumAnnotations, "annotation limit")
    tags.foreach { case (k, v) =>
      require(validTagKey(k), s"invalid tag key: '$k'")
      require(v.nonEmpty && v.length < MaxTagValLength && !v.contains('\u0000'),
        s"invalid tag value for '$k'")
    }
    annotations.foreach { case (k, v) =>
      require(validAnnKey(k), s"invalid annotation key: '$k'")
      require(v.length < MaxAnnValLength, s"annotation value too long: '$k'")
    }
  }

  private val sidCache = scala.collection.mutable.Map.empty[String, Long]

  /** Internal stream id of a live uuid (stable for the stream's life).
    * Memoized — the uuid→sid hop fronts every engine call and must not
    * cost a catalog job each time; the cache clears with the catalog
    * (obliterate tombstones invalidate it). */
  def sidOf(uuid: String): Long = synchronized {
    sidCache.getOrElseUpdate(uuid,
      catalog.filter(col("uuid") === uuid && !col("tombstoned"))
        .select("sid").head().getLong(0))
  }

  // ---- versioned storage ---------------------------------------------

  /** The commit log as a DataFrame. Stored as JSON lines — one small
    * file per commit, written by the driver with NO Spark job (a commit
    * is one metadata row; a distributed write for it is pure scheduler
    * overhead, and the reference's per-commit superblock write is the
    * same O(1) metadata append). Parsed with an explicit schema so all
    * int64 ns values round-trip exactly. */
  def commits: DataFrame = {
    var c = commitsCache
    if (c == null) synchronized {
      c = commitsCache
      if (c == null) {
        val raw = (if (exists("commits"))
            spark.read.schema(
              org.apache.spark.sql.types.StructType.fromDDL(CommitSchema))
              .json(path("commits"))
          else emptyDf(CommitSchema))
          .withColumn("compacted", coalesce(col("compacted"), lit(false)))
          // a crash between an archive write and the per-file deletes
          // leaves records present in BOTH — identical lines, deduped
          .distinct()
        // supersede rule: a compacted record at version V replaces every
        // plain record of its stream at version ≤ V (and any older
        // compacted record) — this is what makes compact() crash-safe:
        // leftovers from an interrupted garbage collection are ignored,
        // never double-counted
        val cv = raw.filter(col("compacted"))
          .groupBy("sid").agg(max("version").as("_cv"))
        c = raw.join(cv, Seq("sid"), "left_outer")
          .filter(col("_cv").isNull || col("version") > col("_cv") ||
            (col("compacted") && col("version") === col("_cv")))
          .drop("_cv")
          .cache()
        c.count()
        commitsCache = c
      }
    }
    c
  }

  /** Per-stream commit state, one immutable [[StreamState]] per stream,
    * seeded from the commit log and the write buffer once and replaced
    * by every commit, so the ingest, read and stat hot paths never
    * re-scan commit metadata. A read takes one value per stream and
    * pins everything to it, with no lock. */
  private[engine] val states = new ConcurrentHashMap[Long, StreamState]()
  @volatile private var seeded = false
  /** Per-stream write locks: writes to one stream are serialized, as by
    * the reference's per-stream write mutex. Lock order: a stream's lock,
    * then the engine monitor, never the reverse. */
  private val writeLocks = new ConcurrentHashMap[Long, ReentrantLock]()

  /** Runs `body` holding the write locks of `sids`, taken in sid order. */
  private[engine] def writing[T](sids: Long*)(body: => T): T =
    locked(sids.distinct.sorted.map(writeLocks.computeIfAbsent(_, _ => new ReentrantLock())))(body)

  /** Locks of the files that writes to different streams share, taken
    * inside the stream locks: `sbucket=S` around every rewrite of that
    * sbucket's pyramid and qhist directories (two streams' folds rewrite
    * the same (pw, sbucket, wbucket) directory), and one per area
    * (`staging`, `points`) around its appends, which share the area's
    * `_temporary` directory, and around the point-log rewrites, which
    * replace directories that appends write into. Lock order: stream
    * locks, then these, then the engine monitor. */
  private val fileLocks = new ConcurrentHashMap[String, ReentrantLock]()

  /** Runs `body` holding the file locks `names`, taken in name order. */
  private[engine] def exclusive[T](names: String*)(body: => T): T =
    locked(names.distinct.sorted.map(fileLocks.computeIfAbsent(_, _ => new ReentrantLock())))(body)

  private def locked[T](locks: Seq[ReentrantLock])(body: => T): T = {
    locks.foreach(_.lock())
    try body finally locks.reverse.foreach(_.unlock())
  }

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

  /** Seeds every stream's state once: the [[StreamState.committed]]
    * transition folded over the commit log, then the write buffer's
    * staged counts (after [[recoverFlushedStaging]]). */
  private def seed(): Unit = if (!seeded) synchronized {
    if (!seeded) {
      val records = commits.select("sid", "version", "kind", "tmin", "tmax",
          "npoints", "ranges", "compacted", "batches", "grid")
        .collect().toSeq.map { r =>
          CommitRecord(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
            r.getLong(4), r.getLong(5),
            if (r.isNullAt(6)) Seq((r.getLong(3), r.getLong(4) + 1))
            else r.getSeq[Row](6).map(x => (x.getLong(0), x.getLong(1))),
            r.getBoolean(7), if (r.isNullAt(8)) Nil else r.getSeq[Long](8),
            // legacy records without the flag read as off-grid
            !r.isNullAt(9) && r.getBoolean(9))
        }
      recoverFlushedStaging(records)
      val staged =
        if (!hasParquet("staging")) Array.empty[Row]
        else stagingDf.groupBy("sid").agg(count(lit(1)), min("time"), max("time")).collect()
      val all = staged.foldLeft(StreamState.fold(records)) { (m, r) =>
        m.updated(r.getLong(0), m.getOrElse(r.getLong(0), StreamState.Empty)
          .staged(r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      states.clear()
      states.putAll(all.asJava)
      seeded = true
    }
  }

  /** The PQM write buffer, partitioned by `sid` (each stream's buffer is
    * independent, /root/reference/pqm.go:510-625) and a writer-private
    * `batch` subkey (streaming replay idempotence). Reads declare both
    * partition columns BIGINT and drop the physical subkey. */
  private def stagingDf: DataFrame =
    readArea("staging", StagingSchema).select("sid", "time", "value")

  /** Flush crash recovery: each flush commit records the staging batch
    * ids it consumed; a crash between the commit and the staging delete
    * leaves those batches on disk, where a naive restart would re-flush
    * them as duplicates. On seeding, drop any staged batch dir whose
    * id appears in its stream's latest insert commit — the
    * same version-match replay guard as /root/reference/pqm.go:172-179,
    * keyed by batch id instead of journal version. */
  private def recoverFlushedStaging(records: Seq[CommitRecord]): Unit = {
    val consumed = records.filter(_.kind == "insert").groupBy(_.sid)
      .map { case (sid, rs) => sid -> rs.maxBy(_.version).batches.toSet }
      .filter(_._2.nonEmpty)
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

  /** Re-seed staged counts from disk — call after an external writer
    * (e.g. StreamingIngest) appended to this root's staging area. */
  def refreshStaging(): Unit = synchronized { seeded = false }

  /** Re-read the catalog from disk — call after an external process
    * rewrote it (a writer's annotation CAS / obliterate seen from a
    * read-only attach). */
  def refreshCatalog(): Unit = synchronized { invalidateCatalog() }

  /** Re-read commit metadata from disk — call after an external process
    * touched the commit log (recovery tooling, tests). */
  def refreshCommits(): Unit = synchronized {
    invalidateCommits()
    seeded = false
    refreshRollups()
  }

  /** StreamInfo: descriptor + (major, minor) version
    * (/root/reference/grpcinterface/serve.go StreamInfo RPC). */
  def streamInfo(uuid: String): (StreamDescInfo, Long, Long) = {
    val r = catalog.filter(col("uuid") === uuid && !col("tombstoned")).head()
    val (maj, minor) = version(uuid)
    (StreamDescInfo(
      r.getAs[String]("uuid"), r.getAs[Long]("sid"), r.getAs[String]("collection"),
      r.getAs[scala.collection.Map[String, String]]("tags").toMap,
      r.getAs[scala.collection.Map[String, String]]("annotations").toMap,
      r.getAs[Long]("annotationVersion")), maj, minor)
  }

  /** Info RPC analog (/root/reference/grpcinterface/btrdb.proto:18 +
    * serve.go:818-874): engine build/version plus a catalog and point-log
    * summary. The reference reports MASH cluster state; a single Spark
    * engine root has no membership to report, so `healthy` is
    * unconditionally true and the member list is empty — the analog of a
    * 1-node healthy cluster. `pointCount` totals committed insert
    * generations (deletes are anti-filters, not decrements). */
  def engineInfo(): EngineInfo = {
    val live = catalog.filter(!col("tombstoned")).count()
    val pts = commits.filter(col("kind") === "insert")
      .agg(coalesce(sum("npoints"), lit(0L))).head().getLong(0)
    EngineInfo(majorVersion = 4, minorVersion = 15,
      build = "graft-spark (btrdb-surface 4.15)", healthy = true,
      streamCount = live, pointCount = pts,
      pools = admission.gauges, warnings = wbucketWarnings, reads = readCounts)
  }

  /** Reads answered so far on the serving path, per kind, and the points
    * their rows carried (see [[served]]). Nearest counts its probes. */
  private[graft] def readCounts: Map[String, ReadCounts] =
    servedCounts.map { case (kind, (reads, points)) =>
      kind -> ReadCounts(reads.sum, points.sum) }

  /** (major, minor) version of a stream: major = last committed
    * generation, minor = staged (unflushed) point count
    * (/root/reference/pqm.go:337-355). */
  def version(uuid: String): (Long, Long) = versionOf(sidOf(uuid))

  private def versionOf(sid: Long): (Long, Long) = {
    val s = stateOf(sid)
    (s.major, s.minor)
  }

  private[engine] def majorOf(sid: Long): Long = stateOf(sid).major

  /** Insert: validate, stage; auto-commit when the buffer crosses the
    * threshold (PQM semantics, /root/reference/pqm.go:510-625).
    * Returns (major, minor) after the insert. */
  def insert(uuid: String, points: DataFrame): (Long, Long) =
    admission.run(Admission.Write)(insertImpl(uuid, points))

  private def insertImpl(uuid: String, points: DataFrame): (Long, Long) = {
    val sid = sidOf(uuid)
    requireNotMigratingOut(sid, "insert")
    val batch = points.select(lit(sid).as("sid"),
      col("time").cast("long").as("time"), col("value").cast("double").as("value"))
    // ONE aggregation pass over the batch produces the window partials;
    // validation, count, envelope, touched ranges, AND the pyramid fold
    // all derive from them — the raw batch is only read once more, by
    // the point-log write itself
    val partials = batchPartials(batch).cache()
    try {
      val st = batchStats(partials)
      if (st.n > 0) require(st.bad == 0,
        s"${st.bad} points rejected: NaN/Inf value or time out of range")
      writing(sid) {
        if (st.n > 0) {
          if (stateOf(sid).minor == 0 && st.n >= bufferCommitThreshold)
            // large batch, empty buffer: commit directly — no staging round-trip
            commitBatch(sid, batch, st, partials)
          else {
            stage(batch)
            publish(sid)(_.staged(st.n, st.tmin, st.tmax))
            if (stateOf(sid).minor >= bufferCommitThreshold) flushImpl(sid)
          }
        }
        versionOf(sid)
      }
    } finally partials.unpersist()
  }

  /** Stage a multi-stream batch in ONE pass: `points` carries
    * (sid, time, value) rows for already-created streams. The whole
    * batch lands in the per-sid staging partitions under a single
    * engine batch id — one validation job and one write regardless of
    * stream count, where N per-stream insert() calls would each re-scan
    * their source. Commit cadence stays per-stream: follow with
    * flushAll(0) (or rely on the age/threshold scanner). */
  def insertAll(points: DataFrame): Unit =
    admission.run(Admission.Write) {
      val batch = points.select(col("sid").cast("long").as("sid"),
        col("time").cast("long").as("time"),
        col("value").cast("double").as("value"))
      val counts = batch.groupBy("sid")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(when(!TimeOps.validPoint(col("time"), col("value")), 1L)),
            lit(0L)).as("bad"),
          min("time").as("tmin"), max("time").as("tmax"))
        .collect()
      val bad = counts.map(_.getLong(2)).sum
      require(bad == 0,
        s"$bad points rejected: NaN/Inf value or time out of range")
      val known = catalog.filter(!col("tombstoned"))
        .select("sid").collect().map(_.getLong(0)).toSet
      val sids = counts.map(_.getLong(0)).toSeq
      val unknown = sids.filterNot(known)
      require(unknown.isEmpty, s"unknown sids: ${unknown.mkString(",")}")
      sids.foreach(requireNotMigratingOut(_, "insertAll"))
      seed() // before the write: seeding counts the staged files
      writing(sids: _*) {
        stage(batch)
        counts.foreach(r =>
          publish(r.getLong(0))(_.staged(r.getLong(1), r.getLong(3), r.getLong(4))))
      }
    }

  /** Appends `batch` (sid, time, value) to the write buffer under a
    * unique engine-generated batch id (disjoint from StreamingIngest's
    * small checkpoint batchIds): flush records the ids it consumes, making
    * an interrupted flush recoverable without duplicates. Each file is
    * time-sorted: the sort leads with the partition columns, as the
    * planned write requires, or the write would replace it by its own. */
  private def stage(batch: DataFrame): Unit =
    exclusive("staging") {
      batch.withColumn("batch", lit(batchIdGen.incrementAndGet()))
        .sortWithinPartitions("sid", "batch", "time")
        .write.mode(SaveMode.Append).partitionBy("sid", "batch")
        .parquet(path("staging"))
    }

  /** Granularity of the one-pass batch partials: the finest pyramid
    * level (so the fold needs no re-aggregation) but never coarser than
    * the commit-range clustering width. */
  private[engine] val partialPw: Int =
    math.min(pyramidLevels.sorted.headOption.getOrElse(commitRangePw),
      commitRangePw)

  /** The single aggregation pass every commit makes over its batch:
    * per-2^partialPw-window (cnt, bad, time envelope, vmin, vmax, vsum).
    * Everything else — validation verdicts, commit envelope, touched
    * ranges, pyramid maintenance — is derived from these partials, which
    * are ≤ one row per touched window. */
  private def batchPartials(batch: DataFrame): DataFrame = {
    val c = StatOps.cents(col("value"))
    batch.groupBy(TimeOps.clampTime(col("time"), partialPw).as("wstart"))
      .agg(count(lit(1)).as("cnt"),
        coalesce(sum(when(!TimeOps.validPoint(col("time"), col("value")), 1L)),
          lit(0L)).as("bad"),
        min("time").as("ts"), (max("time") + 1).as("te"),
        min("value").as("vmin"), max("value").as("vmax"),
        sum("value").as("vsum"),
        sum(StatOps.centsSum(col("value"))).as("vsc"),
        // rows whose value HAS a representable cents integer — serving
        // paths compare Σccnt to Σcnt and fall back to the double mean
        // when they differ (a null-skipped vsc must never be divided by
        // the full count)
        count(c).as("ccnt"),
        // values NOT on the cents grid — lossy to round (off by up to
        // 0.005) or outside the cents LONG domain entirely (c is null)
        // — mark the commit inexact for pyramid-served SQL avg/sum
        coalesce(sum(when(
          !(col("value") === c / lit(100.0)) || c.isNull, 1L)),
          lit(0L)).as("og"))
  }

  /** Batch statistics from the partials: count, invalid count, envelope,
    * and the per-commit TOUCHED RANGES — the sub-envelope fidelity the
    * reference gets from generation-stamped subtrees
    * (/root/reference/qtree/qtree.go:255-351). Each range is the EXACT
    * [min, max+1) envelope of a cluster of touched 2^pw buckets; pw is
    * ADAPTIVE: it starts at the finest partial granularity (so a small
    * or tight batch records ranges at full 2^partialPw fidelity — the
    * reference resolves changes to ANY requested resolution,
    * qtree.go:255-351) and coarsens only until the bucket count is
    * bounded, so the commit record stays metadata-sized no matter how
    * the batch is shaped. A backfill touching two points a year apart
    * records two tight ranges, not one year-wide envelope — `changes()`
    * consumers and the pyramid invalidator both read these. */
  private def batchStats(partials: DataFrame): BatchStats = {
    val MaxBuckets = 256
    val MaxRanges = 64
    var pw = partialPw
    // (b, n, bad, s, e, og)
    var rows: Array[Row] = null
    while (rows == null) {
      val got = partials
        .groupBy(TimeOps.clampTime(col("wstart"), pw).as("b"))
        .agg(sum("cnt").as("n"), sum("bad").as("bad"),
          min("ts").as("s"), max("te").as("e"), sum("og").as("og"))
        .orderBy("b").limit(MaxBuckets + 1).collect()
      // an overflowed collect is truncated — its stats are unusable
      if (got.length <= MaxBuckets || pw >= 60) rows = got else pw += 8
    }
    if (rows.isEmpty) return BatchStats(0, 0, 0, 0, Nil)
    // every caller rejects a batch holding invalid points, whose null
    // times have no bucket: it gets its counts and no ranges (null
    // buckets sort first, so a truncated collect still holds them)
    val bad = rows.map(_.getLong(2)).sum
    if (bad > 0) return BatchStats(rows.map(_.getLong(1)).sum, bad, 0, 0, Nil)
    val buckets = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5)))
    // merge clusters of adjacent buckets (driver-side; ≤256 entries)
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val width = 1L << pw
    buckets.sortBy(_._1).foreach { case (b, _, _, s, e, _) =>
      // adjacent iff this bucket starts right after the previous range's
      // last touched bucket: ((e-1) | (width-1)) + 1 is that next start
      if (merged.nonEmpty && b <= ((merged.last._2 - 1) | (width - 1)) + 1)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((s, e))
    }
    // pathological spray: close the smallest gaps until bounded
    while (merged.size > MaxRanges) {
      val gi = merged.indices.init.minBy(i => merged(i + 1)._1 - merged(i)._2)
      merged(gi) = (merged(gi)._1, merged(gi + 1)._2)
      merged.remove(gi + 1)
    }
    BatchStats(buckets.map(_._2).sum, buckets.map(_._3).sum,
      buckets.map(_._4).min, buckets.map(_._5).max - 1, merged.toSeq,
      buckets.map(_._6).sum)
  }

  /** Commit a validated batch as the stream's next generation: write the
    * partitioned point files, the commit record (with its touched
    * ranges), and fold the batch's partials into exactly the rollup
    * buckets it touches. */
  private def commitBatch(sid: Long, batch: DataFrame, st: BatchStats,
                          partials: DataFrame,
                          consumedBatches: Seq[Long] = Nil,
                          atVersion: Option[Long] = None,
                          asCompacted: Boolean = false): Long = {
    // atVersion: migration replay pins the generation number so the
    // target's version history matches the source's (which may have
    // gaps after a compaction collapse); normal commits allocate
    // major+1. A replayed compacted snapshot keeps its rows' ORIGINAL
    // version stamps (they are ≤ v and carried in the batch) and lands
    // as a compacted record, reproducing the source's collapsed floor.
    val v = atVersion.getOrElse(majorOf(sid) + 1)
    // no repartition: a full shuffle per ingest batch is the wrong trade
    // at scale — file count is bounded by input partitions × touched
    // tbuckets per batch (time-contiguous batches touch few)
    writePoints((if (batch.columns.contains("version")) batch
     else batch.withColumn("version", lit(v)))
      .withColumn("sbucket", pmod(col("sid"), lit(sBuckets)))
      .withColumn("tbucket", shiftright(col("time"), tBucketPw)), SaveMode.Append)
    appendCommit(CommitRecord(sid, v, "insert", st.tmin, st.tmax, st.n, st.ranges,
      asCompacted, consumedBatches, grid = st.offGrid == 0L))
    // INSERT path: the batch's partial aggregates fold into the existing
    // rollup rows — no point-log rescan, no second batch pass (the
    // quantile histogram, when enabled, is the one extra batch pass:
    // its key is (window, cents value), not expressible in the stat
    // partials' (window) groupBy)
    val qPartials = quantileLevel.map { q =>
      batch.groupBy(TimeOps.clampTime(col("time"), q).as("wstart"),
          StatOps.cents(col("value")).as("c"))
        .agg(count(lit(1)).as("cnt"))
    }
    maintainPyramid(sid, st.ranges, foldPartials = Some(partials), v,
      foldQhist = qPartials)
    v
  }

  /** Flush: staged points → committed log at version major+1; write the
    * commit record; incrementally maintain the pyramid; clear staging
    * (/root/reference/quasar.go:221-229). Staging is partitioned by sid,
    * so clearing this stream is one partition-directory delete — flush
    * cost is O(this stream's buffer), never O(all streams' buffers).
    * Crash-safe: the commit records the staged batch ids it consumed,
    * and the first staging seed after a restart drops any batch already
    * committed (see recoverFlushedStaging) — an interrupted flush never
    * duplicates points. */
  def flush(uuid: String): (Long, Long) =
    admission.run(Admission.Write)(flushImpl(sidOf(uuid)))

  private def flushImpl(sid: Long): (Long, Long) = writing(sid) {
    if (stateOf(sid).minor > 0) {
      val staged = stagingDf.filter(col("sid") === sid).cache()
      val partials = batchPartials(staged).cache()
      val st = batchStats(partials)
      if (st.n > 0) {
        commitBatch(sid, staged, st, partials, consumedBatches = stagedBatches(sid))
        deleteDir(s"staging/sid=$sid")
      }
      partials.unpersist()
      staged.unpersist()
      publish(sid)(_.flushed)
    }
    versionOf(sid)
  }

  /** The PQM scanner analog (/root/reference/pqm.go:33-35,207-235: the
    * reference force-flushes buffers older than 8 h, scanning every
    * 2 min): flush every stream whose staging buffer is non-empty and
    * either crosses the commit threshold or has sat longer than
    * `maxAgeMillis` (age = oldest staged file's mtime; 0 flushes
    * everything — the shutdown drain). Run from a scheduler or after a
    * streaming micro-batch burst; returns the flushed uuids. */
  def flushAll(maxAgeMillis: Long = 8L * 3600 * 1000): Seq[String] = {
    val now = System.currentTimeMillis()
    val staged = snapshot().filter(_._2.minor > 0)
    val flushed = staged.keys.toSeq.sorted.filter { sid =>
      val oldest: Long =
        store.oldestFileMtime(s"staging/sid=$sid").getOrElse(Long.MaxValue)
      staged(sid).minor >= bufferCommitThreshold ||
        (oldest != Long.MaxValue && now - oldest >= maxAgeMillis)
    }
    flushed.foreach(sid => admission.run(Admission.Write)(flushImpl(sid)))
    // the scanner is also the natural cadence for bounding the commit
    // directory — roll per-commit files into one archive once they pile up
    archiveCommitLog()
    uuidsOf(flushed)
  }

  /** The uuids of `sids`, from the uuid→sid memo ([[sidOf]]); only the
    * streams this handle never looked up (staged by insertAll or
    * StreamingIngest) cost a catalog query, one for all of them. */
  private def uuidsOf(sids: Seq[Long]): Seq[String] = {
    val known = synchronized(sidCache.map(_.swap).toMap)
    val missing = sids.filterNot(known.contains)
    val found =
      if (missing.isEmpty) Map.empty[Long, String]
      else catalog.filter(col("sid").isin(missing: _*)).select("sid", "uuid")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    sids.map(sid => known.getOrElse(sid, found(sid)))
  }

  /** DeleteRange [start, end): pure commit-log operation — readers apply
    * the anti-filter merge-on-read (/root/reference/quasar.go:481-514). */
  def deleteRange(uuid: String, start: Long, end: Long): (Long, Long) =
    admission.run(Admission.Write)(deleteRangeImpl(uuid, start, end))

  private def deleteRangeImpl(uuid: String, start: Long, end: Long): (Long, Long) = {
    val sid = sidOf(uuid)
    requireNotMigratingOut(sid, "deleteRange")
    writing(sid) {
      flushImpl(sid) // deletes apply to committed data, like the reference
      val v = majorOf(sid) + 1
      appendCommit(CommitRecord(sid, v, "delete", start, end, 0, Seq((start, end))))
      maintainPyramid(sid, Seq((start, end)), foldPartials = None, v)
      versionOf(sid)
    }
  }

  // ---- migration replay (Federation.migrate) --------------------------

  /** Raw point rows of one committed generation — the replay source for
    * [[Federation.migrate]]. `upTo` reads every row at version ≤ v
    * (the shape of a compacted record, whose snapshot keeps original
    * version numbers); otherwise exactly version v. */
  private[engine] def generationRows(uuid: String, v: Long,
                                     upTo: Boolean): DataFrame = {
    // version is carried so a compacted snapshot's rows keep their
    // ORIGINAL stamps at the target (a plain generation's rows all
    // carry exactly v, so the column is equivalent to re-stamping). A
    // delete hides only rows written below it, so the pin at v hides
    // none of generation v's rows
    val rows = pointLog(Some(Seq(sidOf(uuid))), v, buffered = false).frame
    (if (upTo) rows else rows.filter(col("version") === v))
      .select("time", "value", "version")
  }

  /** Repair pass for a crashed replay ([[Federation.migrate]] resume):
    * point rows of `uuid` with version ABOVE the committed major are
    * provably uncommitted orphans — a replayed (or flushed) generation
    * that died between its point-log append inside [[commitBatch]] and
    * its commit-file write. Left in place they are invisible to reads
    * (every read pins version ≤ major), but a resumed replay
    * re-appends the same generation at the same pinned version, and
    * the duplicated rows would fail the migration parity gate
    * PERMANENTLY with no repair path. Drops them by rewriting exactly
    * the touched tbuckets (the same bounded-working-set shape as
    * compact/purge: detection is one column-pruned, partition-pruned
    * scan of the stream's sbucket; clean roots rewrite nothing).
    * Returns the number of orphan rows dropped. */
  private[engine] def dropUncommittedReplay(uuid: String): Long = {
    val sid = sidOf(uuid)
    writing(sid) {
      val orphan = col("sid") === sid && col("version") > majorOf(sid)
      // the latest read without the write buffer reads every written row
      val touched = pointLog(Some(Seq(sid)), buffered = false).frame
        .filter(orphan)
        .groupBy(shiftright(col("time"), tBucketPw).as("tb"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      if (touched.nonEmpty) rewritePoints(sid % sBuckets, touched.contains, orphan)
      touched.values.sum
    }
  }

  /** Replay one insert generation at a PINNED version — the migration
    * analog of a commit: same validation, point-log write, commit
    * record and incremental pyramid fold, but the generation number is
    * the source's (which may leave gaps after a compaction collapse —
    * [[appendCommit]] advances the major to the max seen). Requires an
    * empty staging buffer: replay interleaved with live writes on the
    * target stream has no defined version order. */
  private[engine] def replayInsert(uuid: String, atVersion: Long,
                                   points: DataFrame,
                                   asCompacted: Boolean = false): Unit =
    admission.run(Admission.Write) {
      val sid = sidOf(uuid)
      writing(sid) {
        requireReplayable(sid, atVersion)
        val batch = points.select(lit(sid).as("sid"),
          col("time").cast("long").as("time"),
          col("value").cast("double").as("value"),
          col("version").cast("long").as("version"))
        val partials = batchPartials(batch).cache()
        val st = batchStats(partials)
        if (st.n > 0) {
          require(st.bad == 0,
            s"${st.bad} replayed points invalid: NaN/Inf or time out of range")
          commitBatch(sid, batch, st, partials, atVersion = Some(atVersion),
            asCompacted = asCompacted)
        } else {
          // a zero-survivor compacted source generation: record the
          // version so pinned reads line up (the source compactor's
          // n == 0 convention: tmin = tmax = 0, one degenerate range),
          // which covers no time (see StreamState.committed)
          appendCommit(CommitRecord(sid, atVersion, "insert", 0L, 0L, 0L, Seq((0L, 1L)),
            asCompacted, grid = true))
          // nothing to fold, but the watermark must advance (and heal any
          // earlier crashed fold) or the rollup would read as stale
          maintainPyramid(sid, Nil, foldPartials = None, atVersion)
        }
        partials.unpersist()
      }
    }

  /** Replay one delete commit at a PINNED version — appends the
    * anti-filter record and invalidates the touched rollups, with no
    * implicit flush (the target stream takes no live writes during
    * migration). */
  private[engine] def replayDelete(uuid: String, atVersion: Long,
                                   start: Long, end: Long): Unit =
    admission.run(Admission.Write) {
      val sid = sidOf(uuid)
      writing(sid) {
        requireReplayable(sid, atVersion)
        appendCommit(CommitRecord(sid, atVersion, "delete", start, end, 0, Seq((start, end))))
        maintainPyramid(sid, Seq((start, end)), foldPartials = None, atVersion)
      }
    }

  private def requireReplayable(sid: Long, atVersion: Long): Unit = {
    val s = stateOf(sid)
    require(atVersion > s.major, s"replay version $atVersion not above major ${s.major}")
    require(s.minor == 0, "replay into a stream with staged points")
  }

  /** Compact one stream: materialize its latest-visible snapshot (delete
    * anti-filters applied, old generations dropped), rewrite the
    * partitions holding it, and collapse its commit history to a single
    * generation. Merge-on-read debt goes to zero and the pyramid fast
    * path (disabled while delete commits exist) is re-enabled.
    * Trade-off, documented: time travel below the current major version
    * is forfeited for this stream.
    *
    * TBUCKET-AT-A-TIME: the working set is ONE (sbucket, tbucket)
    * partition — peak materialized size is bounded by a single tbucket
    * (~3.5 GB at the 100 TB layout), never the stream's whole sbucket.
    * Rows keep their original version numbers (bumping them to `maj`
    * would dirty EVERY tbucket on every compact; versions ≤ maj are
    * equally visible under the collapsed record, and time travel below
    * maj is forfeited either way), so only tbuckets actually holding
    * delete debt rewrite at all. Each rewrite is independently
    * crash-safe: the rows it removes are exactly the rows the delete
    * anti-filters hide, so a rewritten tbucket reads identically under
    * the OLD commit log — a crash mid-stream leaves a correct mix, and
    * re-running compact is idempotent (clean tbuckets take a stats-only
    * fast path with no rewrite). Tbuckets outside the stream's
    * committed envelope are skipped without reading — cost ∝ the
    * stream's delete debt, not its size. */
  def compact(uuid: String): Long =
    admission.run(Admission.Maintenance)(compactImpl(uuid))

  private def compactImpl(uuid: String): Long = {
    val sid = sidOf(uuid)
    writing(sid) {
      flushImpl(sid)
      val s = stateOf(sid)
      if (s.major > 0) collapse(sid, s)
      s.major
    }
  }

  /** Compacts stream `sid`, whose state is `s` (see [[compact]]). */
  private def collapse(sid: Long, s: StreamState): Unit = {
    val maj = s.major
    // Heal any crash-unfolded ranges NOW, while the per-commit records
    // they derive from still exist — the history collapse below erases
    // them, and a crashed delete-fold would otherwise survive as
    // phantom rollup rows (the envelope recompute only covers
    // surviving data, not a deleted range outside it). Healing BEFORE
    // any compaction mutation also closes the double-crash window: a
    // crash after the collapse but before the final recompute resumes
    // with the rollup already consistent (the watermark, stamped only
    // at the very end, keeps reads on merge-on-read until then), and a
    // crash during this heal resumes with the records intact.
    maintainPyramidInner(sid, missedFoldRanges(sid, maj + 1), None)
    // rows of THIS stream erased by a delete commit (merge-on-read debt)
    val dirty = hides(Seq(sid), _ => s, maj).foldLeft(lit(false))(_ || _)
    val keptOwn = col("sid") === sid && !dirty
    val env = s.envelope
    // the rewriter's one agg pass per tbucket also accumulates the
    // surviving envelope
    val kept = rewritePoints(sid % sBuckets,
      tb => env.exists { case (emin, emax) =>
        (emin >> tBucketPw) <= tb && tb <= (emax >> tBucketPw) },
      dirty,
      count(when(keptOwn, 1)).as("kept"),
      min(when(keptOwn, col("time"))).as("tmin"),
      max(when(keptOwn, col("time"))).as("tmax"))
      .filter(_.getAs[Long]("kept") > 0)
    val n = kept.map(_.getAs[Long]("kept")).sum
    val (tmin, tmax) =
      if (n == 0) (0L, 0L)
      else (kept.map(_.getAs[Long]("tmin")).min, kept.map(_.getAs[Long]("tmax")).max)
    // collapse this stream's commit history ONLY after the points
    // rewrite completed: write one superseding compacted record (atomic
    // file move), then garbage-collect the superseded per-commit files.
    // A crash between the two leaves both on disk and the commit
    // reader's supersede rule picks the compacted one.
    appendCommit(CommitRecord(sid, maj, "insert", tmin, tmax, n,
      Seq((tmin, tmax + 1)), compacted = true,
      // surviving points are a subset of what the superseded records
      // described — carry the stream's AND-folded grid flag forward
      grid = s.grid))
    gcCommitFiles(sid, maj)
    invalidateCommits()
    // crash-unfolded ranges were healed before the collapse; only the
    // surviving envelope recompute and the stamp remain
    if (n > 0) maintainPyramid(sid, Seq((tmin, tmax + 1)), foldPartials = None, maj)
    else if (pyramidLevels.nonEmpty) stampPyramidWatermark(sid, maj)
  }

  /** Delete this stream's plain commit files at or below the compacted
    * version, plus older compacted records — pure garbage collection:
    * the reader's supersede rule already ignores them. */
  private def gcCommitFiles(sid: Long, compactedVersion: Long): Unit = {
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

  /** Reclaim storage for obliterated streams: their tombstones hide them
    * from every read instantly (Obliterate, quasar.go:572-593); this
    * maintenance pass deletes their bytes — point-log rows (dynamic
    * partition overwrite per touched sbucket, drained tbuckets cleared),
    * pyramid rows, commit files, and staging partitions. The catalog
    * tombstone itself is KEPT (uuid reuse stays forbidden forever).
    * Cost ∝ the touched sbuckets, not the table. Returns purged sids. */
  def purgeObliterated(): Seq[Long] =
    admission.run(Admission.Maintenance)(purgeObliteratedImpl())

  private def purgeObliteratedImpl(): Seq[Long] = {
    val dead = catalog.filter(col("tombstoned"))
      .select("sid").collect().map(_.getLong(0)).toSeq.sorted
    val active = dead.filter(sid =>
      majorOf(sid) > 0 || exists(s"staging/sid=$sid"))
    if (active.nonEmpty) writing(active: _*)(purge(active))
    active
  }

  /** Deletes the bytes of the obliterated streams `active`. */
  private def purge(active: Seq[Long]): Unit = {
    val buckets = active.map(_ % sBuckets).distinct
    // tbucket-at-a-time (same bounded-working-set shape as compact):
    // untouched partitions are detected by one agg and never rewritten;
    // a crash mid-stream leaves already-purged partitions purged and
    // the rest pending — re-running purge is idempotent
    buckets.foreach(rewritePoints(_, _ => true, col("sid").isin(active: _*)))
    exclusive(buckets.map(b => s"sbucket=$b"): _*)(purgeRollups(active, buckets))
    active.foreach { sid =>
      gcCommitFiles(sid, Long.MaxValue)
      deleteDir(s"staging/sid=$sid")
      store.delete(s"pyramid/_wm-$sid")
      states.remove(sid)
    }
    invalidateCommits()
  }

  /** The point-log writer: Parquet partitioned by (sbucket, tbucket),
    * zstd over v2 data pages — the columnar analog of the reference's
    * delta-delta+varint encoder (FAST'16): v2's DELTA_BINARY_PACKED
    * int64 encoding is the delta-delta itself, measured 3.76 -> ~1.0
    * B/point on the time column at 120 Hz cadence (CompressionBench);
    * Spark's vectorized reader decodes v2 natively. Each file is sorted by
    * (sid, time), which keeps its row-group time stats tight for pushdown
    * and lets the serving path stream it: the sort leads with the
    * partition columns, as the planned write requires, or the write would
    * replace it by its own. */
  private def writePoints(rows: DataFrame, mode: SaveMode): Unit =
    exclusive("points") {
      rows.sortWithinPartitions("sbucket", "tbucket", "sid", "time").write.mode(mode)
        .option("compression", "zstd")
        .option("parquet.writer.version", "v2")
        .partitionBy("sbucket", "tbucket")
        .parquet(path("points"))
    }

  /** The tbucket rewriter: removes the rows `drop` selects from the
    * point-log directories `points/sbucket=sb/tbucket=T` whose T passes
    * `tbuckets`, one directory at a time — the working set is one
    * tbucket, never the sbucket. One aggregate pass per directory counts
    * its rows and the rows to drop, and evaluates `stats` beside them. A
    * directory with nothing to drop is not rewritten, a drained one is
    * deleted, and otherwise its kept rows are materialized and written
    * back over it. Callers drop only rows no committed state needs
    * (delete-hidden, tombstoned, or above the committed major), so each
    * directory's rewrite is independently crash-safe and a re-run is
    * idempotent. Returns each directory's aggregate row. */
  private def rewritePoints(sb: Long, tbuckets: Long => Boolean, drop: Column,
                            stats: Column*): Seq[Row] =
    store.listNames(s"points/sbucket=$sb")
      .flatMap(_.stripPrefix("tbucket=").toLongOption).sorted
      .filter(tbuckets).map { tb => exclusive("points") {
        val dir = s"points/sbucket=$sb/tbucket=$tb"
        val part = readArea(dir, PointsSchema)
        val r = part.agg(count(lit(1)).as("total"),
          (count(when(drop, 1)).as("dropped") +: stats): _*).head()
        val dropped = r.getAs[Long]("dropped")
        if (dropped == r.getAs[Long]("total") && dropped > 0) deleteDir(dir)
        else if (dropped > 0) {
          // materialize BEFORE the overwrite replaces the source files
          val (kept, release) = checkpointReleasable(
            part.filter(!drop)
              .withColumn("sbucket", lit(sb))
              .withColumn("tbucket", lit(tb)))
          writePoints(kept.repartition(col("sbucket"), col("tbucket")), SaveMode.Overwrite)
          release()
        }
        r
      }}

  private[engine] def deleteDir(part: String): Unit = store.deleteRecursive(part)

  /** Eager local checkpoint with a RELEASABLE handle. The checkpoint
    * materializes `df` and BREAKS LINEAGE, so a following overwrite of
    * its source files can never trigger a recompute-from-overwritten-
    * input. `Dataset.unpersist` cannot free it — the blocks belong to
    * the checkpoint's internal RDD, which the CacheManager never sees —
    * so without the returned release() every maintenance pass would
    * leak one cached RDD into the block manager for the driver's
    * lifetime. release() unpersists EXACTLY the checkpoint's own RDD —
    * the one the returned Dataset's `LogicalRDD` leaf wraps — never a
    * registry diff: with a 16-way write pool, a concurrent op's
    * `.cache()` materializing during this checkpoint's job would land
    * in a before/after diff of `getPersistentRDDs` and be torn down
    * mid-operation by the wrong thread. */
  private[engine] def checkpointReleasable(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint()
    val own = cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    require(own.nonEmpty, "localCheckpoint did not produce a LogicalRDD leaf")
    (cp, () => own.foreach(_.unpersist(blocking = false)))
  }

  /** Staged batch ids of one stream, from the partition directory names. */
  private def stagedBatches(sid: Long): Seq[Long] =
    store.listNames(s"staging/sid=$sid")
      .flatMap(_.stripPrefix("batch=").toLongOption)

  /** Write one commit file; the store's atomic publish (rename on HDFS/
    * local, single PUT on object stores) is the visibility point. */
  private def writeCommitFile(name: String, json: String): Unit = {
    requireWriterLive()
    store.writeAtomic(s"commits/$name", json)
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
    * (O(n²) bytes) and must hold it in driver memory. The commit reader
    * merges all segments + loose files (and dedups identical lines), so
    * the only crash window — between the atomic segment publish and the
    * per-file deletes — duplicates records harmlessly; compact()'s
    * stale records inside closed segments stay ignored by the
    * supersede rule. */
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
        invalidateCommits()
        true
      }
    }

  /** Append one commit record: a single JSON line written by the driver
    * — no Spark job for a metadata row (the analog of the reference's
    * superblock append, blockstore.go:317-360). */
  private def appendCommit(r: CommitRecord): Unit = {
    writeCommitFile(s"commit-${r.sid}-${r.version}${if (r.compacted) "-c" else ""}.json", r.json)
    // a flush commit empties the write buffer in the same step as it
    // raises the major version, so no reader sees its rows both
    // committed and staged (the staged files are deleted later)
    publish(r.sid)(s => if (r.batches.nonEmpty) s.committed(r).flushed else s.committed(r))
    invalidateCommits()
  }

  /** Snapshot of one stream's committed points at `version`: version pin
    * + delete anti-filters, both from the in-memory commit state — the
    * point log itself is only scanned, never joined. */
  def pointsAt(uuid: String, version: Long = TimeConsts.LatestGeneration,
               start: Long = TimeConsts.MinimumTime,
               end: Long = TimeConsts.MaximumTime): DataFrame =
    pointLog(Some(Seq(sidOf(uuid))), version, start, end, buffered = false).frame

  /** A listed read of the point log (see [[pointLog]]): the bytes of the
    * files it keeps and its plan over that listing (built on first use). */
  private[engine] final class PointLog(val bytes: Long, plan: => DataFrame) {
    lazy val frame: DataFrame = plan
  }

  /** The point-log reader, and the one visibility rule every read of
    * committed points gets: the version pin, the delete anti-filters
    * ([[hides]]) and, on a latest read unless `buffered = false`, the
    * write buffer (read-your-writes, J3, reference pqm.go:428-470), whose
    * rows carry version Long.MaxValue. Columns (sid, time, value,
    * version). `Some(sids)` reads one relation over only those streams'
    * `points/sbucket=S` directories, kept to the tbuckets inside
    * [start, end) (and one over their `staging/sid=S`), and returns the
    * kept bytes for the caller's [[fit]]; a pin below a compacted
    * stream's floor reads it as empty, since its history and deletes are
    * collapsed. `None` reads every stream, latest and whole-domain, from
    * the area roots (the SQL view's plan). The serving path's
    * [[pointRuns]] keeps the same rows. */
  private[engine] def pointLog(sids: Option[Seq[Long]],
                       version: Long = TimeConsts.LatestGeneration,
                       start: Long = TimeConsts.MinimumTime,
                       end: Long = TimeConsts.MaximumTime,
                       buffered: Boolean = true): PointLog = {
    val latest = version == TimeConsts.LatestGeneration
    sids match {
      case None =>
        require(latest && start == TimeConsts.MinimumTime &&
          end == TimeConsts.MaximumTime,
          "a read of every stream is a latest read of the whole time domain")
        val snap = snapshot()
        val committed = antiFiltered(readOr("points", PointsSchema),
          snap.filter(_._2.deletes.nonEmpty).keys.toSeq.sorted, snap, version)
          .select("sid", "time", "value", "version")
        new PointLog(Long.MaxValue,
          if (buffered && snap.values.exists(_.minor > 0))
            committed.unionByName(stagingDf.withColumn("version", lit(Long.MaxValue)))
          else committed)
      case Some(all) =>
        val snap = all.map(sid => sid -> stateOf(sid)).toMap
        val live = all.filter(sid => version >= snap(sid).floor)
        val buckets = live.map(sbucketOf).distinct
        val (tlo, thi) = (start >> tBucketPw, (end - 1) >> tBucketPw)
        val scan = scanDirs("points", buckets.map(b => s"points/sbucket=$b"),
          PointsSchema)(within("tbucket", tlo, thi))
        val staged = if (buffered && latest) live.filter(snap(_).minor > 0) else Nil
        val buffer = if (staged.isEmpty) None else Some(stagedOf(staged))
        new PointLog(scan.bytes + buffer.fold(0L)(_.bytes), {
          val committed = antiFiltered(scan.frame
            .filter(col("sbucket").isin(buckets: _*) &&
              col("tbucket") >= tlo && col("tbucket") <= thi &&
              col("sid").isin(live: _*) && col("version") <= version &&
              col("time") >= start && col("time") < end),
            live, snap, version, scoped = live.size > 1)
            .select("sid", "time", "value", "version")
          buffer.fold(committed)(b => committed.unionByName(b.frame
            .select("sid", "time", "value")
            .filter(col("time") >= start && col("time") < end)
            .withColumn("version", lit(Long.MaxValue))))
        })
    }
  }

  /** Stream `sid`'s visible points in [start, end) at `version`, as the
    * serving path reads them at its state `state`: the kept rows of
    * [[pointLog]]'s listing, with the committed rows pinned to the
    * state's major, so the rows of a flush that commits meanwhile are
    * never read from both the log and the buffer, merged in (time, value)
    * order by the [[OrderedReader]]. */
  private def pointRuns(sid: Long, state: StreamState, version: Long,
                        start: Long, end: Long): OrderedReader#Points = {
    val live = version >= state.floor
    val scan =
      if (!live) new Scan(Nil, emptyDf(PointsSchema))
      else scanDirs("points", Seq(s"points/sbucket=${sbucketOf(sid)}"), PointsSchema)(
        within("tbucket", start >> tBucketPw, (end - 1) >> tBucketPw))
    val buffer =
      if (live && version == TimeConsts.LatestGeneration && state.minor > 0)
        stagedOf(Seq(sid)).files
      else Nil
    val pin = math.min(version, state.major)
    orderedReader.points(scan.files,
      Kept(sid, start, end, pin, state.deletes.filter(_._1 <= pin)), buffer)
  }

  /** The one delete predicate: the rows of `sids` that the delete lists
    * of their states (`state`) hide from a read pinned at `version` — a
    * row in the range of a delete commit at or below the pin, written
    * below that commit — as one condition per delete commit; a row is
    * hidden iff any holds. Each stream's rows are scoped by `sid`, unless
    * the frame holds that one stream only (`scoped = false`). */
  private def hides(sids: Seq[Long], state: Long => StreamState, version: Long,
                    scoped: Boolean = true): Seq[Column] =
    sids.flatMap(sid => state(sid).deletes.filter(_._1 <= version).map {
      case (dv, lo, hi) =>
        (if (scoped) col("sid") === sid else lit(true)) &&
          col("time") >= lo && col("time") < hi && col("version") < dv
    })

  /** Drops the rows [[hides]] selects, one filter per delete commit. */
  private def antiFiltered(df: DataFrame, sids: Seq[Long], state: Long => StreamState,
                           version: Long, scoped: Boolean = true): DataFrame =
    hides(sids, state, version, scoped).foldLeft(df)((d, hidden) => d.filter(!hidden))

  /** The write buffer of `sids`, listed from their `staging/sid=S`
    * directories as one relation. */
  private def stagedOf(sids: Seq[Long]): Scan =
    scanDirs("staging", sids.map(sid => s"staging/sid=$sid"), StagingSchema)(_ => true)

  /** One stream's visible points under the small-read rule. */
  private def readable(sid: Long, version: Long,
                       start: Long, end: Long): DataFrame = {
    val log = pointLog(Some(Seq(sid)), version, start, end)
    fit(log.frame, log.bytes)
  }

  // ---- queries --------------------------------------------------------

  /** RawValues: time-ordered scan of [start, end) at a version. */
  def rawValues(uuid: String, start: Long, end: Long,
                version: Long = TimeConsts.LatestGeneration): DataFrame =
    readable(sidOf(uuid), version, start, end).select("time", "value").orderBy("time", "value")

  /** [[rawValues]] on the serving path: its (time, value) rows, merged on
    * the calling thread as they are pulled (see [[served]]). */
  def serveRawValues(uuid: String, start: Long, end: Long,
                     version: Long = TimeConsts.LatestGeneration): ServedRows[(Long, Double)] = {
    val sid = sidOf(uuid)
    admission.run(Admission.PointOp)(served[(Long, Double)]("raw", sid)(
      pointRuns(sid, _, version, start, end).pairs))
  }

  /** AlignedWindows at 2^pw; uses the rollup pyramid when the query is
    * at-or-above a maintained level and pinned to the committed state. */
  def alignedWindows(uuid: String, start: Long, end: Long, pw: Int,
                     version: Long = TimeConsts.LatestGeneration): DataFrame = {
    val sid = sidOf(uuid)
    val s = TimeOps.alignDown(start, pw)
    val e = TimeOps.alignDown(end, pw)
    val level = rollupLevel(pw)
    // pyramid serves the committed part whenever the stream has no
    // delete debt; a non-empty staging buffer is handled the way the
    // reference merges its write buffer into stat results — aggregate
    // the buffer alone and COMBINE partials (Σcnt, min, Σsum, max;
    // mean = Σ(mean·count)/Σcount, /root/reference/merger.go:126-208)
    val state = stateOf(sid)
    if (rollupServes(level.isDefined, sid, state, version, mergesBuffer = true)) {
      val rollup = pyramidScan(sid, level.get, s, e)
      val buffer = if (state.minor == 0) None else Some(stagedOf(Seq(sid)))
      val total = rollup.bytes + buffer.fold(0L)(_.bytes)
      val committed = rollup.frame
        .select(TimeOps.clampTime(col("wstart"), pw).as("wstart"),
          col("cnt"), col("ccnt"), col("vmin"), col("vsc"), col("vsum"),
          col("vmax"))
      val partials = buffer.fold(fit(committed, rollup.bytes)) { staging =>
        // the buffer's own aggregate sits below the union, so a small
        // read coalesces its scan too
        val staged = fit(staging.frame.select("sid", "time", "value"), total)
          .filter(col("time") >= s && col("time") < e)
          .groupBy(TimeOps.clampTime(col("time"), pw).as("wstart"))
          .agg(count(lit(1)).as("cnt"),
            count(StatOps.cents(col("value"))).as("ccnt"),
            min("value").as("vmin"),
            sum(StatOps.centsSum(col("value"))).as("vsc"),
            sum("value").as("vsum"), max("value").as("vmax"))
        fit(committed.unionByName(staged), total)
      }
      partials.groupBy("wstart")
        .agg(RollupStats.head, RollupStats.tail: _*)
        .orderBy("wstart")
    } else
      readable(sid, version, s, e)
        .groupBy(TimeOps.clampTime(col("time"), pw).as("wstart"))
        .agg(RawStats.head, RawStats.tail: _*)
        .orderBy("wstart")
  }

  /** [[alignedWindows]] on the serving path: its (wstart, vmin, vmean,
    * vmax, cnt) rows, folded on the calling thread — from the rollup rows
    * and the write buffer where the pyramid serves, else from the merged
    * points, each window as soon as the points pass it (see [[served]]). */
  def serveAlignedWindows(uuid: String, start: Long, end: Long, pw: Int,
                          version: Long = TimeConsts.LatestGeneration)
      : ServedRows[(Long, Double, Double, Double, Long)] = {
    val sid = sidOf(uuid)
    val s = TimeOps.alignDown(start, pw)
    val e = TimeOps.alignDown(end, pw)
    val level = rollupLevel(pw)
    admission.run(Admission.PointOp)(served[WindowFold.Row]("aligned", sid, _._5) { state =>
      val fold = WindowFold.aligned(pw)
      if (rollupServes(level.isDefined, sid, state, version, mergesBuffer = true)) {
        localRollup(pyramidScan(sid, level.get, s, e), sid, s, e, fold)
        if (state.minor > 0) {
          // the write buffer's points, with no committed file
          val staged = orderedReader.points(Nil, Kept(sid, s, e, state.major, Nil),
            stagedOf(Seq(sid)).files)
          while (staged.advance()) fold.point(staged.time, staged.value)
        }
        Rows.of(fold.rows.iterator)
      } else fold.ordered(pointRuns(sid, state, version, s, e))
    })
  }

  /** AlignedWindows across MANY streams in one scan — the bulk shape a
    * Spark-native engine adds over the reference's per-stream RPC: one
    * pyramid (or point-log) pass serves every selected stream, grouped
    * by (sid, wstart). Streams with delete debt or staged points take
    * the raw path; the rest read the rollup — both branches are single
    * jobs unioned, so cost is one scan of each source regardless of
    * stream count (vs N RPCs in the reference). */
  def alignedWindowsBulk(uuids: Seq[String], start: Long, end: Long,
                         pw: Int): DataFrame = {
    require(uuids.nonEmpty, "alignedWindowsBulk needs at least one stream")
    val s = TimeOps.alignDown(start, pw)
    val e = TimeOps.alignDown(end, pw)
    val sids = uuids.map(sidOf)
    val level = rollupLevel(pw)
    val (pyrSids, rawSids) =
      sids.partition(sid => rollupServes(level.isDefined, sid, stateOf(sid)))
    val parts = Seq(
      if (pyrSids.isEmpty) None else Some {
        rollupRows(pyramidRead(s"pyramid/pw=${level.get}"), pyrSids, s, e)
          .groupBy(col("sid"), TimeOps.clampTime(col("wstart"), pw).as("wstart"))
          .agg(RollupStats.head, RollupStats.tail: _*)
      },
      if (rawSids.isEmpty) None else Some {
        // ONE point-log scan for every raw-path stream — N streams, N
        // subplans would re-scan the log N times; this is one scan of
        // their sbucket directories regardless of N
        pointLog(Some(rawSids), start = s, end = e).frame
          .groupBy(col("sid"), TimeOps.clampTime(col("time"), pw).as("wstart"))
          .agg(RawStats.head, RawStats.tail: _*)
      }).flatten
    parts.reduce(_ unionByName _).orderBy("sid", "wstart")
  }

  /** Pyramid-served EXACT per-window quantiles: p50 (mean of the middle
    * one-or-two cents values) and p95 (nearest rank, ceil) over aligned
    * 2^pw windows — [[graft.operators.Distillate.quantileWindows]]'s
    * semantics answered from the persisted per-window cents HISTOGRAM
    * (`qhist/`, maintained per commit when `quantileLevel` is set)
    * instead of a raw scan. Histogram rows compose to any pw >= the
    * histogram level by summing counts, and rank selection over
    * cumulative counts is exactly row-level nearest-rank (ties share a
    * cents value). A stream with merge-on-read debt, delete debt, or a
    * stale watermark computes the SAME histogram from the live point
    * view in one scan — identical results either way. Windows holding
    * any off-cents-grid value (NULL `c` rows) serve NULL quantiles
    * rather than wrong ones. */
  def quantileWindowsBulk(uuids: Seq[String], start: Long, end: Long,
                          pw: Int): DataFrame =
    Btrdb.quantileFinish(quantileHistogram(uuids, start, end, pw))

  /** The per-window cents HISTOGRAM behind [[quantileWindowsBulk]] —
    * (sid, wstart, c, hc) — separable so a federation can union its
    * members' histograms and run [[Btrdb.quantileFinish]]'s window
    * pass ONCE over the union: member stream ownership is disjoint, so
    * a (sid, wstart) group never straddles members and finishing the
    * union is row-identical to unioning finished members — minus one
    * full window/sort/aggregate pass per member (guide §2.4). */
  def quantileHistogram(uuids: Seq[String], start: Long, end: Long,
                        pw: Int): DataFrame = {
    val q = quantileLevel.getOrElse(throw new IllegalStateException(
      "quantile rollup not enabled on this engine (quantileLevel)"))
    require(pw >= q, s"window pw=$pw must be at least histogram level $q")
    require(uuids.nonEmpty, "quantileWindowsBulk needs at least one stream")
    val s = TimeOps.alignDown(start, pw)
    val e = TimeOps.alignDown(end, pw)
    val sids = uuids.map(sidOf)
    val (pyrSids, rawSids) = sids.partition(sid => rollupServes(qhistHas, sid, stateOf(sid)))
    val parts = Seq(
      if (pyrSids.isEmpty) None else Some {
        rollupRows(readArea("qhist", QhistSchema), pyrSids, s, e)
          .groupBy(col("sid"), TimeOps.clampTime(col("wstart"), pw).as("wstart"),
            col("c"))
          .agg(sum("cnt").as("hc"))
      },
      if (rawSids.isEmpty) None else Some {
        // one live-view scan for every raw-path stream (see
        // alignedWindowsBulk) aggregated to the same histogram shape
        val raw = pointLog(Some(rawSids), start = s, end = e)
        fit(raw.frame, raw.bytes)
          .groupBy(col("sid"), TimeOps.clampTime(col("time"), pw).as("wstart"),
            StatOps.cents(col("value")).as("c"))
          .agg(count(lit(1)).as("hc"))
      }).flatten
    parts.reduce(_ unionByName _)
  }

  /** The rows of a rollup table `rollup` of the streams `sids` for
    * windows in [s, e), its partition filters keeping their sbuckets and
    * the wbuckets the range intersects. */
  private def rollupRows(rollup: DataFrame, sids: Seq[Long], s: Long, e: Long): DataFrame =
    rollup.filter(col("sid").isin(sids: _*) &&
      col("sbucket").isin(sids.map(_ % sBuckets).distinct: _*) &&
      col("wbucket") >= (s >> pyramidWBucketPw) &&
      col("wbucket") <= ((e - 1) >> pyramidWBucketPw) &&
      col("wstart") >= s && col("wstart") < e)

  /** Single-stream [[quantileWindowsBulk]]. */
  def quantileWindows(uuid: String, start: Long, end: Long,
                      pw: Int): DataFrame =
    quantileWindowsBulk(Seq(uuid), start, end, pw)
      .drop("sid")

  // ---- SQL surface -----------------------------------------------------

  /** Latest-version merged point set over EVERY live stream —
    * (sid, time, value): committed points with all delete anti-filters
    * applied, unioned with the staging buffer, tombstoned streams
    * excluded. One point-log scan regardless of stream count (the bulk
    * shape, not N per-stream subplans). This is the DataFrame behind the
    * `<prefix>_points` SQL view [[registerViews]] creates. */
  def pointsView(): DataFrame = {
    val all = pointLog(None).frame.select("sid", "time", "value")
    val hidden = tombstonedSids ++ migratingInSids
    if (hidden.isEmpty) all
    else all.filter(!col("sid").isin(hidden.toSeq: _*))
  }

  /** Register the engine as plain SQL: temp views `<prefix>_points`
    * (latest merged points — see [[pointsView]]), `<prefix>_catalog`
    * (live stream descriptors) and `<prefix>_commits` (the version
    * log), plus the pyramid-substitution rewrite for `<prefix>_points`
    * (see [[graft.plans.PyramidSubstitution]] — requires the session to
    * be built with [[graft.functions.GraftExtensions]]).
    *
    * The views capture the CURRENT merge topology (e.g. whether a
    * staging union subplan exists); call again after ingest/flush if
    * the read-your-writes surface must reflect new staged batches. The
    * substitution guard always consults live engine state, so a stale
    * view can only miss an optimization, never return wrong data. */
  def registerViews(prefix: String = "graft"): Unit = {
    pointsView().createOrReplaceTempView(s"${prefix}_points")
    catalog.filter(!col("tombstoned"))
      .drop("tombstoned").createOrReplaceTempView(s"${prefix}_catalog")
    commits.createOrReplaceTempView(s"${prefix}_commits")
    graft.plans.PyramidSubstitution.register(spark, s"${prefix}_points", this)
  }

  /** The pyramid combine frame serving an aligned stat aggregate at
    * 2^pw for [[graft.plans.PyramidSubstitutionRule]], or None when the
    * rewrite would not be exactly equivalent: no maintained level ≤ pw,
    * or an affected stream has staged points or un-compacted delete
    * debt (the merge-on-read cases the pyramid does not reflect), or —
    * when the query asks for avg/sum (`needExactSum`) — an affected
    * stream holds values off the cents grid: the pyramid's mean/sum are
    * the exact integer cents sums, which for off-grid doubles differ
    * from the point-log plan's IEEE aggregates by up to 0.005/point, so
    * an optimizer rule must not swap one for the other. (count/min/max
    * are value-exact regardless and stay serveable.)
    *
    * Columns: (sid?), wstart, cnt, vmin, vmean, vmax, vsum — the rule
    * projects the subset the query asked for; Catalyst prunes the rest. */
  private[graft] def pyramidFrameFor(sids: Option[Seq[Long]],
      lo: Option[Long], hi: Option[Long], pw: Int,
      bySid: Boolean, needExactSum: Boolean = false): Option[DataFrame] =
    pyramidPartialsFor(sids, lo, hi, pw, needExactSum)
      .map(Btrdb.combinePyramidPartials(_, bySid))

  /** The un-combined rollup rows behind [[pyramidFrameFor]]: this
    * engine's pyramid slice re-clamped to 2^pw, columns
    * (sid, wstart, cnt, vmin, vsc, vmax), with the same cleanliness
    * gates. Kept separate so a FEDERATION of engines can union each
    * member's partials and pay ONE final combine — the cross-root
    * analog of the reference answering stat queries from pre-aggregated
    * cores on every cluster node (/root/reference/qtree/qtree.go:863-944
    * under MASH placement). */
  private[graft] def pyramidPartialsFor(sids: Option[Seq[Long]],
      lo: Option[Long], hi: Option[Long], pw: Int,
      needExactSum: Boolean): Option[DataFrame] = {
    val level = rollupLevel(pw)
    // hidden = tombstoned + migrating-in: both are excluded from the
    // point views, so the substituted frame must exclude them too
    val tomb = tombstonedSids ++ migratingInSids
    val snap = snapshot()
    val state = (sid: Long) => snap.getOrElse(sid, StreamState.Empty)
    val affected = sids.getOrElse(snap.keys.toSeq).filterNot(tomb.contains)
    val clean = affected.forall(sid => rollupServes(level.isDefined, sid, state(sid)))
    val exactOk = !needExactSum || affected.forall(state(_).grid)
    if (level.isEmpty || !clean || !exactOk) None
    else {
      var df = pyramidRead(s"pyramid/pw=${level.get}")
      sids.foreach { ss =>
        df = df.filter(col("sbucket").isin(ss.map(_ % sBuckets).distinct: _*) &&
          col("sid").isin(ss: _*))
      }
      if (tomb.nonEmpty) df = df.filter(!col("sid").isin(tomb.toSeq: _*))
      lo.foreach(s => df = df.filter(
        col("wbucket") >= (s >> pyramidWBucketPw) && col("wstart") >= s))
      hi.foreach(e => df = df.filter(
        col("wbucket") <= ((e - 1) >> pyramidWBucketPw) && col("wstart") < e))
      Some(df.select(col("sid"),
        TimeOps.clampTime(col("wstart"), pw).as("wstart"),
        col("cnt"), col("vmin"), col("vsc"), col("vmax")))
    }
  }

  /** Windows: arbitrary width, end truncated to whole windows, empty
    * windows emitted with zeros (/root/reference/quasar.go:306-346).
    *
    * `depth` carries the reference's EXACT depth-cap arithmetic
    * (/root/reference/qtree/qtree.go:1064-1176, closed form derived in
    * [[StatOps.windowsDepth]]): attribution buckets of 2^c ns
    * (c = [[StatOps.depthBucketPw]] — the reference's 56/-6 node
    * ladder) land wholly in the window containing their start, and the
    * bucket containing `start` itself is dropped (the walk reaches it
    * inactive and the capped branch activates without accumulating).
    * Served from the deepest pyramid level <= c when the rollup is
    * current (rollup rows compose exactly into 2^c buckets), else
    * recomputed from raw points — identical results either way.
    *
    * `strictFinalWindow` opts into the reference's final-window
    * suppression ([[StatOps.strictDropsFinal]] — the post-advance Done
    * quirk) for byte-for-byte migration diffs; the default emits every
    * window of the truncated range uniformly. The probe reads the
    * merge-on-read view, so it is version- and staging-correct. */
  def windows(uuid: String, start: Long, end: Long, width: Long,
              version: Long = TimeConsts.LatestGeneration,
              depth: Int = 0,
              strictFinalWindow: Boolean = false): DataFrame = {
    val e = TimeOps.truncateEnd(start, end, width)
    val sid = sidOf(uuid)
    val (c, lo, hi) = depthScan(start, e, depth)
    val u = 1L << c
    val n0 = (e - start) / width
    val n =
      if (strictFinalWindow && StatOps.strictDropsFinal(start, end, width,
          depth, { b =>
            // depth 0: ANY point at or past the boundary protects (the
            // reference's leaf walk crosses boundaries up to the whole
            // tree's extent, not just the query range)
            val (plo, phi) =
              if (depth <= 0) (b, TimeConsts.MaximumTime) else (b - u, b)
            !readable(sid, version, plo, phi).isEmpty
          }))
        n0 - 1
      else n0
    val bucketStart: Column => Column =
      t => if (depth <= 0) t else TimeOps.clampTime(t, c)
    val level = (if (depth > 0) rollupLevel(c) else None)
      .filter(_ => rollupServes(true, sid, stateOf(sid), version))
    val agg0 = level match {
      case Some(l) =>
        val rollup = pyramidScan(sid, l, lo, hi)
        fit(rollup.frame, rollup.bytes)
          .groupBy(TimeOps.windowIndex(bucketStart(col("wstart")),
            start, width).as("i"))
          .agg(RollupStats.head, RollupStats.tail: _*)
      case None =>
        readable(sid, version, lo, hi)
          .groupBy(TimeOps.windowIndex(bucketStart(col("time")),
            start, width).as("i"))
          .agg(RawStats.head, RawStats.tail: _*)
    }
    spark.range(n).toDF("i").join(agg0, Seq("i"), "left_outer")
      .select(col("i"), (col("i") * width + start).as("wstart"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("vmin"), lit(0.0)).as("vmin"),
        coalesce(col("vmean"), lit(0.0)).as("vmean"),
        coalesce(col("vmax"), lit(0.0)).as("vmax"))
      .orderBy("i")
  }

  /** The depth-capped scan of a Windows read of [start, e): the
    * attribution bucket width 2^c (0 at depth 0) and the scan bounds,
    * which skip the dropped straddler bucket and keep the last
    * contributing bucket's tail past `e`. */
  private def depthScan(start: Long, e: Long, depth: Int): (Int, Long, Long) =
    if (depth <= 0) (0, start, e)
    else {
      val c = StatOps.depthBucketPw(depth)
      (c, TimeOps.alignDown(start, c) + (1L << c), TimeOps.alignDown(e - 1, c) + (1L << c))
    }

  /** [[windows]] (without the strict final window) on the serving path:
    * its (wstart, vmin, vmean, vmax, cnt) rows, folded on the calling
    * thread from the rollup rows where the pyramid serves, else from the
    * merged points, each window as soon as the points pass it; empty
    * windows are emitted with zeros as the reply reaches them (see
    * [[served]]). */
  def serveWindows(uuid: String, start: Long, end: Long, width: Long,
                   version: Long = TimeConsts.LatestGeneration, depth: Int = 0)
      : ServedRows[(Long, Double, Double, Double, Long)] = {
    val sid = sidOf(uuid)
    val e = TimeOps.truncateEnd(start, end, width)
    val (c, lo, hi) = depthScan(start, e, depth)
    val n = (e - start) / width
    val level = if (depth > 0) rollupLevel(c) else None
    admission.run(Admission.PointOp)(served[WindowFold.Row]("windows", sid, _._5) { state =>
      val fold = WindowFold.windows(start, width, c)
      val folded = level.filter(_ => rollupServes(true, sid, state, version)) match {
        case Some(l) =>
          localRollup(pyramidScan(sid, l, lo, hi), sid, lo, hi, fold)
          Rows.of(fold.rows.iterator)
        case None => fold.ordered(pointRuns(sid, state, version, lo, hi))
      }
      WindowFold.filled(folded, n, start, width)
    })
  }

  /** Nearest: forward inclusive / backward exclusive
    * (/root/reference/qtree/qtree.go:24-26). Probes geometrically
    * widening time windows outward from `t`, bounded by the stream's
    * in-memory commit envelope — scan cost is proportional to the
    * distance to the hit, NEVER the stream's whole half-range (the
    * reference's nearest is the same log-depth idea as a tree walk,
    * /root/reference/qtree/qtree.go:27-127). Each probe's tbucket
    * filter prunes the point-log scan to the probed buckets. */
  def nearest(uuid: String, t: Long, backward: Boolean,
              version: Long = TimeConsts.LatestGeneration): Option[(Long, Double)] =
    nearestProbed(uuid, t, backward, version)._1

  /** [[nearest]] plus the number of window probes issued — specs pin the
    * probe count to stay logarithmic in the distance to the hit. */
  private[engine] def nearestProbed(uuid: String, t: Long, backward: Boolean,
      version: Long = TimeConsts.LatestGeneration): (Option[(Long, Double)], Int) =
    admission.run(Admission.PointOp)(nearestProbedImpl(uuid, t, backward, version))

  private def nearestProbedImpl(uuid: String, t: Long, backward: Boolean,
      version: Long): (Option[(Long, Double)], Int) = {
    val sid = sidOf(uuid)
    val state = stateOf(sid)
    // probe bound = committed envelope ∪ staged envelope, both in memory
    val stagedEnv =
      if (version == TimeConsts.LatestGeneration && state.minor > 0) state.stagedEnvelope
      else None
    val env = (state.envelope, stagedEnv) match {
      case (Some((a, b)), Some((c, d))) => Some((math.min(a, c), math.max(b, d)))
      case (x, y) => x.orElse(y)
    }
    env match {
      case None => (None, 0)
      case Some((emin, emax)) =>
        var probes = 0
        def probe(lo: Long, hi: Long): Option[(Long, Double)] = {
          probes += 1
          served[(Long, Double)]("nearest", sid) { state =>
            val points = pointRuns(sid, state, version, lo, hi)
            var hit = Option.empty[(Long, Double)]
            // the first point in (time, value) order, or the last one
            // backward
            while ((hit.isEmpty || backward) && points.advance())
              hit = Some((points.time, points.value))
            points.close()
            Rows.of(hit.iterator)
          }.nextOption()
        }
        var res: Option[(Long, Double)] = None
        var width = 1L << math.min(tBucketPw, 60)
        if (!backward) {
          if (t > emax) return (None, 0)
          val lo = math.max(t, TimeConsts.MinimumTime)
          val bound = emax + 1
          var done = false
          while (!done) {
            val hi = if (width >= bound - lo) bound else lo + width
            res = probe(lo, hi)
            done = res.isDefined || hi >= bound
            if (width < (1L << 61)) width *= 8
          }
        } else {
          if (t <= emin) return (None, 0)
          val hi = math.min(t, TimeConsts.MaximumTime)
          val bound = emin
          var done = false
          while (!done) {
            val lo = if (width >= hi - bound) bound else hi - width
            res = probe(lo, hi)
            done = res.isDefined || lo <= bound
            if (width < (1L << 61)) width *= 8
          }
        }
        (res, probes)
    }
  }

  /** Changes(fromV, toV, resolution): per-commit TOUCHED RANGES (not the
    * commit envelope — a backfill hitting two distant instants yields
    * two ranges, the reference's tree-diff fidelity,
    * /root/reference/qtree/qtree.go:255-351) snapped to 2^resolution and
    * coalesced (/root/reference/quasar.go:436-470). Recording is
    * adaptive (see batchStats): tight batches record at the finest
    * partial granularity, so fine requested resolutions are served
    * exactly; only a batch spraying >256 finest buckets coarsens its
    * own record. Each range's bounds are always the exact point
    * envelope of its cluster. */
  def changes(uuid: String, fromVersion: Long, toVersion: Long,
              resolution: Int): DataFrame = {
    val sid = sidOf(uuid)
    // commit metadata is small (seeding collects it whole): one
    // partition plans the interval merge and sort with no exchange
    val perRange = commits.coalesce(1).filter(col("sid") === sid)
      .select(col("sid"), col("version"),
        explode(coalesce(col("ranges"),
          array(struct(col("tmin").as("s"), (col("tmax") + 1).as("e"))))).as("r"))
      .select(col("sid"), col("version"),
        col("r.s").as("tmin"), (col("r.e") - 1).as("tmax"))
    StatOps.changes(perRange, fromVersion, toVersion, resolution)
      .orderBy("s").select("s", "e")
  }

  /** [[changes]] on the serving path: (s, e) rows folded on the calling
    * thread from the stream's commit ranges ([[StreamState.ranges]]); the
    * read lists no file. */
  def serveChanges(uuid: String, fromVersion: Long, toVersion: Long,
                   resolution: Int): ServedRows[(Long, Long)] = {
    val sid = sidOf(uuid)
    admission.run(Admission.PointOp)(served[(Long, Long)]("changes", sid, _ => 0L)(state =>
      Rows.of(WindowFold.changes(state.ranges, fromVersion, toVersion, resolution).iterator)))
  }

  /** GenerateCSV / multi-stream temporal align: k streams aligned on
    * time, one output row per distinct instant, NULL where a stream has
    * no point (J1, /root/reference/grpcinterface/serve.go:888-1002).
    * Duplicate timestamps within a stream collapse to max(value) — the
    * same duplicate-guard the oracle queries use.
    *
    * Two plans, one semantics (SURVEY §2.3 J1 names both):
    *   - small k: a chain of full-outer sort-merge joins on time —
    *     co-partitioned after the first exchange, fine at CSV-export k;
    *   - k > [[Btrdb.MultiAlignJoinMaxK]]: tidy union of (time, value,
    *     label) rows + groupBy(time).pivot(label) — ONE shuffle at any
    *     k, where the join chain would be k−1 sequential shuffles. */
  def multiAlign(uuids: Seq[String], start: Long, end: Long,
                 labels: Seq[String] = Nil): DataFrame = {
    val names = if (labels.nonEmpty) labels else uuids.indices.map(i => s"v$i")
    // frames are built UNSORTED (readable, not rawValues): a per-frame
    // orderBy would put one range exchange per stream under the union —
    // the one sort that matters is the final orderBy("time")
    alignFrames(uuids.zip(names).map { case (u, n) =>
      n -> readable(sidOf(u), TimeConsts.LatestGeneration, start, end)
        .select("time", "value")
    }).orderBy("time")
  }

  /** Align k labeled (time, value) frames on time — join chain for
    * small k, union+pivot (single shuffle) beyond the threshold. */
  private def alignFrames(frames: Seq[(String, DataFrame)]): DataFrame =
    if (frames.size <= MultiAlignJoinMaxK)
      frames.map { case (n, df) =>
        df.groupBy("time").agg(max("value").as(n)) }
        .reduce(_.join(_, Seq("time"), "full_outer"))
    else
      frames.map { case (n, df) =>
        df.select(col("time"), col("value"), lit(n).as("_label")) }
        .reduce(_ unionByName _)
        // explicit pivot values: no discovery job, stable column order
        .groupBy("time").pivot("_label", frames.map(_._1)).agg(max("value"))

  /** Aligned-windows stat align in the reference's stat-CSV layout —
    * the frame both the aligned GenerateCSV file sink and the wire
    * RPC render. All-latest large k takes ONE bulk scan
    * (pyramid-served where possible, [[alignedWindowsBulk]] already
    * carries all four aggregates) + a single-shuffle 4-aggregate
    * pivot instead of k alignedWindows subplans; version-pinned or
    * small-k requests fall to per-stream frames under
    * [[multiStatAlign]]. The bulk path keys the pivot by stream
    * INDEX, so duplicate labels or a repeated uuid can never merge
    * columns (a repeated uuid also disqualifies the sid-keyed bulk
    * mapping, hence the distinct-sid guard). */
  def multiStatAligned(uuids: Seq[String], labels: Seq[String],
                       start: Long, end: Long, pw: Int,
                       versions: Seq[Long] = Nil): DataFrame = {
    val vers =
      if (versions.isEmpty) uuids.map(_ => TimeConsts.LatestGeneration)
      else versions
    val sids = uuids.map(sidOf)
    val bulkable = uuids.size > MultiAlignJoinMaxK &&
      vers.forall(_ == TimeConsts.LatestGeneration) &&
      sids.distinct.size == sids.size
    if (bulkable) {
      val sidToIdx = sids.zip(uuids.indices).toMap
      val merged = alignedWindowsBulk(uuids, start, end, pw)
        .select(col("wstart").as("time"),
          element_at(typedlit(sidToIdx), col("sid")).as("_s"),
          col("vmin"), col("vmean"), col("vmax"), col("cnt"))
        .groupBy("time").pivot("_s", uuids.indices)
        .agg(first("vmin").as("a"), first("vmean").as("b"),
          first("vmax").as("c"), first("cnt").as("d"))
      val display = "time" +: labels.flatMap(l =>
        Seq(s"$l (Min)", s"$l (Mean)", s"$l (Max)", s"$l (Count)"))
      merged.toDF(display: _*).orderBy("time")
    } else
      multiStatAlign(uuids.lazyZip(labels).lazyZip(vers).map { (u, l, v) =>
        l -> alignedWindows(u, start, end, pw, v)
          .select(col("wstart").as("time"), col("vmin"), col("vmean"),
            col("vmax"), col("cnt"))
      }.toSeq)
  }

  /** Raw multi-align over caller-built labeled (time, value) frames —
    * the version-pinned form of [[multiAlign]] (the wire GenerateCSV
    * honors a per-stream version pin,
    * /root/reference/grpcinterface/serve.go:925-934, which the
    * uuid-keyed convenience form cannot express). Same plan shape:
    * join chain at small k, single-shuffle union+pivot beyond. */
  def multiRawAlign(frames: Seq[(String, DataFrame)]): DataFrame =
    alignFrames(frames).orderBy("time")

  /** Align k per-stream STAT frames on window start into the
    * reference's stat-CSV column layout — four columns per stream,
    * `<label> (Min) | (Mean) | (Max) | (Count)`
    * (/root/reference/grpcinterface/csv.go:68-100, both the
    * ALIGNED_WINDOWS and WINDOWS CSV variants). Inputs are
    * (label, frame) with frame columns (time, vmin, vmean, vmax, cnt),
    * one row per non-empty window. Small k: full-outer join chain;
    * beyond [[Btrdb.MultiAlignJoinMaxK]]: tidy union + ONE
    * shuffle (groupBy.pivot with four aggregates) — the same scale
    * shape as [[multiAlign]]'s pivot form. The final rename is positional
    * (`toDF`), so labels may contain dots/spaces/backticks without
    * breaking column resolution. */
  def multiStatAlign(frames: Seq[(String, DataFrame)]): DataFrame = {
    val k = frames.size
    require(k > 0, "multiStatAlign needs at least one stream")
    val stat = Seq("vmin", "vmean", "vmax", "cnt")
    val merged =
      if (k <= MultiAlignJoinMaxK)
        frames.zipWithIndex.map { case ((_, df), i) =>
          df.select(col("time") +:
            stat.zipWithIndex.map { case (c, j) => col(c).as(s"_s${i}_$j") }: _*)
        }.reduce(_.join(_, Seq("time"), "full_outer"))
      else
        frames.zipWithIndex.map { case ((_, df), i) =>
          df.select(col("time"), lit(i).as("_s"),
            col("vmin"), col("vmean"), col("vmax"), col("cnt"))
        }.reduce(_ unionByName _)
          // explicit pivot values: no discovery job; with multiple
          // aggregates the output is grouped per pivot value in agg
          // order — exactly the positional layout toDF below expects
          .groupBy("time").pivot("_s", frames.indices)
          .agg(first("vmin").as("a"), first("vmean").as("b"),
            first("vmax").as("c"), first("cnt").as("d"))
    val display = "time" +: frames.flatMap { case (l, _) =>
      Seq(s"$l (Min)", s"$l (Mean)", s"$l (Max)", s"$l (Count)") }
    merged.toDF(display: _*).orderBy("time")
  }

  /** RFC3339-render an aligned frame's ns `time` column at FULL ns
    * precision for the CSV file sink. The reference's human column
    * (`time.Unix(0, ns).Format(time.RFC3339)`,
    * /root/reference/grpcinterface/serve.go:975) is second-precision
    * because Go's RFC3339 layout carries no fractional second — the
    * exact ns ride in a separate numeric column (the wire shim
    * reproduces that layout verbatim, [[graft.wire.BtrdbWire]]). The
    * FILE sink has only this one time column, so it must not lose
    * digits: seconds render through the catalyst formatter and the ns
    * fraction is appended as exact integer arithmetic (a Spark
    * timestamp is µs — formatting alone cannot show ns). Round-trips
    * ns-exactly: parse = epochSecond(prefix)·1e9 + fraction. */
  def csvTimeRendered(aligned: DataFrame): DataFrame =
    aligned.withColumn("time", concat(
      date_format(timestamp_seconds(
        TimeOps.floorDiv(col("time"), 1000000000L)), "yyyy-MM-dd'T'HH:mm:ss"),
      lit("."), lpad(pmod(col("time"), lit(1000000000L)).cast("string"),
        9, "0"),
      lit("Z")))

  def generateCsv(uuids: Seq[String], labels: Seq[String],
                  start: Long, end: Long, outPath: String,
                  alignedPw: Option[Int] = None): Unit = {
    val aligned = alignedPw match {
      case None => multiAlign(uuids, start, end, labels)
      case Some(pw) =>
        // reference stat CSV carries all four aggregates per stream
        // (/root/reference/grpcinterface/csv.go:68-100), not just the
        // mean — label (Min) | (Mean) | (Max) | (Count) columns
        multiStatAligned(uuids, labels, start, end, pw)
    }
    csvTimeRendered(aligned)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(outPath)
  }

  private[engine] def sbucketOf(sid: Long): Long = math.floorMod(sid, sBuckets.toLong)
}

/** One-pass batch statistics (see Btrdb.batchStats). `offGrid` counts
  * values NOT exactly representable on the 2-decimal cents grid — a
  * single off-grid commit forfeits the stream's exact-avg/sum pyramid
  * serving (see StreamState.grid). */
final case class BatchStats(n: Long, bad: Long, tmin: Long, tmax: Long,
    ranges: Seq[(Long, Long)], offGrid: Long = 0L)

/** Info RPC response analog (/root/reference/grpcinterface/btrdb.proto:177-186).
  * `pools` carries the admission-control occupancy gauges — the analog
  * of the reference's rez pool state in its Info/metrics surface. */
final case class EngineInfo(
    majorVersion: Int, minorVersion: Int, build: String,
    healthy: Boolean, streamCount: Long, pointCount: Long,
    pools: Map[String, PoolGauge] = Map.empty,
    /** Operational alarms (e.g. wbucket-geometry degeneracy) — the
      * engine still answers correctly, but an operator should act. */
    warnings: Seq[String] = Nil,
    /** Serving-path reads per kind (raw, aligned, windows, changes,
      * nearest). */
    reads: Map[String, ReadCounts] = Map.empty)

/** Serving-path reads of one kind, and the points their rows carried: a
  * RawValues or Nearest row is one point, a window its count, a Changes
  * range none. */
final case class ReadCounts(reads: Long, points: Long)

/** A serving-path reply: its rows, produced on the driver as they are
  * pulled, and the (major, minor) version of the stream state it read.
  * `close` releases a reply that is left undrained. */
final class ServedRows[R] private[engine] (val version: (Long, Long), rows: Rows[R],
    count: R => Unit) extends scala.collection.AbstractIterator[R] with AutoCloseable {
  def hasNext: Boolean = rows.hasNext
  def next(): R = {
    val r = rows.next()
    count(r)
    r
  }
  def close(): Unit = rows.close()
}

final case class StreamDescInfo(
    uuid: String, sid: Long, collection: String,
    tags: Map[String, String], annotations: Map[String, String],
    annotationVersion: Long)

object Btrdb {
  /** Advisory single-writer lock file at the engine root. */
  val LockFile = "engine.lock"
  /** Persisted layout geometry at the engine root — stamped by the
    * first locking writer, validated by every open (see the
    * constructor's geometry block), read by [[attach]]. */
  val GeometryFile = "GEOMETRY"

  /** The ONE rendering of the layout-critical geometry (the knobs that
    * decide WHERE data lives on disk — partition dirs, rollup levels,
    * qhist presence). Behavioral knobs (buffer threshold, commit-range
    * granularity, lock cadence, admission) are per-handle and absent:
    * commit records are self-describing in those. */
  private[graft] def renderGeometry(sBuckets: Int, tBucketPw: Int,
      pyramidLevels: Seq[Int], pyramidWBucketPw: Int,
      quantileLevel: Option[Int]): String =
    s"sb=$sBuckets tb=$tBucketPw pl=" +
      (if (pyramidLevels.isEmpty) "-" else pyramidLevels.mkString(",")) +
      s" wb=$pyramidWBucketPw ql=${quantileLevel.fold("-")(_.toString)}"

  /** Nearest-rank quantiles from a per-window cents histogram
    * (sid, wstart, c, hc) — the finishing pass of
    * [[Btrdb#quantileWindowsBulk]], separable so a federation finishes
    * the UNION of member histograms once. ONE pass over the histogram:
    * totals and the cumulative rank ride two windows over the SAME
    * (sid, wstart) partitioning (one exchange, one sort), and the
    * final rank probe is a groupBy on keys the rows already cluster
    * by. Null-c rows (off-grid values) sort first and contribute
    * nothing to the cumulative sum, so ranks are over on-grid rows
    * exactly as the filtered form; a window whose every value is
    * off-grid surfaces with NULL quantiles. */
  private[graft] def quantileFinish(hist: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("sid", "wstart")
    val wCum = wAll.orderBy(col("c").asc_nulls_first)
    val h = hist
      .withColumn("ntot", sum("hc").over(wAll))
      .withColumn("nbad",
        coalesce(sum(when(col("c").isNull, col("hc"))).over(wAll), lit(0L)))
      .withColumn("cum",
        sum(when(col("c").isNotNull, col("hc"))).over(wCum))
    def atRank(r: Column): Column =
      max(when(col("c").isNotNull &&
        col("cum") - col("hc") < r && r <= col("cum"), col("c")))
    h.groupBy("sid", "wstart")
      .agg(max("ntot").as("ntot"), max("nbad").as("nbad"),
        atRank(expr("(ntot + 1) div 2")).as("c1"),
        atRank(expr("(ntot + 2) div 2")).as("c2"),
        atRank(expr("(19 * ntot + 19) div 20")).as("c95"))
      .select(col("sid"), col("wstart"), col("ntot").as("cnt"),
        when(col("nbad") === 0, (col("c1") + col("c2")) / lit(200.0)).as("p50"),
        when(col("nbad") === 0, col("c95") / lit(100.0)).as("p95"))
      .orderBy("sid", "wstart")
  }

  /** Open an engine root at its PERSISTED geometry (the `GEOMETRY`
    * stamp its first locking writer wrote) — the safe open for any
    * tool that did not create the root (console, daemon, federation
    * member lists): constructor defaults would silently read the wrong
    * partition dirs on a non-default root, and a mutating op would
    * corrupt. A legacy root with no stamp opens at the engine
    * defaults, exactly as before stamps existed. */
  def attach(spark: SparkSession, root: String,
      lockRoot: Boolean = true,
      lockStaleMillis: Long = 120000L,
      bufferCommitThreshold: Long = 32768L,
      commitRangePw: Int = 36,
      admission: Admission = Admission.default): Btrdb = {
    val store = new Store(root, spark.sessionState.newHadoopConf())
    val g = store.readString(GeometryFile).map(_.trim)
    // an UNSTAMPED root that already holds engine state is a legacy
    // root of UNKNOWN geometry: attaching at guessed defaults would be
    // exactly the wrong-geometry corruption this API exists to
    // prevent — and a locking attach would then STAMP the guess,
    // poisoning the root for its rightful writer permanently. Refuse;
    // the owner opens it once with its true constructor args (which
    // stamps), after which attach works. A root with no engine state
    // is a fresh create: defaults become the truth when this handle
    // stamps as the first writer.
    if (g.isEmpty && (store.exists("catalog_CURRENT") ||
        store.exists("catalog") || store.exists("commits")))
      throw new IllegalArgumentException(
        s"engine root $root predates geometry stamps: its layout " +
          "geometry is unknown, so attach refuses rather than guess — " +
          "run `AdminCli stamp-geometry <root> <sb> <tb> <pl> <wb> " +
          "<ql>` with the constructor args the root was built with " +
          "(or open it once with those explicit args; the locking " +
          "writer stamps GEOMETRY), then attach freely")
    def field(key: String): Option[String] =
      g.flatMap(_.split("\\s+").collectFirst {
        case t if t.startsWith(s"$key=") => t.drop(key.length + 1) })
    new Btrdb(spark, root,
      sBuckets = field("sb").map(_.toInt).getOrElse(64),
      tBucketPw = field("tb").map(_.toInt).getOrElse(48),
      bufferCommitThreshold = bufferCommitThreshold,
      pyramidLevels = field("pl").map {
        case "-" => Seq.empty[Int]
        case s => s.split(",").toSeq.map(_.toInt)
      }.getOrElse(Seq(30, 36, 42, 48)),
      pyramidWBucketPw = field("wb").map(_.toInt).getOrElse(54),
      commitRangePw = commitRangePw,
      quantileLevel = field("ql").filter(_ != "-").map(_.toInt),
      lockRoot = lockRoot, lockStaleMillis = lockStaleMillis,
      admission = admission)
  }
  /** Per-dir byte bound above which a rewritten rollup partition
    * raises the wbucket-geometry alarm (see maintainPyramidInner).
    * The incremental fold rewrites whole (pw, sbucket, wbucket) dirs,
    * so a dir this large makes EVERY commit pay a ≥60× write
    * amplification over a 131k-point batch — the degeneracy the
    * 1 B-point soak measured as 1.66 s → 5.2 s steady commits at the
    * default pw=54 on a 1 MHz stream (SCALE.md "wbucket geometry").
    * 8 MiB ≈ 10⁶ rollup rows at observed parquet encodings. Override
    * with -Dgraft.wbucket.alarm.bytes=N (0 disables); the fix is
    * sizing `pyramidWBucketPw` to stream cadence at root creation:
    * expected finest-level rows per wbucket = 2^(wb − min(pl)) ×
    * stream density, keep it ≲ 10⁶. */
  def wbucketAlarmBytes: Long =
    sys.props.get("graft.wbucket.alarm.bytes").flatMap(_.toLongOption)
      .getOrElse(8L << 20)

  /** Persisted wbucket-degeneracy alarm markers (one underscore-
    * prefixed file per degenerate rollup dir — invisible to the
    * parquet reader, visible to every attach). */
  val WBucketAlarmDir = "pyramid/_alarms"

  /** Pyramid-watermark enablement marker (see `pyramidCurrent`). */
  val WmEnabledMarker = "pyramid/_wm_enabled"
  /** Heal-range bound: beyond this many crash-unfolded ranges the heal
    * recomputes their overall envelope instead (see missedFoldRanges). */
  val MaxHealRanges = 64

  /** Final combine over [[Btrdb.pyramidPartialsFor]] rows — shared by
    * the single-engine frame and the federated union of per-member
    * partials. vmean/vsum derive from the EXACT integer cents sum —
    * decimal sums are associative, and the needExactSum gate upstream
    * guarantees every affected value lies on the cents grid, so
    * (Σcents)/100 is the correctly-rounded exact sum. (The point-log
    * plan's IEEE double sum is itself partitioning-dependent at ulp
    * scale, so serving the exact value sits within Spark's own
    * aggregate nondeterminism envelope.) */
  private[graft] def combinePyramidPartials(partials: DataFrame,
      bySid: Boolean): DataFrame = {
    val keys = (if (bySid) Seq(col("sid")) else Nil) :+ col("wstart")
    partials.groupBy(keys: _*)
      .agg(sum("cnt").as("cnt"), min("vmin").as("vmin"),
        StatOps.meanFromCents(sum("vsc"), sum("cnt")).as("vmean"),
        max("vmax").as("vmax"),
        (sum("vsc") / lit(100.0)).as("vsum"))
  }

  /** Window stats (cnt, vmin, vmean, vmax) over raw point rows. */
  private val RawStats: Seq[Column] = Seq(count(lit(1)).as("cnt"),
    min("value").as("vmin"), StatOps.rawMean(col("value")).as("vmean"),
    max("value").as("vmax"))
  /** The same window stats combined from rollup rows. */
  private val RollupStats: Seq[Column] = Seq(sum("cnt").as("cnt"),
    min("vmin").as("vmin"), StatOps.rollupMean.as("vmean"),
    max("vmax").as("vmax"))

  /** Above this stream count, multiAlign/generateCsv switch from the
    * k−1-join chain to the single-shuffle union+pivot plan. */
  val MultiAlignJoinMaxK = 8

  /** Annotation marking a stream as migrating INTO its root
    * ([[Federation.migrate]]): live for the replay API, hidden from the
    * SQL views and the pyramid substitution until cutover clears it. */
  val MigratingInAnnotation = "graft.migrating_in"
  /** Source-side write fence of [[Federation.migrate]] (see
    * [[Btrdb.migratingOutSids]]). */
  val MigratingOutAnnotation = "graft.migrating_out"

  /** Superseded catalog generations kept on disk after a rewrite so
    * registered views (whose parquet file lists are captured at
    * registration) keep reading a CONSISTENT older catalog instead of
    * failing on deleted files. Catalog directories are metadata-sized;
    * 64 generations is hours of headroom at any realistic annotation
    * cadence. */
  val RetainedCatalogGenerations = 64L

  /** Metadata limits, mirrored from
    * /root/reference/internal/mprovider/metaprovider.go:18-28. */
  val MaximumTags = 32
  val MaximumAnnotations = 64
  val MaxTagKeyLength = 64
  val MaxTagValLength = 256
  val MaxAnnKeyLength = 64
  val MaxAnnValLength = 256
  val MaxCollectionLength = 256
  private val KeyRegex = "^[a-z][a-z0-9_.]*$".r
  def validTagKey(k: String): Boolean =
    k.nonEmpty && k.length < MaxTagKeyLength && KeyRegex.matches(k)
  def validAnnKey(k: String): Boolean =
    k.nonEmpty && k.length < MaxAnnKeyLength && KeyRegex.matches(k)

  val CatalogSchema =
    "uuid STRING, sid BIGINT, collection STRING, tags MAP<STRING,STRING>, " +
      "annotations MAP<STRING,STRING>, annotationVersion BIGINT, tombstoned BOOLEAN"
  val CommitSchema =
    "sid BIGINT, version BIGINT, kind STRING, tmin BIGINT, tmax BIGINT, " +
      "npoints BIGINT, ranges ARRAY<STRUCT<s: BIGINT, e: BIGINT>>, " +
      "compacted BOOLEAN, batches ARRAY<BIGINT>, grid BOOLEAN"
  // Declared layouts of the engine-owned Parquet areas: data columns in
  // file order, then the partition columns. Every read passes one of
  // these, so planning a read never runs a footer-inference job.
  // SchemaConformanceSpec checks each against what the writers produce.
  val StagingSchema = "time BIGINT, value DOUBLE, sid BIGINT, batch BIGINT"
  val PointsSchema =
    "sid BIGINT, time BIGINT, value DOUBLE, version BIGINT, sbucket INT, tbucket BIGINT"
  /** `vsc` is DECIMAL(38,0); pre-ccnt files stored it as INT64, which the
    * Parquet reader widens to the declared type. */
  val PyramidSchema =
    "sid BIGINT, wstart BIGINT, cnt BIGINT, ccnt BIGINT, vmin DOUBLE, " +
      "vmax DOUBLE, vsum DOUBLE, vsc DECIMAL(38,0), pw INT, sbucket INT, " +
      "wbucket BIGINT"
  val QhistSchema =
    "sid BIGINT, wstart BIGINT, c BIGINT, cnt BIGINT, sbucket INT, wbucket BIGINT"
}
