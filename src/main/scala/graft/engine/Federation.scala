package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Horizontal WRITE scale-out: N single-writer engine roots serving one
  * federated read surface.
  *
  * The reference spreads its write path across nodes by murmur3-MASH
  * stream placement (/root/reference/internal/configprovider/
  * cluster_leader.go:15-37, clustering.go:65-96): every node owns a
  * hash range and accepts writes only for streams in it. This engine
  * keeps the reference's per-root single-writer contract (advisory
  * lock, commit log, catalog) and federates ABOVE it, the same shape:
  *
  *   - each writer owns one root and the DISJOINT set of streams that
  *     [[ownerOf]] places there — no commit-log or catalog contention,
  *     no cross-writer coordination, each root's lock/versioning story
  *     unchanged;
  *   - readers union the members' merged point views into one SQL
  *     surface ([[registerViews]]). Each member contributes its own
  *     partition-pruned scan; the union adds no shuffle (unions are
  *     free in Spark — the scans just schedule side by side), so read
  *     cost is identical to querying the roots separately;
  *   - stream identity across the federation is (engine, sid) — or the
  *     uuid, which [[ownerOf]] makes globally unique-per-root. The
  *     views carry an `engine` column for exactly that reason.
  *
  * See SCALE.md "Multi-writer federation" for the 100 TB sizing note.
  */
object Federation {

  /** Write placement: which of `n` writers owns `uuid` — deterministic
    * murmur3 hash placement, the analog of the reference's MASH ring.
    * Every client computes the same owner with no coordination; `n`
    * changes are a resharding event (as they are in the reference). */
  def ownerOf(uuid: String, n: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(uuid), n)

  /** The federated latest-version point surface: every member's merged
    * point view ([[Btrdb.pointsView]]) tagged with its engine name.
    * One subplan per member, each partition-pruned independently. */
  def pointsView(engines: Seq[(String, Btrdb)]): DataFrame = {
    require(engines.nonEmpty, "federation needs at least one engine")
    engines.map { case (name, e) =>
      e.pointsView().withColumn("engine", lit(name))
    }.reduce(_ unionByName _)
  }

  /** Register the federation as plain SQL: `<prefix>_points`
    * (engine, sid, time, value) and `<prefix>_catalog` (live stream
    * descriptors, engine-tagged). Stat-shaped aggregates over the
    * union view are served from EVERY member's rollup pyramid — the
    * Catalyst rule ([[graft.plans.PyramidSubstitution]]) unions the
    * members' pyramid partials and pays one final combine, the same
    * shape as the reference answering stat queries from pre-aggregated
    * cores on every node (/root/reference/qtree/qtree.go:863-944 under
    * MASH placement). Queries that filter or group on `engine` — or
    * hit a member with staged points / delete debt / off-grid values
    * (for avg/sum) — fall back to merge-on-read unchanged. */
  def registerViews(spark: SparkSession, prefix: String,
                    engines: Seq[(String, Btrdb)]): Unit = {
    pointsView(engines).createOrReplaceTempView(s"${prefix}_points")
    engines.map { case (name, e) =>
      e.catalog.filter(!col("tombstoned")).drop("tombstoned")
        .withColumn("engine", lit(name))
    }.reduce(_ unionByName _)
      .createOrReplaceTempView(s"${prefix}_catalog")
    graft.plans.PyramidSubstitution.registerFederation(
      spark, s"${prefix}_points", engines.map(_._2))
  }

  /** Outcome of [[migrate]]: the stream's id at each root and the
    * verified state (generation count and point count at cutover). */
  final case class MigrationReport(uuid: String, fromSid: Long,
      toSid: Long, major: Long, npoints: Long)

  /** The replay list of [[migrate]]: stream `sid`'s live commit records
    * at `from` above version `after`, in version order, with no Spark job. */
  private[engine] def replayList(from: Btrdb, sid: Long, after: Long): Seq[CommitRecord] =
    from.stateOf(sid).records.filter(_.version > after)

  /** Move one stream between federation roots — the resharding tool an
    * [[ownerOf]] `n` change requires (the reference's analog is a MASH
    * ring transition, /root/reference/internal/configprovider/
    * cluster_leader.go:15-37, where readings move to the node whose
    * hash range now covers them).
    *
    * Protocol, crash-safe at every step:
    *   1. raise the write fence at `from`
    *      ([[Btrdb.MigratingOutAnnotation]]): inserts and deletes on
    *      the stream are rejected from here until cutover — a write
    *      landing at the source AFTER the parity digest would be
    *      silently discarded when the tombstone hides its commit, so
    *      the fence closes that loss window outright (the reference's
    *      ring transition has the same no-new-writes phase). The fence
    *      is a durable annotation: it survives a crash mid-migration
    *      (re-running migrate completes it) and is cleared on the
    *      abort path if the parity gate throws;
    *   2. flush `from`'s staging so the commit log is the whole truth
    *      (only pre-fence data can be staged — inserts are rejected);
    *   3. create the stream at `to` under the
    *      [[Btrdb.MigratingInAnnotation]] marker — live for the replay
    *      API but hidden from `to`'s views and pyramid substitution,
    *      so no federated read can count the stream twice — and drop
    *      any uncommitted orphan rows a crashed replay left there
    *      ([[Btrdb.dropUncommittedReplay]]): resume would re-append
    *      the same generation and the duplicates would fail parity
    *      permanently;
    *   4. replay `from`'s effective commit log in version order at
    *      PINNED generation numbers (a compacted record replays its
    *      snapshot as one generation at the collapse version; deletes
    *      replay as anti-filter records) — pinned reads at the target
    *      then answer exactly as at the source for every surviving
    *      version;
    *   5. verify parity: point count and an order-independent content
    *      hash over (time, value, version) at the latest version, plus
    *      the major version itself;
    *   6. cut over: tombstone at `from` FIRST, then clear the marker at
    *      `to` — the stream is briefly absent from the federated view
    *      (the reference's ring transition has the same unavailability
    *      window) but never present twice.
    *
    * Idempotent: a crash mid-replay resumes after the target's major
    * (each replayed generation is a crash-safe commit; orphans of a
    * commit that died inside the crash window are repaired in step 3);
    * a crash between tombstone and marker-clear resumes at step 6. */
  def migrate(uuid: String, from: Btrdb, to: Btrdb): MigrationReport = {
    val marker = Btrdb.MigratingInAnnotation
    val toLive = to.catalogSnapshot.live.get(uuid)
    val fromLive = from.catalogSnapshot.live.contains(uuid)

    if (!fromLive) {
      // resume after a crash between tombstone and marker-clear: the
      // replay completed (the tombstone is written strictly after the
      // parity check), only the reveal remains
      require(toLive.exists(_.annotations.contains(marker)),
        s"stream not live at the source and not mid-migration at the target: $uuid")
      val (desc, maj, _) = to.streamInfo(uuid)
      to.updateAnnotations(uuid, desc.annotationVersion, Map(marker -> None))
      val n = to.pointsAt(uuid).count()
      return MigrationReport(uuid, -1L, desc.sid, maj, n)
    }

    // write fence BEFORE the flush: everything staged is pre-fence
    // data the flush drains; nothing can land after the digest
    from.beginMigrationOut(uuid)
    try {
      from.flush(uuid)
      val (desc, srcMajor, _) = from.streamInfo(uuid)
      val fromSid = desc.sid

      if (toLive.isEmpty) {
        to.createStream(uuid, desc.collection, desc.tags,
          desc.annotations + (marker -> "1") - Btrdb.MigratingOutAnnotation)
      } else {
        require(toLive.exists(_.annotations.contains(marker)),
          s"target already holds a live '$uuid' that is not migrating in")
      }
      val toSid = to.sidOf(uuid)

      // a crashed earlier replay may have appended a generation's rows
      // without committing them — provably-orphaned rows above the
      // target's major are dropped before the resume re-appends them
      to.dropUncommittedReplay(uuid)

      // resume skips what the target already committed
      replayList(from, fromSid, to.version(uuid)._1).foreach { r =>
        r.kind match {
          case "insert" =>
            to.replayInsert(uuid, r.version,
              from.generationRows(uuid, r.version, upTo = r.compacted),
              asCompacted = r.compacted)
          case "delete" =>
            to.replayDelete(uuid, r.version, r.tmin, r.tmax)
          case k => throw new IllegalStateException(s"unknown commit kind: $k")
        }
      }

      // parity gate: nothing at the source is touched unless the target
      // provably holds the same stream
      def digest(e: Btrdb): (Long, java.math.BigDecimal) = {
        // decimal sum: exact, order-independent, and immune to the ANSI
        // long-overflow a plain sum of 2^63-range hashes hits
        val r = e.pointsAt(uuid)
          .agg(count(lit(1)),
            coalesce(sum(xxhash64(col("time"), col("value"), col("version"))
              .cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)))
          .head()
        (r.getLong(0), r.getDecimal(1))
      }
      val (srcN, srcH) = digest(from)
      val (dstN, dstH) = digest(to)
      val dstMajor = to.version(uuid)._1
      require(srcMajor == dstMajor && srcN == dstN && srcH == dstH,
        s"migration parity failed for $uuid: " +
          s"major $srcMajor/$dstMajor, count $srcN/$dstN, hash $srcH/$dstH")

      // cutover: hide at the source FIRST — a reader between the two
      // steps misses the stream, but can never double-count it. The
      // source fence dies with the stream (tombstoned rows are not
      // fenced); the target never carried it.
      from.obliterate(uuid)
      val annVer = to.streamInfo(uuid)._1.annotationVersion
      to.updateAnnotations(uuid, annVer, Map(marker -> None))
      MigrationReport(uuid, fromSid, toSid, dstMajor, dstN)
    } catch {
      // abort path: the source is untouched and stays authoritative —
      // lift the fence so writes resume (a crash skips this, leaving
      // the durable fence up until migrate is re-run; that is the
      // safe default, since a fenced write can never be lost)
      case e: Throwable =>
        try from.endMigrationOut(uuid) catch { case _: Throwable => () }
        throw e
    }
  }
}
