package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** One stream descriptor, a row of the catalog table in its column order
  * ([[Btrdb.CatalogSchema]]). */
private[graft] final case class CatalogRow(uuid: String, sid: Long, collection: String,
    tags: Map[String, String], annotations: Map[String, String],
    annotationVersion: Long, tombstoned: Boolean) {
  def info: StreamDescInfo =
    StreamDescInfo(uuid, sid, collection, tags, annotations, annotationVersion)
  def toRow: Row = Row(uuid, sid, collection, tags, annotations, annotationVersion, tombstoned)
}

private[graft] object CatalogRow {
  def of(r: Row): CatalogRow = CatalogRow(r.getString(0), r.getLong(1), r.getString(2),
    r.getMap[String, String](3).toMap, r.getMap[String, String](4).toMap,
    r.getLong(5), r.getBoolean(6))
}

/** The stream catalog of a root — every descriptor, live and tombstoned
  * (mprovider's etcd store, reference `internal/mprovider`) — as one
  * immutable value with the indexes every metadata lookup answers from.
  * Its only transitions are [[created]], [[annotated]] and
  * [[obliterated]]; each validates against the reference's limits and
  * returns the next value, or this one when nothing changes. Rows are in
  * sid order. */
private[engine] final class Catalog private (val rows: Vector[CatalogRow]) {
  import Btrdb._
  import Catalog._

  val live: Map[String, CatalogRow] =
    rows.iterator.filterNot(_.tombstoned).map(r => r.uuid -> r).toMap
  /** The uuid of every sid, tombstoned streams included. */
  val uuidOf: Map[Long, String] = rows.iterator.map(r => r.sid -> r.uuid).toMap
  /** Obliterated streams; a tombstone outlives the purge of its bytes. */
  val tombstoned: Set[Long] = rows.iterator.filter(_.tombstoned).map(_.sid).toSet
  /** Streams being migrated into this root ([[Federation.migrate]]). */
  val migratingIn: Set[Long] = marked(MigratingInAnnotation)
  /** Streams fenced against writes while they migrate out. */
  val migratingOut: Set[Long] = marked(MigratingOutAnnotation)
  /** Streams the SQL views and the pyramid substitution leave out. */
  def hidden: Set[Long] = tombstoned ++ migratingIn
  val nextSid: Long = rows.lastOption.fold(0L)(_.sid + 1)

  def isLive(sid: Long): Boolean = uuidOf.get(sid).exists(live.contains)

  private def marked(annotation: String): Set[Long] =
    live.valuesIterator.filter(_.annotations.contains(annotation)).map(_.sid).toSet

  /** CreateStream for each of `streams` (uuid, collection, tags,
    * annotations), at consecutive new sids: a uuid may never be reused,
    * tombstoned ones included, and (collection, tags) is unique among
    * live streams (`metaprovider.go:288-320`). */
  def created(streams: Seq[(String, String, Map[String, String], Map[String, String])]): Catalog = {
    require(streams.map(_._1).distinct.size == streams.size, "duplicate uuid within batch")
    require(streams.map(s => key(s._2, s._3)).distinct.size == streams.size,
      "duplicate (collection, tags) within batch")
    val uuids = rows.iterator.map(_.uuid).toSet
    val keys = live.valuesIterator.map(r => key(r.collection, r.tags)).toSet
    streams.foreach { case (u, c, t, a) =>
      require(!uuids.contains(u), s"stream exists or uuid tombstoned: $u")
      require(!keys.contains(key(c, t)), s"(collection, tags) exists: $c")
      validate(c, t, a)
    }
    new Catalog(rows ++ streams.zipWithIndex.map { case ((u, c, t, a), i) =>
      CatalogRow(u, nextSid + i, c, t, a, 0L, tombstoned = false) })
  }

  /** SetStreamAnnotations: a compare-and-set on `annotationVersion`; a
    * `None` value removes the key (`metaprovider.go:98,142-208`). */
  def annotated(uuid: String, expectedVersion: Long,
                changes: Map[String, Option[String]]): Catalog =
    rows.indexWhere(_.uuid == uuid) match {
      case -1 => this
      case i =>
        val r = rows(i)
        require(r.annotationVersion == expectedVersion,
          s"annotation CAS failed: expected $expectedVersion got ${r.annotationVersion}")
        changes.foreach { case (k, v) =>
          require(validKey(k), s"invalid annotation key: '$k'")
          v.foreach(value => require(value.length < MaxValLength,
            s"annotation value too long: '$k'"))
        }
        val anns = (r.annotations ++ changes.collect { case (k, Some(v)) => k -> v }) --
          changes.collect { case (k, None) => k }
        require(anns.size <= MaximumAnnotations, "annotation limit")
        new Catalog(rows.updated(i, r.copy(annotations = anns,
          annotationVersion = r.annotationVersion + 1)))
    }

  /** Obliterate: the live stream `uuid` is tombstoned. */
  def obliterated(uuid: String): Catalog =
    if (!live.contains(uuid)) this
    else new Catalog(rows.map(r => if (r.uuid == uuid) r.copy(tombstoned = true) else r))
}

private[engine] object Catalog {
  val Empty = new Catalog(Vector.empty)

  /** The reference's metadata limits (`metaprovider.go:18-47`): tag and
    * annotation keys match ^[a-z][a-z0-9_.]*$ and are shorter than 64;
    * tag values are non-empty and NUL-free, annotation values may be
    * empty; values and collections are shorter than 256, and a
    * collection is non-empty and NUL-free. */
  val MaximumTags = 32
  val MaximumAnnotations = 64
  val MaxKeyLength = 64
  val MaxValLength = 256
  val MaxCollectionLength = 256
  private val KeyRegex = "^[a-z][a-z0-9_.]*$".r
  def validKey(k: String): Boolean = k.length < MaxKeyLength && KeyRegex.matches(k)

  def apply(rows: Seq[CatalogRow]): Catalog = new Catalog(rows.sortBy(_.sid).toVector)

  /** The uniqueness key of a live stream: its collection and its tags in
    * canonical (sorted) order. */
  def key(collection: String, tags: Map[String, String]): (String, Seq[(String, String)]) =
    (collection, tags.toSeq.sorted)

  private def validate(collection: String, tags: Map[String, String],
                       annotations: Map[String, String]): Unit = {
    require(collection.nonEmpty && collection.length < MaxCollectionLength &&
      !collection.contains('\u0000'), s"invalid collection: '$collection'")
    require(tags.size <= MaximumTags, "tag limit")
    require(annotations.size <= MaximumAnnotations, "annotation limit")
    tags.foreach { case (k, v) =>
      require(validKey(k), s"invalid tag key: '$k'")
      require(v.nonEmpty && v.length < MaxValLength && !v.contains('\u0000'),
        s"invalid tag value for '$k'")
    }
    annotations.foreach { case (k, v) =>
      require(validKey(k), s"invalid annotation key: '$k'")
      require(v.length < MaxValLength, s"annotation value too long: '$k'")
    }
  }
}

/** The engine's metadata provider (the reference's mprovider): the one
  * [[Catalog]] value of the root, its load and its writes, and the
  * metadata RPCs answered from it. Every catalog write holds the one
  * catalog lock: it computes the next value from the current one, writes
  * it, and publishes it after the write. Mixed into [[Btrdb]]. */
private[engine] trait MetaProvider { self: Btrdb =>
  import Btrdb._

  @volatile private var catalogValue: Catalog = null

  /** The current catalog: loaded from the live generation with one
    * Parquet read and one collect on first use and after
    * [[refreshCatalog]], then replaced by every catalog write. Lookups
    * take it with no lock. */
  private[engine] def catalogSnapshot: Catalog = {
    val c = catalogValue
    if (c != null) c
    else exclusive("catalog") {
      if (catalogValue == null)
        catalogValue = Catalog(readOr(catalogDir, CatalogSchema).collect().toSeq.map(CatalogRow.of))
      catalogValue
    }
  }

  private[engine] def requireNotMigratingOut(sid: Long, op: String): Unit =
    require(!catalogSnapshot.migratingOut.contains(sid),
      s"$op rejected: stream sid=$sid is migrating out of this root " +
        "(writes after the migration's parity digest would be lost at cutover)")

  /** Raise the migrating-out fence (idempotent): while it is up, inserts
    * and deletes of the stream are rejected — a write that lands at the
    * source after [[Federation.migrate]]'s parity digest would be
    * silently discarded at cutover. Durable (a catalog annotation), so the
    * fence survives a crash mid-migration; flushes of already-staged data
    * stay allowed, as migrate drains them before the replay. */
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

  /** The live catalog directory. Whole-catalog rewrites (annotation
    * CAS, obliterate) go to a NEW `catalog_v/<n>` directory and then
    * atomically swing the `catalog_CURRENT` pointer file — a crash at
    * any instant leaves either the old or the new catalog fully intact,
    * never a half-written table (the tmp-then-overwrite pattern this
    * replaces had a destroy-then-rebuild window). Appends (stream
    * creation) land inside the current directory, which parquet commits
    * via its own task-temp rename. */
  private[graft] def catalogDir: String =
    store.readString("catalog_CURRENT") match {
      case Some(v) => s"catalog_v/${v.trim}"
      case None => "catalog" // pre-first-rewrite layout
    }

  /** The stream descriptors, one row per stream with its `tombstoned`
    * flag, as a local relation over the current catalog. */
  def catalog: DataFrame = local(CatalogSchema, catalogSnapshot.rows.map(_.toRow))

  /** CreateStream: uuid and (collection, tags) must be unique among live
    * streams; tombstoned uuids may never be reused
    * (reference `internal/mprovider/metaprovider.go:288-320`). */
  def createStream(uuid: String, collection: String,
                   tags: Map[String, String],
                   annotations: Map[String, String] = Map.empty): Long =
    create(Seq((uuid, collection, tags, annotations))).head

  /** Bulk stream creation — one catalog write for N streams (catalogs
    * are created in bulk at 10k-stream scale, mp_test.go:285). Same
    * uniqueness rules. */
  def createStreams(streams: Seq[(String, String, Map[String, String])]): Seq[Long] =
    create(streams.map { case (u, c, t) => (u, c, t, Map.empty[String, String]) })

  private def create(streams: Seq[(String, String, Map[String, String],
                                   Map[String, String])]): Seq[Long] =
    exclusive("catalog") {
      val cur = catalogSnapshot
      val next = cur.created(streams)
      val added = next.rows.drop(cur.rows.size)
      if (added.nonEmpty)
        spark.createDataFrame(added).write.mode(SaveMode.Append).parquet(path(catalogDir))
      catalogValue = next
      added.map(_.sid)
    }

  /** LookupStreams: tag/annotation predicates; None ⇒ key must exist
    * (reference `internal/mprovider/lookup.go:209-292`). */
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

  /** ListCollections with prefix + cursor + limit (≤10k, reference
    * `internal/mprovider/metaprovider.go:423-451`): the distinct live
    * collections from `startingFrom` on, in Spark's string order. */
  def listCollections(prefix: String, startingFrom: String = "",
                      limit: Int = 10000): DataFrame = {
    val from = UTF8String.fromString(startingFrom)
    local("collection STRING", liveIn(prefix).map(_.collection).distinct
      .map(UTF8String.fromString).filter(_.compareTo(from) >= 0).sorted
      .take(math.min(limit, 10000)).map(c => Row(c.toString)))
  }

  /** GetKeyUsage: streams-per-tag-key and per-annotation-key counts. */
  def keyUsage(collectionPrefix: String): DataFrame = {
    val live = liveIn(collectionPrefix)
    local("kind STRING NOT NULL, key STRING NOT NULL, cnt BIGINT NOT NULL",
      Seq("tag" -> live.flatMap(_.tags.keys), "annotation" -> live.flatMap(_.annotations.keys))
        .flatMap { case (kind, keys) =>
          keys.groupMapReduce(identity)(_ => 1L)(_ + _).toSeq.sorted
            .map { case (k, n) => Row(kind, k, n) } })
  }

  /** The live streams whose collection starts with `prefix`. */
  private def liveIn(prefix: String): Vector[CatalogRow] =
    catalogSnapshot.rows.filter(r => !r.tombstoned && r.collection.startsWith(prefix))

  /** `rows` of the DDL `schema` as a local relation, built with no Spark job. */
  private[engine] def local(schema: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(schema))

  /** SetStreamAnnotations, set-only convenience form. */
  def setAnnotations(uuid: String, expectedVersion: Long,
                     updates: Map[String, String]): Unit =
    updateAnnotations(uuid, expectedVersion,
      updates.map { case (k, v) => k -> Some(v) })

  /** SetStreamAnnotations with the reference's full change semantics:
    * CAS on annotationVersion; a `None` value REMOVES the key (the
    * `map[string]*string` nil-value convention, reference
    * `internal/mprovider/metaprovider.go:98,142-208`). */
  def updateAnnotations(uuid: String, expectedVersion: Long,
                        changes: Map[String, Option[String]]): Unit =
    rewriteCatalog(_.annotated(uuid, expectedVersion, changes))

  /** Obliterate: tombstone the stream; its sid never reappears in reads
    * (reference `quasar.go:572-593`). Data is left for compaction. */
  def obliterate(uuid: String): Unit = rewriteCatalog(_.obliterated(uuid))

  /** Crash-safe whole-catalog rewrite, under the catalog lock: write the
    * next `catalog_v/<n>` directory in full, then atomically move a
    * pointer file onto `catalog_CURRENT`. Readers resolve through the
    * pointer, so they see the old catalog until the instant of the
    * (atomic) move and the new one after — no window where the catalog
    * is missing or partial. An evicted writer is refused even when the
    * transition changes nothing, which writes nothing. */
  private def rewriteCatalog(transition: Catalog => Catalog): Unit =
    exclusive("catalog") {
      val cur = catalogSnapshot
      val next = transition(cur)
      requireWriterLive()
      if (next ne cur) {
        val gen = catalogDir match {
          case "catalog" => 1L
          case d => d.stripPrefix("catalog_v/").toLong + 1
        }
        spark.createDataFrame(next.rows).write.mode(SaveMode.Overwrite)
          .parquet(path(s"catalog_v/$gen"))
        store.writeAtomic("catalog_CURRENT", gen.toString)
        catalogValue = next
        // Superseded generations are RETAINED (bounded) rather than
        // deleted on the spot: another process that resolved the pointer
        // before the swing (a daemon's or console's load) still reads a
        // consistent older generation, never a deleted one.
        val floor = gen - Btrdb.RetainedCatalogGenerations
        if (floor > 0) deleteDir("catalog") // pre-versioning layout
        store.listNames("catalog_v")
          .flatMap(_.toLongOption).filter(_ <= floor)
          .foreach(n => deleteDir(s"catalog_v/$n"))
      }
    }

  /** The live descriptor of `uuid`; an unknown or obliterated uuid is a
    * `NoSuchElementException`, which the wire answers as 404. */
  private[engine] def liveStream(uuid: String): CatalogRow =
    catalogSnapshot.live.getOrElse(uuid,
      throw new NoSuchElementException(s"no live stream $uuid"))

  /** Internal stream id of a live uuid (stable for the stream's life). */
  def sidOf(uuid: String): Long = liveStream(uuid).sid

  /** Re-read the catalog from disk — call after an external process
    * rewrote it (a writer's annotation CAS / obliterate seen from a
    * read-only attach). */
  def refreshCatalog(): Unit = exclusive("catalog") { catalogValue = null }
}
