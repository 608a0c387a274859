package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

import graft.core.Jsons
import graft.engine.{Btrdb, Federation}
import graft.etl.{EtlViews, VersionedStore}
import graft.storage.Store

/** Operator console — the analog of the reference's admin CLI plugin
  * (/root/reference/cliplugin/plugin.go:25-40: cluster info, member
  * maintenance) for this engine's deployment shape: every maintenance
  * operation the Scala API exposes (stream compaction, pyramid repair,
  * obliterate purge, federation migration, ETL-store compaction)
  * becomes one `runMain` away instead of an sbt console session.
  *
  * `sbt "runMain graft.AdminCli <command> [args…]"`, one JSON result
  * line per command (the bench/verify convention):
  *
  * {{{
  *   info <engineRoot> [collectionPrefix] [streamCursor] [pageSize]
  *                                          catalog + version summary;
  *                                          stream list capped at 10k
  *                                          rows per call (the
  *                                          reference's listing bound,
  *                                          metaprovider.go:24; an
  *                                          explicit pageSize clamps
  *                                          TO that cap, never past
  *                                          it) — a truncated page
  *                                          reports `stream_cursor`,
  *                                          pass it back for the next
  *                                          page
  *   stream <engineRoot> <uuid>             descriptor + versions
  *   compact <engineRoot> <uuid>            squash the commit archive
  *   repair <engineRoot> <uuid>             verify/heal the stat pyramid
  *   purge <engineRoot>                     reclaim obliterated streams
  *   migrate <fromRoot> <toRoot> <uuid>     move a stream between members
  *   stamp-geometry <engineRoot> <sb> <tb> <pl> <wb> <ql>
  *                                          migrate a pre-stamp (legacy)
  *                                          root: open it ONCE at the
  *                                          operator-supplied layout
  *                                          geometry, which stamps the
  *                                          root's GEOMETRY file —
  *                                          after which every tool can
  *                                          `attach`. pl = comma-
  *                                          separated pyramid levels or
  *                                          `-` (none); ql = quantile
  *                                          level or `-`. The operands
  *                                          are the constructor args
  *                                          the root was BUILT with —
  *                                          a wrong guess here is the
  *                                          wrong-geometry corruption
  *                                          attach refuses, so copy
  *                                          them from the owning
  *                                          pipeline's configuration.
  *                                          Idempotent on an already-
  *                                          stamped root with matching
  *                                          args; refuses on mismatch.
  *   store-status <storeRoot>               versioned ETL store summary
  *                                          (pointer/META/manifests —
  *                                          no Spark session)
  *   store-compact <kind> <storeRoot>       squash an ETL store;
  *                                          kind = dedup|contam|
  *                                          fed-dedup|fed-contam|derived
  *   store-fold <kind> <storeRoot>          fold a federation store's
  *                                          unabsorbed member deltas;
  *                                          kind = fed-dedup|fed-contam
  * }}}
  *
  * `store-fold` serves deployments without a streaming fold cadence
  * ([[graft.streaming.StreamingFedIndex]]); member handles
  * reconstruct from the store's MEMBERS file. THRESHOLDED federations
  * (a pair-admission predicate in META) refuse the console fold by
  * construction — the predicate is a Column only the owning pipeline
  * can supply — and must fold where they were built.
  *
  * Locking: read-only commands attach without the engine lock (the
  * daemon's convention); mutating engine commands take it, so a
  * concurrent writer refuses loudly rather than corrupting. The ETL
  * store compactions run under the stores' single-writer contract —
  * quiesce the ingest writer first, exactly as for any other
  * maintenance window. Engine roots open at the deployment's default
  * geometry (the daemon's convention — `graft.Service` does the same).
  */
object AdminCli {

  /** Per-page bound on the console's stream listing — the reference's
    * MaximumListLimit (metaprovider.go:24). */
  private[graft] val StreamListCap = 10000

  private def jstr(s: String): String = Jsons.str(s)

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-admin")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Pure-metadata store summary: works on ANY versioned store root
    * (dedup/contam/derived/federation) because they share the ONE
    * layout contract (CURRENT "cur base tail…", META, per-version
    * MANIFEST) — no Spark session, safe against live writers (readers
    * resolve through the atomic pointer). */
  private def storeStatus(rootUri: String): String = {
    val store = new Store(rootUri, new Configuration())
    // a typo'd path must error, not print a healthy-looking empty
    // store — but META is written on FIRST USE (update/fold), not at
    // construction, so a created-but-never-folded root is a real
    // (empty) store and must status as one: the existence check is on
    // the root itself
    require(store.exists(""), s"no such store root: $rootUri")
    val meta = store.readString("META").map(_.trim).getOrElse("")
    val cur = store.readString("CURRENT").map(_.trim).getOrElse("")
    val members = store.readString("MEMBERS").map(_.trim.split("\n").length)
    val p = cur.split("\\s+").filter(_.nonEmpty).toSeq
    // the stores' OWN pointer rules (one parse, VersionedStore's) plus
    // the universal invariant every subclass's validatePointer implies
    // (numeric tokens, base ∈ [1, cur]); a corrupt pointer must flag,
    // not print confidently wrong numbers
    val parsed = scala.util.Try {
      if (p.isEmpty) (0L, 1L, Seq.empty[String])
      else VersionedStore.parsePointer(p)
    }.toOption.filter { case (c, b, _) => b >= 1 && (c == 0 || b <= c) }
    parsed match {
      case None =>
        s"""{"root":${jstr(rootUri)},"current":${jstr(cur)},""" +
          s""""pointer_ok":false,"meta":${jstr(meta)}}"""
      case Some((curV, baseV, _)) =>
        val manifests =
          if (curV == 0) Seq.empty
          else (baseV to curV).flatMap(v =>
            store.readString(s"v$v/MANIFEST").map(m => v -> m.trim))
        val mjson = manifests.map { case (v, m) =>
          s""""v$v":${jstr(m)}""" }.mkString("{", ",", "}")
        s"""{"root":${jstr(rootUri)},"current":${jstr(cur)},""" +
          s""""pointer_ok":true,""" +
          s""""version":$curV,"base":$baseV,"live_versions":${manifests.size},""" +
          s""""meta":${jstr(meta)}""" +
          members.map(n => s""","members":$n""").getOrElse("") +
          s""","manifests":$mjson}"""
    }
  }

  def main(args: Array[String]): Unit = {
    var created: Option[SparkSession] = None
    def sparkOf(): SparkSession = created.getOrElse {
      val s = session(); created = Some(s); s
    }
    try println(run(args, sparkOf _))
    finally created.foreach(_.stop())
  }

  /** Command dispatch, session-injected so a host (spec, daemon) can
    * run commands against its own SparkSession without this object
    * stopping it. */
  private[graft] def run(args: Array[String],
                         sparkOf: () => SparkSession): String = {
    require(args.nonEmpty, "usage: AdminCli <command> [args…] — " +
      "info|stream|compact|repair|purge|migrate|store-status|" +
      "store-compact|store-fold|stamp-geometry")
    // arity up front: a forgotten operand must die on the usage line,
    // not on an index error after a SparkSession spun up and a
    // mutating command already took the engine lock
    val arity = Map("info" -> 1, "stream" -> 2, "compact" -> 2,
      "repair" -> 2, "purge" -> 1, "migrate" -> 3,
      "store-status" -> 1, "store-compact" -> 2, "store-fold" -> 2,
      "stamp-geometry" -> 6)
    arity.get(args(0)).foreach(n => require(args.length > n,
      s"'${args(0)}' takes $n operand(s), got ${args.length - 1} — " +
        "see the AdminCli doc"))
    args(0) match {
      case "store-status" =>
        storeStatus(args(1))

      case "store-compact" =>
        val (kind, root) = (args(1), args(2))
        val spark = sparkOf()
        locally {
          val v = kind match {
            case "dedup" => EtlViews.openDedup(spark, root).compact()
            case "contam" => EtlViews.openContam(spark, root).compact()
            case "fed-dedup" => EtlViews.openFedDedup(spark, root).compact()
            case "fed-contam" => EtlViews.openFedContam(spark, root).compact()
            case "derived" => EtlViews.openDerived(spark, root).compact()
            case k => throw new IllegalArgumentException(
              s"unknown store kind '$k' (dedup|contam|fed-dedup|" +
                "fed-contam|derived)")
          }
          s"""{"op":"store-compact","kind":${jstr(kind)},""" +
            s""""root":${jstr(root)},"version":$v}"""
        }

      case "store-fold" =>
        val (kind, root) = (args(1), args(2))
        val spark = sparkOf()
        locally {
          // fold-on-demand for deployments without a streaming cadence
          // (StreamingFedIndex): absorb every member's unabsorbed
          // versions now; a no-op (every member already absorbed)
          // reports folded=false rather than burning a version
          val r = kind match {
            case "fed-dedup" =>
              EtlViews.openFedDedup(spark, root).fold()
                .map(r => (r.version, s""""new_reps":${r.nNewReps},""" +
                  s""""new_pairs":${r.nNewPairs}"""))
            case "fed-contam" =>
              EtlViews.openFedContam(spark, root).fold()
                .map(r => (r.version, s""""new_keys":${r.nNewKeys},""" +
                  s""""new_postings":${r.nNewPostings}"""))
            case k => throw new IllegalArgumentException(
              s"unknown federation store kind '$k' (fed-dedup|fed-contam)")
          }
          s"""{"op":"store-fold","kind":${jstr(kind)},""" +
            s""""root":${jstr(root)},"folded":${r.isDefined}""" +
            r.map { case (v, stats) => s""","version":$v,$stats""" }
              .getOrElse("") + "}"
        }

      case "info" =>
        val spark = sparkOf()
        locally {
          import org.apache.spark.sql.functions.col
          val db = Btrdb.attach(spark, args(1), lockRoot = false)
          val prefix = args.lift(2).getOrElse("")
          val i = db.engineInfo()
          // listCollections is already capped at 10k by its own contract
          val cols = db.listCollections(prefix).collect()
            .map(r => jstr(r.getString(0))).mkString("[", ",", "]")
          // The stream listing is PAGED, never a full-catalog collect: a
          // million-stream root must not OOM the console driver. The
          // reference bounds the analogous listing at 10k
          // (/root/reference/internal/mprovider/metaprovider.go:24); the
          // cursor is the page's last uuid (unique, totally ordered), so
          // `info root prefix <cursor>` resumes exactly after it.
          val cursor = args.lift(3).getOrElse("")
          val cap = args.lift(4)
            .map(v => v.toIntOption.filter(_ > 0)
              .getOrElse(throw new IllegalArgumentException(
                s"pageSize must be a positive integer, got '$v'")))
            .fold(StreamListCap)(math.min(_, StreamListCap))
          val page = db.lookupStreams(prefix)
            .select("collection", "uuid")
            .filter(col("uuid") > cursor)
            .orderBy("uuid")
            .limit(cap + 1)
            .collect()
          val rows = page.take(cap)
          val streams = rows
            .map(r => s"""{"collection":${jstr(r.getString(0))},""" +
              s""""uuid":${jstr(r.getString(1))}}""")
            .mkString("[", ",", "]")
          val nextCursor =
            if (page.length > cap)
              s""","stream_cursor":${jstr(rows.last.getString(1))}"""
            else ""
          val geom = db.store.readString(Btrdb.GeometryFile)
            .map(_.trim).getOrElse("")
          val warns = i.warnings.map(jstr).mkString("[", ",", "]")
          // serving-path reads of this handle, per kind, and the points
          // their rows carried
          val reads = i.reads.toSeq.sortBy(_._1).map { case (k, c) =>
            s"""${jstr(k)}:{"reads":${c.reads},"points":${c.points}}"""
          }.mkString("{", ",", "}")
          s"""{"op":"info","build":${jstr(i.build)},""" +
            s""""healthy":${i.healthy},"streams":${i.streamCount},""" +
            s""""points":${i.pointCount},"geometry":${jstr(geom)},""" +
            s""""warnings":$warns,"reads":$reads,""" +
            s""""collections":$cols,""" +
            s""""stream_list":$streams$nextCursor}"""
        }

      case "stream" =>
        val spark = sparkOf()
        locally {
          val db = Btrdb.attach(spark, args(1), lockRoot = false)
          val (d, maj, minor) = db.streamInfo(args(2))
          s"""{"op":"stream","uuid":${jstr(d.uuid)},""" +
            s""""collection":${jstr(d.collection)},"sid":${d.sid},""" +
            s""""major":$maj,"minor":$minor,""" +
            s""""annotation_version":${d.annotationVersion}}"""
        }

      case "compact" =>
        val spark = sparkOf()
        locally {
          val db = Btrdb.attach(spark, args(1))
          try {
            val v = db.compact(args(2))
            s"""{"op":"compact","uuid":${jstr(args(2))},"version":$v}"""
          } finally db.close()
        }

      case "repair" =>
        val spark = sparkOf()
        locally {
          val db = Btrdb.attach(spark, args(1))
          try {
            val healed = db.repairPyramid(args(2))
            s"""{"op":"repair","uuid":${jstr(args(2))},"healed":$healed}"""
          } finally db.close()
        }

      case "purge" =>
        val spark = sparkOf()
        locally {
          val db = Btrdb.attach(spark, args(1))
          try {
            val sids = db.purgeObliterated()
            s"""{"op":"purge","purged_sids":${sids.mkString("[", ",", "]")}}"""
          } finally db.close()
        }

      case "migrate" =>
        val spark = sparkOf()
        locally {
          val from = Btrdb.attach(spark, args(1))
          try {
            val to = Btrdb.attach(spark, args(2))
            try {
              val r = Federation.migrate(args(3), from, to)
              s"""{"op":"migrate","uuid":${jstr(r.uuid)},""" +
                s""""from_sid":${r.fromSid},"to_sid":${r.toSid},""" +
                s""""points":${r.npoints},"major":${r.major}}"""
            } finally to.close()
          } finally from.close()
        }

      case "stamp-geometry" =>
        // The in-product migration path for roots that predate geometry
        // stamps: Btrdb.attach refuses them (guessed defaults on a
        // non-default root silently read the wrong partition dirs), and
        // before this command the only remediation was writing custom
        // code with explicit constructor args. Here the operator
        // supplies those args and the locking open stamps the root —
        // the constructor itself validates against any existing stamp,
        // so a re-run with matching args is idempotent and a mismatch
        // refuses loudly instead of re-stamping.
        val root = args(1)
        def geomArg(v: String, what: String): Int =
          v.toIntOption.getOrElse(throw new IllegalArgumentException(
            s"$what must be an integer, got '$v'"))
        val sb = geomArg(args(2), "sBuckets")
        val tb = geomArg(args(3), "tBucketPw")
        val pl = args(4) match {
          case "-" => Seq.empty[Int]
          case s => s.split(",").toSeq.map(geomArg(_, "pyramid level"))
        }
        val wb = geomArg(args(5), "pyramidWBucketPw")
        val ql = args(6) match {
          case "-" => None
          case s => Some(geomArg(s, "quantileLevel"))
        }
        val spark = sparkOf()
        locally {
          val store = new Store(root, spark.sessionState.newHadoopConf())
          val preStamped = store.readString(Btrdb.GeometryFile).isDefined
          val db = new Btrdb(spark, root, sBuckets = sb, tBucketPw = tb,
            pyramidLevels = pl, pyramidWBucketPw = wb, quantileLevel = ql,
            lockRoot = true)
          try {
            val geom = db.store.readString(Btrdb.GeometryFile)
              .map(_.trim).getOrElse("")
            s"""{"op":"stamp-geometry","root":${jstr(root)},""" +
              s""""geometry":${jstr(geom)},"stamped":${!preStamped}}"""
          } finally db.close()
        }

      case c => throw new IllegalArgumentException(
        s"unknown command '$c' — info|stream|compact|repair|purge|" +
          "migrate|store-status|store-compact|store-fold|stamp-geometry")
    }
  }
}
