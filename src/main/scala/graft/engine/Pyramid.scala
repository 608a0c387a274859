package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{TimeConsts, TimeOps}
import graft.operators.StatOps

/** The engine's two rollup tables — the stat pyramid (`pyramid/`, the
  * (count, min, mean, max) BTrDB keeps in its tree's internal nodes,
  * reference `qtree/qtree.go:863-944`) and the quantile histogram
  * (`qhist/`) — and everything that keeps them: one rewriter of a
  * table's (sbucket, wbucket) partitions shared by the insert fold, the
  * delete and heal recompute, the purge and the layout migration; the
  * fold watermark; the layout guards; the presence memo; the wbucket
  * alarms; and their readers. Mixed into [[Btrdb]]. */
private[engine] trait Pyramid { self: Btrdb =>
  import Btrdb._
  import Pyramid._

  // ---- presence memo --------------------------------------------------

  /** Non-emptiness memo of the rollup directories a read asks about
    * (`pyramid/pw=L`, `qhist`): each is probed at most once per
    * (in)validation — a stat query must never walk the filesystem. A fold
    * marks the directories it wrote present; a rewrite that may drain one
    * invalidates, and the next query re-probes lazily (one listing each). */
  private val present = scala.collection.mutable.Map.empty[String, Boolean]

  private def has(dir: String): Boolean = synchronized {
    present.getOrElseUpdate(dir, hasParquet(dir))
  }
  protected def qhistHas: Boolean = has("qhist")

  /** Drops the memos of the rollup tables' state on disk. */
  protected def refreshRollups(): Unit = synchronized {
    present.clear()
    wmEnabledMemo = None
  }

  /** The deepest maintained rollup level at or below 2^pw, if it holds
    * rows. */
  protected def rollupLevel(pw: Int): Option[Int] =
    pyramidLevels.filter(_ <= pw).sorted.lastOption.filter(l => has(s"pyramid/pw=$l"))

  /** The one pyramid-serving gate: true iff a rollup table that holds
    * rows (`table`: a level from [[rollupLevel]], or the quantile
    * histogram) answers stream `sid` in state `state` at `version`
    * exactly — a latest read of a stream with no delete debt whose
    * rollup includes every commit, and an empty write buffer unless the
    * path merges the buffer itself (`mergesBuffer`). */
  protected def rollupServes(table: Boolean, sid: Long, state: StreamState,
                             version: Long = TimeConsts.LatestGeneration,
                             mergesBuffer: Boolean = false): Boolean =
    table && version == TimeConsts.LatestGeneration && state.deletes.isEmpty &&
      pyramidCurrent(sid, state) && (mergesBuffer || state.minor == 0)

  // ---- pyramid fold watermark ----------------------------------------
  // The commit protocol is points → commit record → pyramid fold; a
  // crash between the record and the fold leaves the rollup silently
  // MISSING that commit's contribution — a stat query would then
  // under-count with no signal. The watermark closes that window: the
  // fold stamps `pyramid/_wm-<sid>` (atomic rename) with the commit
  // version it completed, readers treat wm < major as "pyramid not
  // current" (bail to merge-on-read, exactly like delete debt), and
  // the writer SELF-HEALS on its next fold — commits above the
  // watermark recompute their ranges from the point log (idempotent)
  // before the new batch folds. Steady state costs one tiny file
  // write per commit and zero extra jobs (the gap query runs only
  // when the watermark is actually behind). A root written before
  // watermarking has no `_wm` files; absence reads as current (the
  // legacy assumption), and the first post-upgrade fold starts
  // stamping.
  @volatile private var wmEnabledMemo: Option[Boolean] = None
  private def wmEnabled: Boolean = wmEnabledMemo.getOrElse {
    val e = exists(WmEnabledMarker)
    wmEnabledMemo = Some(e)
    e
  }
  /** Stream `sid`'s watermark stamp in its state `state`, read from
    * its file on first use and kept in the stream's state. */
  private def pyramidWatermark(sid: Long, state: StreamState): Option[Long] =
    state.watermark.getOrElse {
      val wm = store.readString(s"pyramid/_wm-$sid").map(_.trim.toLong)
      states.computeIfPresent(sid, (_, s) =>
        if (s.watermark.isEmpty) s.copy(watermark = Some(wm)) else s)
      wm
    }
  /** The watermark the consistency checks compare against: the per-sid
    * stamp when present; under the enablement marker an ABSENT stamp
    * means no fold ever completed (a crashed FIRST fold reads as 0,
    * stale) — only a root no post-upgrade writer has touched (no
    * marker) keeps the legacy everything-is-current assumption. */
  private def effectiveWatermark(sid: Long, state: StreamState): Option[Long] =
    pyramidWatermark(sid, state).orElse(if (wmEnabled) Some(0L) else None)
  protected def stampPyramidWatermark(sid: Long, v: Long): Unit = {
    store.writeAtomic(s"pyramid/_wm-$sid", v.toString)
    publish(sid)(_.copy(watermark = Some(Some(v))))
  }
  /** True iff the rollup provably includes every committed generation
    * of `sid` (or the root predates watermarking). */
  private[graft] def pyramidCurrent(sid: Long): Boolean = pyramidCurrent(sid, stateOf(sid))

  /** [[pyramidCurrent]] at the stream's state `state`; a stream with no
    * commit is current whatever its stamp. */
  private def pyramidCurrent(sid: Long, state: StreamState): Boolean =
    pyramidLevels.isEmpty || state.major == 0 ||
      effectiveWatermark(sid, state).forall(_ >= state.major)

  /** Ranges of commits whose fold a crash discarded: version in
    * (wm, below). Empty in steady state. Bounded: past `MaxHealRanges`
    * the ranges coalesce to their overall envelope — one recompute of
    * everything beats a thousands-way DataFrame union (the
    * legacy-root-upgrade case, where effective watermark 0 makes the
    * whole history "missed": the first post-upgrade fold then does one
    * envelope-wide rebuild instead of a per-commit range list the
    * planner chokes on). */
  protected def missedFoldRanges(sid: Long, below: Long): Seq[(Long, Long)] = {
    val state = stateOf(sid)
    effectiveWatermark(sid, state).filter(_ < below - 1).map { wm =>
      val rs = state.ranges.collect { case (v, s, e) if v > wm && v < below => (s, e) }
      if (rs.size <= MaxHealRanges) rs
      else Seq((rs.map(_._1).min, rs.map(_._2).max))
    }.getOrElse(Nil)
  }

  /** Maintenance op: recompute any rollup ranges a crash left unfolded
    * and bring the watermark current — for a read-heavy stream that
    * sees no new commits (the write path self-heals on its next fold).
    * Returns true iff a repair ran. */
  def repairPyramid(uuid: String): Boolean =
    admission.run(Admission.Maintenance) {
      val sid = sidOf(uuid)
      writing(sid) {
        if (pyramidCurrent(sid)) false
        else {
          val maj = majorOf(sid)
          maintainPyramidInner(sid, missedFoldRanges(sid, maj + 1), None)
          stampPyramidWatermark(sid, maj)
          true
        }
      }
    }

  // ---- rollup maintenance ---------------------------------------------

  /** Recompute exactly the rollup buckets the commit touched — the
    * distributed CGeneration trick
    * (reference `internal/bstore/blocktypes.go:111`, maintained in
    * `internal/bstore/linker.go:51-141`): a pass rewrites
    * ONLY the (sbucket, wbucket = wstart >> pyramidWBucketPw) partitions
    * intersecting the commit's touched ranges, so ingest cost is
    * proportional to dirtied data, never to total rollup size. Then the
    * watermark is stamped with `commitVersion`. */
  protected def maintainPyramid(sid: Long, touched: Seq[(Long, Long)],
                                foldPartials: Option[DataFrame],
                                commitVersion: Long,
                                foldQhist: Option[DataFrame] = None): Unit = {
    // self-heal BEFORE the new fold: recompute (idempotent) the ranges
    // of commits between the watermark and this one, so a crashed
    // earlier fold can never be masked by this commit's stamp. The
    // recompute PINS at commitVersion - 1: this commit's own rows are
    // already in the point log, and an unpinned recompute would bake
    // them into any overlapping window — the additive fold below would
    // then count them a second time.
    maintainPyramidInner(sid, missedFoldRanges(sid, commitVersion), None,
      recomputeAt = commitVersion - 1)
    maintainPyramidInner(sid, touched, foldPartials, foldQhist = foldQhist)
    if (pyramidLevels.nonEmpty) stampPyramidWatermark(sid, commitVersion)
  }

  /** Rewrites the rollups of stream `sid` in its `touched` ranges, under
    * its sbucket's lock. INSERT path (`foldPartials`): the batch's
    * one-pass partials FOLD into the existing rollup rows
    * (count/min/max/sum compose over multisets) — the reference's
    * SetChild recompute on relink (reference `qtree/qtree.go:436-468`),
    * with zero point-log rescan. DELETE/heal path: the dirtied ranges are recomputed from the
    * (anti-filtered, pinned at `recomputeAt`) point log, one
    * tbucket-pruned scan per range, and replace the stream's rows there.
    * The quantile histogram, when enabled, takes the same two paths:
    * per-window VALUE HISTOGRAMS at 2^quantileLevel, (sid, wstart, c,
    * cnt) with c the exact cents integer (NULL marks off-grid values — a
    * window holding any serves NULL quantiles rather than wrong ones),
    * whose counts compose additively. Both tables are covered by the one
    * watermark stamped after this call. */
  protected def maintainPyramidInner(sid: Long, touched: Seq[(Long, Long)],
                                     foldPartials: Option[DataFrame],
                                     recomputeAt: Long = TimeConsts.LatestGeneration,
                                     foldQhist: Option[DataFrame] = None): Unit =
    if (pyramidLevels.nonEmpty && touched.nonEmpty) exclusive(s"sbucket=${sbucketOf(sid)}") {
      ensurePyramidLayout()
      val sorted = pyramidLevels.sorted
      val base = sorted.head
      val coarsest = sorted.last
      // align ranges to the coarsest level and coalesce (driver-side, ≤64)
      val w = 1L << coarsest
      val ranges = touched.map { case (s, e) =>
        (TimeOps.alignDown(s, coarsest), TimeOps.alignDown(e - 1, coarsest) + w)
      }.sortBy(_._1).foldLeft(Vector.empty[(Long, Long)]) {
        case (rs :+ ((lo, hi)), (s, e)) if s <= hi => rs :+ ((lo, math.max(hi, e)))
        case (rs, r) => rs :+ r
      }
      val sb = sbucketOf(sid)
      val fold = foldPartials.isDefined
      // DELETE/heal recompute input: the stream's committed points in the
      // dirtied ranges, one tbucket-pruned scan per range
      lazy val recomputed = ranges.map { case (lo, hi) =>
        pointLog(Some(Seq(sid)), recomputeAt, lo, hi, buffered = false).frame
      }.reduce(_ unionByName _)
      val baseFresh = (foldPartials match {
          case Some(p) if partialPw == base =>
            p.select(col("wstart"), col("cnt"), col("ccnt"), col("vmin"),
              col("vmax"), col("vsum"), col("vsc"))
          case Some(p) =>
            p.groupBy(TimeOps.clampTime(col("wstart"), base).as("wstart"))
              .agg(RollupMerge.head, RollupMerge.tail: _*)
          case None =>
            recomputed
              .groupBy(TimeOps.clampTime(col("time"), base).as("wstart"))
              .agg(count(lit(1)).as("cnt"),
                count(StatOps.cents(col("value"))).as("ccnt"),
                min("value").as("vmin"),
                max("value").as("vmax"), sum("value").as("vsum"),
                sum(StatOps.centsSum(col("value"))).as("vsc"))
        })
        .withColumn("sid", lit(sid))
        .cache()
      // the fold keeps every existing row; a recompute replaces this
      // stream's rows in the dirtied ranges
      val keep =
        if (fold) lit(true)
        else !(col("sid") === sid &&
          ranges.map { case (lo, hi) => col("wstart") >= lo && col("wstart") < hi }.reduce(_ || _))
      val wbuckets: Seq[Long] = ranges.toSeq.flatMap { case (lo, hi) =>
        (lo >> pyramidWBucketPw) to ((hi - 1) >> pyramidWBucketPw) }.distinct
      val dirtied = col("sbucket") === sb && col("wbucket").isin(wbuckets: _*)
      // ALL levels live in ONE table partitioned by (pw, sbucket, wbucket):
      // the whole pass is a single checkpoint and a single write. Coarser
      // levels roll up from the finer fresh rows lazily — everything
      // materializes inside the one checkpoint job.
      val fresh = sorted.tail.scanLeft(base -> baseFresh) {
        case ((_, finer), pw) =>
          pw -> finer
            .groupBy(TimeOps.clampTime(col("wstart"), pw).as("wstart"))
            .agg(RollupMerge.head, RollupMerge.tail: _*)
            .withColumn("sid", lit(sid))
      }.map { case (pw, df) => df.withColumn("pw", lit(pw)) }.reduce(_ unionByName _)
      try rewrite(StatRollup, dirtied && col("pw").isin(sorted: _*),
        for (pw <- sorted; wb <- wbuckets) yield s"pyramid/pw=$pw/sbucket=$sb/wbucket=$wb",
        keep, Some(fresh), fold)
      finally baseFresh.unpersist()
      quantileLevel.foreach { q =>
        ensureQhistLayout()
        val hist = foldQhist.getOrElse(recomputed
          .groupBy(TimeOps.clampTime(col("time"), q).as("wstart"),
            StatOps.cents(col("value")).as("c"))
          .agg(count(lit(1)).as("cnt")))
        rewrite(HistRollup, dirtied, wbuckets.map(wb => s"qhist/sbucket=$sb/wbucket=$wb"),
          keep, Some(hist.withColumn("sid", lit(sid))), fold)
      }
    }

  /** Deletes the rollup and histogram rows of the streams `active`, in
    * their sbuckets `buckets` — obliterate's removal contract covers the
    * stream's rollups and its VALUE DISTRIBUTION exactly like the point
    * log. Rollup rows are ~data/2^minLevel: a whole touched-sbucket slice
    * is metadata-scale, so one rewrite per table suffices. */
  protected def purgeRollups(active: Seq[Long], buckets: Seq[Long]): Unit =
    for (t <- Seq(StatRollup, HistRollup) if hasParquet(t.area)) {
      if (t eq HistRollup) ensureQhistLayout()
      rewrite(t, col("sbucket").isin(buckets: _*), partitionDirs(t, buckets),
        !col("sid").isin(active: _*), None, merge = false)
    }

  /** The rewriter of a rollup table's (sbucket, wbucket) partitions, the
    * one path every write into `pyramid/` and `qhist/` takes. It reads
    * the rows of the partitions `where` selects and keeps those `keep`
    * holds, adds `fresh`, and with `merge` combines the rows of one key
    * (an insert fold); without it, a delete or heal recompute replaces a
    * stream's in-range rows by fresh ones and a purge drops streams'
    * rows. The result is materialized — the write replaces the files it
    * reads — and written back by one dynamic partition overwrite, one
    * task per partition, each file sorted by its partition and key
    * columns. Of the partition directories `dirs` the rewrite covers,
    * those it drained are deleted (dynamic overwrite leaves a partition
    * it writes no row into as it was; a merge never drains one), and
    * each is checked against the wbucket alarm bound. Crash window: the
    * rollups are a derived cache, and the watermark stamped after a fold
    * is what marks them current. */
  private def rewrite(t: Rollup, where: Column, dirs: Seq[String], keep: Column,
                      fresh: Option[DataFrame], merge: Boolean): Unit = {
    val columns = (t.keys ++ t.values).map(col)
    val rows = ((if (hasParquet(t.area)) Some(t.read(readArea(t.area, t.schema))
      .filter(where && keep)) else None) ++ fresh).map(_.select(columns: _*)).reduce(_ unionByName _)
    val (out, release) = checkpointReleasable(
      (if (merge) rows.groupBy(t.keys.map(col): _*).agg(t.merge.head, t.merge.tail: _*)
       else rows)
        .withColumn("sbucket", col("sid") % sBuckets)
        .withColumn("wbucket", shiftright(col("wstart"), pyramidWBucketPw)))
    try {
      out.repartition(t.partitions.map(col): _*)
        .sortWithinPartitions((t.partitions ++ t.keys).map(col): _*)
        .write.mode(SaveMode.Overwrite) // dynamic: only written partitions
        .partitionBy(t.partitions: _*)
        .parquet(path(t.area))
      if (!merge && dirs.nonEmpty) {
        val written = out.select(t.partitions.map(col): _*).distinct().collect()
          .map(r => t.partitions.zip(r.toSeq).map { case (p, v) => s"$p=$v" }
            .mkString(s"${t.area}/", "/", "")).toSet
        dirs.filterNot(written).foreach(deleteDir)
      }
    } finally release()
    synchronized {
      if (merge) dirs.foreach(d => present(d.take(d.indexOf("/sbucket="))) = true)
      else present.clear()
    }
    // ---- wbucket-geometry degeneracy alarm ---------------------------
    // Fold cost is proportional to the BYTES in the rewritten partition
    // dirs, so a dense stream under a too-wide pyramidWBucketPw bends
    // steady commit cost from O(batch) to O(total rollup) — nothing
    // about any single fold is WRONG, which is why this surfaces as an
    // operator alarm (handle state + stderr, once per dir) rather than
    // an error. The histogram shares the geometry and degenerates the
    // same way (worse: its rows scale with value cardinality).
    // Driver-side listing of only the rewritten dirs: metadata-scale, no
    // Spark job.
    if (wbucketAlarmBytes > 0) {
      lazy val alarmsDirExists = exists(WBucketAlarmDir)
      dirs.foreach { dir =>
        val bytes = store.dirBytes(dir)
        if (bytes > wbucketAlarmBytes) recordWBucketAlarm(dir, bytes)
        else if (alarmsDirExists) clearWBucketAlarm(dir)
      }
    }
  }

  /** The partition directories of `t` in the sbuckets `sbs` on disk. */
  private def partitionDirs(t: Rollup, sbs: Seq[Long]): Seq[String] =
    t.partitions.foldLeft(Seq(t.area)) { (dirs, p) =>
      dirs.flatMap { d =>
        if (p == "sbucket") sbs.map(sb => s"$d/sbucket=$sb").filter(exists)
        else store.listNames(d).filter(_.startsWith(s"$p=")).map(n => s"$d/$n")
      }
    }

  // ---- layout guards --------------------------------------------------

  /** Called before ANY pyramid fold: an unstamped existing table is
    * rewritten whole in the current layout first (read → normalize
    * ccnt/vsc → full overwrite — the pyramid is data/2^level, so this
    * one-time migration is cheap relative to the point log), then the
    * stamp is written. A mixed-generation rollup table can therefore
    * never exist: legacy files are gone before the first new file
    * lands. Pure-legacy roots opened READ-ONLY never migrate — the
    * normalizing [[pyramidRead]] is sufficient for them. */
  private def ensurePyramidLayout(): Unit = {
    if (store.readString("pyramid/_layout").contains(PyramidLayoutVersion))
      return
    if (hasParquet("pyramid")) rewrite(StatRollup, lit(true), Nil, lit(true), None, merge = false)
    store.writeAtomic("pyramid/_layout", PyramidLayoutVersion)
  }

  /** Called before ANY qhist write. "1" is the first generation, so an
    * unstamped existing table IS generation 1 and migration is the
    * stamp alone; a table stamped with a DIFFERENT generation (a root
    * written by newer code) fails loudly rather than letting this
    * build append its layout into it. */
  private def ensureQhistLayout(): Unit = {
    store.readString("qhist/_layout") match {
      case Some(v) if v.trim == QhistLayoutVersion => ()
      case Some(v) => throw new IllegalStateException(
        s"qhist at ${path("qhist")} has layout generation '${v.trim}'; " +
          s"this build writes generation '$QhistLayoutVersion' — " +
          "refusing to mix layouts in one table")
      case None => store.writeAtomic("qhist/_layout", QhistLayoutVersion)
    }
  }

  // ---- wbucket-geometry alarms ----------------------------------------
  // Alarms raised at fold time are PERSISTED as one `_`-prefixed marker
  // file per degenerate rollup dir (Spark's reader ignores underscore
  // paths, same convention as the watermark marker) so a console
  // `attach` in another process sees them via engineInfo(); stderr once
  // per dir per handle. Bounded: one marker per degenerate partition
  // dir, and a degenerate geometry concentrates rollup in FEW dirs by
  // definition. A later fold that finds the dir back under the bound
  // clears its marker.
  private val wbucketAlarmsSeen =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def alarmMarker(dir: String): String =
    s"$WBucketAlarmDir/${dir.stripPrefix("pyramid/").replace('/', '-')}"
  /** The pw this root SHOULD have been created with, computed from the
    * degenerate dir's observed bytes: each decrement of
    * pyramidWBucketPw halves a wbucket's time-span — and, at the
    * density that filled this dir, its bytes — so shrinking by
    * ceil(log2(bytes / bound)) puts the dir back under the bound.
    * Floored at max(pyramidLevels): a wbucket narrower than the
    * coarsest level can't hold even one of its windows (the geometry
    * require at construction). The fold already knows the dir's bytes
    * and the root's geometry, so the operator gets a NUMBER to feed
    * `stamp-geometry`/root re-creation, not just a knob name. */
  private def suggestedWBucketPw(bytes: Long): Int = {
    val floor = if (pyramidLevels.nonEmpty) pyramidLevels.max else 0
    val halvings = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
      (bytes - 1) / wbucketAlarmBytes))
    math.max(floor, pyramidWBucketPw - halvings)
  }

  private def recordWBucketAlarm(dir: String, bytes: Long): Unit = {
    val pw = suggestedWBucketPw(bytes)
    store.writeAtomic(alarmMarker(dir), s"$bytes $dir $pw")
    if (wbucketAlarmsSeen.add(dir))
      System.err.println(s"[graft] engine root $root: rollup partition " +
        s"$dir holds $bytes bytes (> $wbucketAlarmBytes): " +
        "pyramidWBucketPw is too wide for this stream's density, so " +
        "every commit rewrites this whole dir (O(total rollup), not " +
        s"O(batch)) — recreate the root with pyramidWBucketPw=$pw " +
        "(computed from this dir's density; see Btrdb.wbucketAlarmBytes)")
  }
  private def clearWBucketAlarm(dir: String): Unit =
    if (wbucketAlarmsSeen.remove(dir) || exists(alarmMarker(dir)))
      store.delete(alarmMarker(dir))

  /** The persisted alarms, rendered for engineInfo(). */
  protected def wbucketWarnings: Seq[String] =
    if (!exists(WBucketAlarmDir)) Nil
    else store.listNames(WBucketAlarmDir).sorted.map { name =>
      val body = store.readString(s"$WBucketAlarmDir/$name").map(_.trim).getOrElse("?")
      body.split(" ", 3) match {
        case Array(b, d, pw) =>
          s"wbucket-degenerate: $d ${b}B > ${wbucketAlarmBytes}B " +
            s"(suggest pyramidWBucketPw=$pw)"
        case Array(b, d) => // pre-round-18 marker without a suggestion
          s"wbucket-degenerate: $d ${b}B > ${wbucketAlarmBytes}B"
        case _ => s"wbucket-degenerate: $body"
      }
    }

  // ---- rollup readers -------------------------------------------------

  /** Pyramid reader (declared [[Btrdb.PyramidSchema]]) normalizing
    * rollup rows written before the `ccnt` column existed: absent (or
    * per-file null) ccnt reads as cnt, which is correct for legacy rows
    * — the pre-ccnt build rejected any value without a representable
    * cents integer with a loud cast error, so a legacy bucket can only
    * hold in-domain values. Their INT64 `vsc` is widened to the declared
    * DECIMAL(38,0) by the Parquet reader. [[ensurePyramidLayout]] still
    * migrates an unstamped table wholesale before the first
    * current-layout write. */
  protected def pyramidRead(sub: String): DataFrame =
    withLegacyCcnt(readArea(sub, PyramidSchema))

  /** One stream's rollup rows at `level` for windows in [s, e), and the
    * bytes of the files read: the scan lists the stream's
    * `pyramid/pw=L/sbucket=S` directory, and its partition filters keep
    * the `wbucket` directories the range intersects. */
  protected def pyramidScan(sid: Long, level: Int, s: Long, e: Long): Scan = {
    val (wlo, whi) = (s >> pyramidWBucketPw, (e - 1) >> pyramidWBucketPw)
    val scan = scanDirs("pyramid",
      Seq(s"pyramid/pw=$level/sbucket=${sbucketOf(sid)}"),
      PyramidSchema)(within("wbucket", wlo, whi))
    new Scan(scan.files, withLegacyCcnt(scan.frame)
      .filter(col("sid") === sid && col("sbucket") === sbucketOf(sid) &&
        col("wbucket") >= wlo && col("wbucket") <= whi &&
        col("wstart") >= s && col("wstart") < e))
  }

  /** Folds stream `sid`'s rollup rows for windows in [s, e) from the
    * files of a [[pyramidScan]], decoded on the calling thread. A file
    * without `ccnt` predates it and holds in-domain values only. */
  protected def localRollup(rollup: Scan, sid: Long, s: Long, e: Long,
                            fold: WindowFold): Unit =
    localParquet.foreach(rollup.files, LocalRollupColumns,
        LocalParquet.inRange(sid, "wstart", s, e)) { b =>
      val c = (0 until LocalRollupColumns.length).map(b.column)
      var i = 0
      while (i < b.numRows) {
        val w = c(1).getLong(i)
        if (c(0).getLong(i) == sid && w >= s && w < e) {
          val cnt = c(2).getLong(i)
          fold.rollup(w, cnt, if (c(3).isNullAt(i)) cnt else c(3).getLong(i),
            c(4).getDouble(i), c(5).getDouble(i), c(6).getDouble(i),
            if (c(7).isNullAt(i)) null
            else c(7).getDecimal(i, 38, 0).toJavaBigDecimal.toBigIntegerExact)
        }
        i += 1
      }
    }
}

private[engine] object Pyramid {
  /** One rollup table, described once: its area and declared schema, its
    * partition columns, the columns that key its rows and its value
    * columns, the aggregate that merges rows of one key, and the reader's
    * normalization of legacy rows. */
  final case class Rollup(area: String, schema: String, partitions: Seq[String],
      keys: Seq[String], values: Seq[String], merge: Seq[Column],
      read: DataFrame => DataFrame = identity)

  /** Rollup rows merged into coarser or combined rollup rows. */
  val RollupMerge: Seq[Column] = Seq(sum("cnt").as("cnt"),
    sum("ccnt").as("ccnt"), min("vmin").as("vmin"), max("vmax").as("vmax"),
    sum("vsum").as("vsum"), sum("vsc").as("vsc"))

  private def withLegacyCcnt(rollup: DataFrame): DataFrame =
    rollup.withColumn("ccnt", coalesce(col("ccnt"), col("cnt")))

  /** The stat pyramid: every level in one table, (sid, wstart, cnt, ccnt,
    * vmin, vmax, vsum, vsc) per 2^pw window. */
  val StatRollup = Rollup("pyramid", Btrdb.PyramidSchema, Seq("pw", "sbucket", "wbucket"),
    Seq("pw", "sid", "wstart"), Seq("cnt", "ccnt", "vmin", "vmax", "vsum", "vsc"),
    RollupMerge, withLegacyCcnt)
  /** The quantile histogram: a count per (sid, wstart, cents value). */
  val HistRollup = Rollup("qhist", Btrdb.QhistSchema, Seq("sbucket", "wbucket"),
    Seq("sid", "wstart", "c"), Seq("cnt"), Seq(sum("cnt").as("cnt")))

  /** Rollup layout generation stamped at `pyramid/_layout` (underscore
    * prefix — invisible to parquet listings): "2" = ccnt column present
    * and vsc physically DECIMAL(38,0). A pyramid without the stamp may
    * hold pre-ccnt files (vsc INT64, no ccnt), and appending
    * current-layout files to it would create a MIXED table whose
    * single-footer schema inference either fails the INT64→DECIMAL
    * conversion or silently drops ccnt (re-enabling the null-skipped
    * cents-mean bug ccnt exists to prevent). */
  val PyramidLayoutVersion = "2"

  /** Quantile-histogram layout generation, stamped at `qhist/_layout`
    * (underscore prefix — invisible to parquet listings) — the same
    * mixed-generation guard the stat pyramid carries
    * (`ensurePyramidLayout`). "1" = the original (sid, wstart, c,
    * cnt) + sbucket/wbucket layout. Any future histogram schema change
    * MUST bump this and add its normalize-and-rewrite migration in
    * `ensureQhistLayout` BEFORE changing the write path, so
    * current-layout files never land beside legacy ones (single-footer
    * schema inference cannot represent a mixed table — the exact
    * failure ensurePyramidLayout exists to prevent). */
  val QhistLayoutVersion = "1"

  /** The columns the driver-side decode reads from the rollup. */
  val LocalRollupColumns = StructType.fromDDL(
    "sid BIGINT, wstart BIGINT, cnt BIGINT, ccnt BIGINT, vmin DOUBLE, vmax DOUBLE, " +
      "vsum DOUBLE, vsc DECIMAL(38,0)")
}
