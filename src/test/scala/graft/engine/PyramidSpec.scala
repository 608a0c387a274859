package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.core.TimeConsts

/** Incremental pyramid maintenance: commits must rewrite ONLY the
  * (sbucket, wbucket) rollup partitions their touched ranges dirty —
  * the engine's analog of the reference's per-child generation stamps
  * (/root/reference/internal/bstore/blocktypes.go:111). Asserted at the
  * FILESYSTEM level: untouched partitions' files stay byte-identical.
  */
class PyramidSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pyramid-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  /** Engine with tiny geometry: levels 2^4/2^8, window buckets of 2^12 ns
    * (16 pw=8 windows each), commit ranges clustered at 2^8. */
  private def mkDb(): Btrdb = {
    val dir = Files.createTempDirectory("pyrspec").toString
    new Btrdb(spark, dir, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
  }

  private def insertPts(db: Btrdb, uuid: String, pts: Seq[(Long, Double)]): Unit =
    db.insert(uuid, spark.createDataFrame(pts).toDF("time", "value"))

  /** Recursive copy/delete used by the crash-simulation tests to
    * snapshot and restore a root's pyramid state. */
  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  private def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  private def partitionFiles(db: Btrdb, pw: Int): Map[String, List[(String, Long, Long)]] = {
    val base = Paths.get(s"${db.root}/pyramid/pw=$pw".stripPrefix("file:"))
    if (!Files.exists(base)) Map.empty
    else {
      val s = Files.walk(base)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .toList
        .groupBy(p => base.relativize(p.getParent).toString)
        .map { case (part, files) =>
          part -> files.map(f => (f.getFileName.toString,
            Files.getLastModifiedTime(f).toMillis, Files.size(f))).sorted
        }
      finally s.close()
    }
  }

  test("a two-instant backfill dirties exactly two wbucket partitions") {
    val db = mkDb()
    val uuid = "u-incr"
    db.createStream(uuid, "pyr/incr", Map("t" -> "i"))
    // v1: four full wbuckets [0, 4*4096)
    insertPts(db, uuid, (0L until 4 * 4096L).map(t => (t, 1.0)))
    db.flush(uuid)
    val before = Seq(4, 8).map(pw => pw -> partitionFiles(db, pw)).toMap
    assert(before(8).keySet ==
      (0 to 3).map(w => s"sbucket=${db.sidOf(uuid) % 4}/wbucket=$w").toSet)

    // v2: one batch touching two instants ~3 wbuckets apart
    insertPts(db, uuid, Seq((100L, 9.0), (3L * 4096 + 50, 9.0)))
    db.flush(uuid)
    val after = Seq(4, 8).map(pw => pw -> partitionFiles(db, pw)).toMap
    val sb = db.sidOf(uuid) % 4
    Seq(4, 8).foreach { pw =>
      // middle wbuckets 1 and 2 untouched — files byte-identical
      assert(after(pw)(s"sbucket=$sb/wbucket=1") == before(pw)(s"sbucket=$sb/wbucket=1"),
        s"pw=$pw wbucket=1 was rewritten")
      assert(after(pw)(s"sbucket=$sb/wbucket=2") == before(pw)(s"sbucket=$sb/wbucket=2"),
        s"pw=$pw wbucket=2 was rewritten")
      // dirtied wbuckets 0 and 3 rewritten
      assert(after(pw)(s"sbucket=$sb/wbucket=0") != before(pw)(s"sbucket=$sb/wbucket=0"),
        s"pw=$pw wbucket=0 not refreshed")
      assert(after(pw)(s"sbucket=$sb/wbucket=3") != before(pw)(s"sbucket=$sb/wbucket=3"),
        s"pw=$pw wbucket=3 not refreshed")
    }
    // pyramid-served stats agree with the raw (version-pinned) path
    val pyr = db.alignedWindows(uuid, 0, 4 * 4096, 8).collect()
    val raw = db.alignedWindows(uuid, 0, 4 * 4096, 8, version = 2).collect()
    assert(pyr.length == raw.length && pyr.length == 64)
    pyr.zip(raw).foreach { case (p, r) =>
      assert(p.getLong(0) == r.getLong(0) && p.getLong(1) == r.getLong(1))
      assert(p.getDouble(2) == r.getDouble(2) && p.getDouble(4) == r.getDouble(4))
      assert(math.abs(p.getDouble(3) - r.getDouble(3)) < 1e-12)
    }
    assert(pyr.map(_.getLong(1)).sum == 4 * 4096 + 2)
  }

  test("pyramid-served stats prune to the queried (sbucket, wbucket) partitions") {
    val db = mkDb()
    val uuid = "u-prune"
    db.createStream(uuid, "pyr/prune", Map("t" -> "p"))
    insertPts(db, uuid, (0L until 4 * 4096L).map(t => (t, 1.0)))
    db.flush(uuid)
    // query only wbucket 1's window range
    val q = db.alignedWindows(uuid, 4096L, 8192L, 8)
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:"), s"plan:\n$plan")
    assert(plan.contains("wbucket"), "wbucket must reach partition filters")
    assert(plan.contains("sbucket"), "sbucket must reach partition filters")
    assert(q.collect().map(_.getLong(1)).sum == 4096)
  }

  test("changes reports two tight ranges for a two-instant commit") {
    val db = mkDb()
    val uuid = "u-split"
    db.createStream(uuid, "pyr/split", Map("t" -> "s"))
    insertPts(db, uuid, Seq((100L, 1.0), (3L * 4096 + 50, 2.0)))
    db.flush(uuid)
    val ch = db.changes(uuid, 0, 1, resolution = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ch.toSeq == Seq((100L, 101L), (3L * 4096 + 50, 3L * 4096 + 51)),
      s"got ${ch.toSeq}") // NOT one [100, 12339) envelope
    for (res <- Seq(0, 8, 12, 14, 36, 63, 64)) Served.changes(db, uuid, 0, 1, res)
  }

  test("randomized commits: folded pyramid equals raw recompute; changes covers every instant") {
    val db = mkDb()
    val uuid = "u-rand"
    db.createStream(uuid, "pyr/rand", Map("t" -> "r"))
    val rnd = new scala.util.Random(20260812L)
    val all = scala.collection.mutable.ArrayBuffer.empty[Long]
    // 5 commits: clustered runs + random sprays, overlapping earlier data
    (0 until 5).foreach { c =>
      val base = rnd.nextInt(12) * 1024L
      val run = (0 until 200).map(_ => base + rnd.nextInt(2048)).map(_.toLong)
      val spray = (0 until 20).map(_ => rnd.nextInt(4 * 4096).toLong)
      val pts = (run ++ spray).map(t => (t, (t % 97).toDouble))
      all ++= pts.map(_._1)
      insertPts(db, uuid, pts)
      db.flush(uuid)
    }
    // folded pyramid path vs pinned raw recompute: identical stats
    val pyr = db.alignedWindows(uuid, 0, 4 * 4096, 8).collect()
    val raw = db.alignedWindows(uuid, 0, 4 * 4096, 8, version = 5).collect()
    assert(pyr.length == raw.length)
    pyr.zip(raw).foreach { case (p, r) =>
      assert(p.getLong(0) == r.getLong(0) && p.getLong(1) == r.getLong(1),
        s"window ${p.getLong(0)}: cnt ${p.getLong(1)} vs ${r.getLong(1)}")
      assert(p.getDouble(2) == r.getDouble(2) && p.getDouble(4) == r.getDouble(4))
      assert(math.abs(p.getDouble(3) - r.getDouble(3)) < 1e-9)
    }
    assert(pyr.map(_.getLong(1)).sum == all.size)
    // every inserted instant is covered by some changes() range
    val ranges = db.changes(uuid, 0, 5, resolution = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    all.foreach { t =>
      assert(ranges.exists { case (s, e) => t >= s && t < e },
        s"instant $t not covered by ${ranges.length} ranges")
    }
    // the same on the driver: overlapping commits' ranges merge
    for (from <- 0 to 4; res <- Seq(0, 4, 8, 12)) Served.changes(db, uuid, from, 5, res)
    Served.aligned(db, uuid, 0, 4 * 4096, 8)
    Served.aligned(db, uuid, 0, 4 * 4096, 8, version = 3)
  }

  test("negative times: ingest, pyramid, nearest and changes below epoch") {
    val db = mkDb()
    val uuid = "u-neg"
    db.createStream(uuid, "pyr/neg", Map("t" -> "n"))
    // straddle zero: [-4096, 4096) — negative tbuckets, wbuckets, ranges
    insertPts(db, uuid, (-4096L until 4096L).map(t => (t, 1.0)))
    db.flush(uuid)
    // the range spans tbuckets -1 and 0 (tBucketPw = 12)
    assert(BothSides(spark)(
      db.rawValues(uuid, -4096, 4096).collect().toSeq).length == 8192)
    val pyr = BothSides(spark)(db.alignedWindows(uuid, -4096, 4096, 8).collect().toSeq)
    assert(pyr.length == 32 && pyr.forall(_.getLong(1) == 256))
    assert(pyr.head.getLong(0) == -4096)
    assert(BothSides(spark)(db.nearest(uuid, 0, backward = true)).contains((-1L, 1.0)))
    val ch = db.changes(uuid, 0, 1, resolution = 0).collect()
    assert(ch.length == 1 && ch.head.getLong(0) == -4096 && ch.head.getLong(1) == 4096)
    // on the driver, across tbuckets -1 and 0
    assert(Served.raw(db, uuid, -4096, 4096).size == 8192)
    assert(Served.raw(db, uuid, -100, 100).head == ((-100L, 1.0)))
    assert(Served.aligned(db, uuid, -4096, 4096, 8).size == 32)
    assert(Served.aligned(db, uuid, -4096, 4096, 2, version = 1).size == 2048)
    Served.changes(db, uuid, 0, 1, 0)
    Served.changes(db, uuid, 0, 1, 36)
  }

  test("out-of-cents-domain values degrade vmean to the exact double mean") {
    // 1e17 has no representable cents integer (cents() is NULL): the
    // window mean must fall back to Σvalue/cnt on BOTH the raw and the
    // pyramid-served path — a null-skipping cents sum over the full
    // count would silently report 0.5 here instead of 5e16
    val db = mkDb()
    db.createStream("u-dom", "pyr/dom", Map.empty)
    insertPts(db, "u-dom", Seq((0L, 1.0), (8L, 1.0e17)))
    db.flush("u-dom")
    val expected = (1.0 + 1.0e17) / 2
    def meanOf(df: org.apache.spark.sql.DataFrame): Double =
      df.filter(org.apache.spark.sql.functions.col("cnt") > 0)
        .head().getAs[Double]("vmean")
    // pyramid-served (clean stream, pw=8 level exists)
    assert(meanOf(db.alignedWindows("u-dom", 0L, 256L, 8)) == expected)
    // raw path (version pin forces the point-log plan)
    val (maj, _) = db.version("u-dom")
    assert(meanOf(db.alignedWindows("u-dom", 0L, 256L, 8, version = maj))
      == expected)
    // windows() goes through its own agg pair
    assert(meanOf(db.windows("u-dom", 0L, 256L, 256L)) == expected)
    // an all-in-domain sibling window still serves the exact cents mean
    insertPts(db, "u-dom", Seq((300L, 0.1), (310L, 0.2)))
    db.flush("u-dom")
    val m2 = db.alignedWindows("u-dom", 256L, 512L, 8)
      .filter(org.apache.spark.sql.functions.col("cnt") > 0)
      .head().getAs[Double]("vmean")
    assert(m2 == (10L + 20L) / 100.0 / 2, s"cents mean expected, got $m2")
    // a window of several near-domain values: the cents SUM exceeds
    // Long.MaxValue (2 × 9e16 values = 1.8e19 cents) — decimal sums
    // must serve the exact cents mean instead of an ANSI overflow crash
    insertPts(db, "u-dom", Seq((600L, 9.0e16), (610L, 9.0e16), (620L, 9.0e16)))
    db.flush("u-dom")
    val m3 = db.alignedWindows("u-dom", 512L, 768L, 8)
      .filter(org.apache.spark.sql.functions.col("cnt") > 0)
      .head().getAs[Double]("vmean")
    assert(m3 == 9.0e16, s"decimal cents sum expected, got $m3")
    // on the driver: values beyond the cents domain, pyramid-served and
    // raw; the long cents sum past Long.MaxValue
    for (v <- Seq(TimeConsts.LatestGeneration, db.version("u-dom")._1)) {
      val w = Served.aligned(db, "u-dom", 0L, 768L, 8, v)
      assert(w.map(_._3) == Seq(expected, m2, m3))
    }
    assert(Served.aligned(db, "u-dom", 0L, 768L, 4).size == 5)
    db.close()
  }

  test("an unstamped pre-ccnt rollup migrates whole before new writes can mix layouts") {
    import org.apache.spark.sql.functions.col
    val db = mkDb()
    val uuid = "u-legacy"
    db.createStream(uuid, "pyr/legacy", Map("t" -> "l"))
    insertPts(db, uuid, (0L until 4096L).map(t => (t, 2.0)))
    db.flush(uuid)
    // simulate a root written before the ccnt/decimal layout existed:
    // rewrite the rollup with vsc as INT64 and no ccnt column, and
    // remove the layout stamp
    val pyr = Paths.get(s"${db.root}/pyramid".stripPrefix("file:"))
    val legacy = spark.read.parquet(pyr.toString)
      .drop("ccnt").withColumn("vsc", col("vsc").cast("long"))
      .localCheckpoint()
    rmTree(pyr)
    legacy.write.partitionBy("pw", "sbucket", "wbucket")
      .parquet(pyr.toString)
    assert(!Files.exists(pyr.resolve("_layout")))
    // a post-ccnt ingest FOLDS into the legacy table: without the
    // migration this appends DECIMAL/ccnt files next to INT64 files —
    // unreadable or silently ccnt-dropping depending on which footer
    // inference samples. 1e17 has no representable cents integer, so
    // its window must degrade to the IEEE mean, which requires ccnt to
    // have survived for BOTH legacy and fresh rows.
    insertPts(db, uuid, Seq((100L, 1.0e17)))
    db.flush(uuid)
    assert(Files.exists(pyr.resolve("_layout")),
      "maintenance must stamp the migrated layout")
    val migrated = spark.read.parquet(pyr.toString)
    assert(migrated.columns.contains("ccnt"),
      "migrated table must carry ccnt for every row")
    assert(migrated.schema("vsc").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0),
      s"migrated vsc must be decimal, got ${migrated.schema("vsc").dataType}")
    assert(migrated.filter(col("ccnt").isNull).count() == 0)
    // the mixed pw=4 window [96, 112): 16 legacy 2.0-points + the
    // off-domain value — ccnt (16) < cnt (17) ⇒ exact IEEE degrade,
    // never a null-skipped cents sum over the full count (pyramid-served
    // read of the migrated rollup)
    val w = db.alignedWindows(uuid, 96L, 112L, 4)
      .filter(col("cnt") > 0).head()
    assert(w.getAs[Long]("cnt") == 17L)
    assert(w.getAs[Double]("vmean") == (16 * 2.0 + 1.0e17) / 17,
      s"expected IEEE-degraded mean, got ${w.getAs[Double]("vmean")}")
    // an untouched all-legacy window still serves the exact cents mean
    val w2 = db.alignedWindows(uuid, 512L, 528L, 4)
      .filter(col("cnt") > 0).head()
    assert(w2.getAs[Long]("cnt") == 16L && w2.getAs[Double]("vmean") == 2.0)
    db.close()
  }

  test("a delete draining a bucket clears its pyramid partition") {
    val db = mkDb()
    val uuid = "u-drain"
    db.createStream(uuid, "pyr/drain", Map("t" -> "d"))
    insertPts(db, uuid, ((0L until 4096L) ++ (8192L until 12288L)).map(t => (t, 1.0)))
    db.flush(uuid)
    val sb = db.sidOf(uuid) % 4
    assert(partitionFiles(db, 8).keySet ==
      Set(s"sbucket=$sb/wbucket=0", s"sbucket=$sb/wbucket=2"))
    db.deleteRange(uuid, 8192L, 12288L)
    // drained partition removed; survivor untouched
    assert(partitionFiles(db, 8).keySet == Set(s"sbucket=$sb/wbucket=0"))
    assert(db.rawValues(uuid, 0, 16384).count() == 4096)
  }

  test("self-heal of an OVERLAPPING crashed fold never double-counts the healing commit") {
    // generations 1, 2, 3 all target the SAME window range. Crash
    // between generation 2's record and its fold; generation 3 then
    // both heals 2 and folds itself. The heal recomputes from the
    // point log, which at that moment already holds generation 3's
    // rows — an unpinned recompute would bake them in and the fold
    // would add them AGAIN. Pinning the heal at v-1 keeps the rollup
    // exact.
    val db = mkDb()
    val uuid = "u-wm-overlap"
    db.createStream(uuid, "pyr/wmov", Map("t" -> "o"))
    insertPts(db, uuid, (0L until 256L).map(t => (t, 1.0)))
    db.flush(uuid)
    val root = db.root
    val sid = db.sidOf(uuid)
    val pyrDir = Paths.get(root, "pyramid")
    val snap = Paths.get(root, "pyr_snap_ov")
    copyTree(pyrDir, snap)
    insertPts(db, uuid, (0L until 256L).map(t => (t, 3.0)))
    db.flush(uuid)
    db.close()
    rmTree(pyrDir); copyTree(snap, pyrDir) // crash: gen 2 fold lost

    val db2 = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    insertPts(db2, uuid, (0L until 256L).map(t => (t, 5.0)))
    db2.flush(uuid) // heals gen 2 AND folds gen 3
    assert(db2.pyramidCurrent(sid))
    val w = db2.alignedWindows(uuid, 0L, 256L, 8)
      .select("cnt", "vmean").head()
    assert(w.getLong(0) == 768L,
      s"each generation counted exactly once, got cnt=${w.getLong(0)}")
    assert(w.getDouble(1) == 3.0, // (256*1 + 256*3 + 256*5) / 768
      s"healing commit must not be folded twice, got vmean=${w.getDouble(1)}")
    db2.close()
  }

  test("a crashed FIRST fold is stale under the enablement marker, not silently current") {
    // another stream's rollup already exists, so the pyramid level is
    // present; the new stream's very first fold crashes before any
    // per-sid watermark file exists. Without the attach-time
    // enablement marker that state is indistinguishable from a legacy
    // root and would read as current — with it, the stream reads
    // stale, answers stay merge-on-read-correct, and the next fold
    // heals from watermark 0.
    val db = mkDb()
    val root = db.root
    db.createStream("u-wm-other", "pyr/wmf", Map("t" -> "x"))
    insertPts(db, "u-wm-other", (0L until 64L).map(t => (t, 9.0)))
    db.flush("u-wm-other")
    val uuid = "u-wm-first"
    db.createStream(uuid, "pyr/wmf", Map("t" -> "f"))
    val sid = db.sidOf(uuid)
    insertPts(db, uuid, (0L until 128L).map(t => (t, 2.0)))
    db.flush(uuid)
    db.close()
    // crash simulation: the first fold's watermark stamp never landed
    // (the marker and the OTHER stream's rollup survive, as they would
    // in the real crash; detection must not depend on whether the
    // fold's rollup rows themselves made it — the heal recompute
    // replaces them either way)
    val pyr = Paths.get(root, "pyramid")
    Files.delete(pyr.resolve(s"_wm-$sid"))
    val db2 = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    assert(!db2.pyramidCurrent(sid),
      "no watermark + committed data under the marker must read stale")
    assert(db2.pyramidPartialsFor(Some(Seq(sid)), None, None, 8,
      needExactSum = false).isEmpty)
    // merge-on-read answer stays exact even though the rollup rows for
    // this stream were (partially) written before the simulated crash
    assert(db2.alignedWindows(uuid, 0L, 256L, 8)
      .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0) == 128L)
    // the other stream stays pyramid-served throughout
    assert(db2.pyramidPartialsFor(Some(Seq(db2.sidOf("u-wm-other"))),
      None, None, 8, needExactSum = false).isDefined)
    // the next fold self-heals from watermark 0 — and must not
    // double-count (its recompute pins below the healing commit even
    // though the crashed fold's rows may already be present)
    insertPts(db2, uuid, (128L until 256L).map(t => (t, 4.0)))
    db2.flush(uuid)
    assert(db2.pyramidCurrent(sid))
    val healed = db2.pyramidPartialsFor(Some(Seq(sid)), None, None, 8,
      needExactSum = false)
    assert(healed.isDefined)
    assert(healed.get.agg(org.apache.spark.sql.functions.sum("cnt"))
      .head().getLong(0) == 256L)
    db2.close()
  }

  test("compact heals a crashed delete-fold instead of masking it with its stamp") {
    // deleteRange commits its anti-filter, then crashes before the fold
    // invalidates the rollup. compact() collapses the history (erasing
    // the delete record the heal would need) and stamps the watermark —
    // unless it captures the missed ranges FIRST, the stale rollup rows
    // of the deleted range become permanent phantom points.
    val db = mkDb()
    val uuid = "u-wm-compact"
    db.createStream(uuid, "pyr/wmc", Map("t" -> "c"))
    insertPts(db, uuid, (0L until 1024L).map(t => (t, 1.0)))
    db.flush(uuid)
    val root = db.root
    val sid = db.sidOf(uuid)
    val pyrDir = Paths.get(root, "pyramid")
    val snap = Paths.get(root, "pyr_snap_cmp")
    copyTree(pyrDir, snap)
    db.deleteRange(uuid, 512L, 1024L)
    db.close()
    rmTree(pyrDir); copyTree(snap, pyrDir) // crash: delete fold lost

    val db2 = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    assert(!db2.pyramidCurrent(sid))
    db2.compact(uuid)
    assert(db2.pyramidCurrent(sid))
    val served = db2.pyramidPartialsFor(Some(Seq(sid)), None, None, 8,
      needExactSum = false)
    assert(served.isDefined, "compacted stream serves the pyramid again")
    val total = served.get
      .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0)
    assert(total == 512L,
      s"deleted range must not survive as phantom rollup rows, got $total")
    assert(db2.rawValues(uuid, 0L, 2048L).count() == 512L)
    db2.close()
  }

  test("a crashed fold is detected by the watermark and self-heals") {
    // protocol: points → commit record → pyramid fold → watermark
    // stamp. Simulate a crash between the record and the fold: commit
    // generation 2, then restore the pyramid directory (and watermark)
    // to their generation-1 state — exactly what the crash leaves.
    val db = mkDb()
    val uuid = "u-wm"
    db.createStream(uuid, "pyr/wm", Map("t" -> "w"))
    insertPts(db, uuid, (0L until 256L).map(t => (t, 1.0)))
    db.flush(uuid)
    val root = db.root
    val sid = db.sidOf(uuid)
    val pyrDir = Paths.get(root, "pyramid")
    val snap = Paths.get(root, "pyramid_snapshot_gen1")
    copyTree(pyrDir, snap)

    insertPts(db, uuid, (256L until 512L).map(t => (t, 3.0)))
    db.flush(uuid)
    db.close()
    // crash: generation 2's fold (and stamp) never happened
    rmTree(pyrDir)
    copyTree(snap, pyrDir)

    // a fresh attach must DETECT the stale rollup — stat reads bail to
    // merge-on-read and stay CORRECT, never silently under-counting
    val db2 = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    assert(!db2.pyramidCurrent(sid), "stale rollup must not read as current")
    assert(db2.pyramidPartialsFor(Some(Seq(sid)), None, None, 8,
      needExactSum = false).isEmpty, "substitution must bail while stale")
    val w = db2.alignedWindows(uuid, 0L, 512L, 8)
      .select("cnt", "vmean").collect()
    assert(w.map(_.getLong(0)).sum == 512L, "merge-on-read answers exactly")

    // explicit repair brings the watermark current and the rollup exact
    assert(db2.repairPyramid(uuid))
    assert(db2.pyramidCurrent(sid))
    assert(!db2.repairPyramid(uuid), "repair is idempotent / no-op when current")
    val healed = db2.alignedWindows(uuid, 0L, 512L, 8)
      .select("wstart", "cnt", "vmean").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(healed == Set((0L, 256L, 1.0), (256L, 256L, 3.0)))

    // ...and the write path self-heals on its NEXT fold even without an
    // explicit repair: rewind to the crashed state again, then commit a
    // third generation and check generation 2's contribution reappears
    db2.close()
    rmTree(pyrDir)
    copyTree(snap, pyrDir)
    val db3 = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    insertPts(db3, uuid, (512L until 768L).map(t => (t, 5.0)))
    db3.flush(uuid)
    assert(db3.pyramidCurrent(sid))
    val after = db3.pyramidPartialsFor(Some(Seq(sid)), None, None, 8,
      needExactSum = false)
    assert(after.isDefined, "healed rollup serves the substitution again")
    val total = after.get.groupBy().sum("cnt").head().getLong(0)
    assert(total == 768L, "generation 2's fold was recomputed, not masked")
    db3.close()
  }

  /** Quantile-histogram engine with the same tiny geometry; histogram
    * buckets at pw=4 so pw=8 windows compose from 16 buckets. */
  private def mkQDb(): Btrdb = {
    val dir = Files.createTempDirectory("qspec").toString
    new Btrdb(spark, dir, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8,
      quantileLevel = Some(4))
  }

  test("quantile rollup: per-commit fold serves exact p50/p95 from qhist only") {
    import org.apache.spark.sql.functions.col
    val db = mkQDb()
    val uuid = "u-q"
    db.createStream(uuid, "pyr/q", Map("t" -> "q"))
    // two commits fold additively into the same windows; values chosen
    // so p50 needs the two-middle-values mean and p95 the ceil rank
    insertPts(db, uuid, (0L until 256L).map(t => (t, (t % 16).toDouble)))
    db.flush(uuid)
    insertPts(db, uuid, (0L until 256L).map(t => (t, (t % 16 + 0.25))))
    db.flush(uuid)
    val served = db.quantileWindows(uuid, 0L, 512L, 8)
    val scans = graft.plans.PlanChecks.scanRootPaths(served)
    assert(scans.nonEmpty && scans.forall(_.contains("/qhist")),
      s"must serve from the histogram, scans=$scans")
    val rows = served.collect()
    assert(rows.length == 1, "one pw=8 window")
    assert(rows(0).getAs[Long]("cnt") == 512L)
    // per window: values 0,0.25,1,1.25,..,15.25 each x16; 512 values →
    // p50 = mean of ranks 256,257 = (7.25+8.0)/2; p95 = rank 487 → 15.0
    assert(rows(0).getAs[Double]("p50") == (7.25 + 8.0) / 2)
    assert(rows(0).getAs[Double]("p95") == 15.0)
    // merge-on-read debt (staged rows) falls back to the live view and
    // returns the SAME answer, then the flush restores qhist serving
    insertPts(db, uuid, Seq((10L, 100.0)))
    val staged = db.quantileWindows(uuid, 0L, 512L, 8)
    val stagedScans = graft.plans.PlanChecks.scanRootPaths(staged)
    assert(!stagedScans.forall(_.contains("/qhist")),
      s"debt must force the live view; scans=$stagedScans")
    assert(staged.head().getAs[Long]("cnt") == 513L)
    db.flush(uuid)
    val refreshed = db.quantileWindows(uuid, 0L, 512L, 8)
    assert(graft.plans.PlanChecks.scanRootPaths(refreshed)
      .forall(_.contains("/qhist")))
    assert(refreshed.head().getAs[Long]("cnt") == 513L)
    // n=513 → p95 rank (19·513+19) div 20 = 488, still in the 15.0
    // block; the folded 100.0 sits at rank 513
    assert(refreshed.head().getAs[Double]("p95") == 15.0)
    db.close()
  }

  test("quantile rollup: raw-path streams share one point-log relation") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val db = mkQDb()
    val us = Seq("u-qr0", "u-qr1", "u-qr2")
    us.foreach { u =>
      db.createStream(u, "pyr/qr", Map("t" -> u))
      insertPts(db, u, (0L until 256L).map(t => (t, (t % 8).toDouble)))
      db.flush(u)
    }
    // delete debt and a staged point both take the raw path
    db.deleteRange(us(0), 16L, 32L)
    insertPts(db, us(1), Seq((40L, 5.5)))
    val bulk = db.quantileWindowsBulk(us, 0L, 512L, 8)
    val pointRoots = bulk.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toString)
    }.filter(_.exists(_.contains("/points")))
    assert(pointRoots.size == 1, s"point-log relations: $pointRoots")
    assert(pointRoots.head.size == 2, "the two raw-path streams' sbuckets")
    val rows = bulk.collect()
    us.foreach { u =>
      val sid = db.sidOf(u)
      assert(rows.filter(_.getLong(0) == sid).map(_.toSeq.tail).toSeq ==
        db.quantileWindows(u, 0L, 512L, 8).collect().map(_.toSeq).toSeq, u)
    }
    assert(rows.find(_.getLong(0) == db.sidOf(us(0))).get.getLong(2) == 240L)
    assert(rows.find(_.getLong(0) == db.sidOf(us(1))).get.getLong(2) == 257L)
    db.close()
  }

  test("quantile rollup: delete recomputes dirtied windows; off-grid serves NULL") {
    import org.apache.spark.sql.functions.col
    val db = mkQDb()
    val uuid = "u-qd"
    db.createStream(uuid, "pyr/qd", Map("t" -> "q"))
    insertPts(db, uuid, (0L until 512L).map(t => (t, (t % 8).toDouble)))
    db.flush(uuid)
    db.deleteRange(uuid, 256L, 512L)
    val afterDel = db.quantileWindows(uuid, 0L, 512L, 8).collect()
    assert(afterDel.length == 1 && afterDel(0).getAs[Long]("cnt") == 256L,
      "window [256,512) drained; [0,256) recomputed")
    assert(afterDel(0).getAs[Double]("p50") == 3.5)
    // an off-cents-grid value (no representable cents integer) marks
    // its window: quantiles serve NULL there, not a wrong number
    insertPts(db, uuid, Seq((300L, 1.0e17)))
    db.flush(uuid)
    val rows = db.quantileWindows(uuid, 0L, 512L, 8)
      .orderBy("wstart").collect()
    assert(rows.length == 2)
    assert(!rows(0).isNullAt(2) && rows(0).getAs[Double]("p50") == 3.5)
    assert(rows(1).getAs[Long]("cnt") == 1L && rows(1).isNullAt(2) &&
      rows(1).isNullAt(3), "off-grid window serves NULL quantiles")
    db.close()
  }

  test("quantile rollup: a crashed qhist fold is stale under the watermark and heals") {
    import org.apache.spark.sql.functions.col
    val db = mkQDb()
    val uuid = "u-qwm"
    db.createStream(uuid, "pyr/qwm", Map("t" -> "q"))
    insertPts(db, uuid, (0L until 256L).map(t => (t, 1.0)))
    db.flush(uuid)
    val root = db.root
    val sid = db.sidOf(uuid)
    val pyrDir = Paths.get(root, "pyramid")
    val qDir = Paths.get(root, "qhist")
    val snapP = Paths.get(root, "pyr_snap"); copyTree(pyrDir, snapP)
    val snapQ = Paths.get(root, "qhist_snap"); copyTree(qDir, snapQ)

    insertPts(db, uuid, (256L until 512L).map(t => (t, 3.0)))
    db.flush(uuid)
    db.close()
    // crash: generation 2's stat + histogram folds (and stamp) lost
    rmTree(pyrDir); copyTree(snapP, pyrDir)
    rmTree(qDir); copyTree(snapQ, qDir)

    val db2 = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8,
      quantileLevel = Some(4))
    // the shared watermark gates qhist serving too: quantiles fall back
    // to the live view and stay exact, never reading the stale store
    val stale = db2.quantileWindows(uuid, 0L, 512L, 8)
    assert(!graft.plans.PlanChecks.scanRootPaths(stale)
      .forall(_.contains("/qhist")), "stale histogram must not serve")
    val rows = stale.orderBy("wstart").collect()
    assert(rows.map(_.getAs[Long]("cnt")).toSeq == Seq(256L, 256L))
    assert(rows(1).getAs[Double]("p50") == 3.0)
    // repair recomputes BOTH rollups under the one watermark
    assert(db2.repairPyramid(uuid))
    val healed = db2.quantileWindows(uuid, 0L, 512L, 8)
    assert(graft.plans.PlanChecks.scanRootPaths(healed)
      .forall(_.contains("/qhist")), "healed histogram serves again")
    val hr = healed.orderBy("wstart").collect()
    assert(hr.map(_.getAs[Long]("cnt")).toSeq == Seq(256L, 256L))
    assert(hr(0).getAs[Double]("p50") == 1.0 &&
      hr(1).getAs[Double]("p50") == 3.0)
    db2.close()
  }

  test("quantile rollup: purgeObliterated removes the stream's histogram rows") {
    import org.apache.spark.sql.functions.col
    val db = mkQDb()
    db.createStream("u-qp-a", "pyr/qp", Map("s" -> "a"))
    db.createStream("u-qp-b", "pyr/qp", Map("s" -> "b"))
    val sidA = db.sidOf("u-qp-a")
    insertPts(db, "u-qp-a", (0L until 256L).map(t => (t, 1.0)))
    db.flush("u-qp-a")
    insertPts(db, "u-qp-b", (0L until 256L).map(t => (t, 2.0)))
    db.flush("u-qp-b")
    db.obliterate("u-qp-a")
    db.purgeObliterated()
    // the histogram holds the stream's value distribution: obliterate's
    // removal contract must cover it like the point log and the rollup
    val qhist = spark.read.parquet(s"${db.root}/qhist")
    assert(qhist.filter(col("sid") === sidA).count() == 0,
      "purged stream's histogram rows must be gone from disk")
    // survivor still serves from the histogram
    val w = db.quantileWindows("u-qp-b", 0L, 256L, 8).head()
    assert(w.getAs[Long]("cnt") == 256L && w.getAs[Double]("p50") == 2.0)
    db.close()
  }
  /** The on-disk rollup and histogram rows of each of `uuids` (with its
    * sid) equal their recompute from the stream's committed points, and
    * the stat answers the pyramid serves equal the raw ones. */
  private def rollupsExact(db: Btrdb, step: String, uuids: Seq[(String, Long)]): Unit = {
    import org.apache.spark.sql.functions._
    import graft.core.TimeOps
    import graft.operators.StatOps
    val pyr = spark.read.schema(Btrdb.PyramidSchema).parquet(s"${db.root}/pyramid")
    val qh = spark.read.schema(Btrdb.QhistSchema).parquet(s"${db.root}/qhist")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    uuids.foreach { case (u, sid) =>
      val pts = db.pointsAt(u)
      Seq(4, 8).foreach { pw =>
        val want = rows(pts.groupBy(TimeOps.clampTime(col("time"), pw).as("wstart"))
          .agg(count(lit(1)), count(StatOps.cents(col("value"))), min("value"),
            max("value"), sum(StatOps.centsSum(col("value"))).cast("decimal(38,0)")))
        val got = rows(pyr.filter(col("pw") === pw && col("sid") === sid)
          .select("wstart", "cnt", "ccnt", "vmin", "vmax", "vsc"))
        assert(got == want, s"$step: pyramid pw=$pw of $u")
      }
      val want = rows(pts.groupBy(TimeOps.clampTime(col("time"), 4).as("wstart"),
        StatOps.cents(col("value")).as("c")).agg(count(lit(1))))
      assert(rows(qh.filter(col("sid") === sid).select("wstart", "c", "cnt")) == want,
        s"$step: histogram of $u")
      val maj = db.version(u)._1
      val served = db.alignedWindows(u, 0, 4 * 4096, 8).collect()
      val raw = db.alignedWindows(u, 0, 4 * 4096, 8, version = maj).collect()
      assert(served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(4))).toSeq ==
        raw.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(4))).toSeq,
        s"$step: served windows of $u")
      val hist = pts.groupBy(lit(sid).as("sid"),
        TimeOps.clampTime(col("time"), 8).as("wstart"),
        StatOps.cents(col("value")).as("c")).agg(count(lit(1)).as("hc"))
      assert(db.quantileWindowsBulk(Seq(u), 0, 4 * 4096, 8).collect().toSeq ==
        Btrdb.quantileFinish(hist).collect().toSeq, s"$step: quantiles of $u")
    }
  }

  test("one sbucket, two streams: every rollup rewrite keeps each survivor's rollups exact") {
    val dir = Files.createTempDirectory("pyrnet").toString
    def open() = new Btrdb(spark, dir, sBuckets = 1, tBucketPw = 12,
      bufferCommitThreshold = 1024, pyramidLevels = Seq(4, 8),
      pyramidWBucketPw = 12, commitRangePw = 8, quantileLevel = Some(4))
    val db = open()
    Seq("u-net-a", "u-net-b").foreach(u => db.createStream(u, "pyr/net", Map("s" -> u)))
    val streams = Seq("u-net-a", "u-net-b").map(u => u -> db.sidOf(u))
    def pts(from: Long, n: Int, step: Long, k: Int) =
      (0 until n).map(i => (from + i * step, ((i * k) % 23) * 0.25))
    // an insert that commits at once folds its partials
    insertPts(db, "u-net-a", pts(0, 2048, 7, 3))
    insertPts(db, "u-net-b", pts(5, 1500, 9, 5))
    rollupsExact(db, "insert fold", streams)
    // staged batches fold at the flush
    insertPts(db, "u-net-a", pts(3, 300, 31, 7))
    insertPts(db, "u-net-a", pts(11, 200, 13, 2))
    db.flush("u-net-a")
    rollupsExact(db, "staged flush", streams)
    db.deleteRange("u-net-a", 2000, 9000)
    rollupsExact(db, "deleteRange", streams)
    db.compact("u-net-a")
    rollupsExact(db, "compact", streams)
    // a fold lost to a crash: the rollups go back to before the commit
    val root = Paths.get(dir)
    Seq("pyramid", "qhist").foreach(a => copyTree(root.resolve(a), root.resolve(s"$a-snap")))
    insertPts(db, "u-net-b", pts(100, 1100, 11, 4))
    db.close()
    Seq("pyramid", "qhist").foreach { a =>
      rmTree(root.resolve(a)); copyTree(root.resolve(s"$a-snap"), root.resolve(a))
    }
    val db2 = open()
    assert(db2.repairPyramid("u-net-b"))
    rollupsExact(db2, "repairPyramid", streams)
    db2.obliterate("u-net-a")
    assert(db2.purgeObliterated() == Seq(streams.head._2))
    rollupsExact(db2, "purge", streams.tail)
    Seq("pyramid", "qhist").foreach { a =>
      assert(spark.read.parquet(s"$dir/$a")
        .filter(org.apache.spark.sql.functions.col("sid") === streams.head._2).count() == 0,
        s"purged stream left rows in $a")
    }
    db2.close()
  }

  test("qhist layout stamp: legacy roots stamp on first write, foreign generations refuse") {
    import org.apache.spark.sql.functions.col
    val db = mkQDb()
    val uuid = "u-qstamp"
    db.createStream(uuid, "pyr/qstamp", Map("t" -> "q"))
    insertPts(db, uuid, (0L until 256L).map(t => (t, (t % 16).toDouble)))
    db.flush(uuid)
    val stamp = Paths.get(s"${db.root}/qhist/_layout".stripPrefix("file:"))
    assert(Files.exists(stamp), "first qhist write must stamp the layout")
    // a pre-stamp root (same generation, written before the marker
    // existed): delete the stamp — the next maintenance re-stamps and
    // the histogram keeps serving the same answers
    Files.delete(stamp)
    insertPts(db, uuid, (0L until 256L).map(t => (t, t % 16 + 0.25)))
    db.flush(uuid)
    assert(Files.exists(stamp), "maintenance must restore the stamp")
    val rows = db.quantileWindows(uuid, 0L, 512L, 8).collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("cnt") == 512L)
    assert(rows(0).getAs[Double]("p50") == (7.25 + 8.0) / 2)
    // a root stamped by a FUTURE generation must refuse to mix rather
    // than append this build's files into it (single-footer schema
    // inference cannot represent a mixed table)
    // (drop the local-FS checksum sidecar — this raw write simulates a
    // stamp written by other code, not a corruption)
    Files.deleteIfExists(stamp.getParent.resolve("._layout.crc"))
    Files.write(stamp, "99".getBytes("UTF-8"))
    insertPts(db, uuid, Seq((5L, 1.0)))
    val e = intercept[IllegalStateException](db.flush(uuid))
    assert(e.getMessage.contains("layout generation"))
    db.close()
  }
}
