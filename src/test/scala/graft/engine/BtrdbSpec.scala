package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TimeConsts

/** Engine semantics ported from the reference's (disabled) qtree tests —
  * see FIXTURES.md §2 for the fixture↔source mapping:
  * dense4096 / superdense / nearestTriple / deleteMiddle / bufferMerge
  * (/root/reference/qtree/qtree2_test.go, /root/reference/pqm_test/main_test.go).
  */
class BtrdbSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var db: Btrdb = _
  private val seed = 424242L

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("btrdb-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("btrdbspec").toString
    db = new Btrdb(spark, dir, sBuckets = 4, tBucketPw = 52,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(6, 10))
  }

  override def afterAll(): Unit = spark.stop()

  private def insertPoints(uuid: String, pts: Seq[(Long, Double)]): Unit = {
    val df = spark.createDataFrame(pts).toDF("time", "value")
    db.insert(uuid, df)
  }

  test("catalog: create, lookup by tag value and key-existence, list, usage") {
    db.createStream("u-cat-1", "plant/a", Map("phase" -> "L1", "kind" -> "voltage"))
    db.createStream("u-cat-2", "plant/a", Map("phase" -> "L2"))
    db.createStream("u-cat-3", "plant/b", Map("phase" -> "L1"))
    assert(db.lookupStreams("plant/", Map("phase" -> Some("L1"))).count() == 2)
    assert(db.lookupStreams("plant/a", Map("kind" -> None)).count() == 1)
    assert(db.listCollections("plant/").collect().map(_.getString(0)).toSeq ==
      Seq("plant/a", "plant/b"))
    val usage = db.keyUsage("plant/").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(usage(("tag", "phase")) == 3 && usage(("tag", "kind")) == 1)
    // duplicate (collection, tags) rejected
    intercept[IllegalArgumentException] {
      db.createStream("u-cat-4", "plant/a", Map("phase" -> "L2"))
    }
  }

  test("dense4096: stat-pyramid invariant — pw=k query returns 4096>>k full windows") {
    val uuid = "u-dense"
    db.createStream(uuid, "test/dense", Map("t" -> "dense"))
    val rnd = new scala.util.Random(seed)
    val pts = (0L until 4096L).map(t => (t, rnd.nextDouble() * 100))
    insertPoints(uuid, pts)
    db.flush(uuid)
    // readback equality
    val back = db.rawValues(uuid, 0, 4096).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(back.toSeq == pts.sortBy(p => (p._1, p._2)))
    for (k <- Seq(2, 4, 6, 8, 10, 12)) {
      val win = db.alignedWindows(uuid, 0, 4096, k).collect()
      assert(win.length == (4096 >> k), s"pw=$k window count")
      assert(win.forall(_.getLong(1) == (1L << k)), s"pw=$k counts")
      // pairwise rollup: adjacent pw=k windows combine exactly to pw=k+1
      val next = db.alignedWindows(uuid, 0, 4096, k + 1).collect()
      win.grouped(2).zip(next.iterator).foreach { case (Array(a, b), c) =>
        assert(a.getLong(1) + b.getLong(1) == c.getLong(1))
        assert(math.min(a.getDouble(2), b.getDouble(2)) == c.getDouble(2))
        assert(math.max(a.getDouble(4), b.getDouble(4)) == c.getDouble(4))
      }
    }
    // the serving path's driver answers equal the DataFrames: off-grid
    // values, pyramid-served (pw 12) and raw (pw 0 and 2, below every
    // level), and pw 64, which collapses the range to no window
    assert(Served.raw(db, uuid, 0, 4096) == back.toSeq)
    for (k <- Seq(0, 2, 12))
      assert(Served.aligned(db, uuid, 0, 4096, k, exactMean = false).size == (4096 >> k))
    assert(Served.aligned(db, uuid, 0, 4096, 64).isEmpty)
  }

  test("superdense: duplicate timestamps all accepted (no VSIZE truncation)") {
    val uuid = "u-superdense"
    db.createStream(uuid, "test/superdense", Map("t" -> "sd"))
    insertPoints(uuid, Seq.fill(10000)((5L, 1.0)))
    db.flush(uuid)
    assert(db.rawValues(uuid, 0, 10).count() == 10000)
    val stat = db.alignedWindows(uuid, 0, 64, 6).collect()
    assert(stat.length == 1 && stat.head.getLong(1) == 10000)
    // duplicate timestamps with distinct values: the driver answer sorts
    // them by value, as the DataFrame does
    insertPoints(uuid, Seq((5L, -2.5), (5L, 3.25), (7L, 0.5), (5L, 0.0), (3L, 1.0)))
    db.flush(uuid)
    assert(Served.raw(db, uuid, 0, 10).size == 10005)
    assert(Served.aligned(db, uuid, 0, 64, 6).head._5 == 10005)
    assert(Served.aligned(db, uuid, 0, 64, 0).map(_._5) == Seq(1L, 10003L, 1L))
  }

  test("nearestTriple: forward inclusive, backward exclusive, out-of-range empty") {
    val uuid = "u-nearest"
    db.createStream(uuid, "test/nearest", Map("t" -> "near"))
    val t1 = 1L << 56; val t2 = 2L << 56; val t3 = 3L << 56
    insertPoints(uuid, Seq((t1, 1.0), (t2, 2.0), (t3, 3.0)))
    db.flush(uuid)
    assert(db.nearest(uuid, t2, backward = false).contains((t2, 2.0)))     // inclusive
    assert(db.nearest(uuid, t2 + 1, backward = false).contains((t3, 3.0)))
    assert(db.nearest(uuid, t2, backward = true).contains((t1, 1.0)))      // exclusive
    assert(db.nearest(uuid, t2 + 1, backward = true).contains((t2, 2.0)))
    assert(db.nearest(uuid, t3 + 1, backward = false).isEmpty)
    assert(db.nearest(uuid, t1, backward = true).isEmpty)
  }

  test("nearest probes outward from t, bounded by the stream envelope") {
    val uuid = "u-probe"
    db.createStream(uuid, "test/probe", Map("t" -> "pr"))
    // spec engine: tBucketPw=52 → initial probe width 2^52. Points span
    // a wide range; a hit adjacent to t must resolve in ONE probe even
    // though the stream stretches 2^58 ns beyond it.
    insertPoints(uuid, Seq((1L << 53, 1.0), ((1L << 53) + 5, 2.0), (1L << 58, 3.0)))
    db.flush(uuid)
    val (hit, probes) = db.nearestProbed(uuid, (1L << 53) + 1, backward = false)
    assert(hit.contains(((1L << 53) + 5, 2.0)))
    assert(probes == 1, s"adjacent hit needed $probes probes")
    // distant hit: probe count grows logarithmically (8x widening from
    // 2^52 → ≤ 3 probes to span 2^58), never a full half-range scan
    val (far, probesFar) = db.nearestProbed(uuid, (1L << 53) + 6, backward = false)
    assert(far.contains((1L << 58, 3.0)))
    assert(probesFar <= 3, s"distant hit needed $probesFar probes")
    // out-of-envelope queries answer without any probe
    val (none, probes0) = db.nearestProbed(uuid, (1L << 58) + 1, backward = false)
    assert(none.isEmpty && probes0 == 0)
    // staged (unflushed) points extend the probe bound
    insertPoints(uuid, Seq(((1L << 58) + 100, 9.0)))
    assert(db.nearest(uuid, (1L << 58) + 1, backward = false)
      .contains(((1L << 58) + 100, 9.0)))
    db.flush(uuid)
  }

  test("bufferMerge: latest read merges staging; pinned read doesn't; (maj,min) versions") {
    val uuid = "u-buffer"
    db.createStream(uuid, "test/buffer", Map("t" -> "buf"))
    insertPoints(uuid, Seq((100L, 100.0)))
    db.flush(uuid)
    assert(db.version(uuid) == (1L, 0L))
    insertPoints(uuid, Seq((105L, 105.0))) // staged, not flushed
    assert(db.version(uuid) == (1L, 1L))
    val latest = BothSides(spark)(
      db.rawValues(uuid, 0, 1000).collect().map(_.getLong(0)).toSeq)
    assert(latest == Seq(100L, 105L)) // read-your-writes
    val pinned = BothSides(spark)(
      db.rawValues(uuid, 0, 1000, version = 1).collect().map(_.getLong(0)).toSeq)
    assert(pinned == Seq(100L)) // pinned excludes staging
    // the aggregate merges the buffer on both sides of the small-read rule
    assert(BothSides(spark)(db.alignedWindows(uuid, 0, 1024, 6).collect().toSeq)
      .map(_.getLong(1)) == Seq(2L))
    assert(Served.raw(db, uuid, 0, 1000).map(_._1) == Seq(100L, 105L))
    assert(Served.raw(db, uuid, 0, 1000, version = 1).map(_._1) == Seq(100L))
    assert(Served.aligned(db, uuid, 0, 1024, 6).map(_._5) == Seq(2L))
    db.flush(uuid)
    assert(db.version(uuid) == (2L, 0L))
  }

  test("deleteMiddle: range delete, version pinning, changes coalescing") {
    val uuid = "u-delete"
    db.createStream(uuid, "test/delete", Map("t" -> "del"))
    insertPoints(uuid, (0L until 1000L).map(t => (t, t.toDouble)))
    db.flush(uuid) // v1
    db.deleteRange(uuid, 10, 990) // v2
    assert(db.rawValues(uuid, 0, 1000).count() == 20)
    // pinned at v1 still sees everything (time travel)
    assert(db.rawValues(uuid, 0, 1000, version = 1).count() == 1000)
    // a fresh handle seeds its delete lists from the commit log and
    // answers both reads identically
    val fresh = Btrdb.attach(spark, db.root, lockRoot = false)
    try for (v <- Seq(1L, TimeConsts.LatestGeneration)) {
      def rows(e: Btrdb) = e.rawValues(uuid, 0, 1000, version = v).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows(fresh) == BothSides(spark)(rows(db)),
        s"fresh attach differs at version $v")
    } finally fresh.close()
    // a later insert INTO the deleted range survives (delete only applies
    // to points with version < delete version)
    insertPoints(uuid, Seq((500L, 42.0)))
    db.flush(uuid) // v3
    assert(db.rawValues(uuid, 0, 1000).count() == 21)
    // changes(0, 3) covers insert+delete+insert envelopes, coalesced
    val ch = db.changes(uuid, 0, 3, resolution = 4).collect()
    assert(ch.length == 1)
    assert(ch.head.getLong(0) == 0 && ch.head.getLong(1) >= 992)
    // changes between v2 and v3 only covers the second insert's envelope
    val ch2 = db.changes(uuid, 2, 3, resolution = 0).collect()
    assert(ch2.length == 1 && ch2.head.getLong(0) == 500 && ch2.head.getLong(1) == 501)
    // delete debt on the driver: pinned and latest, raw and aligned
    assert(Served.raw(db, uuid, 0, 1000).size == 21)
    assert(Served.raw(db, uuid, 0, 1000, version = 2).size == 20)
    assert(Served.raw(db, uuid, 0, 1000, version = 1).size == 1000)
    assert(Served.aligned(db, uuid, 0, 1024, 6).map(_._5).sum == 21)
    assert(Served.aligned(db, uuid, 0, 1024, 6, version = 2).map(_._5).sum == 20)
    // changes over the insert, the delete and the second insert: the
    // delete range [10, 990) overlaps the first insert's, and at
    // resolution 10 the second insert's range touches it
    for ((from, to) <- Seq((0L, 3L), (1L, 3L), (2L, 3L), (0L, 1L)); res <- Seq(0, 4, 10, 36))
      Served.changes(db, uuid, from, to, res)
  }

  test("adaptive commit ranges: distant tight clusters record separately") {
    val uuid = "u-adaptive"
    db.createStream(uuid, "test/adaptive", Map("t" -> "ar"))
    // two 4-point clusters sharing a 2^commitRangePw=2^8 bucket but
    // distinct (with a full empty bucket between) at the finest partial
    // granularity 2^6 — the old fixed-floor recording collapsed them
    // into one [0,204) range; adaptive recording keeps them separate
    insertPoints(uuid, (0L until 4L).map(t => (t, 1.0)) ++
      (200L until 204L).map(t => (t, 2.0)))
    db.flush(uuid) // v1, one commit touching two distant clusters
    val ch = db.changes(uuid, 0, 1, resolution = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ch.toSeq == Seq((0L, 16L), (192L, 208L)),
      s"expected two tight ranges, got ${ch.toSeq}")
    // at resolution 8 both ranges snap to [0, 256); at 7 they snap to
    // [0, 128) and [128, 256), which are adjacent and merge
    assert(Served.changes(db, uuid, 0, 1, 8) == Seq((0L, 256L)))
    assert(Served.changes(db, uuid, 0, 1, 7) == Seq((0L, 256L)))
    for (res <- Seq(0, 4, 36, 63, 64)) Served.changes(db, uuid, 0, 1, res)
  }

  test("compact: collapses generations, applies deletes, re-enables pyramid path") {
    val uuid = "u-compact"
    db.createStream(uuid, "test/compact", Map("t" -> "c"))
    insertPoints(uuid, (0L until 500L).map(t => (t, t.toDouble)))
    db.flush(uuid) // v1
    insertPoints(uuid, (500L until 1000L).map(t => (t, t.toDouble)))
    db.flush(uuid) // v2
    db.deleteRange(uuid, 100, 900) // v3
    val before = db.rawValues(uuid, 0, 1000).collect().map(_.getLong(0)).toSeq
    assert(before.length == 200)
    val maj = db.compact(uuid)
    assert(maj == 3)
    val after = db.rawValues(uuid, 0, 1000).collect().map(_.getLong(0)).toSeq
    assert(after == before)
    // commit history collapsed to one generation, delete gone
    assert(db.commits.filter(org.apache.spark.sql.functions.col("sid") ===
      db.catalog.filter(org.apache.spark.sql.functions.col("uuid") === uuid)
        .head().getAs[Long]("sid")).count() == 1)
    // stat queries still correct post-compaction
    val stat = db.alignedWindows(uuid, 0, 1024, 10).collect()
    assert(stat.map(_.getLong(1)).sum == 200)
    // on the driver: a pin below the compacted floor reads empty, and
    // changes read the collapsed history
    assert(Served.raw(db, uuid, 0, 1000).map(_._1) == before)
    assert(Served.raw(db, uuid, 0, 1000, version = 2).isEmpty)
    assert(Served.aligned(db, uuid, 0, 1024, 10, version = 1).isEmpty)
    assert(Served.aligned(db, uuid, 0, 1024, 10).map(_._5).sum == 200)
    for (res <- Seq(0, 36, 63, 64)) Served.changes(db, uuid, 0, 3, res)
    // crash-recovery: a stale plain commit file left by an interrupted
    // garbage collection is superseded by the compacted record, not
    // double-counted
    val sid = db.sidOf(uuid)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${db.root}/commits/commit-$sid-1.json"),
      (s"""{"sid":$sid,"version":1,"kind":"insert","tmin":0,"tmax":499,""" +
        s""""npoints":500,"ranges":[{"s":0,"e":500}],"compacted":false}""" + "\n")
        .getBytes("UTF-8"))
    db.refreshCommits()
    assert(db.rawValues(uuid, 0, 1000).count() == 200) // unchanged
    assert(db.commits.filter(
      org.apache.spark.sql.functions.col("sid") === sid).count() == 1)
  }

  /** A wire RawValues reply of `uuid` over [start, end): its (major,
    * minor) version and its points. */
  private def wireRaw(uuid: String, start: Long, end: Long): ((Long, Long), Seq[(Long, Double)]) = {
    val w = new graft.wire.PbWriter
    w.bytes(1, uuid.getBytes("UTF-8")); w.sfixed64(2, start); w.sfixed64(3, end)
    val body = w.toBytes
    val framed = java.nio.ByteBuffer.allocate(5 + body.length).put(0.toByte)
      .putInt(body.length).put(body).array()
    val reply = graft.wire.BtrdbWire.handle(db, "RawValues", framed)
    val versions = Set.newBuilder[(Long, Long)]
    val points = Seq.newBuilder[(Long, Double)]
    reply.messages.foreach { m =>
      val r = new graft.wire.PbReader(m)
      var (maj, minor) = (0L, 0L)
      while (r.hasNext) r.readTag() match {
        case (1, _) => fail(s"RawValues of $uuid answered an error")
        case (2, _) => maj = r.varint()
        case (3, _) => minor = r.varint()
        case (4, _) =>
          val p = r.lenReader()
          var (t, v) = (0L, 0.0)
          while (p.hasNext) p.readTag() match {
            case (1, _) => t = p.fixed64()
            case (2, _) => v = p.double()
            case (_, x) => p.skip(x)
          }
          points += ((t, v))
        case (_, x) => r.skip(x)
      }
      versions += ((maj, minor))
    }
    val vs = versions.result()
    assert(vs.size == 1, s"one reply, several versions: $vs")
    (vs.head, points.result())
  }

  /** Latest served reads of `uuid` racing a writer that runs 10 rounds of
    * a 16-point insert at the next free times plus a flush. The stream's
    * `prefix` points fill [0, prefix) densely and were committed before
    * (its major is the number of those commits). Every read must see
    * contiguous points and 64-point pyramid windows (a window counted
    * twice reads more), and every wire RawValues reply must carry exactly
    * the points acked at the version it reports. */
  private def raceReads(uuid: String, prefix: Long): Unit = {
    val batch = 16L
    val (major0, _) = db.version(uuid)
    val acked = new java.util.concurrent.atomic.AtomicLong(prefix)
    val writer = new Thread(() =>
      for (k <- 0L until 10L) {
        insertPoints(uuid, (0L until batch).map(i => (prefix + k * batch + i, 1.0)))
        acked.addAndGet(batch)
        db.flush(uuid)
      })
    writer.start()
    var reads = 0
    while (writer.isAlive) {
      val before = acked.get
      val times = db.serveRawValues(uuid, 0, 1L << 20).map(_._1).toSeq
      val windows = db.serveAlignedWindows(uuid, 0, 1L << 20, 6).toSeq
      val ((maj, minor), wire) = wireRaw(uuid, 0, 1L << 20)
      val after = acked.get + batch // an insert in flight may be read
      assert(times == (0L until times.size.toLong), "raw points lost or repeated")
      assert(times.size >= before && times.size <= after)
      assert(windows.map(_._1) == windows.indices.map(_ * 64L))
      assert(windows.isEmpty || windows.init.forall(_._5 == 64) && windows.last._5 <= 64,
        s"a window counted twice: $windows")
      assert(windows.map(_._5).sum >= before && windows.map(_._5).sum <= after)
      assert(wire.size == prefix + batch * (maj - major0) + minor,
        s"a reply at ($maj, $minor) carried ${wire.size} points")
      assert(wire.map(_._1) == (0L until wire.size.toLong))
      reads += 1
    }
    writer.join()
    assert(reads > 0)
    assert(db.serveRawValues(uuid, 0, 1L << 20).size == prefix + 10 * batch)
  }

  test("latest served reads racing insert+flush of the same stream neither fail nor double count") {
    val uuid = "u-race"
    db.createStream(uuid, "test/race", Map("t" -> "race"))
    raceReads(uuid, prefix = 0L)
    // the same race on a stream whose reads merge at least 8 runs: 8
    // earlier commits, each of every 8th time of [0, 1024)
    val runs = "u-race-runs"
    db.createStream(runs, "test/race", Map("t" -> "runs"))
    for (j <- 0L until 8L) {
      insertPoints(runs, (j until 1024L by 8L).map(t => (t, 1.0)))
      db.flush(runs)
    }
    db.orderedReader.peakRuns.set(0L)
    db.serveRawValues(runs, 0, 1L << 20).size
    assert(db.orderedReader.peakRuns.get >= 8)
    raceReads(runs, prefix = 1024L)
  }

  test("served reads merge overlapping, out-of-order and duplicate runs as the DataFrames order them") {
    val uuid = "u-merge"
    db.createStream(uuid, "test/merge", Map("t" -> "merge"))
    def commit(pts: Seq[(Long, Double)]): Unit = { insertPoints(uuid, pts); db.flush(uuid) }
    commit((1000L until 2000L).map(t => (t, (t % 7).toDouble)))
    // a backfill, sent in descending time order
    commit((0L until 1000L).reverse.map(t => (t, (t % 9).toDouble)))
    // duplicate times: distinct values, then values equal to commit 1's
    commit((500L until 1500L by 2L).map(t => (t, t % 5 + 0.5)))
    commit((1001L until 1999L by 3L).map(t => (t, (t % 7).toDouble)))
    // four interleaved commits, each shuffled
    val rnd = new scala.util.Random(seed + 7)
    for (j <- 0L until 4L)
      commit(rnd.shuffle((j until 2000L by 4L).map(t => (t, j * 0.25))))
    // and a staged run with duplicates of its own
    insertPoints(uuid, (1990L until 2010L).flatMap(t => Seq((t, 3.0), (t, -1.0))))
    db.orderedReader.peakRuns.set(0L)
    val raw = Served.raw(db, uuid, 0, 3000)
    assert(db.orderedReader.peakRuns.get >= 8)
    assert(raw.size == 1000 + 1000 + 500 + 333 + 2000 + 40)
    assert(wireRaw(uuid, 0, 3000)._2 == raw)
    Served.raw(db, uuid, 250, 1750)
    Served.raw(db, uuid, 0, 3000, version = 5)
    for (width <- Seq(7L, 100L, 1000L); depth <- Seq(0, 9))
      Served.windows(db, uuid, 3, 2995, width, depth = depth)
    Served.windows(db, uuid, 0, 3000, 100, version = 3)
    Served.aligned(db, uuid, 0, 3000, 4)
    db.flush(uuid) // later tests count the streams with a write buffer
  }

  test("a served read holds at most runs x read-ahead decoded rows") {
    val root = Files.createTempDirectory("readahead").toString
    val bounded = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 52,
      bufferCommitThreshold = 4096, pyramidLevels = Seq(6, 10))
    val uuid = "u-read-ahead"
    bounded.createStream(uuid, "test/readahead", Map("t" -> "ra"))
    val chunk = OrderedReader.ReadAhead.toLong * LocalParquet.BatchRows
    val n = 10 * chunk + 12345
    // one insert past the commit threshold commits straight from the
    // time-ordered frame: time-ordered files
    bounded.insert(uuid, spark.range(n).selectExpr("id as time", "cast(id % 100 as double) as value"))
    val reader = bounded.orderedReader
    reader.peakHeld.set(0L); reader.peakRuns.set(0L)
    var count = 0L
    var last = -1L
    bounded.serveRawValues(uuid, 0, n).foreach { case (t, _) =>
      assert(t == last + 1); last = t; count += 1 }
    assert(count == n)
    assert(reader.peakRuns.get >= 2)
    assert(reader.peakHeld.get <= reader.peakRuns.get * chunk,
      s"held ${reader.peakHeld.get} rows over ${reader.peakRuns.get} runs")
    assert(reader.peakHeld.get < n)
    bounded.close()
  }

  test("commits of two streams in one sbucket race neither each other nor the pyramid") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("onesbucket").toString
    val one = new Btrdb(spark, root, sBuckets = 1, tBucketPw = 52,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(6, 10))
    val uuids = Seq("u-sb-a", "u-sb-b")
    uuids.foreach(u => one.createStream(u, "test/sbucket", Map("s" -> u)))
    val (rounds, batch) = (10, 16L)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writers = uuids.zipWithIndex.map { case (u, w) =>
      new Thread(() =>
        try for (k <- 0L until rounds.toLong) {
          one.insert(u, spark.createDataFrame(
            (0L until batch).map(i => (k * batch + i, w + i * 0.25))).toDF("time", "value"))
          one.flush(u)
        } catch { case e: Throwable => failures.add(e) })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(failures.isEmpty, s"a writer failed: ${failures.peek()}")
    for (u <- uuids) {
      val times = one.rawValues(u, 0, 1L << 20).collect().map(_.getLong(0)).toSeq
      assert(times == (0L until rounds * batch), s"acked points of $u lost or repeated")
      val major = one.version(u)._1
      // the pyramid's windows against their recompute from raw points (a
      // pinned read never takes the pyramid)
      def stats(df: org.apache.spark.sql.DataFrame) =
        df.select(col("wstart"), col("cnt"), col("vmin"), col("vmean"), col("vmax"))
          .collect().toSeq
      val pyramid = one.alignedWindows(u, 0, 1L << 20, 6)
      assert(pyramid.queryExecution.executedPlan.toString.contains("/pyramid"))
      assert(stats(pyramid) == stats(one.alignedWindows(u, 0, 1L << 20, 6, version = major)), u)
    }
    one.close()
  }

  test("windows: arbitrary width with hole emission and end truncation") {
    val uuid = "u-windows"
    db.createStream(uuid, "test/windows", Map("t" -> "win"))
    // points in windows 0 and 2 (width 100), nothing in window 1
    insertPoints(uuid, Seq((10L, 1.0), (20L, 3.0), (250L, 5.0)))
    db.flush(uuid)
    val w = db.windows(uuid, 0, 350, 100).collect() // 350 truncates to 3 windows
    assert(w.length == 3)
    assert(w(0).getLong(2) == 2 && w(0).getDouble(4) == 2.0) // cnt, mean
    assert(w(1).getLong(2) == 0 && w(1).getDouble(3) == 0.0) // hole: zeros
    assert(w(2).getLong(2) == 1 && w(2).getDouble(5) == 5.0)
    // on the serving path too, hole included
    assert(Served.windows(db, uuid, 0, 350, 100)(1) == ((100L, 0.0, 0.0, 0.0, 0L)))
  }

  test("pyramid: aligned windows served from rollups match raw computation") {
    val uuid = "u-pyramid"
    db.createStream(uuid, "test/pyramid", Map("t" -> "pyr"))
    val rnd = new scala.util.Random(seed + 1)
    insertPoints(uuid, (0L until 5000L).map(t => (t * 3, rnd.nextDouble())))
    db.flush(uuid)
    // pw=12 >= maintained level 10 → pyramid path; compare against a
    // pinned-version read, which always takes the raw path
    val fromPyr = db.alignedWindows(uuid, 0, 15000, 12).collect()
    val fromRaw = db.alignedWindows(uuid, 0, 15000, 12, version = 1).collect()
    assert(fromPyr.length == fromRaw.length)
    fromPyr.zip(fromRaw).foreach { case (p, r) =>
      assert(p.getLong(0) == r.getLong(0) && p.getLong(1) == r.getLong(1))
      assert(p.getDouble(2) == r.getDouble(2) && p.getDouble(4) == r.getDouble(4))
      assert(math.abs(p.getDouble(3) - r.getDouble(3)) < 1e-9)
    }
    // off-grid values on the driver, pyramid-served and raw
    Served.aligned(db, uuid, 0, 15000, 12, exactMean = false)
    Served.aligned(db, uuid, 0, 15000, 12, version = 1, exactMean = false)
  }

  test("catalog at scale: bulk create 1000 streams, lookup by tag and annotation") {
    val streams = (0 until 1000).map(i =>
      (s"u-bulk-$i", s"bulk/c${i % 10}", Map("shard" -> s"${i % 7}", "idx" -> s"$i")))
    val sids = db.createStreams(streams)
    assert(sids.length == 1000 && sids.distinct.length == 1000)
    assert(db.lookupStreams("bulk/", Map("shard" -> Some("3"))).count() == 143)
    assert(db.lookupStreams("bulk/c4", Map("idx" -> None)).count() == 100)
    db.setAnnotations("u-bulk-17", 0L, Map("owner" -> "ops"))
    assert(db.lookupStreams("bulk/",
      annotations = Map("owner" -> Some("ops"))).count() == 1)
    intercept[IllegalArgumentException] { // duplicate (collection, tags)
      db.createStreams(Seq(("u-bulk-x", "bulk/c0", Map("shard" -> "0", "idx" -> "0"))))
    }
  }

  test("windows depth knob: reference-exact bucket attribution from the pyramid") {
    val uuid = "u-depth"
    db.createStream(uuid, "test/depth", Map("t" -> "d"))
    insertPoints(uuid, (0L until 4096L).map(t => (t, 1.0)))
    db.flush(uuid)
    // width 1000 (not a power of two); depth=9 caps attribution at the
    // reference node ladder's pw=8 (buckets of 256, qtree.go:1064-1176)
    // and sources pyramid pw=6 (spec engine maintains Seq(6, 10)):
    // whole buckets land in the window holding their start
    val exact = db.windows(uuid, 0, 4000, 1000).collect()
    val approx = db.windows(uuid, 0, 4000, 1000, depth = 9).collect()
    assert(approx.length == exact.length)
    assert(exact.map(_.getLong(2)).sum == 4000)
    // the bucket containing start=0 ([0,256)) is DROPPED — the walk
    // reaches it inactive and the capped branch activates without
    // accumulating — and the bucket straddling end ([3840,4096))
    // contributes its tail past the truncated end: 4096 - 256 = 3840
    assert(approx.map(_.getLong(2)).sum == 3840)
    // w0 [0,1000) = buckets starting at 256/512/768 → points 256..1023
    // (768 of them — [768,1024) straddles the boundary but belongs to
    // the window holding its start); w1 = buckets 1024..1792 → 1024
    assert(approx(0).getLong(2) == 768 && exact(0).getLong(2) == 1000)
    assert(approx(1).getLong(2) == 1024)
    // a version-pinned read takes the RAW path (the pyramid only serves
    // latest-generation queries) and must agree with the rollup-served
    // result column for column — the compose-from-rollup arithmetic is
    // exactly the closed form over points
    val vmaj = db.version(uuid)._1
    val raw = db.windows(uuid, 0, 4000, 1000, version = vmaj, depth = 9)
      .collect()
    assert(raw.length == approx.length)
    approx.zip(raw).foreach { case (a, r) =>
      assert(a.getLong(1) == r.getLong(1) && a.getLong(2) == r.getLong(2))
      assert(a.getDouble(3) == r.getDouble(3) &&
        a.getDouble(4) == r.getDouble(4) && a.getDouble(5) == r.getDouble(5))
    }
    // the serving path folds the same rollup rows and raw points
    Served.windows(db, uuid, 0, 4000, 1000, depth = 9)
    Served.windows(db, uuid, 0, 4000, 1000, version = vmaj, depth = 9)
    Served.windows(db, uuid, 0, 4000, 1000)
  }

  test("time-range reads prune tbucket partitions (scan cost ∝ range, not table)") {
    val uuid = "u-prune"
    db.createStream(uuid, "test/prune", Map("t" -> "p"))
    // spec engine uses tBucketPw=52: two points 2 tbuckets apart
    insertPoints(uuid, Seq((0L, 1.0), (3L << 52, 2.0)))
    db.flush(uuid)
    val narrow = db.pointsAt(uuid, start = 0L, end = 100L)
    val plan = narrow.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:"), s"plan:\n$plan")
    assert(plan.contains("tbucket"), "tbucket must appear in partition filters")
    assert(narrow.count() == 1)
    // a range with no tbucket directory at all reads empty
    assert(BothSides(spark)(
      db.rawValues(uuid, 1L << 52, 3L << 52).collect().toSeq).isEmpty)
    // and so does every read of a root with no points/ yet
    val empty = new Btrdb(spark, Files.createTempDirectory("btrdbempty").toString,
      sBuckets = 4, tBucketPw = 52, pyramidLevels = Seq(6, 10))
    try {
      empty.createStream(uuid, "test/prune", Map("t" -> "p"))
      assert(BothSides(spark)(empty.rawValues(uuid, 0, 100).collect().toSeq).isEmpty)
      assert(BothSides(spark)(
        empty.alignedWindows(uuid, 0, 1024, 6).collect().toSeq).isEmpty)
      assert(empty.nearest(uuid, 0, backward = false).isEmpty)
    } finally empty.close()
  }

  test("pyramid + staging combine: stat results merge the write buffer exactly") {
    val uuid = "u-pyrmerge"
    db.createStream(uuid, "test/pyrmerge", Map("t" -> "pm"))
    insertPoints(uuid, (0L until 2048L).map(t => (t, 1.0)))
    db.flush(uuid)
    insertPoints(uuid, (0L until 512L).map(t => (t * 4, 3.0))) // staged overlap
    assert(db.version(uuid)._2 == 512L)
    // pyramid path (level 6 <= pw 8) must merge the buffer: each pw=8
    // window gets 256 committed (v=1.0) + 64 staged (v=3.0) points
    val merged = BothSides(spark)(db.alignedWindows(uuid, 0, 2048, 8).collect().toSeq)
    assert(merged.length == 8)
    merged.foreach { r =>
      assert(r.getLong(1) == 320, s"cnt ${r.getLong(1)}")
      assert(r.getDouble(2) == 1.0 && r.getDouble(4) == 3.0)
      assert(math.abs(r.getDouble(3) - (256 * 1.0 + 64 * 3.0) / 320.0) < 1e-12)
    }
    // identical to the raw computation over the same (latest) state
    val raw = db.rawValues(uuid, 0, 2048).count()
    assert(raw == 2048 + 512)
    // on the driver: rollup rows plus the buffer's own partials
    assert(Served.aligned(db, uuid, 0, 2048, 8).map(_._5) == Seq.fill(8)(320L))
    assert(Served.aligned(db, uuid, 0, 2048, 6).map(_._5).sum == 2048 + 512)
    assert(Served.raw(db, uuid, 0, 2048).size == 2048 + 512)
    db.flush(uuid)
  }

  test("backfill invalidates exactly the dirtied rollup buckets") {
    val uuid = "u-backfill"
    db.createStream(uuid, "test/backfill", Map("t" -> "bf"))
    insertPoints(uuid, (0L until 4096L).map(t => (t, 1.0)))
    db.flush(uuid) // v1
    // late data lands in the middle of the already-rolled-up range
    insertPoints(uuid, (1000L until 1100L).map(t => (t, 5.0)))
    db.flush(uuid) // v2 — dirties only buckets covering [1000, 1100)
    val stats = db.alignedWindows(uuid, 0, 4096, 10).collect() // pyramid path
    assert(stats.length == 4)
    assert(stats.map(_.getLong(1)).sum == 4196)
    // window [1024,2048) holds 76 of the backfilled points ([1024,1100))
    assert(stats(0).getLong(1) == 1024 + 24 && stats(0).getDouble(4) == 5.0)
    assert(stats(1).getLong(1) == 1024 + 76)
    assert(stats(2).getLong(1) == 1024 && stats(2).getDouble(4) == 1.0)
    // agrees with the raw path (pinned reads always compute from points)
    val raw = db.alignedWindows(uuid, 0, 4096, 10, version = 2).collect()
    stats.zip(raw).foreach { case (p, r) =>
      assert(p.getLong(0) == r.getLong(0) && p.getLong(1) == r.getLong(1))
      assert(p.getDouble(2) == r.getDouble(2) && p.getDouble(4) == r.getDouble(4))
      assert(math.abs(p.getDouble(3) - r.getDouble(3)) < 1e-9)
    }
  }

  test("alignedWindowsBulk: one scan serves many streams, mixed pyramid/raw paths") {
    val us = (0 until 3).map(i => s"u-bulkw-$i")
    us.foreach(u => db.createStream(u, "test/bulkw", Map("i" -> u.last.toString)))
    us.zipWithIndex.foreach { case (u, i) =>
      insertPoints(u, (0L until 512L).map(t => (t, (i + 1).toDouble)))
      db.flush(u)
    }
    // stream 1 gets delete debt (empty range — results unchanged) and
    // stream 2 staged points: BOTH take the raw path
    db.deleteRange(us(1), 600, 700)
    insertPoints(us(2), Seq((100L, 42.0)))
    val df = db.alignedWindowsBulk(us, 0, 512, 8)
    val rows = df.collect()
    assert(rows.length == 6) // 3 streams × 2 windows of 2^8
    val bySid = rows.groupBy(_.getLong(0))
    assert(bySid.size == 3)
    bySid.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sum >= 512)
    }
    // stream 1's delete-debt raw path returns its full data
    assert(bySid(db.sidOf(us(1))).map(_.getLong(2)).sum == 512)
    // the stream with staging merged its buffer (513 points, max 42)
    val s2 = bySid(db.sidOf(us(2))).sortBy(_.getLong(1))
    assert(s2.map(_.getLong(2)).sum == 513 && s2.head.getDouble(5) == 42.0)
    // each stream's bulk rows are its per-stream alignedWindows rows:
    // stream 0 from the pyramid, stream 1 (delete debt) and stream 2
    // (staged) from the point log
    us.foreach { u =>
      val bulk = bySid(db.sidOf(u)).sortBy(_.getLong(1)).map(_.toSeq.tail).toSeq
      assert(bulk == db.alignedWindows(u, 0, 512, 8).collect().map(_.toSeq).toSeq, u)
    }
    // plan: ONE point-log scan serves every raw-path stream — N raw
    // streams must not become N subplans re-scanning the log — and it
    // reads only those streams' sbucket directories
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val roots = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toString)
    }
    assert(roots.exists(_.exists(_.contains("/pyramid/pw="))))
    val pointScans = roots.filter(_.exists(_.contains("/points")))
    assert(pointScans.size == 1,
      s"expected exactly one point-log scan, got ${pointScans.size}")
    assert(pointScans.head.map(p => p.substring(p.indexOf("/points"))).toSet ==
      Seq(us(1), us(2)).map(u => s"/points/sbucket=${db.sidOf(u) % 4}").toSet,
      s"the point-log scan reads ${pointScans.head}")
    db.flush(us(2))
  }

  test("multiAlign: k-way full-outer temporal join") {
    val ua = "u-align-a"; val ub = "u-align-b"
    db.createStream(ua, "test/align", Map("s" -> "a"))
    db.createStream(ub, "test/align", Map("s" -> "b"))
    insertPoints(ua, Seq((1L, 10.0), (3L, 30.0)))
    insertPoints(ub, Seq((2L, 20.0), (3L, 33.0)))
    db.flush(ua); db.flush(ub)
    val rows = db.multiAlign(Seq(ua, ub), 0, 10).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(1))
    assert(rows(2).getDouble(1) == 30.0 && rows(2).getDouble(2) == 33.0)
  }

  test("generateCsv: RFC3339 header + aligned cells, empty cells for absent streams") {
    val ua = "u-csv-a"; val ub = "u-csv-b"
    db.createStream(ua, "test/csv", Map("s" -> "a"))
    db.createStream(ub, "test/csv", Map("s" -> "b"))
    insertPoints(ua, Seq((1000L, 10.0), (3000L, 30.0)))
    insertPoints(ub, Seq((2000L, 20.0), (3000L, 33.0)))
    db.flush(ua); db.flush(ub)
    val dir = Files.createTempDirectory("csvout").toString + "/out"
    db.generateCsv(Seq(ua, ub), Seq("a", "b"), 0, 10000, dir)
    val lines = spark.read.option("header", "true").csv(dir).collect()
    assert(lines.length == 3)
    // ns-exact rendering: all nine fractional digits survive and the
    // value round-trips to the original ns Long
    assert(lines(0).getString(0) == "1970-01-01T00:00:00.000001000Z")
    val parsed = java.time.Instant.parse(lines(0).getString(0))
    assert(parsed.getEpochSecond * 1000000000L + parsed.getNano == 1000L)
    assert(lines(0).getString(1) == "10.0" && lines(0).getString(2) == null)
  }

  test("csvTimeRendered is ns-exact across sub-second digits and negatives") {
    val ss = spark
    import ss.implicits._
    val times = Seq(1L, 999999999L, 1500000001L, 1234567891234567891L,
      -1L, -1500000001L)
    val df = times.toDF("time")
    val rendered = db.csvTimeRendered(df).collect().map(_.getString(0))
    times.zip(rendered).foreach { case (ns, s) =>
      val p = java.time.Instant.parse(s)
      assert(p.getEpochSecond * 1000000000L + p.getNano == ns,
        s"$ns rendered as $s")
    }
    assert(rendered(3) == "2009-02-13T23:31:31.234567891Z")
    assert(rendered(4) == "1969-12-31T23:59:59.999999999Z")
  }

  test("generateCsv aligned: four stat columns per stream (reference layout)") {
    val ua = "u-csv-stat"
    db.createStream(ua, "test/csvstat", Map("s" -> "x"))
    insertPoints(ua, Seq((0L, 1.0), (5L, 3.0), (20L, 10.0)))
    db.flush(ua)
    val dir = Files.createTempDirectory("csvstat").toString + "/out"
    db.generateCsv(Seq(ua), Seq("x"), 0, 32, dir, alignedPw = Some(4))
    val df = spark.read.option("header", "true").csv(dir)
    assert(df.columns.toSeq ==
      Seq("time", "x (Min)", "x (Mean)", "x (Max)", "x (Count)"))
    val rows = df.collect().sortBy(_.getString(1).toDouble)
    assert(rows.length == 2)
    assert(rows(0).getString(1).toDouble == 1.0 &&
      rows(0).getString(2).toDouble == 2.0 &&
      rows(0).getString(3).toDouble == 3.0 && rows(0).getString(4) == "2")
    assert(rows(1).getString(1).toDouble == 10.0 &&
      rows(1).getString(4) == "1")
  }

  test("insert validation: NaN/Inf and out-of-domain times rejected") {
    val uuid = "u-valid"
    db.createStream(uuid, "test/valid", Map("t" -> "v"))
    intercept[IllegalArgumentException] {
      insertPoints(uuid, Seq((1L, Double.NaN)))
    }
    intercept[IllegalArgumentException] {
      insertPoints(uuid, Seq((TimeConsts.MaximumTime, 1.0)))
    }
    // a null time or value is invalid too, through insert and insertAll
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val sid = db.sidOf(uuid)
    for (bad <- Seq(Row(sid, 2L, null), Row(sid, null, 3.0))) {
      val rows = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(sid, 1L, 1.0), bad)),
        StructType(Seq(StructField("sid", LongType), StructField("time", LongType),
          StructField("value", DoubleType))))
      intercept[IllegalArgumentException](db.insert(uuid, rows.drop("sid")))
      intercept[IllegalArgumentException](db.insertAll(rows))
    }
    assert(db.version(uuid) == (0L, 0L), "nothing staged or committed")
  }

  test("purgeObliterated reclaims data but keeps the tombstone") {
    import org.apache.spark.sql.functions.col
    // a root of its own: the point count below covers these streams only
    val root = Files.createTempDirectory("purgespec").toString
    val pdb = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 52,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(6, 10))
    try {
      val ua = "u-purge-a"; val ub = "u-purge-b"
      pdb.createStream(ua, "test/purge", Map("s" -> "a"))
      pdb.createStream(ub, "test/purge", Map("s" -> "b"))
      val sidA = pdb.sidOf(ua)
      def put(u: String, pts: Seq[(Long, Double)]): Unit =
        pdb.insert(u, spark.createDataFrame(pts).toDF("time", "value"))
      put(ua, (0L until 300L).map(t => (t, 1.0)))
      pdb.flush(ua)
      put(ub, (0L until 200L).map(t => (t, 2.0)))
      pdb.flush(ub)
      // the purged stream's records stay in this closed archive segment
      assert(pdb.archiveCommitLog(maxFiles = 1))
      pdb.obliterate(ua)
      assert(pdb.purgeObliterated() == Seq(sidA))
      // survivor intact (points + pyramid-served stats)
      assert(pdb.rawValues(ub, 0, 1000).count() == 200)
      assert(pdb.alignedWindows(ub, 0, 256, 8).head().getLong(1) == 200)
      // purged stream's commits and points are gone, and stay gone for a
      // reload of the log and for a fresh attach; a second purge is a no-op
      def gone(e: Btrdb, step: String): Unit = {
        assert(e.commits.filter(col("sid") === sidA).count() == 0, step)
        assert(e.engineInfo().pointCount == 200, step)
        assert(e.purgeObliterated().isEmpty, step)
      }
      gone(pdb, "after the purge")
      pdb.refreshCommits()
      gone(pdb, "after refreshCommits")
      val fresh = Btrdb.attach(spark, root, lockRoot = false)
      try gone(fresh, "after an attach") finally fresh.close()
      // uuid stays reserved forever
      intercept[IllegalArgumentException] {
        pdb.createStream(ua, "test/purge2", Map("s" -> "x"))
      }
    } finally pdb.close()
  }

  test("the commit log answers from the stream states: engineInfo, a reseed and migrate's replay list") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("commitlogjobs").toString
    val e = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 52,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(6, 10))
    try {
      val uuid = "u-log-jobs"
      e.createStream(uuid, "test/logjobs", Map("s" -> "a"))
      val sid = e.sidOf(uuid)
      def put(ts: Seq[Long]): Unit = {
        e.insert(uuid, spark.createDataFrame(ts.map(t => (t, 1.0))).toDF("time", "value"))
        e.flush(uuid)
      }
      def jobs[T](body: => T): Int = org.apache.spark.JobCount(spark.sparkContext)(body)._2.jobs
      put(0L until 100L)
      e.deleteRange(uuid, 10, 20)
      e.engineInfo()
      assert(jobs(e.engineInfo()) == 0, "engineInfo, warm")
      put(100L until 150L)
      assert(jobs(e.engineInfo()) == 0, "engineInfo right after a commit")
      assert(e.engineInfo().pointCount == 150)
      e.refreshCommits()
      assert(jobs(e.stateOf(sid)) == 1, "a reseed with an empty write buffer reads the log once")
      val expected = e.commits.filter(col("sid") === sid).collect().map(CommitRecord.of).toSeq
      assert(expected.map(r => (r.version, r.kind)) == Seq((1L, "insert"), (2L, "delete"), (3L, "insert")))
      val (replay, counts) = org.apache.spark.JobCount(spark.sparkContext)(
        Federation.replayList(e, sid, after = 1L))
      assert(counts.jobs == 0 && replay == expected.drop(1), s"$replay vs $expected")
    } finally e.close()
  }

  test("compact is tbucket-incremental: only delete-debt partitions rewrite") {
    import java.nio.file.{Files => F, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("compactinc").toString
    val cdb = new Btrdb(spark, dir, sBuckets = 2, tBucketPw = 8,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(4, 8),
      pyramidWBucketPw = 12, commitRangePw = 8)
    val uuid = "u-inc"
    cdb.createStream(uuid, "test/inc", Map("t" -> "i"))
    // 4 tbuckets of 256 ns each
    cdb.insert(uuid, spark.createDataFrame(
      (0L until 1024L).map(t => (t, t.toDouble))).toDF("time", "value"))
    cdb.flush(uuid) // v1
    cdb.deleteRange(uuid, 300, 400) // v2 — only tbucket 1 holds debt
    val bucket = cdb.sidOf(uuid) % 2
    def files(tb: Long): List[String] = {
      val p = Paths.get(s"$dir/points/sbucket=$bucket/tbucket=$tb")
      if (!F.exists(p)) Nil
      else {
        val s = F.list(p)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toList.sorted
        finally s.close()
      }
    }
    val before = (0L to 3L).map(files)
    assert(before.forall(_.nonEmpty))
    cdb.compact(uuid)
    val after1 = (0L to 3L).map(files)
    // only the delete-intersecting tbucket was rewritten (parquet part
    // files get fresh names on rewrite)
    assert(after1(0) == before(0) && after1(2) == before(2) &&
      after1(3) == before(3), "clean tbuckets must not rewrite")
    assert(after1(1) != before(1), "debt tbucket must rewrite")
    assert(cdb.rawValues(uuid, 0, 2048).count() == 924)
    // re-running compact with no debt touches NOTHING (stats-only pass)
    cdb.compact(uuid)
    assert((0L to 3L).map(files) == after1, "idempotent re-run rewrote files")
    // pin below the compacted floor reads empty (history collapsed),
    // pin at/above it reads the full snapshot
    assert(cdb.pointsAt(uuid, version = 1).count() == 0)
    assert(cdb.pointsAt(uuid, version = 2).count() == 924)
    // a delete draining one whole tbucket removes just that directory
    cdb.deleteRange(uuid, 512, 768) // exactly tbucket 2
    cdb.compact(uuid)
    val after2 = (0L to 3L).map(files)
    assert(after2(2).isEmpty, "drained tbucket directory must be deleted")
    assert(after2(0) == after1(0) && after2(1) == after1(1) &&
      after2(3) == after1(3))
    assert(cdb.rawValues(uuid, 0, 2048).count() == 668)
    assert(cdb.alignedWindows(uuid, 0, 1024, 8).collect()
      .map(_.getLong(1)).sum == 668)
    cdb.close()
  }

  test("obliterate: stream disappears from lookups; uuid cannot be recreated") {
    db.createStream("u-obl", "test/obl", Map("t" -> "o"))
    db.obliterate("u-obl")
    assert(db.lookupStreams("test/obl").count() == 0)
    intercept[IllegalArgumentException] {
      db.createStream("u-obl", "test/obl2", Map("t" -> "o2"))
    }
  }

  test("flush touches only the flushed stream's staging partition") {
    import java.nio.file.{Files => F, Paths}
    import scala.jdk.CollectionConverters._
    val ua = "u-flix-a"; val ub = "u-flix-b"
    val sa = db.createStream(ua, "test/flix", Map("s" -> "a"))
    val sb = db.createStream(ub, "test/flix", Map("s" -> "b"))
    insertPoints(ua, Seq((1L, 1.0), (2L, 2.0)))
    insertPoints(ub, Seq((3L, 3.0)))
    val rootDir = db.root.stripPrefix("file:")
    def filesOf(sid: Long) = {
      val p = Paths.get(s"$rootDir/staging/sid=$sid")
      val s = F.walk(p)
      try s.iterator().asScala.filter(F.isRegularFile(_))
        .map(f => (f.toString, F.getLastModifiedTime(f), F.size(f))).toList.sorted
      finally s.close()
    }
    val bBefore = filesOf(sb)
    assert(bBefore.nonEmpty)
    db.flush(ua)
    // stream A's staging partition is gone; B's files byte-identical
    assert(!F.exists(Paths.get(s"$rootDir/staging/sid=$sa")))
    assert(filesOf(sb) == bBefore)
    // B's buffer still reads back; A committed
    assert(db.version(ub)._2 == 1L)
    assert(db.rawValues(ua, 0, 10).count() == 2)
    assert(db.rawValues(ub, 0, 10).count() == 1)
    db.flush(ub)
  }

  test("interrupted flush recovers without duplicating points") {
    import java.nio.file.{Files => F, Paths}
    import scala.jdk.CollectionConverters._
    val uuid = "u-crash-flush"
    db.createStream(uuid, "test/crashflush", Map("t" -> "cf"))
    insertPoints(uuid, Seq((1L, 1.0), (2L, 2.0))) // staged under batch=B
    val sid = db.sidOf(uuid)
    val stagedDir = Paths.get(s"${db.root.stripPrefix("file:")}/staging/sid=$sid")
    // snapshot the staged partition (we'll re-plant it below)
    val backup = F.createTempDirectory("flush-crash")
    val walk = F.walk(stagedDir)
    try walk.iterator().asScala.foreach { p =>
      val t = backup.resolve(stagedDir.relativize(p).toString)
      if (F.isDirectory(p)) F.createDirectories(t)
      else F.copy(p, t)
    } finally walk.close()
    db.flush(uuid) // commit written, staging cleared
    assert(db.version(uuid) == (1L, 0L))
    // crash simulation: the staging partition reappears as if the
    // post-commit delete never ran
    val walkB = F.walk(backup)
    try walkB.iterator().asScala.foreach { p =>
      val t = stagedDir.resolve(backup.relativize(p).toString)
      if (F.isDirectory(p)) F.createDirectories(t)
      else F.copy(p, t)
    } finally walkB.close()
    db.refreshStaging()
    // recovery (batch id recorded in the flush commit) drops the
    // re-surfaced batch instead of re-flushing it as duplicates
    assert(db.version(uuid) == (1L, 0L))
    assert(db.rawValues(uuid, 0, 10).count() == 2)
  }

  test("flushAll: the PQM scanner analog flushes aged buffers, leaves young ones") {
    val ua = "u-scan-a"; val ub = "u-scan-b"
    db.createStream(ua, "test/scan", Map("s" -> "a"))
    db.createStream(ub, "test/scan", Map("s" -> "b"))
    insertPoints(ua, Seq((1L, 1.0)))
    insertPoints(ub, Seq((2L, 2.0)))
    assert(db.version(ua)._2 == 1 && db.version(ub)._2 == 1)
    // young buffers below the commit threshold: an 8h age bar flushes none
    assert(db.flushAll(maxAgeMillis = 8L * 3600 * 1000).isEmpty)
    assert(db.version(ua)._2 == 1)
    // age bar 0 = drain everything staged
    val flushed = db.flushAll(maxAgeMillis = 0)
    assert(flushed.toSet == Set(ua, ub))
    assert(db.version(ua)._2 == 0 && db.version(ub)._2 == 0)
    assert(db.rawValues(ua, 0, 10).count() == 1)
  }

  test("a warm deleteRange and flushAll run no query over the catalog") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val uuid = "u-nocat"
    db.createStream(uuid, "test/nocat", Map("s" -> "n"))
    insertPoints(uuid, (0L until 256L).map(t => (t, 1.0)))
    db.flushAll(maxAgeMillis = 0)
    // a delete recomputes the stream's rollup from the point log
    assert(db.alignedWindows(uuid, 0, 256, 6).queryExecution.executedPlan
      .toString.contains("/pyramid"), "the stream is pyramid-served")
    db.deleteRange(uuid, 10, 20) // warm-up
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def watched[T](body: => T): T = {
      spark.listenerManager.register(listener)
      try org.apache.spark.JobCount(spark.sparkContext)(body)._1
      finally spark.listenerManager.unregister(listener)
    }
    watched(db.deleteRange(uuid, 30, 40))
    insertPoints(uuid, Seq((300L, 2.0)))
    assert(watched(db.flushAll(maxAgeMillis = 0)) == Seq(uuid))
    assert(plans.nonEmpty)
    assert(!plans.exists(_.contains(s"${db.root}/catalog")),
      plans.filter(_.contains("/catalog")).mkString("\n"))
  }

  test("multiAlign beyond the join threshold: pivot plan with bounded shuffles") {
    val us = (0 until 64).map(i => f"u-pv-$i%02d")
    db.createStreams(us.map(u => (u, "test/pivot", Map("n" -> u))))
    // stage interleaved points on 9 streams (> MultiAlignJoinMaxK = 8;
    // no flush needed — latest reads merge the buffer)
    (0 until 9).foreach { i =>
      insertPoints(us(i), Seq((i.toLong, i * 10.0), (500L, i * 1.0)))
    }
    val rows = db.multiAlign(us.take(9), 0, 1000).collect()
    assert(rows.length == 10) // 9 lone instants + the shared t=500
    (0 until 9).foreach { i =>
      assert(rows(i).getLong(0) == i && rows(i).getDouble(1 + i) == i * 10.0)
      (0 until 9).foreach(j => if (j != i) assert(rows(i).isNullAt(1 + j)))
    }
    assert((0 until 9).forall(i => rows(9).getDouble(1 + i) == i * 1.0))
    // k=64: the union+pivot form keeps shuffles BOUNDED — the join
    // chain would be 63 sequential exchanges
    val plan = db.multiAlign(us, 0, 1000).queryExecution.executedPlan.toString()
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 3, s"pivot plan scales shuffles with k ($exchanges)")
  }

  test("metadata validation: reference limits table enforced") {
    // key regex ^[a-z][a-z0-9_.]*$ (metaprovider.go:27)
    intercept[IllegalArgumentException] {
      db.createStream("u-val-1", "val/a", Map("Phase" -> "L1"))
    }
    intercept[IllegalArgumentException] {
      db.createStream("u-val-2", "val/a", Map("9lives" -> "x"))
    }
    // key length < 64, tag value non-empty and < 256
    intercept[IllegalArgumentException] {
      db.createStream("u-val-3", "val/a", Map("k" * 64 -> "x"))
    }
    intercept[IllegalArgumentException] {
      db.createStream("u-val-4", "val/a", Map("k" -> ""))
    }
    intercept[IllegalArgumentException] {
      db.createStream("u-val-5", "val/a", Map("k" -> "v" * 256))
    }
    // annotation value may be empty but key must validate
    intercept[IllegalArgumentException] {
      db.createStream("u-val-6", "val/a", Map("k" -> "v"), Map("BAD" -> ""))
    }
    db.createStream("u-val-7", "val/a",
      Map("phase.l1_x" -> "ok"), Map("note" -> ""))
    intercept[IllegalArgumentException] { // CAS path validates too
      db.setAnnotations("u-val-7", 0L, Map("Bad.Key" -> "x"))
    }
    // collection: non-empty, < 256
    intercept[IllegalArgumentException] {
      db.createStream("u-val-8", "", Map("k" -> "v"))
    }
    intercept[IllegalArgumentException] {
      db.createStream("u-val-9", "c" * 256, Map("k" -> "v"))
    }
  }

  test("createStreams rejects duplicate uuid within a batch") {
    intercept[IllegalArgumentException] {
      db.createStreams(Seq(
        ("u-dupu", "dup/a", Map("i" -> "1")),
        ("u-dupu", "dup/b", Map("i" -> "2"))))
    }
  }

  test("engineInfo: build/version surface with stream and point counts") {
    val info = db.engineInfo()
    assert(info.healthy && info.majorVersion == 4)
    assert(info.streamCount > 0 && info.streamCount ==
      db.catalog.filter(!org.apache.spark.sql.functions.col("tombstoned")).count())
    assert(info.pointCount > 0)
    // admission pool gauges ride along (idle here: nothing in flight)
    assert(info.pools.keySet ==
      Set(Admission.Write, Admission.Maintenance, Admission.PointOp))
    assert(info.pools.values.forall(g => g.size > 0 && g.inUse == 0 && g.queued == 0))
  }

  test("catalog rewrites are versioned behind an atomic pointer") {
    import java.nio.file.{Files => F, Paths}
    val rootDir = db.root.stripPrefix("file:")
    db.createStream("u-ptr-1", "ptr/a", Map("k" -> "1"))
    db.setAnnotations("u-ptr-1", 0L, Map("o" -> "x")) // rewrite → catalog_v/N
    val ptr = Paths.get(s"$rootDir/catalog_CURRENT")
    assert(F.exists(ptr))
    val v1 = new String(F.readAllBytes(ptr), "UTF-8").trim.toLong
    assert(F.exists(Paths.get(s"$rootDir/catalog_v/$v1")))
    // appends land in the pointed-at dir; a further rewrite advances it
    db.createStream("u-ptr-2", "ptr/b", Map("k" -> "2"))
    db.obliterate("u-ptr-2")
    val v2 = new String(F.readAllBytes(ptr), "UTF-8").trim.toLong
    assert(v2 == v1 + 1)
    assert(F.exists(Paths.get(s"$rootDir/catalog_v/$v2")))
    // superseded generations are RETAINED (bounded GC) so registered
    // views reading them degrade to stale, never to FILE_NOT_EXIST
    assert(F.exists(Paths.get(s"$rootDir/catalog_v/$v1")))
    assert(db.lookupStreams("ptr/").count() == 1)
    assert(db.catalog.filter(
      org.apache.spark.sql.functions.col("uuid") === "u-ptr-1")
      .head().getAs[scala.collection.Map[String, String]]("annotations")("o") == "x")
  }

  test("a registered catalog view survives metadata rewrites (stale, not broken)") {
    import org.apache.spark.sql.functions.col
    db.createStream("u-view-1", "view/a", Map("k" -> "1"))
    db.createStream("u-view-2", "view/b", Map("k" -> "2"))
    db.registerViews("stale")
    val before = spark.sql("SELECT count(*) FROM stale_catalog").head().getLong(0)
    // every class of catalog rewrite: annotation CAS and obliterate
    db.setAnnotations("u-view-1", 0L, Map("note" -> "x"))
    db.obliterate("u-view-2")
    // the captured view still answers — the generation it reads is
    // retained; its content is the registration-time snapshot
    assert(spark.sql("SELECT count(*) FROM stale_catalog").head()
      .getLong(0) == before)
    // re-registration sees the current truth
    db.registerViews("stale")
    assert(spark.sql("SELECT count(*) FROM stale_catalog")
      .head().getLong(0) == before - 1)
    assert(spark.sql(
      "SELECT count(*) FROM stale_catalog WHERE uuid = 'u-view-2'")
      .head().getLong(0) == 0L)
  }

  test("annotations: CAS update bumps version, stale CAS rejected") {
    db.createStream("u-ann", "test/ann", Map("t" -> "a"), Map("owner" -> "alice"))
    db.setAnnotations("u-ann", 0L, Map("owner" -> "bob"))
    val r = db.catalog.filter(org.apache.spark.sql.functions.col("uuid") === "u-ann").head()
    assert(r.getAs[scala.collection.Map[String, String]]("annotations")("owner") == "bob")
    assert(r.getAs[Long]("annotationVersion") == 1L)
    intercept[IllegalArgumentException] {
      db.setAnnotations("u-ann", 0L, Map("owner" -> "carol"))
    }
    // None removes the key (the reference's nil-value change semantics)
    db.updateAnnotations("u-ann", 1L,
      Map("owner" -> None, "team" -> Some("grid")))
    val r2 = db.catalog.filter(org.apache.spark.sql.functions.col("uuid") === "u-ann").head()
    val anns = r2.getAs[scala.collection.Map[String, String]]("annotations")
    assert(!anns.contains("owner") && anns("team") == "grid")
    assert(r2.getAs[Long]("annotationVersion") == 2L)
  }

  test("superseded catalog generations GC down to the retention bound") {
    import java.nio.file.{Files => F, Paths}
    val rootDir = db.root.stripPrefix("file:")
    db.createStream("u-gc", "gc/a", Map("t" -> "1"))
    val swings = Btrdb.RetainedCatalogGenerations.toInt + 3
    (0 until swings).foreach { i =>
      db.setAnnotations("u-gc", i.toLong, Map("n" -> i.toString))
    }
    val ptr = Paths.get(s"$rootDir/catalog_CURRENT")
    val cur = new String(F.readAllBytes(ptr), "UTF-8").trim.toLong
    val dirs = F.list(Paths.get(s"$rootDir/catalog_v")).iterator()
    var kept = List.empty[Long]
    while (dirs.hasNext) kept ::= dirs.next().getFileName.toString.toLong
    assert(kept.size <= Btrdb.RetainedCatalogGenerations + 1,
      s"retention bound exceeded: ${kept.size} generations on disk")
    assert(kept.max == cur)
    assert(kept.min > cur - Btrdb.RetainedCatalogGenerations - 1)
    // the pre-versioning layout is gone once the floor passed it
    assert(!F.exists(Paths.get(s"$rootDir/catalog")))
    assert(db.lookupStreams("gc/").count() == 1)
  }

  test("two writers inserting and flushing one stream commit every acked point exactly once") {
    import org.apache.spark.sql.functions.col
    val uuid = "u-two-writers"
    db.createStream(uuid, "test/twowriters", Map("t" -> "w"))
    val sid = db.sidOf(uuid)
    // writer w's round k inserts 16 points at its own disjoint times,
    // then flushes: the two writers' flushes race on one write buffer
    val (rounds, batch) = (10, 16L)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writers = (0 until 2).map { w =>
      new Thread(() =>
        try for (k <- 0 until rounds) {
          val base = (2L * k + w) * batch
          insertPoints(uuid, (0L until batch).map(i => (base + i, w.toDouble)))
          db.flush(uuid)
        } catch { case e: Throwable => failures.add(e) })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(failures.isEmpty, s"a writer failed: ${failures.peek()}")
    val times = db.rawValues(uuid, 0, 1L << 20).collect().map(_.getLong(0)).toSeq
    assert(times == (0L until 2L * rounds * batch), "acked points lost or repeated")
    val versions = db.commits.filter(col("sid") === sid)
      .select("version").collect().map(_.getLong(0)).toSeq
    assert(versions.distinct.size == versions.size, s"a commit version repeats: $versions")
    assert(versions.size == db.version(uuid)._1)
  }

  test("a fresh attach seeds the same state as the live handle after every kind of commit") {
    val root = Files.createTempDirectory("seedlive").toString
    val live = new Btrdb(spark, root, sBuckets = 2, tBucketPw = 8,
      bufferCommitThreshold = 64, pyramidLevels = Seq(4, 8),
      pyramidWBucketPw = 12, commitRangePw = 8)
    val (ua, ub) = ("u-seed-a", "u-seed-b")
    live.createStream(ua, "test/seed", Map("s" -> "a"))
    live.createStream(ub, "test/seed", Map("s" -> "b"))
    def put(uuid: String, ts: Seq[Long], v: Double): Unit =
      live.insert(uuid, spark.createDataFrame(ts.map(t => (t, v))).toDF("time", "value"))
    def same(step: String): Unit = {
      val fresh = Btrdb.attach(spark, root, lockRoot = false)
      try {
        // reading the watermarks fills them into both handles' states
        val sids = live.snapshot().keySet ++ fresh.snapshot().keySet
        sids.foreach { sid => live.pyramidCurrent(sid); fresh.pyramidCurrent(sid) }
        assert(fresh.snapshot() == live.snapshot(), step)
        for (u <- Seq(ua, ub) if live.lookupStreams("test/seed")
            .filter(org.apache.spark.sql.functions.col("uuid") === u).count() > 0;
            t <- Seq(10L, 300L); back <- Seq(true, false))
          assert(fresh.nearestProbed(u, t, back) == live.nearestProbed(u, t, back),
            s"$step: nearest($t, backward = $back) of $u")
      } finally fresh.close()
    }
    // the handle's first write stages through insertAll, before any read
    live.insertAll(spark.createDataFrame((5L until 9L).map(t => (live.sidOf(ub), t, 2.0)))
      .toDF("sid", "time", "value"))
    put(ua, 0L until 100L, 1.0); same("insert")
    put(ua, 200L until 210L, 0.123); same("staged insert")
    live.flush(ua); same("flush")
    live.deleteRange(ua, 20, 60); same("deleteRange")
    live.compact(ua); same("compact with survivors")
    live.deleteRange(ua, 0, 1000); live.compact(ua); same("delete-all plus compact")
    live.obliterate(ua); live.purgeObliterated(); same("obliterate plus purge")
    live.close()
  }

  test("every point-log and write-buffer file is sorted by (sid, time)") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("sorted").toString
    val e = new Btrdb(spark, root, sBuckets = 2, tBucketPw = 10,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(6))
    val us = Seq("u-sort-a", "u-sort-b", "u-sort-c")
    us.foreach(u => e.createStream(u, "test/sorted", Map("s" -> u)))
    val sids = us.map(e.sidOf)
    /** Each parquet file under `area`, its rows in file order. */
    def files(area: String, cols: String*): Seq[(String, Seq[Seq[Long]])] = {
      val s = Files.walk(java.nio.file.Paths.get(root, area))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList.map { f =>
        f.toString -> spark.read.parquet(f.toString).select(cols.head, cols.tail: _*)
          .collect().toSeq.map(r => cols.indices.map(r.getLong))
      } finally s.close()
    }
    def sorted(rows: Seq[Seq[Long]]): Boolean =
      rows.sliding(2).forall {
        case Seq(x, y) => x.zip(y).find { case (a, b) => a != b }.forall { case (a, b) => a < b }
        case _ => true
      }
    // every stream's points in one frame, in descending time order
    e.insertAll(spark.createDataFrame(
      for (t <- 2999L to 0L by -3; sid <- sids) yield (sid, t, t * 0.5))
      .toDF("sid", "time", "value"))
    // a backfill below the staged range, also descending
    e.insert(us.head, spark.createDataFrame((999L to 500L by -7).map(t => (t - 2000, 1.0)))
      .toDF("time", "value"))
    files("staging", "time").foreach { case (f, rows) =>
      assert(sorted(rows), s"staged file $f is not time-sorted") }
    assert(e.flushAll(0).toSet == us.toSet) // several staged batches per stream
    e.deleteRange(us(1), 100, 700)
    e.compact(us(1)) // the point-log rewriter
    val points = files("points", "sid", "time")
    assert(points.map(_._2.size).sum == 3 * 1000 + 72 - 200)
    points.foreach { case (f, rows) => assert(sorted(rows), s"point file $f is not sorted") }
    e.close()
  }
}
