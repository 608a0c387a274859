package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StreamingIngestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  test("streaming ingest lands valid points in staging, rejects bad ones, journals batches") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val root = Files.createTempDirectory("stream-root").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString

    val mem = MemoryStream[(Long, Long, Double)]
    val q = StreamingIngest.attach(
      mem.toDF().toDF("sid", "time", "value"), root, ckpt)
    mem.addData((1L, 100L, 1.5), (1L, 200L, 2.5), (2L, 100L, 9.0))
    q.processAllAvailable()
    mem.addData((1L, 300L, Double.NaN)) // rejected, not fatal
    mem.addData((1L, 400L, 4.0))
    q.processAllAvailable()
    q.stop()

    val staged = spark.read.parquet(s"$root/staging")
    assert(staged.count() == 4)
    assert(staged.filter($"sid" === 1).count() == 3)
    val rejects = spark.read.parquet(s"$root/rejects")
    assert(rejects.count() == 1 && rejects.head().getLong(1) == 300L)
    // journal = one O(1) marker file per committed batch
    val markers = Files.list(java.nio.file.Paths.get(s"$root/journal"))
      .iterator()
    var nMarkers = 0
    while (markers.hasNext) { markers.next(); nMarkers += 1 }
    assert(nMarkers >= 2)
  }

  test("a row with a null time or value goes to rejects, not staging") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("stream-nulls").toString
    val pts = Seq[(Long, java.lang.Long, java.lang.Double)](
      (1L, 100L, 1.0), (1L, 200L, null), (1L, null, 3.0))
      .toDF("sid", "time", "value")
    StreamingIngest.ingestBatch(pts, 3L, root)
    assert(spark.read.parquet(s"$root/staging").count() == 1)
    assert(spark.read.parquet(s"$root/rejects").count() == 2)
  }

  test("batch replay is idempotent: marker short-circuits, partial batch overwrites") {
    val ss = spark
    import ss.implicits._
    val root = Files.createTempDirectory("stream-replay").toString
    val pts = Seq((1L, 100L, 1.0), (1L, 200L, 2.0), (2L, 100L, 9.0))
      .toDF("sid", "time", "value")
    StreamingIngest.ingestBatch(pts, 7L, root)
    assert(spark.read.parquet(s"$root/staging").count() == 3)
    // committed replay: marker exists, nothing re-ingested
    StreamingIngest.ingestBatch(pts, 7L, root)
    assert(spark.read.parquet(s"$root/staging").count() == 3)
    // crash-before-marker replay: delete the marker (simulating a failure
    // after the staging write), replay the batch — dynamic partition
    // overwrite REPLACES batch=7's partitions instead of appending
    Files.delete(java.nio.file.Paths.get(s"$root/journal/batch-7"))
    StreamingIngest.ingestBatch(pts, 7L, root)
    assert(spark.read.parquet(s"$root/staging").count() == 3)
    // and a different batch appends alongside
    StreamingIngest.ingestBatch(
      Seq((3L, 50L, 5.0)).toDF("sid", "time", "value"), 8L, root)
    assert(spark.read.parquet(s"$root/staging").count() == 4)
  }

  test("streaming feeds the engine: staged rows visible on latest reads, flush commits") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val root = Files.createTempDirectory("stream-engine").toString
    val ckpt = Files.createTempDirectory("stream-engine-ckpt").toString
    val db = new graft.engine.Btrdb(spark, root, sBuckets = 4, tBucketPw = 52,
      pyramidLevels = Seq(8))
    val sid = db.createStream("u-stream", "live/ingest", Map("src" -> "mem"))

    val mem = MemoryStream[(Long, Long, Double)]
    val q = StreamingIngest.attach(mem.toDF().toDF("sid", "time", "value"), root, ckpt)
    mem.addData((sid, 100L, 1.0), (sid, 200L, 2.0))
    q.processAllAvailable()
    q.stop()

    db.refreshStaging() // external writer appended to staging
    assert(db.version("u-stream") == (0L, 2L)) // staged, not committed
    assert(db.rawValues("u-stream", 0, 1000).count() == 2) // read-your-writes
    db.flush("u-stream")
    assert(db.version("u-stream") == (1L, 0L))
    assert(db.rawValues("u-stream", 0, 1000, version = 1).count() == 2)
  }

  test("event time uses exact integer ns->us division at epoch scale") {
    val ss = spark
    import ss.implicits._
    // 2^60 ns / 1000 = 1152921504606846.976 us: float division rounds the
    // quotient UP to ...847, integer `div` truncates to ...846
    val t = 1L << 60
    val got = Seq(Tuple1(t)).toDF("time")
      .select(org.apache.spark.sql.functions.unix_micros(
        StreamingIngest.eventTimeMicros).as("us"))
      .head().getLong(0)
    assert(got == t / 1000)
  }

  test("running per-stream stats: stateful fold across micro-batches") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[(Long, Long, Double)]
    val out = StreamingIngest.runningStats(
      mem.toDF().toDF("sid", "time", "value"))
    val q = out.toDF().writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    mem.addData((1L, 100L, 2.0), (1L, 200L, 4.0), (2L, 50L, 9.0))
    q.processAllAvailable()
    mem.addData((1L, 300L, 6.0)) // second batch folds into batch-1 state
    q.processAllAvailable()
    q.stop()
    // latest state per stream = last emitted row
    val latest = spark.table("running").collect()
      .groupBy(_.getLong(0)).map { case (sid, rows) =>
        sid -> rows.maxBy(_.getLong(1)) }
    val s1 = latest(1L)
    assert(s1.getLong(1) == 3 && s1.getLong(2) == 100 && s1.getLong(3) == 300)
    assert(s1.getDouble(4) == 2.0 && s1.getDouble(5) == 6.0 && s1.getDouble(6) == 12.0)
    val s2 = latest(2L)
    assert(s2.getLong(1) == 1 && s2.getDouble(4) == 9.0)
  }

  test("windowed stat stream emits exact ns window starts") {
    val ss = spark
    implicit val sqlCtx = ss.sqlContext
    import ss.implicits._
    val mem = MemoryStream[(Long, Long, Double)]
    val out = StreamingIngest.statStream(
      mem.toDF().toDF("sid", "time", "value"), pw = 30, lateness = "0 seconds")
    val q = out.writeStream.format("memory").queryName("stats")
      .outputMode("append").start()
    // two points in one 2^30-ns (~1.07 s) window, one in the next,
    // then a point far ahead to close the earlier windows' watermark
    val w0 = 0L
    val w1 = 1L << 30
    mem.addData((1L, w0 + 10L, 1.0), (1L, w0 + 20L, 3.0), (1L, w1 + 5L, 7.0))
    q.processAllAvailable()
    mem.addData((1L, (100L << 30) + 1L, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = StreamingIngest.combinePartials(spark.table("stats"))
      .orderBy("wstart").collect()
    assert(rows.length >= 2)
    assert(rows(0).getLong(1) == w0 && rows(0).getLong(2) == 2
      && rows(0).getDouble(4) == 2.0) // wstart, cnt, mean
    assert(rows(1).getLong(1) == w1 && rows(1).getLong(2) == 1)
  }
}
