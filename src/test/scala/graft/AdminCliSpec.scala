package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Btrdb
import graft.etl.DedupState

/** The operator console ([[AdminCli]]): every maintenance command an
  * operator needs runs against real roots and reports a JSON line —
  * the reference ships this surface as a CLI plugin, so the engine
  * owes its operators the same reach without an sbt console. */
class AdminCliSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("admin-cli-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def run(args: String*): String =
    AdminCli.run(args.toArray, () => spark)

  test("engine commands: info, stream, compact, repair, purge") {
    val ss = spark; import ss.implicits._
    val root = Files.createTempDirectory("admin-cli-engine-").toString
    // NON-default geometry, exercised where it bites: the stream under
    // maintenance has sid ≥ sBuckets (sid%4 ≠ sid%64) and timestamps
    // where tbucket(pw=44) ≠ tbucket(pw=48) — a console opening at
    // constructor defaults instead of the root's GEOMETRY stamp would
    // compact the WRONG sbucket dir (finding nothing, superseding the
    // real history with a 0-point record); the reads-unchanged assert
    // below is the regression gate for exactly that
    val writer = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 44,
      pyramidLevels = Seq(20, 30))
    (0 until 5).foreach(k =>
      writer.createStream(s"admin-uuid-$k", "ops/a", Map("k" -> k.toString)))
    val uuid = "admin-uuid-4" // sid 4: 4%4=0 but 4%64=4
    val base = 1L << 50
    val pts = (0L until 4096L).map(i => (base + i * 1000L, i.toDouble))
      .toDF("time", "value")
    writer.insert(uuid, pts)
    writer.flush(uuid)
    writer.insert(uuid, Seq((base + 5000000L, 1.0)).toDF("time", "value"))
    writer.flush(uuid)
    // a data-bearing stream to obliterate: purge only reclaims sids
    // that actually hold committed/staged points
    writer.insert("admin-uuid-0", Seq((base, 7.0)).toDF("time", "value"))
    writer.flush("admin-uuid-0")
    writer.obliterate("admin-uuid-0") // reclaimed by the purge below

    // read-only commands attach (at the persisted geometry) while the
    // writer still holds the root lock
    val info = run("info", root)
    assert(info.contains(""""op":"info"""") &&
      info.contains(""""streams":4""") &&
      info.contains(""""geometry":"sb=4 tb=44 pl=20,30 wb=54 ql=-"""") &&
      info.contains(""""reads":{"aligned":{"reads":0,"points":0},""") &&
      info.contains(""""ops/a""""), info)
    val si = run("stream", root, uuid)
    assert(si.contains(s""""uuid":"$uuid"""") &&
      si.contains(""""major":2"""), si)

    // mutating commands take the lock: quiesce the writer first
    val before = writer.rawValues(uuid, 0, Long.MaxValue / 2).count()
    writer.close()
    val c = run("compact", root, uuid)
    assert(c.contains(""""op":"compact""""), c)
    val reader = Btrdb.attach(spark, root, lockRoot = false)
    assert(reader.rawValues(uuid, 0, Long.MaxValue / 2).count() === before)
    val rep = run("repair", root, uuid)
    assert(rep.contains(""""op":"repair"""), rep)
    // purge reclaims the obliterated stream (sid 0)
    val purged = run("purge", root)
    assert(purged.contains(""""purged_sids":[0]"""), purged)

    // a forgotten operand dies on the usage line, not an index error
    val e = intercept[IllegalArgumentException](run("compact", root))
    assert(e.getMessage.contains("operand"), e.getMessage)
  }

  test("info pages the stream listing: bounded output + cursor continuation") {
    val root = Files.createTempDirectory("admin-cli-page-").toString
    val writer = new Btrdb(spark, root)
    (0 until 7).foreach(k =>
      writer.createStream(f"pg-uuid-$k%02d", "pg/a", Map("k" -> k.toString)))
    writer.close()

    // a page-size operand pages the listing exactly as the 10k cap
    // would on a >10k catalog: the console must never collect a
    // million-stream root into one JSON line
    def uuidsOf(json: String): Seq[String] =
      """"uuid":"(pg-uuid-\d+)"""".r.findAllMatchIn(json)
        .map(_.group(1)).toSeq
    def cursorOf(json: String): Option[String] =
      """"stream_cursor":"([^"]+)"""".r.findFirstMatchIn(json)
        .map(_.group(1))
    val p1 = run("info", root, "", "", "3")
    assert(uuidsOf(p1).size === 3 && cursorOf(p1).isDefined, p1)
    val p2 = run("info", root, "", cursorOf(p1).get, "3")
    assert(uuidsOf(p2).size === 3 && cursorOf(p2).isDefined, p2)
    val p3 = run("info", root, "", cursorOf(p2).get, "3")
    assert(uuidsOf(p3).size === 1 && cursorOf(p3).isEmpty, p3)
    // the pages tile the catalog exactly: no overlap, no loss
    assert((uuidsOf(p1) ++ uuidsOf(p2) ++ uuidsOf(p3)).sorted ===
      (0 until 7).map(k => f"pg-uuid-$k%02d"))
    // an un-paged call on a small catalog lists everything, no cursor
    val all = run("info", root)
    assert(uuidsOf(all).size === 7 && cursorOf(all).isEmpty, all)
    // garbage page size dies loudly, not as a silent full collect
    intercept[IllegalArgumentException](run("info", root, "", "", "zero"))
  }

  test("stamp-geometry: in-product migration for a pre-stamp root") {
    val ss = spark; import ss.implicits._
    val root = Files.createTempDirectory("admin-cli-stamp-").toString
    val writer = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 44,
      pyramidLevels = Seq(20, 30))
    writer.createStream("stamp-uuid", "st/a", Map.empty)
    val base = 1L << 50
    writer.insert("stamp-uuid",
      (0L until 256L).map(i => (base + i * 1000L, i.toDouble))
        .toDF("time", "value"))
    writer.flush("stamp-uuid")
    writer.close()
    // simulate a root written before geometry stamps existed
    val st = new graft.storage.Store(root, spark.sessionState.newHadoopConf())
    st.delete(Btrdb.GeometryFile)
    val refuse = intercept[IllegalArgumentException](
      Btrdb.attach(spark, root, lockRoot = false))
    assert(refuse.getMessage.contains("stamp-geometry"), refuse.getMessage)

    // the operator supplies the constructor args the root was built
    // with; the locking open stamps, after which attach works
    val out = run("stamp-geometry", root, "4", "44", "20,30", "54", "-")
    assert(out.contains(""""stamped":true""") &&
      out.contains(""""geometry":"sb=4 tb=44 pl=20,30 wb=54 ql=-""""), out)
    val reader = Btrdb.attach(spark, root, lockRoot = false)
    assert(reader.rawValues("stamp-uuid", 0, Long.MaxValue / 2).count()
      === 256L)

    // idempotent on a stamped root with matching args …
    val again = run("stamp-geometry", root, "4", "44", "20,30", "54", "-")
    assert(again.contains(""""stamped":false"""), again)
    // … and a WRONG guess refuses instead of re-stamping: that guess
    // is exactly the wrong-geometry corruption attach exists to stop
    val bad = intercept[IllegalArgumentException](
      run("stamp-geometry", root, "8", "48", "20,30", "54", "-"))
    assert(bad.getMessage.contains("geometry"), bad.getMessage)
    assert(st.readString(Btrdb.GeometryFile).map(_.trim)
      .contains("sb=4 tb=44 pl=20,30 wb=54 ql=-"))
    // malformed operands die on parse, before any session/lock work
    intercept[IllegalArgumentException](
      run("stamp-geometry", root, "x", "44", "20,30", "54", "-"))
  }

  test("store commands: status and compaction over a real dedup root") {
    val ss = spark; import ss.implicits._
    val prefixBands: DataFrame => DataFrame = docs =>
      docs.select(col("doc_id"), substring(col("text"), 1, 3).as("bkey"))
    val root = Files.createTempDirectory("admin-cli-store-").toString
    val st = new DedupState(spark, root, prefixBands)
    st.update(Seq((1L, "AAA one"), (2L, "AAA two")).toDF("doc_id", "text"))
    st.update(Seq((3L, "BBB three")).toDF("doc_id", "text"))

    // status is pure metadata (no Spark needed): pointer + META +
    // per-live-version manifests
    val status = run("store-status", root)
    assert(status.contains(""""version":2""") &&
      status.contains(""""base":1""") &&
      status.contains(""""live_versions":2""") &&
      status.contains("maxBucket="), status)

    // compaction through the CLI: span collapses to 1, reads unchanged
    val before = st.docClusters().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = run("store-compact", "dedup", root)
    assert(out.contains(""""op":"store-compact"""") &&
      out.contains(""""version":3"""), out)
    val reopened = graft.etl.EtlViews.openDedup(spark, root)
    assert(reopened.liveVersionSpan === 1L)
    assert(reopened.docClusters().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === before)

    // unknown commands/kinds refuse loudly
    intercept[IllegalArgumentException](run("store-compact", "nope", root))
    intercept[IllegalArgumentException](run("frobnicate"))

    // a created-but-never-folded root statuses as an EMPTY store
    // (META arrives on first use, not at construction) — only a
    // nonexistent path is an error
    val fresh = Files.createTempDirectory("admin-cli-fresh-").toString
    val empty = run("store-status", fresh)
    assert(empty.contains(""""version":0""") &&
      empty.contains(""""pointer_ok":true"""), empty)
    val e = intercept[IllegalArgumentException](
      run("store-status", fresh + "/nope"))
    assert(e.getMessage.contains("no such store root"), e.getMessage)
  }

  test("store-fold: console-driven federation fold over member deltas") {
    val ss = spark; import ss.implicits._
    val prefixBands: DataFrame => DataFrame = docs =>
      docs.select(col("doc_id"), substring(col("text"), 1, 3).as("bkey"))
    def member() = new DedupState(spark,
      Files.createTempDirectory("admin-cli-fedm-").toString, prefixBands)
    val (a, b) = (member(), member())
    a.update(Seq((1L, "AAA one"), (2L, "AAA two")).toDF("doc_id", "text"))
    b.update(Seq((3L, "AAA three")).toDF("doc_id", "text"))
    val fedRoot = Files.createTempDirectory("admin-cli-fed-").toString
    // the pipeline creates the store (first fold writes MEMBERS) …
    new graft.etl.FedDedupState(spark, fedRoot, Seq(a, b)).fold()

    // … and the console folds later member deltas on demand
    a.update(Seq((4L, "AAA four")).toDF("doc_id", "text"))
    val out = run("store-fold", "fed-dedup", fedRoot)
    assert(out.contains(""""op":"store-fold"""") &&
      out.contains(""""folded":true""") &&
      out.contains(""""version":2"""), out)
    // cross-member pairs visible through a fresh read handle
    val fed = graft.etl.EtlViews.openFedDedup(spark, fedRoot)
    assert(fed.livePairCounts().count() > 0)

    // nothing unabsorbed → reports folded:false, burns no version
    val noop = run("store-fold", "fed-dedup", fedRoot)
    assert(noop.contains(""""folded":false""") &&
      !noop.contains(""""version":"""), noop)
    assert(graft.etl.EtlViews.openFedDedup(spark, fedRoot)
      .currentVersion === 2L)

    intercept[IllegalArgumentException](run("store-fold", "dedup", fedRoot))
  }
}
