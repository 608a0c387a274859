package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** archiveCommitLog: the commit directory must stay O(segments + recent)
  * over an engine root's lifetime, the reader must see identical state
  * before/after an archive, the crash window between segment write and
  * per-file delete must be harmless (duplicate lines dedup away), and
  * closed segments must be IMMUTABLE — a later pass archives only the
  * loose files and never reads or rewrites an earlier segment.
  */
class CommitArchiveSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var db: Btrdb = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("commit-archive-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("archivespec").toString
    db = new Btrdb(spark, dir, sBuckets = 2, tBucketPw = 52,
      bufferCommitThreshold = 1, pyramidLevels = Seq(6))
  }

  override def afterAll(): Unit = spark.stop()

  private def insert(uuid: String, pts: Seq[(Long, Double)]): Unit =
    db.insert(uuid, spark.createDataFrame(pts).toDF("time", "value"))

  test("archive folds the log, preserves reads, survives re-archive and leftovers") {
    val uuid = "u-archive"
    db.createStream(uuid, "arch/a", Map("k" -> "v"))
    val pts = (0L until 40L).map(t => (t, t * 1.5))
    pts.grouped(8).foreach(g => insert(uuid, g))
    db.flush(uuid)
    db.deleteRange(uuid, 10, 20)
    val before = db.rawValues(uuid, 0, 64).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val filesBefore = db.store.listNames("commits").count(_.endsWith(".json"))
    assert(filesBefore > 3, s"fixture must produce several commit files, got $filesBefore")

    // below threshold: no-op
    assert(!db.archiveCommitLog(maxFiles = 1024))
    assert(db.store.listNames("commits").count(_.endsWith(".json")) == filesBefore)

    // archive: one file remains, reads identical
    assert(db.archiveCommitLog(maxFiles = 2))
    val names1 = db.store.listNames("commits").filter(_.endsWith(".json"))
    assert(names1 == Seq("archive-1.json"), s"got $names1")
    assert(db.rawValues(uuid, 0, 64).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == before)

    // crash window: archive written but a superseded file survives the
    // delete pass — its lines are byte-identical to archived ones and
    // must dedup away in the reader
    val archived = db.store.readString("commits/archive-1.json").get
    val firstLine = archived.linesIterator.next() + "\n"
    val records = db.commits.count()
    db.store.writeAtomic("commits/leftover-0.json", firstLine)
    // reload the commit log: the leftover line is read twice, kept once
    db.refreshCommits()
    assert(db.commits.count() == records)
    insert(uuid, Seq((100L, 1.0)))
    db.flush(uuid)
    assert(db.rawValues(uuid, 0, 64).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == before)

    // second pass: a NEW closed segment holds only the loose files; the
    // first segment is untouched (not re-read, not rewritten) — the
    // archive history is append-only, each pass O(new records)
    val mtime1 = db.store.modificationTime("commits/archive-1.json").get
    assert(db.archiveCommitLog(maxFiles = 1))
    val names2 = db.store.listNames("commits").filter(_.endsWith(".json")).sorted
    assert(names2 == Seq("archive-1.json", "archive-2.json"), s"got $names2")
    assert(db.store.readString("commits/archive-1.json").get == archived,
      "closed segment must be byte-identical after a later pass")
    assert(db.store.modificationTime("commits/archive-1.json").get == mtime1,
      "closed segment must not be rewritten by a later pass")
    val seg2 = db.store.readString("commits/archive-2.json").get
    assert(!archived.linesIterator.toSet.subsetOf(seg2.linesIterator.toSet),
      "second segment must not refold the first segment's records")
    assert(seg2.linesIterator.contains(firstLine.trim),
      "loose leftover must land in the new segment")
    assert(db.rawValues(uuid, 0, 128).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == before :+ ((100L, 1.0)))
  }
}
