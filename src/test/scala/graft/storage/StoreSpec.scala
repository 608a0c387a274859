package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Btrdb

/** The storage layer runs on the Hadoop FileSystem API — these specs
  * (1) pin the Store's atomic-publish and listing primitives on a
  * `file:`-scheme FileSystem, and (2) run the engine's full
  * insert/flush/delete/compact/recover cycle against a root addressed
  * WITH an explicit `file:` scheme, proving no raw-POSIX escape hatch
  * remains (a `java.nio.Paths.get("file:/…/x")` would throw or resolve
  * to a relative ./file:… path — only FileSystem resolution works).
  */
class StoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("store-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def freshStore(): Store = {
    val dir = Files.createTempDirectory("storespec").toString
    new Store(s"file:$dir", spark.sessionState.newHadoopConf())
  }

  test("writeAtomic publishes full content and overwrites atomically") {
    val st = freshStore()
    st.writeAtomic("a/b/ptr", "1")
    assert(st.readString("a/b/ptr").contains("1"))
    st.writeAtomic("a/b/ptr", "2")
    assert(st.readString("a/b/ptr").contains("2"))
    // the tmp staging file never survives a publish
    assert(!st.listNames("a/b").exists(_.endsWith(".tmp")))
  }

  test("writeExclusive creates once, reports contention after") {
    val st = freshStore()
    assert(st.writeExclusive("engine.lock", "owner-1"))
    assert(!st.writeExclusive("engine.lock", "owner-2"))
    assert(st.readString("engine.lock").contains("owner-1"))
    st.delete("engine.lock")
    assert(st.writeExclusive("engine.lock", "owner-2"))
  }

  test("listNames / containsFile / deleteRecursive on a file: scheme root") {
    val st = freshStore()
    st.writeAtomic("d/x=1/f.parquet", "p")
    st.writeAtomic("d/x=2/g.txt", "t")
    assert(st.listNames("d").toSet == Set("x=1", "x=2"))
    assert(st.containsFile("d", ".parquet"))
    assert(!st.containsFile("d/x=2", ".parquet"))
    assert(st.listNames("absent").isEmpty)
    assert(!st.containsFile("absent", ".parquet"))
    st.deleteRecursive("d/x=1")
    assert(!st.containsFile("d", ".parquet"))
  }

  test("a walk racing nested creates and deletes reads vanished entries as absent") {
    val st = freshStore()
    st.writeAtomic("w/keep/f.parquet", "k")
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val churn = new Thread(() =>
      try (0 until 300).foreach { i =>
        (0 until 4).foreach(j => st.writeAtomic(s"w/sid=$i/batch=$j/part-$j.parquet", "x" * j))
        st.deleteRecursive(s"w/sid=$i")
      } catch { case e: Throwable => failure.set(e) })
    churn.start()
    var walks = 0
    try while (churn.isAlive) {
      assert(st.containsFile("w", ".parquet"))
      assert(st.oldestFileMtime("w").nonEmpty)
      assert(st.dirBytes("w") >= 1L)
      walks += 1
    } finally churn.join()
    assert(failure.get == null, s"the churn thread failed: ${failure.get}")
    assert(walks > 0)
    assert(st.dirBytes("w") == 1L && st.dirBytes("absent") == 0L)
    assert(st.oldestFileMtime("absent").isEmpty)
  }

  test("full engine cycle on an explicit file:-scheme root") {
    val dir = Files.createTempDirectory("storecycle").toString
    val root = s"file:$dir"
    val db = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 16,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    val uuid = "u-file-scheme"
    db.createStream(uuid, "fs/a", Map("k" -> "v"))

    def ins(pts: Seq[(Long, Double)]): Unit =
      db.insert(uuid, spark.createDataFrame(pts).toDF("time", "value"))

    // staged insert below threshold, then flush
    ins((0L until 8L).map(t => (t, t.toDouble)))
    assert(db.version(uuid) == (0L, 8L))
    db.flush(uuid)
    assert(db.version(uuid) == (1L, 0L))
    // direct commit above threshold
    ins((100L until 164L).map(t => (t, 1.0)))
    assert(db.version(uuid)._1 == 2L)
    assert(db.rawValues(uuid, 0, 1000).count() == 72)
    // pyramid-served stat query
    val w = db.alignedWindows(uuid, 0, 256, 8).collect()
    assert(w.map(_.getLong(1)).sum == 72)
    // delete + merge-on-read, then compact collapses history
    db.deleteRange(uuid, 0, 4)
    assert(db.rawValues(uuid, 0, 1000).count() == 68)
    db.compact(uuid)
    assert(db.rawValues(uuid, 0, 1000).count() == 68)
    // catalog pointer swing (annotation CAS) through the Store
    db.setAnnotations(uuid, 0L, Map("note" -> "hi"))
    assert(db.streamInfo(uuid)._1.annotations == Map("note" -> "hi"))
    // changes() over the commit log written through the Store
    assert(db.changes(uuid, 0, db.version(uuid)._1, 8).count() > 0)
    // graceful restart: a fresh engine on the same file:-scheme root
    // recovers (close releases the single-writer lock)
    val major = db.version(uuid)._1
    db.close()
    val db2 = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 16,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    assert(db2.rawValues(uuid, 0, 1000).count() == 68)
    assert(db2.version(uuid)._1 == major)
    db2.close()
  }

  test("single-writer lock: second engine fails fast; crash leftover taken over") {
    val dir = Files.createTempDirectory("storelock").toString
    val root = s"file:$dir"
    val a = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12)
    // a live writer blocks a second engine on the same root
    val e = intercept[IllegalStateException] {
      new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12)
    }
    assert(e.getMessage.contains("locked by another live writer"))
    // close releases; the next engine acquires
    a.close()
    val b = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12)
    b.close()
    // a crash leaves the lock file with no heartbeat: once its mtime is
    // older than lockStaleMillis the next engine takes over
    val st = new Store(root, spark.sessionState.newHadoopConf())
    st.writeAtomic(Btrdb.LockFile, "crashed-owner")
    Thread.sleep(120)
    val c = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      lockStaleMillis = 100L)
    assert(st.readString(Btrdb.LockFile).exists(_ != "crashed-owner"))
    c.close()
    assert(!st.exists(Btrdb.LockFile))
  }

  test("stat and raw queries issue zero Store listings once state is seeded") {
    val dir = Files.createTempDirectory("storehot").toString
    val db = new Btrdb(spark, s"file:$dir", sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    val uuid = "u-hot-path"
    db.createStream(uuid, "fs/hot", Map("k" -> "v"))
    db.insert(uuid, spark.createDataFrame(
      (0L until 64L).map(t => (t, t.toDouble))).toDF("time", "value"))
    db.flush(uuid)
    // warm-up: seeds commit state, staged counts, pyramid presence
    db.alignedWindows(uuid, 0, 64, 4).collect()
    db.rawValues(uuid, 0, 64).collect()
    db.nearest(uuid, 10, backward = false)
    val before = db.store.listingOps.get()
    db.alignedWindows(uuid, 0, 64, 4).collect()
    db.alignedWindows(uuid, 0, 64, 8).collect()
    db.rawValues(uuid, 0, 64).collect()
    db.nearest(uuid, 10, backward = false)
    db.windows(uuid, 0, 64, 16L, depth = 4).collect()
    assert(db.store.listingOps.get() == before,
      "query hot path issued a filesystem listing beyond the parquet scan")
  }
}
