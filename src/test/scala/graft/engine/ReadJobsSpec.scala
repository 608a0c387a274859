package graft.engine

import java.nio.file.Files

import org.apache.spark.JobCount
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Small reads plan from state the engine already holds: building a
  * read's DataFrame runs no Spark job (no footer-schema inference, no
  * commit-log scan for delete anti-filters), and a point read runs only
  * the job that answers it. Jobs are counted by a listener around the
  * facade call, after a warm-up read has seeded the engine's one-time
  * catalog and commit state. */
class ReadJobsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var db: Btrdb = _
  private val base = 1L << 40

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("read-jobs-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("readjobs").toString
    db = new Btrdb(spark, dir, sBuckets = 4, tBucketPw = 52,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(6, 10))
    for (uuid <- Seq("u-clean", "u-deleted")) {
      db.createStream(uuid, "test/jobs", Map("s" -> uuid))
      db.insert(uuid, spark.createDataFrame(
          (0L until 4096L).map(i => (base + i, (i % 100).toDouble)))
        .toDF("time", "value"))
      db.flush(uuid)
    }
    db.deleteRange("u-deleted", base + 100, base + 200)
  }

  override def afterAll(): Unit = { db.close(); spark.stop() }

  private def jobs[T](body: => T): (T, Int) = JobCount(spark.sparkContext)(body)

  private def builds(uuid: String) = Seq(
    "rawValues" -> (() => db.rawValues(uuid, base, base + 4096)),
    "alignedWindows" -> (() => db.alignedWindows(uuid, base, base + 4096, 10)),
    "windows" -> (() => db.windows(uuid, base, base + 4096, 1000)))

  test("building rawValues, alignedWindows and windows frames runs no job") {
    for (uuid <- Seq("u-clean", "u-deleted"); (name, build) <- builds(uuid)) {
      build().collect() // warm-up: seeds catalog, commit and staging state
      val (df, n) = jobs(build())
      assert(n == 0, s"$name on $uuid: building the frame ran $n jobs")
      assert(df.collect().nonEmpty)
    }
    // the anti-filters come from the in-memory delete list
    assert(db.rawValues("u-clean", base, base + 4096).count() == 4096)
    assert(db.rawValues("u-deleted", base, base + 4096).count() == 3996)
  }

  test("a nearest hit on the first probe runs exactly one job") {
    db.nearest("u-clean", base, backward = false) // warm-up
    val ((hit, probes), n) =
      jobs(db.nearestProbed("u-clean", base + 10, backward = false))
    assert(hit.contains((base + 10, 10.0)) && probes == 1)
    assert(n == 1, s"first-probe nearest ran $n jobs")
  }
}
