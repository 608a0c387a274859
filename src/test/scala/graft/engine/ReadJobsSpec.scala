package graft.engine

import java.nio.file.Files

import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Small reads plan from state the engine already holds: building a
  * read's DataFrame runs no Spark job (no footer-schema inference, no
  * commit-log scan for delete anti-filters, no catalog lookup), and a
  * small read runs only the one job, with one task, that answers it.
  * Jobs and tasks are counted by a listener around the facade call,
  * after a warm-up read has seeded the engine's one-time catalog and
  * commit state. */
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
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(6, 10),
      quantileLevel = Some(10))
    for (uuid <- Seq("u-clean", "u-deleted", "u-staged")) {
      db.createStream(uuid, "test/jobs", Map("s" -> uuid))
      // two commits, so each tbucket directory holds several files
      for (half <- Seq(0L, 2048L)) {
        db.insert(uuid, spark.createDataFrame(
            (half until half + 2048L).map(i => (base + i, (i % 100).toDouble)))
          .toDF("time", "value"))
        db.flush(uuid)
      }
    }
    db.deleteRange("u-deleted", base + 100, base + 200)
    db.insert("u-staged", spark.createDataFrame(
        (4096L until 4196L).map(i => (base + i, 1.0))).toDF("time", "value"))
  }

  override def afterAll(): Unit = { db.close(); spark.stop() }

  private def counted[T](body: => T): (T, JobCount.Counts) =
    JobCount(spark.sparkContext)(body)

  private def builds(uuid: String) = Seq(
    "rawValues" -> (() => db.rawValues(uuid, base, base + 4096)),
    "alignedWindows" -> (() => db.alignedWindows(uuid, base, base + 4096, 10)),
    "windows" -> (() => db.windows(uuid, base, base + 4096, 1000)),
    "quantileWindowsBulk" ->
      (() => db.quantileWindowsBulk(Seq(uuid), base, base + 4096, 10)))

  test("building rawValues, alignedWindows and windows frames runs no job") {
    for (uuid <- Seq("u-clean", "u-deleted"); (name, build) <- builds(uuid)) {
      build().collect() // warm-up: seeds catalog, commit and staging state
      val (df, n) = counted(build())
      assert(n.jobs == 0, s"$name on $uuid: building the frame ran ${n.jobs} jobs")
      assert(df.collect().nonEmpty)
    }
    // the anti-filters come from the in-memory delete list
    assert(db.rawValues("u-clean", base, base + 4096).count() == 4096)
    assert(db.rawValues("u-deleted", base, base + 4096).count() == 3996)
  }

  private def pyramidServed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("/pyramid")

  test("a small rawValues, alignedWindows or changes runs one job with one task") {
    val reads = Seq(
      ("rawValues", "u-clean", () => db.rawValues("u-clean", base, base + 4096)),
      ("rawValues", "u-deleted", () => db.rawValues("u-deleted", base, base + 4096)),
      ("rawValues", "u-staged", () => db.rawValues("u-staged", base, base + 8192)),
      ("alignedWindows", "u-clean",
        () => db.alignedWindows("u-clean", base, base + 4096, 10)),
      ("alignedWindows", "u-deleted",
        () => db.alignedWindows("u-deleted", base, base + 4096, 10)),
      ("alignedWindows", "u-staged",
        () => db.alignedWindows("u-staged", base, base + 8192, 10)),
      ("changes", "u-clean", () => db.changes("u-clean", 0, 2, 4)),
      ("changes", "u-deleted", () => db.changes("u-deleted", 0, 3, 4)))
    for ((name, uuid, read) <- reads) {
      read().collect() // warm-up
      val (rows, n) = counted(read().collect())
      assert(rows.nonEmpty)
      assert(n == JobCount.Counts(1, 1), s"$name on $uuid ran $n")
    }
    // both sides of alignedWindows are covered: the pyramid serves the
    // clean and the staged stream, the raw path the stream with a delete
    assert(pyramidServed(db.alignedWindows("u-clean", base, base + 4096, 10)))
    assert(pyramidServed(db.alignedWindows("u-staged", base, base + 8192, 10)))
    assert(!pyramidServed(db.alignedWindows("u-deleted", base, base + 4096, 10)))
  }

  test("a read above openCostInBytes keeps its parallel plan") {
    def exchanges = db.rawValues("u-clean", base, base + 4096)
      .queryExecution.executedPlan.toString.contains("Exchange")
    assert(!exchanges)
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try assert(exchanges, "the global sort lost its range exchange")
    finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  test("a nearest hit on the first probe runs exactly one job") {
    for ((uuid, t) <- Seq("u-clean" -> 10L, "u-staged" -> 4100L)) {
      db.nearest(uuid, base, backward = false) // warm-up
      // the staged stream's probe bound comes from its in-memory
      // staged envelope, not from a job over the write buffer
      val ((hit, probes), n) =
        counted(db.nearestProbed(uuid, base + t, backward = false))
      assert(hit.contains((base + t, if (t < 4096) (t % 100).toDouble else 1.0)))
      assert(probes == 1)
      assert(n == JobCount.Counts(1, 1), s"first-probe nearest on $uuid ran $n")
    }
  }
}
