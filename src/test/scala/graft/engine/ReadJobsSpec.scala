package graft.engine

import java.nio.file.Files

import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TimeConsts
import graft.wire.{BtrdbWire, PbReader, PbWriter}

/** Small reads plan from state the engine already holds: building a
  * read's DataFrame runs no Spark job (no footer-schema inference, no
  * commit-log scan for delete anti-filters, no catalog lookup), and a
  * small read's DataFrame runs only the one job, with one task, that
  * answers it. On the serving path (the wire, and `nearest`) a read of
  * any size runs no job at all: the engine answers it on the driver.
  * Jobs and tasks are counted by a listener around the call,
  * after a warm-up read has seeded the engine's one-time catalog and
  * commit state. */
class ReadJobsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import ReadJobsSpec.WireRead

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

  test("a nearest hit on the first probe runs no job") {
    for ((uuid, t) <- Seq("u-clean" -> 10L, "u-staged" -> 4100L)) {
      db.nearest(uuid, base, backward = false) // warm-up
      // the staged stream's probe bound comes from its in-memory
      // staged envelope, not from a job over the write buffer
      val ((hit, probes), n) =
        counted(db.nearestProbed(uuid, base + t, backward = false))
      assert(hit.contains((base + t, if (t < 4096) (t % 100).toDouble else 1.0)))
      assert(probes == 1)
      assert(n == JobCount.Counts(0, 0), s"first-probe nearest on $uuid ran $n")
    }
  }

  private def framed(fields: PbWriter => Unit): Array[Byte] = {
    val w = new PbWriter
    fields(w)
    val body = w.toBytes
    java.nio.ByteBuffer.allocate(5 + body.length).put(0.toByte).putInt(body.length)
      .put(body).array()
  }

  private def uuidField(w: PbWriter, uuid: String): Unit =
    w.bytes(1, uuid.getBytes("UTF-8"))

  /** Wire requests on each read path: RawValues of a clean, a deleted
    * and a staged stream; AlignedWindows served from the pyramid, from
    * the pyramid plus the write buffer, and from raw points under a
    * delete; Windows over raw points, from the pyramid (depth > 0), under
    * a delete, of a staged stream and pinned to a version; Changes;
    * Nearest of a committed and of a staged point. */
  private val wireReads: Seq[WireRead] = {
    def rows(df: => DataFrame, cols: String*): () => Seq[Product] = () =>
      df.select(cols.head, cols.tail: _*).collect().toSeq.map(r =>
        if (cols.size == 2) (r.get(0), r.get(1))
        else (r.get(0), r.get(1), r.get(2), r.get(3), r.get(4)))
    val stats = Seq("wstart", "vmin", "vmean", "vmax", "cnt")
    def raw(uuid: String, end: Long) = WireRead("RawValues", uuid, framed { w =>
      uuidField(w, uuid); w.sfixed64(2, base); w.sfixed64(3, base + end) },
      rows(db.rawValues(uuid, base, base + end), "time", "value"))
    def aligned(uuid: String, end: Long) = WireRead("AlignedWindows", uuid, framed { w =>
      uuidField(w, uuid); w.sfixed64(2, base); w.sfixed64(3, base + end); w.uint64(5, 10) },
      rows(db.alignedWindows(uuid, base, base + end, 10), stats: _*))
    def windows(uuid: String, end: Long, depth: Int = 0, version: Long = 0L) =
      WireRead("Windows", uuid, framed { w =>
        uuidField(w, uuid); w.sfixed64(2, base); w.sfixed64(3, base + end)
        if (version > 0) w.uint64(4, version)
        w.uint64(5, 1000); if (depth > 0) w.uint64(6, depth.toLong) },
        rows(db.windows(uuid, base, base + end, 1000,
          if (version > 0) version else TimeConsts.LatestGeneration, depth), stats: _*))
    def changes(uuid: String, to: Long) = WireRead("Changes", uuid, framed { w =>
      uuidField(w, uuid); w.uint64(3, to); w.uint64(4, 4) },
      rows(db.changes(uuid, 0, to, 4), "s", "e"))
    def nearest(uuid: String, t: Long) = WireRead("Nearest", uuid, framed { w =>
      uuidField(w, uuid); w.sfixed64(2, base + t) },
      () => rows(db.rawValues(uuid, base + t, base + 8192), "time", "value")().take(1))
    Seq(raw("u-clean", 4096), raw("u-deleted", 4096), raw("u-staged", 8192),
      aligned("u-clean", 4096), aligned("u-staged", 8192), aligned("u-deleted", 4096),
      windows("u-clean", 4096), windows("u-clean", 4096, depth = 9),
      windows("u-deleted", 4096), windows("u-staged", 8192),
      windows("u-clean", 4096, version = 1),
      changes("u-clean", 2), changes("u-deleted", 3),
      nearest("u-clean", 10), nearest("u-staged", 4100))
  }

  private def drain(method: String, body: Array[Byte]): Seq[Array[Byte]] = {
    val reply = BtrdbWire.handle(db, method, body)
    assert(reply.grpcStatus == 0)
    val msgs = reply.messages.toList
    // field 1 of a reply is its error status
    val r = new PbReader(msgs.head)
    assert(!r.hasNext || r.readTag()._1 != 1, s"$method answered an error")
    msgs
  }

  test("wire reads of a small stream run no Spark job") {
    for (WireRead(method, uuid, body, _) <- wireReads) {
      drain(method, body) // warm-up
      val (msgs, n) = counted(drain(method, body))
      assert(msgs.nonEmpty)
      assert(n == JobCount.Counts(0, 0), s"$method on $uuid ran $n")
    }
  }

  test("above openCostInBytes the wire reads run no job and equal the DataFrames") {
    val small = wireReads.map(r => drain(r.method, r.body))
    // the pyramid serves the depth-capped Windows of the clean stream
    assert(pyramidServed(db.windows("u-clean", base, base + 4096, 1000, depth = 9)))
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try wireReads.zip(small).foreach { case (WireRead(method, uuid, body, reference), local) =>
      val (msgs, n) = counted(drain(method, body))
      assert(n.jobs == 0, s"$method on $uuid ran $n above the rule")
      assert(msgs.map(_.toSeq) == local.map(_.toSeq), s"$method on $uuid")
      assert(decodeRows(method, msgs) == reference(), s"$method on $uuid")
    } finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  /** The rows of a reply (field 4 of each message): (time, value) points,
    * (start, end) ranges, or (wstart, vmin, vmean, vmax, cnt) windows. */
  private def decodeRows(method: String, msgs: Seq[Array[Byte]]): Seq[Product] =
    method match {
      case "Changes" => field4(msgs) { r =>
        var s = 0L; var e = 0L
        while (r.hasNext) r.readTag() match {
          case (1, _) => s = r.fixed64()
          case (2, _) => e = r.fixed64()
          case (_, w) => r.skip(w)
        }
        (s, e)
      }
      case "RawValues" | "Nearest" => field4(msgs) { r =>
        var t = 0L; var v = 0.0
        while (r.hasNext) r.readTag() match {
          case (1, _) => t = r.fixed64()
          case (2, _) => v = r.double()
          case (_, w) => r.skip(w)
        }
        (t, v)
      }
      case _ => field4(msgs) { r =>
        var t = 0L; var lo = 0.0; var mean = 0.0; var hi = 0.0; var cnt = 0L
        while (r.hasNext) r.readTag() match {
          case (1, _) => t = r.fixed64()
          case (2, _) => lo = r.double()
          case (3, _) => mean = r.double()
          case (4, _) => hi = r.double()
          case (5, _) => cnt = r.fixed64()
          case (_, w) => r.skip(w)
        }
        (t, lo, mean, hi, cnt)
      }
    }

  private def field4(msgs: Seq[Array[Byte]])(row: PbReader => Product): Seq[Product] =
    msgs.flatMap { m =>
      val r = new PbReader(m)
      val out = Seq.newBuilder[Product]
      while (r.hasNext) r.readTag() match {
        case (4, _) => out += row(r.lenReader())
        case (_, w) => r.skip(w)
      }
      out.result()
    }
}

object ReadJobsSpec {
  /** One wire read: its method, stream, framed request, and its answer
    * from the public DataFrame (or, for Nearest, from rawValues). */
  private final case class WireRead(method: String, uuid: String, body: Array[Byte],
                                    reference: () => Seq[Product])
}
