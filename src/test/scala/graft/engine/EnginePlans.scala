package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dumps the optimized and executed plans of every engine read kind
  * over a fixed 5-stream fixture, normalised so two builds can be
  * diffed line by line: expression ids, plan ids and the root path are
  * replaced by placeholders. A refactor that must not change any read
  * plan shows 0 diff lines between its dump and its parent's.
  *
  * Fixture (4,096 points each, pyramid levels 6/10, histogram level 10):
  * a clean stream, one with one delete, one with two deletes, one with
  * staged points, and one compacted after a delete.
  *
  * Usage: sbt "Test/runMain graft.engine.EnginePlans <out file>"
  */
object EnginePlans {
  private val Streams = Seq("clean", "delete1", "delete2", "staged", "compacted")

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: EnginePlans <out file>")
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("engine-plans")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // plan strings render every location in full, so the root
      // normalises whatever its length
      .config("spark.sql.maxMetadataStringLength", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("engineplans").toString
    try Files.write(Paths.get(args(0)), dump(spark, dir).getBytes("UTF-8"))
    finally spark.stop()
  }

  private def dump(spark: SparkSession, dir: String): String = {
    val db = new Btrdb(spark, dir, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(6, 10),
      pyramidWBucketPw = 12, commitRangePw = 8, quantileLevel = Some(10))
    def insert(u: String, ts: Seq[Long]): Unit =
      db.insert(u, spark.createDataFrame(ts.map(t => (t, (t % 97) * 0.25))).toDF("time", "value"))
    Streams.foreach { u =>
      db.createStream(u, s"plans/$u", Map("s" -> u))
      insert(u, (0L until 4096L).map(_ * 4))
      db.flush(u)
    }
    db.deleteRange("delete1", 1000, 2000)
    db.deleteRange("delete2", 1000, 2000)
    db.deleteRange("delete2", 8000, 9000)
    insert("staged", Seq(5L, 17L, 20000L))
    db.deleteRange("compacted", 3000, 5000)
    db.compact("compacted")
    db.registerViews("ep")

    val out = new StringBuilder
    def plan(name: String, df: => DataFrame): Unit = {
      val d = df
      out ++= s"==== $name\n-- optimized\n${d.queryExecution.optimizedPlan}\n" +
        s"-- executed\n${d.queryExecution.executedPlan}\n"
    }
    def reads(tag: String): Unit = Streams.foreach { u =>
      val pin = db.version(u)._1 - 1
      plan(s"$tag rawValues $u", db.rawValues(u, 0, 16384))
      plan(s"$tag rawValues pinned $u", db.rawValues(u, 0, 16384, pin))
      plan(s"$tag alignedWindows pw10 $u", db.alignedWindows(u, 0, 16384, 10))
      plan(s"$tag alignedWindows pw4 $u", db.alignedWindows(u, 0, 16384, 4))
      plan(s"$tag alignedWindows pinned $u", db.alignedWindows(u, 0, 16384, 10, pin))
      plan(s"$tag windows $u", db.windows(u, 0, 16384, 2048))
      plan(s"$tag windows depth9 $u", db.windows(u, 0, 16384, 2048, depth = 9))
      plan(s"$tag windows strict $u",
        db.windows(u, 0, 16384, 2048, depth = 9, strictFinalWindow = true))
    }
    reads("small")
    Streams.foreach { u =>
      plan(s"changes $u", db.changes(u, 0, db.version(u)._1, 8))
      plan(s"pointsAt $u", db.pointsAt(u))
      plan(s"quantileWindows $u", db.quantileWindows(u, 0, 16384, 10))
      val sid = db.sidOf(u)
      plan(s"sql pyramid $u", spark.sql(
        s"""SELECT shiftleft(shiftright(time, 10), 10) AS w, count(*) AS cnt,
           |  min(value) AS vmin, avg(value) AS vmean, max(value) AS vmax
           |FROM ep_points WHERE sid = $sid AND time >= 0 AND time < 16384
           |GROUP BY 1 ORDER BY w""".stripMargin))
      plan(s"sql scan $u", spark.sql(
        s"SELECT time, value FROM ep_points WHERE sid = $sid AND time >= 100 ORDER BY time"))
    }
    plan("alignedWindowsBulk", db.alignedWindowsBulk(Streams, 0, 16384, 10))
    plan("quantileWindowsBulk", db.quantileWindowsBulk(Streams, 0, 16384, 10))
    plan("multiAlign", db.multiAlign(Streams, 0, 16384))
    plan("sql whole view", spark.sql(
      """SELECT sid, shiftleft(shiftright(time, 10), 10) AS w, count(*) AS cnt,
        |  min(value) AS vmin, max(value) AS vmax
        |FROM ep_points GROUP BY 1, 2 ORDER BY sid, w""".stripMargin))
    // above the small-read rule: the parallel plans
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    reads("large")
    db.close()
    val root = dir.stripSuffix("/")
    out.toString
      .replace(s"file:$root", "<root>").replace(root, "<root>")
      .replaceAll("#\\d+L?", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("\\[id=#N\\]", "[id=N]")
  }
}
