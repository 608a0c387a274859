package graft.engine

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.JobCount
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The stream catalog as one immutable value ([[Catalog]]): its
  * transitions and their validation with no Spark at all, concurrent
  * writers against one handle, and metadata lookups answered from the
  * loaded value with no Spark job. */
class CatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("catalog-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def mkDb(): Btrdb =
    new Btrdb(spark, Files.createTempDirectory("catalogspec").toString, sBuckets = 4,
      tBucketPw = 52, bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(6, 10))

  private def stream(u: String, c: String, tags: (String, String)*) =
    (u, c, tags.toMap, Map.empty[String, String])

  test("transitions: sids, uniqueness, CAS, tombstones and migration marks") {
    val c1 = Catalog.Empty.created(Seq(stream("a", "plant/x", "p" -> "1", "k" -> "v"),
      stream("b", "plant/x", "p" -> "2")))
    assert(c1.rows.map(_.sid) == Seq(0L, 1L) && c1.nextSid == 2L)
    assert(c1.live.keySet == Set("a", "b") && c1.uuidOf == Map(0L -> "a", 1L -> "b"))
    // (collection, tags) is unique among live streams, in any tag order
    intercept[IllegalArgumentException](c1.created(Seq(stream("c", "plant/x", "k" -> "v", "p" -> "1"))))
    intercept[IllegalArgumentException](c1.created(Seq(stream("a", "plant/y", "p" -> "1"))))
    intercept[IllegalArgumentException](Catalog.Empty.created(Seq(
      stream("c", "plant/x", "p" -> "1"), stream("d", "plant/x", "p" -> "1"))))
    intercept[IllegalArgumentException](Catalog.Empty.created(Seq(
      stream("c", "plant/x", "p" -> "1"), stream("c", "plant/y", "p" -> "1"))))
    intercept[IllegalArgumentException](c1.created(Seq(stream("c", "", "p" -> "1"))))
    // the key compares tags, not a rendering of them
    assert(c1.created(Seq(stream("e", "plant/x", "p" -> "1", "k" -> "v,q=w"))).live.contains("e"))
    // annotation CAS: one version, None removes, a stale version fails
    val c2 = c1.annotated("a", 0L, Map("owner" -> Some("x"), "team" -> Some("y")))
    assert(c2.live("a").annotations == Map("owner" -> "x", "team" -> "y") &&
      c2.live("a").annotationVersion == 1L)
    intercept[IllegalArgumentException](c2.annotated("a", 0L, Map("owner" -> Some("z"))))
    intercept[IllegalArgumentException](c2.annotated("a", 1L, Map("Bad" -> Some("z"))))
    assert(c2.annotated("a", 1L, Map("owner" -> None)).live("a").annotations == Map("team" -> "y"))
    assert(c2.annotated("nope", 0L, Map("k" -> Some("v"))) eq c2)
    // obliterate: the uuid is never reused, its (collection, tags) is free
    val c3 = c2.obliterated("a")
    assert(c3.tombstoned == Set(0L) && !c3.isLive(0L) && c3.isLive(1L) && c3.hidden == Set(0L))
    assert(c3.obliterated("a") eq c3)
    intercept[IllegalArgumentException](c3.created(Seq(stream("a", "plant/z", "p" -> "1"))))
    val c4 = c3.created(Seq(stream("f", "plant/x", "p" -> "1", "k" -> "v")))
    assert(c4.live("f").sid == 2L)
    val c5 = c4.annotated("b", 0L, Map(Btrdb.MigratingInAnnotation -> Some("1")))
      .annotated("f", 0L, Map(Btrdb.MigratingOutAnnotation -> Some("1")))
    assert(c5.migratingIn == Set(1L) && c5.migratingOut == Set(2L) && c5.hidden == Set(0L, 1L))
  }

  test("concurrent creates take distinct sids; concurrent annotation CAS admits one writer") {
    val db = mkDb()
    try {
      def race[T](n: Int)(body: Int => T): Seq[Try[T]] = {
        val go = new CountDownLatch(1)
        val out = new ConcurrentHashMap[Int, Try[T]]()
        val threads = (0 until n).map(i => new Thread(() => { go.await(); out.put(i, Try(body(i))) }))
        threads.foreach(_.start())
        go.countDown()
        threads.foreach(_.join())
        (0 until n).map(out.get)
      }
      val uuids = (0 until 8).map(i => s"u-race-$i")
      val sids = race(8)(i => db.createStream(uuids(i), "race/create", Map("i" -> i.toString)))
      assert(sids.forall(_.isSuccess), sids.filter(_.isFailure).mkString("\n"))
      assert(sids.map(_.get).distinct.size == 8, s"a sid was taken twice: ${sids.map(_.get)}")
      db.refreshCatalog()
      uuids.zip(sids.map(_.get)).zipWithIndex.foreach { case ((u, sid), i) =>
        val (d, _, _) = db.streamInfo(u)
        assert(d.uuid == u && d.sid == sid && d.tags == Map("i" -> i.toString), s"$u read back as $d")
      }
      val cas = race(2)(i => db.updateAnnotations(uuids.head, 0L, Map("w" -> Some(i.toString))))
      assert(cas.count(_.isSuccess) == 1, s"one CAS at version 0 must win: $cas")
      assert(cas.exists(_.failed.toOption.exists(_.isInstanceOf[IllegalArgumentException])))
      db.refreshCatalog()
      assert(db.streamInfo(uuids.head)._1.annotationVersion == 1L)
    } finally db.close()
  }

  test("with the catalog loaded, metadata lookups and catalog checks run no Spark job") {
    val db = mkDb()
    try {
      db.createStream("u-jobs-a", "jobs/a", Map("s" -> "a"))
      db.insert("u-jobs-a", spark.createDataFrame(Seq((1L, 1.0))).toDF("time", "value"))
      db.createStream("u-jobs-b", "jobs/b", Map("s" -> "b"))
      db.refreshCatalog()
      db.streamInfo("u-jobs-a") // loads the catalog and seeds the stream states
      def jobs[T](body: => T): Int = JobCount(spark.sparkContext)(body)._2.jobs
      assert(jobs(db.sidOf("u-jobs-b")) == 0, "sidOf of a uuid not looked up before")
      assert(jobs(db.streamInfo("u-jobs-b")) == 0, "streamInfo")
      assert(jobs(db.purgeObliterated()) == 0, "purgeObliterated with nothing to purge")
      assert(jobs(intercept[NoSuchElementException](db.sidOf("u-jobs-none"))) == 0)
      // insertAll runs its own jobs over the batch; none of them reads the catalog
      val plans = new ConcurrentLinkedQueue[String]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.analyzed.toString)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try JobCount(spark.sparkContext)(db.insertAll(spark.createDataFrame(
          Seq((db.sidOf("u-jobs-b"), 2L, 2.0))).toDF("sid", "time", "value")))
      finally spark.listenerManager.unregister(listener)
      assert(!plans.isEmpty && !plans.asScala.exists(_.contains("tombstoned")),
        plans.asScala.mkString("\n"))
    } finally db.close()
  }

  test("listCollections and keyUsage answer from the loaded catalog with no Spark job") {
    val db = mkDb()
    try {
      db.createStream("u-cat-1", "plant/a", Map("phase" -> "L1", "kind" -> "voltage"))
      db.createStream("u-cat-2", "plant/a", Map("phase" -> "L2"))
      db.createStream("u-cat-3", "plant/b", Map("phase" -> "L1"))
      db.createStream("u-cat-4", "plant/c", Map("phase" -> "L1"), Map("owner" -> "x"))
      db.obliterate("u-cat-4")
      val (cols, colJobs) = JobCount(spark.sparkContext)(db.listCollections("plant/").collect())
      assert(colJobs.jobs == 0, "listCollections")
      assert(cols.map(_.getString(0)).toSeq == Seq("plant/a", "plant/b"))
      assert(db.listCollections("plant/", startingFrom = "plant/b").collect().map(_.getString(0))
        .toSeq == Seq("plant/b"))
      assert(db.listCollections("plant/", limit = 1).collect().map(_.getString(0)).toSeq ==
        Seq("plant/a"))
      val (usage, usageJobs) = JobCount(spark.sparkContext)(db.keyUsage("plant/").collect())
      assert(usageJobs.jobs == 0, "keyUsage")
      assert(usage.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ==
        Map(("tag", "phase") -> 3L, ("tag", "kind") -> 1L))
    } finally db.close()
  }
}
