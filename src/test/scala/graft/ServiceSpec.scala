package graft

import java.sql.DriverManager

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Btrdb

/** End-to-end daemon surface: a real Thrift JDBC server over a live
  * engine root, queried through the stock Hive JDBC driver — no
  * library classes on the "client" side of the wire. Pins that (a) the
  * views resolve over JDBC, (b) results match the engine API, and
  * (c) the pyramid substitution serves a stat aggregate to a JDBC
  * client (the rollup answers, proven by value equality against the
  * exact cents computation the pyramid stores).
  */
class ServiceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var server: org.apache.hive.service.server.HiveServer2 = _
  private var port: Int = _
  private var db: Btrdb = _

  override def beforeAll(): Unit = {
    port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    spark = Service.buildSession(port, cpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("svcspec").toString
    db = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1L,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    db.createStream("svc-u0", "svc/a", Map("k" -> "v"))
    db.insert("svc-u0", spark.createDataFrame(
      (0 until 512).map(i => (i * 8L, i.toDouble))).toDF("time", "value"))
    db.registerViews("svc")
    server = Service.start(spark)
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    if (db != null) db.close()
    if (spark != null) spark.stop()
  }

  private def connect(): java.sql.Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    // the server binds asynchronously — poll until it accepts
    val deadline = System.currentTimeMillis() + 60000
    var last: Throwable = null
    while (System.currentTimeMillis() < deadline) {
      try {
        return DriverManager.getConnection(
          s"jdbc:hive2://localhost:$port/default", "anonymous", "")
      } catch {
        case e: Throwable => last = e; Thread.sleep(500)
      }
    }
    throw new AssertionError(s"thrift server never came up on $port", last)
  }

  test("JDBC clients query engine views and pyramid-served stats") {
    val conn = connect()
    try {
      val st = conn.createStatement()

      // (a) raw view over the wire matches the engine API
      val rs1 = st.executeQuery(
        "SELECT count(*) AS n, min(time) AS t0, max(time) AS t1 FROM svc_points")
      assert(rs1.next())
      assert(rs1.getLong("n") == 512L)
      assert(rs1.getLong("t0") == 0L && rs1.getLong("t1") == 511 * 8L)

      // (b) catalog view resolves stream metadata
      val rs2 = st.executeQuery(
        "SELECT collection FROM svc_catalog WHERE uuid = 'svc-u0'")
      assert(rs2.next() && rs2.getString(1) == "svc/a")

      // (c) a stat-shaped aggregate over JDBC: integer values are on
      // the cents grid, so the pyramid serves count/min/avg/max and the
      // answers are the exact aggregates of 0..511 per 2^8 window
      val rs3 = st.executeQuery(
        """SELECT shiftleft(shiftright(time, 8), 8) AS w,
          |  count(*) AS cnt, min(value) AS vmin, avg(value) AS vmean,
          |  max(value) AS vmax
          |FROM svc_points GROUP BY 1 ORDER BY w""".stripMargin)
      var rows = 0
      while (rs3.next()) {
        val w = rs3.getLong("w")
        // window [w, w+256) holds times w..w+255 step 8 → values w/8..w/8+31
        val lo = w / 8.0
        assert(rs3.getLong("cnt") == 32L)
        assert(rs3.getDouble("vmin") == lo)
        assert(rs3.getDouble("vmax") == lo + 31)
        assert(rs3.getDouble("vmean") == lo + 15.5)
        rows += 1
      }
      assert(rows == 16, s"512 points / 32 per 2^8 window = 16 windows, got $rows")

      // and the SAME query in-session is pyramid-served (plan-level
      // proof; the JDBC path shares this session via singleSession)
      val df = spark.sql(
        """SELECT shiftleft(shiftright(time, 8), 8) AS w, count(*) AS cnt,
          |  min(value) AS vmin, avg(value) AS vmean, max(value) AS vmax
          |FROM svc_points GROUP BY 1""".stripMargin)
      assert(graft.plans.PlanChecks.readsPyramidOnly(df),
        "expected the pyramid to serve the stat shape; scans=" +
          graft.plans.PlanChecks.scanRootPaths(df))
    } finally conn.close()
  }

  test("a federated multi-root view is queryable over the same server") {
    val root2 = java.nio.file.Files.createTempDirectory("svcspec2").toString
    val db2 = new Btrdb(spark, root2, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1L,
      pyramidLevels = Seq(4, 8), pyramidWBucketPw = 12, commitRangePw = 8)
    db2.createStream("svc-u1", "svc/b", Map("k" -> "w"))
    db2.insert("svc-u1", spark.createDataFrame(
      (0 until 128).map(i => (i * 4L, i * 2.0))).toDF("time", "value"))
    // registered AFTER server start: singleSession means live temp
    // views are immediately visible to connected JDBC clients
    graft.engine.Federation.registerViews(spark, "fed",
      Seq(("e0", db), ("e1", db2)))
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT engine, count(*) AS n FROM fed_points GROUP BY 1 ORDER BY 1")
      assert(rs.next() && rs.getString(1) == "e0" && rs.getLong(2) == 512L)
      assert(rs.next() && rs.getString(1) == "e1" && rs.getLong(2) == 128L)
      assert(!rs.next())

      // a stat-shaped aggregate over the FEDERATED view is served from
      // both members' pyramids — the query shape a multi-root daemon
      // must never answer by scanning N point logs
      val fedSql =
        """SELECT shiftleft(shiftright(time, 8), 8) AS w, count(*) AS cnt,
          |  min(value) AS vmin, avg(value) AS vmean, max(value) AS vmax
          |FROM fed_points GROUP BY 1 ORDER BY w""".stripMargin
      val df = spark.sql(fedSql)
      assert(graft.plans.PlanChecks.readsPyramidOnly(df),
        "expected the federated stat shape to be pyramid-served; scans=" +
          graft.plans.PlanChecks.scanRootPaths(df))
      // expected truth from the inserted sequences themselves
      val pts = (0 until 512).map(i => (i * 8L, i.toDouble)) ++
        (0 until 128).map(i => (i * 4L, i * 2.0))
      val expected = pts.groupBy { case (t, _) => (t >> 8) << 8 }
        .view.mapValues { ps =>
          val vs = ps.map(_._2)
          (ps.size.toLong, vs.min, vs.sum / vs.size, vs.max)
        }.toMap
      val rs2 = conn.createStatement().executeQuery(fedSql)
      var seen = 0
      while (rs2.next()) {
        val (cnt, vmin, vmean, vmax) = expected(rs2.getLong("w"))
        assert(rs2.getLong("cnt") == cnt && rs2.getDouble("vmin") == vmin &&
          rs2.getDouble("vmean") == vmean && rs2.getDouble("vmax") == vmax,
          s"window ${rs2.getLong("w")} mismatch")
        seen += 1
      }
      assert(seen == expected.size, s"$seen of ${expected.size} windows")
    } finally {
      conn.close()
      db2.close()
    }
  }

  test("auto-refresh tracks an external writer: new commits and catalog rewrites reach JDBC") {
    val refresher = Service.autoRefresh(Seq(db),
      () => db.registerViews("svc"), intervalMs = 300)
    val conn = connect()
    try {
      val st = conn.createStatement()
      def count(sql: String): Long = {
        val rs = st.executeQuery(sql)
        assert(rs.next()); rs.getLong(1)
      }
      val n0 = count("SELECT count(*) AS n FROM svc_points")
      val c0 = count("SELECT count(*) AS n FROM svc_catalog")
      // an "external" mutation: a new stream, a commit, an obliterate —
      // the captured views can't see any of it until the poller fires
      db.createStream("svc-fresh", "svc/fresh", Map("k" -> "f"))
      // a creation alone appends into the live catalog directory without
      // moving its pointer; the poller must still see it
      val created = System.currentTimeMillis() + 10000
      var cc = c0
      while (cc != c0 + 1 && System.currentTimeMillis() < created) {
        Thread.sleep(200)
        cc = count("SELECT count(*) AS n FROM svc_catalog")
      }
      assert(cc == c0 + 1, s"catalog view never saw a create with no commit: $cc vs ${c0 + 1}")
      // the commits view is a snapshot taken at registration
      val fresh = s"SELECT count(*) AS n FROM svc_commits WHERE sid = ${db.sidOf("svc-fresh")}"
      assert(count(fresh) == 0)
      db.insert("svc-fresh", spark.createDataFrame(
        (0 until 64).map(i => (100000L + i, 1.0))).toDF("time", "value"))
      db.flush("svc-fresh")
      val deadline = System.currentTimeMillis() + 20000
      var (n1, c1, k1) = (n0, c0, 0L)
      while ((n1 != n0 + 64 || c1 != c0 + 1 || k1 != 1) &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        n1 = count("SELECT count(*) AS n FROM svc_points")
        c1 = count("SELECT count(*) AS n FROM svc_catalog")
        k1 = count(fresh)
      }
      assert(n1 == n0 + 64, s"points view never refreshed: $n1 vs ${n0 + 64}")
      assert(c1 == c0 + 1, s"catalog view never refreshed: $c1 vs ${c0 + 1}")
      assert(k1 == 1, s"commits view never saw the new commit: $k1 records")
      // catalog REWRITE (obliterate) — the retention fix keeps the old
      // generation readable until the poller re-registers
      db.obliterate("svc-fresh")
      var c2 = c1
      while (c2 != c0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        c2 = count("SELECT count(*) AS n FROM svc_catalog")
      }
      assert(c2 == c0, s"catalog view never dropped the obliterated stream")
      assert(count("SELECT count(*) AS n FROM svc_points") == n0)
    } finally {
      refresher.interrupt()
      conn.close()
    }
  }

  test("ETL store views serve cluster/dup/contamination state over JDBC") {
    val ss = spark; import ss.implicits._
    // a small persisted dedup store with REAL MinHash banding + 4-gram
    // pair similarity, and a contamination index beside it — the
    // curation state a pipeline's writer maintains, served read-only
    val dedupRoot = java.nio.file.Files
      .createTempDirectory("svcetl-dedup").toString
    val contamRoot = java.nio.file.Files
      .createTempDirectory("svcetl-contam").toString
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .localCheckpoint()
    val writerD = new graft.etl.DedupState(spark, dedupRoot,
      graft.queries.EtlQueries.bandKeys,
      gramsOf = Some(graft.queries.EtlQueries.gram4Of))
    writerD.update(docs)
    val writerC = new graft.etl.ContamState(spark, contamRoot,
      graft.queries.EtlQueries.contamGrams, dfCap = 5L)
    writerC.update(docs)
    graft.etl.EtlViews.registerDedupViews(spark, "etl", dedupRoot)
    graft.etl.EtlViews.registerContamViews(spark, "etl", contamRoot)
    val conn = connect()
    try {
      val st = conn.createStatement()
      // cluster sizes over the wire match the store's own reader
      val rs = st.executeQuery(
        """SELECT cluster, count(*) AS n FROM etl_clusters
          |GROUP BY cluster ORDER BY n DESC, cluster LIMIT 5""".stripMargin)
      val wire = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getLong(1), r.getLong(2))).toSeq
      val truth = writerD.docClusters().groupBy("cluster")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .orderBy(org.apache.spark.sql.functions.col("n").desc,
          org.apache.spark.sql.functions.col("cluster"))
        .limit(5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(wire === truth)
      // every cluster names exactly one canonical doc, and it is the
      // doc whose id labels the cluster
      val rs2 = st.executeQuery(
        """SELECT count(*) AS bad FROM (
          |  SELECT cluster, sum(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS c
          |  FROM etl_clusters GROUP BY cluster) t WHERE c <> 1""".stripMargin)
      assert(rs2.next() && rs2.getLong(1) === 0L)
      // the dup report aggregates the same assignment
      val rs3 = st.executeQuery(
        "SELECT sum(n_docs) AS nd FROM etl_dup_report")
      assert(rs3.next() && rs3.getLong(1) === docs.count())
      // pair similarities are present and sane (num <= den)
      val rs4 = st.executeQuery(
        """SELECT count(*) AS n,
          |  sum(CASE WHEN jac_num > jac_den THEN 1 ELSE 0 END) AS bad
          |FROM etl_dup_pairs""".stripMargin)
      assert(rs4.next() && rs4.getLong("n") > 0L && rs4.getLong("bad") === 0L)
      // contamination postings resolve and respect the df cap
      val rs5 = st.executeQuery(
        """SELECT max(df) AS mx FROM (
          |  SELECT g, count(*) AS df FROM etl_contamination GROUP BY g) t"""
          .stripMargin)
      assert(rs5.next() && rs5.getLong(1) <= 5L)
    } finally conn.close()
  }

  test("a thresholded embedding store serves its curation views over JDBC") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("svcetl-emb").toString
    val keep = (col("jac_num").cast("double") /
      (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))) >= 0.2
    // the content-generic store: embeddings keyed by digest, fixed-point
    // components as weighted features, cosine-threshold admission; a
    // sign-of-first-component banding keeps the fixture's candidate
    // volume bounded while exercising real multi-bucket pruning
    val writer = new graft.etl.DedupState(spark, root,
      bandsOf = src => src.select(col("doc_id"),
        (element_at(col("text"), 1) >= 0f).cast("string").as("bkey")),
      gramsOf = Some(src => src
        .select(col("doc_id"), posexplode(col("text")).as(Seq("i", "f")))
        .select(col("doc_id"), col("i").cast("string").as("g"),
          round(col("f").cast("double") * 1000000L, 0).cast("long").as("w"))),
      contentCol = "embedding",
      keyOf = c => md5(concat_ws(",",
        transform(c, x => coalesce(x.cast("string"), lit("∅"))))
        .cast("binary")),
      pairKeep = Some(keep))
    writer.update(spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .localCheckpoint())
    // views register from a BARE read handle — admission already
    // happened at fold time, so the handle needs no predicate
    graft.etl.EtlViews.registerDedupViews(spark, "emb", root)
    val conn = connect()
    try {
      val st = conn.createStatement()
      // every stored pair clears the admission threshold, recomputed
      // in SQL from the stored dot + squared norms (sqrt as doubles —
      // na*nb would overflow int64 at the µs fixed-point scale)
      val rs = st.executeQuery(
        """SELECT count(*) AS n,
          |  sum(CASE WHEN CAST(jac_num AS DOUBLE) /
          |    (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) < 0.2
          |    THEN 1 ELSE 0 END) AS bad
          |FROM emb_dup_pairs""".stripMargin)
      assert(rs.next() && rs.getLong("n") > 0L && rs.getLong("bad") === 0L)
      // cluster sizes over the wire match the store's own reader
      val rs2 = st.executeQuery(
        "SELECT count(DISTINCT cluster) AS nc FROM emb_clusters")
      assert(rs2.next() && rs2.getLong(1) ===
        writer.docClusters().select("cluster").distinct().count())
    } finally conn.close()
  }

  test("derived-family views serve per-content lookups over JDBC") {
    import org.apache.spark.sql.functions._
    // a pure-append DerivedState family (the lang/codes/cells/spans/
    // vocab shape): the daemon maps family names to roots
    // (SPARK_GRAFT_ETL_DERIVED `lang=/root`), each registering its
    // derived table as <prefix>_<family> — here the registration call
    // itself, over a store the writer just folded
    val root = java.nio.file.Files
      .createTempDirectory("svcetl-derived").toString
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(md5(col("text").cast("binary")).as("k"), col("text"))
      .dropDuplicates("k").localCheckpoint()
    val writer = new graft.etl.DerivedState(spark, root,
      fingerprint = "svc-lang:len-rule", keyCol = "k",
      deriveOf = (rows, _) => rows.select(col("k"),
        when(length(col("text")) >= 80, "long")
          .otherwise("short").as("lang")))
    writer.update(docs)
    graft.etl.EtlViews.registerDerivedView(spark, "etl_lang", root)
    val conn = connect()
    try {
      val st = conn.createStatement()
      // the JDBC view matches the store's own reader, row for row
      val rs = st.executeQuery(
        "SELECT lang, count(*) AS n FROM etl_lang GROUP BY lang ORDER BY lang")
      val wire = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getString(1), r.getLong(2))).toSeq
      val truth = writer.derived().groupBy("lang")
        .agg(count(lit(1)).as("n")).orderBy("lang")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(wire === truth && wire.map(_._2).sum === docs.count())
    } finally conn.close()
  }

  test("federation store views serve the folded cross-member surface over JDBC") {
    import org.apache.spark.sql.functions._
    // two member dedup stores + the incremental federation store; the
    // daemon-side registration reconstructs member read handles from
    // the store's MEMBERS file (openFedDedup) — a JDBC view refresh
    // reads the persisted fold, never the one-shot merge
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val a = new graft.etl.DedupState(spark, tmp("svcfed-a"),
      graft.queries.EtlQueries.bandKeys,
      gramsOf = Some(graft.queries.EtlQueries.gram4Of))
    val b = new graft.etl.DedupState(spark, tmp("svcfed-b"),
      graft.queries.EtlQueries.bandKeys,
      gramsOf = Some(graft.queries.EtlQueries.gram4Of))
    a.update(docs.filter(col("doc_id") % 2 === 0))
    b.update(docs.filter(col("doc_id") % 2 === 1))
    val fedRoot = tmp("svcfed-merge")
    val fed = new graft.etl.FedDedupState(spark, fedRoot, Seq(a, b))
    fed.fold()
    graft.etl.EtlViews.registerFedDedupViews(spark, "fed", fedRoot)
    // the contamination federation beside it
    val ca = new graft.etl.ContamState(spark, tmp("svcfedc-a"),
      graft.queries.EtlQueries.contamGrams, dfCap = 5L)
    val cb = new graft.etl.ContamState(spark, tmp("svcfedc-b"),
      graft.queries.EtlQueries.contamGrams, dfCap = 5L)
    ca.update(docs.filter(col("doc_id") % 2 === 0))
    cb.update(docs.filter(col("doc_id") % 2 === 1))
    val fedCRoot = tmp("svcfedc-merge")
    new graft.etl.FedContamState(spark, fedCRoot, Seq(ca, cb)).fold()
    graft.etl.EtlViews.registerFedContamViews(spark, "fed", fedCRoot)
    val conn = connect()
    try {
      val st = conn.createStatement()
      // cluster sizes over the wire match the federation store's reader
      val rs = st.executeQuery(
        """SELECT cluster, count(*) AS n FROM fed_clusters
          |GROUP BY cluster ORDER BY n DESC, cluster LIMIT 5""".stripMargin)
      val wire = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getLong(1), r.getLong(2))).toSeq
      val truth = fed.docClusters().groupBy("cluster")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("cluster"))
        .limit(5).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(wire === truth)
      // every doc of the union corpus appears exactly once
      val rs2 = st.executeQuery(
        "SELECT count(*) AS n, count(DISTINCT doc_id) AS d FROM fed_clusters")
      assert(rs2.next() && rs2.getLong("n") === docs.count() &&
        rs2.getLong("d") === docs.count())
      // pair attributes are present and sane in canonical rid space
      val rs3 = st.executeQuery(
        """SELECT count(*) AS n,
          |  sum(CASE WHEN jac_num > jac_den THEN 1 ELSE 0 END) AS bad
          |FROM fed_dup_pairs""".stripMargin)
      assert(rs3.next() && rs3.getLong("n") > 0L && rs3.getLong("bad") === 0L)
      // the federated contamination evidence respects the global cap
      val rs4 = st.executeQuery(
        """SELECT max(df) AS mx FROM (
          |  SELECT g, count(*) AS df FROM fed_contamination GROUP BY g) t"""
          .stripMargin)
      assert(rs4.next() && rs4.getLong(1) <= 5L)
    } finally conn.close()
  }

  test("a saturated query pool sheds JDBC statements with [426]") {
    // a deliberately slow view: every partition sleeps, so the first
    // statement reliably HOLDS its query-pool permit while the second
    // arrives — deterministic saturation, no timing races
    spark.range(4).repartition(4)
      .mapPartitions { it => Thread.sleep(4000); it }(
        org.apache.spark.sql.Encoders.LONG)
      .toDF("v").createOrReplaceTempView("svc_slow")
    graft.plans.QueryGate.install(spark, new graft.engine.Admission(
      Map(graft.engine.Admission.Query -> 1), maxQueue = 0))
    val c1 = connect()
    val c2 = connect()
    try {
      val slowErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val slowN = new java.util.concurrent.atomic.AtomicLong(-1)
      val done = new java.util.concurrent.CountDownLatch(1)
      val t1 = new Thread(() => {
        try {
          val rs = c1.createStatement()
            .executeQuery("SELECT count(*) AS n FROM svc_slow")
          if (rs.next()) slowN.set(rs.getLong(1))
        } catch { case e: Throwable => slowErr.set(e) }
        finally done.countDown()
      })
      t1.start()
      // wait until the slow statement actually holds the pool's permit
      val deadline = System.currentTimeMillis() + 15000
      while (graft.plans.QueryGate.heldBy(spark) < 1 &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(graft.plans.QueryGate.heldBy(spark) == 1,
        "slow statement never acquired the query permit")
      // pool saturated + zero queue: the concurrent statement sheds
      // with the recognizable retryable error, end to end over JDBC
      val shed = intercept[java.sql.SQLException] {
        c2.createStatement()
          .executeQuery("SELECT count(*) AS n FROM svc_points")
      }
      assert(shed.getMessage.contains("426"),
        s"expected the [426] shed signal, got: ${shed.getMessage}")
      // the in-flight statement completes unharmed
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(slowErr.get() == null,
        s"in-flight statement must complete: ${slowErr.get()}")
      assert(slowN.get() == 4L)
      // once the permit drains (async end-event), the shed statement
      // kind succeeds again
      while (graft.plans.QueryGate.heldBy(spark) > 0 &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      val rs = c2.createStatement()
        .executeQuery("SELECT count(*) AS n FROM svc_points")
      assert(rs.next() && rs.getLong(1) == 512L)
    } finally {
      graft.plans.QueryGate.uninstall(spark)
      c1.close(); c2.close()
    }
  }
}
