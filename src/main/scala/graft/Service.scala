package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

import graft.engine.{Btrdb, Federation}
import graft.functions.GraftExtensions

/** The long-running service surface: Spark's Thrift JDBC/ODBC server
  * over the engine's registered SQL views — the Spark-native analog of
  * the reference's gRPC daemon (18 RPCs,
  * /root/reference/grpcinterface/btrdb.proto:5-23, serve.go). Any
  * JDBC/ODBC client (beeline, BI tools, a driverless script) can query
  * `<prefix>_points` / `<prefix>_catalog` / `<prefix>_commits` as plain
  * SQL, with the Catalyst pyramid substitution firing SERVER-side —
  * stat-shaped aggregates are answered from the rollup, not the point
  * log, for clients that have never heard of this library.
  *
  * The service attaches READ-ONLY (`lockRoot = false`): the engine's
  * documented reader/writer contract (ReaderIsolationSpec) means an
  * ingest writer keeps its advisory lock and commit cadence while any
  * number of service JVMs serve queries — the daemon adds no second
  * writer and needs no coordination.
  *
  * Usage: `sbt "runMain graft.Service <engineRoot> [prefix] [port]"`,
  * then e.g. `beeline -u jdbc:hive2://localhost:<port>`.
  */
object Service {

  /** Start the Thrift server on an already-configured session (the
    * session must have been built with
    * `spark.sql.hive.thriftServer.singleSession=true` so JDBC
    * connections share the session that holds the temp views and the
    * engine's optimizer extension, and with `hive.server2.thrift.port`
    * set). Returns the server handle (typed as the public Hive
    * supertype — the Spark subclass is package-private to Scala);
    * `stop()` it to shut down. */
  def start(spark: SparkSession): org.apache.hive.service.server.HiveServer2 =
    HiveThriftServer2.startWithSparkSession(spark, exitOnError = false)

  /** A session shaped for serving: views + substitution rule shared
    * with every JDBC connection, engine extensions installed. Hive
    * side-artifacts (derby log, warehouse dir) land in a temp scratch,
    * not the process working directory. */
  def buildSession(port: Int, cpus: Int): SparkSession = {
    // getOrCreate would silently RETURN a pre-existing session without
    // applying the port or singleSession confs — the server would bind
    // the wrong port and JDBC clients would stop sharing the
    // view-holding session. The service must own its session.
    val leftover = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    require(leftover.isEmpty,
      "graft.Service must build its own SparkSession; a live one already " +
        "exists in this JVM (thrift port / singleSession confs would be " +
        "silently ignored by getOrCreate)")
    val scratch =
      java.nio.file.Files.createTempDirectory("graft-service").toString
    System.setProperty("derby.stream.error.file", s"$scratch/derby.log")
    SparkSession.builder()
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft-service")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one shared session: temp views and the pyramid-substitution
      // registration live in the session the views were created in
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("hive.server2.thrift.port", port.toString)
      .getOrCreate()
  }

  /** Cheap fingerprint of a root's externally-visible state: the live
    * catalog directory (named by its pointer) and its listing — a stream
    * creation appends there without moving the pointer — plus the
    * commit-log and staging listings. Four filesystem metadata calls —
    * safe at any polling cadence. The state itself (small string
    * collections) is compared, not a hash of it: a hash collision
    * between successive states would silently skip a refresh until the
    * NEXT mutation — an indefinitely stale view with no signal. */
  private def epochOf(e: Btrdb): Seq[Seq[String]] = {
    val catalog = e.catalogDir
    Seq(catalog +: e.store.listNames(catalog).sorted,
      e.store.listNames("commits").sorted,
      e.store.listNames("staging").sorted)
  }

  /** Keep the registered views tracking the writers: registered temp
    * views capture their parquet file lists and merge topology at
    * registration, so a writer's commits, flushes and catalog rewrites
    * are invisible (at best) to a long-running daemon until someone
    * re-registers. This daemon-side poller re-seeds each engine's
    * caches and re-runs the registration whenever a root's fingerprint
    * moves — the reference daemon reads every RPC from live state; a
    * bounded staleness window (one poll interval) is the Spark-native
    * equivalent. Returns the started daemon thread. */
  def autoRefresh(engines: Seq[Btrdb], register: () => Unit,
                  intervalMs: Long,
                  extraEpoch: () => Seq[String] = () => Nil): Thread = {
    val t = new Thread(() => {
      def epoch() = (engines.map(epochOf), extraEpoch())
      var last = epoch()
      var running = true
      while (running) {
        try {
          Thread.sleep(intervalMs)
          val now = epoch()
          if (now != last) {
            engines.foreach { e =>
              e.refreshCatalog(); e.refreshCommits(); e.refreshStaging()
            }
            register()
            last = now
          }
        } catch {
          case _: InterruptedException => running = false
          // a half-written external mutation can surface transiently
          // (e.g. a commit file mid-rename); the next tick retries
          case e: Throwable =>
            System.err.println(s"[graft.Service] view refresh failed: $e")
        }
      }
    }, "graft-service-view-refresh")
    t.setDaemon(true)
    t.start()
    t
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.Service <engineRoot>[,root2,...] [viewPrefix] [port]")
    val roots = args(0).split(",").toSeq.filter(_.nonEmpty)
    require(roots.nonEmpty,
      "usage: graft.Service <engineRoot>[,root2,...] [viewPrefix] [port]")
    val prefix = if (args.length > 1) args(1) else "graft"
    val port = if (args.length > 2) args(2).toInt else 10000
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = buildSession(port, cpus)
    spark.sparkContext.setLogLevel("WARN")
    // per-statement admission — the reference sheds load with [426] on
    // every RPC (internal/rez); here every JDBC statement takes one
    // "query"-pool permit for its whole execution, queues when the pool
    // is saturated, and sheds with the retryable [426] once the waiter
    // queue is full. Sized by env so an operator can match the
    // deployment (defaults: concurrency = cpus, queue = 4× that).
    val qPool = sys.env.get("SPARK_GRAFT_QUERY_POOL").map(_.toInt)
      .getOrElse(cpus)
    val qQueue = sys.env.get("SPARK_GRAFT_QUERY_QUEUE").map(_.toInt)
      .getOrElse(4 * qPool)
    graft.plans.QueryGate.install(spark,
      new graft.engine.Admission(
        Map(graft.engine.Admission.Query -> qPool), maxQueue = qQueue))
    // one root: the full view surface incl. pyramid substitution.
    // several: the federated union surface (engine-tagged), plus each
    // member's own views under <prefix>_<i> for member-scoped queries
    // with the substitution still available per member.
    val (engines, registerEngines): (Seq[Btrdb], () => Unit) = roots match {
      case Seq(root) =>
        val e = Btrdb.attach(spark, root, lockRoot = false)
        (Seq(e), () => e.registerViews(prefix))
      case many =>
        val members = many.zipWithIndex.map { case (r, i) =>
          (s"e$i", Btrdb.attach(spark, r, lockRoot = false), s"${prefix}_$i")
        }
        (members.map(_._2), () => {
          members.foreach { case (_, e, p) => e.registerViews(p) }
          Federation.registerViews(spark, prefix,
            members.map(m => (m._1, m._2)))
        })
    }
    // the ETL/curation stores' SQL surface (graft.etl.EtlViews):
    // point the daemon at persisted store roots and their views
    // register read-only beside the telemetry views —
    //   SPARK_GRAFT_ETL_DEDUP / _CONTAM: single-store roots
    //     (cluster / dup-report / pair-similarity / contamination);
    //   SPARK_GRAFT_ETL_FED_DEDUP / _FED_CONTAM: incremental
    //     FEDERATION store roots — the SAME view surface over the
    //     cross-member folded state (member handles reconstruct from
    //     the store's MEMBERS file);
    //   SPARK_GRAFT_ETL_DERIVED: comma-separated `family=root` pairs
    //     (e.g. `lang=/store/lang,codes=/store/sq8,cells=/store/km`) —
    //     each DerivedState family registers its derived table as
    //     `<prefix>_<family>`, so language / quantizer-code / semantic-
    //     cell / span / vocabulary lookups are a JDBC query, and a NEW
    //     family is an env entry, not a code change.
    val dedupRoot = sys.env.get("SPARK_GRAFT_ETL_DEDUP").filter(_.nonEmpty)
    val contamRoot = sys.env.get("SPARK_GRAFT_ETL_CONTAM").filter(_.nonEmpty)
    val fedDedupRoot =
      sys.env.get("SPARK_GRAFT_ETL_FED_DEDUP").filter(_.nonEmpty)
    val fedContamRoot =
      sys.env.get("SPARK_GRAFT_ETL_FED_CONTAM").filter(_.nonEmpty)
    val derivedSpecs: Seq[(String, String)] =
      sys.env.get("SPARK_GRAFT_ETL_DERIVED").filter(_.nonEmpty)
        .map(_.split(",").toSeq.collect {
          case e if e.contains("=") =>
            val Array(n, r) = e.split("=", 2); (n.trim, r.trim)
        }).getOrElse(Seq.empty)
    // a store root whose writer has not produced META/CURRENT yet (or a
    // member root that is transiently unreachable) must not kill the
    // daemon at startup: log, skip, and flag the failure so the refresh
    // poller re-attempts on its NEXT tick — a failed registration marks
    // the epoch fingerprint dirty, because waiting for the store's own
    // epoch to move would never retry against an existing quiescent
    // store whose first attempt failed for an unrelated reason
    val registrationIncomplete =
      new java.util.concurrent.atomic.AtomicBoolean(false)
    // bounded: a PERMANENTLY bad root (typo'd path) must not make the
    // poller re-register the whole surface every tick forever — after
    // the budget, retries stop until some store's epoch genuinely
    // moves (which re-runs register() and refills nothing: the budget
    // is per-daemon, deliberately)
    val retryBudget = new java.util.concurrent.atomic.AtomicInteger(120)
    def tolerably(what: String)(f: => Unit): Unit =
      try f catch {
        case e: Exception =>
          registrationIncomplete.set(true)
          // scalastyle:off println
          System.err.println(s"[graft.Service] $what not registrable " +
            s"yet (${e.getMessage}); the refresh poller will retry " +
            s"(${retryBudget.get()} ticks left)")
          // scalastyle:on println
      }
    // a single-store root AND a federation root of the same family may
    // serve together: the federation's views then register under
    // `<prefix>_fed_*` instead of silently clobbering the single
    // store's identically-named surface (last-registered-wins is a temp
    // view property; the daemon must not hide one source behind it)
    val fedDedupPrefix =
      if (dedupRoot.isDefined) s"${prefix}_fed" else prefix
    val fedContamPrefix =
      if (contamRoot.isDefined) s"${prefix}_fed" else prefix
    val register: () => Unit = () => {
      registrationIncomplete.set(false)
      registerEngines()
      dedupRoot.foreach(r => tolerably(s"dedup views at $r")(
        graft.etl.EtlViews.registerDedupViews(spark, prefix, r)))
      contamRoot.foreach(r => tolerably(s"contam views at $r")(
        graft.etl.EtlViews.registerContamViews(spark, prefix, r)))
      fedDedupRoot.foreach(r => tolerably(s"federated dedup views at $r")(
        graft.etl.EtlViews.registerFedDedupViews(spark, fedDedupPrefix, r)))
      fedContamRoot.foreach(r => tolerably(s"federated contam views at $r")(
        graft.etl.EtlViews.registerFedContamViews(spark,
          fedContamPrefix, r)))
      derivedSpecs.foreach { case (name, r) =>
        tolerably(s"derived view $name at $r")(
          graft.etl.EtlViews.registerDerivedView(spark,
            s"${prefix}_$name", r))
      }
    }
    register()
    // track external writers: re-register when any root's state moves
    // — engine roots by catalog/commit/staging fingerprint, store
    // roots by their CURRENT pointer (0 disables); an incomplete
    // registration appends a fresh nonce so the fingerprint differs
    // every tick until a register() pass completes cleanly
    val refreshMs = sys.env.get("SPARK_GRAFT_REFRESH_MS").map(_.toLong)
      .getOrElse(5000L)
    val storeRoots = dedupRoot.toSeq ++ contamRoot.toSeq ++
      fedDedupRoot.toSeq ++ fedContamRoot.toSeq ++ derivedSpecs.map(_._2)
    if (refreshMs > 0) autoRefresh(engines, register, refreshMs,
      () => storeRoots.map(graft.etl.EtlViews.epochOf) ++
        (if (registrationIncomplete.get() &&
            retryBudget.getAndDecrement() > 0)
          Seq(s"retry-${System.nanoTime()}") else Seq.empty))
    start(spark)
    val etlViews = dedupRoot.map(_ =>
        s",${prefix}_clusters,${prefix}_dup_report,${prefix}_dup_pairs")
      .getOrElse("") +
      fedDedupRoot.map(_ => s",${fedDedupPrefix}_clusters," +
        s"${fedDedupPrefix}_dup_report,${fedDedupPrefix}_dup_pairs")
        .getOrElse("") +
      contamRoot.map(_ => s",${prefix}_contamination").getOrElse("") +
      fedContamRoot.map(_ => s",${fedContamPrefix}_contamination")
        .getOrElse("") +
      derivedSpecs.map { case (n, _) => s",${prefix}_$n" }.mkString
    // scalastyle:off println
    println(s"""{"service":"thrift-jdbc","port":$port,"roots":${roots.size},""" +
      s""""views":"${prefix}_points,${prefix}_catalog$etlViews"}""")
    // scalastyle:on println
    // the server's non-daemon threads keep the JVM alive; park main
    Thread.currentThread.join()
  }
}
