package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The engine reads its Parquet areas with declared schemas
  * ([[Btrdb.PointsSchema]] and its siblings) instead of inferring them
  * from file footers. A declared column that drifted from what the
  * writers produce would read as silent nulls, so this spec exercises
  * every writer (insert, flush with a batch left staged, delete,
  * compact, purge, the replay-orphan repair, the quantile rollup, a
  * catalog rewrite) and checks that the footer-inferred schema of each
  * area matches its constant: data columns by name, order and type,
  * partition columns by name. Every point-log file must also carry the
  * zstd codec over v2 data pages, the encoding the storage density
  * depends on. */
class SchemaConformanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("schema-conformance-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = spark.stop()

  private def assertConforms(area: String, declaredDdl: String): Unit = {
    val rel = spark.read.parquet(area).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr.relation.asInstanceOf[HadoopFsRelation]
    }.get
    val declared = StructType.fromDDL(declaredDdl)
    val parts = rel.partitionSchema.fieldNames.toSeq
    val declaredData = declared.fields.toSeq
      .filterNot(f => parts.contains(f.name)).map(f => f.name -> f.dataType)
    assert(declaredData == rel.dataSchema.fields.toSeq.map(f => f.name -> f.dataType),
      s"$area: data columns drifted from the declared schema")
    assert(declared.fieldNames.toSeq.filter(parts.contains) == parts,
      s"$area: partition columns drifted from the declared schema")
  }

  /** A root exercised by every writer. Each point-log rewrite lands in
    * its own tbucket (width 2^12), so the files of each writer survive:
    * compact rewrites tbucket 0, purge tbucket 2, the replay-orphan
    * repair tbucket 4, and a plain flush writes tbucket 6. */
  private lazy val root: String = {
    val root = Files.createTempDirectory("schemaspec").toString
    val db = new Btrdb(spark, root, sBuckets = 1, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(4, 8),
      pyramidWBucketPw = 12, quantileLevel = Some(4))
    try {
      val (uuid, gone, orphaned) = ("u-schema", "u-gone", "u-orphaned")
      Seq(uuid, gone, orphaned).foreach(u => db.createStream(u, "test/schema", Map("s" -> u)))
      def insert(u: String, from: Long, until: Long): Unit =
        db.insert(u, spark.createDataFrame(
          (from until until).map(t => (t, t * 0.25))).toDF("time", "value"))
      insert(uuid, 0L, 2000L)
      insert(uuid, 8192L, 8292L)
      insert(gone, 8192L, 8292L)
      insert(orphaned, 16384L, 16484L)
      db.flushAll(maxAgeMillis = 0)
      db.deleteRange(uuid, 100L, 900L)
      db.compact(uuid)
      db.obliterate(gone)
      db.purgeObliterated()
      // a replayed generation whose commit record was lost: its rows
      // are orphans above the committed major, which the repair drops
      db.replayInsert(orphaned, 2L, spark.createDataFrame(
        (16400L until 16410L).map(t => (t, 1.0, 2L))).toDF("time", "value", "version"))
      Files.delete(Paths.get(root, "commits", s"commit-${db.sidOf(orphaned)}-2.json"))
      db.refreshCommits()
      assert(db.dropUncommittedReplay(orphaned) == 10L)
      insert(uuid, 24576L, 24676L)
      db.flush(uuid)
      db.setAnnotations(uuid, 0L, Map("k" -> "v")) // catalog rewrite
      insert(uuid, 3000L, 3100L) // left staged
      assert(db.version(uuid)._2 == 100L)
      assert(db.rawValues(uuid, 0L, 1L << 20).count() == 1500L)
    } finally db.close()
    root
  }

  test("every engine-owned Parquet area matches its declared schema") {
    val catalogs = (Paths.get(root, "catalog_v").toFile.listFiles().toSeq
      .map(_.toPath) :+ Paths.get(root, "catalog"))
      .filter(Files.exists(_)).map(_.toString)
    assert(catalogs.nonEmpty)
    catalogs.foreach(assertConforms(_, Btrdb.CatalogSchema))
    assertConforms(s"$root/points", Btrdb.PointsSchema)
    assertConforms(s"$root/pyramid", Btrdb.PyramidSchema)
    assertConforms(s"$root/qhist", Btrdb.QhistSchema)
    assertConforms(s"$root/staging", Btrdb.StagingSchema)
  }

  test("every point-log file is zstd-compressed with v2 data pages") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(root, "points")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    val tbuckets = files.map(f => Paths.get(f).getParent.getFileName.toString).toSet
    assert(tbuckets == Set("tbucket=0", "tbucket=2", "tbucket=4", "tbucket=6"),
      s"each writer's files survive: $tbuckets")
    val conf = spark.sessionState.newHadoopConf()
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).foreach { c =>
        assert(c.getCodec == CompressionCodecName.ZSTD, s"$f ${c.getPath}: ${c.getCodec}")
        assert(c.getEncodingStats.usesV2Pages, s"$f ${c.getPath}: v1 data pages")
      } finally reader.close()
    }
  }
}
