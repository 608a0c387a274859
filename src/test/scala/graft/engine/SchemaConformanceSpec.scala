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
  * compact, the quantile rollup, a catalog rewrite) and checks that
  * the footer-inferred schema of each area matches its constant: data
  * columns by name, order and type, partition columns by name. */
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

  test("every engine-owned Parquet area matches its declared schema") {
    val root = Files.createTempDirectory("schemaspec").toString
    val db = new Btrdb(spark, root, sBuckets = 4, tBucketPw = 12,
      bufferCommitThreshold = 1 << 20, pyramidLevels = Seq(4, 8),
      pyramidWBucketPw = 12, quantileLevel = Some(4))
    try {
      val uuid = "u-schema"
      db.createStream(uuid, "test/schema", Map("s" -> "1"))
      def insert(from: Long, until: Long): Unit =
        db.insert(uuid, spark.createDataFrame(
          (from until until).map(t => (t, t * 0.25))).toDF("time", "value"))
      insert(0L, 2000L)
      db.flush(uuid)
      db.deleteRange(uuid, 100L, 900L)
      db.compact(uuid)
      db.setAnnotations(uuid, 0L, Map("k" -> "v")) // catalog rewrite
      insert(3000L, 3100L) // left staged
      assert(db.version(uuid)._2 == 100L)

      val catalogs = (Paths.get(root, "catalog_v").toFile.listFiles().toSeq
        .map(_.toPath) :+ Paths.get(root, "catalog"))
        .filter(Files.exists(_)).map(_.toString)
      assert(catalogs.nonEmpty)
      catalogs.foreach(assertConforms(_, Btrdb.CatalogSchema))
      assertConforms(s"$root/points", Btrdb.PointsSchema)
      assertConforms(s"$root/pyramid", Btrdb.PyramidSchema)
      assertConforms(s"$root/qhist", Btrdb.QhistSchema)
      assertConforms(s"$root/staging", Btrdb.StagingSchema)
    } finally db.close()
  }
}
