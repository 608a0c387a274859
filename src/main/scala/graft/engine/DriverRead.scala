package graft.engine

import java.math.BigInteger

import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
  VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.operators.StatOps

/** Parquet decoding on the calling thread, for the reads the engine
  * answers without a Spark job (see `Btrdb.fit`): Spark's own
  * vectorized reader, over one Hadoop configuration per engine handle.
  * Building a `Configuration` per file instead loads the default
  * resources each time and costs more than the job it replaces. */
private[engine] final class LocalParquet(spark: SparkSession) {
  private val conf = spark.sessionState.newHadoopConf()
  conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
  // the session settings Spark's Parquet scan hands its readers
  Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
    SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.VARIANT_ALLOW_READING_SHREDDED, SQLConf.NESTED_SCHEMA_PRUNING_ENABLED)
    .foreach(e => conf.set(e.key,
      spark.sessionState.conf.getConfString(e.key, e.defaultValueString)))

  /** Calls `f` with every batch of `columns` decoded from `files`. The
    * row groups and pages `filter` rules out are skipped; the rows of
    * the others still need the caller's own filter. */
  def foreach(files: Seq[FileStatus], columns: StructType, filter: FilterPredicate)(
      f: ColumnarBatch => Unit): Unit =
    if (files.nonEmpty) {
      // one copy per read carries its columns and filter; a JobConf is
      // used by the task context as is, where any other conf is copied
      val job = new JobConf(conf)
      job.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, columns.json)
      ParquetInputFormat.setFilterPredicate(job, filter)
      val ctx = new TaskAttemptContextImpl(job, new TaskAttemptID())
      files.foreach { file =>
        val reader = new VectorizedParquetRecordReader(false, LocalParquet.BatchRows)
        try {
          reader.initialize(
            new FileSplit(file.getPath, 0, file.getLen, Array.empty[String]), ctx)
          reader.initBatch(new StructType(), InternalRow.empty)
          while (reader.nextBatch()) f(reader.resultBatch())
        } finally reader.close()
      }
    }
}

private[engine] object LocalParquet {
  /** Spark's default `spark.sql.parquet.columnarReaderBatchSize`. */
  private val BatchRows = 4096

  private def long(name: String): Operators.LongColumn = FilterApi.longColumn(name)

  /** `column` in [lo, hi). */
  def inRange(column: String, lo: Long, hi: Long): FilterPredicate =
    FilterApi.and(FilterApi.gtEq[java.lang.Long, Operators.LongColumn](long(column), lo),
      FilterApi.lt[java.lang.Long, Operators.LongColumn](long(column), hi))

  /** Stream `sid`'s rows with `column` in [lo, hi). */
  def inRange(sid: Long, column: String, lo: Long, hi: Long): FilterPredicate =
    FilterApi.and(FilterApi.eq[java.lang.Long, Operators.LongColumn](long("sid"), sid),
      inRange(column, lo, hi))
}

/** AlignedWindows stats folded on the calling thread: the
  * (cnt, vmin, vmean, vmax) of `Btrdb.RawStats` over points and of
  * `Btrdb.RollupStats` over rollup rows, with [[StatOps]]'s cents
  * rules. The mean is Σcents/100/cnt when every value of the window has
  * a cents integer, else the IEEE mean Σvalue/cnt. */
private[engine] final class WindowFold(pw: Int) {
  private final class Acc {
    var cnt = 0L; var ccnt = 0L
    var vmin = 0.0; var vmax = 0.0; var vsum = 0.0
    // exact Σcents: a long until a sum leaves its range
    var cents = 0L; var bigCents: BigInteger = null

    /** Widens the window's range by [lo, hi], before its count grows. */
    def range(lo: Double, hi: Double): Unit = {
      if (cnt == 0 || lo < vmin) vmin = lo
      if (cnt == 0 || hi > vmax) vmax = hi
    }
    def addCents(c: Long): Unit = {
      val r = cents + c
      if (((cents ^ r) & (c ^ r)) < 0) {
        bigCents = exactCents.add(BigInteger.valueOf(c)); cents = 0L
      } else cents = r
    }
    def addCents(c: BigInteger): Unit = { bigCents = exactCents.add(c); cents = 0L }
    def exactCents: BigInteger =
      if (bigCents == null) BigInteger.valueOf(cents) else bigCents.add(BigInteger.valueOf(cents))
    def mean: Double =
      if (ccnt == cnt)
        (if (bigCents == null) cents.toDouble else exactCents.doubleValue) / 100.0 / cnt
      else vsum / cnt
  }

  private val windows = scala.collection.mutable.HashMap.empty[Long, Acc]
  // rows arrive in time order within a file, so most land in the last window
  private var lastStart = 0L
  private var last: Acc = null

  private def at(wstart: Long): Acc = {
    val w = if (pw >= 64) 0L else (wstart >> pw) << pw
    if (last == null || w != lastStart) {
      last = windows.getOrElseUpdate(w, new Acc); lastStart = w
    }
    last
  }

  def point(t: Long, v: Double): Unit = {
    val a = at(t)
    a.range(v, v)
    a.cnt += 1; a.vsum += v
    if (StatOps.inCentsDomain(v)) { a.ccnt += 1; a.addCents(StatOps.centsOf(v)) }
  }

  /** One rollup row; `cents` is null when none of its values has a cents
    * integer. */
  def rollup(wstart: Long, cnt: Long, ccnt: Long, vmin: Double, vmax: Double,
             vsum: Double, cents: BigInteger): Unit = {
    val a = at(wstart)
    a.range(vmin, vmax)
    a.cnt += cnt; a.ccnt += ccnt; a.vsum += vsum
    if (cents != null) a.addCents(cents)
  }

  /** (wstart, vmin, vmean, vmax, cnt) per window, in wstart order. */
  def rows: Seq[(Long, Double, Double, Double, Long)] =
    windows.toSeq.sortBy(_._1).map { case (w, a) => (w, a.vmin, a.mean, a.vmax, a.cnt) }
}

private[engine] object WindowFold {
  /** Changes over one stream's commit ranges (version, s, e) — the rule
    * of [[StatOps.changes]]: the ranges of versions in (fromV, toV],
    * snapped outward to 2^resolution, merged where they overlap or
    * touch, in start order. */
  def changes(ranges: Seq[(Long, Long, Long)], fromV: Long, toV: Long,
              resolution: Int): Seq[(Long, Long)] = {
    def clamp(t: Long) = if (resolution >= 64) 0L else (t >> resolution) << resolution
    val snapped = ranges.collect { case (v, s, e) if v > fromV && v <= toV =>
      (clamp(s), Math.addExact(clamp(Math.subtractExact(e, 1L)), 1L << resolution))
    }.sorted
    val out = Seq.newBuilder[(Long, Long)]
    var seg: (Long, Long) = null
    var reach = Long.MinValue // the largest end of every earlier range
    snapped.foreach { case (s, e) =>
      if (seg == null || s > reach) {
        if (seg != null) out += seg
        seg = (s, e)
      } else seg = (seg._1, math.max(seg._2, e))
      reach = math.max(reach, e)
    }
    if (seg != null) out += seg
    out.result()
  }
}
