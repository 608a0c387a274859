package graft.engine

import java.math.BigInteger
import java.util.concurrent.{Callable, ExecutionException, Future, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

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

import graft.core.TimeOps
import graft.operators.StatOps

/** Parquet decoding on the driver, for the reads the engine answers
  * without a Spark job (the serving path, see [[OrderedReader]]): Spark's
  * own vectorized reader, over one Hadoop configuration per engine
  * handle. Building a `Configuration` per file instead loads the default
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

  /** The decoding of `columns` from files: the row groups and pages
    * `filter` rules out are skipped; the rows of the others still need
    * the caller's own filter. One copy of the configuration carries the
    * columns and filter, shared by every file of a read as Spark's scan
    * shares one among its tasks (a JobConf is used by the task context as
    * is, where any other conf is copied). */
  final class Reading(columns: StructType, filter: FilterPredicate) {
    private val ctx = {
      val job = new JobConf(conf)
      job.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, columns.json)
      ParquetInputFormat.setFilterPredicate(job, filter)
      new TaskAttemptContextImpl(job, new TaskAttemptID())
    }

    /** A reader of `file` with its footer read: the file is open, so it
      * still reads if it is deleted afterwards. */
    def open(file: FileStatus): VectorizedParquetRecordReader = {
      val reader = new VectorizedParquetRecordReader(false, LocalParquet.BatchRows)
      try {
        reader.initialize(
          new FileSplit(file.getPath, 0, file.getLen, Array.empty[String]), ctx)
        reader.initBatch(new StructType(), InternalRow.empty)
        reader
      } catch { case t: Throwable => reader.close(); throw t }
    }

    /** Calls `f` with every batch of `files`. */
    def foreach(files: Seq[FileStatus])(f: ColumnarBatch => Unit): Unit =
      files.foreach { file =>
        val reader = open(file)
        try while (reader.nextBatch()) f(reader.resultBatch())
        finally reader.close()
      }
  }

  /** Calls `f` with every batch of `columns` decoded from `files`. */
  def foreach(files: Seq[FileStatus], columns: StructType, filter: FilterPredicate)(
      f: ColumnarBatch => Unit): Unit =
    if (files.nonEmpty) new Reading(columns, filter).foreach(files)(f)
}

private[engine] object LocalParquet {
  /** Spark's default `spark.sql.parquet.columnarReaderBatchSize`. */
  val BatchRows = 4096

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

/** The rows of one stream's point-log files a read keeps: times in
  * [start, end), versions at or below `pin`, and none that a delete
  * commit at or below the pin hides, given as (version, tmin, tmax). */
private[engine] final case class Kept(sid: Long, start: Long, end: Long, pin: Long,
                                      hidden: Seq[(Long, Long, Long)])

/** The rows of one serving-path read, produced as they are pulled;
  * `close` releases a read that is left undrained. */
private[engine] abstract class Rows[R] extends scala.collection.AbstractIterator[R]
    with AutoCloseable

private[engine] object Rows {
  /** Rows already computed: nothing to release. */
  def of[R](rows: Iterator[R]): Rows[R] = new Rows[R] {
    def hasNext: Boolean = rows.hasNext
    def next(): R = rows.next()
    def close(): Unit = ()
  }
}

/** The serving path's one reader of points: one stream's visible points
  * in a time range, in (time, value) order, k-way merged on the calling
  * thread from time-sorted runs — every kept point-log file, and the
  * write buffer — as the reference merges its tree with its write
  * buffer (pqm.go:428-470) and never sorts globally.
  *
  * A fixed pool of daemon threads, one per session core, decodes each
  * run [[OrderedReader.ReadAhead]] batches ahead of the merge, so memory
  * is bounded by runs × read-ahead, not by the range. A run's decode
  * gives its thread back whenever its read-ahead is full, so any number
  * of reads and runs share the pool. Files hold rows in the order their
  * writer's input had them, which is time order for a commit written
  * from a time-ordered frame; a file whose kept rows are not in time
  * order (a flush packs several staged files into one) is decoded whole
  * and sorted, and so is the write buffer. */
private[engine] final class OrderedReader(parquet: LocalParquet, threads: Int) {
  import OrderedReader._

  private val pool = {
    val p = new ThreadPoolExecutor(threads, threads, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, "graft-ordered-read")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** Decoded rows the open reads hold now; the most they held at once,
    * and the most runs one read merged, since the last reset (tests read
    * both). */
  private[engine] val held = new AtomicLong
  private[engine] val peakHeld = new AtomicLong
  private[engine] val peakRuns = new AtomicLong

  private def hold(n: Long): Unit = {
    val now = held.addAndGet(n)
    peakHeld.accumulateAndGet(now, math.max)
  }

  def close(): Unit = pool.shutdownNow()

  /** Stream `kept.sid`'s points in `files` and the write-buffer files
    * `buffer`, merged. Every file is opened, and the buffer decoded,
    * before this returns, so a file that vanished since its listing
    * throws here, before any point is read. */
  def points(files: Seq[FileStatus], kept: Kept, buffer: Seq[FileStatus]): Points = {
    val filter = LocalParquet.inRange(kept.sid, "time", kept.start, kept.end)
    lazy val rows = new parquet.Reading(PointColumns, filter)
    lazy val times = new parquet.Reading(SidTimeColumns, filter)
    lazy val staged = new parquet.Reading(StagedColumns,
      LocalParquet.inRange("time", kept.start, kept.end))
    val opening: Seq[Callable[Source]] =
      files.map(f => (() => fileRun(f, rows, times, kept)): Callable[Source]) ++
        (if (buffer.isEmpty) Nil else Seq((() => bufferRun(buffer, staged, kept)): Callable[Source]))
    val futures: Seq[Future[Source]] = opening.map(pool.submit(_))
    val sources = futures.map { f =>
      try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
    }
    sources.collectFirst { case Left(t) => t }.foreach { t =>
      sources.foreach(_.foreach(_.close()))
      throw t
    }
    peakRuns.accumulateAndGet(sources.size.toLong, math.max)
    new Points(sources.map(s => new Run(s.toOption.get)).toArray)
  }

  /** One point-log file as a run: streamed when its kept rows are in
    * time order (a pass over its sid and time columns tells), else
    * decoded whole and sorted. */
  private def fileRun(file: FileStatus, rows: parquet.Reading, times: parquet.Reading,
                      kept: Kept): Source = {
    val reader = rows.open(file)
    try {
      if (ordered(times, file, kept)) new FileSource(reader, kept)
      else {
        val out = new Growing
        try while (reader.nextBatch()) keep(reader.resultBatch(), kept, out)
        finally reader.close()
        out.sorted()
      }
    } catch { case t: Throwable => reader.close(); throw t }
  }

  private def ordered(times: parquet.Reading, file: FileStatus, kept: Kept): Boolean = {
    val reader = times.open(file)
    try {
      var last = Long.MinValue
      var ok = true
      while (ok && reader.nextBatch()) {
        val b = reader.resultBatch()
        val (sids, ts) = (b.column(0), b.column(1))
        var i = 0
        while (ok && i < b.numRows) {
          val t = ts.getLong(i)
          if (sids.getLong(i) == kept.sid && t >= kept.start && t < kept.end) {
            ok = t >= last
            last = t
          }
          i += 1
        }
      }
      ok
    } finally reader.close()
  }

  /** The write buffer as one run: its rows in the range, sorted. */
  private def bufferRun(files: Seq[FileStatus], staged: parquet.Reading, kept: Kept): Source = {
    val out = new Growing
    staged.foreach(files) { b =>
      val (ts, vs) = (b.column(0), b.column(1))
      var i = 0
      while (i < b.numRows) {
        val t = ts.getLong(i)
        if (t >= kept.start && t < kept.end) out.add(t, vs.getDouble(i))
        i += 1
      }
    }
    out.sorted()
  }

  /** Appends the rows of a batch of [[PointColumns]] that `kept` keeps. */
  private def keep(b: ColumnarBatch, kept: Kept, out: Growing): Unit = {
    val (sids, ts, vs, vers) = (b.column(0), b.column(1), b.column(2), b.column(3))
    val hidden = kept.hidden
    val anyHidden = hidden.nonEmpty
    var i = 0
    while (i < b.numRows) {
      val t = ts.getLong(i)
      val v = vers.getLong(i)
      if (sids.getLong(i) == kept.sid && t >= kept.start && t < kept.end && v <= kept.pin &&
          !(anyHidden && hidden.exists { case (dv, lo, hi) => t >= lo && t < hi && v < dv }))
        out.add(t, vs.getDouble(i))
      i += 1
    }
  }

  /** A run's rows, chunk by chunk; `next` is null at the end. */
  private abstract class Source {
    def next(): Chunk
    def close(): Unit
  }

  /** A time-ordered file, one batch per chunk, held while in flight. */
  private final class FileSource(reader: VectorizedParquetRecordReader, kept: Kept)
      extends Source {
    def next(): Chunk = {
      var c: Chunk = null
      while (c == null && reader.nextBatch()) {
        val b = reader.resultBatch()
        val out = new Growing(b.numRows)
        keep(b, kept, out)
        if (out.n > 0) c = new Chunk(out.times, out.values, out.n)
      }
      if (c != null) hold(c.n)
      c
    }
    def close(): Unit = reader.close()
  }

  /** Rows decoded whole and sorted: one chunk, held until the run ends. */
  private final class Memory(times: Array[Long], values: Array[Double], n: Int)
      extends Source {
    hold(n)
    private var taken = n == 0
    private var released = false
    def next(): Chunk = if (taken) null else { taken = true; new Chunk(times, values, n) }
    def close(): Unit = if (!released) { released = true; held.addAndGet(-n) }
  }

  /** Growable (time, value) columns. */
  private final class Growing(capacity: Int = 1024) {
    var times = new Array[Long](math.max(capacity, 16))
    var values = new Array[Double](times.length)
    var n = 0
    def add(t: Long, v: Double): Unit = {
      if (n == times.length) {
        times = java.util.Arrays.copyOf(times, n * 2)
        values = java.util.Arrays.copyOf(values, n * 2)
      }
      times(n) = t; values(n) = v; n += 1
    }
    def sorted(): Source = {
      sortByTime(times, values, n)
      new Memory(times, values, n)
    }
  }

  /** One run: its source decoded on the pool into at most
    * [[OrderedReader.ReadAhead]] chunks the merge has not finished. */
  private final class Run(source: Source) {
    private val ready = new LinkedBlockingQueue[AnyRef]()
    private val room = new AtomicInteger(ReadAhead)
    private val busy = new AtomicBoolean(false)
    @volatile private var stopped = false
    @volatile private var ended = false
    kick()

    private def kick(): Unit =
      if (!ended && (stopped || room.get > 0) && busy.compareAndSet(false, true))
        pool.execute(() => produce())

    private def produce(): Unit = {
      try {
        while (!ended && !stopped && room.get > 0) {
          val c = source.next()
          if (c == null) { ended = true; source.close(); ready.put(End) }
          else { room.decrementAndGet(); ready.put(c) }
        }
        if (stopped && !ended) { ended = true; source.close() }
      } catch {
        case t: Throwable =>
          ended = true
          try source.close() catch { case _: Throwable => () }
          ready.put(t)
      } finally busy.set(false)
      if (stopped) drain()
      // a chunk finished meanwhile may have made room
      kick()
    }

    /** The next chunk, null at the end; rethrows a decode failure. */
    def take(): Chunk = ready.take() match {
      case c: Chunk => c
      case t: Throwable => throw t
      case _ => null // End
    }

    private def release(c: Chunk): Unit =
      if (source.isInstanceOf[FileSource]) held.addAndGet(-c.n)

    /** The merge is done with chunk `c`. */
    def done(c: Chunk): Unit = {
      release(c)
      room.incrementAndGet()
      kick()
    }

    private def drain(): Unit = {
      var c = ready.poll()
      while (c != null) {
        c match { case ch: Chunk => release(ch); case _ => () }
        c = ready.poll()
      }
    }

    /** Stops decoding and releases the run's chunks and source. */
    def stop(): Unit = {
      stopped = true
      drain()
      try kick() catch { case _: java.util.concurrent.RejectedExecutionException => () }
    }
  }

  /** The merged points of one read, one at a time: `advance` moves to the
    * next point in (time, value) order — the order of a RawValues reply,
    * in which points of one time come in value order — and `time` and
    * `value` hold it. The merge picks the run with the least head time
    * and takes points from it while they stay below every other run's
    * head; points that share a time are gathered from every run and
    * sorted by value. */
  final class Points private[OrderedReader] (runs: Array[Run]) extends AutoCloseable {
    var time = 0L
    var value = 0.0
    private val chunks = new Array[Chunk](runs.length)
    private val at = new Array[Int](runs.length)
    // runs(0 until live) have a current point: chunks(r).times(at(r))
    private var live = 0
    private var cur = -1 // the run points are taken from, if any
    private var bound = 0L // the least head time of the other runs
    private var tie = new Array[Double](16)
    private var tieN = 0
    private var tieI = 0
    private var closed = false

    try {
      runs.indices.foreach { r =>
        val c = runs(r).take()
        if (c != null) {
          runs(live) = runs(r); chunks(live) = c; at(live) = 0; live += 1
        }
      }
    } catch { case t: Throwable => close(); throw t }

    /** Moves past the current point of run `r`, to its next chunk if
      * needed; a run that ends leaves the live runs. */
    private def step(r: Int): Unit = {
      at(r) += 1
      if (at(r) == chunks(r).n) {
        val run = runs(r)
        run.done(chunks(r))
        val c = run.take()
        if (c != null) { chunks(r) = c; at(r) = 0 }
        else {
          live -= 1
          runs(r) = runs(live); chunks(r) = chunks(live); at(r) = at(live)
          runs(live) = run; chunks(live) = null
        }
      }
    }

    private def head(r: Int): Long = chunks(r).times(at(r))

    def advance(): Boolean =
      if (tieI < tieN) { value = tie(tieI); tieI += 1; true }
      else if (closed) false
      else try {
        if (live == 0) { close(); false }
        else {
          if (cur < 0 || head(cur) >= bound) {
            cur = 0
            var r = 1
            while (r < live) { if (head(r) < head(cur)) cur = r; r += 1 }
            bound = Long.MaxValue
            r = 0
            while (r < live) { if (r != cur && head(r) < bound) bound = head(r); r += 1 }
          }
          val c = chunks(cur)
          val i = at(cur)
          val t = c.times(i)
          if (t < bound && i + 1 < c.n && c.times(i + 1) != t) {
            time = t; value = c.values(i); at(cur) = i + 1
          } else gather(t)
          true
        }
      } catch { case t: Throwable => close(); throw t }

    /** Emits the points at time `t` of every run, in value order. */
    private def gather(t: Long): Unit = {
      tieN = 0
      var r = live - 1
      while (r >= 0) {
        while (r < live && head(r) == t) {
          if (tieN == tie.length) tie = java.util.Arrays.copyOf(tie, tieN * 2)
          tie(tieN) = chunks(r).values(at(r)); tieN += 1
          step(r)
        }
        r -= 1
      }
      if (tieN > 1) java.util.Arrays.sort(tie, 0, tieN)
      cur = -1
      time = t; value = tie(0); tieI = 1
    }

    def isClosed: Boolean = closed

    def close(): Unit = if (!closed) {
      closed = true
      (0 until live).foreach(r => runs(r).done(chunks(r)))
      runs.foreach(_.stop())
    }

    /** The points as (time, value) rows. */
    def pairs: Rows[(Long, Double)] = new Rows[(Long, Double)] {
      private var ahead = false
      def hasNext: Boolean = ahead || { ahead = advance(); ahead }
      def next(): (Long, Double) = {
        if (!hasNext) throw new NoSuchElementException("no more points")
        ahead = false
        (time, value)
      }
      def close(): Unit = Points.this.close()
    }
  }
}

private[engine] object OrderedReader {
  /** Time-ordered rows of one run, `n` of them. */
  private final class Chunk(val times: Array[Long], val values: Array[Double], val n: Int)
  /** The end of a run. */
  private case object End

  /** Chunks of up to [[LocalParquet.BatchRows]] rows each run holds
    * decoded ahead of the merge, the one it is merging included. */
  val ReadAhead = 4

  private val PointColumns =
    StructType.fromDDL("sid BIGINT, time BIGINT, value DOUBLE, version BIGINT")
  private val SidTimeColumns = StructType.fromDDL("sid BIGINT, time BIGINT")
  private val StagedColumns = StructType.fromDDL("time BIGINT, value DOUBLE")

  /** Sorts the first `n` rows of the parallel columns by time, stably. */
  def sortByTime(times: Array[Long], values: Array[Double], n: Int): Unit = {
    var i = 1
    while (i < n && times(i - 1) <= times(i)) i += 1
    if (i < n) {
      // bottom-up merge sort through one scratch copy
      var (ts, vs) = (times, values)
      var (ts2, vs2) = (new Array[Long](n), new Array[Double](n))
      var width = 1
      while (width < n) {
        var lo = 0
        while (lo < n) {
          val mid = math.min(lo + width, n)
          val hi = math.min(lo + 2 * width, n)
          var (a, b, k) = (lo, mid, lo)
          while (k < hi) {
            if (b >= hi || (a < mid && ts(a) <= ts(b))) { ts2(k) = ts(a); vs2(k) = vs(a); a += 1 }
            else { ts2(k) = ts(b); vs2(k) = vs(b); b += 1 }
            k += 1
          }
          lo = hi
        }
        val (t0, v0) = (ts, vs)
        ts = ts2; vs = vs2; ts2 = t0; vs2 = v0
        width *= 2
      }
      if (ts ne times) {
        System.arraycopy(ts, 0, times, 0, n)
        System.arraycopy(vs, 0, values, 0, n)
      }
    }
  }
}

/** Window stats folded on the driver: the (cnt, vmin, vmean, vmax) of
  * `Btrdb.RawStats` over points and of `Btrdb.RollupStats` over rollup
  * rows, with [[StatOps]]'s cents rules, per window `key` of a time. The
  * mean is Σcents/100/cnt when every value of the window has a cents
  * integer, else the IEEE mean Σvalue/cnt. */
private[engine] final class WindowFold(key: Long => Long) {
  import WindowFold.Row

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
    def point(v: Double): Unit = {
      range(v, v)
      cnt += 1; vsum += v
      if (StatOps.inCentsDomain(v)) { ccnt += 1; addCents(StatOps.centsOf(v)) }
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
    def row(k: Long): Row = (k, vmin, mean, vmax, cnt)
  }

  private val windows = scala.collection.mutable.HashMap.empty[Long, Acc]
  // rows arrive in time order within a file, so most land in the last window
  private var lastKey = 0L
  private var last: Acc = null

  private def at(t: Long): Acc = {
    val k = key(t)
    if (last == null || k != lastKey) {
      last = windows.getOrElseUpdate(k, new Acc); lastKey = k
    }
    last
  }

  def point(t: Long, v: Double): Unit = at(t).point(v)

  /** One rollup row; `cents` is null when none of its values has a cents
    * integer. */
  def rollup(wstart: Long, cnt: Long, ccnt: Long, vmin: Double, vmax: Double,
             vsum: Double, cents: BigInteger): Unit = {
    val a = at(wstart)
    a.range(vmin, vmax)
    a.cnt += cnt; a.ccnt += ccnt; a.vsum += vsum
    if (cents != null) a.addCents(cents)
  }

  /** (key, vmin, vmean, vmax, cnt) per window folded so far, in key
    * order. */
  def rows: Seq[Row] = windows.toSeq.sortBy(_._1).map { case (k, a) => a.row(k) }

  /** The windows of `points`, which come in time order: each window is
    * emitted as soon as a point passes it, so one is open at a time. */
  def ordered(points: OrderedReader#Points): Rows[Row] = new Rows[Row] {
    private var open: Acc = null
    private var openKey = 0L
    private var out: Row = null
    def hasNext: Boolean = {
      while (out == null && (open != null || !points.isClosed)) {
        if (points.advance()) {
          val k = key(points.time)
          if (open != null && k != openKey) out = open.row(openKey)
          if (open == null || k != openKey) { open = new Acc; openKey = k }
          open.point(points.value)
        } else {
          if (open != null) out = open.row(openKey)
          open = null
        }
      }
      out != null
    }
    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("no more windows")
      val r = out
      out = null
      r
    }
    def close(): Unit = points.close()
  }
}

private[engine] object WindowFold {
  /** (window key, vmin, vmean, vmax, cnt). */
  type Row = (Long, Double, Double, Double, Long)

  /** AlignedWindows at 2^pw: a window's key is its start. */
  def aligned(pw: Int): WindowFold = new WindowFold(TimeOps.alignDown(_, pw))

  /** Windows of `width` from `start`: a window's key is its index
    * floorDiv(b - start, width) of a time's attribution bucket b — the
    * time itself at `bucketPw` 0 and the start of its 2^bucketPw bucket
    * above. */
  def windows(start: Long, width: Long, bucketPw: Int): WindowFold =
    new WindowFold(t =>
      Math.floorDiv((if (bucketPw <= 0) t else TimeOps.alignDown(t, bucketPw)) - start, width))

  /** Windows' `n` windows of `width` from `start` in order, as (wstart,
    * vmin, vmean, vmax, cnt): the non-empty windows `folded` holds (by
    * index, in index order) and, lazily, zeros for the others. */
  def filled(folded: Rows[Row], n: Long, start: Long, width: Long): Rows[Row] =
    new Rows[Row] {
      private var i = 0L
      private val it = folded.buffered
      def hasNext: Boolean = i < n
      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException("no more windows")
        while (it.hasNext && it.head._1 < i) it.next()
        val w = i * width + start
        val row =
          if (it.hasNext && it.head._1 == i) it.next().copy(_1 = w)
          else (w, 0.0, 0.0, 0.0, 0L)
        i += 1
        if (i == n) folded.close()
        row
      }
      def close(): Unit = folded.close()
    }

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
