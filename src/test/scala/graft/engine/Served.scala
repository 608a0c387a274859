package graft.engine

import org.scalatest.Assertions.assert

import graft.core.TimeConsts

/** Runs a read on the engine's serving path and checks it against the
  * read's DataFrame, the reference: the rows must be equal, and the read
  * must have been counted as one serving-path read of its kind, so the
  * check compares the driver's merge and fold with Spark's plan. */
object Served {
  /** Decoded rows the engine's open serving-path reads hold now. */
  def heldRows(db: Btrdb): Long = db.orderedReader.held.get

  private def onDriver[T](db: Btrdb, kind: String)(read: => T): T = {
    val before = db.readCounts(kind)
    val out = read
    val after = db.readCounts(kind)
    assert(after.reads == before.reads + 1,
      s"$kind was not answered on the serving path: $before -> $after")
    out
  }

  def raw(db: Btrdb, uuid: String, start: Long, end: Long,
          version: Long = TimeConsts.LatestGeneration): Seq[(Long, Double)] = {
    val local = onDriver(db, "raw")(db.serveRawValues(uuid, start, end, version).toList)
    val reference = db.rawValues(uuid, start, end, version).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(local == reference, s"raw values of $uuid in [$start, $end) at $version")
    local
  }

  /** `exactMean = false` for windows of off-grid values, whose IEEE mean
    * depends on summation order (Spark's partial sums vary too): vmean
    * then agrees within 1e-12 relative, every other column exactly. */
  def aligned(db: Btrdb, uuid: String, start: Long, end: Long, pw: Int,
              version: Long = TimeConsts.LatestGeneration,
              exactMean: Boolean = true): Seq[(Long, Double, Double, Double, Long)] = {
    val local = onDriver(db, "aligned")(
      db.serveAlignedWindows(uuid, start, end, pw, version).toList)
    val reference = db.alignedWindows(uuid, start, end, pw, version).collect()
      .map(r => (r.getAs[Long]("wstart"), r.getAs[Double]("vmin"),
        r.getAs[Double]("vmean"), r.getAs[Double]("vmax"), r.getAs[Long]("cnt"))).toList
    sameWindows(local, reference, exactMean,
      s"aligned windows of $uuid in [$start, $end) at pw $pw, version $version")
    local
  }

  /** [[Btrdb.windows]] without the strict final window; `exactMean` as
    * for [[aligned]]. */
  def windows(db: Btrdb, uuid: String, start: Long, end: Long, width: Long,
              version: Long = TimeConsts.LatestGeneration, depth: Int = 0,
              exactMean: Boolean = true): Seq[(Long, Double, Double, Double, Long)] = {
    val local = onDriver(db, "windows")(
      db.serveWindows(uuid, start, end, width, version, depth).toList)
    val reference = db.windows(uuid, start, end, width, version, depth).collect()
      .map(r => (r.getAs[Long]("wstart"), r.getAs[Double]("vmin"),
        r.getAs[Double]("vmean"), r.getAs[Double]("vmax"), r.getAs[Long]("cnt"))).toList
    sameWindows(local, reference, exactMean,
      s"windows of $uuid in [$start, $end) of width $width at depth $depth, version $version")
    local
  }

  private def sameWindows(local: Seq[(Long, Double, Double, Double, Long)],
                          reference: Seq[(Long, Double, Double, Double, Long)],
                          exactMean: Boolean, what: String): Unit = {
    assert(local.size == reference.size, s"$what: ${local.size} vs ${reference.size} rows")
    local.zip(reference).foreach { case (l, r) =>
      assert(l.copy(_3 = 0.0) == r.copy(_3 = 0.0), s"$what: $l vs $r")
      assert(if (exactMean) l._3 == r._3
        else math.abs(l._3 - r._3) <= 1e-12 * math.max(math.abs(r._3), Double.MinPositiveValue),
        s"$what: vmean $l vs $r")
    }
  }

  def changes(db: Btrdb, uuid: String, fromVersion: Long, toVersion: Long,
              resolution: Int): Seq[(Long, Long)] = {
    val local = onDriver(db, "changes")(
      db.serveChanges(uuid, fromVersion, toVersion, resolution).toList)
    val reference = db.changes(uuid, fromVersion, toVersion, resolution).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(local == reference,
      s"changes of $uuid in ($fromVersion, $toVersion] at resolution $resolution")
    local
  }
}
