package graft.engine

/** One stream's commit state as one immutable value — the generation a
  * read sees (PAPER.md §1.1 "Version": a write produces a new immutable
  * generation and a read sees exactly one). [[Btrdb]] keeps one value
  * per stream in a concurrent map: every commit publishes the next value
  * after its atomic file publish, and every read takes one snapshot, so
  * no read can combine fields of two generations. The stream's live
  * commit records are part of the value, so the commit log is the union
  * of the states ([[CommitLog]]).
  *
  * The transitions below are the only way a state changes. Seeding folds
  * [[committed]] over the commit log in version order ([[StreamState.fold]]),
  * so a freshly attached handle holds the same value as the live one.
  *
  * @param major          last committed generation
  * @param minor          staged (unflushed) point count
  * @param stagedEnvelope time envelope of the staged points, an
  *                       over-approximation that bounds `nearest` probes
  * @param records        the live commit records, the ones the supersede
  *                       rule keeps, in version order
  * @param envelope       committed time envelope (inserts only), an
  *                       over-approximation of where points can exist
  * @param floor          version of the latest compacted record, 0 if
  *                       none: history at or below it is collapsed, and
  *                       pins below it read as empty
  * @param grid           true iff every live insert commit carried only
  *                       values on the 2-decimal cents grid, the
  *                       precondition for serving SQL avg/sum exactly
  *                       from the pyramid's integer cents sums
  * @param watermark      the pyramid fold watermark: None until first
  *                       read from `pyramid/_wm-<sid>`, then the stamp
  *                       (None when the file is absent) */
final case class StreamState(
    major: Long = 0L,
    minor: Long = 0L,
    stagedEnvelope: Option[(Long, Long)] = None,
    records: Vector[CommitRecord] = Vector.empty,
    envelope: Option[(Long, Long)] = None,
    floor: Long = 0L,
    grid: Boolean = true,
    watermark: Option[Option[Long]] = None) {

  /** Live delete commits as (version, tmin, tmax): the anti-filters every
    * read folds in. */
  lazy val deletes: Vector[(Long, Long, Long)] =
    records.collect { case r if r.kind == "delete" => (r.version, r.tmin, r.tmax) }

  /** Touched ranges [s, e) of every live commit as (version, s, e): the
    * input of `changes`. */
  lazy val ranges: Vector[(Long, Long, Long)] =
    records.flatMap(r => r.ranges.map { case (s, e) => (r.version, s, e) })

  /** The state after commit record `r`, records coming in version
    * order. This is the commit log's one supersede rule: a compacted
    * record at V replaces every plain record at or below V and any older
    * compacted record, and resets the envelope and grid flag to its own.
    * A plain record at or below the major is already folded in (a reseed
    * may read a record whose commit then publishes it) or superseded, and
    * leaves the state as it is. A zero-point insert covers nothing:
    * envelope and grid flag stay as they are. A purge record (the bytes
    * of an obliterated stream are gone) empties the state. */
  def committed(r: CommitRecord): StreamState =
    if (r.kind == "purge") StreamState.Empty
    else if (!r.compacted && r.version <= major) this
    else {
      val next =
        if (!r.compacted) copy(major = r.version, records = records :+ r)
        else copy(major = math.max(major, r.version),
          records = r +: records.filter(_.version > r.version), envelope = None,
          floor = r.version, grid = r.grid)
      if (r.kind == "insert" && r.npoints > 0)
        next.copy(envelope = Some(StreamState.widen(next.envelope, r.tmin, r.tmax)),
          grid = next.grid && r.grid)
      else next
    }

  /** The state after `n` points in [tmin, tmax] were staged. */
  def staged(n: Long, tmin: Long, tmax: Long): StreamState =
    copy(minor = minor + n, stagedEnvelope = Some(StreamState.widen(stagedEnvelope, tmin, tmax)))

  /** The state after a flush committed the write buffer. */
  def flushed: StreamState = copy(minor = 0L, stagedEnvelope = None)
}

object StreamState {
  val Empty: StreamState = StreamState()

  /** Per-stream states from a commit log, each stream's records folded
    * in version order (a compacted record after the plain one at its
    * version). */
  def fold(records: Iterable[CommitRecord]): Map[Long, StreamState] =
    records.groupBy(_.sid).map { case (sid, rs) =>
      sid -> rs.toSeq.sortBy(r => (r.version, r.compacted)).foldLeft(Empty)(_ committed _)
    }

  private def widen(env: Option[(Long, Long)], lo: Long, hi: Long): (Long, Long) =
    env.fold((lo, hi)) { case (a, b) => (math.min(a, lo), math.max(b, hi)) }
}
