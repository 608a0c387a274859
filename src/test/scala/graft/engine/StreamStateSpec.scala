package graft.engine

import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The per-stream commit state's transitions, with no Spark session:
  * seeding folds [[StreamState.committed]] over the commit log, which
  * must give the state the commit reader's supersede rule describes. */
class StreamStateSpec extends AnyFunSuite {

  /** One step of a stream's history: (kind, tmin, width, npoints, grid);
    * kind 0 inserts, 1 deletes, 2 compacts at the major, 3 replays a
    * compacted record above it (migration). */
  private val step: Gen[(Int, Long, Long, Long, Boolean)] = for {
    kind <- Gen.frequency(4 -> 0, 2 -> 1, 2 -> 2, 1 -> 3)
    tmin <- Gen.choose(-1000L, 1000L)
    width <- Gen.choose(0L, 500L)
    n <- Gen.oneOf(0L, 1L, 7L, 40L)
    grid <- Gen.oneOf(true, false)
  } yield (kind, tmin, width, n, grid)

  /** The records the engine writes for `steps` on stream `sid`: plain
    * inserts (some of zero points) and deletes at major + 1, compacted
    * records as compact and a replay write them. Every record stays in
    * the log, as when a crash interrupts compact's garbage collection. */
  private def records(sid: Long, steps: Seq[(Int, Long, Long, Long, Boolean)]): Seq[CommitRecord] = {
    var major = 0L
    var last: Option[CommitRecord] = None
    def compacted(v: Long, tmin: Long, tmax: Long, n: Long, grid: Boolean) =
      if (n == 0) CommitRecord(sid, v, "insert", 0L, 0L, 0L, Seq((0L, 1L)), compacted = true, grid = grid)
      else CommitRecord(sid, v, "insert", tmin, tmax, n, Seq((tmin, tmax + 1)), compacted = true, grid = grid)
    steps.flatMap { case (kind, tmin, width, n, grid) =>
      val tmax = tmin + width
      val r = kind match {
        case 0 =>
          major += 1
          Some(CommitRecord(sid, major, "insert", tmin, tmax, n,
            Seq((tmin, tmin + width / 2 + 1), (tmax, tmax + 1)), batches = Seq(major), grid = grid))
        case 1 =>
          major += 1
          Some(CommitRecord(sid, major, "delete", tmin, tmax, 0L, Seq((tmin, tmax))))
        // compact rewrites its record at an unchanged major: one file
        case 2 if major > 0 && !last.exists(l => l.compacted && l.version == major) =>
          Some(compacted(major, tmin, tmax, n, grid))
        case 3 =>
          major += 1
          Some(compacted(major, tmin, tmax, n, grid))
        case _ => None
      }
      last = r.orElse(last)
      r
    }
  }

  /** The commit reader's supersede rule (`Btrdb.commits`): a compacted
    * record at V replaces every plain record of its stream at or below V
    * and any older compacted record. */
  private def kept(log: Seq[CommitRecord]): Seq[CommitRecord] = {
    val cv = log.filter(_.compacted).groupBy(_.sid).map { case (sid, rs) => sid -> rs.map(_.version).max }
    log.filter(r => cv.get(r.sid).forall(v => r.version > v || (r.compacted && r.version == v)))
  }

  private val logs: Gen[Seq[CommitRecord]] = for {
    streams <- Gen.choose(1, 3)
    histories <- Gen.listOfN(streams, Gen.choose(0, 14).flatMap(Gen.listOfN(_, step)))
    order <- Gen.long
  } yield new scala.util.Random(order).shuffle(
    histories.zipWithIndex.flatMap { case (h, sid) => records(sid.toLong, h) })

  test("folding every record gives the state of folding only the records the supersede rule keeps") {
    val superseded = new java.util.concurrent.atomic.AtomicInteger
    val prop = Prop.forAll(logs) { log =>
      if (kept(log).size < log.size) superseded.incrementAndGet()
      StreamState.fold(log) == StreamState.fold(kept(log))
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(500)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(result.passed, Pretty.pretty(result))
    assert(superseded.get > 100, "too few histories hold a superseded record")
  }

  test("a compacted record resets deletes, ranges, envelope and grid flag to its own") {
    val live = StreamState.fold(Seq(
      CommitRecord(7, 1, "insert", 0, 99, 100, Seq((0L, 100L)), batches = Seq(11L), grid = false),
      CommitRecord(7, 2, "delete", 10, 20, 0, Seq((10L, 20L))),
      CommitRecord(7, 3, "insert", 500, 599, 100, Seq((500L, 600L)), grid = true)))(7L)
    assert(live == StreamState(major = 3, deletes = Vector((2L, 10L, 20L)),
      ranges = Vector((1L, 0L, 100L), (2L, 10L, 20L), (3L, 500L, 600L)),
      envelope = Some((0L, 599L)), grid = false))
    val survivors = live.committed(
      CommitRecord(7, 3, "insert", 0, 599, 190, Seq((0L, 600L)), compacted = true, grid = false))
    assert(survivors == StreamState(major = 3, ranges = Vector((3L, 0L, 600L)),
      envelope = Some((0L, 599L)), floor = 3, grid = false))
    // every point deleted: a zero-point compacted record covers no time
    val empty = survivors
      .committed(CommitRecord(7, 4, "delete", 0, 1000, 0, Seq((0L, 1000L))))
      .committed(CommitRecord(7, 4, "insert", 0, 0, 0, Seq((0L, 1L)), compacted = true, grid = false))
    assert(empty == StreamState(major = 4, ranges = Vector((4L, 0L, 1L)), floor = 4, grid = false))
    // a plain record at or below the major is already folded in
    assert(empty.committed(CommitRecord(7, 2, "delete", 10, 20, 0, Seq((10L, 20L)))) == empty)
  }

  test("staging widens the staged envelope, and a flush empties it") {
    val s = StreamState.Empty.staged(3, 10, 20).staged(2, 5, 12)
    assert(s.minor == 5 && s.stagedEnvelope.contains((5L, 20L)))
    assert(s.flushed == StreamState.Empty)
  }
}
