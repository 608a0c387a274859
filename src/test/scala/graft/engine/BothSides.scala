package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert

/** Runs a read on both sides of the engine's small-read rule and checks
  * that they agree: once at the session's `spark.sql.files.openCostInBytes`
  * (a small per-stream read runs as one partition), and once with it at
  * 0, which keeps every non-empty read on the parallel plan. The read
  * must return a value with structural equality (collect to a Seq). */
object BothSides {
  private val Key = "spark.sql.files.openCostInBytes"

  def apply[T](spark: SparkSession)(read: => T): T = {
    val small = read
    val prior = spark.conf.getOption(Key)
    spark.conf.set(Key, "0")
    val parallel =
      try read finally prior.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    assert(small == parallel, "the one-partition and parallel plans disagree")
    small
  }
}
