package graft

import graft.core.{Session, Tuning}
import org.scalatest.funsuite.AnyFunSuite

/** The suite must run the conf production runs: `Bench` and `Verify`
  * build through [[Session.local]], and so must [[SparkTestSession]], or
  * a plan or result the suite passes is not the one the oracle sees. */
class SessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("the test session carries every conf value production sessions set") {
    val expected = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      Tuning.ObjHashFallbackConfKey -> Tuning.objHashFallback,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    assert(expected.toSet.subsetOf(Session.conf.toSet),
      "Session.conf must set each of these keys")
    Session.conf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
  }
}
