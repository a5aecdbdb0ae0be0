package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session recipe, [[Session.local]]: every spec runs on it
  * through [[SparkTestSession]], and the mains and scale benches build
  * theirs with it, so its configuration is pinned here once. */
class SessionSpec extends AnyFunSuite {
  test("the shared test session carries Session.local's configuration") {
    val spark = SparkTestSession.spark
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    // FixtureDriftSpec's legacy Long-nanos arrival reads through this flag
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
