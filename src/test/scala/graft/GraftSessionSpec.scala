package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's recommended-configuration contract (`GraftSession`):
  * the recipe is data, so pin it — Bench/Verify and a
  * cluster job must run the same semantics-bearing settings (UTC,
  * nanos-as-long) and the same scale knobs (shuffle width, AQE,
  * scan-split size).
  */
class GraftSessionSpec extends AnyFunSuite {

  test("recommended conf: scale knobs and semantics pins") {
    val c = GraftSession.recommendedConf(32)
    assert(c("spark.sql.shuffle.partitions") == "32")
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.files.maxPartitionBytes") == (128L << 20).toString)
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("recommended conf: rejects degenerate inputs") {
    intercept[IllegalArgumentException] { GraftSession.recommendedConf(0) }
    intercept[IllegalArgumentException] {
      GraftSession.recommendedConf(8, maxPartitionBytes = 1024)
    }
  }

  test("local(): applies the recipe on first creation (shared test JVM reuses the session)") {
    // In this JVM TestSpark's session already exists, so getOrCreate
    // returns it — assert the DOCUMENTED reuse behavior plus that the
    // semantics-bearing settings hold on the shared session too (the
    // test harness sets the same ones).
    // getOrCreate applies the recipe's NON-static confs (e.g.
    // shuffle.partitions=4) to the existing shared session — restore
    // them after the assertion so later suites keep the harness width
    // (order-dependent behavior otherwise).
    val prevShuffle = TestSpark.spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val s = GraftSession.local(4)
      assert(s eq TestSpark.spark)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    } finally {
      TestSpark.spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }
}
