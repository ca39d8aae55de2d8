package graft

import org.apache.spark.metrics.source.CodegenMetrics
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
    assert(c("spark.sql.codegen.cache.maxEntries") == "1024")
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

  test("the recipe's codegen cache holds a repeating cycle: its second pass compiles almost nothing") {
    // Spark's compiled-class cache is an LRU of 100 entries by
    // default; a cycle of more classes than that never hits, so every
    // pass recompiles every class. Every compile is one sample of
    // CodegenMetrics.METRIC_COMPILATION_TIME.
    val spark = TestSpark.spark
    val cycle = Seq("dedup_apss_cosine", "text_kn5_score", "er_golden_record")
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      cycle.foreach(q => SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles()
    val second = compiles()
    info(s"compiles: first pass $first, second pass $second")
    assert(first > 100, s"the cycle must outgrow Spark's default 100 entries (first pass $first)")
    assert(second * 10 <= first, s"first pass $first, second pass $second")
  }
}
