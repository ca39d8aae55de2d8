package graft
import org.apache.spark.sql.SparkSession

import graft.Verify.jstr

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * One timing protocol, the same for every query (see [[timeOne]]):
  *  - queries run once each, in name order, and each reported time is
  *    that query's own reading in this pass — the bench reads no file
  *    and re-times nothing afterwards, so a query slowed by what an
  *    earlier query left behind shows as slow;
  *  - each query gets one untimed warm-up execution (whole-stage-codegen
  *    compilation + JVM JIT are ~seconds per plan regardless of data
  *    size and would swamp the engine cost being compared);
  *  - before each query, every persistent RDD is unpersisted (blocking)
  *    and System.gc() runs, so one query's checkpoint blocks
  *    and collection debt are not billed to its alphabetical neighbour;
  *  - each query is timed at least twice and the BEST time is reported;
  *    if the two samples disagree by more than 2x a third is taken.
  *    Min-of-N is the stable estimator on a noisy shared host — the
  *    minimum is the run least perturbed by external interference;
  *  - failures are never folded into timings: a failing query reports
  *    -1 with the exception recorded in an "errors" JSON field, and a
  *    registered query with no timing entry is named there too.
  *
  * The CPU [[canary]] is timed first and last around the suite; per-query
  * times are also reported in canary units (`value_norm`). Whether a
  * change moved the engine beyond host noise is judged by perfbench's
  * alternating parent/change pairs, not by this line.
  */
object Bench {

  /** Registered queries that lack a timing entry — must be empty; the
    * only guard against a refactor silently dropping suite coverage.
    */
  def missingCoverage(timedNames: Set[String]): Set[String] =
    SparkEntry.queries.keySet -- timedNames

  /** Constant-work noise canary: a fixed CPU-bound in-memory probe (no
    * I/O, no data shuffle — 2B xxhash64 rows folded to one bit_xor)
    * timed FIRST and LAST around the suite with the same warm-up +
    * min-of-N protocol as the queries. Its cost depends only on host
    * CPU availability, so a round-over-round inflation of the canary
    * is host noise, not a code regression — per-query times are also
    * reported normalized (raw / mean canary), making cross-round
    * totals comparable without a standalone re-run.
    */
  def canary(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
    def work(): Unit = {
      spark.range(0L, 2000000000L, 1L, 64)
        .select(xxhash64(col("id")).as("h"))
        .agg(bit_xor(col("h"))).collect(); ()
    }
    // deeper warm-up than the queries get: the canary's generated code
    // must reach C2 steady state or the FIRST reading bakes JIT tiering
    // into what should be a pure host-contention signal (a cold first
    // canary measured 2.1x its post-suite twin with identical host load)
    work(); work()
    val samples = scala.collection.mutable.ArrayBuffer[Double]()
    while (samples.size < 4) {
      val t0 = System.nanoTime()
      work()
      samples += (System.nanoTime() - t0) / 1e9
    }
    samples.min
  }

  /** One query's bench reading: the best of at least two timed
    * executions after an untimed warm-up, or the first failure's
    * message. Each execution produces the whole result through the
    * `noop` sink, so every column the query computes is computed; a
    * `count()` would let Catalyst prune the columns it does not need.
    */
  def timeOne(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : Either[String, Double] = {
    // free the previous query's leftover checkpoint blocks NOW, and
    // BLOCK until the removal completes: a non-blocking unpersist would
    // leave block-manager removals running concurrently with the next
    // timed sample
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    def run(): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        Left((e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)) }
    }
    run().flatMap { _ => // warm-up: codegen + JIT, untimed
      val samples = scala.collection.mutable.ArrayBuffer[Double]()
      var failed: Option[String] = None
      while (failed.isEmpty && samples.size < 3 &&
          (samples.size < 2 || samples.max > samples.min * 2)) {
        run() match {
          case Left(err) => failed = Some(err)
          case Right(t) => samples += t
        }
      }
      failed.toLeft(samples.min)
    }
  }

  /** The stdout line and the full record, built from one suite's
    * readings (`results`: raw seconds per query, -1 for a failure).
    *
    * The line is COMPACT — totals, the canary pair, the slowest-8 raw
    * map and any errors — so a tail capture of stdout holds it whole.
    * `value`/`slowest` are RAW SECONDS; `value_norm` is raw ÷ mean
    * canary. The record (written to `bench_out.json`, never read back)
    * is the line plus the full `queries_norm` and raw `queries` maps,
    * raw LAST so even a tail-truncated read of the file sees raw.
    */
  def report(sfDir: String, canaryFirst: Double, canaryLast: Double,
      results: Seq[(String, Double)], errors: Seq[(String, String)])
      : (String, String) = {
    def r3(x: Double) = math.rint(x * 1000) / 1000
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val canaryMean = (canaryFirst + canaryLast) / 2.0
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => k -> r3(v) }
    val errJson =
      if (errors.isEmpty) ""
      else ",\"errors\":" + obj(errors.map { case (k, v) => k -> jstr(v) })
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""canary_s":{"first":${r3(canaryFirst)},"last":${r3(canaryLast)}},""" +
      s""""value_norm":${r3(total / canaryMean)},"sf":${jstr(sfDir)},""" +
      s""""n_queries":${results.size},"queries_file":"bench_out.json",""" +
      s""""slowest":${obj(slowest)}$errJson"""
    val norm = results.map { case (k, v) =>
      k -> (if (v >= 0) r3(v / canaryMean) else -1.0) }
    (head + "}",
      head + s""","queries_norm":${obj(norm)},"queries":${obj(results)}}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, appName = "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    val canaryFirst = canary(spark)
    val timed = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timeOne(spark, sfDir, fn)
    }
    val canaryLast = canary(spark)
    val results = timed.map { case (name, t) => name -> t.getOrElse(-1.0) }
    val errors = timed.collect { case (name, Left(err)) => name -> err } ++
      missingCoverage(results.map(_._1).toSet).toSeq.sorted
        .map(_ -> "no timing entry recorded for registered query")

    val (line, record) =
      report(sfDir, canaryFirst, canaryLast, results, errors)
    println(line)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (record + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // file write is best-effort
    spark.stop()
  }
}
