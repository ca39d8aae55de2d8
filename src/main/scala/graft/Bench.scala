package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Trustworthiness (this is a measurement tool, its numbers must be
  * reproducible run-to-run):
  *  - each query gets one untimed warm-up execution (whole-stage-codegen
  *    compilation + JVM JIT are ~seconds per plan regardless of data
  *    size and would swamp the engine cost being compared);
  *  - queries are isolated from each other with a System.gc() between
  *    them, so one allocation-heavy query's collection debt isn't
  *    billed to its alphabetical neighbors (a 140 s phantom was once
  *    recorded for a query that reruns standalone in 3 s);
  *  - leftover persistent RDDs are unpersisted between queries:
  *    iterative operators (connected components) localCheckpoint per
  *    round, and the FINAL round's blocks are freed only by the async
  *    ContextCleaner after a driver GC — without the explicit sweep
  *    those blocks pile up across the suite and tax later queries'
  *    executor memory (the suspected cause of a 2x phantom on
  *    prepare_pretraining in round 4 that never reproduced standalone);
  *  - coverage is asserted: a registered query that somehow produced
  *    no timing entry is reported in "errors" instead of silently
  *    shrinking the suite;
  *  - each query is timed at least twice and the BEST time is reported;
  *    if the two samples disagree by more than 2x a third is taken.
  *    Min-of-N is the stable estimator on a noisy shared host — the
  *    minimum is the run least perturbed by external interference;
  *  - failures are never folded into timings: a failing query reports
  *    -1 with the exception recorded in an "errors" JSON field instead
  *    of being silently swallowed.
  *
  * Residual noise floor (measured, round 6): this VM shares a host,
  * and multi-minute host-side events can inflate EVERY sample of the
  * queries that fall inside the window by 2-6x — min-of-N cannot
  * defend when the whole window is slow (a 16.9 s full-suite reading
  * for dedup_cosine_components re-ran at 3.3 s standalone minutes
  * later, with identical code and heap). Cross-round comparisons
  * should therefore re-time suspicious per-query jumps in a fresh
  * JVM before treating them as regressions.
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
    * totals comparable without a standalone re-run (the r6 artifact
    * inflated 1.36x uniformly and needed manual adjudication).
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

  /** Constant-work DISK-I/O noise canary: a fixed-size parquet
    * write + read-back + localCheckpoint probe (the exact I/O mix of
    * the engine's checkpoint-heavy family — CC star rounds, APSS's
    * three materializations, the flagship barriers) timed FIRST and
    * LAST with the same warm-up + min-of-N protocol as the CPU canary.
    *
    * Why it exists: the CPU canary cannot adjudicate a STRUCTURED
    * regression — round 12's artifact inflated the checkpoint-heavy
    * family 1.3–2.1× while map-only CPU-bound families stayed flat and
    * the CPU canary moved only 14%, a pattern consistent with
    * host-side disk contention but formally unfalsifiable from the
    * artifact because the only noise instrument was CPU-bound. With
    * both canaries in the artifact, the adjudication is mechanical:
    * io-canary inflation matching the family inflation = host disk
    * noise; a flat io canary under a family regression = real code
    * cost. Reported as `canary_io_s` (raw seconds; NOT folded into
    * the normalization — `value_norm` stays CPU-normalized so it is
    * comparable with prior rounds' artifacts).
    *
    * Probe size: 4M rows × (long + long + 32-char md5) ≈ 90 MB of
    * parquet — big enough that write+read dominates scheduling
    * overhead, small enough to stay O(seconds) on a healthy host.
    * Checkpoint blocks are freed (blocking) after every sample so the
    * probe never taxes the suite it guards.
    */
  def canaryIo(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, md5, xxhash64}
    val dir = java.nio.file.Files.createTempDirectory("graft-io-canary")
    val path = dir.resolve("probe").toString
    def work(): Unit = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      spark.range(0L, 4000000L, 1L, 32)
        .select(col("id"), xxhash64(col("id")).as("h"),
          md5(col("id").cast("string")).as("s"))
        .write.mode("overwrite").parquet(path)
      val n = spark.read.parquet(path).localCheckpoint().count()
      require(n == 4000000L, s"io canary read $n rows")
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!before(id)) rdd.unpersist(true) }
    }
    // the CPU canary's exact protocol (2 warm-ups, min-of-4): a cold
    // first io reading bakes committer/codegen warm-up into what must
    // be a pure disk-contention signal, and first-vs-last is the
    // adjudication this probe exists for
    work(); work()
    val samples = scala.collection.mutable.ArrayBuffer[Double]()
    while (samples.size < 4) {
      val t0 = System.nanoTime()
      work()
      samples += (System.nanoTime() - t0) / 1e9
    }
    deleteRecursively(dir)
    samples.min
  }

  /** Best-effort recursive delete of a probe's temp dir. The walk
    * stream is closed explicitly — Files.walk holds DirectoryStreams
    * (open fds) until closed, and the bench takes many probe samples
    * per run.
    */
  private def deleteRecursively(dir: java.nio.file.Path): Unit =
    try {
      val walk = java.nio.file.Files.walk(dir)
      try walk
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    } catch { case _: Throwable => () }

  /** One-sample mini I/O probe (quarter-size [[canaryIo]] work, no
    * warm-up — by rerun time the committer and codegen paths are hot):
    * the phantom pass BRACKETS each suspect's re-run with one of these
    * before and one after, so the artifact carries a per-query
    * contention verdict. Round 13 proved the two-point suite-level io
    * canary cannot adjudicate a mid-suite window: both end readings
    * were healthy while the worst query inflated 14× between them —
    * "was the host slow at the ends?" is not "was the host slow when
    * THIS query ran?".
    */
  def canaryIoOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, md5, xxhash64}
    // a probe failure must NEVER abort the bench: by phantom-pass time
    // the whole suite has already run, and an uncaught throw here would
    // lose the round's artifact to a /tmp hiccup — report -1 instead
    // (the adjudication reads it as "no probe reading")
    val dir = try java.nio.file.Files.createTempDirectory("graft-io-probe")
      catch { case _: Throwable => return -1.0 }
    val path = dir.resolve("probe").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val t0 = System.nanoTime()
      spark.range(0L, 1000000L, 1L, 32)
        .select(col("id"), xxhash64(col("id")).as("h"),
          md5(col("id").cast("string")).as("s"))
        .write.mode("overwrite").parquet(path)
      val n = spark.read.parquet(path).localCheckpoint().count()
      val sec = (System.nanoTime() - t0) / 1e9
      if (n == 1000000L) sec else -1.0
    } catch { case _: Throwable => -1.0 }
    finally {
      try spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!before(id)) rdd.unpersist(true) }
      catch { case _: Throwable => () }
      deleteRecursively(dir)
    }
  }

  /** One-sample mini CPU probe (quarter-size [[canary]] work, no
    * warm-up — the suite-start canary already compiled and C2-warmed
    * this exact plan shape): the phantom pass pairs one of these with
    * each [[canaryIoOnce]] bracket around a suspect's re-run. Round 14
    * showed an io-only bracket is blind to CPU-side contention: a
    * flagship's re-run read 1.8× its prior between two HEALTHY io
    * brackets while the suite's first CPU canary sat 2.6× its last —
    * the host was CPU-saturated, not disk-saturated, and io brackets
    * alone would have convicted the code. A probe failure reports -1
    * ("no reading"), never an abort — same contract as
    * [[canaryIoOnce]].
    */
  def canaryCpuOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
    try {
      val t0 = System.nanoTime()
      spark.range(0L, 500000000L, 1L, 64)
        .select(xxhash64(col("id")).as("h"))
        .agg(bit_xor(col("h"))).collect()
      (System.nanoTime() - t0) / 1e9
    } catch { case _: Throwable => -1.0 }
  }

  /** Raw per-query seconds from a prior run's bench_out.json, parsed
    * with a dependency-free scan of its final `"queries":{...}` map —
    * the reference for the phantom re-run pass. Empty when the file
    * is absent or unreadable (first round, fresh checkout).
    */
  def priorRaw(path: String = "bench_out.json",
      sfDir: String = ""): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      // only a same-scale prior is a phantom reference: a run at a
      // different SF would flag (or mask) everything
      val sfOk = sfDir.isEmpty ||
        txt.contains("\"sf\":\"" + sfDir + "\"")
      val key = "\"queries\":{"
      val at = txt.lastIndexOf(key)
      if (at < 0 || !sfOk) Map.empty
      else {
        // scan to the MATCHING close brace (string-aware, depth-tracked)
        // rather than the first '}': a future field appended after the
        // map, or a nested value inside it, must not silently truncate
        // the prior map and disable/skew phantom detection
        val start = at + key.length
        var i = start; var depth = 1; var inStr = false; var esc = false
        while (i < txt.length && depth > 0) {
          val c = txt.charAt(i)
          if (esc) esc = false
          else if (inStr) { if (c == '\\') esc = true else if (c == '"') inStr = false }
          else c match {
            case '"' => inStr = true
            case '{' => depth += 1
            case '}' => depth -= 1
            case _ => ()
          }
          i += 1
        }
        if (depth != 0) Map.empty
        else {
          val body = txt.substring(start, i - 1)
          "\"([^\"]+)\":(-?[0-9.Ee+-]+)".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
    } catch { case _: Throwable => Map.empty }

  /** One query's bench reading: the best of at least two timed
    * executions after an untimed warm-up, or the first failure's
    * message. Each execution produces the whole result through the
    * `noop` sink, so every column the query computes is computed; a
    * `count()` would let Catalyst prune the columns it does not need.
    */
  def timeOne(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : Either[String, Double] = {
    // deterministic isolation: free the previous query's leftover
    // checkpoint blocks NOW, and BLOCK until the removal completes —
    // a non-blocking unpersist leaves the block-manager removals
    // running concurrently with the next timed sample (round-10's
    // dedup_cluster_sizes 3x in-suite phantom never reproduced
    // standalone; overlapping async cleanup was the one systematic
    // in-suite-only difference, so it is removed from the protocol)
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, appName = "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    val canaryFirst = canary(spark)
    val canaryIoFirst = canaryIo(spark)
    val prior = priorRaw(sfDir = sfDir)

    def timeQuery(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      timeOne(spark, sfDir, fn) match {
        case Left(err) => errors(name) = err; -1.0
        case Right(t) => t
      }

    val suite = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timeQuery(name, fn)
    }

    // Phantom bisect (automated round-9): host-contention windows
    // defeat min-of-N when EVERY in-window sample is slow, so any
    // query whose suite time exceeds 3x its previous run's raw (and
    // 1 s absolute, to skip micro-jitter) is RE-TIMED after the suite
    // — the standalone-style adjudication rounds 6-8 did by hand. The
    // reported time is the min over both passes (still the min-of-N
    // estimator, just with samples outside the contention window);
    // both readings are preserved in the artifact's "phantoms" map.
    // re-run pass bounded to the 12 biggest suspects (a code change
    // that legitimately slows many queries should not double the
    // suite, and the compact stdout line must stay inside the
    // driver's tail capture) — suspects beyond the 12 keep their
    // suite reading and are absent from the phantoms map
    val suspects = suite.filter { case (name, t) =>
      t > 1.0 && prior.get(name).exists(p => p > 0 && t > 3 * p) }
      .sortBy(-_._2).take(12)
    // a FAILED re-run must not contradict the artifact: the query
    // already succeeded in the suite (its time stands), so drop any
    // error the re-run attempt recorded
    val preRerunErrors = errors.keySet.toSet
    // each rerun is BRACKETED by one-sample io AND cpu probes: a
    // suspect that stays slow between healthy brackets on BOTH axes
    // is an honest regression signal; an inflated bracket on either
    // axis adjudicates it to host contention (io-only brackets proved
    // blind to CPU-saturation windows — see canaryCpuOnce)
    val reruns = suspects.map { case (name, _) =>
      val ioBefore = canaryIoOnce(spark)
      val cpuBefore = canaryCpuOnce(spark)
      val t = timeQuery(name, SparkEntry.queries(name))
      val cpuAfter = canaryCpuOnce(spark)
      val ioAfter = canaryIoOnce(spark)
      name -> ((t, ioBefore, ioAfter, cpuBefore, cpuAfter)) }.toMap
    for (name <- reruns.keys if !preRerunErrors(name)) errors.remove(name)
    val results = suite.map { case (name, t) =>
      val best = reruns.get(name).map(_._1).filter(r => r >= 0 && r < t)
        .getOrElse(t)
      name -> best
    }

    val canaryLast = canary(spark)
    val canaryIoLast = canaryIo(spark)

    for (name <- missingCoverage(results.map(_._1).toSet).toSeq.sorted)
      errors(name) = "no timing entry recorded for registered query"

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString(",\"errors\":{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // normalized view: raw seconds / mean canary seconds — per-query
    // cost in CANARY UNITS, comparable across rounds regardless of
    // host-side contention windows (canary fields ride EARLY in the
    // line so they survive the driver's tail truncation)
    val canaryMean = (canaryFirst + canaryLast) / 2.0
    def r3(x: Double) = math.rint(x * 1000) / 1000
    val qsNorm = results.map { case (k, v) =>
      jstr(k) + ":" + (if (v >= 0) r3(v / canaryMean) else -1.0)
    }.mkString("{", ",", "}")
    // Artifact convention (README "Bench artifact convention"):
    // `value`/`queries` are RAW SECONDS, `value_norm`/`queries_norm`
    // are canary-normalized (raw ÷ mean canary). STDOUT gets a
    // COMPACT line — totals, canary, phantom adjudications, errors,
    // and the slowest-8 raw map — sized to fit the driver's tail
    // capture whole, so the driver artifact parses (rounds 7-8
    // carried "parsed": null because the 12 KB full line overflowed
    // the capture). The FULL per-query maps live in bench_out.json.
    val phantomJson =
      if (suspects.isEmpty) ""
      else suspects.map { case (name, t) =>
        val (rr, ioB, ioA, cpuB, cpuA) =
          reruns.getOrElse(name, (-1.0, -1.0, -1.0, -1.0, -1.0))
        jstr(name) + s""":{"suite":${r3(t)},"rerun":${r3(rr)},"prior":${
          r3(prior.getOrElse(name, -1.0))},"io_before":${r3(ioB)},"io_after":${
          r3(ioA)},"cpu_before":${r3(cpuB)},"cpu_after":${r3(cpuA)}}"""
      }.mkString(",\"phantoms\":{", ",", "}")
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => jstr(k) + ":" + r3(v) }
      .mkString("{", ",", "}")
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""canary_s":{"first":${r3(canaryFirst)},"last":${r3(canaryLast)}},""" +
      s""""canary_io_s":{"first":${r3(canaryIoFirst)},"last":${r3(canaryIoLast)}},""" +
      s""""value_norm":${r3(total / canaryMean)},"sf":"$sfDir",""" +
      s""""n_queries":${results.size},"queries_file":"bench_out.json",""" +
      s""""slowest":$slowest$phantomJson$errJson"""
    println(head + "}")
    // full record: compact head + complete normalized and raw maps
    // (raw LAST, so even a tail-truncated read of the FILE sees raw)
    val line = head + s""","queries_norm":$qsNorm,"queries":$qs}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // file write is best-effort
    spark.stop()
  }
}
