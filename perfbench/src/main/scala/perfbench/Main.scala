package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** The JVM half of the benchmark. `run.py` generates the inputs, starts
  * this program once per run and checks what it leaves behind.
  *
  * {{{
  * Main meta <out.json>
  * Main run <workload> <workDir> <seconds> <trace 0|1>
  * }}}
  *
  * `meta` writes the declared table catalog and the oracle SQL the
  * checks need. `run` sets up the workload several times, warms it up
  * once, measures about `seconds` of operations and writes `<workDir>/jvm.json`:
  * every timed operation, every set-up time and, when traced, the
  * per-layer figures. It calls the engine only through `EtlRun.onParquet(...).run`
  * and `SparkEntry.queries`; the traced run also calls each layer's
  * public functions.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = args.toList match {
    case List("meta", out) =>
      Files.writeString(Paths.get(out), Json(Meta.describe()))
    case List("run", workload, work, seconds, trace) =>
      val dir = Paths.get(work)
      val result = workload match {
        case "etl_replay" =>
          EtlBench.run(dir,
            Main.operations(seconds.toDouble, EtlBench.TickSeconds), trace == "1")
        case name if Workloads.queryLists.contains(name) =>
          val (queries, passSeconds) = Workloads.queryLists(name)
          QueryBench.run(queries, dir,
            Main.operations(seconds.toDouble, passSeconds), trace == "1")
        case other => sys.error(s"unknown workload $other")
      }
      Files.writeString(dir.resolve("jvm.json"), Json(result))
    case _ =>
      System.err.println("usage: Main meta <out> | Main run <workload> " +
        "<workDir> <seconds> <trace>")
      sys.exit(2)
  }

  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(): SparkSession = {
    val spark = GraftSession.local(cores, appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Stages the parquet tables under `dirs`: lists them and reads their
    * schemas through the session, as a query or a replay would first.
    */
  def stage(spark: SparkSession, dirs: Seq[Path]): Unit = dirs.foreach { d =>
    val s = Files.list(d)
    try s.iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(p => spark.read.parquet(p.toString).schema)
    finally s.close()
  }

  /** Timed operations in a run of `budget` seconds: enough to fill it at
    * an operation's nominal cost, fixed by the budget rather than by the
    * clock, so a slow host changes the figures but not which operations
    * a run measures.
    */
  def operations(budget: Double, nominal: Double): Int =
    math.max(1, math.ceil(budget / nominal).toInt)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Busy and stolen CPU time of the whole machine so far, in clock
    * ticks, from the first line of /proc/stat; zeros where it is absent.
    */
  def cpuTicks(): (Long, Long) = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) (0L, 0L)
    else {
      // user nice system idle iowait irq softirq steal
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    }
  }

  /** Share of the runnable CPU time between two `cpuTicks` readings
    * that the hypervisor gave to other machines.
    */
  def stolen(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val steal = to._2 - from._2
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }

  /** Produces every column of `df` and discards it. */
  def produce(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Frees blocks a previous operation left cached, blocking. */
  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Heap in use after a forced full collection, in MiB. */
  def liveHeapMb(): Double = {
    // the context cleaner frees shuffle and broadcast state only after
    // a collection finds it unreachable, so collect, let it run, repeat
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Size, modification time and file key (the inode, where there is
    * one) of every file under `p`.
    */
  def fileStamps(p: Path): Map[Path, (Long, Long, AnyRef)] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        f -> ((a.size, a.lastModifiedTime.toMillis, a.fileKey))
      }.toMap
      finally s.close()
    }

  /** Bytes of the files under `p` that are new or rewritten since the
    * `before` stamps were taken.
    */
  def writtenBytes(p: Path, before: Map[Path, (Long, Long, AnyRef)]): Long =
    fileStamps(p).collect { case (f, st) if !before.get(f).contains(st) => st._1 }.sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def error(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(400)
}

/** The query lists of the two query workloads. */
object Workloads {

  /** Reference-parity queries from the "parity" and "parity wave 2"
    * blocks of `SparkEntry.queries`, one or two per operator the ETL
    * uses: change-log count and skip counting, keyed and two-hop
    * extracts, the cascade, exists-split, both merges, normalization,
    * work units, latest-wins and log parsing. The other parity queries
    * repeat these operators and are left out to keep a run short.
    */
  val parity: Seq[String] = Seq(
    "s1_changelog_count", "s4_keyed_extract", "s6_two_hop",
    "s7_cascade_extract", "j3_exists_updates", "upsert_merge",
    "refresh_merge", "f1_normalize_upper", "a2_work_units",
    "a6_latest_wins", "s9_log_parse", "p6_skip_counting")

  /** Analytics heads, one per kernel family: APSS cosine (`Dedup`,
    * `Similarity`), Kneser-Ney scoring (`TextAnalysis`), blocked entity
    * resolution with survivorship (`Linkage`, connected components) and
    * frame sampling (`Multimodal`). The other ROADMAP heads
    * (`er_entities`, `dedup_components`, `seq_trajectory_sim`,
    * `media_features`) repeat these kernels and are left out to keep a
    * run short.
    */
  val heads: Seq[String] = Seq(
    "dedup_apss_cosine", "text_kn5_score", "er_golden_record", "media_frames")

  /** Each query workload's list and the nominal seconds of one pass. */
  val queryLists: Map[String, (Seq[String], Double)] = Map(
    "parity_queries" -> (parity, 5.0), "analytics_heads" -> (heads, 7.0))
}

/** What the Python checks read from the engine's declarations. */
object Meta {
  import graft.schema.{Cardinality, Catalog, Schemas}

  def describe(): Map[String, Any] = Map(
    "tables" -> Schemas.byName.keys.toSeq.sorted.map { name =>
      val spec = Catalog.specFor(name)
      name -> Map(
        "key" -> spec.key,
        "one_to_one" -> (spec.cardinality == Cardinality.OneToOne),
        "upper" -> spec.upperCols,
        "schema" -> Schemas.byName(name).json)
    }.toMap,
    "oracle" -> (Workloads.parity ++ Workloads.heads)
      .flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
}

/** A minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
