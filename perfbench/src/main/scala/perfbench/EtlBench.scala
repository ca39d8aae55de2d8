package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.functions.Normalize
import graft.operators.Merge
import graft.pipeline.EtlRun

/** `etl_replay`: change-log batches replayed through
  * `EtlRun.onParquet(...).run`, one call per batch.
  *
  * Inputs under `<work>/etl`: `src/` and `target0/` hold the 12 tables,
  * `batches/` the change-log batches; `b000` is the warm-up batch and
  * the rest are replayed in order. A set-up starts a session, copies
  * `target0` to `target` and reads the tables' schemas; the warm-up
  * then replays `b000`. After each timed batch the target directory is
  * copied to `snap/<batch>` for the checks.
  */
object EtlBench {

  val TickSeconds = 5.0

  def run(work: Path, ticks: Int, trace: Boolean): Map[String, Any] = {
    val etl = work.resolve("etl")
    val src = etl.resolve("src").toString
    val target = etl.resolve("target")
    val batches = Files.list(etl.resolve("batches")).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    val batchPath = (b: String) => etl.resolve("batches").resolve(b).toString

    var spark: SparkSession = null
    val setups = (1 to Main.Setups).map { _ =>
      if (spark != null) spark.stop()
      val cpu0 = Main.cpuTicks()
      val t0 = System.nanoTime()
      spark = Main.session()
      Main.deleteTree(target)
      Main.copyTree(etl.resolve("target0"), target)
      Main.stage(spark, Seq(etl.resolve("src"), target))
      Map("seconds" -> Main.seconds(t0), "steal" -> Main.stolen(cpu0, Main.cpuTicks()))
    }
    val w0 = System.nanoTime()
    EtlRun.onParquet(spark, src, target.toString)
      .run(spark.read.parquet(batchPath(batches.head)))
    val warmup = Main.seconds(w0)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val canary = if (trace) graft.Bench.canary(spark) else 0.0
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    batches.tail.take(ticks).zipWithIndex.foreach { case (b, i) =>
      // the layers' own calls are made before the first timed batch only
      val traced = tracer.filter(_ => i == 0).map(t => layerFigures(spark, t, src, target,
        batchPath(b), etl.resolve("layer")))
      val run = EtlRun.onParquet(spark, src, target.toString)
      var report: graft.pipeline.RunReport = null
      var failure: Option[String] = None
      val before = Main.fileStamps(target)
      val cpu0 = Main.cpuTicks()
      val t0 = System.nanoTime()
      val tick = tracer match {
        case Some(t) =>
          t.window {
            try report = run.run(spark.read.parquet(batchPath(b)))
            catch { case e: Exception => failure = Some(Main.error(e)) }
          }
        case None =>
          try report = run.run(spark.read.parquet(batchPath(b)))
          catch { case e: Exception => failure = Some(Main.error(e)) }
          null
      }
      val secs = if (tick != null) tick.seconds else Main.seconds(t0)
      val steal = Main.stolen(cpu0, Main.cpuTicks())
      val published = Main.writtenBytes(target, before)
      Main.copyTree(target, etl.resolve("snap").resolve(b.stripSuffix(".parquet")))
      ops += Map(
        "batch" -> b.stripSuffix(".parquet"),
        "seconds" -> secs,
        "steal" -> steal,
        "error" -> failure,
        "publish_bytes" -> published,
        "total" -> Option(report).map(_.totalLogRecords),
        "skipped" -> Option(report).map(_.skipped),
        "extracted" -> Option(report).map(_.tables.map(r => r.table -> r.extracted).toMap),
        "table_errors" -> Option(report).map(_.tables.flatMap(r => r.error.map(r.table -> _)).toMap))
      if (tick != null) layers += traced.getOrElse(Map.empty) ++ Map(
        "EtlRun.jobs" -> tick.jobs.toDouble,
        "EtlRun.tasks" -> tick.tasks.toDouble,
        "EtlRun.job_s" -> tick.jobSeconds,
        "EtlRun.driver_s" -> (tick.seconds - tick.jobSeconds),
        "EtlRun.gc_s" -> tick.gcSeconds,
        "EtlRun.shuffle_mb" -> tick.shuffleMb,
        "Readers.input_mb" -> tick.inputMb,
        "EtlRun.rows" -> Option(report).map(_.processed.toDouble).getOrElse(0.0))
    }
    val heap = Main.liveHeapMb()
    tracer.foreach(_.close())
    spark.stop()
    val layerMedians = layers.flatMap(_.keys).distinct
      .map(k => k -> Main.median(layers.flatMap(_.get(k)).toSeq)).toMap
    Map(
      "setup_s" -> setups,
      "warmup_s" -> warmup,
      "ops" -> ops,
      "live_heap_mb" -> heap,
      "layers" -> (layerMedians ++ (if (trace) Map("host.canary_s" -> canary) else Map())))
  }

  /** Per-layer figures for one batch, taken before the tick on the same
    * state: each named table's extract produced in full, its merge
    * produced without publishing, and the merged frame published over a
    * scratch copy of the target table, counting the bytes it wrote.
    */
  private def layerFigures(spark: SparkSession, tracer: Tracer, src: String,
      target: Path, batch: String, scratch: Path): Map[String, Double] = {
    val run = EtlRun.onParquet(spark, src, target.toString)
    val valid = spark.read.parquet(batch)
      .filter(col("rsbsa_no").isNotNull && col("table").isNotNull)
    val named = valid.select("table").distinct().collect().map(_.getString(0)).toSeq
    val tables = (if (named.contains("farmparcelownership")) named :+ "farmparcel"
      else named).distinct.sorted
    val log = EtlRun.cascadeLog(valid)
    var extract, merge, publish, output = 0.0
    tables.foreach { t =>
      extract += tracer.window(Main.produce(run.extractFor(log, t))).seconds
      val merged = Merge.merge(t, spark.read.parquet(target.resolve(s"$t.parquet").toString),
        Normalize.forTable(run.extractFor(log, t), t))
      merge += tracer.window(Main.produce(merged)).seconds
      val staged = merged.localCheckpoint()
      val out = scratch.resolve(s"$t.parquet")
      Main.copyTree(target.resolve(s"$t.parquet"), out)
      val before = Main.fileStamps(out)
      publish += tracer.window(Merge.atomicOverwrite(staged, out.toString)).seconds
      output += Main.writtenBytes(out, before) / 1048576.0
      Main.unpersistAll(spark)
    }
    Main.deleteTree(scratch)
    Map("ChangeLog.extract_s" -> extract, "Merge.merge_s" -> merge,
      "Merge.publish_s" -> publish, "Merge.output_mb" -> output)
  }
}
