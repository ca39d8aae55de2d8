package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The query workloads: each listed `SparkEntry.queries` entry, produced
  * in full (every output column, never `count()`), in passes over the
  * list.
  *
  * A set-up starts a session and reads the input tables' schemas. One
  * untimed warm-up pass follows; it writes each query's result to
  * `<work>/out/<name>` for the checks. The timed passes follow.
  */
object QueryBench {

  def run(names: Seq[String], work: Path, passes: Int, trace: Boolean)
      : Map[String, Any] = {
    val data = work.resolve("data").toString
    def query(spark: SparkSession, name: String) = SparkEntry.queries(name)(spark, data)

    var spark: SparkSession = null
    val setups = (1 to Main.Setups).map { _ =>
      if (spark != null) spark.stop()
      val cpu0 = Main.cpuTicks()
      val t0 = System.nanoTime()
      spark = Main.session()
      Main.stage(spark, Seq(work.resolve("data")))
      Map("seconds" -> Main.seconds(t0), "steal" -> Main.stolen(cpu0, Main.cpuTicks()))
    }
    // the warm-up pass writes each result once for the checks
    val w0 = System.nanoTime()
    val dumpErrors = names.flatMap { n =>
      Main.unpersistAll(spark)
      try {
        query(spark, n).write.mode("overwrite")
          .parquet(work.resolve("out").resolve(n).toString)
        None
      } catch { case e: Exception => Some(n -> Main.error(e)) }
    }.toMap
    val warmup = Main.seconds(w0)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val canary = if (trace) graft.Bench.canary(spark) else 0.0
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val layers = mutable.Map[String, mutable.ArrayBuffer[Tracer.Counts]]()
    val constructs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    (1 to passes).foreach { pass =>
      System.gc()
      names.foreach { n =>
        Main.unpersistAll(spark)
        var failure: Option[String] = None
        var construct = 0.0
        def body(): Unit = {
          val t0 = System.nanoTime()
          try {
            val df = query(spark, n)
            construct = Main.seconds(t0)
            Main.produce(df)
          } catch { case e: Exception => failure = Some(Main.error(e)) }
        }
        val cpu0 = Main.cpuTicks()
        val t0 = System.nanoTime()
        val counts = tracer.map(_.window(body()))
        if (counts.isEmpty) body()
        val secs = counts.map(_.seconds).getOrElse(Main.seconds(t0))
        val steal = Main.stolen(cpu0, Main.cpuTicks())
        counts.foreach { c =>
          layers.getOrElseUpdate(n, mutable.ArrayBuffer()) += c
          constructs.getOrElseUpdate(n, mutable.ArrayBuffer()) += construct
        }
        ops += Map("query" -> n, "pass" -> pass, "seconds" -> secs, "steal" -> steal,
          "construct_s" -> construct, "error" -> failure)
      }
    }
    val heap = Main.liveHeapMb()
    tracer.foreach(_.close())
    spark.stop()

    Map(
      "setup_s" -> setups,
      "warmup_s" -> warmup,
      "ops" -> ops,
      "live_heap_mb" -> heap,
      "dump_errors" -> dumpErrors,
      "layers" -> (if (trace) layerFigures(names, layers, constructs) +
        ("host.canary_s" -> canary) else Map.empty))
  }

  /** Per query, the median over passes of each count; summed over the
    * list, and kept per query for the analytics heads.
    */
  private def layerFigures(names: Seq[String],
      layers: collection.Map[String, mutable.ArrayBuffer[Tracer.Counts]],
      constructs: collection.Map[String, mutable.ArrayBuffer[Double]])
      : Map[String, Double] = {
    def med(n: String, f: Tracer.Counts => Double) =
      Main.median(layers.get(n).toSeq.flatten.map(f))
    def total(f: Tracer.Counts => Double) = names.map(med(_, f)).sum
    val construct = names.map(n => Main.median(constructs.get(n).toSeq.flatten)).sum
    val listed = Map(
      "Queries.construct_s" -> construct,
      "Queries.plan_s" -> total(_.planSeconds),
      "Queries.exec_s" -> (total(_.seconds) - construct),
      "Queries.shuffle_mb" -> total(_.shuffleMb),
      "Queries.spill_mb" -> total(_.spillMb),
      "Queries.gc_s" -> total(_.gcSeconds),
      "Queries.jobs" -> total(_.jobs.toDouble),
      "Queries.stages" -> total(_.stages.toDouble),
      "Queries.tasks" -> total(_.tasks.toDouble),
      "Materialize.jobs" -> total(_.materializeJobs.toDouble))
    val perHead = names.filter(Workloads.heads.contains).flatMap { n =>
      Seq(
        s"$n.s" -> med(n, _.seconds),
        s"$n.construct_s" -> Main.median(constructs.get(n).toSeq.flatten),
        s"$n.jobs" -> med(n, _.jobs.toDouble),
        s"$n.tasks" -> med(n, _.tasks.toDouble),
        s"$n.shuffle_mb" -> med(n, _.shuffleMb))
    }
    listed ++ perHead
  }
}
