package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts what Spark did inside one window of driver time.
  *
  * `window` drains the listener bus, runs the body, drains again and
  * returns the counts of the jobs that started inside it. Job time is
  * the union of the jobs' [start, end] intervals clipped to the window,
  * so overlapping jobs are not counted twice; driver time is the rest.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext

  private val jobs = mutable.LinkedHashMap[Int, Tracer.Job]()
  private var stages, tasks = 0L
  private var inputBytes, shuffleBytes, spillBytes = 0L
  private var planMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job launched from plans/Materialize carries its call site in
    // the stage details
    val m = e.stageInfos.exists(s => s.details.contains("graft.plans.Materialize"))
    jobs(e.jobId) = new Tracer.Job(e.time, m)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    tasks += e.stageInfo.numTasks
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      inputBytes += m.inputMetrics.bytesRead
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  private val planner = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized {
        planMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(this)
  spark.listenerManager.register(planner)

  def close(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(planner)
  }

  private def reset(): Unit = synchronized {
    jobs.clear(); stages = 0; tasks = 0
    inputBytes = 0; shuffleBytes = 0; spillBytes = 0
    planMs = 0
  }

  /** Runs `body` and returns what it cost. */
  def window(body: => Unit): Tracer.Counts = {
    BusDrain(sc)
    reset()
    val gc0 = Main.gcSeconds()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    body
    val secs = Main.seconds(t0)
    val wall1 = System.currentTimeMillis()
    val gc = Main.gcSeconds() - gc0
    BusDrain(sc)
    synchronized {
      val spans = jobs.values.toSeq
        .map(j => (math.max(j.start, wall0), math.min(if (j.end < 0) wall1 else j.end, wall1)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      spans.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      val jobS = math.min(covered / 1e3, secs)
      Tracer.Counts(
        seconds = secs, jobSeconds = jobS, gcSeconds = gc,
        planSeconds = planMs / 1e3, jobs = jobs.size,
        materializeJobs = jobs.values.count(_.materialize),
        stages = stages, tasks = tasks,
        inputMb = inputBytes / 1048576.0, shuffleMb = shuffleBytes / 1048576.0,
        spillMb = spillBytes / 1048576.0)
    }
  }
}

object Tracer {
  final class Job(val start: Long, val materialize: Boolean) {
    var end: Long = -1L
  }

  final case class Counts(
      seconds: Double, jobSeconds: Double, gcSeconds: Double,
      planSeconds: Double, jobs: Long, materializeJobs: Long,
      stages: Long, tasks: Long, inputMb: Double, shuffleMb: Double,
      spillMb: Double)
}
