package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One time axis for everything the benchmark records: seconds since
  * the JVM loaded this object, from `System.nanoTime`. Spark listener
  * events carry wall-clock milliseconds; `fromEpochMs` maps them onto
  * the same axis.
  */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - originNs) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - originMs) / 1e3
  def originEpochMs: Long = originMs
}

/** Counters and job records for the traced run, kept in memory and
  * handed to `run.py` when the run ends, which turns them into spans.
  * Spark's own listeners feed it:
  *  - a `SparkListener` for jobs, stages and task metrics,
  *  - a `QueryExecutionListener` for the planner phases,
  *  - a `StreamingQueryListener` for per-trigger progress.
  * Every job carries the job group the benchmark set before the call
  * that launched it, so it links to its lane's construct or execute
  * span. Counters accumulate until [[take]], which the benchmark calls
  * after draining the listener bus at the end of each lane or phase.
  */
final class Trace(spark: SparkSession) {
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Double)]()
  val progress = new ConcurrentLinkedQueue[String]()

  private def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart.put(e.jobId, (group, Clock.fromEpochMs(e.time)))
      add("scheduler.jobs", 1)
    }
    // a job whose start this listener did not see began before tracing
    // started (the bus delivers events late), so it is not recorded
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (group, start) =>
        jobs.add(Json.obj("job" -> e.jobId, "group" -> group, "start" -> start,
          "end" -> Clock.fromEpochMs(e.time),
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      if (e.reason != Success) add("scheduler.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("executor.deser_s", m.executorDeserializeTime / 1e3)
        add("driver.result_bytes", m.resultSize.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_bytes", m.diskBytesSpilled.toDouble)
        add("sources.read_bytes", m.inputMetrics.bytesRead.toDouble)
        add("sources.read_records", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Double = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      add("planner.analysis_ms", ms("analysis"))
      add("planner.optimize_ms", ms("optimization"))
      add("planner.plan_ms", ms("planning"))
      add("planner.queries", 1)
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      progress.add(e.progress.json)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Drain the bus, then return and reset the counters and finished jobs. */
  def take(): (Map[String, Double], Seq[String]) = {
    drain()
    synchronized {
      val c = counters.toMap
      counters.clear()
      val js = Iterator.continually(jobs.poll()).takeWhile(_ != null).toSeq
      (c, js)
    }
  }
}

/** Persisted-RDD residency, read from outside the program through
  * `getPersistentRDDs` and `getRDDStorageInfo`.
  */
object Blocks {
  def snapshot(spark: SparkSession): String = {
    val sc = spark.sparkContext
    val infos = sc.getRDDStorageInfo
    val byId = infos.map(i => i.id -> i).toMap
    val rdds = sc.getPersistentRDDs.toSeq.sortBy(_._1).map { case (id, rdd) =>
      val bytes = byId.get(id).map(i => i.memSize + i.diskSize).getOrElse(0L)
      Json.obj("id" -> id, "name" -> Option(rdd.name).getOrElse(""), "bytes" -> bytes)
    }
    rdds.mkString("[", ",", "]")
  }
}
