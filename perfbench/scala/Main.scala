package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark. `run.py` builds the inputs, starts this
  * main and turns the raw JSON it writes into metrics and checks.
  *
  * Arguments (all `--name value`): `workload`, `seed`, `seconds`,
  * `trace` (0/1), `cores`, `data` (input tables), `work`
  * (scratch directory), `out` (raw JSON file), `lanes` (comma list,
  * batch workloads), `rate` and `backlog` (stream workload).
  */
object Main {
  /** Heap in use after a full collection. Spark drops broadcast and
    * shuffle blocks from its ContextCleaner thread once a collection has
    * found them unreachable, so the heap is read after a second one. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Collection time of every collector in this JVM so far. */
  def gcSeconds(): Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1e3
  }

  private def session(cores: Int): SparkSession = {
    val spark = GraftSession.local(cores, "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(2000000L).selectExpr("sum(id * 2)").collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    // set-up ends here: session ready and warmed. run.py measures from
    // the moment it started this process, so JVM start, class loading
    // and Spark's first initialisation are all inside `setup_s`.
    val spark = session(cores)
    val readyEpochMs = System.currentTimeMillis()
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val fields = a("workload") match {
      case "wiki_stream" =>
        StreamWorkload.run(spark, work, a("seed").toLong, seconds, a("rate").toDouble,
          a("backlog").toInt, if (trace) Some(new Trace(spark)) else None)
      case _ =>
        BatchWorkload.run(spark, a("data"), work, a("lanes").split(",").toSeq,
          seconds, trace)
    }
    val out = Json.obj((Seq("ready_epoch_ms" -> readyEpochMs,
      "clock_origin_ms" -> Clock.originEpochMs,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0) ++ fields): _*)
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
  }
}
