package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A list of `SparkEntry.queries` lanes over one input directory.
  *
  *  1. Check pass: each lane's result is written to parquet for the
  *     oracle compare in `run.py`, and the heap is read after a full GC.
  *     This pass is also the warm-up; nothing in it is timed.
  *  2. Timed passes, one per 2 s of `seconds` and at least two: each
  *     lane's DataFrame is built (construct) and then fully executed
  *     through the `noop` sink (execute). The count is fixed by
  *     `seconds`, not by how many passes fit: the JIT is still warming
  *     over these passes, so a count that fell on a slow host would
  *     also leave it colder and make the host's noise larger.
  *  3. Traced run only: one more pass with the listeners attached. The
  *     job group names the lane, pass and phase of every job, and the
  *     counters are taken and the persisted RDDs read after each lane.
  *     Then one untraced pass, so the traced pass can be compared with
  *     the untraced passes on both sides of it: the JIT is still warming
  *     at this point, and a pass-to-pass trend cancels in their mean.
  */
object BatchWorkload {
  private def laneRecord(spark: SparkSession, dir: String, lane: String, pass: Int,
      trace: Option[Trace]): String = {
    val sc = spark.sparkContext
    val fn = SparkEntry.queries(lane)
    val gc0 = Main.gcSeconds()
    val a = Clock.now
    var b = Double.NaN
    var analysisMs = 0.0
    val err = try {
      sc.setJobGroup(s"$lane#$pass#construct", lane, interruptOnCancel = false)
      val df = fn(spark, dir)
      b = Clock.now
      // the lane's own plan is analyzed while it is built; the write
      // below plans a new QueryExecution over the analyzed plan
      if (trace.isDefined) analysisMs = df.queryExecution.tracker.phases
        .get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
      sc.setJobGroup(s"$lane#$pass#execute", lane, interruptOnCancel = false)
      df.write.format("noop").mode("overwrite").save()
      None
    } catch { case t: Throwable => Some(t.toString) }
    finally sc.clearJobGroup()
    val c = Clock.now
    val traced = trace.map { t =>
      val (taken, jobs) = t.take()
      val counters = taken.updated("planner.analysis_ms",
        taken.getOrElse("planner.analysis_ms", 0.0) + analysisMs)
      Seq("gc_s" -> (Main.gcSeconds() - gc0), "counters" -> counters, "jobs" -> jobs.map(Json.Raw),
        "blocks" -> Json.Raw(Blocks.snapshot(spark)))
    }.getOrElse(Nil)
    Json.apply(scala.collection.immutable.ListMap((Seq("lane" -> lane, "pass" -> pass,
      "start" -> a, "built" -> b, "end" -> c, "error" -> err) ++ traced): _*))
  }

  private def passes(spark: SparkSession, dir: String, lanes: Seq[String], count: Int,
      first: Int, trace: Option[Trace]): Seq[String] =
    (first until first + count).flatMap(p => lanes.map(l => laneRecord(spark, dir, l, p, trace)))

  def run(spark: SparkSession, dir: String, work: String, lanes: Seq[String],
      seconds: Double, traced: Boolean): Seq[(String, Any)] = {
    // 1. check pass, with a counting listener for the rows each lane reads
    val counting = new Trace(spark)
    counting.start()
    val check = lanes.map { lane =>
      val t0 = Clock.now
      val err = try {
        SparkEntry.queries(lane)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$work/check/$lane")
        None
      } catch { case t: Throwable => Some(t.toString) }
      val t1 = Clock.now
      val records = counting.take()._1.getOrElse("sources.read_records", 0.0)
      Json.obj("lane" -> lane, "error" -> err, "seconds" -> (t1 - t0),
        "records_read" -> records, "heap_mb" -> Main.heapAfterGcMb())
    }
    counting.stop()
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => lanes.contains(k) }
    // 2. timed passes
    val n = math.max(2, math.round(seconds / 2).toInt)
    val timed = passes(spark, dir, lanes, n, 0, None)
    // 3. traced pass, then one more untraced pass
    val (tracedRecs, afterRecs) = if (!traced) (Nil, Nil) else {
      val t = new Trace(spark)
      t.start()
      val recs = try passes(spark, dir, lanes, 1, n, Some(t)) finally t.stop()
      (recs, passes(spark, dir, lanes, 1, n + 1, None))
    }
    Seq("check" -> check.map(Json.Raw), "oracle_sql" -> oracle,
      "passes" -> timed.map(Json.Raw), "traced_passes" -> tracedRecs.map(Json.Raw),
      "after_traced_passes" -> afterRecs.map(Json.Raw))
  }
}
