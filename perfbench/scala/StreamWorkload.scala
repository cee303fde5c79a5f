package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.EditEvents
import graft.streaming.{DocStoreSink, EditStream, JsonDocSink, WikiEditPipeline}

/** Wraps the sink's store and records every `insertMany` call: its key,
  * start, end, document count and whether it threw. `DocStoreSink`
  * retries a failed insert under the same key and swallows the error,
  * so attempts, successes and retries are only visible from here.
  * Tasks run in the driver JVM (`local[N]`), so one JVM-wide log sees
  * every executor thread's calls.
  */
final case class CountingStore(inner: DocStoreSink.DocStore) extends DocStoreSink.DocStore {
  override def insertMany(key: String, docs: Seq[String]): Unit = {
    val t0 = Clock.now
    def record(ok: Boolean): Unit = CountingStore.log.add(Json.obj("key" -> key,
      "start" -> t0, "end" -> Clock.now, "docs" -> docs.size, "ok" -> ok))
    try inner.insertMany(key, docs)
    catch { case e: Exception => record(ok = false); throw e }
    record(ok = true)
  }
}

object CountingStore {
  val log = new ConcurrentLinkedQueue[String]()
  def drain(): Seq[String] = Iterator.continually(log.poll()).takeWhile(_ != null).toSeq
}

/** Open-loop edit feed. Event `i` is due at `t0 + i / rate`; one thread
  * wakes every `tickMs`, writes every event that has come due as one
  * JSON-lines file and moves it into the watched directory. Event
  * content depends only on the seed and `i`. Domains are Zipf-skewed,
  * about 80 % of edits are human, and one event in ten carries an
  * event time up to 500 ms earlier than its due time, which keeps it
  * inside the pipeline's 1 s watermark.
  */
final class EditFeed(seed: Long, epochBaseMs: Long) {
  private val rnd = new SplittableRandom(seed)
  private val nDomains = 64
  private val zipfCdf: Array[Double] = {
    val w = (1 to nDomains).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private var next = 0L

  /** JSON lines for events `next until upTo`; `dueOffsetMs(i)` maps an
    * index to its due time relative to the feed's start. */
  def lines(upTo: Long, dueOffsetMs: Long => Double): String = {
    val sb = new StringBuilder
    while (next < upTo) {
      val i = next
      val u = rnd.nextDouble()
      var d = java.util.Arrays.binarySearch(zipfCdf, u)
      if (d < 0) d = -d - 1
      val human = rnd.nextDouble() < 0.8
      val main = rnd.nextDouble() < 0.9
      val late = if (rnd.nextDouble() < 0.1) rnd.nextDouble() * 500.0 else 0.0
      val oldLen = 1000 + rnd.nextInt(9000)
      val newLen = oldLen + rnd.nextInt(2001) - 1000
      val ts = java.time.Instant.ofEpochMilli(
        epochBaseMs + math.floor(dueOffsetMs(i) - late).toLong)
      sb.append("{\"id\":\"").append(i)
        .append("\",\"domain\":\"d").append(d).append(".wikipedia.org\"")
        .append(",\"namespace\":\"").append(if (main) "main namespace" else "talk")
        .append("\",\"title\":\"Page_").append(rnd.nextInt(5000))
        .append("\",\"timestamp\":\"").append(ts.toString)
        .append("\",\"user_name\":\"user").append(rnd.nextInt(997))
        .append("\",\"user_type\":\"").append(if (human) "human" else "bot")
        .append("\",\"old_length\":").append(oldLen)
        .append(",\"new_length\":").append(newLen).append("}\n")
      next += 1
    }
    sb.toString
  }

  def written: Long = next
}

/** The reference job: `EditStream.readJsonFiles` → `windowedEditSize`
  * → `DocStoreSink.start` with the reference knobs (1000 docs per
  * insert, 1 s trigger, 3 retries), in update mode so every epoch
  * writes the windows it changed. Phase one drives it open-loop at
  * `rate` events per second for `seconds` and records, per file, the
  * range of event indexes it holds and when it landed. Phase two
  * measures capacity on a backlog of the same feed.
  */
object StreamWorkload {
  private val TickMs = 100L
  // event time of index 0: 10 s before a 5-minute window boundary, so
  // a run's events span two windows
  private val EpochBaseMs = java.time.Instant.parse("2024-03-01T00:04:50Z").toEpochMilli

  private def writeFile(staging: String, dir: String, name: String, body: String): Unit = {
    val tmp = Paths.get(staging, name)
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def query(spark: SparkSession, in: String, store: String, ck: String,
      maxFiles: Option[Int], trigger: String): StreamingQuery = {
    val edits = maxFiles.fold(EditStream.readJsonFiles(spark, in))(
      EditStream.readJsonFiles(spark, in, _))
    DocStoreSink.start(WikiEditPipeline.windowedEditSize(edits),
      CountingStore(DocStoreSink.DirDocStore(store)), ck,
      batchSize = 1000, flushInterval = trigger, maxRetries = 3,
      outputMode = "update")
  }

  def run(spark: SparkSession, work: String, seed: Long, seconds: Double,
      rate: Double, backlog: Int, trace: Option[Trace]): Seq[(String, Any)] = {
    Seq("in", "staging", "store", "ck", "cap_in", "cap_store", "cap_ck", "cap_staging")
      .foreach(d => Files.createDirectories(Paths.get(work, d)))
    val feed = new EditFeed(seed, EpochBaseMs)
    trace.foreach(_.start())
    val q = query(spark, s"$work/in", s"$work/store", s"$work/ck", None, "1 second")
    // warm the query with one small file, due 2 s before the feed
    // starts, so plan and codegen set-up are not on the latency clock;
    // its events are in the output check but not in the latency sample
    val warm = new EditFeed(seed + 1, EpochBaseMs)
    writeFile(s"$work/staging", s"$work/in", "warmup.json", warm.lines(200, _ => -2000.0))
    val deadline = Clock.now + 60
    while (!q.recentProgress.exists(_.numInputRows > 0) && Clock.now < deadline)
      Thread.sleep(10)
    CountingStore.drain()

    val files = mutable.ArrayBuffer.empty[String]
    val gc0 = Main.gcSeconds()
    val t0 = Clock.now + 0.1
    val total = math.round(seconds * rate)
    val due = (i: Long) => i * 1000.0 / rate
    var n = 0
    while (feed.written < total) {
      val now = Clock.now
      val upTo = math.min(total, math.floor((now - t0) * rate).toLong + 1)
      if (upTo > feed.written) {
        val i0 = feed.written
        val name = f"edits-$n%06d.json"
        writeFile(s"$work/staging", s"$work/in", name, feed.lines(upTo, due))
        files += Json.obj("name" -> name, "i0" -> i0, "i1" -> upTo, "written" -> Clock.now)
        n += 1
      }
      val sleep = TickMs - ((Clock.now - t0) * 1000).toLong % TickMs
      Thread.sleep(math.max(1L, sleep))
    }
    q.processAllAvailable()
    val gcStream = Main.gcSeconds() - gc0
    val heapStream = Main.heapAfterGcMb()
    val progress = q.recentProgress.map(_.json).toSeq
    val (counters, jobs) = trace.map(_.take()).getOrElse((Map.empty[String, Double], Nil))
    val traced = trace.map(_.progress.asScala.toSeq).getOrElse(Nil)
    trace.foreach(_.stop())
    q.stop()
    val inserts = CountingStore.drain()

    val check = checkStore(spark, s"$work/in", s"$work/store")

    // phase two: capacity on a backlog of the same feed
    val capFiles = 60
    val perFile = math.max(1, backlog / capFiles)
    val base = feed.written
    (0 until capFiles).foreach { k =>
      writeFile(s"$work/cap_staging", s"$work/cap_in", f"backlog-$k%06d.json",
        feed.lines(base + (k + 1L) * perFile, i => (total + (i - base) * 0.1) * 1000.0 / rate))
    }
    // each drain is a fresh query over the whole backlog, with its own
    // store and checkpoint, and is checked like the open-loop phase
    def drainBacklog(tag: String): Map[String, Any] = {
      val c0 = Clock.now
      val cq = query(spark, s"$work/cap_in", s"$work/cap_store$tag", s"$work/cap_ck$tag",
        Some(10), "0 seconds")
      cq.processAllAvailable()
      val wall = Clock.now - c0
      val p = cq.recentProgress.map(_.json).toSeq
      cq.stop()
      CountingStore.drain()
      Map("wall_s" -> wall, "progress" -> p.map(Json.Raw),
        "check" -> checkStore(spark, s"$work/cap_in", s"$work/cap_store$tag"))
    }
    val cap = drainBacklog("")
    val heapCap = Main.heapAfterGcMb()
    // traced run: the same backlog again with the listeners attached,
    // then once more without, for the tracing overhead against the
    // untraced drains on both sides of it
    val capTraced = trace.toSeq.flatMap { t =>
      t.start()
      val traced = try drainBacklog("_traced") finally t.stop()
      Seq(traced, drainBacklog("_after"))
    }
    Seq("rate" -> rate, "t0" -> t0, "epoch_base_ms" -> EpochBaseMs,
      "files" -> files.map(Json.Raw), "progress" -> progress.map(Json.Raw),
      "traced_progress" -> traced.map(Json.Raw), "inserts" -> inserts.map(Json.Raw),
      "checkpoint" -> s"$work/ck",
      "counters" -> counters, "jobs" -> jobs.map(Json.Raw), "gc_s" -> gcStream,
      "check" -> check, "heap_mb" -> Seq(heapStream, heapCap),
      "capacity" -> (cap + ("rows" -> capFiles.toLong * perFile)),
      "capacity_traced" -> capTraced)
  }

  /** Output check of one query: for each (domain, window) the latest
    * doc in `store` must equal `windowedEditSize` run as a batch over
    * the same input files `in`. Returns the number of windows expected
    * and the docs missing from, or extra in, the store. */
  private def checkStore(spark: SparkSession, in: String, store: String): Map[String, Long] = {
    val expected = JsonDocSink.toJsonDocs(WikiEditPipeline.windowedEditSize(
      EditEvents.fromJson(spark.read.text(in))))
    val stored = spark.read.text(store)
      .select(col("value"), regexp_extract(input_file_name(), "/e(\\d+)-p", 1)
        .cast("long").as("epoch"))
      .withColumn("k", concat_ws("|", get_json_object(col("value"), "$.domain"),
        get_json_object(col("value"), "$.start")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("epoch").desc)))
      .filter(col("rk") === 1).select("value")
    Map("windows" -> expected.count(), "missing" -> expected.exceptAll(stored).count(),
      "extra" -> stored.exceptAll(expected).count())
  }
}
