package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.apps.AppSessions
import graft.streaming.{CdcStreaming, ParquetTable}
import graft.tables.GraftSql

/** Drives one benchmark run through the program's own entry points: the
  * session of the app mains, both pipelines, and SQL text through
  * GraftSql. Reads a spec written by run.py (the drops to land, the SQL
  * rounds, the checks) and writes what it measured and what the program
  * answered; run.py compares the answers with the generator's model.
  *
  * args: specJson resultJson
  */
object Main {
  final case class Timed(wallStart: Long, nanoStart: Long, gc0: Long, cpuTicks0: Seq[Long],
      versionsBefore: Set[String])

  def main(args: Array[String]): Unit = {
    val sessionStart = System.nanoTime()
    val mapper = new ObjectMapper()
    val spec = mapper.readTree(Paths.get(args(0)).toFile)
    val spark = AppSessions.streamingSession("cdcbench")
    val run = new Run(spark, spec, sessionStart)
    try run.execute()
    catch { case e: Throwable => run.fail(e) }
    finally {
      mapper.writerWithDefaultPrettyPrinter().writeValue(Paths.get(args(1)).toFile, run.result)
      spark.stop()
    }
  }
}

final class Run(spark: SparkSession, spec: JsonNode, sessionStart: Long) {
  import Main.Timed

  private val workload = spec.get("workload").asText
  private val dirs: Map[String, String] =
    spec.get("dirs").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val drops = spec.get("drops").elements().asScala.toIndexedSeq
  private val rounds = spec.get("rounds").elements().asScala.toIndexedSeq
  private val trace = if (spec.get("trace").asBoolean) Some(new Trace(spark)) else None
  private val TriggerMs = 100L

  private val current = dirs("orders_current")
  private val stream = dirs("order_stream")
  private var triggerGapTimeouts = 0
  private val boundary = mutable.Map.empty[Int, Long]
  private val ingestQueries = mutable.Buffer.empty[StreamingQuery]
  private val mergeQueries = mutable.Buffer.empty[StreamingQuery]
  private val live = mutable.Buffer.empty[StreamingQuery]

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs = os.getProcessCpuTime
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  val result = new java.util.LinkedHashMap[String, Any]()
  private val dropResults = new java.util.ArrayList[java.util.Map[String, Any]]()
  private val sqlResults = new java.util.ArrayList[java.util.Map[String, Any]]()
  private val boundaries = new java.util.LinkedHashMap[String, Any]()
  result.put("boundaries", boundaries)
  result.put("drops", dropResults)
  result.put("sql", sqlResults)
  result.put("trigger_gap_timeouts", 0)

  /** Progress line on stderr, seconds since session start. */
  private def note(msg: String): Unit =
    System.err.println(f"cdcbench: ${(System.nanoTime() - sessionStart) / 1e9}%7.2f s $msg")

  def execute(): Unit = {
    note("session started")
    GraftSql.register(spark, "orders_current", current, Seq("orderId"))
    GraftSql.register(spark, "order_stream", stream)
    workload match {
      case "backfill" => backfill()
      case "trickle"  => trickle()
    }
    note("timed phase done")
    checks()
    note("checks done")
  }

  def fail(e: Throwable): Unit = {
    live.foreach(q => scala.util.Try(q.stop()))
    val w = new java.io.StringWriter
    e.printStackTrace(new java.io.PrintWriter(w))
    result.put("error", w.toString)
  }

  // ------------------------------------------------------------ workloads

  /** Catch-up after an outage: setup bootstraps the table from history and
    * a warm-up backlog; each timed backlog drains in one AvailableNow run of
    * each pipeline, and SQL rounds run on the result. */
  private def backfill(): Unit = {
    var timed: Option[Timed] = None
    for (d <- drops.indices) {
      val phase = drops(d).get("phase").asText
      if (timed.isEmpty && phase == "timed") timed = Some(startTimed())
      val cpu0 = cpuNs
      val t = land(d)
      drainOnce()
      if (phase == "timed") dropVisible(d, t, cpu0)
      else { markBoundary(d); note(s"$phase drop visible") }
      roundsAfter(d)
    }
    endTimed(timed.get)
  }

  /** Steady small micro-batches, closed loop: both queries run
    * continuously from the history on, triggering every 100 ms; each drop
    * must be visible before the next lands, and one SQL round follows
    * every timed commit. The 100 ms interval, rather than back-to-back
    * triggers, keeps two idle queries from re-listing their sources every
    * few milliseconds beside the SQL rounds; it adds at most one interval
    * to the merge's pickup of a drop. */
  private def trickle(): Unit = {
    startQueries(Trigger.ProcessingTime(TriggerMs))
    var timed: Option[Timed] = None
    for (d <- drops.indices) {
      if (timed.isEmpty && drops(d).get("phase").asText == "timed") timed = Some(startTimed())
      awaitTriggerGap(live.head)
      val cpu0 = cpuNs
      val t = land(d)
      awaitVisible()
      if (d == 0) { markBoundary(d); note("history bootstrapped") }
      else dropVisible(d, t, cpu0)
      roundsAfter(d)
    }
    live.foreach(_.stop())
    live.clear()
    endTimed(timed.get)
  }

  // -------------------------------------------------------------- drops

  /** Rename every file of drop `d` into its source dir; returns the epoch
    * millis at which the last one is in place. */
  private def land(d: Int): Long = {
    drops(d).get("files").elements().asScala.foreach { f =>
      val src = Paths.get(f.get(0).asText)
      Files.move(src, Paths.get(dirs(f.get(1).asText)).resolve(src.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
    }
    System.currentTimeMillis()
  }

  private def startIngest(trigger: Trigger): StreamingQuery = {
    val q = CdcStreaming.startIngest(spark, dirs("orders"), dirs("details"), dirs("lineitems"),
      dirs("metadata"), stream, dirs("ckpt_ingest"), trigger)
    ingestQueries += q
    q
  }

  private def startMerge(trigger: Trigger): StreamingQuery = {
    val q = CdcStreaming.startScd1Merge(spark, stream, current, dirs("ckpt_merge"), trigger)
    mergeQueries += q
    q
  }

  /** One Trigger.AvailableNow run of each pipeline, the second after the first. */
  private def drainOnce(): Unit = {
    val starts = Seq(() => startIngest(Trigger.AvailableNow()), () => startMerge(Trigger.AvailableNow()))
    starts.foreach { start =>
      val q = start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
  }

  private def startQueries(trigger: Trigger): Unit = {
    live += startIngest(trigger)
    live += startMerge(trigger)
  }

  /** Return just after the running ingest query ends a trigger. It lists
    * its four sources again only at the next trigger, up to 100 ms later,
    * so a drop renamed in now is seen whole by that listing: no
    * micro-batch ever holds part of a drop. A query that ends no trigger
    * within 5 s is counted in `trigger_gap_timeouts`. */
  private def awaitTriggerGap(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var wasActive = false
    var gap = false
    while (!gap && System.nanoTime() < deadline) {
      val active = q.status.isTriggerActive
      gap = wasActive && !active
      wasActive = active
      if (!gap) java.util.concurrent.locks.LockSupport.parkNanos(100000)
    }
    if (!gap) {
      triggerGapTimeouts += 1
      result.put("trigger_gap_timeouts", triggerGapTimeouts)
    }
  }

  /** Block until the landed drop is in orders_current: the ingest, then
    * the merge, has processed every input that arrived before the call.
    * processAllAvailable returns once a trigger ends without new data, but
    * that trigger may have listed its sources just before the input
    * arrived; every later trigger started after it, so the second call
    * returns only once the input is processed and committed. */
  private def awaitVisible(): Unit =
    live.foreach { q => q.processAllAvailable(); q.processAllAvailable() }

  private def markBoundary(d: Int): Long = {
    val v = ParquetTable.currentVersion(current)
    boundary(d) = v.filter(_.isDigit).toLong
    boundaries.put(d.toString, boundary(d))
    ParquetTable.publishedVersions(current).find(_._1 == v).map(_._2)
      .getOrElse(sys.error(s"version $v of $current has no publish time"))
  }

  private def dropVisible(d: Int, landedAt: Long, cpu0: Long): Unit = {
    val visibleAt = markBoundary(d)
    val cpu1 = cpuNs
    dropResults.add(Map[String, Any](
      "drop" -> d, "phase" -> drops(d).get("phase").asText,
      "latency_s" -> (visibleAt - landedAt) / 1000.0,
      "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "version" -> boundary(d)).asJava)
  }

  // ---------------------------------------------------------------- SQL

  private val Placeholder = """\{v:(\d+)\}""".r

  private def roundsAfter(d: Int): Unit =
    rounds.zipWithIndex.filter(_._1.get("after").asInt == d).foreach { case (r, i) =>
      r.get("queries").elements().asScala.foreach(q => runSql(i, q.get("shape").asText, q.get("sql").asText))
    }

  private def runSql(round: Int, shape: String, template: String): Unit = {
    val text = Placeholder.replaceAllIn(template, m => boundary(m.group(1).toInt).toString)
    val rec = new java.util.LinkedHashMap[String, Any]()
    rec.put("round", round)
    rec.put("shape", shape)
    val sc = spark.sparkContext
    sc.setJobGroup(Trace.SqlGroup + shape, shape, interruptOnCancel = false)
    try {
      rec.put("start_ms", System.currentTimeMillis())
      val t0 = System.nanoTime()
      val df = GraftSql.sql(spark, text)
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      rec.put("rewrite_s", (t1 - t0) / 1e9)
      rec.put("exec_s", (t2 - t1) / 1e9)
      rec.put("rows", rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))
        .toSeq.asJava)
      if (trace.isDefined) rec.put("files", Trace.ScannedFiles(df))
    } catch {
      case e: Exception => rec.put("error", s"${e.getClass.getName}: ${e.getMessage}")
    } finally sc.clearJobGroup()
    sqlResults.add(rec)
  }

  // ------------------------------------------------------------- timing

  private def startTimed(): Timed = {
    note("setup done")
    result.put("setup_s", (System.nanoTime() - sessionStart) / 1e9)
    Timed(System.currentTimeMillis(), System.nanoTime(), gcMs, cpuTicks,
      ParquetTable.snapshots(current).toSet)
  }

  private def endTimed(t: Timed): Unit = {
    val wallEnd = System.currentTimeMillis()
    result.put("timed_wall_s", (System.nanoTime() - t.nanoStart) / 1e9)
    result.put("gc_s", (gcMs - t.gc0) / 1000.0)
    val ticks = cpuTicks.zip(t.cpuTicks0).map { case (a, b) => a - b }
    if (ticks.size > 7 && ticks.sum > 0) result.put("steal_share", ticks(7).toDouble / ticks.sum)
    trace.foreach { tr =>
      tr.close()
      val layers = new java.util.LinkedHashMap[String, Any]()
      val sqlSpans = sqlResults.asScala.toSeq.filter(_.containsKey("exec_s")).map { r =>
        val s = r.get("start_ms").asInstanceOf[Long]
        val secs = r.get("rewrite_s").asInstanceOf[Double] + r.get("exec_s").asInstanceOf[Double]
        (s, s + (secs * 1000).toLong)
      }
      val timedDrops = dropResults.asScala.count(_.get("phase") == "timed")
      tr.layers(t.wallStart, wallEnd, ingestQueries.flatMap(_.recentProgress).toSeq,
        mergeQueries.flatMap(_.recentProgress).toSeq, sqlSpans, timedDrops)
        .foreach { case (k, v) => layers.put(k, v) }
      layers.put("streaming.scd2_files", dataFiles(Paths.get(stream)).size)
      val versions = ParquetTable.snapshots(current)
      layers.put("streaming.table_versions", versions.size)
      layers.put("streaming.table_written_mb",
        versions.filterNot(t.versionsBefore).map(v => bytesUnder(Paths.get(current, v))).sum / 1e6)
      result.put("layers", layers)
    }
  }

  // ------------------------------------------------------------- checks

  /** Final state against the model: row count and digest of a canonical
    * projection, one row per orderId, no never-completed order, and the
    * order_stream row count. Untimed. */
  private def checks(): Unit = {
    val c = new java.util.LinkedHashMap[String, Any]()
    val cur = ParquetTable.read(spark, current)
    val rows = cur.selectExpr(
      "CAST(orderId AS BIGINT)", "orderRef", "CAST(version AS BIGINT)", "orderStatus", "orderType",
      "CAST(round(totalAmount * 100) AS BIGINT)", "currency", "customerId",
      "CAST(orderDetails.version AS BIGINT)", "orderDetails.deliveryStatus", "orderDetails.carrier",
      "transform(lineItems, x -> struct(CAST(x.lineItemId AS BIGINT), CAST(x.version AS BIGINT), " +
        "x.productId, CAST(x.itemQty AS BIGINT), CAST(round(x.itemAmount * 100) AS BIGINT)))").collect()
    def s(v: Any) = if (v == null) "null" else v.toString
    val lines = rows.map { r =>
      val items = Option(r.getSeq[org.apache.spark.sql.Row](11)).getOrElse(Nil)
        .sortBy(_.getLong(0))
        .map(li => (0 until 5).map(i => s(li.get(i))).mkString(":")).mkString(",")
      ((0 until 11).map(i => s(r.get(i))) :+ items).mkString("|")
    }.sorted
    val sha = MessageDigest.getInstance("SHA-256").digest(lines.mkString("\n").getBytes("UTF-8"))
    c.put("rows", rows.length)
    c.put("distinct_ids", rows.map(_.get(0)).distinct.length)
    c.put("digest", sha.map("%02x".format(_)).mkString)
    val phantoms = spec.get("phantoms").elements().asScala.map(_.asLong).toSeq
    c.put("phantom_rows", if (phantoms.isEmpty) 0L else cur.filter(col("orderId").isin(phantoms: _*)).count())
    c.put("order_stream_rows", spark.read.parquet(stream).count())
    result.put("checks", c)
    val disk = new java.util.LinkedHashMap[String, Any]()
    Seq("order_stream", "orders_current", "ckpt_ingest", "ckpt_merge")
      .foreach(k => disk.put(k, bytesUnder(Paths.get(dirs(k)))))
    result.put("disk_bytes", disk)
    result.put("rss_peak_kb", Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L))
  }

  /** The machine's CPU time counters (user ... steal), in ticks: the
    * steal share of the timed phase tells how much the host took back. */
  private def cpuTicks: Seq[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.headOption.toSeq
      .flatMap(_.trim.split("\\s+").drop(1).map(_.toLong))

  private def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  private def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
