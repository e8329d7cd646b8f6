package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.Trigger

import graft.cdcgen.CdcEventGen
import graft.streaming.{CdcStreaming, ParquetTable}

/** Generated classes are compiled once per JVM, not once per use: a
  * working set larger than Spark's default generated-class cache (100
  * entries) — 60 distinct aggregations plus one ingest and one merge
  * micro-batch, all fixed text — compiles nothing on its third cycle.
  * With the default cache the set evicts itself and every cycle
  * recompiles most of it. */
class CodegenCacheSpec extends SparkSuite {

  /** Classes janino has compiled in this JVM so far. */
  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a working set larger than Spark's default codegen cache compiles nothing on its third cycle") {
    val s = spark
    val root = graft.tables.TmpDirs.create("graft-codegen-cache")
    def dir(name: String): Path = Files.createDirectories(root.resolve(name))
    val streams = Seq("orders", "details", "lineitems", "metadata")

    // One wave of change events, staged once; each drop lands a copy
    // under new file names (moved in whole, so no trigger sees half a file).
    val wave = CdcEventGen.redeliveryFromTpch(s, sf0001)
    Seq(wave.orders, wave.details, wave.lineItems, wave.metadata).zip(streams).foreach {
      case (df, name) => df.coalesce(1).write.text(root.resolve(s"stage/$name").toString)
    }
    var landed = 0
    def land(): Unit = {
      landed += 1
      streams.foreach { name =>
        val parts = scala.util.Using.resource(Files.list(root.resolve(s"stage/$name")))(
          _.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList)
        parts.foreach { p =>
          val tmp = Files.copy(p, dir(s"in/$name").resolve(s".w$landed-${p.getFileName}"))
          Files.move(tmp, tmp.resolveSibling(s"w$landed-${p.getFileName}"),
            StandardCopyOption.ATOMIC_MOVE)
        }
      }
    }
    // Both pipelines run as long-lived queries, as a deployment runs
    // them: every cycle is one more micro-batch of each. (Each query
    // start clones the session, and with it the class loader that keys
    // the cache, so a fresh query per cycle would compile anew anyway.)
    val trigger = Trigger.ProcessingTime(100L)
    val ingest = CdcStreaming.startIngest(s,
      dir("in/orders").toString, dir("in/details").toString,
      dir("in/lineitems").toString, dir("in/metadata").toString,
      dir("order_stream").toString, dir("ckpt/ingest").toString, trigger)
    val merge = CdcStreaming.startScd1Merge(s,
      dir("order_stream").toString, root.resolve("orders_current").toString,
      dir("ckpt/merge").toString, trigger)
    def drop(): Unit = {
      land()
      ingest.processAllAvailable()
      merge.processAllAvailable()
    }
    val aggregations = (1 to 60).map { i =>
      s"SELECT id % ${i + 2} AS g, sum(id * $i) AS s, max(id + $i) AS m " +
        "FROM range(0, 2000, 1, 2) GROUP BY 1 ORDER BY 1"
    }

    try {
      // Bootstrap orders_current, so every cycle runs the merge path.
      drop()
      assert(ParquetTable.currentVersion(root.resolve("orders_current").toString).nonEmpty)

      val perCycle = (1 to 3).map { _ =>
        val before = compiled()
        drop()
        aggregations.foreach(q => s.sql(q).collect())
        compiled() - before
      }
      info(s"classes compiled per cycle: ${perCycle.mkString(", ")}")
      assert(perCycle.head > 100,
        s"the working set (${perCycle.head} classes) must exceed Spark's default cache of 100")
      assert(perCycle(2) == 0, s"the third cycle compiled ${perCycle(2)} classes")
    } finally { ingest.stop(); merge.stop() }
  }
}
