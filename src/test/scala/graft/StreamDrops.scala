package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.cdcgen.CdcEventGen
import graft.streaming.CdcStreaming

/** Both pipelines as long-running queries, as a deployment runs them,
  * fed one drop at a time: `drop()` lands a copy of one fixed wave of
  * change events and waits for one more ingest and one more merge
  * micro-batch. Each query start clones the session, and with it
  * per-query state such as the class loader that keys the codegen
  * cache, so specs that measure a steady micro-batch keep the queries
  * running across drops. */
final class StreamDrops(s: SparkSession, sfDir: String, val root: Path) {
  private val streams = Seq("orders", "details", "lineitems", "metadata")
  private def dir(name: String): Path = Files.createDirectories(root.resolve(name))

  // One wave of change events, staged once; each drop lands a copy
  // under new file names (moved in whole, so no trigger sees half a file).
  private val wave = CdcEventGen.redeliveryFromTpch(s, sfDir)
  Seq(wave.orders, wave.details, wave.lineItems, wave.metadata).zip(streams).foreach {
    case (df, name) => df.coalesce(1).write.text(root.resolve(s"stage/$name").toString)
  }
  private var landed = 0
  private def land(): Unit = {
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

  private val trigger = Trigger.ProcessingTime(100L)
  private val ingest = CdcStreaming.startIngest(s,
    dir("in/orders").toString, dir("in/details").toString,
    dir("in/lineitems").toString, dir("in/metadata").toString,
    dir("order_stream").toString, dir("ckpt/ingest").toString, trigger)
  private val merge = CdcStreaming.startScd1Merge(s,
    dir("order_stream").toString, ordersCurrent, dir("ckpt/merge").toString, trigger)

  def ordersCurrent: String = root.resolve("orders_current").toString

  def drop(): Unit = {
    land()
    ingest.processAllAvailable()
    merge.processAllAvailable()
  }

  def stop(): Unit = { ingest.stop(); merge.stop() }
}
