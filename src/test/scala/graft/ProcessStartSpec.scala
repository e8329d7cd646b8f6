package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import graft.streaming.ParquetTable

/** A steady micro-batch of both pipelines starts no `chmod` and no
  * `readlink` process: the session's local filesystem
  * (graft.tables.NioLocalFs) sets mode bits and reads links in the JVM.
  * Hadoop's stock local filesystem, without its native library, forks
  * one `chmod` per created file and `.crc` and one `readlink` per
  * link-status lookup, several per checkpoint-log rename. */
class ProcessStartSpec extends SparkSuite {

  /** Commands of the processes this JVM starts while `body` runs. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-process-start", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("one more ingest and merge micro-batch starts no chmod or readlink process") {
    val drops = new StreamDrops(spark, sf0001, graft.tables.TmpDirs.create("graft-process-start"))
    try {
      // Bootstrap orders_current, so the recorded drop runs the merge path.
      drops.drop()
      assert(ParquetTable.currentVersion(drops.ordersCurrent).nonEmpty)

      val commands = processesStarted(drops.drop())
      val byProgram = commands.groupBy(_.split(' ').head.split('/').last).view.mapValues(_.size).toMap
      info(s"processes started by one drop: $byProgram")
      assert(byProgram.getOrElse("chmod", 0) == 0, s"chmod processes: $byProgram")
      assert(byProgram.getOrElse("readlink", 0) == 0, s"readlink processes: $byProgram")
    } finally drops.stop()
  }
}
