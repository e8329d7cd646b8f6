package graft

import graft.model._
import graft.streaming.{CdcStreaming, ParquetTable}

/** The per-batch fixed cost of pipeline 2: one SCD1 merge micro-batch on
  * an existing table runs at most 5 Spark jobs (flatten shuffle, target
  * shuffle, the join's stages and the snapshot write), and an empty
  * micro-batch runs none and publishes no version. A return of the
  * window-and-join flatten, whose stages AQE turned into a cascade of
  * broadcast jobs, or of the footer-inference read fails here. */
class MergeBatchJobsSpec extends SparkSuite {

  private def rows(ids: Range, version: Double, csn: String): Seq[OrderStreamRow] =
    ids.map { i =>
      val id = Some(i.toDouble)
      OrderStreamRow(s"x$csn", csn, "ts", id,
        Seq(OrderRec(id, Some(s"R$i"), Some(version), None, None, Some("OPEN"), None,
          Some(10.0), Some("USD"), None, None, None, None)),
        Seq(OrderDetailRec(id, Some(version), Some("air"), None, None, None, None, None, None)),
        Seq(LineItemRec(Some(i * 10.0), id, Some(version), None, Some(1.0), Some(2.0), Some(2.0),
          Some("USD"), None)))
    }

  test("one merge micro-batch on an existing table runs at most 5 jobs; an empty one runs none") {
    val s = spark
    import s.implicits._
    val root = graft.tables.TmpDirs.create("graft-merge-jobs")
    val streamDir = root.resolve("order_stream").toString
    val targetDir = root.resolve("orders_current").toString
    val ckpt = root.resolve("ckpt").toString
    def land(batch: Seq[OrderStreamRow]): Unit =
      batch.toDS().coalesce(1).write.mode("append").parquet(streamDir)
    /** Drain what has landed in one AvailableNow run, which must be one
      * micro-batch; the Spark jobs of that run. */
    def drain(counter: JobCounter): Int = {
      val q = CdcStreaming.startScd1Merge(s, streamDir, targetDir, ckpt)
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
      assert(q.recentProgress.count(_.durationMs.containsKey("addBatch")) == 1)
      counter.flush()
      counter.jobsOf(q.runId.toString)
    }
    val counter = new JobCounter(s)
    s.sparkContext.addSparkListener(counter)
    try {
      land(rows(1 to 200, 1.0, "001"))
      drain(counter) // bootstrap
      val v1 = ParquetTable.currentVersion(targetDir)
      assert(v1.nonEmpty)

      land(rows(150 to 260, 2.0, "002"))
      val jobs = drain(counter)
      val v2 = ParquetTable.currentVersion(targetDir)
      assert(v2 != v1, "the merge batch published no version")
      info(s"merge micro-batch: $jobs Spark jobs")
      assert(jobs <= 5, s"one merge micro-batch ran $jobs Spark jobs (budget 5)")
      val cur = ParquetTable.read(s, targetDir)
      assert(cur.count() == 260L)
      assert(cur.filter("version = 2.0").count() == 111L)

      // A footer-only file: the sink's output for a micro-batch without rows.
      land(Seq.empty)
      assert(drain(counter) == 0, "an empty micro-batch started a Spark job")
      assert(ParquetTable.currentVersion(targetDir) == v2, "an empty micro-batch published a version")
    } finally s.sparkContext.removeSparkListener(counter)
  }
}
