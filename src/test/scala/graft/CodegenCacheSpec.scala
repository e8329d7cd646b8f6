package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.streaming.ParquetTable

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
    // Both pipelines stay running: every cycle is one more micro-batch
    // of each (a fresh query per cycle would compile anew anyway).
    val drops = new StreamDrops(s, sf0001, graft.tables.TmpDirs.create("graft-codegen-cache"))
    val aggregations = (1 to 60).map { i =>
      s"SELECT id % ${i + 2} AS g, sum(id * $i) AS s, max(id + $i) AS m " +
        "FROM range(0, 2000, 1, 2) GROUP BY 1 ORDER BY 1"
    }

    try {
      // Bootstrap orders_current, so every cycle runs the merge path.
      drops.drop()
      assert(ParquetTable.currentVersion(drops.ordersCurrent).nonEmpty)

      val perCycle = (1 to 3).map { _ =>
        val before = compiled()
        drops.drop()
        aggregations.foreach(q => s.sql(q).collect())
        compiled() - before
      }
      info(s"classes compiled per cycle: ${perCycle.mkString(", ")}")
      assert(perCycle.head > 100,
        s"the working set (${perCycle.head} classes) must exceed Spark's default cache of 100")
      assert(perCycle(2) == 0, s"the third cycle compiled ${perCycle(2)} classes")
    } finally drops.stop()
  }
}
