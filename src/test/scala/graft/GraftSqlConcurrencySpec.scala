package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import graft.streaming.ParquetTable
import graft.tables.GraftSql

/** Statements on the same registered name from several threads: each
  * one mounts the name as a session temp view, analyzes and puts back
  * the user's temp view of that name. They must neither see each
  * other's mounts nor leave one behind in place of the user's view. */
class GraftSqlConcurrencySpec extends SparkSuite {

  test("two threads querying one registered name over a user temp view of that name") {
    val s = spark
    import s.implicits._
    val dir = graft.tables.TmpDirs.create("graft-gsql-conc").resolve("t").toString
    ParquetTable.swap(s, (1L to 10L).toDF("id"), dir)
    GraftSql.register(s, "conc_t", dir, Seq("id"))
    // A graft view over the same name: its expansion re-enters sql()
    // and mounts conc_t again, under the locks its caller holds.
    GraftSql.sql(s, "CREATE VIEW conc_v AS SELECT id FROM conc_t WHERE id > 5")
    Seq(1000L).toDF("id").createOrReplaceTempView("conc_t")
    try {
      val pool = Executors.newFixedThreadPool(2)
      try {
        val answers = (0 until 2).map { t =>
          pool.submit(new Callable[Seq[Long]] {
            def call(): Seq[Long] = (0 until 40).map { i =>
              val q = if ((i + t) % 2 == 0) "SELECT sum(id) FROM conc_t" else "SELECT sum(id) FROM conc_v"
              GraftSql.sql(s, q).collect().head.getLong(0)
            }
          })
        }.map(_.get(300, TimeUnit.SECONDS))
        answers.zipWithIndex.foreach { case (a, t) =>
          a.zipWithIndex.foreach { case (got, i) =>
            val want = if ((i + t) % 2 == 0) 55L else 40L
            assert(got == want, s"thread $t statement $i: sum $got, expected $want")
          }
        }
      } finally pool.shutdownNow()
      assert(s.catalog.getTable("conc_t").isTemporary)
      assert(s.table("conc_t").as[Long].collect().toSeq == Seq(1000L),
        "the user's temp view was not put back")
      assert(!s.catalog.tableExists("conc_v"), "a view mount was left behind")
    } finally {
      s.catalog.dropTempView("conc_t")
      GraftSql.sql(s, "DROP VIEW conc_v")
    }
  }
}
