package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.streaming.ParquetTable

/** Merge-on-read DELETE: deletion vectors must leave every data file
  * byte-identical (hard-linked forward), compose across deletes, read
  * back exactly as the filtered table, and fold away under purge. */
class DeletionVectorSpec extends SparkSuite {

  private def key(r: org.apache.spark.sql.Row) = r.toSeq.mkString("|")

  test("DV delete rewrites nothing, composes, and purges clean") {
    val dir = graft.tables.TmpDirs.create("graft-dv").resolve("t").toString
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .repartitionByRange(8, col("o_orderkey"))
    ParquetTable.swap(spark, orders, dir)

    val v1 = Paths.get(ParquetTable.currentPath(dir))
    import scala.jdk.CollectionConverters._
    def dataFiles(p: java.nio.file.Path) =
      Files.list(p).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

    val n1 = ParquetTable.deleteWhereDV(spark, dir, "o_orderkey < 1000")
    assert(n1 == orders.filter(col("o_orderkey") < 1000).count())

    // EVERY data file is the same file (hard link), none rewritten.
    val v2 = Paths.get(ParquetTable.currentPath(dir))
    assert(v2 != v1)
    val v2Files = dataFiles(v2)
    assert(v2Files.size == dataFiles(v1).size)
    v2Files.foreach { p =>
      assert(Files.isSameFile(p, v1.resolve(p.getFileName)),
        s"${p.getFileName} was rewritten, not linked")
    }
    assert(Files.isDirectory(v2.resolve("_dv")), "deletion vectors missing")

    // Merge-on-read content == the filtered original.
    val expect1 = orders.filter(col("o_orderkey") >= 1000)
    assert(ParquetTable.readMoR(spark, dir).collect().map(key).sorted.toSeq ==
      expect1.collect().map(key).sorted.toSeq)
    // A plain scan of the same version still sees every row — the DV is
    // the only thing hiding them.
    assert(spark.read.parquet(v2.toString).count() == orders.count())

    // Second DV delete composes against still-live rows only.
    val n2 = ParquetTable.deleteWhereDV(spark, dir, "o_orderstatus = 'F'")
    val expect2 = expect1.filter(col("o_orderstatus") =!= "F")
    assert(n2 == expect1.filter(col("o_orderstatus") === "F").count())
    assert(ParquetTable.readMoR(spark, dir).collect().map(key).sorted.toSeq ==
      expect2.collect().map(key).sorted.toSeq)

    // Purge folds the vectors into clean files: content unchanged, no
    // DV store, plain read == MoR read.
    ParquetTable.purgeDV(spark, dir)
    val v4 = Paths.get(ParquetTable.currentPath(dir))
    assert(!Files.isDirectory(v4.resolve("_dv")))
    assert(ParquetTable.read(spark, dir).collect().map(key).sorted.toSeq ==
      expect2.collect().map(key).sorted.toSeq)
    assert(ParquetTable.readMoR(spark, dir).collect().map(key).sorted.toSeq ==
      expect2.collect().map(key).sorted.toSeq)

    // No-match delete is a no-op version-wise.
    val before = ParquetTable.snapshots(dir).size
    assert(ParquetTable.deleteWhereDV(spark, dir, "o_orderkey < 0") == 0L)
    assert(ParquetTable.snapshots(dir).size == before)
  }

  test("plain-file DML refuses to run over a DV-carrying snapshot") {
    val dir = graft.tables.TmpDirs.create("graft-dvguard").resolve("t").toString
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderstatus")
      .repartitionByRange(4, col("o_orderkey"))
    ParquetTable.swap(spark, orders, dir)
    ParquetTable.deleteWhereDV(spark, dir, "o_orderkey < 100")

    // Each COW path would hard-link files forward WITHOUT the vectors —
    // resurrecting the deleted rows. All three must refuse.
    intercept[IllegalArgumentException] {
      ParquetTable.deleteWhere(spark, dir, "o_orderkey < 10")
    }
    intercept[IllegalArgumentException] {
      ParquetTable.updateWhere(spark, dir, "o_orderkey < 10",
        Map("o_orderstatus" -> "'X'"))
    }
    intercept[IllegalArgumentException] {
      ParquetTable.mergeInto(spark, dir,
        orders.filter(col("o_orderkey") < 10), Seq("o_orderkey"))
    }
    // After purge they work again.
    ParquetTable.purgeDV(spark, dir)
    assert(ParquetTable.deleteWhere(spark, dir, "o_orderkey >= 1400") >= 0L)
  }

  test("GraftSql reads honour deletion vectors: mount, count, VERSION AS OF, table_changes") {
    val s = spark
    import s.implicits._
    val dir = graft.tables.TmpDirs.create("graft-dvsql").resolve("t").toString
    ParquetTable.swap(spark, Seq(1L, 2L, 3L).toDF("id"), dir)
    assert(ParquetTable.deleteWhereDV(spark, dir, "id = 2") == 1L)
    graft.tables.GraftSql.register(spark, "dv_sql_t", dir, Seq("id"))
    def ids(sql: String) =
      graft.tables.GraftSql.sql(spark, sql).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids("SELECT id FROM dv_sql_t") == Seq(1L, 3L))
    assert(ids("SELECT count(*) FROM dv_sql_t") == Seq(2L))
    assert(ids("SELECT id FROM dv_sql_t VERSION AS OF 2") == Seq(1L, 3L))
    assert(ids("SELECT id FROM dv_sql_t VERSION AS OF 1") == Seq(1L, 2L, 3L))
    val changes = graft.tables.GraftSql.sql(spark,
      "SELECT id, _change_type FROM table_changes('dv_sql_t', 1, 2)").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(changes == Seq(2L -> "delete"))
  }
}
