package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CdcStreaming, ParquetTable}
import graft.tables.{FooterSchemas, GraftSql, TmpDirs}

/** The footer resolver answers exactly what Spark's own inference
  * answers, on every layout a table read meets, and resolves a read's
  * schema without a Spark job. */
class FooterSchemaSpec extends SparkSuite {

  private def fresh(name: String): Path = TmpDirs.create("graft-footers").resolve(name)

  private def sparkRead(path: String, merge: Boolean): DataFrame =
    if (merge) spark.read.option("mergeSchema", "true").parquet(path) else spark.read.parquet(path)

  /** Same schema as Spark's plain and mergeSchema reads, and same rows. */
  private def assertLikeSpark(path: String): Unit =
    Seq(false, true).foreach { merge =>
      val ours = FooterSchemas.read(spark, path, merge)
      val theirs = sparkRead(path, merge)
      assert(ours.schema == theirs.schema, s"mergeSchema=$merge")
      assert(ours.collect().map(_.toString).sorted.toSeq ==
        theirs.collect().map(_.toString).sorted.toSeq, s"mergeSchema=$merge")
    }

  private def parquetFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  test("a column added in a later file") {
    val s = spark
    import s.implicits._
    val dir = fresh("added").toString
    Seq((1, "a")).toDF("id", "name").coalesce(1).write.parquet(dir)
    Seq((2, "b", 2.5)).toDF("id", "name", "score").coalesce(1).write.mode("append").parquet(dir)
    assertLikeSpark(dir)
    assert(FooterSchemas.read(spark, dir, mergeSchema = true).columns.toSeq == Seq("id", "name", "score"))
  }

  test("a nested struct field added") {
    val dir = fresh("nested").toString
    spark.sql("SELECT 1 AS id, named_struct('x', 1) AS s").coalesce(1).write.parquet(dir)
    spark.sql("SELECT 2 AS id, named_struct('x', 2, 'y', 'two') AS s").coalesce(1)
      .write.mode("append").parquet(dir)
    assertLikeSpark(dir)
  }

  test("a footer-only empty file beside data files") {
    val s = spark
    import s.implicits._
    val dir = fresh("empty").toString
    Seq((1L, "a")).toDF("id", "v").limit(0).repartition(1).write.parquet(dir)
    Seq((2L, "b", true)).toDF("id", "v", "flag").coalesce(1).write.mode("append").parquet(dir)
    assert(parquetFiles(Paths.get(dir)).size == 2)
    assertLikeSpark(dir)
  }

  test("a k=v partitioned dir") {
    val s = spark
    import s.implicits._
    val dir = fresh("parts").toString
    Seq((1, "a", 10), (2, "b", 20)).toDF("id", "v", "k").write.partitionBy("k").parquet(dir)
    Seq((3, "c", 30)).toDF("id", "v", "k").withColumn("extra", lit(1.0))
      .write.mode("append").partitionBy("k").parquet(dir)
    assertLikeSpark(dir)
    assert(FooterSchemas.read(spark, dir, mergeSchema = true).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("a streaming sink dir: its log decides which files count") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = fresh("sink")
    val dir = root.resolve("out")
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "v").writeStream.format("parquet")
      .option("path", dir.toString).option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      src.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      src.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    // A stray part file the sink never committed, with another schema.
    Seq((9L, "z", 9.9)).toDF("id", "v", "stray").coalesce(1).write.parquet(root.resolve("stray").toString)
    val stray = parquetFiles(root.resolve("stray")).head
    Files.copy(stray, dir.resolve("part-99999-stray.snappy.parquet"))
    assertLikeSpark(dir.toString)
    assert(FooterSchemas.read(spark, dir.toString, mergeSchema = true).columns.toSeq == Seq("id", "v"))
    assert(FooterSchemas.read(spark, dir.toString).count() == 3)
  }

  test("a file rewritten in place is read again, never served stale") {
    val s = spark
    import s.implicits._
    val root = fresh("rewrite")
    val dir = root.resolve("t")
    Seq((1, "a")).toDF("id", "v").coalesce(1).write.parquet(dir.toString)
    assert(FooterSchemas.read(spark, dir.toString).columns.toSeq == Seq("id", "v"))
    // Replace the one data file, same name, with a file of another schema.
    val target = parquetFiles(dir).head
    Seq((1L, 2.0, "x")).toDF("key", "amount", "note").coalesce(1).write.parquet(root.resolve("other").toString)
    val before = Files.getLastModifiedTime(target).toMillis
    Files.copy(parquetFiles(root.resolve("other")).head, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(before + 2000))
    Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
    assertLikeSpark(dir.toString)
    assert(FooterSchemas.read(spark, dir.toString).columns.toSeq == Seq("key", "amount", "note"))
  }

  test("a known file is not opened again; vacuum forgets the versions it drops") {
    val s = spark
    import s.implicits._
    val dir = fresh("memo").toString
    ParquetTable.swap(spark, Seq(1, 2).toDF("id"), dir)
    val v1 = ParquetTable.currentPath(dir)
    FooterSchemas.read(spark, v1, mergeSchema = true)
    val opened = FooterSchemas.footersRead
    FooterSchemas.read(spark, v1, mergeSchema = true)
    ParquetTable.read(spark, dir).schema
    assert(FooterSchemas.footersRead == opened, "a memoized footer was opened again")
    ParquetTable.swap(spark, Seq(3).toDF("id"), dir)
    ParquetTable.read(spark, dir).schema
    val remembered = FooterSchemas.remembered
    assert(ParquetTable.vacuum(dir).nonEmpty)
    assert(FooterSchemas.remembered < remembered, "vacuum left the dropped version's files in the memo")
  }

  test("schema resolution starts no Spark job: mounts, AS OF, table_changes, ParquetTable.read") {
    val s = spark
    import s.implicits._
    val root = fresh("jobs")
    val current = root.resolve("current").toString
    ParquetTable.swap(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), current)
    ParquetTable.swap(spark, Seq((1L, "a"), (3L, "c")).toDF("id", "v"), current)
    val stream = root.resolve("stream").toString
    // A sink dir with its `_spark_metadata` log, as `order_stream` is.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "v").writeStream.format("parquet")
      .option("path", stream).option("checkpointLocation", root.resolve("ckpt").toString).start()
    try { src.addData((1L, "a")); q.processAllAvailable() } finally q.stop()
    GraftSql.register(spark, "fs_current", current, Seq("id"))
    GraftSql.register(spark, "fs_stream", stream)

    val counter = new JobCounter(spark)
    spark.sparkContext.addSparkListener(counter)
    try {
      // Each plan is analyzed (schema resolved) but not run. The first
      // pass reads the footers, the second finds them memoized: both
      // must start no job.
      for (pass <- 1 to 2) {
        val plans: Seq[(String, () => DataFrame)] = Seq(
          "mount versioned" -> (() => GraftSql.sql(spark, "SELECT id, v FROM fs_current")),
          "mount sink dir" -> (() => GraftSql.sql(spark, "SELECT count(*) FROM fs_stream")),
          "version as of" -> (() => GraftSql.sql(spark, "SELECT * FROM fs_current VERSION AS OF 1")),
          "table_changes" -> (() => GraftSql.sql(spark,
            "SELECT _change_type, count(*) FROM table_changes('fs_current', 1, 2) GROUP BY _change_type")),
          "ParquetTable.read" -> (() => ParquetTable.read(spark, current)))
        plans.foreach { case (what, plan) =>
          val (df, jobs) = counter.jobsIn(s"footers-$what-$pass")(plan().queryExecution.analyzed)
          assert(jobs == 0, s"$what (pass $pass) started $jobs Spark jobs to resolve its schema")
          assert(df.schema.nonEmpty)
        }
      }
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(GraftSql.sql(spark, "SELECT id FROM fs_current").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(GraftSql.sql(spark,
      "SELECT _change_type, count(*) FROM table_changes('fs_current', 1, 2) GROUP BY _change_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == Map("insert" -> 1L, "delete" -> 1L))
  }

  test("the merge stream's empty-batch check leaves the sink's new footers resolved") {
    val s = spark
    import s.implicits._
    val root = fresh("prefetch")
    val stream = root.resolve("order_stream").toString
    val target = root.resolve("orders_current").toString
    val rows = (1 to 20).map { i =>
      val id = Some(i.toDouble)
      model.OrderStreamRow("x1", "001", "ts", id,
        Seq(model.OrderRec(id, Some(s"R$i"), Some(1.0), None, None, Some("OPEN"), None,
          Some(10.0), Some("USD"), None, None, None, None)),
        Seq(model.OrderDetailRec(id, Some(1.0), Some("air"), None, None, None, None, None, None)),
        Seq(model.LineItemRec(Some(i * 10.0), id, Some(1.0), None, Some(1.0), Some(2.0), Some(2.0),
          Some("USD"), None)))
    }
    rows.toDS().coalesce(1).write.parquet(stream)
    val q = CdcStreaming.startScd1Merge(spark, stream, target, root.resolve("ckpt").toString)
    q.awaitTermination(120000)
    q.exception.foreach(e => throw e)
    val opened = FooterSchemas.footersRead
    assert(FooterSchemas.read(spark, stream, mergeSchema = true).count() == 20)
    assert(FooterSchemas.footersRead == opened, "the stream's files were opened again by a later read")
  }
}
