package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{ChangeFeedTable, ParquetTable, VersionNames}
import graft.tables.{GraftSql, TmpDirs}

/** Every reader of a table's history takes its versions from one list,
  * `ParquetTable.publishedVersions`, so each sees exactly the published
  * versions over the on-disk states a crashed writer leaves behind:
  *
  *  - an orphan next slot: a moved-but-unpublished v3 holding k = 99,
  *    carrying the `_COPY` stamp of a crashed COPY INTO and the `_TXN`
  *    stamp of a crashed txn commit;
  *  - a missing `_HISTORY` line: the live v2 was flipped to but never
  *    logged.
  *
  * In both, the table has published v1 and v2 (live), and nothing else. */
class VersionListSpec extends SparkSuite {

  private type Rows = Set[(Long, Double)]

  private def frame(rows: (Long, Double)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  private def rowsOf(df: DataFrame): Rows =
    df.select(col("k").cast("long"), col("v").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

  private val v1: Rows = Set((1L, 10.0), (2L, 20.0))
  private val base: Rows = v1 + ((3L, 30.0))

  /** A registered table: v1 holds `v1`, v2 (live, txn "app" 2) holds
    * `base`, and a sibling `src` dir holds one parquet file (k = 4) for
    * COPY INTO. */
  private case class Table(dir: String, name: String) {
    def src: String = Paths.get(dir).resolveSibling("src").toString
    def sql(text: String): Array[org.apache.spark.sql.Row] = GraftSql.sql(spark, text).collect()
    def count(text: String): Long = sql(s"SELECT count(*) FROM $name $text").head.getLong(0)
  }

  private def baseTable(tag: String): Table = {
    val root = TmpDirs.create(s"graft-vlist-$tag")
    val dir = root.resolve("t").toString
    ParquetTable.swap(spark, frame(v1.toSeq: _*), dir)
    assert(ParquetTable.swapWithTxn(spark, frame(base.toSeq: _*), dir, "app", 2L))
    frame(4L -> 40.0).coalesce(1).write.parquet(root.resolve("src").toString)
    val name = s"vlist_${java.util.UUID.randomUUID.toString.take(8)}"
    GraftSql.register(spark, name, dir, Seq("k"))
    Table(dir, name)
  }

  private def srcFiles(t: Table): Seq[String] =
    VersionNames.childNames(Paths.get(t.src)).filter(_.endsWith(".parquet"))
      .map(n => Paths.get(t.src, n).toAbsolutePath.normalize.toString)

  private def dropHistoryLine(dir: String, id: Long): Unit = {
    val h = Paths.get(dir, "_HISTORY")
    val kept = Files.readAllLines(h).toArray.map(_.toString)
      .filterNot(_.startsWith(VersionNames.format(id)))
    Files.writeString(h, kept.map(_ + "\n").mkString)
    ()
  }

  private val states: Seq[(String, Table => Unit)] = Seq(
    "an orphan next slot" -> { t =>
      val v3 = Paths.get(t.dir, VersionNames.format(3L))
      frame(99L -> 0.0).write.parquet(v3.toString)
      Files.write(v3.resolve("_COPY"), srcFiles(t).mkString("", "\n", "\n").getBytes)
      Files.writeString(v3.resolve("_TXN"), "app\t7\n")
      ()
    },
    "a missing _HISTORY line" -> (t => dropHistoryLine(t.dir, 2L)))

  private def utc(millis: Long): String = {
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    fmt.format(new java.util.Date(millis))
  }

  private val readers: Seq[(String, Table => Unit)] = Seq(
    "snapshots and readSnapshot" -> { t =>
      assert(ParquetTable.snapshots(t.dir) == Seq(2L, 1L).map(VersionNames.format))
      assert(rowsOf(ParquetTable.readSnapshot(spark, t.dir, 0)) == base)
      assert(rowsOf(ParquetTable.readSnapshot(spark, t.dir, 1)) == v1)
    },
    "restore" -> { t =>
      assert(ParquetTable.restore(spark, t.dir, 1) == 3L)
      assert(rowsOf(ParquetTable.read(spark, t.dir)) == v1)
    },
    "changeFeed" -> { t =>
      val feed = ParquetTable.changeFeed(spark, t.dir, 1, 0, Seq("k"))
        .select(col("k").cast("long"), col("_change_type")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(feed == Set((3L, "insert")))
    },
    "table_changes" -> { t =>
      val feed = t.sql(s"SELECT k, _change_type FROM table_changes('${t.name}', 1, 2)")
        .map(r => (r.getAs[Number](0).longValue, r.getString(1))).toSet
      assert(feed == Set((3L, "insert")))
      val e = intercept[IllegalArgumentException](
        t.sql(s"SELECT * FROM table_changes('${t.name}', 2, 3)"))
      assert(e.getMessage.contains("version 3"), e.getMessage)
    },
    "VERSION AS OF" -> { t =>
      assert(t.count("VERSION AS OF 1") == 2L)
      assert(t.count("VERSION AS OF 2") == 3L)
      val e = intercept[IllegalArgumentException](t.count("VERSION AS OF 3"))
      assert(e.getMessage.contains("no published version 3"), e.getMessage)
    },
    "TIMESTAMP AS OF" -> { t =>
      assert(t.count(s"TIMESTAMP AS OF '${utc(System.currentTimeMillis() + 60000)}'") == 3L)
    },
    "CREATE TAG" -> { t =>
      t.sql(s"ALTER TABLE ${t.name} CREATE TAG two AS OF VERSION 2")
      val e = intercept[IllegalArgumentException](
        t.sql(s"ALTER TABLE ${t.name} CREATE TAG three AS OF VERSION 3"))
      assert(e.getMessage.contains("has no version 3"), e.getMessage)
      assert(graft.tables.Tags.protectedIds(t.dir) == Set(2L))
    },
    "DESCRIBE HISTORY" -> { t =>
      val h = t.sql(s"DESCRIBE HISTORY ${t.name}")
      assert(h.map(_.getAs[Long]("version")).toSeq == Seq(2L, 1L))
      assert(h.forall(_.getAs[java.sql.Timestamp]("timestamp") != null))
      assert(h.map(_.getAs[Boolean]("is_current")).toSeq == Seq(true, false))
    },
    "DESCRIBE DETAIL" -> { t =>
      assert(t.sql(s"DESCRIBE DETAIL ${t.name}").head.getAs[Long]("n_snapshots") == 2L)
    },
    "DESCRIBE EXTENDED" -> { t =>
      val kv = t.sql(s"DESCRIBE EXTENDED ${t.name}").map(r => r.getString(0) -> r.getString(1)).toMap
      assert(kv("Num Snapshots") == "2" && kv("Current Version") == "2")
    },
    "COPY INTO" -> { t =>
      assert(ParquetTable.copyInto(spark, t.dir, t.src) == ((1L, 1L, 0L)))
      assert(rowsOf(ParquetTable.read(spark, t.dir)) == base + ((4L, 40.0)))
      assert(ParquetTable.copyInto(spark, t.dir, t.src) == ((0L, 0L, 1L)), "a re-run is a no-op")
    },
    "lastTxnVersion" -> { t =>
      assert(ParquetTable.lastTxnVersion(t.dir, "app") == Some(2L))
      assert(!ParquetTable.swapWithTxn(spark, frame(5L -> 50.0), t.dir, "app", 2L), "a replay is a no-op")
      assert(ParquetTable.swapWithTxn(spark, frame(5L -> 50.0), t.dir, "app", 3L))
      assert(ParquetTable.lastTxnVersion(t.dir, "app") == Some(3L))
    },
    "ChangeFeedTable.publish" -> { t =>
      assert(ChangeFeedTable.publish(spark, frame(2L -> 20.0, 3L -> 30.0, 4L -> 40.0), t.dir, Seq("k")) == 3L)
      val feed = ChangeFeedTable.changeFeedBatch(spark, t.dir)
        .select(col("_commit_version"), col("k").cast("long"), col("_change_type")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(feed == Set((1L, 1L, "insert"), (1L, 2L, "insert"), (2L, 3L, "insert"),
        (3L, 1L, "delete"), (3L, 4L, "insert")))
    })

  for ((state, build) <- states; (reader, check) <- readers)
    test(s"$reader over $state sees exactly the published versions") {
      val t = baseTable(reader.filter(_.isLetter))
      build(t)
      check(t)
    }

  test("a version that was ever live stays published after the next commit") {
    val t = baseTable("live")
    dropHistoryLine(t.dir, 2L)
    ParquetTable.swap(spark, frame(5L -> 50.0), t.dir)
    assert(ParquetTable.snapshots(t.dir) == Seq(3L, 2L, 1L).map(VersionNames.format))
    assert(t.count("VERSION AS OF 2") == 3L)
    assert(rowsOf(ParquetTable.readSnapshot(spark, t.dir, 1)) == base)
    assert(ParquetTable.lastTxnVersion(t.dir, "app") == Some(2L), "the txn stamp stays acknowledged")
    val h = t.sql(s"DESCRIBE HISTORY ${t.name}")
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(3L, 2L, 1L))
    // The commit logged v2 once, from the pointer's mtime.
    assert(Files.readAllLines(Paths.get(t.dir, "_HISTORY")).size == 3)
  }

  test("a torn last _HISTORY line keeps its version published through the next commits") {
    val t = baseTable("torn")
    // The writer of v2 died mid-append: its line lost its tail and newline.
    val h = Paths.get(t.dir, "_HISTORY")
    val text = Files.readString(h)
    Files.writeString(h, text.dropRight(4))
    ParquetTable.swap(spark, frame(5L -> 50.0), t.dir)
    ParquetTable.swap(spark, frame(6L -> 60.0), t.dir)
    assert(ParquetTable.snapshots(t.dir) == Seq(4L, 3L, 2L, 1L).map(VersionNames.format))
    assert(t.count("VERSION AS OF 2") == 3L)
    assert(t.count("VERSION AS OF 3") == 1L)
  }

  test("ChangeFeedTable.publish on an undiverged shallow clone starts its feed with the snapshot as inserts") {
    val t = baseTable("clone")
    val clone = Paths.get(t.dir).resolveSibling("clone").toString
    ParquetTable.shallowClone(t.dir, clone)
    assert(ChangeFeedTable.publish(spark, frame(1L -> 10.0, 4L -> 40.0), clone, Seq("k")) == 1L)
    val feed = ChangeFeedTable.changeFeedBatch(spark, clone)
      .select(col("_commit_version"), col("k").cast("long"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set((1L, 1L, "insert"), (1L, 4L, "insert")))
    assert(rowsOf(ParquetTable.read(spark, t.dir)) == base, "the source is untouched")
  }

  test("a crashed vacuum's leftover .vacuum dir is invisible to readers and reclaimed by the next VACUUM") {
    val t = baseTable("vac")
    // A vacuum that died mid-delete: v1 was renamed away, then lost a file.
    val v1dir = Paths.get(t.dir, VersionNames.format(1L))
    val leftover = Paths.get(t.dir, s".vacuum-${VersionNames.format(1L)}-deadbeef")
    Files.move(v1dir, leftover)
    Files.delete(VersionNames.childNames(leftover).filter(_.endsWith(".parquet"))
      .map(leftover.resolve).head)
    val staging = Paths.get(t.dir, ".staging-deadbeef")
    frame(99L -> 0.0).write.parquet(staging.toString)

    assert(ParquetTable.snapshots(t.dir) == Seq(VersionNames.format(2L)))
    intercept[IllegalArgumentException](t.count("VERSION AS OF 1"))
    assert(t.sql(s"DESCRIBE HISTORY ${t.name}").length == 1)
    assert(rowsOf(ParquetTable.read(spark, t.dir)) == base)

    assert(t.sql(s"VACUUM ${t.name}").isEmpty, "nothing published is left to drop")
    assert(!Files.exists(leftover), "the next vacuum reclaims the leftover")
    assert(Files.exists(staging), "vacuum never touches a .staging dir")
    assert(rowsOf(ParquetTable.read(spark, t.dir)) == base)
  }

  test("vacuum still reclaims an unpublished version dir below the newest published one") {
    val t = baseTable("vac2")
    ParquetTable.swap(spark, frame(5L -> 50.0), t.dir)
    dropHistoryLine(t.dir, 1L) // v1 is now on disk but unpublished
    assert(ParquetTable.snapshots(t.dir) == Seq(3L, 2L).map(VersionNames.format))
    val dropped = t.sql(s"VACUUM ${t.name}").map(_.getAs[Long]("version")).toSet
    assert(dropped == Set(1L, 2L))
    assert(VersionNames.childNames(Paths.get(t.dir)).filter(n => n.startsWith("v") || n.startsWith(".")) ==
      Seq(VersionNames.format(3L)))
    assert(ParquetTable.snapshots(t.dir) == Seq(VersionNames.format(3L)))
    assert(rowsOf(ParquetTable.read(spark, t.dir)) == Set((5L, 50.0)))
  }
}
