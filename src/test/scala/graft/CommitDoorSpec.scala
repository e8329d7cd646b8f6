package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{ParquetTable, VersionNames}
import graft.tables.{GraftSql, TmpDirs}

/** Every publisher of a versioned table commits through one door, so
  * each behaves the same over the on-disk states a crashed or failed
  * writer leaves behind. The states are built on disk directly:
  *
  *  - an orphaned `.staging-*` dir (a writer that died before its move);
  *  - a moved-but-unpublished next version slot (died between its move
  *    and its pointer flip);
  *  - a flipped pointer whose `_HISTORY` line is missing (died between
  *    the flip and the history append);
  *  - a write that throws mid-job.
  *
  * Readers see the old version before the commit and the new one at the
  * slot rule's id after it, an orphan's rows never appear, and no
  * staging dir of the commit's own is left. */
class CommitDoorSpec extends SparkSuite {

  private type Rows = Set[(Long, Double)]

  /** One publisher: what it commits over the base table and the rows the
    * table then holds. `failing`, where the publisher runs a caller's
    * write, is the same commit with a write that throws mid-job. */
  private case class Publisher(
      name: String,
      commit: String => Unit,
      expected: Rows,
      failing: Option[String => Unit] = None)

  private def frame(rows: (Long, Double)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  /** A frame whose `v` raises an error only while the write job runs. */
  private def throwing(rows: (Long, Double)*): DataFrame =
    frame(rows: _*).withColumn("v",
      when(col("k") === 4L, raise_error(lit("boom")).cast("double")).otherwise(col("v")))

  private val v1: Rows = Set((1L, 10.0), (2L, 20.0))
  private val base: Rows = v1 + ((3L, 30.0))

  private def rows(dir: String): Rows =
    ParquetTable.readMoR(spark, dir).select(col("k").cast("long"), col("v").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

  private def stagingDirs(dir: String): Set[String] =
    VersionNames.childNames(Paths.get(dir)).filter(_.startsWith(".staging-")).toSet

  private def restore(dir: String): Unit = {
    val nm = s"door_${java.util.UUID.randomUUID.toString.take(8)}"
    GraftSql.register(spark, nm, dir, Seq("k"))
    try {
      val r = GraftSql.sql(spark, s"RESTORE TABLE $nm TO VERSION AS OF 1").collect().head
      assert(r.getAs[Long]("new_version") == VersionNames.idOf(ParquetTable.currentVersion(dir)),
        "RESTORE reports the id it published")
    } finally GraftSql.sql(spark, s"DROP TABLE $nm")
    ()
  }

  private val publishers = Seq(
    Publisher("swap", d => { ParquetTable.swap(spark, frame(4L -> 40.0), d); () },
      Set((4L, 40.0)), Some(d => { ParquetTable.swap(spark, throwing(4L -> 40.0), d); () })),
    Publisher("swapIfCurrent",
      d => ParquetTable.swapIfCurrent(spark, frame(4L -> 40.0), d, ParquetTable.currentVersion(d)),
      Set((4L, 40.0)),
      Some(d => ParquetTable.swapIfCurrent(
        spark, throwing(4L -> 40.0), d, ParquetTable.currentVersion(d)))),
    Publisher("swapWithTxn",
      d => assert(ParquetTable.swapWithTxn(spark, frame(4L -> 40.0), d, "app", 1L)),
      Set((4L, 40.0)),
      Some(d => { ParquetTable.swapWithTxn(spark, throwing(4L -> 40.0), d, "app", 1L); () })),
    Publisher("truncate", d => { ParquetTable.truncate(spark, d); () }, Set.empty),
    Publisher("append", d => ParquetTable.append(spark, frame(4L -> 40.0), d),
      base + ((4L, 40.0)), Some(d => ParquetTable.append(spark, throwing(4L -> 40.0), d))),
    Publisher("copyInto", { d =>
      val src = Paths.get(d).resolveSibling("src").toString
      frame(4L -> 40.0).coalesce(1).write.parquet(src)
      assert(ParquetTable.copyInto(spark, d, src)._1 == 1L)
    }, base + ((4L, 40.0))),
    Publisher("DELETE", d => { ParquetTable.deleteWhere(spark, d, "k = 1"); () },
      base - ((1L, 10.0))),
    Publisher("UPDATE",
      d => { ParquetTable.updateWhere(spark, d, "k = 2", Map("v" -> "v + 1")); () },
      base - ((2L, 20.0)) + ((2L, 21.0)),
      Some(d => { ParquetTable.updateWhere(spark, d, "k = 2", Map("v" -> "raise_error('boom')")); () })),
    Publisher("MERGE",
      d => { ParquetTable.mergeInto(spark, d, frame(2L -> 200.0, 4L -> 40.0), Seq("k")); () },
      Set((1L, 10.0), (2L, 200.0), (3L, 30.0), (4L, 40.0))),
    Publisher("REPLACE WHERE",
      d => { ParquetTable.replaceWhere(spark, d, "k >= 2", frame(2L -> 22.0)); () },
      Set((1L, 10.0), (2L, 22.0))),
    Publisher("deleteWhereDV", d => { ParquetTable.deleteWhereDV(spark, d, "k = 3"); () }, v1),
    Publisher("RESTORE", restore, v1))

  /** The base table: v1 holds `v1`, v2 (live) holds `base`. */
  private def baseTable(tag: String): String = {
    val dir = TmpDirs.create(s"graft-door-$tag").resolve("t").toString
    ParquetTable.swap(spark, frame(v1.toSeq: _*), dir)
    ParquetTable.swap(spark, frame(base.toSeq: _*), dir)
    dir
  }

  /** A version or staging dir holding the row k = 99: a crashed writer's. */
  private def orphan(at: Path): Unit =
    frame(99L -> 0.0).write.parquet(at.toString)

  /** Builds a crash state over a base table and returns the id the
    * next commit takes under the slot rule. */
  private val states: Seq[(String, String => Long)] = Seq(
    "clean" -> (_ => 3L),
    "orphan .staging dir" -> { d => orphan(Paths.get(d, ".staging-deadbeef")); 3L },
    "moved-but-unpublished next slot" -> { d => orphan(Paths.get(d, VersionNames.format(3L))); 3L },
    "flipped pointer, _HISTORY line missing" -> { d =>
      val h = Paths.get(d, "_HISTORY")
      val kept = Files.readAllLines(h).toArray.map(_.toString)
        .filterNot(_.startsWith(VersionNames.format(2L)))
      Files.writeString(h, kept.map(_ + "\n").mkString)
      3L
    })

  for (p <- publishers; (state, build) <- states)
    test(s"${p.name} over $state publishes at the slot rule's id") {
      val dir = baseTable(p.name.replace(' ', '_'))
      val id = build(dir)
      val planted = stagingDirs(dir)
      assert(ParquetTable.currentVersion(dir) == VersionNames.format(2L))
      assert(rows(dir) == base, "readers see the old version before the commit")
      p.commit(dir)
      assert(ParquetTable.currentVersion(dir) == VersionNames.format(id))
      assert(ParquetTable.publishedVersions(dir).exists(_._1 == VersionNames.format(id)))
      assert(rows(dir) == p.expected)
      assert(stagingDirs(dir) == planted, s"staging left behind: ${stagingDirs(dir) -- planted}")
      if (state.startsWith("flipped pointer")) {
        val names = ParquetTable.publishedVersions(dir).map(_._1)
        val i = names.indexOf(VersionNames.format(2L))
        assert(i >= 0, s"the once-live version 2 must stay published: $names")
        assert(ParquetTable.readSnapshot(spark, dir, i).select(col("k").cast("long"), col("v").cast("double"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == base)
      }
    }

  for (p <- publishers; fail <- p.failing)
    test(s"${p.name} whose write throws mid-job publishes nothing and leaves no staging") {
      val dir = baseTable(p.name)
      val before = VersionNames.childNames(Paths.get(dir)).toSet
      intercept[Exception](fail(dir))
      assert(ParquetTable.currentVersion(dir) == VersionNames.format(2L))
      assert(rows(dir) == base)
      assert(VersionNames.childNames(Paths.get(dir)).toSet == before)
    }

  test("adopt over an orphan .staging dir or an unpublished v1 takes version 1") {
    for (state <- Seq("clean", "staging", "slot")) {
      val dir = TmpDirs.create("graft-door-adopt").resolve("t").toString
      frame(base.toSeq: _*).write.parquet(dir)
      state match {
        case "staging" => orphan(Paths.get(dir, ".staging-deadbeef"))
        case "slot"    => orphan(Paths.get(dir, VersionNames.format(1L)))
        case _         => ()
      }
      val planted = stagingDirs(dir)
      assert(!ParquetTable.exists(dir))
      assert(ParquetTable.adopt(spark, dir) > 0)
      assert(ParquetTable.currentVersion(dir) == VersionNames.format(1L), state)
      assert(rows(dir) == base, state)
      assert(stagingDirs(dir) == planted, state)
    }
  }

  test("a published occupant of the next slot fails the commit and survives") {
    // A writer outside this JVM moved v3 in and logged it, but has not
    // flipped the pointer yet.
    val dir = baseTable("published")
    val next = Paths.get(dir, VersionNames.format(3L))
    orphan(next)
    Files.writeString(Paths.get(dir, "_HISTORY"), s"${next.getFileName}\t${System.currentTimeMillis()}\n",
      StandardOpenOption.APPEND)
    val cur = Paths.get(ParquetTable.currentPath(dir))
    intercept[ParquetTable.ConcurrentWriteException] {
      ParquetTable.commitCow(dir, cur, Set.empty)(_ => ())
    }
    assert(spark.read.parquet(next.toString).count() == 1L, "the occupant is never deleted")
    assert(ParquetTable.currentVersion(dir) == VersionNames.format(2L))
    assert(stagingDirs(dir).isEmpty)
  }

  test("replaceFile: concurrent writers never tear, fail or leave a temp file") {
    val dir = TmpDirs.create("graft-replace")
    val path = dir.resolve("_F")
    val texts = Seq("a" * 4096, "b" * 8192)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = texts.map(t => pool.submit(new Callable[Unit] {
        def call(): Unit = (1 to 500).foreach(_ => VersionNames.replaceFile(path, t))
      }))
      runs.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(texts.contains(Files.readString(path)))
    assert(VersionNames.childNames(dir) == Seq("_F"))
  }
}
