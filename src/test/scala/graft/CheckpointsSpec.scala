package graft

import graft.tables.{Checkpoints, GraftSql}

/** The lineage-cut helper must keep the fast local default and, under
  * spark.graft.checkpoint.reliableDir, route the same intermediates
  * through RELIABLE Dataset.checkpoint files with identical results —
  * the cluster spelling of the recursive-CTE/q34 lineage cuts. */
class CheckpointsSpec extends SparkSuite {

  private val rcte =
    """WITH RECURSIVE r(n) AS (
      |  SELECT 1 AS n
      |  UNION
      |  SELECT n + 1 FROM r WHERE n < 5
      |)
      |SELECT n FROM r""".stripMargin

  test("reliable arm writes checkpoint files and returns identical rows") {
    val s = spark
    val localRows = GraftSql.sql(s, rcte).collect().map(_.getInt(0)).sorted
    assert(localRows.toSeq == (1 to 5))

    // A process-lifetime scratch dir, not deleted here: the shared
    // context keeps pointing at its checkpoint dir after this test.
    val dir = graft.tables.TmpDirs.create("graft-reliable-ckpt")
    s.conf.set("spark.graft.checkpoint.reliableDir", dir.toString)
    try {
      val reliableRows = GraftSql.sql(s, rcte).collect().map(_.getInt(0)).sorted
      assert(reliableRows.sameElements(localRows))
      // The cut really went through the reliable path: files landed.
      val s2 = java.nio.file.Files.walk(dir)
      val nFiles =
        try s2.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s2.close()
      assert(nFiles > 0, s"no reliable checkpoint files under $dir")
    } finally s.conf.unset("spark.graft.checkpoint.reliableDir")
  }

  test("a checkpoint dir outside reliableDir, or deleted, is set again") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    def cutUnder(dir: java.nio.file.Path): Unit = {
      s.conf.set("spark.graft.checkpoint.reliableDir", dir.toString)
      try {
        val cut = Checkpoints.cut(Seq(1, 2, 3).toDF("v"))
        assert(cut.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
      } finally s.conf.unset("spark.graft.checkpoint.reliableDir")
      val cur = sc.getCheckpointDir.map(d => java.nio.file.Paths.get(new java.net.URI(d)))
      assert(cur.exists(c => c.getParent == dir && java.nio.file.Files.isDirectory(c)),
        s"checkpoint dir $cur is not a live child of $dir")
    }
    val a = graft.tables.TmpDirs.create("graft-ckpt-a")
    val b = graft.tables.TmpDirs.create("graft-ckpt-b")
    cutUnder(a)
    cutUnder(b) // the context's dir belongs to another reliableDir
    graft.tables.ValueIndex.deleteTree(b)
    cutUnder(b) // the context's dir was deleted
  }

  test("default arm stays a local checkpoint (no checkpoint dir required)") {
    val s = spark
    import s.implicits._
    val cut = Checkpoints.cut(Seq(1, 2, 3).toDF("v"))
    assert(cut.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
  }
}
