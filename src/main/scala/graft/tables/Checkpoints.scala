package graft.tables

import org.apache.spark.sql.DataFrame

/** Lineage cut for loop-carried / multiply-consumed intermediates.
  *
  * `localCheckpoint(true)` truncates lineage to NON-RELIABLE
  * executor-local blocks: correct and fast in this single-JVM harness,
  * but on a real cluster an executor loss mid-query kills the job
  * instead of recomputing (r16 verdict, "what's wrong" 3). Every query
  * path that cuts lineage (recursive-CTE frontiers and hoisted
  * invariants, q34's shared distinct, the DML seed slice) now routes
  * through [[cut]], which keeps the local default but honors
  * `spark.graft.checkpoint.reliableDir`: when set, intermediates go
  * through RELIABLE `Dataset.checkpoint` into that directory (set on
  * first use, and again whenever the conf names another directory or
  * the set one was deleted), surviving executor loss at the cost
  * of a filesystem round-trip — the 100 TB deployment spelling. The
  * result is the same rows either way; only the recovery story and the
  * storage medium differ. */
object Checkpoints {

  /** Eagerly materialize `df` with its lineage cut — local blocks by
    * default, reliable files under `spark.graft.checkpoint.reliableDir`
    * when configured. */
  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption("spark.graft.checkpoint.reliableDir")
      .filter(_.nonEmpty) match {
      case Some(dir) =>
        // Set lazily (harnesses that never opt in never create the dir),
        // and only when the context's dir is not a child of `dir` or no
        // longer exists: setCheckpointDir mints a fresh UUID subdir per
        // call, while a dir set for another reliableDir, or deleted
        // since, would send the cut somewhere stale.
        val sc = s.sparkContext
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(sc.hadoopConfiguration)
        val current = sc.getCheckpointDir.map(new org.apache.hadoop.fs.Path(_))
        if (!current.exists(c => c.getParent == fs.makeQualified(root) && fs.exists(c)))
          sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
  }
}
