package graft

/** Within-one-JVM alternating A/B for the streaming replay builds (ad
  * hoc measurement tool — NOT part of the driver contract; the bench's
  * timed entries are untouched).
  *
  * This box's host-side CPU/IO throttle swings 2–6×, so isolated-JVM
  * single samples cannot adjudicate sub-2× effects (r16 methodology).
  * The harness times the SAME work with a conf flipped per arm, in
  * alternating order (A,B,B,A,…) so a monotone drift cancels, and runs
  * a fixed-work fsync probe around every sample so an IO-throttle
  * episode is visible next to the number it contaminated.
  *
  * Usage: runMain graft.AbStream <streamed|query:name|sqlfile:path> <rounds> key=valA|valB [key2=...]
  *   - streamed: stages the JSON inputs ONCE, then per sample replays
  *     the file-source → parse → flatMapGroupsWithState(RocksDB) →
  *     parquet-sink ingest stream into fresh out/checkpoint dirs
  *     (deleted after each sample) — the replay constant in isolation.
  * Sink row counts are asserted identical across every sample — a conf
  * that changed results would abort the A/B, not report a speedup.
  */
object AbStream {

  private def ioProbeSec(): Double = {
    import java.nio.file.{Files, StandardOpenOption}
    val dir = graft.tables.TmpDirs.create("graft-ab-io")
    val buf = new Array[Byte](4 << 20)
    new java.util.Random(42).nextBytes(buf)
    val t0 = System.nanoTime()
    val files = (0 until 4).map { i =>
      val p = dir.resolve(s"f$i")
      val ch = java.nio.channels.FileChannel.open(p,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try { ch.write(java.nio.ByteBuffer.wrap(buf)); ch.force(false) }
      finally ch.close()
      p
    }
    val sec = (System.nanoTime() - t0) / 1e9
    try { files.foreach(Files.deleteIfExists(_)); Files.deleteIfExists(dir) }
    catch { case _: java.io.IOException => () }
    sec
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: AbStream <streamed|query:name|sqlfile:path> <rounds> key=valA|valB ...")
    val mode = args(0)
    val rounds = args(1).toInt
    val flips: Seq[(String, (String, String))] = args.drop(2).toSeq.map { spec =>
      val Array(k, vs) = spec.split("=", 2)
      val Array(a, b) = vs.split("\\|", 2)
      (k, (a, b))
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CdcPipeline.useFastGen = true

    def setArm(arm: Char): Unit = flips.foreach { case (k, (a, b)) =>
      spark.conf.set(k, if (arm == 'A') a else b)
    }

    // ---- per-mode sample runners ------------------------------------
    var expectRows = -1L
    val streamedBase = graft.tables.TmpDirs.create("graft-ab-streamed")
    lazy val streamedDirs = CdcPipeline.stageStreamedInputs(spark, sfDir, streamedBase)
    var seq = 0
    def sampleStreamed(): Double = {
      seq += 1
      val out = streamedBase.resolve(s"out$seq").toString
      val cp = streamedBase.resolve(s"cp$seq").toString
      val t0 = System.nanoTime()
      CdcPipeline.runStreamed(spark, streamedDirs, out, cp)
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = spark.read.parquet(out).count()
      if (expectRows < 0) expectRows = rows
      require(rows == expectRows, s"arm changed results: $rows vs $expectRows")
      Seq(out, cp).foreach { d =>
        try graft.tables.ValueIndex.deleteTree(java.nio.file.Paths.get(d))
        catch { case scala.util.control.NonFatal(_) => () }
      }
      sec
    }
    val sample: () => Double = mode match {
      case "streamed" => () => sampleStreamed()
      // query:<declared name>: time the declared query's count() (the
      // bench's timed action) under the flipped confs — the generic
      // arm for any conf-gated query-path A/B.
      case q if q.startsWith("query:") =>
        val fn = SparkEntry.queries(q.stripPrefix("query:"))
        () => {
          val t0 = System.nanoTime()
          val rows = fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          if (expectRows < 0) expectRows = rows
          require(rows == expectRows, s"arm changed results: $rows vs $expectRows")
          sec
        }
      // sqlfile:<path>: time a GraftSql statement's count() with every
      // sfDir parquet table mounted as a temp view (file stem = name).
      case p if p.startsWith("sqlfile:") =>
        val stmt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p.stripPrefix("sqlfile:"))), "UTF-8")
        val dirFiles = Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
        dirFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
          spark.read.parquet(f.getPath)
            .createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
        }
        () => {
          val t0 = System.nanoTime()
          val rows = graft.tables.GraftSql.sql(spark, stmt).count()
          val sec = (System.nanoTime() - t0) / 1e9
          if (expectRows < 0) expectRows = rows
          require(rows == expectRows, s"arm changed results: $rows vs $expectRows")
          sec
        }
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }

    // warmup (arm A), untimed: classloading/JIT/codegen + the staging
    setArm('A'); sample()

    val a = scala.collection.mutable.ArrayBuffer.empty[Double]
    val b = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (r <- 1 to rounds) {
      val order = if (r % 2 == 1) Seq('A', 'B') else Seq('B', 'A')
      for (arm <- order) {
        // Unload every state-store provider the previous sample loaded:
        // terminated AvailableNow queries leave providers registered
        // until the (60 s) maintenance tick, whose background snapshot
        // uploads and RocksDB instances otherwise overlap — and
        // contaminate — the NEXT sample (measured: monotone 4.9→22 s
        // drift across 8 samples without this).
        org.apache.spark.sql.graft.StateInit.unloadAllStateStores()
        System.gc()
        val ioBefore = ioProbeSec()
        setArm(arm)
        val sec = sample()
        val ioAfter = ioProbeSec()
        (if (arm == 'A') a else b) += sec
        println(f"""{"mode":"$mode","round":$r,"arm":"$arm","sec":$sec%.2f,"io_before":$ioBefore%.2f,"io_after":$ioAfter%.2f}""")
      }
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    println(f"""{"mode":"$mode","flips":"${flips.map(f => f._1 + "=" + f._2._1 + "|" + f._2._2).mkString(",")}","a":[${a.map(x => f"$x%.2f").mkString(",")}],"b":[${b.map(x => f"$x%.2f").mkString(",")}],"median_a":${med(a.toSeq)}%.2f,"median_b":${med(b.toSeq)}%.2f,"ratio_b_over_a":${med(b.toSeq) / med(a.toSeq)}%.3f,"rows":$expectRows}""")
    spark.stop()
  }
}
