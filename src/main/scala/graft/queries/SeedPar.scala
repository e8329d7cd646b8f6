package graft.queries

/** Overlap independent seeding sub-builds inside one `build_*` entry
  * (guide §2.6): Spark's scheduler happily runs several jobs at once in
  * one application — the builds were sequential only because the driver
  * called their actions sequentially, so every job's straggler tail left
  * the rest of local[N] idle. Submitting independent sub-builds from a
  * small daemon pool back-fills those tails; FIFO scheduling keeps the
  * first job's resources first, which is exactly the back-fill shape.
  *
  * Used ONLY for sub-builds that are mutually independent after their
  * SHARED memoized dependencies have been materialized by the caller —
  * `SessionMemo.getOrElseUpdate` may race-evaluate a same-key thunk, so
  * a shared dep must be sequenced BEFORE the fan-out (the established
  * StorageQueries.ensureSeeded discipline, generalized here).
  *
  * `SPARK_GRAFT_SEED_PARALLEL=0` opts out (the A/B lever: arms flip per
  * JVM; the sequential arm is the pre-r17 behavior, bit-identical
  * results either way since the same sub-builds run on the same inputs).
  */
private[graft] object SeedPar {

  /** Daemon threads: an idle pool must never hold a Verify/Bench main
    * open after it returns. CACHED, not fixed: a nested fan-out (the
    * DML seeder fans out statements from inside the seeder fan-out)
    * blocks its pool thread in Await — on a fixed pool that class of
    * nesting can starve the inner tasks; a cached pool just grows (the
    * width is bounded by the fan-out structure, ≤ ~12 threads, and
    * idle threads retire after 60 s). */
  private lazy val pool = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newCachedThreadPool({ (r: Runnable) =>
      val t = new Thread(r, "graft-seedpar")
      t.setDaemon(true)
      t
    }))

  val enabled: Boolean = !sys.env.get("SPARK_GRAFT_SEED_PARALLEL").contains("0")

  /** Run the thunks to completion — concurrently on the pool when
    * enabled, in order otherwise. The first failure in item order
    * propagates (as the sequential spelling's would); in the parallel
    * arm only once every already-submitted sibling has finished, so no
    * detached sub-build keeps running Spark jobs into whatever the
    * caller does next (the next timed entry, a temp-dir teardown). In
    * the sequential arm later thunks never start. */
  def all(work: Seq[() => Any]): Unit = { mapAll(work)(_()); () }

  /** Fan out `f` over the items and return results in item order —
    * concurrently on the pool when enabled, in order otherwise. */
  def mapAll[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (!enabled || items.size <= 1) items.map(f)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = pool
      val futures = items.map(a => Future(f(a)))
      futures.foreach(Await.ready(_, Duration.Inf))
      futures.map(_.value.get.get)
    }
}
