package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs started per job group, with a flush: listener events
  * arrive in order, so once a marker job's end is seen every earlier
  * job's start has been counted. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  val started = new ConcurrentHashMap[String, Integer]()
  @volatile var markerEnded = false
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (g == "jobs-spec-marker") markerJobs.add(e.jobId)
    else started.merge(g, 1, (a: Integer, b: Integer) => a + b)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) markerEnded = true
  def flush(): Unit = {
    val sc = spark.sparkContext
    markerEnded = false
    sc.setJobGroup("jobs-spec-marker", "listener flush")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (!markerEnded && System.currentTimeMillis() < deadline) Thread.sleep(5)
    assert(markerEnded, "listener bus did not deliver the marker job")
  }
  def jobsOf(group: String): Int = Option(started.get(group)).map(_.intValue).getOrElse(0)

  /** Run `body` in its own job group; its result and the jobs it started. */
  def jobsIn[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    flush()
    (out, jobsOf(group))
  }
}
