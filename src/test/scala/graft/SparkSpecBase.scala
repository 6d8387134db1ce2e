package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs — mirrors the driver's Verify config
  * (`Verify.scala`): local threads, small shuffle partitioning, UTC. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs started by `body`, per job group. The body starts under the
    * group "body" and may switch with [[jobGroup]]; jobs outside these
    * groups are not counted. A marker job afterwards drains the listener
    * bus, which delivers in order, so every job of the body has been
    * counted once the marker's start is seen. */
  def jobsByGroup(body: => Unit): Map[String, Int] = {
    val sc = spark.sparkContext
    val jobs = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(SpecGroup)).map(_.stripPrefix(SpecGroup))
          .foreach {
            case "drain" => drained = true
            case g => jobs.synchronized { jobs(g) += 1 }
          }
    }
    sc.addSparkListener(listener)
    try {
      jobGroup("body")
      try body finally sc.clearJobGroup()
      jobGroup("drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
      assert(drained, "listener bus did not drain")
      jobs.synchronized(jobs.toMap).withDefaultValue(0)
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started by `body`. */
  def jobsDuring(body: => Unit): Int = jobsByGroup(body).values.sum

  /** Counts this thread's next jobs under `name` in [[jobsByGroup]]. */
  def jobGroup(name: String): Unit =
    spark.sparkContext.setJobGroup(SpecGroup + name, name)

  private val SpecGroup = "spec-jobs:"
}

object SparkSpecBase {
  // the shared engine recipe (GraftSession — VERDICT r10 #5): the session
  // under test is config-identical to the one Bench measures and Verify
  // verifies (incl. the off-heap Tungsten pool); GraftExtensions.install
  // runs inside it (native SQL functions + recommendedConfs)
  lazy val session: SparkSession = GraftSession.local("4")
}
