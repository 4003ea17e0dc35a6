package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite wall-time dominated by actual query work, not session startup).
  * Built like the graded mains' sessions ([[Session.builder]]).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Session.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  // stable identifier so suites can `import spark.implicits._`
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.Sf

  /** The job group of every Spark job `body` starts, in start order
    * (`<none>` for a job without one). A fence job under its own group
    * drains the in-order listener queue up to the end of `body`.
    */
  def jobGroupsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    def drained(): Seq[String] = {
      val fence = s"fence-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Iterator.continually(groups.poll(60, TimeUnit.SECONDS))
        .map { g =>
          assert(g != null, "fence job never reached the listener")
          g
        }
        .takeWhile(_ != fence).toSeq
    }
    sc.addSparkListener(listener)
    try {
      drained()
      body
      drained()
    } finally sc.removeSparkListener(listener)
  }
}
