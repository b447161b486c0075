package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftspec.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session —
  * getOrCreate — so the suite doesn't pay startup per spec).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = "/root/testdata/sf0.001"

  /** The Spark jobs `body` starts: jobs submitted from this thread, or
    * from threads Spark starts on its behalf (they inherit its local
    * properties), while `body` runs. Calls nest: an inner call's jobs
    * count toward the outer one too.
    */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty(SparkSpec.JobTags)))
            .exists(_.split(',').contains(tag))) jobs.incrementAndGet()
    }
    val outer = sc.getLocalProperty(SparkSpec.JobTags)
    sc.addSparkListener(listener)
    sc.setLocalProperty(SparkSpec.JobTags, Option(outer).fold(tag)(o => s"$o,$tag"))
    try { body; Bus.drain(sc) }
    finally {
      sc.setLocalProperty(SparkSpec.JobTags, outer)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)

  /** Local property carrying the tags of the [[SparkSpec.jobsOf]] calls
    * a job runs under.
    */
  private val JobTags = "graft.spec.jobsOf"
}
