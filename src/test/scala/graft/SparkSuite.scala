package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Shared session for all specs: one JVM-wide [[Session.local]] session
  * at a fixed 4 threads, so the specs keep their width whatever
  * `SPARK_GRAFT_CPUS` the run exports. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val Sf0001 = "/root/testdata/sf0.001"

  def fixturePath(rel: String): String =
    getClass.getResource("/fixtures/" + rel).getPath

  /** Spark jobs `body` starts, counted through a job group. The status
    * store hears of jobs over the listener bus in order, so once a
    * sentinel job started after `body` is visible, so is every job
    * `body` started. */
  def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    def inGroup(work: => Unit): String = {
      val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, group)
      try work finally sc.clearJobGroup()
      group
    }
    val counted = inGroup(body)
    val sentinel = inGroup(sc.parallelize(Seq(1), 1).count())
    eventually(timeout(Span(30, Seconds))) {
      assert(sc.statusTracker.getJobIdsForGroup(sentinel).nonEmpty)
    }
    sc.statusTracker.getJobIdsForGroup(counted).length
  }
}

object SparkSuite {
  lazy val session: SparkSession = Session.local(cpus = 4)
}
