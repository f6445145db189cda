package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs: one JVM-wide [[Session.local]] session
  * at a fixed 4 threads, so the specs keep their width whatever
  * `SPARK_GRAFT_CPUS` the run exports. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val Sf0001 = "/root/testdata/sf0.001"

  def fixturePath(rel: String): String =
    getClass.getResource("/fixtures/" + rel).getPath
}

object SparkSuite {
  lazy val session: SparkSession = Session.local(cpus = 4)
}
