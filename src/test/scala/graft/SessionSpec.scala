package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.operators.StreamingQueries

/** [[Session.withConf]]: exact restore, also on a throw, and no leak when
  * scopes on one session overlap in time. */
class SessionSpec extends SparkSuite {

  private val parts = "spark.sql.shuffle.partitions"
  private val cbo = "spark.sql.cbo.enabled"

  /** The session's explicit value of `k` (None = unset, default applies). */
  private def explicit(k: String): Option[String] = spark.conf.getAll.get(k)

  test("withConf restores a set key and unsets an absent one, also when the body throws") {
    val before = spark.conf.getAll
    assert(before.contains(parts) && !before.contains(cbo))
    val seen = Session.withConf(spark, parts -> "7", cbo -> "true") {
      (spark.conf.get(parts), spark.conf.get(cbo))
    }
    assert(seen === ("7", "true"))
    assert(spark.conf.getAll === before)
    val e = intercept[IllegalStateException] {
      Session.withConf(spark, parts -> "9", cbo -> "true") {
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(spark.conf.getAll === before)
  }

  test("overlapping scopes on two threads leave the conf as it was") {
    // Forced order A-in, B-in, A-out, B-out: with per-scope save/restore
    // and no lock, B saves A's value and restores it after A has
    // restored the original, leaving the session at A's value. Under the
    // lock B cannot enter until A is out, so bIn times out inside A.
    val before = explicit(parts)
    val aIn, bAttempt, bIn, aOut = new CountDownLatch(1)
    val a = Future {
      val inA = Session.withConf(spark, parts -> "8") {
        aIn.countDown()
        bAttempt.await(10, TimeUnit.SECONDS)
        bIn.await(2, TimeUnit.SECONDS)
        spark.conf.get(parts)
      }
      aOut.countDown()
      inA
    }
    val b = Future {
      aIn.await(10, TimeUnit.SECONDS)
      bAttempt.countDown()
      Session.withConf(spark, parts -> "16") {
        bIn.countDown()
        aOut.await(10, TimeUnit.SECONDS)
        spark.conf.get(parts)
      }
    }
    val (inA, inB) = (Await.result(a, 1.minute), Await.result(b, 1.minute))
    assert(explicit(parts) === before)
    assert((inA, inB) === ("8", "16"))
  }

  test("q38 and q99 run concurrently on the shared session: same rows, conf unchanged") {
    val keys = Seq(parts,
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.checkpointLocation")
    val before = keys.map(explicit)
    val q38 = () => StreamingQueries.streamTumbling(spark, Sf0001).collect().toSeq
    val q99 = () => StreamingQueries.streamTypeStats(spark, Sf0001).collect().toSeq
    val (seq38, seq99) = (q38(), q99())
    assert(seq38.nonEmpty && seq99.nonEmpty)
    val (par38, par99) = Await.result(
      Future(q38()).zip(Future(q99())), 5.minutes)
    assert(par38 === seq38)
    assert(par99 === seq99)
    assert(keys.map(explicit) === before)
  }
}
