package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "3").config("spark.ui.enabled", "false")
    .getOrCreate()

  private def frame = {
    import spark.implicits._
    Seq((1, "a", 1.5f), (2, "b", 2.5f), (2, "b", 2.5f), (3, null, -0.5f)).toDF("k", "s", "x")
  }

  test("digest ignores row order, partitioning and column order") {
    val base = Digest.of(frame)
    assert(Digest.of(frame.orderBy(desc("k"))) == base)
    assert(Digest.of(frame.repartition(3, col("s"))) == base)
    assert(Digest.of(frame.select("x", "k", "s")) == base)
  }

  test("digest sees a changed value, a lost duplicate and swapped columns") {
    val base = Digest.of(frame)
    assert(Digest.of(frame.withColumn("k", when(col("k") === 3, 4).otherwise(col("k")))) != base)
    assert(Digest.of(frame.dropDuplicates()) != base)
    assert(Digest.of(frame.select(col("k"), col("x").as("s"), col("s").as("x"))) != base)
  }

  test("digest is the same for an output and its parquet copy with widened types") {
    val dir = java.nio.file.Files.createTempDirectory("digest").toString
    frame.write.mode("overwrite").parquet(dir)
    val widened = frame.select(col("k").cast("long"), col("s"), col("x").cast("double"))
    try {
      assert(Digest.of(spark.read.parquet(dir)) == Digest.of(frame))
      assert(Digest.of(widened) == Digest.of(frame))
    } finally graft.Scratch.deleteNow(dir)
  }

  test("the observed digest equals the aggregated one") {
    val (observed, obs) = Digest.observe(frame.orderBy("k"))
    observed.write.format("noop").mode("overwrite").save()
    assert(Digest.read(obs) == Digest.of(frame))
  }
}
