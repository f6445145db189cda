package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** The table loaders: a read resolves its schema on the driver from one
  * parquet footer, so it starts no Spark job, and the frame it returns
  * is the frame Spark's own schema inference would return. */
class TablesSpec extends SparkSuite {

  private val sf0001Tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** A Spark-written table directory `<root>/t.parquet`, with its
    * `_SUCCESS` marker, `.crc` side files and non-null columns. */
  private def sparkWrittenTable(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_tables").toString
    spark.range(0, 500, 1, 3)
      .select(col("id").as("doc_id"), (col("id") % 7).as("k"),
        concat(lit("s"), col("id").cast("string")).as("s"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 2).as("maybe"))
      .write.parquet(s"$root/t.parquet")
    root
  }

  private def assertSameFrame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, what)
    assert(got.collect().toSeq === want.collect().toSeq, what)
  }

  test("Tables.table starts no Spark job: single-file and Spark-written tables") {
    assert(jobsStarted { Tables.table(spark, Sf0001, "orders") } === 0)
    val root = sparkWrittenTable()
    val names = new java.io.File(s"$root/t.parquet").list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(names.count(_.endsWith(".parquet")) > 1, names)
    assert(jobsStarted { Tables.table(spark, root, "t") } === 0)
  }

  test("Tables.table frames equal spark.read.parquet's: every sf0.001 table, a Spark-written table") {
    sf0001Tables.foreach { t =>
      assertSameFrame(Tables.table(spark, Sf0001, t),
        spark.read.parquet(s"$Sf0001/$t.parquet"), t)
    }
    // the footer of a Spark-written file keeps the writer's non-null
    // fields; the frame read with it is all-nullable, like the inferred one
    val root = sparkWrittenTable()
    val read = Tables.table(spark, root, "t")
    assertSameFrame(read, spark.read.parquet(s"$root/t.parquet"), "spark-written")
    assert(read.schema.forall(_.nullable))
    assert(read.count() === 500)
  }

  test("Tables.table on a missing path fails with Spark's own error") {
    val missing = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val ours = intercept[AnalysisException](Tables.table(spark, missing, "nope"))
    val spark0 = intercept[AnalysisException](spark.read.parquet(s"$missing/nope.parquet"))
    assert(ours.getCondition === "PATH_NOT_FOUND")
    assert(ours.getMessage === spark0.getMessage)
  }
}
