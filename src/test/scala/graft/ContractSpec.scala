package graft

import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}

/** Driver-contract guards over the WHOLE query registry — regressions
  * here broke an entire correctness round once (round 1: every
  * decimal-typed output hash-mismatched at the driver, see NOTES.md). */
class ContractSpec extends SparkSuite {

  private def containsDecimal(dt: DataType): Boolean = dt match {
    case _: DecimalType => true
    case s: StructType => s.fields.exists(f => containsDecimal(f.dataType))
    case a: ArrayType => containsDecimal(a.elementType)
    case m: MapType => containsDecimal(m.keyType) || containsDecimal(m.valueType)
    case _ => false
  }

  private def hasDecimal(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if containsDecimal(f.dataType) => f.name
    }.toSeq

  test("no registered query outputs a DECIMAL column (driver-hash discipline)") {
    // reads each query's analyzed schema; layout/streaming queries run
    // their build side effects at sf0.001 (cheap), everything else
    // stays unexecuted. No query may leave the shared session's conf
    // changed behind it.
    val confBefore = spark.conf.getAll
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val cols = hasDecimal(fn(spark, Sf0001).schema)
      if (cols.nonEmpty) Some(s"$name -> ${cols.mkString(",")}") else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
    val confAfter = spark.conf.getAll
    val changed = (confBefore.keySet ++ confAfter.keySet)
      .filter(k => confBefore.get(k) != confAfter.get(k))
    assert(changed.isEmpty, changed.toSeq.sorted
      .map(k => s"$k: ${confBefore.get(k)} -> ${confAfter.get(k)}").mkString("; "))
  }

  test("only graft.Session builds a session or changes session conf") {
    import scala.jdk.CollectionConverters._
    val forbidden = """SparkSession\.builder|conf\.(set|unset)""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val hits =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Session.scala")
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if forbidden.findFirstIn(line).isDefined => s"$p:${i + 1}"
          }
        }.toList
      finally files.close()
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, orphans.mkString(","))
  }

  test("entry() smoke: flagship query yields rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
