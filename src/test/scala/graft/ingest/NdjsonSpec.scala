package graft.ingest

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.schemas.FhirSchemas

class NdjsonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val goodLines = Seq(
    """{"resourceType":"Condition","id":"c1","code":{"coding":[{"system":"s","code":"x","display":"d"}],"text":"t"},"recordedDate":"2020-01-01"}""",
    """{"resourceType":"Condition","id":"c2","recordedDate":"2020-02-02"}""")

  test("schema'd read parses good lines and quarantines corrupt ones") {
    val dir = Files.createTempDirectory("ndjson").toString
    val lines = goodLines :+ """{"resourceType":"Condition", BROKEN"""
    Files.write(java.nio.file.Paths.get(dir, "Condition-clientA-0001.json"),
      lines.mkString("\n").getBytes)

    val df = Ndjson.read(spark, dir, "Condition", FhirSchemas.condition)
    assert(Ndjson.good(df).count() === 2)
    assert(Ndjson.corrupt(df).count() === 1)
    // M1: resource type recovered from the filename convention
    assert(df.select("_resource_type").distinct().as[String].collect() === Array("Condition"))
  }

  test("read returns only the named type from a mixed-type directory") {
    val dir = Files.createTempDirectory("landing").toString
    Files.write(java.nio.file.Paths.get(dir, "Condition-a-0001.json"),
      goodLines.take(1).mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(dir, "Condition-b-0002.json"),
      goodLines.drop(1).mkString("\n").getBytes)
    Files.write(java.nio.file.Paths.get(dir, "Patient-a-0001.json"),
      """{"resourceType":"Patient","id":"p1"}""".getBytes)

    val df = Ndjson.read(spark, dir, "Condition", FhirSchemas.condition)
    assert(Ndjson.good(df).select("id").as[String].collect().sorted === Array("c1", "c2"))
    assert(df.select("_resource_type").distinct().as[String].collect() === Array("Condition"))
    assert(df.select(element_at(split(col("_source_file"), "/"), -1)).distinct()
      .as[String].collect().sorted === Array("Condition-a-0001.json", "Condition-b-0002.json"))
  }

  test("read of a type with no files fails, naming the type and directory") {
    val dir = Files.createTempDirectory("landing_missing").toString
    Files.write(java.nio.file.Paths.get(dir, "Patient-a-0001.json"),
      """{"resourceType":"Patient","id":"p1"}""".getBytes)
    val e = intercept[java.io.FileNotFoundException](
      Ndjson.read(spark, dir, "Condition", FhirSchemas.condition))
    assert(e.getMessage.contains("Condition") && e.getMessage.contains(dir), e.getMessage)
  }

  test("write → read is a fixpoint on parsed content") {
    val dir = Files.createTempDirectory("ndjson_rt").toString
    Files.write(java.nio.file.Paths.get(dir, "Condition-c-1.json"),
      goodLines.mkString("\n").getBytes)
    val first = Ndjson.good(Ndjson.read(spark, dir, "Condition", FhirSchemas.condition))

    val out = Files.createTempDirectory("ndjson_out").toString + "/roundtrip"
    Ndjson.write(first, out)
    val second = spark.read.schema(FhirSchemas.condition).json(out)

    val a = first.select("id", "recordedDate", "code.text").orderBy("id").collect()
    val b = second.select("id", "recordedDate", "code.text").orderBy("id").collect()
    assert(a === b)
  }
}
