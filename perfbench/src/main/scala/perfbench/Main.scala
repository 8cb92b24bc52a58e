package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.pipeline.BulkPipeline
import graft.schemas.FhirSchemas
import graft.util.GraftSession

/** The benchmark's client: one thread driving the program in a closed
  * loop through its public entry points (`BulkPipeline.runLocalFlow`,
  * `SparkEntry.queries`). `run.py` generates the inputs, starts this main
  * and checks what it leaves behind.
  *
  * Arguments (all `--key value`): `workload`, `input` (the generated
  * inputs), `out` (where `result.json` goes), `seconds` (the measured
  * window), `seed` (orders the registry mix), `trace` (0/1) and, for the
  * registry, `mix` (comma-separated query names) and `verify` (where the
  * oracle dump goes).
  *
  * Protocol: the first operation in the fresh JVM (one flow, or one pass
  * over the mix) is timed on its own as the cold cost; one more untimed
  * flow (or the registry's output dump) warms up; then operations repeat
  * while the next one is expected to end within `seconds`, the registry in
  * whole passes. Output checks read the files after exit.
  */
object Main {

  private val Schemas = Map(
    "ExplanationOfBenefit" -> FhirSchemas.explanationOfBenefit,
    "Patient" -> FhirSchemas.patient,
    "Condition" -> FhirSchemas.condition,
    "MedicationRequest" -> FhirSchemas.medicationRequest)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val trace = opt("trace") == "1"
    if (trace) Recorder.traceFileSystem()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = GraftSession.build("perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val rec = if (trace) Some(new Recorder(spark)) else None
    val ready = Clock.ms()
    val client = new Client(spark, rec, opt("seconds").toDouble)
    val result = opt("workload") match {
      case "registry_mix" =>
        registry(client, opt("input"), opt("mix").split(",").toSeq, opt("seed").toLong,
          opt("verify"))
      case _ => fhir(client, opt("input"))
    }
    val traced = rec.map(r => Map("trace" -> r.finish())).getOrElse(Map.empty)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(opt("out")),
      result ++ traced ++ Map("jvm_start_ms" -> jvmStart, "session_ready_ms" -> ready,
        "cores" -> spark.sparkContext.defaultParallelism))
    spark.stop()
  }

  /** The closed loop. Each operation is timed (and traced as a span);
    * one that throws is counted as failed and the loop goes on. */
  final class Client(val spark: SparkSession, rec: Option[Recorder], seconds: Double) {
    var attempted = 0
    var failed = 0
    def timed(name: String, req: Int)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      attempted += 1
      try rec.fold(body)(_.span(name, req)(body))
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $name $req failed")
          e.printStackTrace()
      }
      (System.nanoTime() - t0) / 1e9
    }
    def sub[A](name: String, req: Int)(body: => A): A =
      rec.fold(body)(_.span(name, req)(body))

    /** Runs `op(first)`, `op(first + 1)`, ... while the next one is
      * expected to end inside the window (at least one): the window is
      * `seconds` long whatever an operation costs, and its number of
      * operations only changes when their cost moves a long way.
      * Returns each operation's seconds and the window's wall seconds. */
    def window(first: Int)(op: Int => Double): (Seq[Double], Double) = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val out = Vector.newBuilder[Double]
      var n = 0
      while (n == 0 || elapsed * (n + 1) / n <= seconds) {
        out += op(first + n)
        n += 1
      }
      (out.result(), elapsed)
    }
    def counts: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed)
  }

  private def fhir(client: Client, root: String): Map[String, Any] = {
    val spark = client.spark
    import spark.implicits._
    val mapper = new ObjectMapper()
    val expect = mapper.readTree(new File(s"$root/expect.json"))
    val url = expect.get("server_url").asText
    val names = expect.get("resources").fieldNames.asScala.toSeq
    val resources = names.map(n => n -> Schemas(n))
    val rx = Files.readAllLines(Paths.get(s"$root/rxnorm.tsv")).asScala.toSeq
      .map(_.split("\t", -1)).map(a => (a(0), a(1), a(2)))
      .toDF("ndc", "name", "rxnorm")
    val stages = BulkPipeline.Stages(root)
    var corrupt = Vector.empty[Map[String, Long]]
    var manifest = ""
    def flow(i: Int): Double = client.timed("flow", i) {
      val (m, c) = BulkPipeline.runLocalFlow(spark, stages, url, resources, rx)
      manifest = m
      corrupt :+= c
    }
    val cold = flow(0)
    val coldDigest = digest(stages.promoted, names)
    flow(1) // warm-up
    val (lat, wall) = client.window(2)(flow)
    client.counts ++ Map("ops" -> lat, "window_s" -> wall, "cold_s" -> cold,
      "window_first_req" -> 2, "corrupt" -> corrupt, "manifest" -> manifest,
      "digest_cold" -> coldDigest, "digest_last" -> digest(stages.promoted, names))
  }

  private def registry(client: Client, dir: String, mix: Seq[String], seed: Long,
      verify: String): Map[String, Any] = {
    val spark = client.spark
    val fns = SparkEntry.queries
    def query(name: String, req: Int): Double = client.timed("query", req) {
      val df = client.sub("registry.build", req)(fns(name)(spark, dir))
      client.sub("registry.exec", req)(df.write.format("noop").mode("overwrite").save())
    }
    // The registry's operation is a pass: every query of the mix once, in
    // an order shuffled by the seed. The first pass is the cold one.
    var names = Vector.empty[String]
    var lat = Vector.empty[Double]
    def pass(p: Int): Double = {
      val t0 = System.nanoTime()
      new scala.util.Random(seed * 1000003L + p).shuffle(mix).zipWithIndex.foreach {
        case (q, i) =>
          names :+= q
          lat :+= query(q, p * mix.size + i)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val cold = pass(0)
    val coldByQuery = names.zip(lat).toMap
    dump(spark, fns, dir, mix, verify)
    val (passes, wall) = client.window(1)(pass)
    client.counts ++ Map("ops" -> passes, "window_s" -> wall, "cold_s" -> cold,
      "window_first_req" -> mix.size, "names" -> names, "queries" -> lat.drop(mix.size),
      "cold_by_query" -> coldByQuery)
  }

  /** The registry's output check, untimed between the cold pass and the
    * window (so it doubles as the warm-up pass): each mix query's result
    * as one parquet file plus `oracle_sql.json`, the layout `graft.Verify`
    * writes and `tools/selfcheck.py` compares against DuckDB. Verify
    * itself ends by stopping the session, so it cannot run mid-run. */
  private def dump(spark: SparkSession, fns: Map[String, (SparkSession, String) => DataFrame],
      dir: String, mix: Seq[String], out: String): Unit = {
    mix.foreach { q =>
      try fns(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      catch { case e: Exception => System.err.println(s"[perfbench] dump $q failed: $e") }
    }
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(
      new File(s"$out/oracle_sql.json"), SparkEntry.oracleSql.filter(kv => mix.contains(kv._1)))
  }

  /** Order-independent digest of the promoted NDJSON: the sum of each
    * line's SHA-256 prefix, per type and over all types. */
  private def digest(promoted: String, names: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    var lines = 0L
    for (n <- names; f <- Option(new File(s"$promoted/$n").listFiles).toSeq.flatten.sortBy(_.getName)
         if f.getName.startsWith("part-")) {
      Files.readAllLines(f.toPath).asScala.foreach { l =>
        val h = md.digest(s"$n\t$l".getBytes("UTF-8"))
        sum += java.nio.ByteBuffer.wrap(h).getLong
        lines += 1
      }
    }
    f"$lines:$sum%016x"
  }
}

