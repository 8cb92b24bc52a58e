package graft.streaming

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Exactly-once delivery across a RESTART — the ops contract a
  * 100 TB/day ingest lives on: the checkpoint makes the source resume
  * where it left off (committed micro-batches are never re-read), and
  * a batchId-keyed overwrite sink makes any RETRIED batch land
  * idempotently instead of duplicating. Together: each input record
  * reaches the sink exactly once, even though the query process dies
  * between batches.
  */
class StreamingExactlyOnceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("checkpointed restart + batchId-keyed sink delivers each event exactly once") {
    val in = Files.createTempDirectory("eo_in").toString
    val out = Files.createTempDirectory("eo_out").toString
    val ckpt = Files.createTempDirectory("eo_ckpt").toString

    def line(id: Long): String =
      s"""{"event_id":$id,"ts":"2024-01-01T00:00:0$id.000Z","user_id":1,"event_type":"click","value":1.0}"""

    def runOnce(): Unit = {
      val q = spark.readStream.schema(EventStream.eventSchema).json(in)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          // idempotent sink: a batch retry overwrites its own output
          // directory instead of appending a duplicate
          df.write.mode("overwrite").parquet(s"$out/batch=$batchId")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    Files.write(Paths.get(in, "b1.json"), Seq(line(1), line(2)).mkString("\n").getBytes)
    runOnce()
    // the process "dies"; more data lands; a NEW query resumes from
    // the same checkpoint
    Files.write(Paths.get(in, "b2.json"), Seq(line(3), line(4)).mkString("\n").getBytes)
    runOnce()

    val ids = spark.read.parquet(out) // every batch=N dir, by partition discovery
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L),
      s"each event exactly once across the restart, got ${ids.mkString(",")}")
  }

  test("maxFilesPerTrigger drains a backlog in bounded micro-batches") {
    // Backfill discipline: pointing a new stream at a month of landed
    // files must NOT load them as one giant batch — the trigger cap
    // turns the backlog into bounded, checkpointed increments.
    val in = Files.createTempDirectory("rate_in").toString
    def line(id: Long): String =
      s"""{"event_id":$id,"ts":"2024-01-01T00:00:0$id.000Z","user_id":1,"event_type":"click","value":1.0}"""
    (1 to 3).foreach { i =>
      Files.write(Paths.get(in, s"f$i.json"), line(i.toLong).getBytes)
    }
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream
      .schema(EventStream.eventSchema)
      .option("maxFilesPerTrigger", "1")
      .json(in)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.synchronized { sizes += df.count() }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(sizes.sum == 3, s"all rows drained, got $sizes")
    assert(sizes.length == 3 && sizes.forall(_ == 1),
      s"backlog must arrive one file per micro-batch, got $sizes")
  }
}
