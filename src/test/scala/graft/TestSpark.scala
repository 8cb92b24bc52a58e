package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (same semantics as
  * GraftSession: UTC, nanos-parquet-as-long), sized small — tests run
  * on tiny fixtures.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .withExtensions(graft.functions.GraftExtensions.register)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Naive (isAdjustedToUTC=false) parquet timestamps must surface as
      // TimestampType under the UTC session — the DuckDB oracle reads the
      // same files as naive TIMESTAMP — not as TIMESTAMP_NTZ, which
      // unix_micros/BIGINT casts reject.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Single-partition windows are pinned by PlanContractSpec's audited
    // allowlist; the per-execution warning would only repeat it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
