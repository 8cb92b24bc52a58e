package graft.util

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Partition pruning — the other half of the 100 TB scan story next
  * to predicate pushdown (PlanContractSpec) and bucketing (ScaleSpec): a
  * date-partitioned layout must turn an equality filter on the
  * partition column into a PLAN-TIME partition filter, so a day query
  * over years of data opens one directory, not the table.
  */
class PartitionPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("date-partitioned write + day filter prunes to one partition at plan time") {
    val dir = Files.createTempDirectory("partevents").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    ev.withColumn("d", to_date(col("ts")))
      .write.partitionBy("d").mode("overwrite").parquet(dir)

    val day = lit("2024-01-05").cast("date")
    val filtered = spark.read.parquet(dir).filter(col("d") === day)
    val plan = filtered.queryExecution.executedPlan.toString

    // the filter must reach the scan as a PartitionFilter (pruned at
    // planning), not as a post-scan Filter over every partition
    assert(plan.contains("PartitionFilters") && plan.contains("d#"),
      s"no partition filter in plan:\n$plan")
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("="), s"partition filter not pushed: $pf")

    // semantics unchanged vs filtering the unpartitioned source
    val expect = ev.filter(to_date(col("ts")) === day).count()
    assert(expect > 0 && filtered.count() == expect)

    // physical proof via scan metrics: the pruned scan reads strictly
    // fewer files than the full-table scan (one day out of ~30)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value }
        .sum
    }
    val pruned = filesRead(spark.read.parquet(dir).filter(col("d") === day))
    val full = filesRead(spark.read.parquet(dir))
    assert(pruned > 0 && full >= 10 * pruned,
      s"pruning ineffective: $pruned of $full files read")
  }
}
