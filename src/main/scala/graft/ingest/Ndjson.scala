package graft.ingest

import java.io.FileNotFoundException
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** NDJSON ingest/sink (reference S1/S2: byte-split on '\n' +
  * `json.loads` per line, `__init__.py:359`; `json.dumps` + join,
  * `:535`).
  *
  * The scan is text-source + `from_json` — the literal Spark
  * re-expression of the reference's "split lines, parse each": the
  * line split parallelizes over file splits (replacing the serial
  * per-file loop, `__init__.py:644-665`), and parsing is a codegen'd
  * JsonToStructs expression. Always schema'd (never inferred): at
  * 100 TB, inference is a full extra pass. Malformed lines land in a
  * `_corrupt_record` quarantine channel instead of failing the job
  * (querying that channel on a json file-scan is restricted by Spark;
  * the text+from_json shape has no such restriction).
  */
object Ndjson {

  val CorruptCol = "_corrupt_record"

  /** Schema'd NDJSON scan of one resource type's files in a Bulk Data
    * landing directory (`<Type>-*.json`, the export's naming), with
    * corrupt-record channel and file lineage (`input_file_name`), plus
    * the reference's type-from-filename projection (M1,
    * `__init__.py:218`: `blob_name.split('-')[0]`).
    *
    * The directory is read with a `pathGlobFilter` rather than as a
    * glob path: a glob path sends Spark looking for a streaming-sink
    * metadata directory at the pattern itself, which logs a WARN and a
    * stack trace per read. A filter that matches nothing would read as
    * empty, so a type with no landed files fails here, as a glob path
    * does.
    */
  def read(spark: SparkSession, landing: String, resourceType: String,
           schema: StructType): DataFrame = {
    val pattern = s"$resourceType-*.json"
    val glob = new Path(landing, pattern)
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (Option(fs.globStatus(glob)).forall(_.isEmpty))
      throw new FileNotFoundException(
        s"no $resourceType files ($pattern) in landing directory $landing")
    val withCorrupt =
      if (schema.fieldNames.contains(CorruptCol)) schema
      else schema.add(StructField(CorruptCol, StringType))
    spark.read.option("pathGlobFilter", pattern).text(landing)
      .filter(length(trim(col("value"))) > 0)
      .select(
        from_json(
          col("value"), withCorrupt,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)
        ).as("r"),
        input_file_name().as("_source_file"))
      .select(
        col("r.*"),
        col("_source_file"),
        split(element_at(split(col("_source_file"), "/"), -1), "-")(0)
          .as("_resource_type"))
  }

  /** Rows whose line failed to parse (quarantine side-channel). */
  def corrupt(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNotNull)

  /** Parsed rows only, lineage columns dropped. */
  def good(df: DataFrame): DataFrame =
    df.filter(col(CorruptCol).isNull)
      .drop(CorruptCol, "_source_file", "_resource_type")

  /** NDJSON sink — one JSON object per line (ref `__init__.py:535`).
    * Null fields are dropped from the output objects like the
    * reference's `json.dumps` of plain dicts.
    */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
