package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL (newline-delimited JSON) ingestion — the interchange format
  * training corpora actually ship in (one document object per line).
  *
  * Scale rules encoded here:
  *  - The schema is EXPLICIT, never inferred: inference is a second full
  *    pass over the input (fatal at 100 TB) and silently unions divergent
  *    shard schemas. Callers pass or reuse a pinned StructType.
  *  - PERMISSIVE parsing with a `_corrupt_record` capture column: one
  *    malformed line in a billion must neither kill the job (FAILFAST) nor
  *    vanish silently (DROPMALFORMED). Bad lines surface as rows with the
  *    raw line preserved, so a quarantine filter can route them to a
  *    side-channel sink — the same discipline `Dblp.readLineXml` applies.
  *  - JSONL is splittable line-by-line, so ingest parallelism follows file
  *    splits like any text source; downstream repartitioning is the
  *    caller's choice, not baked in here.
  */
object Jsonl {

  /** Pinned schema for `documents`-shaped JSONL corpora (matches the
    * parquet `documents` table column-for-column). */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Name of the raw-line capture column for malformed input. */
  val CorruptCol = "_corrupt_record"

  /** Read a JSONL corpus with the given pinned schema. Malformed lines
    * arrive as rows with every data column null and the raw line in
    * [[CorruptCol]]; use [[quarantine]] to split them off.
    *
    * Implemented as a TEXT scan + `from_json` parse expression rather than
    * the raw `.json(path)` source: identical JSONL semantics and split
    * parallelism, but the corrupt capture is an ordinary column, so
    * quarantine queries that touch ONLY the capture column stay legal
    * (the raw JSON source forbids them — QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    * and the parse participates in whole-stage codegen with the scan.
    *
    * The parse is the generator of a one-element `explode`, so a query
    * over the result (a [[quarantine]] side, a filter on a field) plans
    * one `from_json`: a filter pushed below a Project would inline the
    * aliased parse, while predicates on a Generate's output stay above
    * it. Every non-blank line still yields exactly one row. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val withCapture = schema.add(StructField(CorruptCol, StringType))
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(explode(array(from_json(col("value"), withCapture,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)
      ))).as("r"))
      .select(col("r.*"))
  }

  /** (good rows without the capture column, quarantined raw lines). */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    val bad = df.filter(col(CorruptCol).isNotNull)
      .select(col(CorruptCol).as("raw_line"))
    val good = df.filter(col(CorruptCol).isNull).drop(CorruptCol)
    (good, bad)
  }

  /** Write a DataFrame as JSONL shards (one object per line, one file per
    * partition — shard count is the df's partitioning, decided upstream). */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
