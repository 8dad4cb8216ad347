package graft.sources

import graft.operators.Lineage.LineageOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Schema-explicit file readers — the ingest side of the `file`/`http`
 * connector shapes (ndjson, csv) plus parquet.
 *
 * Two rules, both scale-motivated:
 *  - **Schemas are always explicit.** Inference reads data before the job
 *    starts (a full extra pass at 100 TB) and makes the pipeline's types
 *    depend on whatever sample Spark happened to look at. Schema drift
 *    must be a deliberate act.
 *  - **Bad records are data, not exceptions.** PERMISSIVE mode routes
 *    unparseable lines into a `_corrupt` column so one malformed row in a
 *    billion cannot kill the sync; the caller splits and dead-letters
 *    them (same philosophy as the validation error threshold).
 */
object FileSource {

  val CorruptCol = "_corrupt"

  private def withCorrupt(schema: StructType): StructType =
    schema.add(CorruptCol, "string", nullable = true)

  /** Newline-delimited JSON with explicit schema; malformed lines land in
    * `_corrupt` instead of failing the job. */
  def ndjson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** CSV with explicit schema and header; malformed lines → `_corrupt`. */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  /** B41: dead-letter REPLAY — the recovery half of the corrupt-record
    * contract: after the schema is fixed (widened type, new optional
    * field), the quarantined rows re-parse from their preserved raw text
    * (`_corrupt` holds the ORIGINAL line verbatim) under the corrected
    * schema, splitting again into recovered rows and a residue that
    * stays dead. Nothing is lost across any number of replay rounds —
    * the raw line rides along until it finally parses.
    *
    * Scale: one distributed `from_json` pass over the dead-letter set
    * (which is tiny relative to the corpus by the error-threshold
    * contract); no shuffle. */
  def replayDeadLetters(bad: DataFrame, schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, from_json}
    val parsed = bad.select(from_json(col(CorruptCol), withCorrupt(schema),
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> CorruptCol)).as("r"))
      .select("r.*")
    splitCorrupt(parsed)
  }

  /** ORC with explicit schema (columnar, self-describing — the schema
    * here PINS the expected projection/types rather than parsing rows, so
    * lake-side schema drift fails the read loudly instead of silently
    * reshaping the pipeline; no corrupt-column mechanics apply to a
    * binary columnar format). */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Split a PERMISSIVE read into (good rows, dead-letter rows). The
    * parsed frame is cut first: Spark disallows querying a raw file
    * through only its corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_
    * COLUMN), and the split consumes the parse twice anyway — parse once.
    * The cut is eager and private to this split: a session cache entry
    * would be plan-matched by every later read of the same path and
    * schema, which would then miss files added since. */
  def splitCorrupt(df: DataFrame): (DataFrame, DataFrame) = {
    val parsed = df.cut()
    val bad = parsed.filter(parsed.col(CorruptCol).isNotNull)
    val good = parsed.filter(parsed.col(CorruptCol).isNull).drop(CorruptCol)
    (good, bad)
  }
}
