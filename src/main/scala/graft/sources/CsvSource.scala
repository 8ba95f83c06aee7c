package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Tolerant typed CSV scans — SURVEY §2 A1–A3.
  *
  * The reference reads six yearly CSVs with per-file encodings (UTF-8 /
  * ISO-8859-1, `etl_final.ktr:630,1262`), one file with a `;` separator
  * (`Datos/preprocessing.py:95-96`), and repairs rows whose field arity
  * is wrong by re-parsing the first cell as an embedded CSV line
  * (`preprocessing.py:152-187`). Spark-natively this is one PERMISSIVE
  * scan with a corrupt-record column and ONE projection over it: each
  * row is kept as parsed, rebuilt from its raw line, or dropped, in the
  * same pass — no cache, no second pass over the corrupt subset, no
  * union, no driver-side loops. The re-parse runs only on corrupt rows,
  * so its cost scales with the corrupt fraction, not the file size.
  */
object CsvSource {

  final case class FileSpec(path: String, encoding: String = "UTF-8",
      sep: String = ",")

  private val corruptCol = "_corrupt_record"

  /** Typed scan of one CSV file in PERMISSIVE mode; malformed rows keep
    * their raw line in [[corruptCol]]. */
  def scan(spark: SparkSession, spec: FileSpec, schema: StructType): DataFrame = {
    val withCorrupt = StructType(schema.fields :+
      StructField(corruptCol, StringType, nullable = true))
    spark.read
      .option("header", "true")
      .option("encoding", spec.encoding)
      .option("sep", spec.sep)
      .option("quote", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .schema(withCorrupt)
      .csv(spec.path)
  }

  /** The reference's `rowFixer`: a malformed row's raw line holds the
    * real CSV content (the outer parse saw the wrong arity, usually
    * because the whole line arrived quoted as one cell); strip the
    * outer quotes and re-parse with `from_csv` — a REAL csv parse, so
    * quoted fields containing the separator stay intact (a raw
    * `split(sep)` would shift every subsequent column). Good rows pass
    * through; rows that still don't fit are dropped, never letting a
    * malformed line kill the scan (the reference's csv.reader repair,
    * `preprocessing.py:152-187`). */
  def repair(df: DataFrame, schema: StructType, sep: String): DataFrame = {
    val corrupt = col(corruptCol)
    val n = schema.fields.length
    // a wrong-arity line usually arrives as ONE quoted cell holding the
    // true CSV line, with inner quotes doubled per RFC 4180; recover
    // the embedded line exactly as the reference's csv.reader does —
    // strip the outer quotes and un-double the inner ones. Lines not
    // wholly quoted pass through untouched (their quoting is live).
    val isWrapped = corrupt.startsWith("\"") && corrupt.endsWith("\"")
    val stripped = when(isWrapped,
      regexp_replace(regexp_replace(corrupt, "^\"|\"$", ""), "\"\"", "\""))
      .otherwise(corrupt)
    // still-broken detection: from_csv in PERMISSIVE mode never returns
    // a null struct, so "parse failed" must be read off a corrupt-record
    // field INSIDE a re-parse. That check runs against an ALL-STRING
    // schema: with strings no type conversion can fail, so the corrupt
    // field flags exactly token-count mismatches (over- OR under-arity)
    // and live-quote damage — while the typed parse below stays free to
    // null out individual unconvertible fields without losing the row
    // (arity wrong ⇒ drop the row; value untypeable ⇒ null the field).
    val innerBad = "__graft_bad"
    val arityProbe = StructType(
      schema.fields.map(f => StructField(f.name, StringType)) :+
        StructField(innerBad, StringType, nullable = true))
    val arityOk = from_csv(stripped, arityProbe,
      Map("sep" -> sep, "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> innerBad))(innerBad).isNull
    // cheap pre-check first: the raw split over-approximates arity
    // (never under-counts — quoted separators only inflate it), so < n
    // means certainly unrecoverable; the exact check is the re-parse
    val recoverable =
      size(split(stripped, java.util.regex.Pattern.quote(sep))) >= n && arityOk
    val parsed = from_csv(stripped, schema,
      Map("sep" -> sep, "mode" -> "PERMISSIVE"))
    // the row is built BEFORE the filter on purpose: Spark rejects a raw
    // CSV plan whose only required column is the corrupt one, and a
    // filter on the corrupt column alone leaves exactly that plan under
    // a bare count() (the projection is pruned away). Filtering on the
    // built row keeps every data column required; an unrecoverable row
    // builds to null.
    val row = when(corrupt.isNull, struct(schema.fieldNames.map(col): _*))
      .when(recoverable, parsed)
    df.select(row.as("__r")).where(col("__r").isNotNull).select(col("__r.*"))
  }

  /** Scan + repair + per-file lineage union — the A1/G1 shape: all
    * files in one logical plan, schemas identical by construction. */
  def scanAll(spark: SparkSession, specs: Seq[FileSpec],
      schema: StructType): DataFrame =
    specs.map(spec => repair(scan(spark, spec, schema), schema, spec.sep))
      .reduce(_.unionByName(_))
}
