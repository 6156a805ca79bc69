package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, StandardCharsets}

/** CSV ingestion with the reference's exact input semantics
  * (SURVEY §2.1 S1–S5):
  *
  *  - S1: header-less positional read against the 71-col schema.
  *  - S2: encoding fallback utf-8 → cp1252 → latin-1, decided once per
  *    file from its bytes (see [[decode]]).
  *  - S3: BOM strip (a file-level BOM is dropped in [[decode]]; a
  *    mid-file BOM'd line is scrubbed in the normalize projection).
  *  - S4: recursive case-insensitive `*.csv`/`*.CSV` discovery.
  *  - S5: month-directory pruning — only `YYYY-MM/<datasetType>/` paths
  *    (reference src/main_02.py:801-821) — done at path-construction time
  *    so Spark never lists excluded directories (true partition pruning,
  *    same trick as the reference's manual dir descent).
  */
object LoomCsv {

  private val csvGlob = "*.{csv,CSV}"

  /** cp1252 differs from latin-1 ONLY on bytes 0x80–0x9F: 27 of them map
    * to Windows punctuation/letters, 5 (0x81 8D 8F 90 9D) are undefined.
    * Decoding as latin-1 (which maps those bytes to the C1 controls
    * U+0080–U+009F, reversibly) and then re-mapping the 27 defined ones
    * IS a byte-exact cp1252 decode. */
  private val cp1252From =
    "\u0080\u0082\u0083\u0084\u0085\u0086\u0087\u0088\u0089\u008a\u008b\u008c\u008e" +
    "\u0091\u0092\u0093\u0094\u0095\u0096\u0097\u0098\u0099\u009a\u009b\u009c\u009e\u009f"
  private val cp1252To =
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160\u2039\u0152\u017d" +
    "\u2018\u2019\u201c\u201d\u2022\u2013\u2014\u02dc\u2122\u0161\u203a\u0153\u017e\u0178"
  private val cp1252Table: Array[Char] = {
    val t = Array.tabulate(256)(_.toChar)
    cp1252From.zip(cp1252To).foreach { case (f, to) => t(f) = to }
    t
  }
  private val cp1252Undefined = Set(0x81, 0x8d, 0x8f, 0x90, 0x9d)
  private val utf8Bom = Array(0xef, 0xbb, 0xbf).map(_.toByte)

  /** S2+S3 — one file's bytes → its text, PER FILE like the reference
    * (src/main_01.py:372-387 retries each file independently): strict
    * utf-8 (a decode ERROR, not a U+FFFD in the text, sends a file on —
    * a valid utf-8 file may spell U+FFFD itself); else cp1252, unless the
    * file holds one of the five bytes cp1252 leaves undefined; else raw
    * latin-1, which decodes anything. The reference lists utf-8 →
    * latin-1 → cp1252, but its cp1252 arm is dead code (Python's latin-1
    * never raises), so the arms are ordered so each is reachable. A
    * leading utf-8 BOM is dropped before any arm, as Hadoop's line
    * reader drops it for Spark's CSV source. */
  private def decode(bytes: Array[Byte]): String = {
    val body = if (bytes.startsWith(utf8Bom)) bytes.drop(utf8Bom.length) else bytes
    // a fresh decoder REPORTs malformed input instead of substituting
    try StandardCharsets.UTF_8.newDecoder().decode(ByteBuffer.wrap(body)).toString
    catch {
      case _: CharacterCodingException =>
        val latin1 = new String(body, StandardCharsets.ISO_8859_1)
        if (body.exists(b => cp1252Undefined(b & 0xff))) latin1
        else latin1.map(cp1252Table(_))
    }
  }

  /** S1–S4 — header-less positional read of every `*.csv`/`*.CSV` under
    * the `roots` (recursive), each file decoded by [[decode]]. One scan: the
    * `binaryFile` source reads each file whole, the decode runs once per
    * file, and each line goes through the CSV parser (`from_csv`,
    * PERMISSIVE) against the 71-column schema, so a short row gets nulls
    * in its missing cells. No job runs while the frame is built and
    * nothing is staged or broadcast.
    *
    * A file larger than `binaryFile`'s per-file maximum
    * (`spark.sql.sources.binaryFile.maxLength`) fails the read loudly;
    * it never drops rows.
    *
    * The result carries a `_source_file` column, the file's path, for
    * callers needing row provenance (the import job's later-file-wins
    * tiebreak). */
  def readWithFallback(spark: SparkSession, roots: String*): DataFrame = {
    // lines end in \r\n, \n or \r; blank and whitespace-only lines are
    // dropped, as Spark's CSV reader drops them
    val fileLines = udf((content: Array[Byte]) =>
      decode(content).split("\r\n|\n|\r").filter(_.trim.nonEmpty))
    // parsed inside the generator, so a filter above cannot be pushed
    // below the parse and evaluate from_csv once more per referenced cell
    val rows = transform(fileLines(col("content")),
      line => from_csv(line, LoomSchema.raw, Map("mode" -> "PERMISSIVE")))
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", csvGlob)
      .load(roots: _*)
      .select(col("path").as(sourceFileCol), inline(rows))
      .select(LoomSchema.columnNames.map(col) :+ col(sourceFileCol): _*)
  }

  /** Row-provenance column emitted by [[readWithFallback]]. */
  val sourceFileCol = "_source_file"

  /** S5 — partition-pruned read: only `root/YYYY-MM/<datasetType>/` dirs
    * for the requested months. Builds explicit per-month paths so the
    * file listing itself is pruned, reads them with
    * [[readWithFallback]] (the import's per-file [[decode]] and parse,
    * `_source_file` included), then tags each row with its
    * `month` partition column (from the path) and `dataset_type` for
    * downstream partition-style filters. */
  def readMonths(spark: SparkSession, root: String, months: Seq[String],
                 datasetType: String = "daily"): DataFrame = {
    val monthRe = "^\\d{4}-\\d{2}$".r
    val valid = months.filter(m => monthRe.findFirstIn(m).isDefined)
    require(valid.nonEmpty, s"no valid YYYY-MM months in $months")
    readWithFallback(spark, valid.map(m => s"$root/$m/$datasetType"): _*)
      .withColumn("month",
        regexp_extract(col(sourceFileCol), "(\\d{4}-\\d{2})/[^/]+/[^/]+$", 1))
      .withColumn("dataset_type", lit(datasetType))
  }

  /** P1+P2 normalize: trim every cell, scrub stray BOMs, drop rows with
    * fewer than 3 populated leading cells (the reference's short-row skip,
    * src/main_01.py:403-405). The skip tests the RAW cells — a scrubbed
    * cell is non-empty iff, past one leading BOM, a non-space is left
    * (`trim` strips only spaces) — since a filter on the scrubbed cells
    * is pushed below the projection and scrubs the key cells twice. */
  def normalize(df: DataFrame): DataFrame =
    df.filter(LoomSchema.columnNames.take(3)
        .map(c => col(c).rlike("(?s)^\\uFEFF?+.*[^ ]")).reduce(_ && _))
      .withColumns(LoomSchema.columnNames.map(c =>
        c -> trim(regexp_replace(col(c), "^\\uFEFF", ""))).toMap)

  /** Typed view: identity/article columns stay strings; every metric
    * column becomes double via the reference's `float(x or 0)` coercion.
    * Also derives `shift_date` (DateType) and `shift` (A/B/C) from the
    * `YYYY-MM-DD.S` composite key (SURVEY §1.1). */
  def typedView(df: DataFrame): DataFrame = {
    // the single source of the reference's float(x or 0) coercion —
    // an inline copy here once drifted from it (no trim before the
    // empty-check), so the two paths disagreed on whitespace-only cells
    df.withColumns(LoomSchema.metricColumns.map(c =>
        c -> graft.ops.Filters.pyFloatOrZero(c)).toMap)
      .withColumn("shift_date", to_date(substring_index(col("DataTurno"), ".", 1)))
      .withColumn("shift", substring_index(col("DataTurno"), ".", -1))
  }

  /** Landing-zone export status — the reference's `get_export_status` /
    * `verify_exported_files` (src/main_02.py:612-658, 409-438): the
    * "did the export actually land, and when" inventory an operator
    * checks BEFORE kicking the import. One row per (month, dataset
    * type) plus a `forecast` row for the root-level forecast.csv the
    * export's forecast flag produces: file count, total bytes, and the
    * newest modification time in epoch µs (the reference reads
    * forecast.csv's mtime as `last_export_time`).
    *
    * Distributed, metadata-only: the `binaryFile` source lists the
    * tree recursively and `content` is never selected, so the scan
    * reads file STATUS, not file bytes (column pruning verified in the
    * spec's plan assert) — a million-file landing zone costs a listing,
    * not a read. Non-CSV clutter (notes.txt…) is excluded the same way
    * the readers exclude it. */
  def exportStatus(spark: SparkSession, root: String): DataFrame = {
    val files = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(col("path"), col("length"), col("modificationTime"))
      .where(lower(col("path")).endsWith(".csv"))
    files
      .withColumn("month",
        regexp_extract(col("path"), "/(\\d{4}-\\d{2})/", 1))
      .withColumn("dtype", when(col("month") === "",
          when(lower(col("path")).endsWith("/forecast.csv"), "forecast")
            .otherwise("unscoped"))
        .otherwise(regexp_extract(col("path"),
          "/\\d{4}-\\d{2}/([^/]+)/", 1)))
      .groupBy("month", "dtype")
      .agg(count(lit(1)).as("n_files"),
        sum("length").as("total_bytes"),
        unix_micros(max(col("modificationTime"))).as("last_modified_us"))
  }
}
