package graft.changesets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The differential oracle for FastChangesetParser: the same 13-column
  * conversion done by a full XML tokenizer — Spark's StAX-based XML
  * datasource (rowTag = changeset) plus a strict cast projection.
  * Test-only: the converter has one production parse path, and this
  * independent reading is what FastParserSpec holds it against.
  *
  * Error tiers as the reference (src/main.rs:333,337 vs 344-363):
  * PERMISSIVE mode drops corrupt records under continueOnError,
  * FAILFAST aborts without it; a present-yet-unparseable value aborts
  * in every mode through raise_error.
  *
  * Documented divergences from the reference, each asserted in
  * FastParserSpec: the tokenizer normalizes newlines inside attribute
  * values, calls duplicate attributes corrupt, and classifies an
  * unknown entity as record corruption rather than a value error.
  */
object StaxOracle {

  /** Raw read schema with attributePrefix="_": every attribute a
    * string, so the projection owns the value parses. Unknown
    * attributes are dropped by schema omission (reference
    * src/main.rs:220) and non-`tag` child subtrees (e.g.
    * `<discussion>`) are skipped the same way (src/main.rs:261-269).
    */
  private val raw: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("_created_at", StringType),
    StructField("_closed_at", StringType),
    StructField("_open", StringType),
    StructField("_user", StringType),
    StructField("_uid", StringType),
    StructField("_min_lat", StringType),
    StructField("_min_lon", StringType),
    StructField("_max_lat", StringType),
    StructField("_max_lon", StringType),
    StructField("_num_changes", StringType),
    StructField("_comments_count", StringType),
    StructField("tag", ArrayType(StructType(Seq(
      StructField("_k", StringType),
      StructField("_v", StringType))))),
    StructField("_corrupt_record", StringType)))

  /** Strict value parse: null input stays null, but a present-yet-
    * unparseable value aborts the run in every mode.
    */
  private def strict(raw: Column, cast: Column, what: String): Column =
    when(raw.isNull, lit(null))
      .when(cast.isNull, raise_error(concat(
        lit(s"value parse failed for $what: '"), raw, lit("'"))))
      .otherwise(cast)

  /** Shape gate in front of the cast: try_cast alone is far more
    * lenient than the reference's parsers (Rust str::parse rejects
    * padded/decimal ints; chrono's parse_from_rfc3339 rejects
    * date-only and offset-free strings).
    */
  private def shaped(c: Column, pattern: String, what: String): Column =
    when(c.isNull || c.rlike(pattern), c)
      .otherwise(raise_error(concat(
        lit(s"value parse failed for $what: '"), c, lit("'"))))

  private val intShape = "^[+-]?[0-9]+$"

  /** RFC3339 as chrono parse_from_rfc3339 accepts it. */
  private val rfc3339Shape =
    "^[0-9]{4}-[0-9]{2}-[0-9]{2}[Tt ][0-9]{2}:[0-9]{2}:[0-9]{2}([.][0-9]+)?([Zz]|[+-][0-9]{2}:[0-9]{2})$"

  private def strictLong(c: Column, what: String): Column =
    strict(c, shaped(c, intShape, what).try_cast(LongType), what)

  private def strictU32(c: Column, what: String): Column = {
    val v = strictLong(c, what)
    when(v.isNotNull && (v < 0L || v > 4294967295L),
      raise_error(concat(lit(s"$what out of u32 range: '"), c, lit("'"))))
      .otherwise(v)
  }

  private def strictDouble(c: Column, what: String): Column =
    strict(c, c.try_cast(DoubleType), what)

  /** RFC3339 -> UTC timestamp truncated to millis; lowercase 't'/'z'
    * normalized after the shape gate (Spark's cast rejects them).
    */
  private def strictTs(c: Column, what: String): Column =
    strict(c, date_trunc("millisecond",
      translate(shaped(c, rfc3339Shape, what), "tz", "TZ").try_cast(TimestampType)), what)

  /** The 13-column projection over the raw XML struct. */
  private val projection: Seq[Column] = Seq(
    coalesce(strictLong(col("_id"), "id"), lit(0L)).as("id"),
    strictTs(col("_created_at"), "created_at").as("created_at"),
    strictTs(col("_closed_at"), "closed_at").as("closed_at"),
    coalesce(col("_open") === "true", lit(false)).as("open"),
    col("_user").as("user"),
    strictLong(col("_uid"), "uid").as("uid"),
    strictDouble(col("_min_lat"), "min_lat").as("min_lat"),
    strictDouble(col("_min_lon"), "min_lon").as("min_lon"),
    strictDouble(col("_max_lat"), "max_lat").as("max_lat"),
    strictDouble(col("_max_lon"), "max_lon").as("max_lon"),
    coalesce(strictU32(col("_num_changes"), "num_changes"), lit(0L)).as("num_changes"),
    coalesce(strictU32(col("_comments_count"), "comments_count"), lit(0L)).as("comments_count"),
    // last <tag k="comment"> wins; try_element_at gives null when a
    // changeset has tags but none of them is a comment
    try_element_at(filter(col("tag"), t => t.getField("_k") === "comment"), lit(-1))
      .getField("_v").as("description"))

  def parse(spark: SparkSession, input: String, continueOnError: Boolean = false): DataFrame = {
    val table = spark.read.format("xml")
      .option("rowTag", "changeset")
      .option("attributePrefix", "_")
      // quick_xml hands attribute values through verbatim; the default
      // trim would hide shape violations like ' 42'
      .option("ignoreSurroundingSpaces", "false")
      .option("mode", if (continueOnError) "PERMISSIVE" else "FAILFAST")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(raw)
      .load(input)
    val wellFormed =
      if (continueOnError) table.filter(col("_corrupt_record").isNull) else table
    wellFormed.select(projection: _*)
  }
}
