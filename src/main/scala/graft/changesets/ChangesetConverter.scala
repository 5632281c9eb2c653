package graft.changesets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OSM changeset XML -> Parquet conversion, Spark-first.
  *
  * The reference (src/main.rs:286-382) is a single-threaded pull parse;
  * here the whole converter is one map-only plan — splittable text scan
  * framed on `</changeset>` (parallel across files AND within one file;
  * bz2 input is decoded by Hadoop's splittable Bzip2Codec, upgrading
  * the reference's single-threaded decompress for free) -> the
  * FastChangesetParser scanner per partition -> Parquet sink. No
  * shuffle anywhere in the plan.
  *
  * == Error semantics (reference parity, SURVEY.md §1.3) ==
  * The reference has two error tiers, both implemented by the scanner:
  *   - XML well-formedness: `--continue-on-error` saves everything
  *     parsed so far (src/main.rs:344-363). Here a damaged `<changeset>`
  *     fragment raises MalformedXmlException, which continueOnError
  *     skips per fragment. (Divergence, documented: the reference stops
  *     at the first malformed byte; a parallel engine keeps every
  *     well-formed record in all splits. Strictly more data, same
  *     "partial save" contract.) ConverterDiagnostics.report lists
  *     exactly the skipped fragments. Without the flag the first
  *     damaged fragment aborts the job, as the reference does.
  *   - Value parses (bad @uid, bad timestamp) ALWAYS kill the run, even
  *     with --continue-on-error (src/main.rs:333,337).
  */
object ChangesetConverter {

  final case class Options(
      continueOnError: Boolean = false,
      /** Reference --batch-size (src/main.rs:32-33) controlled write
        * batching; the Spark analog of "rows per output chunk" is
        * maxRecordsPerFile (0 = let the writer decide).
        */
      batchSize: Long = 0L,
      /** Reference writes exactly one file; at the 100 TB design point
        * the default is a directory of parts, single-file is opt-in.
        */
      singleFile: Boolean = false)

  /** XML (optionally .bz2) -> 13-column DataFrame (ChangesetSchema.output). */
  def parse(spark: SparkSession, input: String, opts: Options = Options()): DataFrame =
    FastChangesetParser.parse(spark, input, opts.continueOnError)

  /** Full conversion: XML in, snappy Parquet out. Returns the row count
    * (the reference prints it at src/main.rs:453). The count is taken
    * in-flight via `observe` (CollectMetrics) on the write itself — no
    * post-write listing/footer scan of the output directory, which at
    * 100 TB is thousands of files.
    */
  def convert(spark: SparkSession, input: String, output: String,
      opts: Options = Options()): Long = {
    val df = parse(spark, input, opts)
    val obs = new org.apache.spark.sql.Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    val shaped = if (opts.singleFile) observed.coalesce(1) else observed
    val writer = shaped.write.mode("overwrite")
      .option("compression", "snappy")
    val sized =
      if (opts.batchSize > 0) writer.option("maxRecordsPerFile", opts.batchSize)
      else writer
    sized.parquet(output)
    obs.get("rows").asInstanceOf[Long]
  }
}
