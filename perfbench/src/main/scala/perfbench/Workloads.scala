package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Checkpoints, SparkEntry}
import graft.changesets.{ChangesetConverter, Pipeline}

/** A workload is a fixed list of items (queries or daily cycles). The
  * benchmark sets it up, then runs whole passes over its items.
  */
trait Workload {
  /** Input preparation and warm-up; run several times, timed each time.
    * Returns the records of the operations it ran.
    */
  def setup(): Seq[Map[String, Any]]

  /** Items in one pass over the workload's fixed work. */
  def size: Int

  /** Run item `i` of the pass and return its record. */
  def run(i: Int): Map[String, Any]
}

object Workload {
  /** The record of one item; `layers` holds each layer call's seconds. */
  def record(name: String, span: Span, error: Option[Throwable],
      layers: Layers, extra: (String, Any)*): Map[String, Any] =
    Json.obj(Seq(
      "name" -> name,
      "ok" -> error.isEmpty,
      "error" -> error.map(e => s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"),
      "wall_s" -> span.seconds,
      "layers" -> layers.seconds.toMap,
      "attrs" -> span.attrs,
      "layer_attrs" -> layers.attrs.toMap) ++ extra: _*)
}

/** The layer calls of one item: seconds per layer, and when tracing the
  * counter deltas per layer.
  */
final class Layers(tracer: Tracer) {
  val seconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Double]]

  def timed[A](layer: String)(f: => A): A = {
    val (a, s) = tracer.layer(layer)(f)
    seconds(layer) = s.seconds
    if (s.attrs.nonEmpty) attrs(layer) = s.attrs
    a
  }
}

/** Registry queries by name, each built, written through the `noop` sink
  * (so every column is computed) and released, in one fixed order.
  */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, tables: String,
    order: Seq[String], warmUp: Seq[String],
    registry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries)
    extends Workload {
  private val module: Map[String, String] = Seq(
    "Analytics" -> graft.queries.Analytics.queries,
    "TextAnalytics" -> graft.queries.TextAnalytics.queries,
    "CorpusOps" -> graft.queries.CorpusOps.queries,
    "MediaStream" -> graft.queries.MediaStream.queries,
    "Curation" -> graft.queries.Curation.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  def setup(): Seq[Map[String, Any]] = warmUp.map(query)

  def size: Int = order.size

  def run(i: Int): Map[String, Any] = query(order(i))

  def query(name: String): Map[String, Any] = {
    val layers = new Layers(tracer)
    import layers.timed
    var df: DataFrame = null
    val (digest, span) = tracer.item(name) {
      df = timed("query.build")(registry(name)(spark, tables))
      val d = timed("query.materialize")(Checksum.materialize(df))
      timed("query.release") { Checkpoints.release(df); spark.catalog.clearCache() }
      d
    }
    // a failed query still gives back what it checkpointed
    if (digest.isFailure && df != null) scala.util.Try(Checkpoints.release(df))
    val d = digest.toOption
    // the result's own analysis ran when it was built, outside any action
    // the listener sees
    val analysisMs = Option(df).flatMap(_.queryExecution.tracker.phases.get("analysis"))
      .map(_.durationMs).getOrElse(0L)
    Workload.record(name, span, digest.failed.toOption, layers,
      "module" -> module.getOrElse(name, "?"),
      "analysis_ms" -> analysisMs,
      "rows" -> d.map(_.rows),
      "hash" -> d.map(_.hash),
      "fsum" -> d.map(_.floatSums),
      "fabs" -> d.map(_.floatAbs),
      "storage_bytes" -> Checkpoints.storageBytes(spark))
  }
}

/** The reference's production path: one bz2 dump published by successive
  * daily `Pipeline.runPointer` cycles with the default retention, each
  * cycle checked against the generator's truth record. A traced cycle
  * first runs the path's prefixes on their own (decompress and framing,
  * parse, convert) so the cycle's time splits by layer.
  */
final class IngestWorkload(spark: SparkSession, tracer: Tracer, dump: String,
    truthFile: String, work: Path, cyclesPerPass: Int) extends Workload {
  private val truth = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(Files.readString(Paths.get(truthFile)))
  private val publishDir = work.resolve("publish").toString
  private val stateDir = work.resolve("state").toString
  private val keepHistory = 5 // Pipeline.runPointer's default
  private var day = 0
  private var warmRuns = 0

  /** One publish cycle into a directory of its own. */
  def setup(): Seq[Map[String, Any]] = {
    warmRuns += 1
    val w = work.resolve("warm")
    val version = s"warm-$warmRuns"
    val (res, span) = tracer.item(version) {
      Pipeline.runPointer(spark, dump, w.resolve("publish").toString, w.resolve("state").toString,
        version)
    }
    Seq(Workload.record(version, span, res.failed.toOption, new Layers(tracer)))
  }

  def size: Int = cyclesPerPass

  /** Every call is the next day's cycle, with a new source version. */
  def run(i: Int): Map[String, Any] = cycle()

  private def artifacts(): Seq[Path] = {
    val d = Paths.get(publishDir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator.asScala.filter(_.getFileName.toString.matches("changesets-.*\\.parquet")).toSeq
      finally s.close()
    }
  }

  private def bytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def cycle(): Map[String, Any] = {
    day += 1
    val version = f"day-$day%05d"
    val layers = new Layers(tracer)
    import layers.timed
    var published = 0L
    var artifactBytes = 0L
    var gc = 0
    val (res, span) = tracer.item(version) {
      if (tracer.tracing) {
        timed("changesets.decompress")(noop(spark.read.option("lineSep", "</changeset>").text(dump)))
        timed("changesets.parse")(noop(ChangesetConverter.parse(spark, dump)))
        timed("changesets.convert")(ChangesetConverter.convert(
          spark, dump, work.resolve("convert-only.parquet").toString))
      }
      val before = artifacts().size
      val r = timed("changesets.runPointer")(
        Pipeline.runPointer(spark, dump, publishDir, stateDir, version))
      val after = artifacts()
      gc = before + 1 - after.size
      published = r.rows
      check(r, after.size)
      artifactBytes = Pipeline.readCurrent(publishDir).map(p => bytes(Paths.get(p))).getOrElse(0L)
    }
    Workload.record(version, span, res.failed.toOption, layers,
      "rows" -> published, "artifact_bytes" -> artifactBytes, "files_gc" -> gc)
  }

  /** The published artifact must hold exactly the dump's rows, and
    * retention must keep exactly the newest `keepHistory` versions.
    */
  private def check(r: Pipeline.Result, retained: Int): Unit = {
    val cur = Pipeline.readCurrent(publishDir)
      .getOrElse(throw new IllegalStateException("no current artifact after publish"))
    val row = spark.read.parquet(cur).agg(
      count(lit(1)), sum(col("id")), count(when(col("min_lat").isNull, 1)),
      date_format(max(col("created_at")), "yyyy-MM-dd'T'HH:mm:ss'Z'")).head()
    val got = Seq(row.getLong(0), row.getLong(1), row.getLong(2), row.getString(3))
    val want = Seq(truth.get("rows").asLong, truth.get("id_sum").asLong,
      truth.get("null_bbox").asLong, truth.get("max_created_at").asText)
    if (got != want || r.rows != want.head)
      throw new IllegalStateException(s"artifact $got (reported ${r.rows} rows) != truth $want")
    val wantRetained = math.min(day, keepHistory)
    if (retained != wantRetained)
      throw new IllegalStateException(s"$retained versions retained, expected $wantRetained")
  }
}
