package graft.changesets

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.util.{DefaultIndenter, DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One versioned artifact family published behind a pointer — the
  * object-store-safe publish (immutable data, one small atomic
  * pointer write) grown into a version history with shared segments.
  * The ANN index+model pair and the postings index are the two
  * instances ([[VersionedStore.Ann]], [[VersionedStore.Postings]]);
  * the families differ only in their Spark half (what a segment
  * holds and how it is written), which stays in [[Pipeline]].
  *
  * On-disk layout under `publishDir` (all refs publishDir-relative):
  * {{{
  *   <store>/seg-<v>/            immutable data segment (one per publish,
  *                               append batch or compaction)
  *   <store>/tomb-<v>/           immutable tombstone segment: the id column
  *                               of rows a delete removed
  *   _ann_models/model-<v>/      ANN only: the frozen model a version names
  *   <prefix>-<v>/manifest.json  {"model"?, "segments", "tombstones",
  *                                "absorbed", "source_version"}
  *   <pointer>.json              {"dir": "<prefix>-<v>", "source_version"}
  * }}}
  * with `<store>` = `_ann_segments` / `_postings_segments`, `<prefix>` =
  * `ann` / `post`, and `<pointer>` = `ann_current` / `postings_current`.
  *
  * Protocol:
  *  - segments are immutable: a write never overwrites a ref any
  *    retained manifest names ([[freshRef]] refuses the token), so an
  *    append costs O(delta) and every retained version stays readable
  *    byte-exact;
  *  - the manifest commits last: a crash before it leaves only
  *    unreferenced segments, never a readable half-version;
  *  - the pointer flip is one atomic small-file write, so readers see
  *    either the old version or the new one, and flipping back to an
  *    older version dir is the rollback (index and model together);
  *  - retention keeps the newest N version dirs (mtime order, never the
  *    pointed-at one), then garbage-collects every store entry no
  *    retained manifest references — reference counting through the
  *    manifests is what lets versions share segments without copies;
  *  - a manifest's `absorbed` list is the durable record of the stream
  *    micro-batches folded in, carried through append, delete and
  *    compact. Replaying an absorbed batch is a no-op, and replaying one
  *    whose manifest committed but whose pointer flip did not (a crash
  *    between the two) rolls the pointer forward instead of appending
  *    again ([[absorb]]).
  *
  * Every JSON file here (and every other small JSON commit in graft)
  * lands through [[graft.sources.AtomicHead.commitLocal]].
  */
final class VersionedStore private (
    label: String,
    bootstrap: String,
    pointerName: String,
    prefix: String,
    stores: Seq[String],
    idCol: String) {
  import VersionedStore._

  /** Where data and tombstone segments land. */
  private val segmentStore = stores.head

  /** The version dir name a source-version token publishes under. */
  private def versionName(sourceVersion: String): String =
    s"$prefix-${Pipeline.safeVersion(sourceVersion)}"

  /** A segment ref (`kind` is `seg` or `tomb`) for a token. */
  def ref(kind: String, sourceVersion: String): String =
    s"$segmentStore/$kind-${Pipeline.safeVersion(sourceVersion)}"

  /** The version dir the pointer names (None before the first publish). */
  def current(publishDir: String): Option[String] =
    readJson(Paths.get(publishDir, pointerName)).flatMap(text(_, "dir"))
      .map(d => s"$publishDir/$d")

  /** The live version dir; `op` fails loudly before the first publish. */
  def live(publishDir: String, op: String): String =
    current(publishDir).getOrElse(throw new IllegalStateException(
      s"$op: no current $label under $publishDir — $bootstrap must run first"))

  /** Atomically point the pointer at an already-committed version dir. */
  def flip(publishDir: String, versionDir: String, sourceVersion: String): Unit =
    commitJson(Paths.get(publishDir, pointerName),
      "dir" -> versionDir, "source_version" -> sourceVersion)

  /** A version's manifest. Fails loudly on a dir with none: a
    * half-written version must never be readable.
    */
  def manifest(versionDir: String): Manifest = {
    val j = readJson(Paths.get(versionDir, ManifestName)).getOrElse(
      throw new IllegalStateException(
        s"$label version at $versionDir has no manifest.json — the version is " +
          "incomplete (segments are written first, the manifest last)"))
    if (!j.has("segments"))
      throw new IllegalStateException(s"manifest at $versionDir names no segments")
    Manifest(
      segments = strings(j, "segments"),
      tombstones = strings(j, "tombstones"),
      absorbed = j.path("absorbed").elements().asScala.map(_.asLong).toSet,
      model = text(j, "model"),
      sourceVersion = text(j, "source_version").getOrElse(""))
  }

  /** Every ref any retained manifest names — the set retention GCs
    * against and the set a new write must not collide with (the live
    * manifest alone would miss refs an older, still-rollback-able
    * version holds).
    */
  def referencedRefs(publishDir: String): Set[String] =
    children(Paths.get(publishDir))
      .filter(p => p.getFileName.toString.startsWith(s"$prefix-") &&
        Files.exists(p.resolve(ManifestName)))
      .flatMap { p =>
        val m = manifest(p.toString)
        m.segments ++ m.tombstones ++ m.model
      }.toSet

  /** Keep the newest `keep` version dirs (never the pointed-at one),
    * then delete every store entry no retained manifest references —
    * which also reaps the orphans of a write that crashed before its
    * manifest commit.
    */
  def retain(publishDir: String, keep: Int): Unit = {
    retainNewest(publishDir, keep, current(publishDir), _.startsWith(s"$prefix-"))
    val referenced = referencedRefs(publishDir)
    for {
      store <- stores
      c <- children(Paths.get(publishDir, store))
      if !referenced.contains(s"$store/${c.getFileName}")
    } deleteRecursively(c)
  }

  /** The ref a write under `sourceVersion` lands at, after the two
    * fresh-token checks: the token must not name the live version dir
    * (the write would replace what it reads), nor any ref a retained
    * manifest holds (overwriting an immutable segment corrupts every
    * version built on it).
    */
  def freshRef(publishDir: String, live: String, op: String,
      sourceVersion: String, kind: String): String = {
    require(versionName(sourceVersion) != Paths.get(live).getFileName.toString,
      s"$op: sourceVersion '$sourceVersion' resolves to the live version dir " +
        s"'$live' — writing it would overwrite the index it is reading. " +
        "Use a fresh version token per write.")
    val r = ref(kind, sourceVersion)
    require(!referencedRefs(publishDir).contains(r),
      s"$op: sourceVersion '$sourceVersion' resolves to '$r', which a retained " +
        "manifest already references — overwriting an immutable segment would " +
        "corrupt every version built on it. Use a fresh version token.")
    r
  }

  /** The commit tail of every write: the manifest (under the version
    * dir its `sourceVersion` names), then the pointer flip, then
    * retention. Call only after every ref it names is fully written.
    * Returns the new version dir.
    */
  def commit(publishDir: String, m: Manifest, keep: Int): String = {
    val name = versionName(m.sourceVersion)
    commitJson(Paths.get(publishDir, name, ManifestName), m.fields: _*)
    flip(publishDir, name, m.sourceVersion)
    retain(publishDir, keep)
    s"$publishDir/$name"
  }

  /** Batch-id-idempotent absorb for at-least-once stream loops. A batch
    * the live manifest records (or, for manifests older than the
    * `absorbed` field, whose `seg-batch-<id>` it names) is skipped. A
    * batch whose own version committed but whose pointer flip did not
    * is rolled forward: flip, retention, done — re-appending it would
    * trip the fresh-token check and crash-loop the stream. Otherwise
    * `append` runs with the batch's version token. Returns the live
    * version dir.
    */
  def absorb(publishDir: String, op: String, batchId: Long, keep: Int)(
      append: String => String): String = {
    val cur = live(publishDir, op)
    val m = manifest(cur)
    val token = s"batch-$batchId"
    val name = versionName(token)
    val committed = s"$publishDir/$name"
    if (m.absorbed.contains(batchId) || m.segments.contains(ref("seg", token))) cur
    else if (Files.exists(Paths.get(committed, ManifestName)) &&
        manifest(committed).absorbed.contains(batchId)) {
      flip(publishDir, name, token)
      retain(publishDir, keep)
      committed
    } else append(token)
  }

  /** `df` minus the rows a version's tombstones delete — deletion is a
    * manifest operation, so it subtracts at read time; the takedown
    * set is tiny next to the index and broadcasts onto the anti join.
    */
  def withoutDeleted(publishDir: String, tombstones: Seq[String], df: DataFrame): DataFrame =
    deletedIds(df.sparkSession, publishDir, tombstones)
      .fold(df)(d => df.join(broadcast(d), Seq(idCol), "left_anti"))

  /** The tombstone list of a version that appends `newIds` (one column,
    * the store's id column): re-appending a deleted row resurrects it.
    * The dup check reads the FILTERED index, so a stale tombstone would
    * otherwise silently hide the appended rows. An unchanged set keeps
    * its refs; a shrunken one is written as one new tombstone segment.
    */
  def resurrect(publishDir: String, tombstones: Seq[String], newIds: DataFrame,
      sourceVersion: String): Seq[String] =
    deletedIds(newIds.sparkSession, publishDir, tombstones) match {
      case None => Seq.empty
      case Some(deleted) =>
        if (deleted.join(broadcast(newIds), Seq(idCol), "left_semi").isEmpty) tombstones
        else {
          val remaining = deleted.join(broadcast(newIds), Seq(idCol), "left_anti")
          if (remaining.isEmpty) Seq.empty
          else {
            val tRef = ref("tomb", sourceVersion)
            remaining.write.mode("overwrite").parquet(s"$publishDir/$tRef")
            Seq(tRef)
          }
        }
    }

  /** Takedown: one tombstone segment of `ids(idColIn)` and a new
    * version whose tombstone list grows by it. Data segments (and the
    * ANN model) stay untouched; retained versions still see the rows.
    */
  def delete(publishDir: String, op: String, sourceVersion: String,
      ids: DataFrame, idColIn: String, keep: Int): String = {
    val cur = live(publishDir, op)
    val m = manifest(cur)
    val tRef = freshRef(publishDir, cur, op, sourceVersion, "tomb")
    ids.select(col(idColIn).as(idCol)).distinct()
      .write.mode("overwrite").parquet(s"$publishDir/$tRef")
    commit(publishDir,
      m.copy(tombstones = m.tombstones :+ tRef, sourceVersion = sourceVersion), keep)
  }

  private def deletedIds(spark: SparkSession, publishDir: String,
      tombstones: Seq[String]): Option[DataFrame] =
    if (tombstones.isEmpty) None
    else Some(tombstones.map(r => spark.read.parquet(s"$publishDir/$r"))
      .reduce(_.unionByName(_)).select(col(idCol)).distinct())
}

object VersionedStore {

  /** One version: ordered data-segment refs, tombstone refs, absorbed
    * stream batch ids, the ANN model ref, and the raw source token.
    */
  final case class Manifest(
      segments: Seq[String],
      tombstones: Seq[String] = Seq.empty,
      absorbed: Set[Long] = Set.empty,
      model: Option[String] = None,
      sourceVersion: String = "") {
    private[changesets] def fields: Seq[(String, Any)] =
      model.map("model" -> _).toSeq ++ Seq(
        "segments" -> segments,
        "tombstones" -> tombstones,
        "absorbed" -> absorbed.toSeq.sorted,
        "source_version" -> sourceVersion)
  }

  /** Where the ANN family's frozen models live (`model-<v>`). */
  val AnnModelStore = "_ann_models"

  val Ann = new VersionedStore("ANN pair", "publishAnn", "ann_current.json", "ann",
    Seq("_ann_segments", AnnModelStore), "neighbor_id")

  val Postings = new VersionedStore("postings index", "publishPostings",
    "postings_current.json", "post", Seq("_postings_segments"), "doc")

  val ManifestName = "manifest.json"

  private val mapper = new ObjectMapper()

  // `"key": value`, two-space indent, inline `["a", "b"]` arrays
  private val writer = mapper.writer(new DefaultPrettyPrinter(
      Separators.createDefaultInstance()
        .withObjectFieldValueSpacing(Separators.Spacing.AFTER)
        .withArrayValueSpacing(Separators.Spacing.AFTER)
        .withArrayEmptySeparator(""))
    .withArrayIndenter(DefaultPrettyPrinter.NopIndenter.instance)
    .withObjectIndenter(new DefaultIndenter("  ", "\n")))

  /** Atomically write a flat JSON object (string, long and array
    * values) to `path`.
    */
  private[changesets] def commitJson(path: Path, fields: (String, Any)*): Unit = {
    val o = mapper.createObjectNode()
    fields.foreach {
      case (k, s: String) => o.put(k, s)
      case (k, n: Long) => o.put(k, n)
      case (k, xs: Seq[_]) =>
        val a = o.putArray(k)
        xs.foreach {
          case s: String => a.add(s)
          case n: Long => a.add(n)
        }
    }
    graft.sources.AtomicHead.commitLocal(path, writer.writeValueAsString(o))
  }

  private[changesets] def readJson(path: Path): Option[JsonNode] =
    if (Files.exists(path)) Some(mapper.readTree(path.toFile)) else None

  private[changesets] def text(j: JsonNode, k: String): Option[String] =
    Option(j.get(k)).map(_.asText)

  private def strings(j: JsonNode, k: String): Seq[String] =
    j.path(k).elements().asScala.map(_.asText).toSeq

  /** Keep the newest `keep` children of `publishDir` whose name passes
    * `versioned`. Newness is mtime, not the version token: the token is
    * any opaque changing string (e.g. an HTTP Last-Modified header),
    * which is not lexicographically monotonic. `protect` (the
    * pointed-at artifact) is never deleted, even when a rollback flip
    * followed by N new publishes ages it out.
    */
  private[changesets] def retainNewest(publishDir: String, keep: Int,
      protect: Option[String], versioned: String => Boolean): Unit = {
    val keepAlways = protect.map(p => Paths.get(p).toAbsolutePath.normalize)
    children(Paths.get(publishDir))
      .filter(p => versioned(p.getFileName.toString))
      .sortBy(p => (Files.getLastModifiedTime(p).toMillis, p.toString))
      .reverse
      .drop(keep)
      .filterNot(p => keepAlways.contains(p.toAbsolutePath.normalize))
      .foreach(deleteRecursively)
  }

  /** The children of `p`; empty when `p` does not exist. */
  private[changesets] def children(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }

  private[changesets] def deleteRecursively(p: Path): Unit = {
    children(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
