package graft.changesets

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's scheduled pipeline (EP2, SURVEY.md §3) as a
  * driver-side runner: file-level change detection → full reconvert →
  * overwrite publish → catalog metadata → retention. The reference
  * implements this as a GitHub workflow
  * (.github/workflows/process-changesets-r2.yml:35-234); here it is
  * library code so it can run under any scheduler, with the same
  * state contract (a committed last-modified marker, an overwritten
  * latest artifact, a metadata index, keep-newest-N retention —
  * manage-r2.sh:83-105).
  *
  * Scale note: "incremental" in the reference is file-level — detect
  * change, reprocess everything, overwrite. That contract is kept
  * (it is what the published artifact promises); row-level
  * incrementality is the streaming module's job
  * (EventStreams.fileStream + checkpoint).
  */
object Pipeline {

  final case class Result(
      ran: Boolean,
      rows: Long,
      published: Option[String],
      reason: String)

  /** Filesystem-safe form of the opaque sourceVersion token before it
    * is embedded in an artifact name: path separators would misplace
    * the artifact, and control chars or a quote confuse tooling that
    * handles the name. The MARKER keeps the raw
    * token (change detection compares the upstream value verbatim).
    *
    * Sanitization alone is lossy ('a/b' and 'a_b' both map to "a_b",
    * so a later version could silently overwrite an earlier retained
    * artifact); whenever any char was replaced, a short SHA-256 prefix
    * of the RAW token is appended so sanitized names stay injective.
    * Clean tokens (the common case) keep their exact name.
    *
    * One-time migration note: before the hash suffix (round 9), a
    * sanitized token like 'a/b' published as plain 'a_b'; its next
    * publish lands under 'a_b-<hash8>' and the old dir is simply
    * orphaned until mtime retention ages it out — pointer reads are
    * unaffected (the pointer names a full artifact name, not a
    * derived one). A pre-existing CLEAN token that itself ends in
    * '-<8 hex>' could in principle collide with a sanitized name;
    * acceptable: clean tokens keep their exact name, so the collision
    * needs an adversarial pair of tokens AND survives only until
    * retention.
    */
  private[changesets] def safeVersion(v: String): String = {
    val s = v.map(c => if (c == '/' || c == '\\' || c == '"' || c < ' ') '_' else c)
    require(s.nonEmpty && s != "." && s != "..", s"unusable sourceVersion: '$v'")
    if (s == v) s
    else {
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"$b%02x").mkString
      s"$s-$h"
    }
  }

  /** The committed `.last-modified` marker (reference
    * process-changesets-r2.yml:44-50,224-234).
    */
  def readMarker(stateDir: String): Option[String] = {
    val p = Paths.get(stateDir, ".last-modified")
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  def writeMarker(stateDir: String, value: String): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    Files.writeString(Paths.get(stateDir, ".last-modified"), value + "\n")
  }

  /** One pipeline run.
    *
    * @param sourceVersion the upstream change token (the reference uses
    *                      the HTTP Last-Modified header; any
    *                      monotonically-changing string works)
    * @param force         reprocess even when unchanged
    *                      (workflow_dispatch force, yml:53-58)
    */
  def run(
      spark: SparkSession,
      inputXml: String,
      publishDir: String,
      stateDir: String,
      sourceVersion: String,
      force: Boolean = false,
      keepHistory: Int = 5,
      opts: ChangesetConverter.Options = ChangesetConverter.Options()): Result = {

    if (!force && readMarker(stateDir).contains(sourceVersion))
      return Result(ran = false, rows = 0L, published = None,
        reason = s"unchanged (version $sourceVersion)")

    // convert to a timestamped artifact, then overwrite-publish the
    // stable name (yml:145-162 publishes changesets.parquet + keeps a
    // versioned copy; retention below mirrors manage-r2.sh:94-102)
    val versioned = s"$publishDir/changesets-${safeVersion(sourceVersion)}.parquet"
    ChangesetConverter.convert(spark, inputXml, versioned, opts)
    val rows = spark.read.parquet(versioned).count()

    // publish the stable name as a byte-identical COPY of the
    // versioned artifact (no second Spark job re-encoding the same
    // data), staged + renamed so readers race a rename, not a
    // multi-second overwrite-in-place (the reference's `aws s3 cp`
    // overwrite has the same race; object-store copies are per-object
    // atomic there)
    val latest = s"$publishDir/changesets.parquet"
    val latestPath = Paths.get(latest)
    val staging = Paths.get(publishDir, ".changesets.parquet.staging")
    val retired = Paths.get(publishDir, ".changesets.parquet.retired")
    recoverPublish(publishDir)
    VersionedStore.deleteRecursively(staging)
    VersionedStore.deleteRecursively(retired)
    copyRecursively(Paths.get(versioned), staging)
    if (Files.exists(latestPath)) Files.move(latestPath, retired)
    Files.move(staging, latestPath)
    VersionedStore.deleteRecursively(retired)

    writeIndex(publishDir, latest, rows, sourceVersion)
    applyRetention(publishDir, keepHistory)
    writeMarker(stateDir, sourceVersion)
    Result(ran = true, rows = rows, published = Some(latest),
      reason = if (force) "forced" else "source changed")
  }

  /** Crash recovery for the publish swap. The swap is two renames
    * (latest→retired, staging→latest); a crash between them leaves the
    * ONLY copy of the previous publish under the hidden `.retired`
    * name, which a blind next run would delete before republishing —
    * losing every stable artifact if it crashed again. Restoring
    * `.retired` back to the stable name whenever the stable name is
    * missing closes that window: at every point outside a single
    * rename, some run of `recoverPublish` + readers sees a complete
    * `changesets.parquet`. Called automatically at the start of each
    * `run`; safe (no-op) when the previous publish completed. Public
    * so long-lived readers can also invoke it before opening the
    * artifact.
    */
  def recoverPublish(publishDir: String): Unit = {
    val latestPath = Paths.get(publishDir, "changesets.parquet")
    val retired = Paths.get(publishDir, ".changesets.parquet.retired")
    if (!Files.exists(latestPath) && Files.exists(retired))
      Files.move(retired, latestPath)
  }

  private val PointerName = "current.json"

  /** Atomically point `current.json` at an already-written versioned
    * artifact. Call ONLY after the artifact is fully written (the
    * caller's Spark write has committed).
    */
  def flipPointer(publishDir: String, versionedFile: String, rows: Long, version: String): Unit =
    VersionedStore.commitJson(Paths.get(publishDir, PointerName),
      "file" -> versionedFile, "rows" -> rows, "source_version" -> version)

  /** Resolve the current pointer to the artifact path it names (None
    * before the first publish). This is the whole reader protocol:
    * one small read, then open the immutable artifact.
    */
  def readCurrent(publishDir: String): Option[String] =
    VersionedStore.readJson(Paths.get(publishDir, PointerName))
      .flatMap(VersionedStore.text(_, "file")).map(f => s"$publishDir/$f")

  /** Pointer-flip pipeline run — the object-store variant of [[run]]'s
    * rename swap. Object stores have no atomic rename, but they do have
    * an atomic single-object PUT: convert to an IMMUTABLE versioned
    * artifact (never renamed, never overwritten), flip the small
    * pointer object naming it, retain newest N (never deleting the
    * pointed-at version). A crash before the flip leaves the pointer at
    * the previous, still complete version: no recovery step. Same
    * change-detection/marker contract as [[run]]; no stable-name copy
    * exists in this mode — consumers use `readCurrent`.
    */
  def runPointer(
      spark: SparkSession,
      inputXml: String,
      publishDir: String,
      stateDir: String,
      sourceVersion: String,
      force: Boolean = false,
      keepHistory: Int = 5,
      opts: ChangesetConverter.Options = ChangesetConverter.Options()): Result = {

    if (!force && readMarker(stateDir).contains(sourceVersion))
      return Result(ran = false, rows = 0L, published = None,
        reason = s"unchanged (version $sourceVersion)")

    Files.createDirectories(Paths.get(publishDir))
    val versionedFile = s"changesets-${safeVersion(sourceVersion)}.parquet"
    val versioned = s"$publishDir/$versionedFile"
    ChangesetConverter.convert(spark, inputXml, versioned, opts)
    val rows = spark.read.parquet(versioned).count()

    flipPointer(publishDir, versionedFile, rows, sourceVersion)
    applyRetention(publishDir, keepHistory, protect = readCurrent(publishDir))
    writeMarker(stateDir, sourceVersion)
    Result(ran = true, rows = rows, published = Some(versioned),
      reason = if (force) "forced" else "source changed")
  }

  /** The model dir a pair's manifest names — the read half of the
    * pair protocol (with [[readAnnIndex]]): resolve the pointer once,
    * open both halves through the same manifest.
    */
  def annModelDir(pairDir: String): String = {
    val model = VersionedStore.Ann.manifest(pairDir).model.getOrElse(
      throw new IllegalStateException(s"manifest at $pairDir names no model"))
    s"${Paths.get(pairDir).getParent}/$model"
  }

  /** The pair's index as ONE DataFrame: the union of its manifest's
    * immutable segments minus its tombstones. Each segment keeps its
    * own cluster-partition layout, so probe-side partition pruning
    * applies per segment; the union is a no-shuffle concatenation.
    */
  def readAnnIndex(spark: SparkSession, pairDir: String): org.apache.spark.sql.DataFrame = {
    val publishDir = Paths.get(pairDir).getParent.toString
    val m = VersionedStore.Ann.manifest(pairDir)
    val dfs = m.segments.map(r => spark.read.parquet(s"$publishDir/$r"))
    // column order drifts across segments (the partition column moves
    // to the end on read) — normalize before the union
    val cols = dfs.head.columns.sorted.map(col).toSeq
    VersionedStore.Ann.withoutDeleted(publishDir, m.tombstones,
      dfs.map(_.select(cols: _*)).reduce(_.unionByName(_)))
  }

  /** Publish one ANN build (index table + its model) as an immutable
    * versioned pair — one full segment + one model + a manifest — and
    * flip the pointer to it. Returns the versioned dir. The index is
    * unusable without the model (coarse centroids + PQ codebooks) that
    * encoded it, so one manifest names both and they version together.
    * The segment is written partitioned by `partitionCol` so probes
    * keep their partition-pruning story (BucketingSpec).
    */
  def publishAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      index: org.apache.spark.sql.DataFrame,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      partitionCol: String = "cluster",
      keepHistory: Int = 5): String = {
    Files.createDirectories(Paths.get(publishDir))
    val segRef = VersionedStore.Ann.ref("seg", sourceVersion)
    val modelRef = s"${VersionedStore.AnnModelStore}/model-${safeVersion(sourceVersion)}"
    // cluster-collocate before the partitioned write: without it every
    // upstream partition emits a file into every cluster dir (up to
    // nlist x shuffle.partitions small files per publish); with it each
    // cluster's codes land in one file. At test scale this is
    // wall-clock-neutral (the publish chain is barrier-bound), but at
    // fleet scale the reader-side file-open count is the difference
    // between a probe scanning nprobe files and nprobe x thousands.
    index.repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(s"$publishDir/$segRef")
    graft.operators.AnnModel.save(spark, s"$publishDir/$modelRef", coarse, codebooks)
    VersionedStore.Ann.commit(publishDir, VersionedStore.Manifest(
      Seq(segRef), model = Some(modelRef), sourceVersion = sourceVersion), keepHistory)
  }

  /** Daily-increment ANN index maintenance WITHOUT retraining — the
    * production daily path (codebooks are retrained weekly/monthly,
    * not per batch): encode ONLY the new vectors with the CURRENT
    * pair's frozen model, and publish a NEW immutable versioned pair
    * whose index is (current index ∪ batch delta) and whose model is
    * the same artifact — the ANN analog of
    * `Dedup.dedupIncrementWithIndex`'s indexDelta fold. The corpus is
    * never re-encoded: per-day cost is O(|batch|) — ONLY the delta
    * segment and a new manifest are written; the live segments and the
    * model are referenced, not copied. Rollback story unchanged: each
    * day is its own manifest, an old manifest references exactly its
    * prefix of the segment list, so flipping the pointer back reverts
    * index AND model together, and a dropped batch never haunts the
    * index.
    *
    * AnnAppendSpec pins append ≡ rebuild (bit-equal index and probe
    * results vs indexing everything from scratch with the same model)
    * AND the O(delta) cost shape (pre-existing segment files are
    * byte-untouched by an append; the new version writes only
    * delta-sized data); q106 hash-gates the same equivalence through
    * the DuckDB oracle.
    */
  def appendAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      newVecs: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      keepHistory: Int = 5,
      absorbBatchId: Option[Long] = None): String = {
    val store = VersionedStore.Ann
    val cur = store.live(publishDir, "appendAnn")
    val m = store.manifest(cur)
    val segRef = store.freshRef(publishDir, cur, "appendAnn", sourceVersion, "seg")
    val model = graft.operators.AnnModel.load(spark, annModelDir(cur))
    // the delta's IDS feed the dup check and the tombstone resurrection
    // below, but [[Similarity.ivfPqIndex]] is a pure per-row select
    // (neighbor_id IS idCol verbatim, one output row per vector), so
    // those ids come straight off the BATCH (r22) — the encode+PQ pass
    // runs exactly once, inside the segment write, with no checkpoint
    // materialization job (r21 recomputed the encode per consumer; the
    // first r22 form checkpointed it — one whole extra pass over the
    // batch whose only purpose was feeding two ids-only joins).
    val newIds = newVecs.select(col(idCol).as("neighbor_id")).distinct()
    val delta = graft.operators.Similarity.ivfPqIndex(
      newVecs, idCol, vecCol, model.coarse, model.codebooks)
    // Disjoint-batch contract, CHECKED: a re-append of an already-
    // appended batch would silently duplicate neighbor_ids (plain
    // union, no dedup — dedup here would mask real upstream id
    // collisions). One broadcast semi-join count against the batch's
    // ids; the publish chain is already an action, this adds one cheap
    // ids-only pass over the live index.
    val dup = readAnnIndex(spark, cur).join(
      broadcast(newIds), Seq("neighbor_id"), "left_semi").count()
    require(dup == 0L,
      s"appendAnn: $dup id(s) in the new batch already exist in the live index " +
        s"at $cur — batches must be disjoint (re-running an already-appended " +
        "batch would duplicate its vectors).")
    // the WHOLE write cost of the append: one delta-sized segment +
    // one manifest; the model and the live segments are untouched
    delta.repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$publishDir/$segRef")
    val tombRefs = store.resurrect(publishDir, m.tombstones, newIds, sourceVersion)
    store.commit(publishDir, m.copy(segments = m.segments :+ segRef, tombstones = tombRefs,
      absorbed = m.absorbed ++ absorbBatchId, sourceVersion = sourceVersion), keepHistory)
  }

  /** Segment compaction for the versioned ANN pair — the maintenance
    * half of [[appendAnn]]'s O(delta) contract. Daily appends keep
    * per-day cost ∝ batch, but each adds one segment: after a year of
    * drops a probe opens nprobe × 365 segment dirs and the manifest's
    * union is 365-wide. compactAnn rewrites the LIVE manifest's
    * segments as ONE equivalent segment under a NEW manifest naming
    * the SAME frozen model — O(index), paid only when scheduled
    * (weekly/monthly, the [[Layout.compact]] cadence argument lifted
    * to the index artifact).
    *
    * Safety is inherited from the [[VersionedStore]] protocol, not
    * re-proved: rollback across a compaction stays byte-exact, readers
    * mid-union are never disturbed, and retention GCs the old segments
    * only after every manifest naming them ages out. A crashed
    * compact's orphan segment (no manifest committed) is safely
    * overwritten by the re-run, same as [[publishAnn]].
    *
    * A single-segment pair is already compact: returns the live dir
    * unchanged, writes nothing (idempotence without version burn).
    * AnnAppendSpec pins compact ≡ append ≡ rebuild (probe results
    * bit-equal), the 1-segment layout, and pre-compact rollback;
    * q133 hash-gates the equivalence through q92's full-scan oracle.
    */
  def compactAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      partitionCol: String = "cluster",
      keepHistory: Int = 5): String = {
    val store = VersionedStore.Ann
    val cur = store.live(publishDir, "compactAnn")
    val m = store.manifest(cur)
    // a single-segment pair still needs compacting when tombstones
    // exist — materializing deletions IS part of the rewrite
    if (m.segments.size <= 1 && m.tombstones.isEmpty) return cur
    val segRef = store.freshRef(publishDir, cur, "compactAnn", sourceVersion, "seg")
    // one partitioned rewrite of the union — each cluster's rows from
    // all segments land in one file again (the publishAnn layout)
    readAnnIndex(spark, cur)
      .repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(s"$publishDir/$segRef")
    // absorbed batch ids survive the segment rewrite: they are the
    // absorb protocol's commit record, and compaction must not make
    // an at-least-once replay look like a fresh batch
    store.commit(publishDir, m.copy(segments = Seq(segRef), tombstones = Seq.empty,
      sourceVersion = sourceVersion), keepHistory)
  }

  /** Vector takedown — [[deletePostings]] on the ANN pair (embeddings
    * of removed user content are as much a compliance surface as the
    * text): one tombstone segment of ids + a manifest whose tombstone
    * list grows; segments and the frozen model stay untouched, reads
    * subtract the tombstone union, retained versions still see the
    * vectors, re-appending resurrects ([[appendAnn]] shrinks the
    * set), compaction materializes and clears. q173 hash-gates
    * delete ≡ rebuild-without through the full IVF-PQ probe.
    */
  def deleteAnn(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      ids: org.apache.spark.sql.DataFrame,
      idCol: String,
      keepHistory: Int = 5): String =
    VersionedStore.Ann.delete(publishDir, "deleteAnn", sourceVersion, ids, idCol, keepHistory)

  /** Idempotent per-batch absorb for STREAMING ingest loops
    * ([[graft.streaming.EventStreams.annIngestStream]]): appendAnn
    * keyed by micro-batch id through [[VersionedStore.absorb]] —
    * foreachBatch is at-least-once on failure/replay, and a replayed
    * batch is skipped (or rolled forward when only its pointer flip was
    * lost) instead of tripping appendAnn's fresh-version require and
    * crash-looping the stream. The incrementalDedupStream /
    * heavyHittersIncrement batch_id discipline applied to the index
    * artifact. Returns the live pair dir. Bootstrap contract: a pair
    * must exist ([[publishAnn]] — in production the weekly retrain),
    * because a frozen model is what makes per-batch encode O(batch).
    */
  def absorbAnnBatch(
      spark: SparkSession,
      publishDir: String,
      batchId: Long,
      newVecs: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      keepHistory: Int = 5): String =
    VersionedStore.Ann.absorb(publishDir, "absorbAnnBatch", batchId, keepHistory)(v =>
      appendAnn(spark, publishDir, v, newVecs, idCol, vecCol, keepHistory,
        absorbBatchId = Some(batchId)))

  /** [[absorbAnnBatch]] at CHUNK granularity (r19, the q232 lifecycle
    * driven by the streaming loop): the batch of DOCUMENTS is sliding-
    * window chunked ([[graft.operators.Retrieval.chunkSliding]]),
    * chunk vids composed by the canonical
    * [[graft.operators.Retrieval.chunkVid]] rule, chunks encoded
    * through the FROZEN model boundary, and the result absorbed as
    * one O(batch) delta segment, batch-id-idempotently. This is the
    * exact per-micro-batch body of
    * [[graft.streaming.EventStreams.chunkAnnIngestStream]] — query
    * gates over this function gate the stream's absorb path too.
    * Returns the live pair dir (unchanged on a replayed batch id or
    * an empty chunk set).
    */
  def absorbChunkAnnBatch(
      spark: SparkSession,
      publishDir: String,
      batchId: Long,
      docsBatch: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      encoder: graft.operators.Encode.BatchEncoder,
      winTokens: Int,
      stride: Int,
      keepHistory: Int = 5): String = {
    val chunks = graft.operators.Retrieval
      .chunkSliding(docsBatch, idCol, textCol, winTokens, stride)
      .select(graft.operators.Retrieval.chunkVid(idCol).as("vid"), col("chunk"))
    if (chunks.limit(1).isEmpty)
      VersionedStore.Ann.live(publishDir, "absorbChunkAnnBatch")
    else {
      val vecs = graft.operators.Encode.encodeWithModel(chunks, "vid", "chunk", encoder)
      absorbAnnBatch(spark, publishDir, batchId, vecs, "vid", "embedding", keepHistory)
    }
  }

  /** The live postings index as ONE DataFrame (term, doc, tf) — the
    * no-shuffle union of the manifest's immutable segments minus its
    * tombstones. Disjoint doc batches mean no (term, doc) pair spans
    * segments, and every corpus statistic the BM25/tf-idf scorers need
    * is ADDITIVE over disjoint-doc segments (df counts (term, doc)
    * rows, dl sums tf, avgdl sums dl), so probing the union is
    * bit-identical to probing a full rebuild (q148 hash-gates that
    * through the BM25 tail) while a daily append tokenizes ONLY the
    * new docs.
    */
  def readPostingsIndex(spark: SparkSession, pairDir: String): org.apache.spark.sql.DataFrame = {
    val publishDir = Paths.get(pairDir).getParent.toString
    val m = VersionedStore.Postings.manifest(pairDir)
    VersionedStore.Postings.withoutDeleted(publishDir, m.tombstones,
      m.segments.map(r => spark.read.parquet(s"$publishDir/$r")).reduce(_.unionByName(_)))
  }

  /** Publish a full postings build as version one of the index. */
  def publishPostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      corpus: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      keepHistory: Int = 5): String = {
    Files.createDirectories(Paths.get(publishDir))
    val segRef = VersionedStore.Postings.ref("seg", sourceVersion)
    graft.operators.Retrieval.postings(corpus, idCol, textCol)
      .write.mode("overwrite").parquet(s"$publishDir/$segRef")
    VersionedStore.Postings.commit(publishDir,
      VersionedStore.Manifest(Seq(segRef), sourceVersion = sourceVersion), keepHistory)
  }

  /** O(delta) daily append: tokenize ONLY the new docs, write one
    * delta segment + one manifest referencing the live prefix. The
    * disjoint-batch contract is CHECKED (a re-appended doc would split
    * its postings across segments and inflate df); the version token
    * is collision-checked against every retained manifest.
    */
  def appendPostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      newDocs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      keepHistory: Int = 5,
      absorbBatchId: Option[Long] = None): String = {
    val store = VersionedStore.Postings
    val cur = store.live(publishDir, "appendPostings")
    val m = store.manifest(cur)
    val segRef = store.freshRef(publishDir, cur, "appendPostings", sourceVersion, "seg")
    // two consumers (dup check, segment write) — materialize the
    // O(batch) delta once instead of tokenizing the new docs twice (r22)
    val delta = graft.operators.Retrieval.postings(newDocs, idCol, textCol)
      .localCheckpoint(true)
    val dup = readPostingsIndex(spark, cur).select(col("doc")).distinct()
      .join(broadcast(delta.select(col("doc")).distinct()), Seq("doc"), "left_semi").count()
    require(dup == 0L,
      s"appendPostings: $dup doc(s) in the new batch already exist in the live " +
        "index — batches must be disjoint (a re-appended doc splits its postings " +
        "across segments and inflates df).")
    delta.write.mode("overwrite").parquet(s"$publishDir/$segRef")
    val tombRefs = store.resurrect(publishDir, m.tombstones,
      newDocs.select(col(idCol).as("doc")).distinct(), sourceVersion)
    val dir = store.commit(publishDir, m.copy(segments = m.segments :+ segRef,
      tombstones = tombRefs, absorbed = m.absorbed ++ absorbBatchId,
      sourceVersion = sourceVersion), keepHistory)
    graft.Checkpoints.release(delta) // both consumers above have run
    dir
  }

  /** Takedown: delete documents from the live postings index WITHOUT
    * touching any segment — the compliance operation (DMCA/GDPR
    * removal) a training-data index must support on the same
    * immutable-artifact terms as append. A deletion writes ONE
    * tombstone segment (the doc-id set) and a new manifest whose
    * tombstone list grows by that ref; every read of the new version
    * subtracts the union of its tombstones, so df/dl/avgdl shift
    * EXACTLY as if the docs had never been indexed (the statistics
    * are computed from the filtered postings at probe time — q172
    * hash-gates delete ≡ rebuild-without). Retained older versions
    * still see the docs (time travel is unaffected — takedown of
    * HISTORY is [[compactPostings]] + retention aging the old
    * manifests out). Re-appending a deleted doc resurrects it
    * (appendPostings shrinks the tombstone set); compaction
    * materializes deletions and clears the tombstone list.
    */
  def deletePostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      keepHistory: Int = 5): String =
    VersionedStore.Postings.delete(publishDir, "deletePostings", sourceVersion, docs, idCol,
      keepHistory)

  /** Idempotent per-batch absorb for STREAMING retrieval-index ingest
    * ([[graft.streaming.EventStreams.postingsIngestStream]]) —
    * [[absorbAnnBatch]]'s contract applied to the postings lifecycle:
    * appendPostings keyed by micro-batch id through
    * [[VersionedStore.absorb]]. Returns the live version dir;
    * [[publishPostings]] must have run first.
    */
  def absorbPostingsBatch(
      spark: SparkSession,
      publishDir: String,
      batchId: Long,
      newDocs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      keepHistory: Int = 5): String =
    VersionedStore.Postings.absorb(publishDir, "absorbPostingsBatch", batchId, keepHistory)(v =>
      appendPostings(spark, publishDir, v, newDocs, idCol, textCol, keepHistory,
        absorbBatchId = Some(batchId)))

  /** Weekly compaction of the postings index — the retrieval analog of
    * [[compactAnn]]: rewrite the live manifest's segment union as ONE
    * segment and flip to a version referencing only it, restoring the
    * single-segment layout after a run of daily O(delta) appends
    * (bounding read-side manifest fan-in at 365 segments/year
    * otherwise). The union is bit-identical to a full rebuild
    * (additive df/dl/avgdl — q158 gates compact ≡ rebuild through the
    * BM25 tail), and rollback to any retained pre-compact version stays
    * intact.
    */
  def compactPostings(
      spark: SparkSession,
      publishDir: String,
      sourceVersion: String,
      keepHistory: Int = 5): String = {
    val store = VersionedStore.Postings
    val cur = store.live(publishDir, "compactPostings")
    val m = store.manifest(cur)
    // a single-segment version still needs compacting when tombstones
    // exist — materializing deletions IS part of the rewrite
    if (m.segments.size <= 1 && m.tombstones.isEmpty) return cur
    val segRef = store.freshRef(publishDir, cur, "compactPostings", sourceVersion, "seg")
    readPostingsIndex(spark, cur)
      .write.mode("overwrite").parquet(s"$publishDir/$segRef")
    // absorbed batch ids survive the segment rewrite — the commit
    // records that keep an at-least-once replay from looking fresh
    store.commit(publishDir, m.copy(segments = Seq(segRef), tombstones = Seq.empty,
      sourceVersion = sourceVersion), keepHistory)
  }

  /** The catalog the reference publishes as index.json
    * (yml:176-222): size, update time token, row count, usage snippet.
    */
  def writeIndex(publishDir: String, latest: String, rows: Long, version: String): Unit =
    VersionedStore.commitJson(Paths.get(publishDir, "index.json"),
      "file" -> "changesets.parquet", "rows" -> rows, "source_version" -> version,
      "usage" -> "SELECT COUNT(*) FROM 'changesets.parquet'")

  /** Row-level incremental merge — the upgrade path past the
    * reference's reprocess-everything contract: union the published
    * snapshot with an incoming (partial) snapshot and keep ONE row per
    * id, preferring the incoming side (changesets mutate after
    * creation: closed_at/open/num_changes change on close). One
    * shuffle on id; at fleet scale both sides are id-partitioned
    * parquet so AQE keeps the exchange lean. Within a side, duplicate
    * ids resolve to the newest created_at; rows identical in (side,
    * created_at) have no further tiebreak — callers needing one
    * should dedup a side first.
    */
  def mergeSnapshots(
      published: org.apache.spark.sql.DataFrame,
      incoming: org.apache.spark.sql.DataFrame,
      idCol: String = "id"): org.apache.spark.sql.DataFrame = {
    val srcCol = "__merge_src"
    val tagged = published.withColumn(srcCol, lit(0))
      .unionByName(incoming.withColumn(srcCol, lit(1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col(srcCol).desc, col("created_at").desc_nulls_last)
    tagged
      .withColumn("__merge_rn", row_number().over(w))
      .filter(col("__merge_rn") === 1)
      .drop(srcCol, "__merge_rn")
  }

  /** Keep the newest N versioned changeset artifacts (mtime order —
    * see [[VersionedStore.retainNewest]]), never the `protect`ed one.
    */
  def applyRetention(publishDir: String, keep: Int, protect: Option[String] = None): Unit =
    VersionedStore.retainNewest(publishDir, keep, protect,
      n => n.startsWith("changesets-") && n.endsWith(".parquet"))

  private def copyRecursively(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      VersionedStore.children(from).foreach(c => copyRecursively(c, to.resolve(c.getFileName)))
    } else {
      Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
