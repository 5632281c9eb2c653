package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.changesets.{Pipeline, VersionedStore}
import graft.operators.{Encode, Retrieval, Similarity}

/** Streaming CHUNK-level ANN ingest (EventStreams.chunkAnnIngestStream):
  * each micro-batch of DOCUMENTS is sliding-window chunked, encoded
  * through the frozen model, and absorbed as one O(batch) delta
  * segment. The binding properties: stream-fed chunk index ≡ the
  * index built from ALL chunks in one shot with the same frozen
  * model (chunk vids composed by the shared Retrieval.chunkVid rule),
  * and at-least-once replay absorbs a batch exactly once.
  */
class ChunkAnnIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private val enc = new Encode.HashingTrickEncoder(dims = 8)
  private val win = 4
  private val stride = 3

  private def chunkVecsOf(docs: Seq[(Long, String)]) = {
    val chunks = Retrieval.chunkSliding(
        docs.toDF("doc_id", "text"), "doc_id", "text", win, stride)
      .select(Retrieval.chunkVid("doc_id").as("vid"), col("chunk"))
    Encode.encodeWithModel(chunks, "vid", "chunk", enc)
  }

  private val seed = Seq(
    0L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "iota kappa lambda mu nu xi")
  private val coarse: Array[Array[Double]] =
    chunkVecsOf(seed).orderBy($"vid").limit(2).select("embedding")
      .collect().map(_.getSeq[Double](0).toArray)
  private val codebooks: Array[Array[Array[Double]]] =
    Array.tabulate(2)(m => coarse.map(_.slice(m * 4, m * 4 + 4)))

  private def indexRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("neighbor_id").cast("long"), col("cluster").cast("int"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet

  test("stream-fed chunk index == one-shot frozen-model chunk index; replay absorbs once") {
    implicit val sqlCtx = spark.sqlContext
    val publishDir = tmpDir("chunk-ann-ingest")
    Pipeline.publishAnn(spark, publishDir, "day1",
      Similarity.ivfPqIndex(chunkVecsOf(seed), "vid", "embedding", coarse, codebooks),
      coarse, codebooks)

    // day-2 DOCUMENT batches: multi-chunk docs so the chunker matters
    val b1 = Seq(5L -> "alpha gamma gamma beta alpha zeta eta nu",
      7L -> "epsilon zeta zeta mu")
    val b2 = Seq(9L -> "beta beta alpha delta kappa kappa lambda xi xi theta")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.chunkAnnIngestStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", enc,
      win, stride, publishDir, tmpDir("chunk-ann-chk"))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val cur = VersionedStore.Ann.current(publishDir).get
    val streamed = indexRows(Pipeline.readAnnIndex(spark, cur))
    val scratch = indexRows(Similarity.ivfPqIndex(
      chunkVecsOf(seed ++ b1 ++ b2), "vid", "embedding", coarse, codebooks))
    assert(streamed === scratch)
    val segs = VersionedStore.Ann.manifest(cur).segments
    assert(segs === Seq("_ann_segments/seg-day1",
      "_ann_segments/seg-batch-0", "_ann_segments/seg-batch-1"))

    // replaying a committed batch id through the SHARED per-batch body
    // is a no-op
    val again = Pipeline.absorbChunkAnnBatch(spark, publishDir, 1L,
      b2.toDF("doc_id", "text"), "doc_id", "text", enc, win, stride)
    assert(again === cur)
    assert(indexRows(Pipeline.readAnnIndex(spark, again)) === streamed)
  }

  test("an all-empty-text batch leaves the live pair untouched") {
    val publishDir = tmpDir("chunk-ann-empty")
    Pipeline.publishAnn(spark, publishDir, "day1",
      Similarity.ivfPqIndex(chunkVecsOf(seed), "vid", "embedding", coarse, codebooks),
      coarse, codebooks)
    val before = VersionedStore.Ann.current(publishDir).get
    val after = Pipeline.absorbChunkAnnBatch(spark, publishDir, 7L,
      Seq(99L -> "").toDF("doc_id", "text"), "doc_id", "text", enc, win, stride)
    assert(after === before)
  }
}
