package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.changesets.{Pipeline, VersionedStore}
import graft.operators.{Encode, Similarity}

/** Streaming ANN ingest (EventStreams.annIngestStream): encode each
  * micro-batch through the model boundary, absorb it as one O(batch)
  * delta segment under the live pair's frozen model. The binding
  * properties: stream-fed index ≡ the index built from ALL vectors in
  * one shot with the same frozen model, and at-least-once replay
  * absorbs a batch exactly once (the segment ref is the commit
  * record).
  */
class AnnIngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private val enc = new Encode.HashingTrickEncoder(dims = 8)
  private def vecsOf(docs: Seq[(Long, String)]) =
    Encode.encodeWithModel(docs.toDF("doc_id", "text"), "doc_id", "text", enc)

  // tiny fixed model: coarse from two seed docs, identity-ish codebooks
  private val seed = Seq(0L -> "alpha beta gamma", 1L -> "delta epsilon zeta")
  private val coarse: Array[Array[Double]] =
    vecsOf(seed).orderBy($"doc_id").select("embedding")
      .collect().map(_.getSeq[Double](0).toArray)
  private val codebooks: Array[Array[Array[Double]]] =
    Array.tabulate(2)(m => coarse.map(_.slice(m * 4, m * 4 + 4)))

  private def indexRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("neighbor_id").cast("long"), col("cluster").cast("int"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet

  test("stream-fed index == one-shot frozen-model index; replay absorbs once") {
    implicit val sqlCtx = spark.sqlContext
    val publishDir = tmpDir("ann-ingest")
    // bootstrap: the weekly retrain publishes the pair (seed docs)
    Pipeline.publishAnn(spark, publishDir, "day0",
      Similarity.ivfPqIndex(vecsOf(seed), "doc_id", "embedding", coarse, codebooks),
      coarse, codebooks)

    val b1 = Seq(10L -> "alpha gamma gamma", 11L -> "epsilon zeta zeta")
    val b2 = Seq(20L -> "beta beta alpha delta", 21L -> "zeta alpha")
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.annIngestStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", enc,
      publishDir, tmpDir("ann-ingest-chk"))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val cur = VersionedStore.Ann.current(publishDir).get
    val streamed = indexRows(Pipeline.readAnnIndex(spark, cur))
    val scratch = indexRows(Similarity.ivfPqIndex(
      vecsOf(seed ++ b1 ++ b2), "doc_id", "embedding", coarse, codebooks))
    assert(streamed === scratch)
    // one delta segment per micro-batch, named by its batch id
    val segs = VersionedStore.Ann.manifest(cur).segments
    assert(segs === Seq("_ann_segments/seg-day0",
      "_ann_segments/seg-batch-0", "_ann_segments/seg-batch-1"))

    // at-least-once replay: re-absorbing an already-committed batch id
    // is a no-op — same pair back, no new version, index unchanged
    val again = Pipeline.absorbAnnBatch(spark, publishDir, 1L,
      vecsOf(b2), "doc_id", "embedding")
    assert(again === cur)
    assert(indexRows(Pipeline.readAnnIndex(spark, again)) === streamed)
  }

  test("absorbAnnBatch before any publish fails loudly (frozen model required)") {
    val e = intercept[IllegalStateException] {
      Pipeline.absorbAnnBatch(spark, tmpDir("ann-ingest-empty"), 0L,
        vecsOf(seed), "doc_id", "embedding")
    }
    assert(e.getMessage.contains("publishAnn must run first"))
  }
}
