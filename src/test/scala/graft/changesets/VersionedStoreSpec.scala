package graft.changesets

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import VersionedStore.{Ann, Manifest, Postings}

/** On-disk format compatibility of the versioned stores, pinned with
  * literal JSON in the format earlier releases wrote: every field the
  * readers take (refs, tombstones, absorbed ids, the pointed-at dir or
  * artifact) reads back the same, older manifests without the
  * `tombstones`/`absorbed` fields read as empty, and the writer emits
  * the same bytes.
  */
class VersionedStoreSpec extends AnyFunSuite {

  private def write(dir: Path, name: String, json: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), json)
  }

  private val annManifest =
    """{
      |  "model": "_ann_models/model-day1",
      |  "segments": ["_ann_segments/seg-day1", "_ann_segments/seg-batch-3"],
      |  "tombstones": ["_ann_segments/tomb-takedown"],
      |  "absorbed": [3, 11],
      |  "source_version": "batch-3"
      |}""".stripMargin

  test("ANN manifest with model, tombstones and absorbed ids") {
    val pub = Files.createTempDirectory("vs-ann")
    write(pub.resolve("ann-batch-3"), "manifest.json", annManifest)
    write(pub, "ann_current.json",
      """{
        |  "dir": "ann-batch-3",
        |  "source_version": "batch-3"
        |}""".stripMargin)
    val cur = Ann.current(pub.toString)
    assert(cur === Some(s"$pub/ann-batch-3"))
    val m = Ann.manifest(cur.get)
    assert(m.model === Some("_ann_models/model-day1"))
    assert(m.segments === Seq("_ann_segments/seg-day1", "_ann_segments/seg-batch-3"))
    assert(m.tombstones === Seq("_ann_segments/tomb-takedown"))
    assert(m.absorbed === Set(3L, 11L))
    assert(m.sourceVersion === "batch-3")
    assert(Pipeline.annModelDir(cur.get) === s"$pub/_ann_models/model-day1")
    assert(Ann.referencedRefs(pub.toString) === Set("_ann_models/model-day1",
      "_ann_segments/seg-day1", "_ann_segments/seg-batch-3", "_ann_segments/tomb-takedown"))
  }

  test("ANN manifest from before the tombstones/absorbed fields") {
    val dir = Files.createTempDirectory("vs-ann-old").resolve("ann-v1")
    write(dir, "manifest.json",
      """{
        |  "model": "_ann_models/model-v1",
        |  "segments": ["_ann_segments/seg-v1"],
        |  "source_version": "v1"
        |}""".stripMargin)
    val m = Ann.manifest(dir.toString)
    assert(m.model === Some("_ann_models/model-v1"))
    assert(m.segments === Seq("_ann_segments/seg-v1"))
    assert(m.tombstones.isEmpty)
    assert(m.absorbed.isEmpty)
  }

  test("postings manifest and pointer") {
    val pub = Files.createTempDirectory("vs-post")
    write(pub.resolve("post-batch-0"), "manifest.json",
      """{
        |  "segments": ["_postings_segments/seg-base", "_postings_segments/seg-batch-0"],
        |  "tombstones": [],
        |  "absorbed": [0],
        |  "source_version": "batch-0"
        |}""".stripMargin)
    write(pub, "postings_current.json",
      """{
        |  "dir": "post-batch-0",
        |  "source_version": "batch-0"
        |}""".stripMargin)
    val cur = Postings.current(pub.toString)
    assert(cur === Some(s"$pub/post-batch-0"))
    val m = Postings.manifest(cur.get)
    assert(m.model === None)
    assert(m.segments === Seq("_postings_segments/seg-base", "_postings_segments/seg-batch-0"))
    assert(m.tombstones.isEmpty)
    assert(m.absorbed === Set(0L))
    assert(Ann.current(pub.toString) === None)
  }

  test("changeset pointer written for a hostile version token") {
    val pub = Files.createTempDirectory("vs-current")
    // the token "v1/../esc\"ape\\to\tkens", escaped in the pointer
    write(pub, "current.json",
      """{
        |  "file": "changesets-v1_.._esc_ape_to_kens-09b873c0.parquet",
        |  "rows": 2,
        |  "source_version": "v1/../esc\"ape\\to\tkens"
        |}""".stripMargin)
    assert(Pipeline.readCurrent(pub.toString) ===
      Some(s"$pub/changesets-v1_.._esc_ape_to_kens-09b873c0.parquet"))
    assert(Pipeline.safeVersion("v1/../esc\"ape\\to\tkens") ===
      "v1_.._esc_ape_to_kens-09b873c0")
    assert(Pipeline.readCurrent(Files.createTempDirectory("vs-none").toString) === None)
  }

  test("the writer emits the same bytes, and absorbed ids sorted") {
    val pub = Files.createTempDirectory("vs-write")
    val dir = Ann.commit(pub.toString, Manifest(
      segments = Seq("_ann_segments/seg-day1", "_ann_segments/seg-batch-3"),
      tombstones = Seq("_ann_segments/tomb-takedown"),
      absorbed = Set(11L, 3L),
      model = Some("_ann_models/model-day1"),
      sourceVersion = "batch-3"), keep = 5)
    assert(dir === s"$pub/ann-batch-3")
    assert(Files.readString(pub.resolve("ann-batch-3/manifest.json")) === annManifest)
    assert(Files.readString(pub.resolve("ann_current.json")) ===
      """{
        |  "dir": "ann-batch-3",
        |  "source_version": "batch-3"
        |}""".stripMargin)
    Pipeline.flipPointer(pub.toString, "changesets-x.parquet", 2L, "v1/../esc\"ape\\to\tkens")
    assert(Files.readString(pub.resolve("current.json")) ===
      """{
        |  "file": "changesets-x.parquet",
        |  "rows": 2,
        |  "source_version": "v1/../esc\"ape\\to\tkens"
        |}""".stripMargin)
  }
}
