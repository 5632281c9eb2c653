package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deterministic shuffle + sharded training export (sources.Export —
  * permutation oracle-gated by q132). Pins: the permutation is a
  * contiguous 1..N rank of the seeded hash (replayable, seed-
  * sensitive), shard sizes are exactly rowsPerShard (remainder in the
  * last shard), one file per shard whose physical row order replays
  * the shuffle order, and a re-export is byte-deterministic.
  */
class ExportSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int) =
    (1 to n).map(i => (i.toLong, s"doc number $i")).toDF("doc_id", "text")

  test("positions are a contiguous permutation, replayable, seed-sensitive") {
    val d = docs(200)
    def run(seed: Long) =
      Export.shufflePositions(d, "doc_id", seed)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("position")).toMap
    val a = run(7L)
    assert(a.values.toSeq.sorted === (1L to 200L), "not a contiguous permutation")
    assert(run(7L) === a, "same seed must replay the identical permutation")
    assert(run(8L) !== a, "different seed must permute differently")
    // payload columns survive the position attach
    val cols = Export.shufflePositions(d, "doc_id", 7L).columns.toSet
    assert(cols === Set("doc_id", "text", "position"))
  }

  test("shards hold exactly rowsPerShard rows, remainder last, one file each") {
    val out = tmpDir("export-shards") + "/data"
    val n = Export.writeShards(docs(130), "doc_id", out, seed = 7L, rowsPerShard = 32L)
    assert(n === 5, "ceil(130/32) shards")
    val byShard = spark.read.parquet(out)
      .groupBy(col("shard")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byShard === Map(0 -> 32L, 1 -> 32L, 2 -> 32L, 3 -> 32L, 4 -> 2L))
    // one data file per shard dir: a loader streams each shard as one
    // sequential read
    (0 until n).foreach { k =>
      val files = new java.io.File(s"$out/shard=$k").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"shard $k has ${files.length} files")
    }
  }

  test("a shard file read top-to-bottom replays the shuffle order") {
    val out = tmpDir("export-order") + "/data"
    Export.writeShards(docs(100), "doc_id", out, seed = 3L, rowsPerShard = 40L)
    (0 until 3).foreach { k =>
      val f = new java.io.File(s"$out/shard=$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val positions = spark.read.parquet(f.getPath)
        .select(col("position")).collect().map(_.getLong(0)).toSeq
      assert(positions === positions.sorted, s"shard $k rows out of shuffle order")
      assert(positions.head === k * 40L + 1, s"shard $k starts at the wrong position")
    }
  }

  test("re-export is deterministic: same membership and order, shard by shard") {
    val d = docs(90)
    def export(dir: String): Map[Int, Seq[(Long, Long)]] = {
      Export.writeShards(d, "doc_id", dir, seed = 11L, rowsPerShard = 25L)
      spark.read.parquet(dir)
        .select(col("shard"), col("position"), col("doc_id"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (k, rows) =>
          k -> rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq }
    }
    val a = export(tmpDir("export-det-a") + "/data")
    val b = export(tmpDir("export-det-b") + "/data")
    assert(a === b)
  }

  test("manifest records the replay recipe and exact per-shard counts; re-export is manifest-identical") {
    val out = tmpDir("export-manifest") + "/data"
    val n = Export.writeShardsWithManifest(docs(130), "doc_id", out,
      seed = 7L, rowsPerShard = 32L)
    assert(n === 5)
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "manifest.json"))
    assert(json.contains("\"seed\": 7"))
    assert(json.contains("\"rows_per_shard\": 32"))
    assert(json.contains("\"n_shards\": 5"))
    assert(json.contains("\"total_rows\": 130"))
    assert("""\{"shard": 4, "rows": 2, "checksum": -?\d+\}""".r
      .findFirstIn(json).isDefined)
    // checksums parse back and round-trip through the manifest reader
    assert(Export.readManifest(out).checksums.keySet === Set(0, 1, 2, 3, 4))
    // same corpus + same recipe -> byte-identical manifest (the
    // re-export verification a loader fleet actually does)
    val out2 = tmpDir("export-manifest-b") + "/data"
    Export.writeShardsWithManifest(docs(130), "doc_id", out2,
      seed = 7L, rowsPerShard = 32L)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(out2, "manifest.json")) === json)
  }

  test("stratifiedHoldout: exact budget, Hamilton per-stratum counts, determinism") {
    // strata sizes 50 / 30 / 20 (indices 0/1/2), budget 7:
    // base = floor(7·n/100) = [3, 2, 1], remainders [50, 10, 40] ->
    // 1 leftover slot goes to the largest remainder (stratum 0).
    val d = (1 to 100).map { i =>
      val s = if (i <= 50) 0L else if (i <= 80) 1L else 2L
      (i.toLong, s)
    }.toDF("doc_id", "stratum")
    def run() = Export.stratifiedHoldout(d, "doc_id", "stratum", budget = 7L, seed = 3L)
    val got = run().collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.count(_._3) === 7) // Σ holdout ≡ budget EXACTLY
    val perStratum = got.filter(_._3).groupBy(_._2).view.mapValues(_.length).toMap
    assert(perStratum === Map(0L -> 4, 1L -> 2, 2L -> 1))
    // replay: same seed -> identical membership
    assert(run().collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet ===
      got.map(x => (x._1, x._3)).toSet)
    // a different seed moves membership but never the counts
    val other = Export.stratifiedHoldout(d, "doc_id", "stratum", budget = 7L, seed = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(other.count(_._3) === 7)
    assert(other.filter(_._3).map(_._1).toSet !== got.filter(_._3).map(_._1).toSet)
  }

  test("stratifiedHoldout: one dominant stratum cannot break the exact allocation") {
    // 90%-skew: stratum 0 has 180 of 200 docs. budget 10:
    // base = [9, 1], remainders 0 -> no leftovers; exact by floor.
    val d = (1 to 200).map(i => (i.toLong, if (i <= 180) 0L else 1L))
      .toDF("doc_id", "stratum")
    val got = Export.stratifiedHoldout(d, "doc_id", "stratum", budget = 10L, seed = 1L)
      .collect().map(r => (r.getLong(1), r.getBoolean(2)))
    assert(got.count(_._2) === 10)
    assert(got.filter(_._2).groupBy(_._1).view.mapValues(_.length).toMap ===
      Map(0L -> 9, 1L -> 1))
  }

  test("prioritySample: k smallest hash-div-weight, replayable, partitioning-invariant, weight bias") {
    import spark.implicits._
    // weight 1000 vs weight 1: heavy rows must dominate the sample
    val d = (0L until 400L).map(i => (i, if (i < 40) 1000L else 1L))
      .toDF("doc_id", "w")
    def ids(df: org.apache.spark.sql.DataFrame) =
      Export.prioritySample(df, "doc_id", "w", k = 30, seed = 3L)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
    val s1 = ids(d)
    assert(s1.size === 30)
    assert(s1 === ids(d.repartition(13)), "sample must be partitioning-invariant")
    // the 10% heavy rows (1000x weight) should take the large majority
    assert(s1.count(_ < 40L) > 20, s"weight bias too weak: $s1")
    // driver-side reference: k smallest priorities win, ties by id
    val m = 1L << 52
    val ref = d.select($"doc_id",
        pmod(graft.functions.TextFunctions.hash60(
          concat(lit("psample|3|"), $"doc_id")), lit(m)).as("u"), $"w")
      .collect().map(r => (r.getLong(0), r.getLong(1) / math.max(r.getLong(2), 1L)))
      .sortBy { case (id, p) => (p, id) }.take(30).map(_._1).toSet
    assert(s1 === ref)
  }

  // ------------------------------------------------ read-back verification

  test("verifyShards: a clean export reads back all-ok; replay serves the rows") {
    val out = tmpDir("export-verify-ok") + "/data"
    Export.writeShardsWithManifest(docs(130), "doc_id", out, seed = 7L, rowsPerShard = 32L)
    val rep = Export.verifyShards(spark, out).collect()
    assert(rep.length === 5)
    assert(rep.forall(_.getString(3) === "ok"))
    assert(rep.map(_.getLong(2)).sum === 130L)
    val replay = Export.readShardsInOrder(spark, out)
    assert(replay.count() === 130L)
    // the replayed positions are the full contiguous training order
    assert(replay.agg(min($"position"), max($"position"),
      count_distinct($"position")).collect()(0).toSeq === Seq(1L, 130L, 130L))
    // replayOrder: (id, position, shard) in position order
    assert(Export.replayOrder(spark, out, "doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq === (1L to 130L).map(p => (p, (p - 1) / 32)))
  }

  test("verifyShards failure modes: truncated, missing, unexpected shard; no manifest") {
    import org.apache.spark.sql.functions.col

    // truncated shard: rows vanished after the manifest landed
    val t = tmpDir("export-verify-trunc") + "/data"
    Export.writeShardsWithManifest(docs(130), "doc_id", t, seed = 7L, rowsPerShard = 32L)
    val shard2 = spark.read.parquet(s"$t/shard=2")
      .filter(col("position") % 5 =!= 0).localCheckpoint(true)
    shard2.write.mode("overwrite").parquet(s"$t/shard=2")
    val rep = Export.verifyShards(spark, t).collect()
      .map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(rep(2) === "row_count_mismatch")
    assert(rep.filter(_._1 != 2).values.forall(_ === "ok"))
    val e1 = intercept[IllegalStateException] { Export.readShardsInOrder(spark, t) }
    assert(e1.getMessage.contains("shard 2"))

    // missing shard: the manifest promises what no file backs
    val m = tmpDir("export-verify-miss") + "/data"
    Export.writeShardsWithManifest(docs(130), "doc_id", m, seed = 7L, rowsPerShard = 32L)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(s"$m/shard=1"))
    val rep2 = Export.verifyShards(spark, m).collect()
      .map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(rep2(1) === "missing_shard")

    // unexpected shard: a foreign write landed inside the export dir
    val u = tmpDir("export-verify-extra") + "/data"
    Export.writeShardsWithManifest(docs(130), "doc_id", u, seed = 7L, rowsPerShard = 32L)
    spark.read.parquet(s"$u/shard=0")
      .write.mode("overwrite").parquet(s"$u/shard=9")
    val rep3 = Export.verifyShards(spark, u).collect()
      .map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(rep3(9) === "unexpected_shard")
    // and its positions obviously violate shard 9's range — the same
    // rows as shard 0 — so order_broken would also catch a mis-binned
    // write; unexpected_shard fires first (no manifest row at all)

    // rows in the wrong shard: counts match, range does not
    val w = tmpDir("export-verify-order") + "/data"
    Export.writeShardsWithManifest(docs(64), "doc_id", w, seed = 7L, rowsPerShard = 32L)
    val swapped = spark.read.parquet(s"$w/shard=1").localCheckpoint(true)
    spark.read.parquet(s"$w/shard=0").localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$w/shard=1")
    swapped.write.mode("overwrite").parquet(s"$w/shard=0")
    val rep4 = Export.verifyShards(spark, w).collect()
      .map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(rep4(0) === "order_broken" && rep4(1) === "order_broken")

    // no manifest at all: an aborted export is never schedulable
    val n = tmpDir("export-verify-nomanifest") + "/data"
    Export.writeShards(docs(32), "doc_id", n, seed = 7L, rowsPerShard = 32L)
    val e2 = intercept[IllegalStateException] { Export.verifyShards(spark, n) }
    assert(e2.getMessage.contains("never committed"))
  }

  test("verifyShards: checksum catches silent in-place corruption and position swaps") {
    import org.apache.spark.sql.functions.col

    // silent payload corruption: one text cell rewritten in place —
    // counts, ranges and distinct positions all still clean, so only
    // the manifest checksum can refuse the artifact
    val c = tmpDir("export-verify-checksum") + "/data"
    Export.writeShardsWithManifest(docs(64), "doc_id", c, seed = 7L, rowsPerShard = 32L)
    val s0 = spark.read.parquet(s"$c/shard=0").localCheckpoint(true)
    val minPos = s0.agg(min(col("position"))).collect()(0).getLong(0)
    s0.withColumn("text",
        when(col("position") === minPos, lit("tampered")).otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$c/shard=0")
    val rep = Export.verifyShards(spark, c).collect()
      .map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(rep(0) === "checksum_mismatch")
    assert(rep(1) === "ok")
    val e = intercept[IllegalStateException] { Export.readShardsInOrder(spark, c) }
    assert(e.getMessage.contains("checksum_mismatch"))

    // content swapped between two positions inside one shard: the
    // position SET is untouched (contiguous, duplicate-free), but the
    // position-bound digests move — the order-sensitivity claim
    val c2 = tmpDir("export-verify-swap") + "/data"
    Export.writeShardsWithManifest(docs(64), "doc_id", c2, seed = 7L, rowsPerShard = 32L)
    val s1 = spark.read.parquet(s"$c2/shard=1").localCheckpoint(true)
    val two = s1.sort(col("position")).limit(2).collect()
      .map(r => r.getAs[Long]("position") -> r.getAs[Long]("doc_id")).toMap
    val Seq(pa, pb) = two.keys.toSeq.sorted
    s1.withColumn("doc_id",
        when(col("position") === pa, lit(two(pb)))
          .when(col("position") === pb, lit(two(pa)))
          .otherwise(col("doc_id")))
      .write.mode("overwrite").parquet(s"$c2/shard=1")
    val rep2 = Export.verifyShards(spark, c2).collect()
      .map(r => r.getInt(0) -> r.getString(3)).toMap
    assert(rep2(1) === "checksum_mismatch")
    assert(rep2(0) === "ok")
  }

  test("empty corpus: export commits a 0-row manifest, verifies clean, replay refuses") {
    val out = tmpDir("export-empty") + "/data"
    val n = Export.writeShardsWithManifest(
      docs(10).filter($"doc_id" > 100), "doc_id", out, seed = 7L, rowsPerShard = 32L)
    assert(n === 0)
    val m = Export.readManifest(out)
    assert(m.totalRows === 0L && m.shards.isEmpty)
    assert(Export.verifyShards(spark, out).count() === 0L)
    val e = intercept[IllegalArgumentException] {
      Export.readShardsInOrder(spark, out)
    }
    assert(e.getMessage.contains("EMPTY"))
  }

  test("replayOrder: an empty export replays empty; a stray shard dir next to it fails") {
    val out = tmpDir("export-empty-stray") + "/data"
    Export.writeShardsWithManifest(
      docs(10).filter($"doc_id" > 100), "doc_id", out, seed = 7L, rowsPerShard = 32L)
    val empty = Export.replayOrder(spark, out, "doc_id")
    assert(empty.columns.toSeq === Seq("doc_id", "position", "shard"))
    assert(empty.count() === 0L)
    // a foreign or aborted write lands shard files next to the 0-row
    // manifest: replaying nothing must not pass it silently
    docs(3).withColumn("position", $"doc_id").write.parquet(s"$out/shard=0")
    val e = intercept[IllegalStateException] {
      Export.replayOrder(spark, out, "doc_id")
    }
    assert(e.getMessage.contains("shard=*"))
  }

  test("appendShardsWithManifest: O(delta) append, untouched shards byte-identical, replays converge") {
    def fileBytes(dir: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath.stripPrefix(dir) -> f.length()).toMap
    }
    val out = tmpDir("export-append") + "/data"
    // base: 100 docs, rps 32 -> shards 0..3, shard 3 PARTIAL (4 rows)
    Export.writeShardsWithManifest(docs(100), "doc_id", out, seed = 7L, rowsPerShard = 32L)
    val baseFiles = fileBytes(out)
    val baseManifest = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json"))

    // delta: 50 NEW docs -> completes shard 3, adds shard 4 (+ partial)
    val delta = (101 to 150).map(i => (i.toLong, s"doc number $i")).toDF("doc_id", "text")
    val n = Export.appendShardsWithManifest(delta, "doc_id", out, deltaSeed = 9L, batchId = 0L)
    assert(n === 5) // 150 rows / 32 -> shards 0..4
    val m = Export.readManifest(out)
    assert((m.totalRows, m.lastBatch) === ((150L, 0L)))
    assert(m.shards === Seq(0 -> 32L, 1 -> 32L, 2 -> 32L, 3 -> 32L, 4 -> 22L))
    assert(Export.verifyShards(spark, out).collect().forall(_.getString(3) === "ok"))
    // untouched full shards 0..2: file bytes identical (true append)
    val afterFiles = fileBytes(out)
    for ((path, sz) <- baseFiles if !path.contains("shard=3"))
      assert(afterFiles.get(path).contains(sz), s"untouched $path changed")

    // declared order: base permutation then delta permutation offset by 100
    val got = Export.readShardsInOrder(spark, out)
      .orderBy($"position").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("position")))
    val basePerm = Export.shufflePositions(docs(100), "doc_id", 7L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("position")))
      .sortBy(_._2)
    val deltaPerm = Export.shufflePositions(delta, "doc_id", 9L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("position") + 100L))
      .sortBy(_._2)
    assert(got.toSeq === (basePerm ++ deltaPerm).toSeq)

    // committed replay: same batchId is a no-op
    val manifestAfter = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json"))
    Export.appendShardsWithManifest(delta, "doc_id", out, deltaSeed = 9L, batchId = 0L)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json")).toSeq === manifestAfter.toSeq)

    // half-committed replay: shards landed, manifest did NOT flip —
    // restoring the pre-append manifest simulates the crash; the
    // replay recomputes identical positions and converges
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "manifest.json"), baseManifest)
    Export.appendShardsWithManifest(delta, "doc_id", out, deltaSeed = 9L, batchId = 0L)
    assert(Export.verifyShards(spark, out).collect().forall(_.getString(3) === "ok"))
    val replayed = Export.readShardsInOrder(spark, out)
      .orderBy($"position").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("position")))
    assert(replayed.toSeq === got.toSeq)
  }

}
