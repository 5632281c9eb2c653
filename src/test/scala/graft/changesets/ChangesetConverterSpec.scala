package graft.changesets

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.SparkException
import graft.SparkSpec

/** Golden round-trip tests for the converter semantics, one per fixture
  * in FIXTURES.md §1 (each traces to a reference code path).
  */
class ChangesetConverterSpec extends SparkSpec {

  private def wrap(body: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<osm version="0.6" generator="test">
       |$body
       |</osm>""".stripMargin

  private def writeXml(body: String, suffix: String = ".osm"): String = {
    val f = Files.createTempFile("changesets", suffix)
    Files.writeString(f, wrap(body))
    f.toString
  }

  private def parseRows(path: String, opts: ChangesetConverter.Options = ChangesetConverter.Options()) = {
    import spark.implicits._
    ChangesetConverter.parse(spark, path, opts)
      .as[Changeset].collect().sortBy(_.id)
  }

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  test("F1: empty-element changeset, all attributes") {
    val rows = parseRows(writeXml(
      """<changeset id="1001" created_at="2024-01-15T10:30:00Z" closed_at="2024-01-15T11:00:00Z"
        |  open="false" user="alice" uid="42" min_lat="51.50" min_lon="-0.13" max_lat="51.52"
        |  max_lon="-0.11" num_changes="25" comments_count="2"/>""".stripMargin))
    assert(rows.length == 1)
    val r = rows.head
    assert(r == Changeset(1001L, Some(ts("2024-01-15T10:30:00Z")), Some(ts("2024-01-15T11:00:00Z")),
      open = false, Some("alice"), Some(42L), Some(51.50), Some(-0.13), Some(51.52), Some(-0.11),
      25L, 2L, None))
  }

  test("F2: open-element with comment tag, tz-offset timestamp, entity unescape") {
    val rows = parseRows(writeXml(
      """<changeset id="1002" created_at="2024-02-01T08:00:00+01:00" open="true" user="bob" uid="7"
        |  num_changes="3" comments_count="0">
        |  <tag k="comment" v="Added a park &amp; playground"/>
        |  <tag k="created_by" v="JOSM/1.5"/>
        |</changeset>""".stripMargin))
    val r = rows.head
    assert(r.description.contains("Added a park & playground"))
    assert(r.created_at.contains(ts("2024-02-01T07:00:00Z"))) // normalized to UTC
    assert(r.open)
    assert(r.closed_at.isEmpty && r.min_lat.isEmpty && r.max_lon.isEmpty)
  }

  test("F3: duplicate comment tags — last wins") {
    val rows = parseRows(writeXml(
      """<changeset id="1003" created_at="2024-03-01T00:00:00Z" open="false">
        |  <tag k="comment" v="first"/>
        |  <tag k="comment" v="second"/>
        |</changeset>""".stripMargin))
    assert(rows.head.description.contains("second"))
  }

  test("F4: discussion subtree skipped wholesale") {
    val rows = parseRows(writeXml(
      """<changeset id="1004" created_at="2024-03-01T00:00:00Z" open="false" num_changes="1" comments_count="1">
        |  <discussion><comment date="2024-03-02T00:00:00Z" uid="9" user="eve"><text>nice!</text></comment></discussion>
        |  <tag k="comment" v="real description"/>
        |</changeset>""".stripMargin))
    val r = rows.head
    assert(r.description.contains("real description"))
    assert(r.comments_count == 1L)
  }

  test("F5: missing attributes get reference defaults") {
    val rows = parseRows(writeXml("""<changeset id="1005"/>"""))
    val r = rows.head
    assert(r == Changeset(1005L, None, None, open = false, None, None, None, None, None, None,
      0L, 0L, None))
  }

  test("F6: strict boolean — only exactly \"true\" is true") {
    val rows = parseRows(writeXml(
      """<changeset id="1" open="True"/>
        |<changeset id="2" open="1"/>
        |<changeset id="3" open="true"/>""".stripMargin))
    assert(rows.map(r => r.id -> r.open).toSeq == Seq(1L -> false, 2L -> false, 3L -> true))
  }

  test("F7: unknown attributes ignored") {
    val rows = parseRows(writeXml("""<changeset id="1007" foo="bar" baz="1"/>"""))
    assert(rows.head.id == 1007L)
  }

  test("F8: value-parse failure kills the run even with continue-on-error") {
    val path = writeXml("""<changeset id="1008" uid="not-a-number"/>""")
    val e = intercept[Exception] {
      parseRows(path, ChangesetConverter.Options(continueOnError = true))
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("value parse failed for uid")))
  }

  test("F8b: u32 range check on num_changes") {
    val path = writeXml("""<changeset id="1" num_changes="4294967296"/>""")
    val e = intercept[Exception] { parseRows(path) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("out of u32 range")))
  }

  test("F9: malformed XML — permissive saves well-formed rows, strict aborts") {
    val f = Files.createTempFile("changesets", ".osm")
    Files.writeString(f,
      """<?xml version="1.0"?><osm>
        |<changeset id="1" open="true"/>
        |<changeset id="2" open="false"
        |</osm>""".stripMargin) // second element is malformed
    val rows = parseRows(f.toString, ChangesetConverter.Options(continueOnError = true))
    assert(rows.map(_.id).toSeq == Seq(1L))
    intercept[Exception] { parseRows(f.toString) } // FAILFAST
  }

  test("F10: non-changeset top-level elements ignored") {
    val rows = parseRows(writeXml(
      """<bound box="1,2,3,4"/>
        |<changeset id="1010"/>
        |<note>hello</note>""".stripMargin))
    assert(rows.map(_.id).toSeq == Seq(1010L))
  }

  test("bz2 multistream input decodes transparently by extension") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.io.compress.BZip2Codec
    val codec = new BZip2Codec(); codec.setConf(new Configuration())
    def bz(bytes: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = codec.createOutputStream(bos)
      out.write(bytes); out.close(); bos.toByteArray
    }
    // two independently-compressed streams concatenated = multistream
    // (reference uses MultiBzDecoder, src/main.rs:431-433)
    val part1 = wrap("""<changeset id="1" open="true"/>""")
    val part2 = "\n<!-- trailing stream -->\n"
    val f = Files.createTempFile("changesets", ".osm.bz2")
    Files.write(f, bz(part1.getBytes("UTF-8")) ++ bz(part2.getBytes("UTF-8")))
    val rows = parseRows(f.toString)
    assert(rows.map(_.id).toSeq == Seq(1L))
  }

  test("F11: timestamp shape is RFC3339-strict — no-offset and date-only forms abort") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // chrono parse_from_rfc3339 rejects these; a lenient cast would
    // silently read them in session TZ (reference src/main.rs:193-197)
    for (bad <- Seq("2020-01-01", "2020-01-01 12:00:00", "2020-01-01T12:00:00")) {
      val e = intercept[Exception] {
        parseRows(writeXml(s"""<changeset id="1" created_at="$bad"/>"""))
      }
      assert(msgs(e).exists(_.contains("value parse failed for created_at")), bad)
    }
    // offset + fractional forms chrono accepts still parse
    val ok = parseRows(writeXml(
      """<changeset id="1" created_at="2020-01-01T12:00:00.250+01:00"/>"""))
    assert(ok.head.created_at.contains(ts("2020-01-01T11:00:00.250Z")))
  }

  test("F12: integer shape is digits-strict — padded and decimal forms abort") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // Rust i64/u32 str::parse rejects these; try_cast would trim or
    // truncate (reference src/main.rs:333,337)
    for (bad <- Seq(" 42", "42 ", "4.0", "1e3")) {
      val e = intercept[Exception] {
        parseRows(writeXml(s"""<changeset id="1" uid="$bad"/>"""))
      }
      assert(msgs(e).exists(_.contains("value parse failed for uid")), bad)
    }
    assert(parseRows(writeXml("""<changeset id="1" uid="+42"/>""")).head.uid.contains(42L))
  }

  test("F13: tags but no comment tag — description is null") {
    // the planet's common shape: editor/source tags, no comment
    val path = writeXml(
      """<changeset id="1013" created_at="2024-01-28T12:29:04Z" open="false" num_changes="4">
        |  <tag k="created_by" v="JOSM/1.5"/>
        |  <tag k="source" v="survey"/>
        |</changeset>
        |<changeset id="1014" open="false"><tag k="comment" v="with one"/></changeset>""".stripMargin)
    assert(parseRows(path).map(r => r.id -> r.description).toSeq ==
      Seq(1013L -> None, 1014L -> Some("with one")))
    val out = s"${tmpDir("conv-f13")}/changesets.parquet"
    assert(ChangesetConverter.convert(spark, path, out) == 2L)
    val written = spark.read.parquet(out).orderBy("id").select("description").collect()
    assert(written.map(r => Option(r.getString(0))).toSeq == Seq(None, Some("with one")))
  }

  test("end-to-end convert writes snappy parquet with the 13-column schema") {
    val out = tmpDir("conv-out")
    val n = ChangesetConverter.convert(spark,
      writeXml("""<changeset id="1" created_at="2024-01-01T00:00:00Z" num_changes="5"/>
                 |<changeset id="2" open="true"/>""".stripMargin),
      s"$out/changesets.parquet",
      ChangesetConverter.Options(singleFile = true))
    assert(n == 2L)
    val df = spark.read.parquet(s"$out/changesets.parquet")
    assert(df.schema.fieldNames.toSeq == ChangesetSchema.output.fieldNames.toSeq)
    // names, types AND nullability, before the parquet round trip
    assert(ChangesetConverter.parse(spark, writeXml("""<changeset id="1"/>""")).schema ===
      ChangesetSchema.output)
    val parts = new java.io.File(s"$out/changesets.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 1) // singleFile contract
  }
}
