package graft.changesets

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based round-trip (SURVEY.md §5.2): random Changeset values
  * rendered to XML must convert back to exactly themselves. Covers the
  * attribute/entity/timestamp/nullability space the golden fixtures
  * sample point-wise. Generators driven directly with fixed seeds
  * (the scalatest-scalacheck bridge isn't in the offline cache, and
  * fixed seeds make failures reproducible anyway). Generator + XML
  * renderer live in RoundTripXml (shared with FastParserSpec).
  */
class ChangesetRoundTripSpec extends SparkSpec {

  test("random changesets survive XML -> parquet round trip exactly") {
    import spark.implicits._
    (1 to 15).foreach { i =>
      val doc = RoundTripXml.genDoc
        .apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail(s"generator exhausted at iteration $i"))
      val f = Files.createTempFile("prop", ".osm")
      Files.writeString(f, doc.xml)
      val got = ChangesetConverter.parse(spark, f.toString)
        .as[Changeset].collect().sortBy(_.id).toList
      // ms-truncated timestamps: the schema stores epoch millis
      assert(got === doc.changesets.sortBy(_.id).toList, s"round-trip mismatch at seed ${42L + i}")
      Files.deleteIfExists(f)
    }
  }

  test("fast parser: the same round trip, bit-identical") {
    import spark.implicits._
    // the scanner's rows taken the whole way: written by convert as
    // Parquet, read back, and compared value for value
    (1 to 15).foreach { i =>
      val doc = RoundTripXml.genDoc
        .apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail(s"generator exhausted at iteration $i"))
      val f = Files.createTempFile("propf", ".osm")
      val out = Files.createTempDirectory("propf-out").resolve("cs.parquet")
      Files.writeString(f, doc.xml)
      val n = ChangesetConverter.convert(spark, f.toString, out.toString)
      assert(n === doc.changesets.size.toLong, s"row count mismatch at seed ${42L + i}")
      val got = spark.read.parquet(out.toString)
        .as[Changeset].collect().sortBy(_.id).toList
      assert(got === doc.changesets.sortBy(_.id).toList, s"parquet round-trip mismatch at seed ${42L + i}")
      Files.deleteIfExists(f)
    }
  }
}
