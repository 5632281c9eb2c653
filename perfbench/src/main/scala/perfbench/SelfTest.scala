package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Checks of the benchmark's own accounting, run by test_perfbench.py:
  * the output digest does not depend on row order or partitioning, and a
  * query that throws, at build or while materializing, is recorded as
  * failed with its error while the next query still runs.
  *
  *   perfbench.SelfTest WORKDIR
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("perfbench-selftest")
      .config("spark.local.dir", args(0))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      digestIgnoresOrder(spark)
      throwingQueriesFail(spark)
      println("selftest ok")
    } finally spark.stop()
  }

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what)

  private def digestIgnoresOrder(spark: SparkSession): Unit = {
    val df = spark.range(0, 5000).select(
      col("id"),
      (col("id") % 7).cast("string").as("s"),
      (col("id") / 3.0).as("d"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 0.1).as("maybe"),
      array(col("id") * 0.5, col("id") * 0.25).as("vec"),
      map(lit("k"), col("id") % 3).as("m"),
      struct(col("id").as("a"), (col("id") % 2 === 0).as("b")).as("st"))
    val a = Checksum.materialize(df.orderBy(col("id")).repartition(1))
    val b = Checksum.materialize(df.orderBy(col("id").desc).repartition(7))
    check(a.rows == 5000 && a.rows == b.rows, s"row counts ${a.rows} vs ${b.rows}")
    check(a.hash == b.hash, s"checksum depends on row order: ${a.hash} vs ${b.hash}")
    check(a.floatSums.size == 3, s"three float columns expected, got ${a.floatSums.size}")
    a.floatSums.zip(b.floatSums).zip(a.floatAbs).foreach { case ((x, y), abs) =>
      check(math.abs(x - y) <= 1e-9 * abs, s"float sums $x vs $y")
    }
    val changed = Checksum.materialize(df.withColumn("s", when(col("id") === 42, lit("x")).otherwise(col("s"))))
    check(changed.hash != a.hash, "checksum misses a changed cell")
  }

  private def throwingQueriesFail(spark: SparkSession): Unit = {
    val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
      "throws_at_build" -> ((_, _) => throw new IllegalStateException("build failed")),
      "throws_at_run" -> ((s, _) => s.range(10).select(raise_error(lit("run failed")).as("x"))),
      "fine" -> ((s, _) => s.range(10).toDF("x")))
    val w = new QueryWorkload(spark, new Tracer(spark), "", registry.keys.toSeq.sorted, Nil, registry)
    val rec = (0 until w.size).map(w.run).map(r => r("name") -> r).toMap
    Seq("throws_at_build", "throws_at_run").foreach { n =>
      check(rec(n)("ok") == false, s"$n not recorded as failed")
      check(rec(n)("error").asInstanceOf[Option[String]].exists(_.contains("failed")),
        s"$n error not recorded: ${rec(n)("error")}")
    }
    check(rec("fine")("ok") == true && rec("fine")("rows") == Some(10L), "the query after a failure did not run")
  }
}
