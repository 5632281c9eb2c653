package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one materialization of a query result computed, in a form that
  * does not depend on row order or partitioning: the row count, the sum
  * of a 64-bit hash of every exact column (kept as two 32-bit halves so
  * the sums cannot overflow), and per floating-point column the plain and
  * absolute sums, which are compared with a tolerance because float
  * aggregation order is not fixed.
  */
final case class Digest(rows: Long, hashLo: Long, hashHi: Long,
    floatSums: Seq[Double], floatAbs: Seq[Double]) {
  def hash: String = s"$hashHi:$hashLo"
}

object Checksum {
  private def floaty(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _) => floaty(e)
    case MapType(k, v, _) => floaty(k) || floaty(v)
    case StructType(fs) => fs.exists(f => floaty(f.dataType))
    case _ => false
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Per-row value of a floating column that is summed with tolerance;
    * arrays of floats contribute the sum of their elements, other nested
    * floats only their null-ness.
    */
  private def floatValue(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => c.cast(DoubleType)
    case ArrayType(FloatType | DoubleType, _) =>
      aggregate(c, lit(0.0), (acc, x) => acc + coalesce(x.cast(DoubleType), lit(0.0)))
    case _ => when(c.isNull, lit(0.0)).otherwise(lit(1.0))
  }

  /** Write `df` through the `noop` sink, so every column of every row is
    * computed, and return its digest, gathered in the same pass.
    */
  def materialize(df: DataFrame): Digest = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val fields = named.schema.fields.toSeq
    val exact = fields.filterNot(f => floaty(f.dataType)).map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val floats = fields.filter(f => floaty(f.dataType))
      .map(f => floatValue(col(f.name), f.dataType))
    val h = if (exact.isEmpty) lit(0L) else xxhash64(exact: _*)
    val aggs: Seq[Column] =
      Seq(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(h, 32))) ++
        floats.flatMap(v => Seq(sum(v), sum(abs(v))))
    val named2 = aggs.zipWithIndex.map { case (a, i) => a.as(s"m$i") }
    val obs = new Observation()
    named.observe(obs, named2.head, named2.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    def long(i: Int): Long = Option(m(s"m$i")).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    def dbl(i: Int): Double = Option(m(s"m$i")).map(_.asInstanceOf[Number].doubleValue).getOrElse(0.0)
    val fIdx = floats.indices.map(k => 3 + 2 * k)
    Digest(long(0), long(1), long(2), fIdx.map(dbl), fIdx.map(i => dbl(i + 1)))
  }
}
