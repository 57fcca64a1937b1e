package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Materialises a query result with one action: its row count and an
  * order-independent hash over every column, so no column can be pruned.
  *
  * Each row hashes its columns in name order. Doubles and floats are
  * rounded to 9 significant digits first, the precision
  * `scripts/check_correctness.py` compares at, so a changed summation order
  * does not change the digest. The row hashes are summed in two 32-bit
  * halves, which cannot overflow below 2^31 rows.
  */
object Digest {
  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = {
    val cols = df.schema.fields.sortBy(_.name)
    val rowHash =
      if (cols.isEmpty) lit(0L)
      else xxhash64(cols.toSeq.map(f => normalise(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.select(rowHash.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    val names = cols.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val schemaHash = scala.util.hashing.MurmurHash3.stringHash(names)
    Result(r.getLong(0), f"$schemaHash%08x-$lo%x-$hi%x")
  }

  private def normalise(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      // -0.0 and 0.0 print differently but compare equal
      format_string("%.8e", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(et, _) if needs(et) => transform(c, x => normalise(x, et))
    case StructType(fs) if fs.exists(f => needs(f.dataType)) =>
      struct(fs.toSeq.map(f => normalise(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(_, _, _) => array_sort(map_entries(c))
    case _ => c
  }

  private def needs(t: DataType): Boolean = t match {
    case DoubleType | FloatType | MapType(_, _, _) => true
    case ArrayType(et, _) => needs(et)
    case StructType(fs) => fs.exists(f => needs(f.dataType))
    case _ => false
  }
}
