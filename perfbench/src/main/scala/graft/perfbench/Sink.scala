package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed sink: one action that returns the row count and an
  * order-insensitive digest of the rows (the sum of per-row 64-bit hashes),
  * so checking a call's output costs no second execution.
  *
  * Before hashing, doubles and floats are rounded to 10 significant digits
  * (so summation order inside an aggregate cannot flip the digest) and
  * maps become their entries sorted by key (map iteration order is not
  * part of a map's value).
  */
object Sink {
  final case class Result(rows: Long, digest: String)

  def run(df: DataFrame): Result = {
    val cols = df.schema.fields.toSeq.map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(rowHash.cast(DecimalType(38, 0)))).collect()(0)
    Result(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(e, _) => needsCanon(e)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  private def canonical(c: Column, t: DataType): Column =
    if (!needsCanon(t)) c
    else t match {
      case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
      case ArrayType(e, _) => transform(c, x => canonical(x, e))
      case StructType(fs) =>
        when(c.isNotNull, struct(fs.toSeq.map(f =>
          canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
      case MapType(k, v, _) =>
        array_sort(transform(map_entries(c), e =>
          struct(canonical(e.getField("key"), k).as("k"),
            canonical(e.getField("value"), v).as("v"))))
      case _ => c
    }
}
