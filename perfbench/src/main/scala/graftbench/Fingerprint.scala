package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A result's row count plus an order-insensitive hash.
  *
  * Each row is hashed with `xxhash64` after normalizing its values:
  * doubles and floats become 7-significant-digit text (so a sum that
  * merely ran in another order still matches), `-0.0` becomes `0.0`,
  * and maps become key-sorted entry arrays. The row hashes are summed
  * as a DECIMAL(38,0), which cannot overflow and ignores row order.
  * The whole computation is one Spark action, run outside every timed
  * region. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _)        => needsNorm(e)
    case StructType(fs)         => fs.exists(f => needsNorm(f.dataType))
    case _: MapType             => true
    case _                      => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.6e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(e, _) if needsNorm(e) => transform(c, x => norm(x, e))
    case StructType(fs) if needsNorm(t) =>
      struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      val entry = StructType(Seq(StructField("key", k), StructField("value", v)))
      array_sort(norm(map_entries(c), ArrayType(entry)))
    case _ => c
  }

  def of(df: DataFrame): Fingerprint = {
    // positional names: a result may carry duplicate column names
    val fields = df.schema.fields.toIndexedSeq
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) => norm(col(s"c$i"), f.dataType) }
    // xxhash64 needs at least one column; a zero-column result hashes
    // to the constant 0 and is told apart by its row count only
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(rowHash.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}
