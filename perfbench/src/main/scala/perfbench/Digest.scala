package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query result, under the canonical form
  * `tools/check_oracle.py` compares in: columns sorted by name, floating
  * values rounded to 9 decimal places (-0.0 folded into 0.0). The digest is
  * the row count plus the sum of per-row 64-bit hashes (as an exact
  * decimal, so it never overflows), prefixed by the sorted column names.
  * Two results with the same multiset of canonical rows digest equally,
  * whatever their row order or partitioning.
  */
object Digest {

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 9)
      when(r === 0.0, lit(0.0)).otherwise(r)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      struct(fs.sortBy(_.name).map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    // hashing refuses maps; their sorted entry array is the same value
    case MapType(_, vt, _) => array_sort(map_entries(transform_values(c, (_, v) => canon(v, vt))))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.sortBy(_.name)
    val names = fields.map(_.name).mkString(",")
    if (fields.isEmpty) return s"$names|${df.count()}|0"
    val h = xxhash64(fields.map(f => canon(col(s"`${f.name}`"), f.dataType)).toSeq: _*)
    val row = df.agg(count(lit(1)), coalesce(sum(h.cast(DecimalType(38, 0))), lit(0)))
      .head()
    s"$names|${row.getLong(0)}|${row.get(1)}"
  }
}
