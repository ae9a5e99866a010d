package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, shiftrightunsigned, sum, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Order-independent digest over every output column of a frame.
  *
  * Each row hashes to a 64-bit `xxhash64`; the digest is the row count
  * plus the sums of the hashes' low and high 32-bit halves. Summing
  * halves keeps every term below 2^32, so the sums cannot overflow a
  * long (which ANSI mode would raise as an error) for fewer than 2^31
  * rows, while staying sensitive to duplicates, unlike an XOR fold.
  * Digests add: the digest of a union is the sum of the digests.
  */
object Digest {

  final case class Value(rows: Long, lo: Long, hi: Long) {
    def +(o: Value): Value = Value(rows + o.rows, lo + o.lo, hi + o.hi)
    override def toString: String = s"$rows:$lo:$hi"
  }

  val Zero: Value = Value(0L, 0L, 0L)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The three digest components as aggregate columns over the named
    * `fields`, which must be unique column names of the aggregated frame. */
  def parts(fields: Seq[StructField]): Seq[Column] = {
    val cols = fields.map { f =>
      val c = col(s"`${f.name}`")
      // xxhash64 rejects map types; their string form is deterministic
      if (hasMap(f.dataType)) c.cast("string") else c
    }
    val h = xxhash64(cols: _*)
    Seq(
      count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  /** The digest query over `df`, not yet run. */
  def frame(df: DataFrame): DataFrame = {
    // positional names: query outputs may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"_d$i"): _*)
    val ps = parts(named.schema.fields.toSeq)
    named.agg(ps.head, ps.tail: _*)
  }

  def collect(digestFrame: DataFrame): Value = {
    val r = digestFrame.collect().head
    Value(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def of(df: DataFrame): Value = collect(frame(df))
}
