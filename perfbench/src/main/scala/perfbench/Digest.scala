package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Order-independent content digest of a relation: row count plus the
  * wrapping sum of a 64-bit hash of every row. Equal multisets of rows give
  * equal digests under any partitioning or row order, and digests of
  * disjoint parts add up to the digest of their union. */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def parse(s: String): Digest = {
    val Array(r, h) = s.split(":")
    Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Execute `df` and digest its output. The plan executed is `df`'s own
    * (nothing is added on top that the optimizer could fold into it, as an
    * aggregate over a sort would be), under a SQL execution id, so the
    * query shows on the listener buses exactly as a `collect` would. The
    * hashing runs in the tasks: nothing but two longs per partition
    * reaches the driver. */
  def of(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var h = 0L
        val sb = new java.lang.StringBuilder
        it.foreach { r =>
          sb.setLength(0)
          appendRow(sb, r, schema)
          n += 1
          h += hash64(sb)
        }
        Iterator((n, h))
      }.collect()
    }
    parts.foldLeft(empty) { case (d, (n, h)) => d + Digest(n, h) }
  }

  /** Digests of `df`'s rows grouped by the integer column `key` (which is
    * left out of the hashed row), in one pass. */
  def grouped(df: DataFrame, key: String): Map[Int, Digest] = {
    val rest = df.columns.filter(_ != key)
    val keyed = df.select((key +: rest).toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
    val schema = StructType(keyed.schema.fields.drop(1))
    val qe = keyed.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[Int, Digest]
        val sb = new java.lang.StringBuilder
        it.foreach { r =>
          sb.setLength(0)
          appendRow(sb, r, schema, 1)
          val k = r.getInt(0)
          acc(k) = acc.getOrElse(k, empty) + Digest(1L, hash64(sb))
        }
        acc.iterator
      }.collect()
    }.groupBy(_._1).map { case (k, ds) => k -> ds.map(_._2).reduce(_ + _) }
  }

  private def hash64(s: CharSequence): Long = {
    val str = s.toString
    val hi = scala.util.hashing.MurmurHash3.stringHash(str, 0x5bd1e995)
    val lo = scala.util.hashing.MurmurHash3.stringHash(str, 0x1b873593)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** Append the fields of `r` from position `from` on, typed by `schema`
    * (whose field i describes row position i + from). */
  private def appendRow(sb: java.lang.StringBuilder, r: InternalRow,
      schema: StructType, from: Int = 0): Unit = {
    var i = 0
    while (i < schema.length) {
      val t = schema(i).dataType
      sb.append('\u0001')
      appendValue(sb, if (r.isNullAt(i + from)) null else r.get(i + from, t), t)
      i += 1
    }
  }

  private def appendValue(sb: java.lang.StringBuilder, v: Any, t: DataType): Unit =
    (v, t) match {
      case (null, _) => sb.append('\u0000')
      case (a: ArrayData, ArrayType(et, _)) =>
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          appendValue(sb, if (a.isNullAt(i)) null else a.get(i, et), et)
          sb.append(',')
          i += 1
        }
        sb.append(']')
      case (m: MapData, MapType(kt, vt, _)) =>
        // map entry order is not part of the value
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          appendValue(e, m.keyArray().get(i, kt), kt)
          e.append('=')
          appendValue(e, if (m.valueArray().isNullAt(i)) null
            else m.valueArray().get(i, vt), vt)
          e.toString
        }.sorted
        sb.append('{').append(entries.mkString(",")).append('}')
      case (r: InternalRow, s: StructType) =>
        sb.append('(')
        appendRow(sb, r, s)
        sb.append(')')
      case (b: Array[Byte], BinaryType) =>
        b.foreach(x => sb.append(f"${x & 0xff}%02x"))
      case (x, _) => sb.append(x.toString)
    }
}
