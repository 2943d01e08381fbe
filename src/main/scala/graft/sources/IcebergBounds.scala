package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.types._

/** The Iceberg spec's SINGLE-VALUE SERIALIZATION for per-file column
  * bounds (`lower_bounds`/`upper_bounds`, manifest field-ids 125/128):
  * little-endian fixed-width for numerics, 4-byte LE epoch days for
  * dates, raw UTF-8 for strings, one 0/1 byte for booleans. Shared by
  * the manifest writer ([[IcebergExport]] — values lifted from
  * parquet footer statistics) and the `graft-iceberg` scan's file
  * pruning ([[graft.sources.dsv2.IcebergDsv2.statsView]]).
  */
private[sources] object IcebergBounds {

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  /** Parquet footer statistic → spec bytes, or None for types this
    * writer does not bound (binary, >32-char strings — an upper-bound
    * truncation must round UP to stay sound; omitting just makes the
    * file unprunable on that column, never wrong).
    */
  def encodeStat(
      t: org.apache.parquet.schema.PrimitiveType, v: AnyRef): Option[Array[Byte]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case INT32 =>
        Some(le(4).putInt(v.asInstanceOf[Number].intValue()).array())
      case INT64 =>
        Some(le(8).putLong(v.asInstanceOf[Number].longValue()).array())
      case FLOAT =>
        val f = v.asInstanceOf[Number].floatValue()
        if (f.isNaN || f.isInfinite) None
        else Some(le(4).putFloat(f).array())
      case DOUBLE =>
        val d = v.asInstanceOf[Number].doubleValue()
        if (d.isNaN || d.isInfinite) None
        else Some(le(8).putDouble(d).array())
      case BOOLEAN =>
        Some(Array[Byte](
          if (v.asInstanceOf[java.lang.Boolean]) 1.toByte else 0.toByte))
      case BINARY if t.getLogicalTypeAnnotation
        .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        val bytes = v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
        val s = new String(bytes, StandardCharsets.UTF_8)
        if (s.length <= 32) Some(bytes) else None
      case _ => None
    }
  }

  /** Spec bytes → a comparable value for the declared Iceberg/Spark
    * type (dates come back as LocalDate, strings as String, numerics
    * as BigDecimal so the comparison domain is uniform).
    */
  def decode(dt: DataType, bytes: Array[Byte]): Option[Any] = dt match {
    case IntegerType | ShortType | ByteType if bytes.length == 4 =>
      Some(BigDecimal(
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt))
    case LongType if bytes.length == 8 =>
      Some(BigDecimal(
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong))
    case FloatType if bytes.length == 4 =>
      Some(BigDecimal(ByteBuffer.wrap(bytes)
        .order(ByteOrder.LITTLE_ENDIAN).getFloat.toDouble))
    case DoubleType if bytes.length == 8 =>
      Some(BigDecimal(
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getDouble))
    case DateType if bytes.length == 4 =>
      Some(java.time.LocalDate.ofEpochDay(
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong))
    case BooleanType if bytes.length == 1 => Some(bytes(0) != 0)
    case StringType => Some(new String(bytes, StandardCharsets.UTF_8))
    case _ => None
  }
}
