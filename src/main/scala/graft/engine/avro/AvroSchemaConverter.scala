package graft.engine.avro

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/**
 * Avro Schema → Spark StructType and GenericRecord → Row conversion.
 *
 * The reference's capability (Avro IDL/avsc as the schema language driving
 * Parquet storage) rebuilt on plain avro-core: the distro ships no
 * spark-avro jar (SURVEY §7.0), and none is needed — schema conversion is
 * ~100 lines of library code with no Catalyst hooks.
 *
 * Supported surface mirrors what the reference's record shapes exercise:
 * primitives, union-with-null nullability, nested records, arrays, maps,
 * enums (→ string), fixed/bytes (→ binary).
 */
object AvroSchemaConverter {

  /** Top-level record schema → StructType. */
  def toStructType(schema: Schema): StructType = {
    require(schema.getType == Schema.Type.RECORD,
      s"top-level Avro schema must be a record, got ${schema.getType}")
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (dt, nullable) = toSqlType(f.schema())
      StructField(f.name(), dt, nullable)
    })
  }

  /** Any Avro schema → (Spark DataType, nullable). `union {null, T}` is the
    * Avro idiom for nullability; other unions are unsupported (the reference
    * never uses them). Avro logical types map to their Spark equivalents. */
  def toSqlType(schema: Schema): (DataType, Boolean) = schema.getType match {
    case _ if schema.getLogicalType != null =>
      (logicalTypeFor(schema), false)
    case Schema.Type.STRING | Schema.Type.ENUM => (StringType, false)
    case Schema.Type.INT     => (IntegerType, false)
    case Schema.Type.LONG    => (LongType, false)
    case Schema.Type.FLOAT   => (FloatType, false)
    case Schema.Type.DOUBLE  => (DoubleType, false)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.BYTES | Schema.Type.FIXED => (BinaryType, false)
    case Schema.Type.RECORD  => (toStructType(schema), false)
    case Schema.Type.ARRAY =>
      val (et, en) = toSqlType(schema.getElementType)
      (ArrayType(et, containsNull = en), false)
    case Schema.Type.MAP =>
      val (vt, vn) = toSqlType(schema.getValueType)
      (MapType(StringType, vt, valueContainsNull = vn), false)
    case Schema.Type.UNION =>
      val branches = schema.getTypes.asScala.toSeq
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1 && branches.size == 2,
        s"only union {null, T} is supported, got $schema")
      val (dt, _) = toSqlType(nonNull.head)
      (dt, true)
    case other => throw new IllegalArgumentException(s"unsupported Avro type: $other")
  }

  /** Avro logical types → Spark types (the standard parquet-avro mapping). */
  private def logicalTypeFor(schema: Schema): DataType = {
    import org.apache.avro.LogicalTypes
    schema.getLogicalType match {
      case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
      case _: LogicalTypes.Date => DateType
      case _: LogicalTypes.TimestampMillis | _: LogicalTypes.TimestampMicros => TimestampType
      case _: LogicalTypes.LocalTimestampMillis | _: LogicalTypes.LocalTimestampMicros =>
        TimestampNTZType
      case u if u.getName == "uuid" => StringType
      case other => throw new IllegalArgumentException(
        s"unsupported Avro logical type: $other")
    }
  }

  /** GenericRecord → Row following the record's own schema. */
  def toRow(rec: GenericRecord): Row = {
    val fields = rec.getSchema.getFields.asScala.toSeq
    Row.fromSeq(fields.map(f => convertValue(rec.get(f.name()), f.schema())))
  }

  /** GenericRecord → Row restricted to `fieldNames` (projection pushdown:
    * unused fields are never converted). */
  def toRowProjected(rec: GenericRecord, fieldNames: Seq[String]): Row = {
    val sch = rec.getSchema
    Row.fromSeq(fieldNames.map { n =>
      val f = sch.getField(n)
      require(f != null, s"field $n missing from record schema ${sch.getName}")
      convertValue(rec.get(f.pos()), f.schema())
    })
  }

  private def convertValue(v: Any, schema: Schema): Any = {
    if (v == null) return null
    if (schema.getLogicalType != null) return convertLogical(v, schema)
    schema.getType match {
      case Schema.Type.UNION =>
        val nonNull = schema.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
        convertValue(v, nonNull)
      case Schema.Type.STRING | Schema.Type.ENUM => v.toString
      case Schema.Type.BYTES =>
        val bb = v.asInstanceOf[java.nio.ByteBuffer]
        val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
      case Schema.Type.FIXED =>
        v.asInstanceOf[org.apache.avro.generic.GenericFixed].bytes().clone()
      case Schema.Type.RECORD => toRow(v.asInstanceOf[GenericRecord])
      case Schema.Type.ARRAY =>
        v.asInstanceOf[java.util.Collection[Any]].asScala.toSeq
          .map(convertValue(_, schema.getElementType))
      case Schema.Type.MAP =>
        v.asInstanceOf[java.util.Map[Any, Any]].asScala.map {
          case (k, value) => k.toString -> convertValue(value, schema.getValueType)
        }.toMap
      case _ => v // int/long/float/double/boolean pass through
    }
  }

  private def convertLogical(v: Any, schema: Schema): Any = {
    import org.apache.avro.LogicalTypes
    schema.getLogicalType match {
      case d: LogicalTypes.Decimal =>
        val unscaled = v match {
          case bb: java.nio.ByteBuffer =>
            val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
          case f: org.apache.avro.generic.GenericFixed => f.bytes()
        }
        new java.math.BigDecimal(new java.math.BigInteger(unscaled), d.getScale)
      case _: LogicalTypes.Date =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case _: LogicalTypes.TimestampMillis =>
        new java.sql.Timestamp(v.asInstanceOf[Long])
      case _: LogicalTypes.TimestampMicros =>
        val us = v.asInstanceOf[Long]
        val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        t
      case _: LogicalTypes.LocalTimestampMillis =>
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(v.asInstanceOf[Long], 1000L),
          (Math.floorMod(v.asInstanceOf[Long], 1000L) * 1000000L).toInt,
          java.time.ZoneOffset.UTC)
      case _: LogicalTypes.LocalTimestampMicros =>
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(v.asInstanceOf[Long], 1000000L),
          (Math.floorMod(v.asInstanceOf[Long], 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case u if u.getName == "uuid" => v.toString
      case other => throw new IllegalArgumentException(
        s"unsupported Avro logical type: $other")
    }
  }

  // --------------------------------------------------------------------
  // Row → GenericRecord (the write-back converse of toRow): completes the
  // round trip Schema → StructType → Row → GenericRecord, used by the Avro
  // container writer. toGenericRecord(toRow(r), r.getSchema) ≡ r is
  // property-tested on the q02 fixture schema.
  // --------------------------------------------------------------------

  /** Row (laid out per `schema`'s field order) → GenericRecord. */
  def toGenericRecord(row: Row, schema: Schema): GenericRecord = {
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    schema.getFields.asScala.zipWithIndex.foreach { case (f, i) =>
      rec.put(i, toAvroValue(row.get(i), f.schema()))
    }
    rec
  }

  private def toAvroValue(v: Any, schema: Schema): Any = {
    if (v == null) return null
    if (schema.getLogicalType != null) return toAvroLogical(v, schema)
    schema.getType match {
      case Schema.Type.UNION =>
        val nonNull = schema.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
        toAvroValue(v, nonNull)
      case Schema.Type.STRING => v.toString
      case Schema.Type.ENUM =>
        new org.apache.avro.generic.GenericData.EnumSymbol(schema, v.toString)
      case Schema.Type.BYTES =>
        java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case Schema.Type.FIXED =>
        new org.apache.avro.generic.GenericData.Fixed(schema, v.asInstanceOf[Array[Byte]])
      case Schema.Type.RECORD => toGenericRecord(v.asInstanceOf[Row], schema)
      case Schema.Type.ARRAY =>
        // Rows deserialized on executors hold mutable.ArraySeq — accept any
        // collection.Seq, not just immutable.Seq
        val xs = v.asInstanceOf[scala.collection.Seq[Any]].toSeq
          .map(toAvroValue(_, schema.getElementType))
        new org.apache.avro.generic.GenericData.Array[Any](schema, xs.asJava)
      case Schema.Type.MAP =>
        v.asInstanceOf[scala.collection.Map[String, Any]].map {
          case (k, value) => k -> toAvroValue(value, schema.getValueType)
        }.toMap.asJava
      case _ => v // int/long/float/double/boolean pass through
    }
  }

  private def toAvroLogical(v: Any, schema: Schema): Any = {
    import org.apache.avro.LogicalTypes
    schema.getLogicalType match {
      case d: LogicalTypes.Decimal =>
        val bd = v.asInstanceOf[java.math.BigDecimal].setScale(d.getScale)
        val bytes = bd.unscaledValue().toByteArray
        if (schema.getType == Schema.Type.FIXED)
          new org.apache.avro.generic.GenericData.Fixed(schema,
            // left-pad with the sign byte to the fixed size
            Array.fill[Byte](schema.getFixedSize - bytes.length)(
              if (bd.signum() < 0) -1 else 0) ++ bytes)
        else java.nio.ByteBuffer.wrap(bytes)
      case _: LogicalTypes.Date =>
        v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt
      case _: LogicalTypes.TimestampMillis =>
        v.asInstanceOf[java.sql.Timestamp].getTime
      case _: LogicalTypes.TimestampMicros =>
        val t = v.asInstanceOf[java.sql.Timestamp]
        Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L) +
          t.getNanos / 1000L
      case _: LogicalTypes.LocalTimestampMillis =>
        val dt = v.asInstanceOf[java.time.LocalDateTime]
        dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000L + dt.getNano / 1000000L
      case _: LogicalTypes.LocalTimestampMicros =>
        val dt = v.asInstanceOf[java.time.LocalDateTime]
        dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + dt.getNano / 1000L
      case u if u.getName == "uuid" => v.toString
      case other => throw new IllegalArgumentException(
        s"unsupported Avro logical type: $other")
    }
  }
}
