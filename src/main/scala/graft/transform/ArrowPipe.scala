package graft.transform

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}

import org.apache.spark.sql.types._

/** Arrow IPC codec and frame helpers for the out-of-process Python
  * transform ([[ProcessScriptTransform]]). Every message between the
  * engine and its worker is one frame ([[writeFrame]]/[[readFrame]]):
  * 'J' frames carry JSON (init, negotiation, JSON record batches,
  * channel messages, metrics) and 'A' frames carry one Arrow IPC record
  * batch. Arrow batches skip the per-record json encode/parse on both
  * sides, the dominant tax of a trivial transform over codec-heavy
  * records at corpus scale. Uses the Arrow Java runtime Spark already
  * ships (its own pandas-UDF wire) and pyarrow in the worker;
  * availability is NEGOTIATED at worker init and JSON batches remain
  * the fallback, so semantics never depend on pyarrow being installed.
  *
  * Scope: FLAT schemas of scalar wire types (bool/int8..64/float32-64/
  * string/binary/timestamp[µs, tz or ntz]/date). Nested or union-marked
  * schemas keep JSON batches — the hot 100 TB path is flat records, and
  * the fallback is exercised by the same dual-path specs. Each 'A'
  * payload is a self-contained IPC stream (schema + one batch): a few
  * hundred bytes of header per `ProcessScriptTransform.ArrowBatchSize`
  * (4096) record frame buys stateless framing on both sides.
  */
private[graft] object ArrowPipe {

  /** Wire kind tag for a supported scalar type (shared vocabulary with
    * the worker's pyarrow schema builder); None = not arrow-eligible. */
  def kind(dt: DataType): Option[String] = dt match {
    case BooleanType => Some("bool")
    case ByteType => Some("i8")
    case ShortType => Some("i16")
    case IntegerType => Some("i32")
    case LongType => Some("i64")
    case FloatType => Some("f32")
    case DoubleType => Some("f64")
    case StringType => Some("str")
    case BinaryType => Some("bin")
    case TimestampType => Some("ts")
    case TimestampNTZType => Some("ntz")
    case DateType => Some("date")
    case _ => None
  }

  def supported(schema: StructType): Boolean =
    schema.fields.forall(f =>
      !SchemaCodec.isUnionField(f) && kind(f.dataType).isDefined)

  private def arrowType(dt: DataType): ArrowType = dt match {
    case BooleanType => ArrowType.Bool.INSTANCE
    case ByteType => new ArrowType.Int(8, true)
    case ShortType => new ArrowType.Int(16, true)
    case IntegerType => new ArrowType.Int(32, true)
    case LongType => new ArrowType.Int(64, true)
    case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case StringType => ArrowType.Utf8.INSTANCE
    case BinaryType => ArrowType.Binary.INSTANCE
    case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
    case TimestampNTZType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)
    case DateType => new ArrowType.Date(DateUnit.DAY)
    case other => throw new IllegalArgumentException(s"not arrow-eligible: $other")
  }

  def schemaFor(st: StructType): Schema =
    new Schema(st.fields.map(f =>
      new Field(f.name, FieldType.nullable(arrowType(f.dataType)), null))
      .toList.asJava)

  private def tsMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      // floorDiv, not /: pre-epoch getTime is negative and truncation
      // toward zero would shift the value by a whole second
      math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L) +
        t.getNanos / 1000L
    case i: Instant =>
      math.addExact(math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L)
    case other => throw new IllegalArgumentException(
      s"timestamp value of ${other.getClass}")
  }

  private def ntzMicros(v: Any): Long = v match {
    case l: LocalDateTime =>
      math.addExact(math.multiplyExact(l.toEpochSecond(ZoneOffset.UTC),
        1000000L), l.getNano / 1000L)
    case other => tsMicros(other)
  }

  private def dateDays(v: Any): Int = v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case d: LocalDate => d.toEpochDay.toInt
    case other => throw new IllegalArgumentException(
      s"date value of ${other.getClass}")
  }

  /** Fill `root` (allocated for `schema`) from external Rows by ordinal
    * and write ONE self-contained IPC stream (schema + the batch). No
    * per-record Map materialization: the error channel converts a Row to
    * a map only when a record actually fails. */
  def writeBatchRows(records: java.util.List[org.apache.spark.sql.Row],
                     schema: StructType, root: VectorSchemaRoot): Array[Byte] = {
    val n = records.size()
    root.allocateNew()
    var f = 0
    while (f < schema.length) {
      val vec = root.getVector(f)
      var i = 0
      while (i < n) {
        val v = records.get(i).get(f)
        if (v == null) vec.setNull(i)
        else vec match {
          case x: BitVector => x.setSafe(i, if (v.asInstanceOf[Boolean]) 1 else 0)
          case x: TinyIntVector => x.setSafe(i, v.asInstanceOf[Number].byteValue())
          case x: SmallIntVector => x.setSafe(i, v.asInstanceOf[Number].shortValue())
          case x: IntVector => x.setSafe(i, v.asInstanceOf[Number].intValue())
          case x: BigIntVector => x.setSafe(i, v.asInstanceOf[Number].longValue())
          case x: Float4Vector => x.setSafe(i, v.asInstanceOf[Number].floatValue())
          case x: Float8Vector => x.setSafe(i, v.asInstanceOf[Number].doubleValue())
          case x: VarCharVector =>
            x.setSafe(i, v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
          case x: VarBinaryVector => x.setSafe(i, v.asInstanceOf[Array[Byte]])
          case x: TimeStampMicroTZVector => x.setSafe(i, tsMicros(v))
          case x: TimeStampMicroVector => x.setSafe(i, ntzMicros(v))
          case x: DateDayVector => x.setSafe(i, dateDays(v))
          case other => throw new IllegalStateException(
            s"unexpected vector ${other.getClass}")
        }
        i += 1
      }
      f += 1
    }
    root.setRowCount(n)
    val bos = new java.io.ByteArrayOutputStream()
    val w = new ArrowStreamWriter(root, null, bos)
    w.start(); w.writeBatch(); w.end()
    bos.toByteArray
  }

  /** Decode a worker IPC-stream payload into per-row value arrays in
    * `outSchema`'s field order (external Spark row types). The worker
    * builds its batch from the out_arrow descriptor, so field order is
    * positional by construction. */
  def readBatch(payload: Array[Byte], outSchema: StructType,
                allocator: BufferAllocator): java.util.ArrayList[Array[Any]] = {
    val out = new java.util.ArrayList[Array[Any]]()
    val r = new ArrowStreamReader(new ByteArrayInputStream(payload), allocator)
    try {
      while (r.loadNextBatch()) {
        val root = r.getVectorSchemaRoot
        val n = root.getRowCount
        var i = 0
        while (i < n) {
          val values = new Array[Any](outSchema.length)
          var f = 0
          while (f < outSchema.length) {
            val vec = root.getVector(f)
            values(f) =
              if (vec.isNull(i)) null
              else vec match {
                case x: BitVector => x.get(i) == 1
                case x: TinyIntVector => x.get(i)
                case x: SmallIntVector => x.get(i)
                case x: IntVector => x.get(i)
                case x: BigIntVector => x.get(i)
                case x: Float4Vector => x.get(i)
                case x: Float8Vector => x.get(i)
                case x: VarCharVector =>
                  new String(x.get(i), StandardCharsets.UTF_8)
                case x: VarBinaryVector => x.get(i)
                case x: TimeStampMicroTZVector =>
                  val m = x.get(i)
                  java.sql.Timestamp.from(Instant.ofEpochSecond(
                    Math.floorDiv(m, 1000000L),
                    Math.floorMod(m, 1000000L) * 1000L))
                case x: TimeStampMicroVector =>
                  val m = x.get(i)
                  LocalDateTime.ofEpochSecond(Math.floorDiv(m, 1000000L),
                    (Math.floorMod(m, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
                case x: DateDayVector =>
                  java.sql.Date.valueOf(LocalDate.ofEpochDay(x.get(i).toLong))
                case other => throw new IllegalStateException(
                  s"unexpected vector ${other.getClass}")
              }
            f += 1
          }
          out.add(values)
          i += 1
        }
      }
    } finally r.close()
    out
  }

  /** One frame, both directions and every message: 1 kind byte ('J'
    * json / 'A' arrow ipc) + 4-byte big-endian length + payload. */
  def writeFrame(out: java.io.OutputStream, kind: Byte,
                 payload: Array[Byte]): Unit = {
    out.write(kind)
    out.write(Array[Byte](
      (payload.length >>> 24).toByte, (payload.length >>> 16).toByte,
      (payload.length >>> 8).toByte, payload.length.toByte))
    out.write(payload)
  }

  /** Read one frame; null at clean EOF. Throws on a truncated frame. */
  def readFrame(in: java.io.InputStream): (Byte, Array[Byte]) = {
    val head = in.readNBytes(5)
    if (head.length == 0) return null
    if (head.length < 5)
      throw new java.io.EOFException("truncated frame header")
    val n = ((head(1) & 0xff) << 24) | ((head(2) & 0xff) << 16) |
      ((head(3) & 0xff) << 8) | (head(4) & 0xff)
    val payload = in.readNBytes(n)
    if (payload.length < n)
      throw new java.io.EOFException("truncated frame payload")
    (head(0), payload)
  }
}
