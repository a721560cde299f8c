package graft.pipeline

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.TransactionAvro.{DefaultResolver, SchemaResolver}
import graft.pipeline.TransactionPipeline.{ApprovedTransaction, Transaction}

/** Confluent-framed Avro `binary` → Transaction struct, the Spark side of
  * [[TransactionAvro.decodeTransaction]] (which stays the scalar reference
  * it is tested against). Strict mode fails the task on a bad frame;
  * permissive mode returns `struct<t, error>` with exactly one side set,
  * so a poison frame becomes one dead-letter row. Schema evolution is the
  * `resolver`: the frame's id names the writer schema, the `.avsc` is the
  * reader.
  *
  * Nondeterministic only to be an optimizer barrier: a deterministic
  * decode is inlined by CollapseProject into every consumer of `t.*`, so
  * the pushed-down `status` filter and the projection would each decode
  * the frame again.
  */
case class DecodeTransaction(child: Expression, permissive: Boolean,
    resolver: SchemaResolver = DefaultResolver)
    extends UnaryExpression with Nondeterministic {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expects binary, got ${child.dataType.simpleString}")
  override def dataType: DataType =
    if (permissive) AvroExpressions.PermissiveType else AvroExpressions.TransactionType
  override def nullable: Boolean = false
  override def prettyName: String =
    if (permissive) "decode_transaction_safe" else "decode_transaction"
  // the resolver's schemas would swamp every plan string
  override def stringArgs: Iterator[Any] = Iterator(child)

  @transient private var decoder: TransactionDecoder = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    decoder = new TransactionDecoder(resolver)

  override protected def evalInternal(input: InternalRow): Any =
    decode(child.eval(input).asInstanceOf[Array[Byte]])

  def decode(frame: Array[Byte]): InternalRow =
    if (!permissive) decoder.decode(frame)
    else try InternalRow(decoder.decode(frame), null)
    catch { case NonFatal(e) =>
      InternalRow(null, UTF8String.fromString(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("decodeTransaction", this)
    ctx.addPartitionInitializationStatement(s"$self.initialize(partitionIndex);")
    val in = child.genCode(ctx)
    ev.copy(code = code"""
      |${in.code}
      |InternalRow ${ev.value} = $self.decode(${in.isNull} ? null : ${in.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DecodeTransaction =
    copy(child = newChild)
}

/** `encode_approved(struct, schemaId)`: an ApprovedTransaction-shaped
  * struct (fields matched by name) → Confluent-framed Avro bytes, byte for
  * byte what [[TransactionAvro.encodeApproved]] writes.
  */
case class EncodeApproved(struct: Expression, schemaId: Expression) extends BinaryExpression {

  override def left: Expression = struct
  override def right: Expression = schemaId
  override def dataType: DataType = BinaryType
  override def prettyName: String = "encode_approved"

  override def checkInputDataTypes(): TypeCheckResult = (struct.dataType, schemaId.dataType) match {
    case (st: StructType, IntegerType)
        if AvroExpressions.ApprovedType.forall(f => st.exists(g => g.name == f.name && g.dataType == f.dataType)) =>
      TypeCheckResult.TypeCheckSuccess
    case (st, id) => TypeCheckResult.TypeCheckFailure(
      s"expects (${AvroExpressions.ApprovedType.simpleString}, int), got (${st.simpleString}, ${id.simpleString})")
  }

  @transient private lazy val encoder = new ApprovedEncoder(
    AvroExpressions.ApprovedType.fieldNames.map(struct.dataType.asInstanceOf[StructType].fieldIndex))

  override protected def nullSafeEval(row: Any, id: Any): Any =
    encode(row.asInstanceOf[InternalRow], id.asInstanceOf[Int])

  def encode(row: InternalRow, id: Int): Array[Byte] = encoder.encode(row, id)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("encodeApproved", this)
    defineCodeGen(ctx, ev, (row, id) => s"$self.encode($row, $id)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EncodeApproved =
    copy(struct = newLeft, schemaId = newRight)
}

object AvroExpressions {

  /** Catalyst types of the two records: exactly the case-class encoders'. */
  val TransactionType: StructType = Encoders.product[Transaction].schema
  val ApprovedType: StructType = Encoders.product[ApprovedTransaction].schema
  val PermissiveType: StructType = new StructType()
    .add("t", TransactionType).add("error", StringType)

  /** SQL-surface names: `decode_transaction(binary)`,
    * `decode_transaction_safe(binary)` and `encode_approved(struct, int)`.
    * Native expressions rather than UDFs, so the codec keeps its reader,
    * writer and buffers per partition and writes Catalyst values directly
    * instead of going through case-class encoders. The two decode names
    * are nondeterministic on purpose, as an optimizer barrier (see
    * [[DecodeTransaction]]), so Spark accepts them only in projections,
    * filters, aggregates and windows, not in join conditions.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("decode_transaction",
      e => DecodeTransaction(e.head, permissive = false), "built-in")
    reg.createOrReplaceTempFunction("decode_transaction_safe",
      e => DecodeTransaction(e.head, permissive = true), "built-in")
    reg.createOrReplaceTempFunction("encode_approved",
      e => EncodeApproved(e(0), e(1)), "built-in")
  }
}

/** One partition's decode state: a resolving reader per frame schema id,
  * one BinaryDecoder reading the body in place, one reused record.
  */
private final class TransactionDecoder(resolver: SchemaResolver) {
  import AvroExpressions.TransactionType

  private val readers = mutable.HashMap.empty[Int, GenericDatumReader[GenericRecord]]
  private var in: BinaryDecoder = _
  private var record: GenericRecord = _
  private val positions =
    TransactionType.fieldNames.map(TransactionAvro.transactionSchema.getField(_).pos)
  private val converters: Array[AnyRef => Any] = TransactionType.fields.map(_.dataType match {
    case StringType => utf8String _
    case TimestampType => (v: AnyRef) => v.asInstanceOf[java.lang.Long] * 1000L
    case _: MapType => (v: AnyRef) => {
      val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
      val keys = new Array[Any](m.size)
      val values = new Array[Any](m.size)
      var i = 0
      m.forEach { (k, x) => keys(i) = utf8String(k); values(i) = utf8String(x); i += 1 }
      ArrayBasedMapData(keys, values)
    }
    case _ => (v: AnyRef) => v
  })

  private def utf8String(v: AnyRef): UTF8String = v match {
    // Avro's classic reader (fast reading off) refills the reused record's
    // Utf8 in place on the next frame; a row must not alias it
    case u: Utf8 => UTF8String.fromBytes(java.util.Arrays.copyOf(u.getBytes, u.getByteLength))
    case s => UTF8String.fromString(s.toString)
  }

  def decode(frame: Array[Byte]): InternalRow = {
    val id = TransactionAvro.schemaIdOf(frame)
    val reader = readers.getOrElseUpdate(id, new GenericDatumReader[GenericRecord](
      resolver.writerSchema(id), TransactionAvro.transactionSchema))
    in = DecoderFactory.get().binaryDecoder(frame, 5, frame.length - 5, in)
    record = reader.read(record, in)
    val values = new Array[Any](positions.length)
    var i = 0
    while (i < values.length) {
      val v = record.get(positions(i))
      values(i) = if (v == null) null else converters(i)(v)
      i += 1
    }
    new GenericInternalRow(values)
  }
}

/** One partition's encode state: one writer, record, output buffer and
  * BinaryEncoder, reused for every row.
  */
private final class ApprovedEncoder(ordinals: Array[Int]) {
  import AvroExpressions.ApprovedType

  private val schema = TransactionAvro.approvedSchema
  private val writer = new GenericDatumWriter[GenericRecord](schema)
  private val record = new GenericData.Record(schema)
  private val out = new ByteArrayOutputStream()
  private val enc = EncoderFactory.get().binaryEncoder(out, null)
  private val positions = ApprovedType.fieldNames.map(schema.getField(_).pos)
  private val getters: Array[(InternalRow, Int) => AnyRef] = ApprovedType.fields.map(_.dataType match {
    case StringType => (r: InternalRow, o: Int) => new Utf8(r.getUTF8String(o).getBytes)
    case DoubleType => (r: InternalRow, o: Int) => java.lang.Double.valueOf(r.getDouble(o))
    // floor, not truncation: equals java.sql.Timestamp.getTime before the epoch
    case TimestampType => (r: InternalRow, o: Int) => java.lang.Long.valueOf(Math.floorDiv(r.getLong(o), 1000L))
  })

  def encode(row: InternalRow, schemaId: Int): Array[Byte] = {
    var i = 0
    while (i < positions.length) {
      record.put(positions(i), if (row.isNullAt(ordinals(i))) null else getters(i)(row, ordinals(i)))
      i += 1
    }
    out.reset()
    out.writeBytes(ByteBuffer.allocate(5).put(TransactionAvro.MagicByte).putInt(schemaId).array())
    writer.write(record, enc)
    enc.flush()
    out.toByteArray
  }
}
