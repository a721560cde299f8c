package graft.pipeline

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

import graft.pipeline.TransactionPipeline.{ApprovedTransaction, Transaction}

/** Hand-rolled Avro codec for the reference's Kafka wire format (O2,
  * SURVEY.md §7.3): Confluent framing = 1 magic byte (0x00) + 4-byte
  * big-endian schema id + Avro binary body. There is no spark-avro module
  * on this classpath, so encode/decode run on avro-core directly.
  *
  * The `.avsc` files (src/main/resources/avro/, mirroring
  * /root/reference/src/main/avro/Transaction.avsc:1-53) are the single
  * source of truth: schemas are PARSED from them at class load, never
  * re-declared in code — the dual-declaration drift hazard the reference
  * itself carries (TransactionProcessor.java:93-107 re-types the same
  * fields in Table DDL next to the generated Avro class) is closed by
  * construction. AvroSchemaSpec cross-checks the parse against an
  * independently built schema.
  *
  * Frame ids resolve through a [[SchemaResolver]] — the offline stand-in
  * for the reference's registry client (TransactionProcessor.java:72-82,
  * :113): known id → writer schema, reader-schema resolution applies
  * Avro evolution rules, unknown id → loud failure (never a silent
  * mis-decode).
  *
  * The functions here build a fresh reader or writer per call and are
  * thread-safe. They are the scalar reference: the Spark path is
  * [[DecodeTransaction]] / [[EncodeApproved]], which keep one reader per
  * schema id, one writer and their buffers per partition, and are tested
  * byte for byte against these.
  */
object TransactionAvro {

  val MagicByte: Byte = 0x00

  /** Confluent schema ids for the two registered subjects. */
  val TransactionSchemaId: Int = 1
  val ApprovedSchemaId: Int = 2

  private def parseResource(path: String): Schema = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing classpath resource $path")
    try new Schema.Parser().parse(in) finally in.close()
  }

  val transactionSchema: Schema = parseResource("/avro/Transaction.avsc")
  val approvedSchema: Schema = parseResource("/avro/ApprovedTransaction.avsc")

  /** Registry surface: map a frame's schema id to the WRITER schema it
    * was encoded with. The default resolver knows the two registered
    * ids; decode against a frame from any other id fails loudly instead
    * of mis-decoding bytes against the wrong schema.
    */
  trait SchemaResolver extends Serializable { def writerSchema(id: Int): Schema }

  final case class MapSchemaResolver(byId: Map[Int, Schema])
      extends SchemaResolver {
    def writerSchema(id: Int): Schema = byId.getOrElse(id,
      throw new IllegalArgumentException(s"unknown schema id $id " +
        s"(registered: ${byId.keys.toSeq.sorted.mkString(", ")})"))
  }

  val DefaultResolver: SchemaResolver = MapSchemaResolver(Map(
    TransactionSchemaId -> transactionSchema,
    ApprovedSchemaId -> approvedSchema))

  // ---- framing ----

  def frame(schemaId: Int, body: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.allocate(5 + body.length)
    buf.put(MagicByte).putInt(schemaId).put(body)
    buf.array()
  }

  /** Check the Confluent header; returns the frame's schema id. */
  def schemaIdOf(bytes: Array[Byte]): Int = {
    require(bytes != null, "null frame (a Kafka tombstone carries no value)")
    require(bytes.length >= 5 && bytes(0) == MagicByte,
      s"not Confluent-framed (len=${bytes.length})")
    ByteBuffer.wrap(bytes, 1, 4).getInt
  }

  /** Strip the Confluent header; returns (schemaId, body). */
  def unframe(bytes: Array[Byte]): (Int, Array[Byte]) =
    (schemaIdOf(bytes), java.util.Arrays.copyOfRange(bytes, 5, bytes.length))

  // ---- generic record (de)serialization ----

  private def toBytes(rec: GenericRecord, schema: Schema): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Schema-resolution decode: reader schema may differ from the writer's
    * (dropped fields skipped, added nullable/defaulted fields filled) —
    * Avro's standard evolution rules, which the Confluent wire format
    * exists to enable (the 4-byte id identifies the writer schema; a
    * registry client would look it up, here the caller supplies it).
    */
  def fromBytesResolving(bytes: Array[Byte], writer: Schema,
      reader: Schema): GenericRecord =
    new GenericDatumReader[GenericRecord](writer, reader)
      .read(null, DecoderFactory.get().binaryDecoder(bytes, null))

  // ---- Transaction ----

  def encodeTransaction(t: Transaction,
      schemaId: Int = TransactionSchemaId): Array[Byte] = {
    val r = new GenericData.Record(transactionSchema)
    r.put("id", t.id)
    r.put("amount", t.amount)
    r.put("currency", t.currency)
    r.put("timestamp", t.timestamp.getTime)
    r.put("description", t.description.orNull)
    r.put("merchant", t.merchant)
    r.put("category", t.category.orNull)
    r.put("status", t.status)
    r.put("userId", t.userId)
    r.put("metadata", t.metadata.map(m => {
      val jm = new java.util.HashMap[String, String]()
      m.foreach { case (k, v) => jm.put(k, v) }
      jm
    }).orNull)
    frame(schemaId, toBytes(r, transactionSchema))
  }

  /** Decode a Confluent-framed Transaction: the frame's id resolves the
    * WRITER schema through the resolver (unknown id → loud failure);
    * the current [[transactionSchema]] is the reader, so registered
    * older/newer writer versions decode via Avro evolution rules.
    */
  def decodeTransaction(bytes: Array[Byte],
      resolver: SchemaResolver = DefaultResolver): Transaction = {
    val (id, body) = unframe(bytes)
    recordToTransaction(
      fromBytesResolving(body, resolver.writerSchema(id), transactionSchema))
  }

  private def recordToTransaction(r: GenericRecord): Transaction = {
    def str(f: String): String = Option(r.get(f)).map(_.toString).orNull
    Transaction(
      id = str("id"),
      amount = r.get("amount").asInstanceOf[Double],
      currency = str("currency"),
      timestamp = new java.sql.Timestamp(r.get("timestamp").asInstanceOf[Long]),
      description = Option(r.get("description")).map(_.toString),
      merchant = str("merchant"),
      category = Option(r.get("category")).map(_.toString),
      status = str("status"),
      userId = str("userId"),
      metadata = Option(r.get("metadata")).map { m =>
        import scala.jdk.CollectionConverters._
        m.asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala
          .map { case (k, v) => k.toString -> v.toString }.toMap
      })
  }

  // ---- ApprovedTransaction ----

  def encodeApproved(a: ApprovedTransaction,
      schemaId: Int = ApprovedSchemaId): Array[Byte] = {
    val r = new GenericData.Record(approvedSchema)
    r.put("id", a.id)
    r.put("amount", a.amount)
    r.put("currency", a.currency)
    r.put("timestamp", a.timestamp.getTime)
    r.put("merchant", a.merchant)
    r.put("userId", a.userId)
    r.put("amountInUsd", a.amountInUsd)
    r.put("processingTimestamp", a.processingTimestamp.getTime)
    frame(schemaId, toBytes(r, approvedSchema))
  }

  def decodeApproved(bytes: Array[Byte],
      resolver: SchemaResolver = DefaultResolver): ApprovedTransaction = {
    val (id, body) = unframe(bytes)
    val r = fromBytesResolving(body, resolver.writerSchema(id), approvedSchema)
    ApprovedTransaction(
      id = r.get("id").toString,
      amount = r.get("amount").asInstanceOf[Double],
      currency = r.get("currency").toString,
      timestamp = new java.sql.Timestamp(r.get("timestamp").asInstanceOf[Long]),
      merchant = r.get("merchant").toString,
      userId = r.get("userId").toString,
      amountInUsd = r.get("amountInUsd").asInstanceOf[Double],
      processingTimestamp =
        new java.sql.Timestamp(r.get("processingTimestamp").asInstanceOf[Long]))
  }
}
