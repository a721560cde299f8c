package graft

import graft.pipeline.{AvroExpressions, DecodeTransaction, TransactionAvro, TransactionPipeline}
import graft.pipeline.TransactionPipeline.{ApprovedTransaction, Transaction}
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.{call_function, col, lit, struct}
import org.apache.spark.sql.types.BinaryType

/** Reference-pipeline replay (SURVEY.md §2.3 Q29): the canonical 5-row
  * fixture (FIXTURES.md §A.3, from BaseTransactionTest.java:145-156) must
  * produce 4 rows with amountInUsd = 100.0, 220.0, 195.0, 275.0 — the
  * CANCELLED row filtered, the PENDING row passing (the filter is only
  * `status <> 'CANCELLED'`, TransactionFlinkTest.java:87-93).
  */
class PipelineSpec extends SparkSpecBase {

  private def ts(i: Int) =
    java.sql.Timestamp.valueOf(s"2026-01-01 00:00:0$i")

  private def fixture: Seq[Transaction] = Seq(
    Transaction("t1", 100.0, "USD", ts(1), Some("Test transaction"),
      "Test Merchant", Some("Test"), "APPROVED", "u1", Some(Map.empty)),
    Transaction("t2", 200.0, "EUR", ts(2), Some("Test transaction"),
      "Test Merchant", Some("Test"), "APPROVED", "u2", Some(Map.empty)),
    Transaction("t3", 150.0, "GBP", ts(3), Some("Test transaction"),
      "Test Merchant", Some("Test"), "APPROVED", "u3", Some(Map.empty)),
    Transaction("t4", 300.0, "USD", ts(4), Some("Test transaction"),
      "Test Merchant", Some("Test"), "CANCELLED", "u4", Some(Map.empty)),
    Transaction("t5", 250.0, "EUR", ts(5), Some("Test transaction"),
      "Test Merchant", Some("Test"), "PENDING", "u5", Some(Map.empty)))

  private def expected = Map(
    "t1" -> 100.0, "t2" -> 220.0, "t3" -> 195.0, "t5" -> 275.0)

  /** `txs` framed into exactly the kafka batch relation's row shape. An
    * RDD, not a local Seq, so the optimizer cannot fold the plan away.
    */
  private def kafkaShaped(txs: Seq[Transaction]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(txs.zipWithIndex.map { case (t, i) =>
      (t.id.getBytes("UTF-8"), TransactionAvro.encodeTransaction(t),
        "transactions", 0, i.toLong,
        new java.sql.Timestamp(1700000000000L + i), 0)
    }).toDF("key", "value", "topic", "partition", "offset",
      "timestamp", "timestampType")
  }

  /** v0 writer: no description/category/metadata fields. */
  private lazy val writerV0 = {
    import org.apache.avro.SchemaBuilder
    SchemaBuilder.record("Transaction").namespace("graft.avro")
      .fields()
      .requiredString("id").requiredDouble("amount").requiredString("currency")
      .name("timestamp").`type`(org.apache.avro.LogicalTypes.timestampMillis()
        .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.LONG)))
      .noDefault()
      .requiredString("merchant").requiredString("status").requiredString("userId")
      .endRecord()
  }

  /** A v0-writer frame under `schemaId`, and what the current reader makes of it. */
  private def v0Frame(schemaId: Int): Array[Byte] = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.io.EncoderFactory
    val rec = new GenericData.Record(writerV0)
    rec.put("id", "t1"); rec.put("amount", 5.0); rec.put("currency", "EUR")
    rec.put("timestamp", 1700000000000L); rec.put("merchant", "m")
    rec.put("status", "APPROVED"); rec.put("userId", "u")
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[org.apache.avro.generic.GenericRecord](writerV0)
      .write(rec, enc)
    enc.flush()
    TransactionAvro.frame(schemaId, out.toByteArray)
  }
  private val v0Decoded = Transaction("t1", 5.0, "EUR",
    new java.sql.Timestamp(1700000000000L), None, "m", None, "APPROVED", "u", None)

  test("batch transform reproduces the reference fixture contract") {
    import spark.implicits._
    val out = TransactionPipeline.transform(fixture.toDF())
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Double]("amountInUsd")))
      .toMap
    assert(out.keySet == expected.keySet) // t4 (CANCELLED) gone, t5 (PENDING) kept
    expected.foreach { case (id, usd) => assert(math.abs(out(id) - usd) < 0.001) }
  }

  test("streaming replay over MemoryStream matches the batch contract") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val src = MemoryStream[Transaction]
    src.addData(fixture: _*)
    val q = TransactionPipeline.transform(src.toDF())
      .writeStream.format("memory").queryName("q29").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("q29").collect()
    assert(rows.length == 4)
    val byId = rows.map(r =>
      r.getAs[String]("id") -> r.getAs[Double]("amountInUsd")).toMap
    assert(byId.keySet == expected.keySet)
    // 0.001 tolerance like the reference (TransactionFlinkTest.java:127-136)
    expected.foreach { case (id, usd) => assert(math.abs(byId(id) - usd) < 0.001) }
    // processingTimestamp only null-checked, like the reference
    // (TransactionConsumerTest.java:126)
    assert(rows.forall(_.getAs[java.sql.Timestamp]("processingTimestamp") != null))
  }

  test("streaming wire replay: framed Avro in → decode → transform → framed Avro out") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    AvroExpressions.register(spark)
    // simulate the Kafka value column: Confluent-framed Avro bytes
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Array[Byte]]
    src.addData(fixture.map(t => TransactionAvro.encodeTransaction(t)): _*)
    val decoded = src.toDF()
      .select(org.apache.spark.sql.functions.call_udf(
        "decode_transaction", org.apache.spark.sql.functions.col("value")).as("t"))
      .select("t.*")
    val out = TransactionPipeline.transform(decoded)
    val encoded = out.select(org.apache.spark.sql.functions.call_udf(
      "encode_approved",
      org.apache.spark.sql.functions.struct(out.columns.map(
        org.apache.spark.sql.functions.col).toIndexedSeq: _*),
      org.apache.spark.sql.functions.lit(2)).as("value"))
    val q = encoded.writeStream.format("memory").queryName("wire")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val results = spark.table("wire").as[Array[Byte]].collect()
      .map(b => TransactionAvro.decodeApproved(b))
    assert(results.length == 4)
    val byId = results.map(a => a.id -> a.amountInUsd).toMap
    expected.foreach { case (id, usd) => assert(math.abs(byId(id) - usd) < 0.001) }
    assert(results.forall(_.processingTimestamp != null))
  }

  test("toKafka registers its own encoder on a session that never decoded") {
    // a fresh session has no UDFs: only toKafka itself can register
    // encode_approved, so the one failure left is the absent kafka sink
    val fresh = spark.newSession()
    import fresh.implicits._
    implicit val sql = fresh.sqlContext
    val src = MemoryStream[Transaction]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tokafka").toString
    val e = intercept[Exception] {
      TransactionPipeline.toKafka(TransactionPipeline.transform(src.toDF()),
        "localhost:9092", "approved_transactions", ckpt)
    }
    val msg = String.valueOf(e.getMessage)
    assert(!msg.contains("encode_approved"), msg)
    assert(msg.contains("Failed to find data source: kafka"), msg)
  }

  test("Confluent-framed Avro round-trips every fixture row") {
    fixture.foreach { t =>
      val bytes = TransactionAvro.encodeTransaction(t)
      assert(bytes(0) == 0x00)
      val (id, _) = TransactionAvro.unframe(bytes)
      assert(id == TransactionAvro.TransactionSchemaId)
      assert(TransactionAvro.decodeTransaction(bytes) == t)
    }
  }

  test("decode rejects unframed payloads") {
    intercept[IllegalArgumentException] {
      TransactionAvro.unframe(Array[Byte](1, 2, 3))
    }
  }

  test("an unregistered schema id fails loudly; a registered one resolves") {
    val bytes = TransactionAvro.encodeTransaction(fixture.head, schemaId = 7)
    val e = intercept[IllegalArgumentException] {
      TransactionAvro.decodeTransaction(bytes)
    }
    assert(e.getMessage.contains("unknown schema id 7"))
    // registering 7 as a Transaction writer makes the same frame decode
    val resolver = TransactionAvro.MapSchemaResolver(
      Map(7 -> TransactionAvro.transactionSchema))
    assert(TransactionAvro.decodeTransaction(bytes, resolver) == fixture.head)
  }

  test("O11: bounded batch read of a kafka-shaped topic slice decodes and transforms") {
    // the reference's own verification path (TransactionFlinkTest.java:
    // 142-171: scan.bounded.mode='latest-offset' + collect). No broker in
    // this env, so the fixture is framed into exactly the kafka batch
    // relation's row shape and driven through the shared decode stage
    // fromKafkaBounded binds to `spark.read.format("kafka")`.
    val out = TransactionPipeline.transform(
      TransactionPipeline.decodeValues(kafkaShaped(fixture)))
      .collect().map(r => r.getAs[String]("id") -> r.getAs[Double]("amountInUsd"))
      .toMap
    assert(out.keySet == expected.keySet)
    expected.foreach { case (id, usd) => assert(math.abs(out(id) - usd) < 0.001) }
  }

  test("schema evolution: decode an old-writer payload against the current reader") {
    // register v0 under a fresh id: the frame's id resolves the old
    // writer, and the current schema reads it
    val resolver = TransactionAvro.MapSchemaResolver(
      Map(3 -> writerV0, 1 -> TransactionAvro.transactionSchema))
    val t = TransactionAvro.decodeTransaction(v0Frame(3), resolver)
    assert(t.id == "t1" && t.amount == 5.0 && t.currency == "EUR")
    assert(t.timestamp.getTime == 1700000000000L && t.merchant == "m" &&
      t.status == "APPROVED" && t.userId == "u")
    assert(t.description.isEmpty && t.category.isEmpty && t.metadata.isEmpty)
  }

  test("schema evolution: a NEWER writer with an added nullable field resolves down") {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.io.EncoderFactory
    // v2 writer = current schema + trailing nullable riskScore field;
    // the current reader must skip it (Avro resolution drops unknown
    // writer fields) — the frame a NEWER producer writes stays readable
    val fields = new java.util.ArrayList[org.apache.avro.Schema.Field]()
    TransactionAvro.transactionSchema.getFields.forEach { f =>
      fields.add(new org.apache.avro.Schema.Field(
        f.name(), f.schema(), f.doc(), f.defaultVal()))
    }
    val nullDouble = org.apache.avro.Schema.createUnion(
      org.apache.avro.Schema.create(org.apache.avro.Schema.Type.NULL),
      org.apache.avro.Schema.create(org.apache.avro.Schema.Type.DOUBLE))
    fields.add(new org.apache.avro.Schema.Field(
      "riskScore", nullDouble, null, org.apache.avro.JsonProperties.NULL_VALUE))
    val writerV2 = org.apache.avro.Schema.createRecord(
      "Transaction", null, "graft.avro", false, fields)
    val src = fixture.head
    val rec = new GenericData.Record(writerV2)
    rec.put("id", src.id); rec.put("amount", src.amount)
    rec.put("currency", src.currency)
    rec.put("timestamp", src.timestamp.getTime)
    rec.put("description", src.description.orNull)
    rec.put("merchant", src.merchant); rec.put("category", src.category.orNull)
    rec.put("status", src.status); rec.put("userId", src.userId)
    rec.put("metadata", new java.util.HashMap[String, String]())
    rec.put("riskScore", 0.42)
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[org.apache.avro.generic.GenericRecord](writerV2)
      .write(rec, enc)
    enc.flush()
    val resolver = TransactionAvro.MapSchemaResolver(Map(9 -> writerV2))
    val t = TransactionAvro.decodeTransaction(
      TransactionAvro.frame(9, out.toByteArray), resolver)
    assert(t == src)
  }

  test("case-class encoder nullability mirrors the declared DDL (SURVEY §1.3)") {
    val schema = org.apache.spark.sql.Encoders.product[Transaction].schema
    def nullable(f: String) = schema(f).nullable
    // Option[_] fields are the declared-nullable ones
    assert(nullable("description") && nullable("category") && nullable("metadata"))
    assert(!nullable("amount")) // primitives stay non-null
    // the native decoder yields exactly the encoder's schema
    val kafka = kafkaShaped(fixture)
    assert(TransactionPipeline.decodeValues(kafka).schema == schema)
    assert(TransactionPipeline.decodeValuesPermissive(kafka).columns.toSeq ==
      Seq("t", "frame", "decode_error"))
  }

  test("the optimized plan decodes each frame once, in batch and in streaming") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def decodes(plan: LogicalPlan) = "decode_transaction\\(".r.findAllIn(plan.toString).length
    val batch = TransactionPipeline.transform(
      TransactionPipeline.decodeValues(kafkaShaped(fixture))).queryExecution.optimizedPlan
    assert(decodes(batch) == 1, batch)
    val src = MemoryStream[Array[Byte]]
    src.addData(fixture.map(t => TransactionAvro.encodeTransaction(t)): _*)
    val q = TransactionPipeline.transform(TransactionPipeline.decodeValues(src.toDF()))
      .writeStream.format("memory").queryName("decode_once").outputMode("append").start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.optimizedPlan
      assert(decodes(plan) == 1, plan)
      assert(spark.table("decode_once").count() == 4)
    } finally q.stop()
  }

  test("native decode and encode equal the scalar reference over many rows per partition") {
    import spark.implicits._
    val n = 3000
    val txs = (0 until n).map { i =>
      Transaction(s"tx-$i-é日本", i * 0.37 - 500, Seq("USD", "EUR", "GBP", "JPY")(i % 4),
        new java.sql.Timestamp((i - n / 2) * 86400123L),
        if (i % 2 == 0) None else Some("déjà ✓ " * (i % 5)),
        s"merchant-$i", if (i % 3 == 0) None else Some(s"catégorie-${i % 7}"),
        if (i % 5 == 0) "CANCELLED" else "APPROVED", s"üser-$i",
        i % 3 match {
          case 0 => None
          case 1 => Some(Map.empty[String, String])
          case _ => Some((0 to i % 4).map(k => s"k$k-ß" -> s"v$i-€").toMap)
        })
    }
    // two partitions of 1500 rows: every reused buffer is overwritten many times
    val frames = txs.map(t => TransactionAvro.encodeTransaction(t))
    val decoded = TransactionPipeline.decodeValues(
      spark.sparkContext.parallelize(frames, 2).toDF("value")).as[Transaction].collect()
    assert(decoded.length == n)
    frames.zip(decoded).foreach { case (f, got) =>
      assert(got == TransactionAvro.decodeTransaction(f))
    }
    // rows held past the next frame's decode: no value aliases the reused record
    val decoder = DecodeTransaction(Literal(null, BinaryType), permissive = false)
    decoder.initialize(0)
    val toTxn = ExpressionEncoder[Transaction]().resolveAndBind().createDeserializer()
    frames.map(decoder.decode).zip(frames).foreach { case (row, f) =>
      assert(toTxn(row) == TransactionAvro.decodeTransaction(f))
    }

    val approved = txs.zipWithIndex.map { case (t, i) =>
      // pre-epoch with sub-millisecond micros: the encoder must floor
      val processed = new java.sql.Timestamp(-1001L - i)
      processed.setNanos(processed.getNanos + 123000)
      ApprovedTransaction(t.id, t.amount, t.currency, t.timestamp, t.merchant,
        t.userId, t.amount * 1.1, if (i % 2 == 0) processed else t.timestamp)
    }
    AvroExpressions.register(spark)
    val df = spark.sparkContext.parallelize(approved, 2).toDF()
    val encoded = df.select(call_function("encode_approved",
        struct(df.columns.toIndexedSeq.map(col): _*), lit(TransactionAvro.ApprovedSchemaId)))
      .as[Array[Byte]].collect()
    assert(encoded.length == n)
    approved.zip(encoded).foreach { case (a, got) =>
      assert(got.sameElements(TransactionAvro.encodeApproved(a)), a)
    }
  }

  test("one partition of poison and evolved frames: good rows exact, dead letters keep frame and error") {
    import spark.implicits._
    val resolver = TransactionAvro.MapSchemaResolver(
      Map(1 -> TransactionAvro.transactionSchema, 3 -> writerV0))
    val good = fixture.map(t => TransactionAvro.encodeTransaction(t))
    val frames = Seq(good(0), good(0).dropRight(10), Array[Byte](1, 2, 3, 4, 5, 6),
      TransactionAvro.encodeTransaction(fixture(2), schemaId = 42), v0Frame(3), null, good(1))
    def oneSplit(fs: Seq[Array[Byte]]) = spark.sparkContext.parallelize(fs, 1).toDF("value")
    // the public decode always uses DefaultResolver; the v0 id needs its own
    val safe = GraftSqlShim.column(
      DecodeTransaction(GraftSqlShim.expression(col("value")), permissive = true, resolver))
    val rows = oneSplit(frames).select(safe.as("r"), col("value"))
      .select(col("r.t"), col("value"), col("r.error"))
      .as[(Option[Transaction], Array[Byte], String)].collect()
    // decoder state (record, buffers, reader cache) never leaks past a failed frame
    assert(rows.map(_._1).toSeq == Seq(Some(fixture(0)), None, None, None,
      Some(v0Decoded), None, Some(fixture(1))))
    val errors = rows.map(_._3)
    assert(Seq(0, 4, 6).map(errors(_)) == Seq(null, null, null))
    assert(errors(1) != null)
    assert(errors(2).contains("not Confluent-framed"), errors(2))
    assert(errors(3).contains("unknown schema id 42"), errors(3))
    assert(errors(5).contains("null frame"), errors(5))
    frames.zip(rows.map(_._2)).foreach { case (f, kept) =>
      if (f == null) assert(kept == null) else assert(f.sameElements(kept))
    }
    // strict mode names the null frame instead of a bare NPE
    val e = intercept[Exception] {
      TransactionPipeline.decodeValues(oneSplit(Seq(good(0), null))).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages.exists(_.contains("null frame")), messages.mkString(" | "))
  }

  test("avro schemas declare millisecond timestamps (parity with TIMESTAMP(3))") {
    val f = TransactionAvro.transactionSchema.getField("timestamp").schema()
    assert(f.getLogicalType.getName == "timestamp-millis")
  }

  test(".avsc files are the schema source of truth: parse equals the independent build") {
    import org.apache.avro.SchemaBuilder
    def tsMillis = org.apache.avro.LogicalTypes.timestampMillis()
      .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.LONG))
    // the pre-round-6 programmatic declarations, rebuilt here as the
    // independent cross-check of the parsed files (main has exactly one
    // declaration — the .avsc — so the two cannot drift)
    val expectedTxn = SchemaBuilder.record("Transaction").namespace("graft.avro")
      .fields()
      .requiredString("id").requiredDouble("amount").requiredString("currency")
      .name("timestamp").`type`(tsMillis).noDefault()
      .name("description").`type`().unionOf().nullType().and().stringType()
      .endUnion().nullDefault()
      .requiredString("merchant")
      .name("category").`type`().unionOf().nullType().and().stringType()
      .endUnion().nullDefault()
      .requiredString("status").requiredString("userId")
      .name("metadata").`type`().unionOf().nullType().and().map().values()
      .stringType().endUnion().nullDefault()
      .endRecord()
    val expectedApproved = SchemaBuilder.record("ApprovedTransaction")
      .namespace("graft.avro")
      .fields()
      .requiredString("id").requiredDouble("amount").requiredString("currency")
      .name("timestamp").`type`(tsMillis).noDefault()
      .requiredString("merchant").requiredString("userId")
      .requiredDouble("amountInUsd")
      .name("processingTimestamp").`type`(tsMillis).noDefault()
      .endRecord()
    assert(TransactionAvro.transactionSchema == expectedTxn)
    assert(TransactionAvro.approvedSchema == expectedApproved)
    // and the wire contract matches the reference's field inventory
    assert(TransactionAvro.transactionSchema.getFields.size() == 10)
    assert(TransactionAvro.approvedSchema.getFields.size() == 8)
  }
}
