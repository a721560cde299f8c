package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import graft.pipeline.TransactionPipeline.{ApprovedTransaction, Transaction}

/** Seeded Transaction generator. Record `i` of a seed is a pure function of
  * (seed, i, event time), so any process can regenerate the expected input
  * of any output row from its id alone.
  *
  * Input properties the pipeline's cost depends on:
  *  - CANCELLED share 20 % (the reference fixture's 1 in 5), the rest
  *    APPROVED 60 % / PENDING 20 %;
  *  - currency mix USD 40 %, EUR 25 %, GBP 20 %, other (JPY/CAD/CHF) 15 %;
  *  - 0–3 metadata entries, uniform;
  *  - 50 % null descriptions, the rest 12–60 characters;
  *  - about 75–150 bytes per framed record.
  */
object Gen {
  val Currencies: Array[String] = Array("JPY", "CAD", "CHF")
  val Categories: Array[String] =
    Array("grocery", "travel", "fuel", "dining", "retail", "online", "utilities", "health")
  val Words: Array[String] =
    Array("order", "refund", "monthly", "card", "store", "payment", "invoice", "transfer")

  def id(i: Long): String = s"tx-$i"
  def index(id: String): Long = id.substring(3).toLong

  def tx(seed: Long, i: Long, tsMs: Long): Transaction = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val amount = (r.nextInt(99900) + 100) / 100.0
    val c = r.nextInt(100)
    val currency =
      if (c < 40) "USD" else if (c < 65) "EUR" else if (c < 85) "GBP"
      else Currencies(r.nextInt(Currencies.length))
    val s = r.nextInt(100)
    val status = if (s < 20) "CANCELLED" else if (s < 80) "APPROVED" else "PENDING"
    val description =
      if (r.nextBoolean()) None
      else Some((0 until 2 + r.nextInt(6)).map(_ => Words(r.nextInt(Words.length))).mkString(" "))
    val nMeta = r.nextInt(4)
    val metadata = (0 until nMeta).map(k => s"k$k" -> s"v${r.nextInt(1000)}").toMap
    Transaction(
      id = id(i),
      amount = amount,
      currency = currency,
      timestamp = new Timestamp(tsMs),
      description = description,
      merchant = s"merchant-${r.nextInt(500)}",
      category = if (r.nextInt(10) == 0) None else Some(Categories(r.nextInt(Categories.length))),
      status = status,
      userId = s"u${r.nextInt(10000)}",
      metadata = Some(metadata))
  }

  /** The reference FX constants, computed independently of the pipeline. */
  def usd(amount: Double, currency: String): Double = currency match {
    case "EUR" => amount * 1.1
    case "GBP" => amount * 1.3
    case _     => amount
  }

  /** True when `a` is exactly what the pipeline must emit for `t`. */
  def matches(t: Transaction, a: ApprovedTransaction): Boolean =
    t.status != "CANCELLED" && a.id == t.id && a.amount == t.amount &&
      a.currency == t.currency && a.timestamp == t.timestamp &&
      a.merchant == t.merchant && a.userId == t.userId &&
      a.amountInUsd == usd(t.amount, t.currency) && a.processingTimestamp != null
}
