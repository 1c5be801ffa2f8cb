package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Size of the ETL workload's load. Batch 0 bootstraps an empty store;
  * each later batch slides every series forward, so it overlaps the one
  * before it and only the slid-in bars are new.
  */
final case class EtlShape(
    symbols: Int,
    bars: Int,
    incrementals: Int,
    dailySlide: Int,
    intradaySlide: Int)

object EtlShape {
  /** A daily series slides one trading week (5 bars), the five-minute
    * series one trading day (78 bars).
    */
  val full: EtlShape = EtlShape(
    symbols = 10, bars = 100, incrementals = 3, dailySlide = 5, intradaySlide = 78)
  val tiny: EtlShape = EtlShape(
    symbols = 3, bars = 12, incrementals = 1, dailySlide = 3, intradaySlide = 6)
}

/** One batch: one JSON payload per symbol and endpoint. */
final case class Batch(daily: Seq[String], intraday: Seq[String], sma: Seq[String]) {
  def endpoint(name: String): Seq[String] = name match {
    case "daily" => daily
    case "intraday" => intraday
    case "sma" => sma
  }
}

/** What the store must hold after the batches load, derived from the
  * generator's own bookkeeping, never from the engine.
  *
  * @param inserted per batch (the last entry is the no-op re-run of the
  *                 final batch), rows each table must gain
  * @param rows     rows each table holds after every batch
  * @param bars     bars per endpoint inside non-envelope payloads, over
  *                 the distinct batches
  * @param rejects  injected bad bars per endpoint over the distinct batches
  * @param payloads non-envelope payloads per endpoint over the distinct batches
  */
final case class Expected(
    inserted: IndexedSeq[Map[String, Long]],
    rows: Map[String, Long],
    bars: Map[String, Long],
    rejects: Map[String, Long],
    payloads: Map[String, Long])

/** Seeded Alpha-Vantage-shaped payloads with edge rows at fixed rates
  * (FIXTURES.md A.1): `HH:mm` SMA keys, non-numeric volumes, bars with a
  * missing field, and error and rate-limit envelopes in place of a
  * payload. Every choice hashes (seed, batch, symbol, endpoint, bar), so
  * the same seed gives byte-identical payloads, and a bar re-sent by an
  * overlapping batch carries the same prices.
  */
object PayloadGen {
  val endpoints: Seq[String] = Seq("daily", "intraday", "sma")
  val tableOf: Map[String, String] = Map(
    "daily" -> "daily_stock_prices",
    "intraday" -> "intraday_stock_prices",
    "sma" -> "sma_indicators")

  /** One in `n` of the items each rate applies to. */
  val envelopeRate = 25 // per payload, for each of the two envelopes
  val badVolumeRate = 40 // per daily or intraday bar
  val missingFieldRate = 40 // per daily or intraday bar
  val minuteKeyRate = 3 // per SMA payload: one extra `HH:mm` key

  private val firstDay = LocalDate.of(2024, 1, 2)
  private val firstBar = LocalDateTime.of(2024, 1, 2, 9, 30)
  private val dayFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val barFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val minuteFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")

  /** The distinct batches (bootstrap plus incrementals) and what loading
    * them, then re-running the last one, must leave in the store.
    */
  final case class Load(batches: IndexedSeq[Batch], expected: Expected)

  def generate(seed: Long, shape: EtlShape): Load = {
    val syms = symbols(seed, shape.symbols)
    val seen = endpoints.map(_ -> mutable.HashSet[(String, Int)]()).toMap
    val companies = mutable.HashSet[String]()
    val bars = mutable.Map[String, Long]().withDefaultValue(0L)
    val rejects = mutable.Map[String, Long]().withDefaultValue(0L)
    val payloads = mutable.Map[String, Long]().withDefaultValue(0L)

    val built = (0 to shape.incrementals).map { b =>
      val fresh = mutable.Map[String, Long]().withDefaultValue(0L)
      val docs = endpoints.map { ep =>
        val slide = if (ep == "intraday") shape.intradaySlide else shape.dailySlide
        ep -> syms.zipWithIndex.map { case (sym, si) =>
          val h = mix(seed, b, si, endpoints.indexOf(ep))
          if (h % envelopeRate == 0) errorEnvelope(sym)
          else if ((h / envelopeRate) % envelopeRate == 0) noteEnvelope
          else {
            payloads(ep) += 1
            val idx = (b * slide) until (b * slide + shape.bars)
            val entries = idx.map { j =>
              val r = mix(seed, b, si, 10 + endpoints.indexOf(ep), j)
              val bad =
                if (ep == "sma") None
                else if (r % badVolumeRate == 0) Some("volume")
                else if ((r / badVolumeRate) % missingFieldRate == 0) Some("field")
                else None
              bars(ep) += 1
              if (bad.nonEmpty) rejects(ep) += 1
              else {
                companies += sym
                if (seen(ep).add(sym -> j)) fresh(tableOf(ep)) += 1
              }
              entry(seed, ep, si, j, bad)
            }
            val minuteKey =
              if (ep == "sma" && h / 7 % minuteKeyRate == 0) {
                bars(ep) += 1
                rejects(ep) += 1
                val day = firstDay.plusDays(idx.head.toLong)
                Seq(quote(day.atTime(8, 0).format(minuteFmt)) + ":" +
                  s"""{"SMA":"${price(seed, si, idx.head)}"}""")
              } else Nil
            payload(ep, sym, entries ++ minuteKey)
          }
        }
      }.toMap
      (Batch(docs("daily"), docs("intraday"), docs("sma")),
        fresh.toMap, companies.size.toLong)
    }

    val incCompanies = (0L +: built.map(_._3))
      .sliding(2).map(w => w(1) - w(0)).toIndexedSeq
    val inserted = built.indices.map { b =>
      endpoints.map(ep => tableOf(ep) -> built(b)._2.getOrElse(tableOf(ep), 0L))
        .toMap + ("companies" -> incCompanies(b))
    }
    val noop = inserted.head.map { case (t, _) => t -> 0L }
    Load(
      built.map(_._1),
      Expected(
        inserted :+ noop,
        endpoints.map(ep => tableOf(ep) -> seen(ep).size.toLong).toMap +
          ("companies" -> companies.size.toLong),
        endpoints.map(ep => ep -> bars(ep)).toMap,
        endpoints.map(ep => ep -> rejects(ep)).toMap,
        endpoints.map(ep => ep -> payloads(ep)).toMap))
  }

  /** Distinct 3-4 letter tickers. */
  def symbols(seed: Long, n: Int): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n)
      out += Seq.fill(3 + rnd.nextInt(2))(('A' + rnd.nextInt(26)).toChar).mkString
    out.toIndexedSeq
  }

  /** Bar `j` as a `"key":{...}` JSON entry; `bad` names the defect to
    * inject, if any.
    */
  private def entry(seed: Long, ep: String, si: Int, j: Int,
      bad: Option[String]): String = ep match {
    case "sma" =>
      quote(firstDay.plusDays(j.toLong).format(dayFmt)) + ":" +
        s"""{"SMA":"${price(seed, si, j)}"}"""
    case _ =>
      val key =
        if (ep == "daily") firstDay.plusDays(j.toLong).format(dayFmt)
        else firstBar.plusMinutes(5L * j).format(barFmt)
      val p = price(seed, si, j)
      val r = mix(seed, si, j, 99)
      // a volume past 2^31 now and then: the BIGINT column must hold it
      val volume = if (r % 50 == 0) 3000000000L + r % 1000 else 10000L + r % 5000000
      val fields = Seq(
        "1. open" -> p, "2. high" -> p, "3. low" -> p, "4. close" -> p,
        "5. volume" -> volume.toString)
      val shown = bad match {
        case Some("volume") => fields.init :+ ("5. volume" -> "N/A")
        case Some(_) => fields.filterNot(_._1 == "2. high")
        case None => fields
      }
      quote(key) + ":" +
        shown.map { case (k, v) => quote(k) + ":" + quote(v) }.mkString("{", ",", "}")
  }

  private def payload(ep: String, sym: String, entries: Seq[String]): String = {
    val (seriesKey, meta) = ep match {
      case "daily" => ("Time Series (Daily)", "2. Symbol")
      case "intraday" => ("Time Series (5min)", "2. Symbol")
      case "sma" => ("Technical Analysis: SMA", "1: Symbol")
    }
    s"""{"Meta Data":{${quote(meta)}:${quote(sym)}},${quote(seriesKey)}:""" +
      entries.mkString("{", ",", "}") + "}"
  }

  private def errorEnvelope(sym: String): String =
    s"""{"Error Message":"Invalid API call. Please retry or visit the documentation for $sym."}"""

  private val noteEnvelope: String =
    """{"Note":"Thank you for using Alpha Vantage! Our standard API call frequency is 5 calls per minute."}"""

  /** Price of bar `j` of symbol `si`: the same for every endpoint and
    * batch that carries it.
    */
  private def price(seed: Long, si: Int, j: Int): String = {
    val cents = 1000000L + mix(seed, si, j, 7) % 90000000L
    f"${cents / 10000}%d.${cents % 10000}%04d"
  }

  private def quote(s: String): String = Json.quote(s)

  /** Non-negative 63-bit hash of the arguments (splitmix64 finalizer). */
  private def mix(xs: Long*): Long = {
    var h = 0x9E3779B97F4A7C15L
    xs.foreach { x =>
      h ^= x
      h *= 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
      h *= 0x94D049BB133111EBL
      h ^= h >>> 29
    }
    h >>> 1
  }
}
