package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.time.LocalDate

/** One daily OHLCV bar. `day` counts trading days (Monday to Friday) from
  * [[Gen.epochDay0]], a Monday; the bar is stamped at its symbol's own minute
  * of that day, so bars of different symbols never tie on time and
  * first/last of a day are well defined.
  */
final case class Bar(symbol: String, day: Int, open: Double, high: Double, low: Double,
    close: Double, volume: Long) {
  def date: LocalDate = LocalDate.ofEpochDay(Gen.calendarDay(day))
  def epochSecond: Long = Gen.calendarDay(day) * 86400L + Gen.minuteOf(symbol) * 60L
  /** The stamp as Alpha Vantage writes it (`yyyy-MM-dd HH:mm:ss`, UTC). */
  def stamp: String = java.time.LocalDateTime.ofEpochSecond(epochSecond, 0, java.time.ZoneOffset.UTC)
    .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
}

/** One payload of the `stream_ingest` feed: the last `window` daily bars of
  * one symbol ending at `endDay`, in Yahoo-chart or Alpha Vantage JSON.
  * `late` payloads carry bars older than payloads dropped before them.
  */
final case class Payload(seq: Int, symbol: String, endDay: Int, fmt: String, window: Int, late: Boolean) {
  def covers(sym: String, day: Int): Boolean = symbol == sym && endDay >= day && endDay - window + 1 <= day
}

/** Seeded input generators. Everything is a pure function of the seed: the
  * same seed gives the same bars, payloads and lakes.
  */
object Gen {
  val epochDay0: Long = LocalDate.of(2021, 1, 4).toEpochDay

  /** Epoch day of trading day `day` (weekends skipped). */
  def calendarDay(day: Int): Long =
    epochDay0 + Math.floorDiv(day, 5) * 7L + Math.floorMod(day, 5)
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Minute of the day a symbol's bars are stamped at: 09:30 plus the
    * number in the symbol's name, distinct for the feed's symbols.
    */
  def minuteOf(symbol: String): Int = 570 + symbol.filter(_.isDigit).toIntOption.getOrElse(0)

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  /** The bar of `symbol` on `day`: the same whichever payload carries it, so
    * overlapping polls deliver identical duplicates.
    */
  def bar(seed: Long, symbol: String, day: Int): Bar = {
    val r = new java.util.SplittableRandom(mix(mix(seed, symbol.hashCode.toLong), day.toLong))
    val base = 40.0 + math.abs(symbol.hashCode % 97) + Math.floorMod(day, 250) * 0.2
    val open = cents(base + r.nextDouble() * 4)
    val close = cents(base + r.nextDouble() * 4)
    Bar(symbol, day, open, cents(math.max(open, close) + r.nextDouble() * 2),
      cents(math.min(open, close) - r.nextDouble() * 2), close, 1000L + r.nextInt(900000))
  }

  def bars(seed: Long, symbol: String, endDay: Int, window: Int): Seq[Bar] =
    (endDay - window + 1 to endDay).map(bar(seed, symbol, _))

  /** Yahoo chart JSON (`chart.result[0]` with parallel quote arrays). */
  def yahooChart(bs: Seq[Bar]): String = mapper.writeValueAsString(Map("chart" -> Map("result" -> Seq(Map(
    "timestamp" -> bs.map(_.epochSecond),
    "indicators" -> Map("quote" -> Seq(Map(
      "open" -> bs.map(_.open), "high" -> bs.map(_.high), "low" -> bs.map(_.low),
      "close" -> bs.map(_.close), "volume" -> bs.map(_.volume)))))))))

  /** Alpha Vantage `TIME_SERIES_DAILY` JSON (values as strings). */
  def alphaVantageDaily(bs: Seq[Bar]): String = mapper.writeValueAsString(Map(
    "Time Series (Daily)" -> bs.map(b => b.stamp -> Map(
      "1. open" -> b.open.toString, "2. high" -> b.high.toString, "3. low" -> b.low.toString,
      "4. close" -> b.close.toString, "5. volume" -> b.volume.toString)).toMap))

  /** Alpha Vantage `FX_DAILY` JSON. */
  def alphaVantageFx(bs: Seq[Bar]): String = mapper.writeValueAsString(Map(
    "Time Series FX (Daily)" -> bs.map(b => b.date.toString -> Map(
      "1. open" -> b.open.toString, "2. high" -> b.high.toString, "3. low" -> b.low.toString,
      "4. close" -> b.close.toString)).toMap))

  /** Alpha Vantage economic-indicator JSON (`data` array of date/value). */
  def alphaVantageEconomic(bs: Seq[Bar]): String = mapper.writeValueAsString(Map(
    "data" -> bs.map(b => Map("date" -> b.date.toString, "value" -> b.close.toString))))

  /** A payload file: one JSON line carrying the payload and its routing fields. */
  def envelope(seed: Long, p: Payload): String = {
    val bs = bars(seed, p.symbol, p.endDay, p.window)
    mapper.writeValueAsString(Map("seq" -> p.seq, "symbol" -> p.symbol, "fmt" -> p.fmt,
      "payload" -> (if (p.fmt == "yahoo") yahooChart(bs) else alphaVantageDaily(bs))))
  }

  /** `n` polls shared out over `symbols` symbols in proportion to Zipf(`s`)
    * weights (rank r weighs 1/r^s), by largest remainder: the exact number
    * of polls of each symbol.
    */
  def zipfCounts(n: Int, symbols: Int, s: Double): Seq[Int] = {
    val w = (1 to symbols).map(r => 1.0 / math.pow(r, s))
    val exact = w.map(_ / w.sum * n)
    val base = exact.map(x => math.floor(x).toInt)
    val extra = exact.indices.sortBy(i => (math.floor(exact(i)) - exact(i), i)).take(n - base.sum).toSet
    base.indices.map(i => base(i) + (if (extra(i)) 1 else 0))
  }

  /** The source that serves a symbol: even-numbered symbols are polled from
    * Yahoo, odd-numbered ones from Alpha Vantage.
    */
  def sourceOf(symbolIndex: Int): String = if (symbolIndex % 2 == 0) "yahoo" else "av"

  /** `a` and `b` merged with `a`'s elements spread evenly among `b`'s. */
  def interleave[T](a: Seq[T], b: Seq[T]): Seq[T] = {
    val n = a.size + b.size
    val ai = a.iterator
    val bi = b.iterator
    (0 until n).map(k => if ((k + 1L) * a.size / n > k.toLong * a.size / n) ai.next() else bi.next())
  }

  /** The feed's payload sequence, phase after phase. Each phase's polls are
    * shared out over the symbols by [[zipfCounts]], the same for every seed,
    * with the two sources' polls spread evenly through the phase; the seed
    * sets the order of each source's polls, the late payloads and the bars.
    * Payload i normally ends at day i, so its newest bar is one no earlier
    * payload carried; a `lateShare` of payloads end 1 to `maxLag` days
    * earlier when no earlier payload of their symbol carried that day. Either
    * way every payload's newest bar (`symbol`, `endDay`) first arrives with
    * that payload, which is how a gold commit is traced back to the payloads
    * it contains.
    */
  def feed(seed: Long, phases: Seq[Int], symbols: Int, windows: Map[String, Int], lateShare: Double,
      maxLag: Int): Seq[Payload] = {
    val rng = new scala.util.Random(seed)
    val order = phases.flatMap { n =>
      val polls = zipfCounts(n, symbols, 1.1).zipWithIndex.flatMap { case (k, i) => Seq.fill(k)(i) }
      val (yahoo, av) = polls.partition(sourceOf(_) == "yahoo")
      interleave(rng.shuffle(yahoo), rng.shuffle(av))
    }
    val out = scala.collection.mutable.ArrayBuffer[Payload]()
    order.zipWithIndex.foreach { case (si, i) =>
      val sym = f"SYM$si%02d"
      val fmt = sourceOf(si)
      val lag = 1 + rng.nextInt(maxLag)
      val late = rng.nextDouble() < lateShare && i >= lag && !out.exists(_.covers(sym, i - lag))
      out += Payload(i, sym, if (late) i - lag else i, fmt, windows(fmt), late)
    }
    out.toVector
  }
}
