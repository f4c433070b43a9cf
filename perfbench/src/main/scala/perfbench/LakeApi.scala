package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.Transforms
import graft.sources.{Api, Ingest, JsonPayloads, Lake, Serving}
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.{DayOfWeek, Duration}
import java.time.temporal.TemporalAdjusters

/** `lake_api`: `sources.Api` serving a lake landed during set-up, driven by
  * `nproc` closed-loop clients. Each client sends its next request when the
  * previous one has been answered; its seeded sequence is 6 reads over the
  * landed datasets to 1 write (`POST /ingest` through an `Ingest`
  * whose fetch returns generated payloads, `POST /transform`). Writes go to
  * datasets of their own client, so no two requests race on one path.
  */
object LakeApi {
  // Dataset and payload sizes follow the engine's fetch defaults (see
  // perfbench/README.md, "Where the inputs come from").
  val yahooBars: Int = StreamIngest.yahooWindow
  val avBars: Int = StreamIngest.avWindow
  /** `FX_DAILY` without `outputsize` answers with Alpha Vantage's compact default. */
  val fxBars = 100
  /** Assumed: a daily crypto series over the same 730-day lookback (crypto
    * trades every day); the engine's crypto fetch names no period. */
  val cryptoBars = 730
  /** An economic series: assumed monthly since 2000. */
  val econBars = 300
  val preDate = "20240101"
  val yahooSyms: Seq[String] = Seq("Y0", "Y1")
  val avSyms: Seq[String] = Seq("A0")
  val indicators: Seq[String] = Seq("GDP", "INFLATION", "UNEMPLOYMENT", "RETAIL_SALES", "CPI")

  val routes: Seq[String] = Seq("datasets", "dataset_info", "data", "latest", "download", "ingest", "transform")

  /** One landed dataset a read can target, with the rows it must return. */
  final case class Landed(layer: String, name: String, rows: Long)

  private val mapper = new ObjectMapper()

  /** Number of pandas `W` (week ending Sunday) buckets the bars fall in. */
  def weeks(bs: Seq[Bar]): Long =
    bs.map(_.date.`with`(TemporalAdjusters.nextOrSame(DayOfWeek.SUNDAY))).distinct.size.toLong

  /** The injected fetch: every upstream URL answers with a generated payload. */
  def fetch(seed: Long)(url: String, params: Map[String, String]): Option[String] =
    params.get("function") match {
      case Some("FX_DAILY") =>
        Some(Gen.alphaVantageFx(Gen.bars(seed, params("from_symbol") + params("to_symbol"), 400, fxBars)))
      case Some(f) if JsonPayloads.economicIndicators.values.exists(_ == f) =>
        Some(Gen.alphaVantageEconomic(Gen.bars(seed, f, 400, econBars)))
      case _ if url.contains("/chart/") =>
        Some(Gen.yahooChart(Gen.bars(seed, url.split('/').last, 400, cryptoBars)))
      case _ => None
    }

  /** Lands the pre-built lake: raw stock datasets in bronze,
    * a cleaned one in silver, a weekly aggregate in gold, and one bronze
    * feed per client that its transforms read. Returns the readable datasets.
    */
  def land(spark: SparkSession, lake: Lake, seed: Long, clients: Int): Seq[Landed] = {
    val y0 = Gen.bars(seed, "Y0", 300, yahooBars)
    val yahoo = yahooSyms.zipWithIndex.map { case (s, i) =>
      val name = s"yahoo_finance_stock_${s}_2024010${i + 1}"
      lake.write(JsonPayloads.parseYahooChart(spark, Seq(Gen.yahooChart(Gen.bars(seed, s, 300, yahooBars))), s), "bronze", name)
      Landed("bronze", name, yahooBars)
    }
    val av = avSyms.zipWithIndex.map { case (s, i) =>
      val name = s"alphavantage_stock_${s}_2024010${i + 1}"
      lake.write(JsonPayloads.parseAlphaVantageStock(spark, Seq(Gen.alphaVantageDaily(Gen.bars(seed, s, 300, avBars))), s), "bronze", name)
      Landed("bronze", name, avBars)
    }
    val raw = lake.read("bronze", yahoo.head.name)
    lake.write(Transforms.normalize(Transforms.clean(raw), "stock"), "silver", s"yahoo_finance_stock_Y0_clean_$preDate")
    lake.write(Transforms.aggregate(raw, "W"), "gold", s"yahoo_finance_aggregate_Y0_$preDate")
    (0 until clients).foreach { c =>
      lake.write(JsonPayloads.parseYahooChart(spark, Seq(Gen.yahooChart(Gen.bars(seed, s"T$c", 300, yahooBars))), s"T$c"),
        "bronze", feedName(c))
    }
    yahoo ++ av ++ Seq(
      Landed("silver", s"yahoo_finance_stock_Y0_clean_$preDate", yahooBars),
      Landed("gold", s"yahoo_finance_aggregate_Y0_$preDate", weeks(y0)))
  }

  def feedName(client: Int): String = s"c${client}feed_stock_T${client}_$preDate"

  /** One request and the envelope it must come back with. */
  final case class Op(route: String, write: Boolean, method: String, path: String, body: String,
      check: (Int, String) => Boolean)

  private def arrayLen(body: String): Long = mapper.readTree(body).size().toLong

  private def successWith(n: Long)(code: Int, body: String): Boolean = code == 200 && {
    val j = mapper.readTree(body)
    j.path("status").asText() == "success" && j.path("records_count").asLong(-1) == n
  }

  /** The kinds of request a client deals from a shuffled deck, so every
    * run has the same mix whatever the seed: six reads and one write.
    */
  val deck: Seq[String] = Seq("datasets", "dataset_info", "data", "data", "latest", "download", "write")
  /** Client `c`'s writes cycle through these, starting at its own offset. */
  val writeKinds: Seq[String] = Seq("forex", "transform_clean", "crypto", "economic", "transform_aggregate")

  /** One client's seeded request sequence. The seed shuffles each deck; the
    * targets rotate (datasets, layers, sources, write kinds), so every run
    * reads the large and the small datasets equally often.
    */
  final class Client(seed: Long, c: Int, landed: Seq[Landed]) {
    private val rng = new scala.util.Random(seed * 1000 + c)
    private var hand: List[String] = Nil
    /** Requests of each kind dealt so far: the rotation of its targets. */
    private val dealt = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    /** True while the deck in hand has requests left. */
    def midDeck: Boolean = hand.nonEmpty
    def next(): Op = {
      if (hand.isEmpty) hand = rng.shuffle(deck).toList
      val kind = hand.head
      hand = hand.tail
      dealt(kind) += 1
      val k = c + dealt(kind)
      val d = landed(k % landed.size)
      kind match {
        case "datasets" =>
          val layer = Seq("bronze", "silver", "gold")(k % 3)
          val must = landed.filter(_.layer == layer).map(_.name).toSet
          Op("datasets", write = false, "GET", s"/datasets?layer=$layer", "", (code, body) =>
            code == 200 && { val it = mapper.readTree(body).elements(); var seen = Set.empty[String]
              while (it.hasNext) seen += it.next().asText(); must.subsetOf(seen) })
        case "dataset_info" =>
          Op("dataset_info", write = false, "GET", s"/datasets/${d.name}?layer=${d.layer}", "", (code, body) =>
            code == 200 && mapper.readTree(body).path("num_rows").asLong(-1) == d.rows)
        case "data" =>
          Op("data", write = false, "GET", s"/data/${d.layer}/${d.name}", "", (code, body) =>
            code == 200 && arrayLen(body) == d.rows)
        case "latest" =>
          val (source, rows) = if (k % 2 == 0) ("yahoo_finance", yahooBars) else ("alphavantage", avBars)
          Op("latest", write = false, "GET", s"/data/latest/stock/$source", "", (code, body) =>
            code == 200 && arrayLen(body) == rows)
        case "download" =>
          Op("download", write = false, "GET", s"/data/${d.layer}/${d.name}/download", "", (code, body) =>
            code == 200 && body.count(_ == '\n') == d.rows + 1)
        case "write" =>
          writeOp(c, writeKinds(k % writeKinds.size))
      }
    }
  }

  /** A write of `kind` by client `c`, to datasets only that client writes. */
  def writeOp(c: Int, kind: String): Op = kind match {
    // the economic indicators are few; clients beyond them ingest forex instead
    case "forex" | "economic" if kind == "forex" || c >= indicators.size =>
      Op("ingest", write = true, "POST", "/ingest",
        s"""{"source":"alphavantage","data_type":"forex","symbols":["C${c}X_USD"]}""", successWith(fxBars))
    case "economic" =>
      Op("ingest", write = true, "POST", "/ingest",
        s"""{"source":"alphavantage","data_type":"economic","symbols":["${indicators(c)}"]}""", successWith(econBars))
    case "crypto" =>
      Op("ingest", write = true, "POST", "/ingest",
        s"""{"source":"yahoo_finance","data_type":"crypto","symbols":["K$c"]}""", successWith(cryptoBars))
    case _ =>
      val (t, dest) = if (kind == "transform_clean") ("clean", "silver") else ("aggregate", "gold")
      Op("transform", write = true, "POST", "/transform",
        s"""{"source_layer":"bronze","source_path":"${feedName(c)}","transformation_type":"$t","destination_layer":"$dest"}""",
        successWith(yahooBars))
  }

  final case class Done(route: String, write: Boolean, ms: Double, ok: Boolean)

  private def send(http: HttpClient, port: Int, op: Op): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${op.path}")).timeout(Duration.ofSeconds(60))
    val req = if (op.method == "POST")
      b.header("Content-Type", "application/json").POST(HttpRequest.BodyPublishers.ofString(op.body)).build()
    else b.GET().build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def run(env: Env): Outcome = {
    val spark = Main.session(env)
    val clients = env.cpus
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

    // set-up: land a fresh lake and start the server, until it answers; three times
    var api: Api = null
    var lake: Lake = null
    var landed: Seq[Landed] = Nil
    var ingest: Ingest = null
    val setups = (1 to 3).map { rep =>
      if (api != null) api.stop()
      Main.timed {
        lake = Lake(spark, new java.io.File(env.work, s"lake$rep").getAbsolutePath)
        landed = land(spark, lake, env.seed, clients)
        ingest = new Ingest(spark, lake, fetch(env.seed))
        api = new Api(spark, lake, ingest).start()
        require(send(http, api.port, Op("datasets", write = false, "GET", "/datasets", "", (_, _) => true))._1 == 200)
      }._2
    }

    Main.log("lake_api: set up")
    // warm-up, untimed: one deck on the freshly started server, which would
    // be long-lived in use
    val warmUp = new Client(env.seed + 1, 0, landed)
    deck.foreach(_ => send(http, api.port, warmUp.next()))
    Main.log("lake_api: warmed")
    val probe = if (env.trace) Some(new SparkProbe(spark).register()) else None
    val sentinels = Seq.newBuilder[Double]
    sentinels += Main.sentinelMs(spark)
    val totals0 = probe.map(_.totals())
    val startMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + env.seconds * 1000000000L
    val t0 = System.nanoTime()
    val results = (0 until clients).map { c =>
      val out = scala.collection.mutable.ArrayBuffer[Done]()
      val th = new Thread(() => {
        val client = new Client(env.seed, c, landed)
        // whole decks only, so every run has the same mix of requests
        while (System.nanoTime() < deadline || client.midDeck) {
          val op = client.next()
          val s = System.nanoTime()
          val ok = try Trace.span(s"sources.Api.${op.route}") {
            val (code, body) = send(http, api.port, op)
            val good = op.check(code, body)
            if (!good) println(s"lake_api: unexpected response to ${op.method} ${op.path}: $code ${body.take(200)}")
            good
          } catch { case e: Exception => println(s"lake_api: ${op.method} ${op.path} failed: $e"); false }
          out += Done(op.route, op.write, (System.nanoTime() - s) / 1e6, ok)
        }
      }, s"client-$c")
      th.start()
      (th, out)
    }.flatMap { case (th, out) => th.join(); out.toSeq }
    val wallS = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val totals1 = probe.map(_.totals())
    sentinels += Main.sentinelMs(spark)
    val liveMb = Main.liveMb()

    // direct single-threaded calls of the layers behind each route (traced run only)
    val direct: Map[String, Double] = if (!env.trace) Map.empty else {
      val d = landed.find(_.name.startsWith("yahoo_finance_stock_Y0")).get
      val csvDir = new java.io.File(env.work, "direct-csv").getAbsolutePath
      def med(name: String)(f: => Any): (String, Double) =
        name -> Stats.median((1 to 5).map(_ => Main.timed(Trace.span(name)(f))._2 * 1e3))
      Seq(
        med("sources.Lake.list")(lake.list("bronze")),
        med("sources.Lake.info")(lake.info(d.layer, d.name)),
        med("sources.Lake.read")(lake.read(d.layer, d.name)),
        med("sources.Lake.latest")(lake.latest("bronze", "yahoo_finance", "stock")),
        med("sources.Serving.records")(Serving.jsonRecordsView(lake.read(d.layer, d.name)).toJSON.collect()),
        med("sources.Serving.csv")(Serving.csvDownload(lake.read(d.layer, d.name), csvDir)),
        med("sources.Ingest.fetch_and_store")(ingest.fetchAndStoreForex("D0X_USD")),
        med("operators.Transforms.transform_and_store")(
          Transforms.transformAndStore(lake, "bronze", feedName(0), "clean", "silver"))).toMap
    }
    val datasets = Seq("bronze", "silver", "gold").map(lake.list(_).size).sum
    api.stop()

    val reads = results.filter(!_.write).map(_.ms)
    val writes = results.filter(_.write).map(_.ms)
    val failed = results.count(!_.ok)
    val (readTailP, readTail) = Stats.tail(reads)
    val (writeTailP, writeTail) = Stats.tail(writes)
    val sentinel = sentinels.result()
    println(f"lake_api: $clients closed-loop clients, ${results.size} requests (${writes.size} writes) in $wallS%.1f s, " +
      f"${landed.size} readable datasets, read tail = p${readTailP.toInt}, write tail = p${writeTailP.toInt}, " +
      s"sentinel_ms = ${sentinel.map(v => f"$v%.1f").mkString("[", ",", "]")}")

    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("latency_ms", reads.sum / reads.size, "ms"),
      Metric("throughput_per_s", results.size / wallS, "1/s"),
      Metric("live_mb", liveMb, "MB"))
    val named = Seq(
      Metric("peak_rss_mb", Main.peakRssMb(), "MB"),
      Metric("error_ratio", failed.toDouble / results.size, "ratio"),
      Metric("read_mean_ms", reads.sum / reads.size, "ms"),
      Metric("read_p50_ms", Stats.median(reads), "ms"),
      Metric(s"read_p${readTailP.toInt}_ms", readTail, "ms"),
      Metric("write_p50_ms", Stats.median(writes), "ms"),
      Metric(s"write_p${writeTailP.toInt}_ms", writeTail, "ms"),
      Metric("api_ops_per_s", results.size / wallS, "1/s"))

    val layer = probe.map { pr =>
      val t = totals1.get - totals0.get
      def routeP50(r: String): Double = {
        val xs = results.filter(_.route == r).map(_.ms)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      // what each read route does behind the HTTP layer
      val behind = Map(
        "datasets" -> direct("sources.Lake.list"),
        "dataset_info" -> direct("sources.Lake.info"),
        "data" -> (direct("sources.Lake.read") + direct("sources.Serving.records")),
        "latest" -> (direct("sources.Lake.latest") + direct("sources.Serving.records")),
        "download" -> (direct("sources.Lake.read") + direct("sources.Serving.csv")))
      val overhead = behind.map { case (r, ms) => routeP50(r) - ms }.sum / behind.size
      val driverS = pr.uncoveredMs(startMs, endMs) / 1e3
      routes.map(r => Metric(s"sources.Api.${r}_ms", routeP50(r), "ms")) ++ Seq(
        Metric("sources.Lake.list_ms", direct("sources.Lake.list"), "ms"),
        Metric("sources.Lake.info_ms", direct("sources.Lake.info"), "ms"),
        Metric("sources.Lake.read_ms", direct("sources.Lake.read"), "ms"),
        Metric("sources.Lake.latest_ms", direct("sources.Lake.latest"), "ms"),
        Metric("sources.Serving.records_ms", direct("sources.Serving.records"), "ms"),
        Metric("sources.Serving.csv_ms", direct("sources.Serving.csv"), "ms"),
        Metric("sources.Ingest.fetch_and_store_ms", direct("sources.Ingest.fetch_and_store"), "ms"),
        Metric("operators.Transforms.transform_and_store_ms", direct("operators.Transforms.transform_and_store"), "ms"),
        Metric("sources.Api.overhead_ms", overhead, "ms"),
        Metric("sources.Lake.datasets", datasets.toDouble, "count"),
        Metric("spark.jobs_per_req", t.jobs.toDouble / results.size, "count")) ++
        SparkProbe.layerMetrics(t, driverS, SparkProbe.cachedMb(spark), Stats.median(sentinel))
    }.getOrElse(Nil)

    Outcome(results.size.toLong, failed.toLong, Nil, endToEnd, named, layer)
  }
}
