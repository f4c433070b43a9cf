package perfbench

import graft.operators.Transforms
import graft.sources.{JsonPayloads, TxTable}
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** `stream_ingest`: the paper's pipeline as one continuous ProcessingTime
  * query. Payload files land in a directory; each micro-batch decodes them
  * (`JsonPayloads.decode*`), drops re-polled bars (`Streaming.dedupStream`),
  * appends the bars to bronze and the cleaned, normalized bars to silver
  * (`TxTable.append`), folds the batch's candle partials into the gold state
  * (`Transforms.candlePartials`/`combineCandlePartials`) and commits them to
  * gold (`TxTable.appendIdempotent`).
  *
  * Phase 1 is an open loop: a generator thread drops one payload every
  * `1/rate` s whether or not the pipeline keeps up, and each payload's
  * freshness runs from its scheduled drop time to the gold commit that
  * contains it. Phase 2 drops a backlog at once and times its drain.
  */
object StreamIngest {
  // Payload sizes are the engine's own fetch defaults (perfbench/README.md,
  // "Where the inputs come from"): a Yahoo chart poll covers
  // the 730-day lookback of `Ingest.fetchAndStoreStockYahoo`, the weekdays
  // of 730 calendar days; an Alpha Vantage poll is `outputsize=full`, about
  // 20 years of trading days.
  val yahooWindow = 521
  val avWindow = 5000
  val windows: Map[String, Int] = Map("yahoo" -> yahooWindow, "av" -> avWindow)
  val symbols = 50
  val lateShare = 0.1
  val maxLag = 3
  val ratePerS = 3
  val backlog = 80
  val maxFilesPerTrigger = 16
  val triggerMs = 200L
  val phase1Share = 0.8
  /** Payloads run through the pipeline, untimed, before phase 1. */
  val warmUp = 8
  /** Longer than any bar's delay: the longest payload plus the largest
    * lateness, in calendar days. */
  val watermarkDelay = s"${((avWindow + maxLag) / 5 + 2) * 7} days"

  private val envelopeSchema = StructType(Seq(
    StructField("seq", IntegerType), StructField("symbol", StringType),
    StructField("fmt", StringType), StructField("payload", StringType)))

  /** One pipeline instance: its lake tables, drop directory and query. */
  final class Pipeline(spark: SparkSession, dir: java.io.File, markers: Map[(String, Long), Int]) {
    val drop = new java.io.File(dir, "drop")
    val lake = new java.io.File(dir, "lake").getAbsolutePath
    val bronze = TxTable(spark, lake, "bronze")
    val silver = TxTable(spark, lake, "silver")
    val gold = TxTable(spark, lake, "gold")
    drop.mkdirs()

    /** seq → System.nanoTime() of the gold commit that contained it. */
    val committed = new ConcurrentHashMap[Int, Long]()
    /** (start, end) nanoTime and wall-clock ms of every batch that carried data. */
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    @volatile var state: DataFrame = _

    private def sink(batch: DataFrame, id: Long): Unit = Trace.span("stream.batch", id) {
      val t0 = System.nanoTime()
      val ms0 = System.currentTimeMillis()
      val b = batch.persist()
      try {
        // every payload's marker bar is new and dated on or after epochDay0
        val keys = b.select(col("symbol"), floor(unix_seconds(col("timestamp")) / lit(86400L)).as("d"))
          .filter(col("d") >= lit(Gen.epochDay0)).collect()
        if (keys.nonEmpty) {
          Trace.span("sources.TxTable.bronze_append", id)(bronze.append(b))
          Trace.span("sources.TxTable.silver_append", id)(
            silver.append(Transforms.normalize(Transforms.clean(b), "stock")))
          val partials = Trace.span("operators.Transforms.gold_fold", id) {
            val p = Transforms.candlePartials(b).localCheckpoint()
            state = if (state == null) p else Transforms.combineCandlePartials(state.unionByName(p)).localCheckpoint()
            p
          }
          Trace.span("sources.TxTable.gold_commit", id)(gold.appendIdempotent(partials, "stream_ingest", id))
          val t1 = System.nanoTime()
          keys.foreach(r => markers.get((r.getString(0), r.getLong(1))).foreach(committed.putIfAbsent(_, t1)))
          batches.add((t0, t1, ms0, System.currentTimeMillis()))
        }
      } finally { b.unpersist(); () }
    }

    def start(): StreamingQuery = {
      val raw = spark.readStream.schema(envelopeSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong).json(drop.getAbsolutePath)
      val decoded = JsonPayloads.decodeYahooChart(raw.filter(col("fmt") === "yahoo"), "payload", col("symbol"))
        .unionByName(JsonPayloads.decodeAlphaVantageStock(raw.filter(col("fmt") === "av"), "payload", col("symbol")))
      Streaming.dedupStream(decoded, Seq("symbol", "timestamp"), "timestamp", watermarkDelay)
        .writeStream
        .option("checkpointLocation", new java.io.File(dir, "checkpoint").getAbsolutePath)
        .trigger(Trigger.ProcessingTime(triggerMs))
        .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
        .start()
    }
  }

  /** Writes a payload file where the file source cannot see it yet. */
  private def stage(staging: java.io.File, seed: Long, p: Payload): java.io.File = {
    val f = new java.io.File(staging, f"p${p.seq}%06d.json")
    Files.writeString(f.toPath, Gen.envelope(seed, p) + "\n")
    f
  }

  /** Moves a staged file into the watched directory in one rename. */
  private def publish(f: java.io.File, drop: java.io.File): Unit =
    Files.move(f.toPath, new java.io.File(drop, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)

  private def await(cond: => Boolean, q: StreamingQuery, timeoutS: Double, what: String): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > end) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  private def duBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(duBytes).sum).getOrElse(0L) else f.length()

  def run(env: Env): Outcome = {
    val spark = Main.session(env)
    val n1 = (ratePerS * env.seconds * phase1Share).toInt
    val feed = Gen.feed(env.seed, Seq(warmUp, n1, backlog), symbols, windows, lateShare, maxLag)
    val markers = feed.map(p => (p.symbol, Gen.calendarDay(p.endDay)) -> p.seq).toMap
    val warm = feed.take(warmUp)
    val phase1 = feed.slice(warmUp, warmUp + n1)
    val phase2 = feed.drop(warmUp + n1)

    // set-up: fresh lake tables and a started query; five times, as it is short
    var pipeline: Pipeline = null
    var query: StreamingQuery = null
    Main.log("stream_ingest: session started")
    val setups = (1 to 5).map { rep =>
      if (query != null) { query.stop(); query.awaitTermination() }
      Main.timed {
        pipeline = new Pipeline(spark, new java.io.File(env.work, s"stream$rep"), markers)
        query = pipeline.start()
      }._2
    }
    val p = pipeline
    val staging = new java.io.File(env.work, "staging")
    staging.mkdirs()

    // warm-up, untimed: the first batches through the running pipeline
    warm.map(stage(staging, env.seed, _)).foreach(publish(_, p.drop))
    Main.log("stream_ingest: pipeline started")
    await(warm.forall(pl => p.committed.containsKey(pl.seq)), query, 60, "the warm-up payloads")
    Main.log("stream_ingest: warmed")
    val batches0 = p.batches.size
    val staged1 = phase1.map(stage(staging, env.seed, _))
    val staged2 = phase2.map(stage(staging, env.seed, _))

    val probe = if (env.trace) Some(new SparkProbe(spark).register()) else None
    val sentinels = Seq.newBuilder[Double]
    sentinels += Main.sentinelMs(spark)
    val totals0 = probe.map(_.totals())
    Main.log("stream_ingest: set up and warmed")

    // phase 1: open loop, one payload every 1/rate s
    val intervalNs = (1e9 / ratePerS).toLong
    val due = new Array[Long](feed.size)
    val dropped = new Array[Long](feed.size)
    val t0 = System.nanoTime() + 50000000L
    val generator = new Thread(() => {
      phase1.zip(staged1).zipWithIndex.foreach { case ((pl, f), i) =>
        due(pl.seq) = t0 + i * intervalNs
        val wait = due(pl.seq) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        publish(f, p.drop)
        dropped(pl.seq) = System.nanoTime()
      }
    }, "payload-generator")
    generator.start()
    generator.join()
    await(phase1.forall(pl => p.committed.containsKey(pl.seq)), query, 60, "phase 1 payloads")
    sentinels += Main.sentinelMs(spark)

    Main.log("stream_ingest: phase 1 done")

    // phase 2: the whole backlog lands at once
    val batchesBefore = p.batches.size
    val t2 = System.nanoTime()
    staged2.zip(phase2).foreach { case (f, pl) => due(pl.seq) = t2; publish(f, p.drop); dropped(pl.seq) = System.nanoTime() }
    await(phase2.forall(pl => p.committed.containsKey(pl.seq)), query, 120, "the backlog")
    val drainS = (phase2.map(pl => p.committed.get(pl.seq)).max - t2) / 1e9
    val totals1 = probe.map(_.totals())
    sentinels += Main.sentinelMs(spark)
    val liveMb = Main.liveMb()
    query.stop()
    query.awaitTermination()
    Main.log("stream_ingest: drained")

    // correctness: nothing dropped, and gold equals a batch aggregate of the unique bars
    val uniqueBars = feed.flatMap(pl => Gen.bars(env.seed, pl.symbol, pl.endDay, pl.window))
      .map(b => (b.symbol, b.day) -> b).toMap.values.toSeq
    val decodedRows = feed.map(_.window.toLong).sum
    val bronzeRows = p.bronze.snapshot().count()
    val silverRows = p.silver.snapshot().count()
    val expectedDf = spark.createDataFrame(uniqueBars.map(b => Row(
      new java.sql.Timestamp(b.epochSecond * 1000L), b.open, b.high, b.low, b.close, b.volume, b.symbol)).asJava,
      StructType(Seq(StructField("timestamp", TimestampType), StructField("open", DoubleType),
        StructField("high", DoubleType), StructField("low", DoubleType), StructField("close", DoubleType),
        StructField("volume", LongType), StructField("symbol", StringType))))
    val cols = Seq("timestamp", "open", "high", "low", "close", "volume").map(col)
    val expected = Fingerprint.of(Transforms.aggregate(expectedDf, "D", exactSums = true).select(cols: _*))
    val goldPrint = Fingerprint.of(Transforms.mergeCandlePartials(p.gold.snapshot()).select(cols: _*))
    val statePrint = Fingerprint.of(Transforms.mergeCandlePartials(p.state).select(cols: _*))
    val lost = feed.count(pl => !p.committed.containsKey(pl.seq))
    val checks = Seq(
      s"bronze rows $bronzeRows == unique bars ${uniqueBars.size}" -> (bronzeRows == uniqueBars.size),
      s"silver rows $silverRows == unique bars ${uniqueBars.size}" -> (silverRows == uniqueBars.size),
      s"gold $goldPrint == batch aggregate $expected" -> (goldPrint == expected),
      s"folded gold state $statePrint == batch aggregate $expected" -> (statePrint == expected),
      s"$lost payloads never reached gold" -> (lost == 0))

    val measured = phase1 ++ phase2
    val fresh1 = phase1.map(pl => (p.committed.get(pl.seq) - due(pl.seq)) / 1e6)
    val drainBatches = p.batches.asScala.toSeq.drop(batchesBefore)
    val drainBatchMs = drainBatches.map { case (s, e, _, _) => (e - s) / 1e6 }
    val (tailP, tailMs) = Stats.tail(fresh1)
    val lagMs = phase1.map(pl => (dropped(pl.seq) - due(pl.seq)) / 1e6)
    val sentinel = sentinels.result()
    val dupShare = 1.0 - uniqueBars.size.toDouble / decodedRows
    println(f"stream_ingest: ${measured.size} payloads ($ratePerS/s open loop, then a backlog of $backlog), " +
      f"duplicate share $dupShare%.3f, late share ${feed.count(_.late).toDouble / feed.size}%.3f, " +
      f"top-symbol share ${feed.groupBy(_.symbol).values.map(_.size).max.toDouble / feed.size}%.3f, " +
      f"freshness tail = p${tailP.toInt}, generator lag max ${lagMs.max}%.1f ms, " +
      s"sentinel_ms = ${sentinel.map(v => f"$v%.1f").mkString("[", ",", "]")}")

    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("latency_ms", Stats.median(fresh1), "ms"),
      Metric("throughput_per_s", phase2.map(_.window).sum / drainS, "1/s"),
      Metric("live_mb", liveMb, "MB"))
    val named = Seq(
      Metric("peak_rss_mb", Main.peakRssMb(), "MB"),
      Metric("error_ratio", (lost + checks.count(!_._2)).toDouble / measured.size, "ratio"),
      Metric("freshness_p50_s", Stats.median(fresh1) / 1e3, "s"),
      Metric(s"freshness_p${tailP.toInt}_s", tailMs / 1e3, "s"),
      Metric("drain_rows_per_s", phase2.map(_.window).sum / drainS, "1/s"),
      Metric("drain_batch_p50_ms", Stats.median(drainBatchMs), "ms"))

    val layer = probe.map { pr =>
      val spans = Trace.all
      val self = Trace.selfTimes(spans)
      val t = totals1.get - totals0.get
      val progress = pr.progresses.filter(_.numInputRows > 0)
      def dur(k: String): Double =
        if (progress.isEmpty) 0.0 else Stats.median(progress.map(g => g.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
      val batches = p.batches.asScala.toSeq.drop(batches0)
      val commits = batches.map(_._2)
      val backlogMax = commits.map(c => dropped.count(d => d > 0 && d <= c) -
        p.committed.asScala.count { case (seq, t) => seq >= warmUp && t <= c }).max
      val driverS = batches.map { case (_, _, ms0, ms1) => pr.uncoveredMs(ms0, ms1) }.sum / 1e3
      val states = progress.flatMap(_.stateOperators.toSeq)
      val inputBytes = duBytes(p.drop).toDouble
      Seq(
        Metric("streaming.trigger_ms", dur("triggerExecution"), "ms"),
        Metric("streaming.add_batch_ms", dur("addBatch"), "ms"),
        Metric("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
        Metric("streaming.offsets_ms", dur("latestOffset"), "ms"),
        Metric("streaming.wal_commit_ms", dur("walCommit"), "ms"),
        Metric("streaming.batches", progress.size.toDouble, "count"),
        Metric("streaming.files_per_batch", if (progress.isEmpty) 0 else Stats.median(progress.map(_.numInputRows.toDouble)), "count"),
        Metric("streaming.backlog_max_files", backlogMax.toDouble, "count"),
        Metric("streaming.state_rows", if (states.isEmpty) 0 else states.map(_.numRowsTotal).max.toDouble, "count"),
        Metric("streaming.state_mb", if (states.isEmpty) 0 else states.map(_.memoryUsedBytes).max / 1048576.0, "MB"),
        Metric("generator.lag_ms", lagMs.max, "ms"),
        Metric("sources.TxTable.bronze_append_ms", Trace.medianMs(spans, "sources.TxTable.bronze_append"), "ms"),
        Metric("sources.TxTable.silver_append_ms", Trace.medianMs(spans, "sources.TxTable.silver_append"), "ms"),
        Metric("sources.TxTable.gold_commit_ms", Trace.medianMs(spans, "sources.TxTable.gold_commit"), "ms"),
        Metric("sources.TxTable.bytes_per_input_byte", duBytes(new java.io.File(p.lake)) / inputBytes, "ratio"),
        Metric("operators.Transforms.gold_fold_ms", Trace.medianMs(spans, "operators.Transforms.gold_fold"), "ms"),
        Metric("operators.Transforms.survivor_ratio", bronzeRows.toDouble / decodedRows, "ratio"),
        Metric("stream.batch_self_ms", Trace.medianSelfMs(spans, self, "stream.batch"), "ms"),
        Metric("spark.jobs_per_batch", t.jobs.toDouble / math.max(1, batches.size), "count")) ++
        SparkProbe.layerMetrics(t, driverS, SparkProbe.cachedMb(spark), Stats.median(sentinel))
    }.getOrElse(Nil)

    Outcome(measured.size.toLong, lost.toLong, checks, endToEnd, named, layer)
  }
}
