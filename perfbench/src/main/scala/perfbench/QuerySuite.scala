package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `query_suite`: a per-family sample of `SparkEntry.queries` over the
  * committed sf0.01 tables: one cold pass in a fresh process and session,
  * then warm passes in the same session, each in a seeded order, until
  * `--seconds` after the cold pass began (at least one). Every output is checked against
  * the fingerprint recorded in `perfbench/fingerprints.tsv`.
  */
object QuerySuite {

  /** Query families by name, first match wins; anything else is `fin`
    * (the time-series and event analytics that make up the financial core).
    */
  val families: Seq[(String, scala.util.matching.Regex)] = Seq(
    "stream" -> "^q_stream_".r,
    "sft" -> "^q_sft_".r,
    "tpch" -> "^q_tpch_".r,
    "web" -> "warc|wet_|wat_|cc_triptych|url_|domain|html|psl_|robots|sitemap|crawl|frontier|http_|charset|redirect|main_content".r,
    "vector" -> "embed|ann_|ivf|pq_|bq_|kmeans|kcenters|pca_|knn|mmr|hybrid|retrieval|semdedup|perceptron".r,
    "dedup" -> "dedup|minhash|simhash|winnow|jaccard|containment|dup_|erasure|fingerprints|nfc_|image|audio|media|multimodal|video|png_|jpeg|gif_|aiff".r,
    "text" -> "bpe_|token|ngram|bigram|text_|lang_id|tfidf|bm25|vocab|chi2|feature_hash|source_|corpus|curation|quality|pii|decontaminate|split_|mixture|temperature|dsir|char_entropy|repetition|doc_rarity|zipf|boilerplate|chunk|pack_|shard|subword|curriculum|stratified|length|global_shuffle|caps_report".r,
    "lake" -> "catalog|wap_|lake_|table_|orc_|jsonl|transform_pipeline|zorder|stats_manifest|compact|partition|pruned|csv_|serve_|dataset_info|symbols_cap|av_|yahoo|polygon|schema_evolution|cdc|scd2|union_sources|analyze_table|data_checks".r)

  val familyNames: Seq[String] = families.map(_._1) :+ "fin"

  def familyOf(name: String): String =
    families.collectFirst { case (f, re) if re.findFirstIn(name).isDefined => f }.getOrElse("fin")

  /** One recorded query: expected fingerprint and its cost in the recording
    * run, which orders the queries inside a family for sampling.
    */
  final case class Expected(name: String, print: Fingerprint.Print, costS: Double)

  def loadExpected(root: java.io.File): Seq[Expected] = {
    val src = scala.io.Source.fromFile(new java.io.File(root, "perfbench/fingerprints.tsv"), "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(n, rows, hash, cost) = l.split('\t')
      Expected(n, Fingerprint.Print(rows.toLong, hash), cost.toDouble)
    }.toVector
    finally src.close()
  }

  /** About one in `stride` queries of each family (at least one): the
    * queries at the middle of equal slices of the family in order of
    * recorded cost, so the sample covers every family and its cost range;
    * cheapest first, the order of the cold pass. The sample and the cold
    * order are the same for every seed: the process's first-use costs,
    * most of a cold pass, land on the queries that run first, and a sample
    * or cold order that changed with the seed moved the cold figures by a
    * fifth to a half between seeds.
    */
  def sample(all: Seq[Expected], stride: Int): Seq[Expected] =
    all.groupBy(e => familyOf(e.name)).toSeq.sortBy(_._1).flatMap { case (_, members) =>
      val sorted = members.sortBy(e => (e.costS, e.name))
      val k = math.max(1, math.round(sorted.size.toDouble / stride).toInt)
      (0 until k).map(j => sorted(((j + 0.5) * sorted.size / k).toInt))
    }.sortBy(e => (e.costS, e.name))

  /** The sample in the seed's order, for the warm passes. */
  def shuffled(sample: Seq[Expected], seed: Long): Seq[Expected] =
    sample.sortBy(e => scala.util.hashing.MurmurHash3.stringHash(e.name, seed.toInt))

  val stride = 50

  private val tableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Set-up: a new session (no SessionCache entries) whose catalog has
    * read every table's footer. */
  private def setUp(spark: SparkSession, env: Env): SparkSession = {
    val s = spark.newSession()
    tableNames.foreach(t => s.read.parquet(s"${env.tablesDir}/$t.parquet").schema)
    s
  }

  final case class Timing(name: String, buildS: Double, execS: Double, startMs: Long, endMs: Long, ok: Boolean) {
    def totalS: Double = buildS + execS
  }

  private def runOne(spark: SparkSession, env: Env, q: Expected,
      fns: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      pass: String, i: Int): Timing = {
    val startMs = System.currentTimeMillis()
    try {
      Trace.span(s"SparkEntry.query.$pass", i) {
        val (df, buildS) = Main.timed(Trace.span("SparkEntry.build", i)(fns(q.name)(spark, env.tablesDir)))
        val (fp, execS) = Main.timed(Trace.span("SparkEntry.exec", i)(Fingerprint.of(df)))
        if (fp != q.print) println(s"mismatch ${q.name} ($pass): got $fp, expected ${q.print}")
        Timing(q.name, buildS, execS, startMs, System.currentTimeMillis(), fp == q.print)
      }
    } catch {
      case e: Throwable =>
        println(s"error ${q.name} ($pass): ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        Timing(q.name, 0, 0, startMs, System.currentTimeMillis(), ok = false)
    }
  }

  def run(env: Env): Outcome = {
    val expected = loadExpected(env.root)
    val picked = sample(expected, stride)
    val fns = SparkEntry.queries
    val missing = picked.filterNot(q => fns.contains(q.name))

    val base = Main.session(env)
    val (sessions, setups) = (1 to 3).map(_ => Main.timed(setUp(base, env))).unzip
    val spark = sessions.last
    Main.log("query_suite: set up")
    val probe = if (env.trace) Some(new SparkProbe(spark).register()) else None
    val sentinels = Seq.newBuilder[Double]
    sentinels += Main.sentinelMs(spark)

    val runnable = picked.filter(q => fns.contains(q.name))
    val t0 = probe.map(_.totals())
    val coldStart = System.nanoTime()
    val (cold, suiteColdS) = Main.timed(runnable.zipWithIndex.map { case (q, i) => runOne(spark, env, q, fns, "cold", i) })
    val coldTotals = for (p <- probe; a <- t0) yield p.totals() - a
    val cachedMb = SparkProbe.cachedMb(spark)
    // read after the cold pass, which runs in the same order for every seed:
    // what the warm passes leave behind follows which query ran last
    val liveMb = Main.liveMb()
    sentinels += Main.sentinelMs(spark)

    // warm passes until --seconds after the cold pass began; at least one
    val deadline = coldStart + (env.seconds * 1e9).toLong
    val warmPasses = Seq.newBuilder[(Seq[Timing], Double)]
    var passes = 0
    while (passes == 0 || System.nanoTime() + (suiteColdS * 0.5 * 1e9).toLong < deadline) {
      warmPasses += Main.timed(shuffled(runnable, env.seed + passes).map(q => runOne(spark, env, q, fns, "warm", runnable.indexOf(q))))
      passes += 1
    }
    val warm = warmPasses.result()
    Main.log("query_suite: passes done")
    sentinels += Main.sentinelMs(spark)

    val attempted = runnable.size + warm.map(_._1.size).sum
    val failed = missing.size + cold.count(!_.ok) + warm.map(_._1.count(!_.ok)).sum
    val coldS = cold.map(_.totalS)
    val warmPerQuery = runnable.map(q => Stats.median(warm.map(_._1.find(_.name == q.name).get.totalS)))
    val suiteWarmS = Stats.median(warm.map(_._2))
    val (tailP, tailS) = Stats.tail(coldS)
    val setupS = Stats.median(setups)
    val rss = Main.peakRssMb()
    val sentinel = sentinels.result()
    println(s"query_suite: ${runnable.size} queries (${runnable.map(_.name).mkString(",")}), " +
      s"$passes warm passes, cold tail = p${tailP.toInt}, sentinel_ms = ${sentinel.map(v => f"$v%.1f").mkString("[", ",", "]")}")

    val endToEnd = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("latency_ms", Stats.median(coldS) * 1e3, "ms"),
      Metric("throughput_per_s", runnable.size / suiteColdS, "1/s"),
      Metric("live_mb", liveMb, "MB"))
    val named = Seq(
      Metric("peak_rss_mb", rss, "MB"),
      Metric("error_ratio", failed.toDouble / math.max(1, attempted), "ratio"),
      Metric("query_cold_p50_s", Stats.median(coldS), "s"),
      Metric(s"query_cold_p${tailP.toInt}_s", tailS, "s"),
      Metric("query_warm_p50_s", Stats.median(warmPerQuery), "s"),
      Metric("suite_cold_s", suiteColdS, "s"),
      Metric("suite_warm_s", suiteWarmS, "s"))

    val layer = probe.map { p =>
      val buildS = cold.map(_.buildS).sum
      val execS = cold.map(_.execS).sum
      val driverS = cold.map(t => p.uncoveredMs(t.startMs, t.endMs)).sum / 1e3
      val byFamily = cold.groupBy(t => familyOf(t.name)).map { case (f, ts) => f -> ts.map(_.totalS).sum }
      Seq(
        Metric("SparkEntry.build_s", buildS, "s"),
        Metric("SparkEntry.exec_s", execS, "s"),
        Metric("SparkEntry.build_share", buildS / math.max(1e-9, buildS + execS), "ratio")) ++
        familyNames.map(f => Metric(s"SparkEntry.family.$f.cold_s", byFamily.getOrElse(f, 0.0), "s")) ++
        Seq(Metric("SessionCache.cold_minus_warm_s", suiteColdS - suiteWarmS, "s")) ++
        SparkProbe.layerMetrics(coldTotals.get, driverS, cachedMb, Stats.median(sentinel))
    }.getOrElse(Nil)

    Outcome(attempted, failed, Seq("sample queries all recorded" -> missing.isEmpty), endToEnd, named, layer)
  }

  /** Runs every query once and writes, under `out`: `fingerprints.tsv`, each
    * output as parquet, and the DuckDB duals as `oracle_sql.json`, so that
    * the recorded fingerprints can be checked with tools/check_oracle.py.
    */
  def record(env: Env, out: String): Unit = {
    val spark = Main.session(env)
    new java.io.File(out).mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(out, "fingerprints.tsv"), "UTF-8")
    try SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val ((df, fp), s) = Main.timed { val df = fn(spark, env.tablesDir); (df, Fingerprint.of(df)) }
        w.println(f"$name\t${fp.rows}\t${fp.hash}\t$s%.3f"); w.flush()
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      } catch {
        case e: Throwable => println(s"record: $name failed: ${e.getMessage}")
      }
    } finally w.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      mapper.writeValueAsString(new java.util.TreeMap[String, String](
        scala.jdk.CollectionConverters.MapHasAsJava(SparkEntry.oracleSql).asJava)))
    spark.stop()
  }
}
