package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("percentiles are nearest-rank values of the sample") {
    val xs = (1 to 10).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.median(Seq(3.0)) == 3.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    def tailP(n: Int): Double = Stats.tail((1 to n).map(_.toDouble))._1
    assert(tailP(1000) == 99)
    assert(tailP(200) == 95)
    assert(tailP(199) == 90) // p95 would leave only 9 beyond
    assert(tailP(100) == 90)
    assert(tailP(40) == 75)
    assert(tailP(39) == 50)
    assert(Stats.tail((1 to 100).map(_.toDouble)) == ((90.0, 90.0)))
    for (n <- 1 to 300) {
      val (p, _) = Stats.tail((1 to n).map(_.toDouble))
      if (p > 50) assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
      Stats.tailCandidates.filter(_ > p).foreach(q => assert(Stats.beyond(n, q) < 10, s"n=$n q=$q"))
    }
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))) == 25)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, "parent", -1, 0, 100),
      Span(2, 1, "a", -1, 10, 50),
      Span(3, 1, "b", -1, 30, 70), // overlaps a
      Span(4, 1, "c", -1, 90, 120), // runs past the parent's end
      Span(5, 2, "grandchild", -1, 20, 40))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 60 - 10)
    assert(self(2) == 40 - 20)
    assert(self(3) == 40)
    assert(self(4) == 30)
    assert(self(5) == 20)
  }

  test("spans nest on one thread and are only recorded when tracing is on") {
    Trace.reset()
    Trace.enabled = false
    assert(Trace.span("off")(42) == 42)
    assert(Trace.all.isEmpty)
    Trace.enabled = true
    try {
      Trace.span("outer", 7) { Trace.span("inner", 7)(()) }
      val byName = Trace.all.map(s => s.name -> s).toMap
      assert(byName("inner").parent == byName("outer").id)
      assert(byName("outer").parent == 0)
      assert(byName.values.forall(_.req == 7))
    } finally { Trace.enabled = false; Trace.reset() }
  }

  test("one seed always generates the same inputs; another seed others") {
    val w = StreamIngest.windows
    val a = Gen.feed(11, Seq(300), 50, w, 0.1, 3)
    assert(a == Gen.feed(11, Seq(300), 50, w, 0.1, 3))
    assert(a != Gen.feed(12, Seq(300), 50, w, 0.1, 3))
    assert(a.take(20).map(Gen.envelope(11, _)) == Gen.feed(11, Seq(300), 50, w, 0.1, 3).take(20).map(Gen.envelope(11, _)))
    assert(Gen.bar(5, "SYM01", 40) == Gen.bar(5, "SYM01", 40))
    assert(LakeApi.fetch(5)("https://x/chart/K0-USD", Map.empty) == LakeApi.fetch(5)("https://x/chart/K0-USD", Map.empty))
    val ops = (s: Long) => { val c = new LakeApi.Client(s, 0, Seq(LakeApi.Landed("bronze", "x", 1)))
      (1 to 50).map(_ => c.next().path) }
    assert(ops(3) == ops(3))
  }

  test("every payload's newest bar first arrives with that payload") {
    val feed = Gen.feed(3, Seq(400), 50, StreamIngest.windows, 0.2, 3)
    assert(feed.exists(_.late))
    assert(feed.map(_.window).toSet == StreamIngest.windows.values.toSet)
    assert(feed.map(p => (p.symbol, p.endDay)).distinct.size == feed.size)
    feed.zipWithIndex.foreach { case (p, i) =>
      assert(!feed.take(i).exists(_.covers(p.symbol, p.endDay)), s"payload $i")
    }
  }

  test("every seed polls the same symbols per phase, the sources spread evenly") {
    val c = Gen.zipfCounts(24, 50, 1.1)
    assert(c.sum == 24 && c == c.sortBy(-_))
    val phases = Seq(8, 24, 48)
    def perPhase(seed: Long) = {
      val f = Gen.feed(seed, phases, 50, StreamIngest.windows, 0.1, 3)
      phases.scanLeft(0)(_ + _).sliding(2).map { case Seq(a, b) => f.slice(a, b).map(_.symbol).sorted }.toList
    }
    assert(perPhase(1) == perPhase(2))
    assert(Gen.interleave(Seq("a", "a"), Seq("b", "b", "b", "b")) == Seq("b", "b", "a", "b", "b", "a"))
    assert(Gen.interleave(Seq(1, 2, 3), Nil) == Seq(1, 2, 3))
  }

  test("bars fall on weekdays, one per trading day") {
    val days = (-12 to 12).map(d => Gen.bar(1, "SYM01", d).date)
    assert(days.forall(d => d.getDayOfWeek.getValue <= 5))
    assert(days.distinct.size == days.size && days == days.sorted)
    assert(Gen.bar(1, "SYM01", 0).date == java.time.LocalDate.ofEpochDay(Gen.epochDay0))
  }

  test("a lake_api deck holds one write in seven and its reads rotate over the datasets") {
    val landed = (0 until 5).map(i => LakeApi.Landed("bronze", s"d$i", i.toLong))
    val c = new LakeApi.Client(9, 2, landed)
    val ops = (1 to 7 * 10).map { i => val op = c.next(); assert(c.midDeck == (i % 7 != 0)); op }
    ops.grouped(7).foreach(deck => assert(deck.count(_.write) == 1))
    val dataReads = ops.filter(_.route == "data").map(_.path)
    assert(dataReads.groupBy(identity).values.map(_.size).toSet == Set(dataReads.size / landed.size))
  }

  test("the query sample covers every family; the seed only orders it") {
    val prefixes = Seq("q_stream_x", "q_sft_x", "q_tpch_q", "q_warc_x", "q_embed_x", "q_dedup_x",
      "q_token_x", "q_catalog_x", "q_returns_x")
    val all = prefixes.flatMap(p => (1 to 20).map(i =>
      QuerySuite.Expected(s"$p$i", Fingerprint.Print(1, "0"), i.toDouble)))
    assert(all.map(e => QuerySuite.familyOf(e.name)).toSet == QuerySuite.familyNames.toSet)
    val a = QuerySuite.sample(all, 8)
    assert(a.size == 9 * 3)
    assert(a.map(_.costS) == a.map(_.costS).sorted)
    assert(a.map(e => QuerySuite.familyOf(e.name)).toSet == QuerySuite.familyNames.toSet)
    // one query from the middle of each third of a family's cost order
    assert(a.filter(_.name.startsWith("q_sft_")).map(_.costS) == Seq(4.0, 11.0, 17.0))
    assert(QuerySuite.shuffled(a, 4) == QuerySuite.shuffled(a, 4))
    assert(QuerySuite.shuffled(a, 4) != QuerySuite.shuffled(a, 5))
    assert(QuerySuite.shuffled(a, 4).sortBy(_.name) == a.sortBy(_.name))
  }

  test("per-layer results name exactly the metrics BENCHMARK.json declares") {
    val declared = Main.declaredLayers(new java.io.File("..").getAbsoluteFile)
    assert(declared.map(_._1).contains("trace.recorder_ms"))
    val done = Main.complete(Seq(Metric("spark.jobs", 3, "count")), declared)
    assert(done.map(_.name) == declared.map(_._1))
    assert(done.find(_.name == "spark.jobs").get.value == 3)
    assert(done.filter(_.name != "spark.jobs").forall(_.value == 0))
    intercept[IllegalArgumentException](Main.complete(Seq(Metric("no.such", 1, "ms")), declared))
  }

  test("fingerprints ignore row order but not content") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val df = (1 to 500).map(i => (i, s"v${i % 7}", i * 0.5, Seq(i, i + 1))).toDF("a", "b", "c", "a")
      val p = Fingerprint.of(df)
      assert(p.rows == 500)
      assert(Fingerprint.of(df.orderBy(col("c").desc)) == p)
      assert(Fingerprint.of(df.repartition(7)) == p)
      assert(Fingerprint.of(df.limit(499)) != p)
      assert(Fingerprint.of(df.union(df.limit(1))).rows == 501)
      assert(Fingerprint.of(df.withColumn("b", org.apache.spark.sql.functions.concat(col("b"), col("b")))) != p)
    } finally spark.stop()
  }
}
