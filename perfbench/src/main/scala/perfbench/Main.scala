package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Settings of one run, from the command line. */
final case class Env(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: java.io.File, work: java.io.File, cpus: Int) {
  /** The committed sf0.01 tables that `SparkEntry.queries` read. */
  def tablesDir: String = new java.io.File(root, "perfbench/tables").getAbsolutePath
}

/** Benchmark entry point: runs one workload and prints its figures. The last
  * stdout line is `PERFBENCH_RESULT {json}`, which run.py turns into the
  * benchmark's result line.
  */
object Main {

  def session(env: Env): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${env.cpus}]")
      .appName(s"perfbench-${env.workload}")
      .config("spark.sql.shuffle.partitions", env.cpus.toString)
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a short history of finished jobs, stages and SQL executions, so the
      // status store's size does not follow how many the run got through
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.local.dir", new java.io.File(env.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(env.work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File(env.work, "hadoop").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Wall time of a fixed trivial job, in ms. Read at the start, between
    * phases and at the end: a noisy host shows as a spread in these readings.
    */
  def sentinelMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(100000).selectExpr("sum(id) AS s").collect()
    (System.nanoTime() - t0) / 1e6
  }

  /** Heap in use after a full collection plus class metadata, in MB: the
    * memory the run still holds. The JIT's code cache is left out, as its
    * size follows how far compilation got in the run's time.
    */
  def liveMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filterNot(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line with the time since the JVM started, to stderr. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs] $msg")

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The per-layer metrics BENCHMARK.json declares, as (name, unit). */
  def declaredLayers(root: java.io.File): Seq[(String, String)] = {
    val j = new ObjectMapper().readTree(new java.io.File(root, "BENCHMARK.json"))
    j.path("per_layer").elements().asScala.map(m => m.path("name").asText() -> m.path("unit").asText()).toSeq
  }

  /** `measured` completed with a 0 for every declared metric the workload
    * does not report (for example the streaming metrics on `lake_api`).
    */
  def complete(measured: Seq[Metric], declared: Seq[(String, String)]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- declared.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from BENCHMARK.json: ${unknown.mkString(", ")}")
    declared.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val env = Env(
      workload = a("workload"), seed = a("seed").toLong, seconds = a("seconds").toInt,
      trace = a.getOrElse("trace", "0") == "1",
      root = new java.io.File(a("root")).getAbsoluteFile,
      work = new java.io.File(a("work")).getAbsoluteFile,
      cpus = Runtime.getRuntime.availableProcessors())
    Trace.enabled = env.trace
    env.work.mkdirs()

    if (env.workload == "record") { QuerySuite.record(env, a("out")); return }

    log(s"${env.workload}: started")
    val outcome = env.workload match {
      case "stream_ingest" => StreamIngest.run(env)
      case "lake_api"      => LakeApi.run(env)
      case "query_suite"   => QuerySuite.run(env)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    log(s"${env.workload}: measured")
    val traceMetrics = if (!env.trace) Nil else {
      val spans = Trace.all.size
      Trace.write(new java.io.File(env.work, "trace.jsonl"))
      Seq(Metric("trace.spans", spans.toDouble, "count"),
        Metric("trace.recorder_ms", spans * Trace.costNs() / 1e6, "ms"))
    }

    outcome.checks.filterNot(_._2).foreach { case (c, _) => println(s"check failed: $c") }
    (outcome.endToEnd ++ outcome.named).foreach(m => println(f"metric ${m.name} ${m.value}%.6f ${m.unit}"))
    def obj(ms: Seq[Metric]) = ms.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap
    val result = Map(
      "correct" -> outcome.correct, "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "end_to_end" -> obj(outcome.endToEnd),
      "per_layer" -> obj(if (env.trace) complete(outcome.layer ++ traceMetrics, declaredLayers(env.root)) else Nil),
      "named" -> obj(outcome.named))
    println("PERFBENCH_RESULT " + new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }
}
