package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One process, `local[4]`, 4 shuffle partitions.
  *
  * {{{
  *   perfbench.Main --workload <bulk_replay|repo_stream>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> [--size bench|tiny]
  * }}}
  *
  * Prints the result object as the last stdout line. With `--trace 0` it
  * holds the end-to-end metrics; with `--trace 1` the per-layer metrics of
  * a traced run (spans written to `<work>/traces/`). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, size: Size)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.names.contains(w), s"unknown workload '$w' (${Workload.names.mkString("|")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), Size(m.getOrElse("size", "bench")))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val report = new Report
    val wl = Workload(a)

    // --- set-up, repeated; setup_s is the median. Input generation on a
    // cache miss is timed separately and left out of every setup sample.
    var spark: SparkSession = null
    val setupSamples = mutable.ArrayBuffer[Double]()
    (0 until a.size.setups).foreach { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a)
      val g0 = System.nanoTime()
      val hit = Inputs.ensure(spark, a.work, a.workload, a.size, a.seed)
      val genNs = if (hit) 0L else System.nanoTime() - g0
      if (!hit) System.err.println(f"[perfbench] generated inputs in ${genNs / 1e9}%.1f s")
      FileUtils.deleteQuietly(new File(s"${a.work}/tables"))
      val w0 = System.nanoTime()
      wl.setup(spark, report)
      setupSamples += (System.nanoTime() - t0 - genNs) / 1e9
      System.err.println(f"[perfbench] setup $i: session+inputs ${(w0 - t0 - genNs) / 1e9}%.2f s, " +
        f"load+warm-up ${(System.nanoTime() - w0) / 1e9}%.2f s")
    }
    System.err.println(s"[perfbench] setup samples: ${setupSamples.map(s => f"$s%.2f").mkString(" ")}")
    val p0 = System.nanoTime()
    wl.prepare(spark)
    System.err.println(f"[perfbench] prepare ${(System.nanoTime() - p0) / 1e9}%.2f s")

    if (!a.trace) {
      val samples = wl.loop(spark, report, a.seconds)
      wl.finish(spark, report)
      samples.e2e(report, setupSamples.toSeq)
    } else {
      // rounds alternate traced and untraced: per-layer numbers come from
      // the traced rounds, the tracing overhead from both kinds
      val counters = new SparkCounters
      val streams = new StreamCounters(Some(counters))
      Trace.runId = s"${a.workload}-s${a.seed}"
      Trace.attach(spark.sparkContext)
      spark.sparkContext.addSparkListener(counters)
      spark.streams.addListener(streams)
      val traced = new Samples
      val plain = wl.loop(spark, report, a.seconds, Some((traced, streams)))
      Trace.enabled = true
      val probes = Trace.span("bench.probes") { wl.probes(spark) }
      val fin = Trace.span("bench.finish") { wl.finish(spark, report) }
      Trace.enabled = false
      // the listener bus delivers job-end events asynchronously
      val deadline = System.nanoTime() + 5000000000L
      while (!counters.idle && System.nanoTime() < deadline) Thread.sleep(20)
      val spans = Trace.benchSpans(Trace.spans)
      new Layers(spans, counters, traced, plain).report(report, probes, fin)
      val out = Paths.get(a.work, "traces", s"${Trace.runId}.jsonl")
      Files.createDirectories(out.getParent)
      Files.write(out, Trace.toJsonLines(spans).mkString("\n").getBytes("UTF-8"))
      System.err.println(s"[perfbench] ${spans.size} spans written to $out")
    }
    spark.stop()
    println(report.json)
  }
}
