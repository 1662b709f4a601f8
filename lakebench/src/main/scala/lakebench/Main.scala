package lakebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --root <checkout> --work <dir>`.
  *
  * Closed loop, one client thread: set up (session, warm-up, seeded
  * inputs, initial tables), then run the workload's operation back to
  * back until `--seconds` have passed, then check every output against
  * a plain-Spark reference. The last stdout line is one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}` — the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, root: String, work: String) {
    val cpus: Int = Runtime.getRuntime.availableProcessors()
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    java.util.Locale.setDefault(java.util.Locale.ROOT) // generated numbers use '.'
    val args = parse(argv)
    val spark = session(args)
    val code =
      try { run(spark, args, t0); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      root = need("root"),
      work = need("work"))
  }

  private def session(a: Args): SparkSession = {
    val local = Paths.get(a.work, "spark-local")
    Files.createDirectories(local)
    val s = graft.GraftSession.builder(s"local[${a.cpus}]", a.cpus)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.work, "spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(spark: SparkSession, a: Args, t0: Long): Unit = {
    val wl: Workload = a.workload match {
      case "medallion_cdc" => new MedallionCdc(spark, a)
      case "corpus_curate" => new CorpusCurate(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val tracer = new Tracer(spark, wl.warehouse.root)
    log(f"session ready: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    wl.setup(tracer)
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"${a.workload}: setup ${setupS}%.2f s")

    if (a.trace) tracer.start()
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    var thrown = 0
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var liveMb = 0.0
    // the root span: its self time is the benchmark's own landing,
    // generation and checking
    val checks = tracer.span("bench") {
      while (System.nanoTime() < deadline) {
        try wl.step().foreach { op => ops += op; log(f"${op.kind} ${op.nanos / 1e6}%.0f ms") }
        catch { case e: Exception => thrown += 1; log(s"operation failed: $e") }
      }
      liveMb = liveHeapMb()
      timed("checks")(wl.check())
    }
    tracer.stop()
    checks.filterNot(_._2).foreach { case (name, _) => log(s"check FAILED: $name") }
    val failedChecks = checks.count(!_._2)
    val (reads, writes) = ops.toSeq.partition(o => Reads.Kinds.contains(o.kind))
    val attempted = ops.size + thrown + checks.size
    val failed = thrown + failedChecks
    log(s"${a.workload}: ${ops.size} operations, $thrown thrown, " +
      s"${checks.size} checks, $failedChecks failed")

    val metrics: Seq[(String, Double, String)] =
      if (a.trace) {
        val own = wl.layerMetrics(tracer) ++ Map(
          "warehouse.space_amp" -> spaceAmp(tracer, wl),
          "traced.op_p50_ms" -> p50Ms(writes), "traced.read_p50_ms" -> p50Ms(reads),
          "process.peak_rss_mb" -> peakRssMb())
        tracer.metrics ++ ExtraLayerMetrics.map { case (n, u) => (n, own.getOrElse(n, 0.0), u) }
      } else Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", p50Ms(writes), "ms"),
        ("read_p50_ms", p50Ms(reads), "ms"),
        ("items_per_s", writes.map(_.items).sum / math.max(1e-9, writes.map(_.nanos).sum / 1e9), "1/s"),
        ("heap_live_mb", liveMb, "MB"))
    println(Json.result(failed == 0, attempted, failed, metrics))
  }

  /** Per-layer metrics beyond the per-span ones; a workload that does
    * not exercise a layer reports 0.
    */
  val ExtraLayerMetrics: Seq[(String, String)] = Seq(
    "ingest.bronze_cdc.rewrite_ratio" -> "ratio",
    "catalog.lookup.files_scanned_frac" -> "ratio",
    "catalog.scan.files_scanned_frac" -> "ratio",
    "dedup.exact.recall" -> "ratio",
    "dedup.minhash.recall" -> "ratio",
    "dedup.containment.recall" -> "ratio",
    "warehouse.write_amp" -> "ratio",
    "warehouse.space_amp" -> "ratio",
    "traced.op_p50_ms" -> "ms",
    "traced.read_p50_ms" -> "ms",
    "process.peak_rss_mb" -> "MB")

  /** Bytes under the warehouse root ÷ bytes of current-version data files. */
  private def spaceAmp(t: Tracer, wl: Workload): Double = {
    val live = wl.tables.filter(wl.warehouse.exists)
      .map(r => Tracer.sizeOf(wl.warehouse.dataFiles(r))).sum
    t.walk().values.map(_._1).sum / math.max(1.0, live.toDouble)
  }

  /** Median latency per operation kind, combined across kinds by the
    * geometric mean (each kind weighs the same however often it ran).
    */
  def p50Ms(ops: Seq[Op]): Double = {
    val medians = ops.groupBy(_.kind).values.map(o => Stats.median(o.map(_.nanos / 1e6)))
    if (medians.isEmpty) 0.0 else math.exp(medians.map(math.log).sum / medians.size)
  }

  /** Heap the program still holds after the measured operations
    * (caches, checkpoints, logs), after a full collection.
    */
  private def liveHeapMb(): Double = {
    // storage released with non-blocking unpersists leaves asynchronously
    System.gc(); Thread.sleep(500); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return Runtime.getRuntime.totalMemory() / 1048576.0
    scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
  }

  def log(msg: String): Unit = System.err.println(s"[lakebench] $msg")

  /** Run `body`, logging its wall time to stderr. */
  def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally log(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

/** One completed closed-loop operation. `items` is the work it carried
  * (raw CDC rows, reads, input documents) — the numerator of
  * `items_per_s`.
  */
final case class Op(kind: String, nanos: Long, items: Long)

trait Workload {
  def warehouse: graft.catalog.Warehouse
  /** Every table the workload writes. */
  def tables: Seq[graft.catalog.TableRef]
  /** Seeded inputs, initial tables and warm-up; timed as set-up. */
  def setup(tracer: Tracer): Unit
  /** One closed-loop operation, then reads of the table it wrote. */
  def step(): Seq[Op]
  /** Named output checks, run after the measured window. */
  def check(): Seq[(String, Boolean)]
  /** Workload-specific entries of [[Main.ExtraLayerMetrics]] (traced runs only). */
  def layerMetrics(tracer: Tracer): Map[String, Double]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
