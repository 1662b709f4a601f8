package lakebench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into the program's layers.
  *
  * Off by default: `span` then only runs its body. After [[start]],
  * every span records wall time, self time (wall time minus the time
  * its child spans cover), and the Spark jobs, shuffle bytes and spill
  * bytes of the work submitted while it was the innermost open span —
  * attributed through a thread-local Spark property that the listener
  * reads back from each job. Write-bearing spans additionally walk the
  * warehouse directory before and after, counting the files and bytes
  * they left under it. Spans aggregate by name, in memory, and are
  * reported once at the end.
  */
final class Tracer(spark: SparkSession, warehouseRoot: String) {
  import Tracer._

  final class Agg {
    val calls, busyNs, selfNs, jobs, shuffleBytes, spillBytes = new AtomicLong
    val bytesWritten, filesWritten, dataBytesWritten = new AtomicLong
  }

  private val aggs = new ConcurrentHashMap[String, Agg]()
  Spans.foreach(s => aggs.put(s, new Agg))
  private def agg(name: String) = aggs.computeIfAbsent(name, _ => new Agg)

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .getOrElse(Root)
      agg(span).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageSpan.put(id, span))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val a = agg(stageSpan.getOrDefault(e.stageId, Root))
        a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.diskBytesSpilled)
      }
  }

  private final class Open(val name: String, val startNs: Long) { var childNs = 0L }
  private var stack: List[Open] = Nil
  @volatile private var active = false

  def enabled: Boolean = active

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    active = true
  }

  /** Stop recording; waits until the listener has seen every event. */
  def stop(): Unit = if (active) {
    active = false
    org.apache.spark.lakebench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  def span[T](name: String, writes: Boolean = false)(body: => T): T = {
    if (!active) return body
    val before = if (writes) walk() else Map.empty[String, (Long, Long)]
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanProperty)
    val open = new Open(name, System.nanoTime())
    stack = open :: stack
    sc.setLocalProperty(SpanProperty, name)
    try body
    finally {
      val dur = System.nanoTime() - open.startNs
      stack = stack.tail
      stack.headOption.foreach(_.childNs += dur)
      sc.setLocalProperty(SpanProperty, outer)
      val a = agg(name)
      a.calls.incrementAndGet()
      a.busyNs.addAndGet(dur)
      a.selfNs.addAndGet(dur - open.childNs)
      if (writes) {
        val after = walk()
        val written = after.filter { case (p, st) => !before.get(p).contains(st) }
        a.filesWritten.addAndGet(written.size)
        a.bytesWritten.addAndGet(written.values.map(_._1).sum)
        a.dataBytesWritten.addAndGet(written.collect {
          case (p, (size, _)) if isDataFile(p.stripPrefix(warehouseRoot)) => size }.sum)
      }
    }
  }

  /** Every regular file under the warehouse root: path -> (size, mtime). */
  def walk(): Map[String, (Long, Long)] = {
    val root = Paths.get(warehouseRoot)
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
    finally s.close()
  }

  def get(name: String): Agg = agg(name)

  /** `<span>.<metric>` for every span: calls, busy_s, self_s, jobs,
    * shuffle_bytes, spill_bytes; write-bearing spans add bytes_written
    * and files_written. Times and bytes are totals over the run; `jobs`
    * is per call, so it repeats exactly even when a run fits one more
    * operation into its window.
    */
  def metrics: Seq[(String, Double, String)] = Spans.flatMap { s =>
    val a = agg(s)
    Seq(
      (s"$s.calls", a.calls.get.toDouble, "count"),
      (s"$s.busy_s", a.busyNs.get / 1e9, "s"),
      (s"$s.self_s", a.selfNs.get / 1e9, "s"),
      (s"$s.jobs", a.jobs.get.toDouble / math.max(1L, a.calls.get), "count"),
      (s"$s.shuffle_bytes", a.shuffleBytes.get.toDouble, "bytes"),
      (s"$s.spill_bytes", a.spillBytes.get.toDouble, "bytes")) ++
      (if (WriteSpans.contains(s)) Seq(
        (s"$s.bytes_written", a.bytesWritten.get.toDouble, "bytes"),
        (s"$s.files_written", a.filesWritten.get.toDouble, "count"))
      else Nil)
  }
}

object Tracer {
  val SpanProperty = "lakebench.span"
  val Root = "bench"

  /** Spans that write under the warehouse root. */
  val WriteSpans: Seq[String] = Seq(
    "ingest.bronze_cdc", "ingest.silver_full", "quality.execute",
    "gold.refresh_agg", "catalog.compact", "catalog.vacuum", "catalog.append")

  val Spans: Seq[String] = Seq(
    "ingest.bronze_cdc", "ingest.silver_full", "quality.execute",
    "gold.refresh_agg", "catalog.compact", "catalog.vacuum",
    "catalog.lookup", "catalog.scan", "catalog.travel",
    "dedup.exact", "dedup.minhash", "dedup.groups", "dedup.containment",
    "sim.semdedup", "text.score_filter", "catalog.append", Root)

  /** A parquet data file (path relative to the warehouse root): not
    * under any `_`-prefixed metadata directory.
    */
  def isDataFile(path: String): Boolean = {
    val parts = path.split('/')
    path.endsWith(".parquet") && !parts.exists(_.startsWith("_"))
  }

  /** Bytes of the given files as they are on disk now. */
  def sizeOf(paths: Seq[String]): Long =
    paths.map(p => Paths.get(new java.net.URI(if (p.contains(":")) p else s"file:$p")))
      .filter(Files.exists(_)).map(Files.size(_: Path)).sum
}
