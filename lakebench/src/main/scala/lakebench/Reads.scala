package lakebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{TableRef, Warehouse}

/** Seeded reads against a table a workload writes: point lookups
  * (`readPrunedEq` + exact filter), key-range scans with an aggregate
  * (`readPruned` + range filter) and time-travel range reads
  * (`readVersion` of a seeded earlier version). Every read returns a
  * row count and an order-insensitive digest of its rows; [[check]]
  * recomputes both from the plain-Spark reference snapshot the workload
  * kept for that version.
  *
  * @param keyOf   the table key of position i in [0, keys)
  * @param columns the columns a read returns and the digest covers
  */
final class Reads(spark: SparkSession, warehouse: Warehouse, table: TableRef, key: String,
                  keyType: DataType, keys: Long, keyOf: Long => Any, columns: Seq[String],
                  scanWidth: Long, travelWidth: Long, seed: Long, tracer: Tracer) {
  import Reads._

  private val rng = new SplittableRandom(seed)
  private val refs = mutable.LinkedHashMap.empty[Long, DataFrame]
  private val done = mutable.ArrayBuffer.empty[Read]
  private val scanned = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))

  /** Register the reference snapshot of the table's current version. */
  def keep(reference: => DataFrame): Unit = {
    val v = warehouse.currentVersion(table).get
    if (!refs.contains(v)) refs(v) = reference
  }

  /** `perKind` reads of each kind, in seeded order. */
  def run(perKind: Int): Seq[Op] = {
    val kinds = Seq.fill(perKind)(Kinds).flatten.toArray
    for (i <- kinds.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    kinds.toSeq.map(read)
  }

  private def digest(df: DataFrame): (Long, BigDecimal) = Digest.of(df, columns)

  private def range(width: Long): (Any, Any) = {
    val i = rng.nextLong(math.max(1L, keys - width))
    (keyOf(i), keyOf(i + width - 1))
  }

  private def read(kind: String): Op = {
    val current = warehouse.currentVersion(table).get
    val between = (lo: Any, hi: Any) => col(key).between(lo, hi)
    var opened: DataFrame = null
    val t0 = System.nanoTime()
    val (version, lo, hi, (rows, dg)) = kind match {
      case "lookup" =>
        val k = keyOf(rng.nextLong(keys))
        val res = tracer.span("catalog.lookup") {
          opened = warehouse.readPrunedEq(table, key, k)
          digest(opened.filter(col(key) === k))
        }
        (current, k, k, res)
      case "scan" =>
        val (lo, hi) = range(scanWidth)
        val res = tracer.span("catalog.scan") {
          opened = warehouse.readPruned(table, key, lo, hi)
          digest(opened.filter(between(lo, hi)))
        }
        (current, lo, hi, res)
      case "travel" =>
        val earlier = refs.keys.filter(v => v < current && v >= current - TravelBack).toIndexedSeq
        val v = if (earlier.isEmpty) current else earlier(rng.nextInt(earlier.size))
        val (lo, hi) = range(travelWidth)
        val res = tracer.span("catalog.travel")(
          digest(warehouse.readVersion(table, v).filter(between(lo, hi))))
        (v, lo, hi, res)
    }
    val nanos = System.nanoTime() - t0
    if (opened != null && tracer.enabled) {
      val (in, all) = scanned(kind)
      scanned(kind) = (in + opened.inputFiles.length, all + warehouse.dataFiles(table).size)
    }
    done += Read(done.size, version, lo, hi, rows, dg)
    Op(kind, nanos, 1)
  }

  /** One check per version read: every read equals its reference. */
  def check(): Seq[(String, Boolean)] =
    done.groupBy(_.version).toSeq.sortBy(_._1).map { case (v, rs) =>
      val specs = spark.createDataFrame(
        java.util.Arrays.asList(rs.toSeq.map(r => Row(r.id, r.lo, r.hi)): _*),
        StructType(Seq(StructField("__id", IntegerType), StructField("__lo", keyType),
          StructField("__hi", keyType))))
      val expected = refs(v).join(broadcast(specs), col(key).between(col("__lo"), col("__hi")))
        .groupBy("__id")
        .agg(count(lit(1)), Digest.hashSum(columns))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
      val bad = rs.filter(r => expected.getOrElse(r.id, (0L, BigDecimal(0))) != ((r.rows, r.digest)))
      bad.take(3).foreach(r => Main.log(s"read mismatch: $r, expected ${expected.get(r.id)}"))
      s"$table: ${rs.size} reads at version $v equal the reference snapshot" -> bad.isEmpty
    }

  /** Files a pruned read opened ÷ files in the version (traced runs). */
  def filesScannedFrac: Map[String, Double] = Seq("lookup", "scan").map { k =>
    val (in, all) = scanned(k)
    s"catalog.$k.files_scanned_frac" -> in.toDouble / math.max(1L, all)
  }.toMap
}

object Reads {
  /** One recorded read: what it asked for and what it got. */
  private final case class Read(id: Int, version: Long, lo: Any, hi: Any,
                                rows: Long, digest: BigDecimal)

  val Kinds: Seq[String] = Seq("lookup", "scan", "travel")
  /** Time travel reaches back at most this many versions. */
  val TravelBack = 3
}
