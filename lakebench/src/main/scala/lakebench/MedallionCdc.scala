package lakebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{TableRef, Warehouse}
import graft.gold.Views
import graft.gold.Views.AggSpec
import graft.ingest.JobRunner
import graft.meta.{JobRegistry, TableMeta}
import graft.quality.{CheckTarget, CheckerHandler}

/** The reference's own traffic: raw brapi JSON lands, the bronze CDC job
  * merges it, the silver job explodes and deduplicates prices, the
  * checker scores silver, and a per-symbol gold aggregate refreshes
  * incrementally. One operation = one cycle, from the batch landed to
  * the gold commit; every `MaintenanceEvery`-th cycle also compacts
  * bronze and vacuums every table.
  *
  * Batches carry ~1% of the keys, with within-batch duplicates, and
  * event times rise from batch to batch — batch ≪ table, the regime
  * where per-commit fixed cost dominates.
  */
final class MedallionCdc(spark: SparkSession, a: Main.Args) extends Workload {
  import MedallionCdc._

  private val work = Paths.get(a.work)
  private val rawRoot = work.resolve("raw")
  private val archive = work.resolve("archive")
  // the benchmark's own copy of every batch, for the reference checks
  private val kept = work.resolve("batches")
  private val metaRoot = Paths.get(a.root, "lakebench", "meta").toString
  val warehouse = new Warehouse(spark, work.resolve("warehouse").toString)
  private val registry = JobRegistry.fromYamlFile(s"$metaRoot/job_metadata.yml")
  private val runner = new JobRunner(spark, warehouse, registry, rawRoot.toString, metaRoot)
  private val pricesMeta = TableMeta.fromYamlFile(s"$metaRoot/silver/prices/prices.yml")
  private val gen = new RawGen(a.seed)

  val tables: Seq[TableRef] = Seq(Quotes, Tickers, Prices, Gold, Scorecard, AggChecks)
  private var tracer: Tracer = _
  private var cycle = 0
  private var goldSince = -1L
  private var measuredBytes = 0L
  private var reads: Reads = _

  def setup(t: Tracer): Unit = {
    tracer = t
    // cycle 0 lands every key: the CDC bootstrap builds bronze
    Main.timed("land batch 0")(land(0))
    Main.timed("bronze bootstrap")(runner.run("cdc", "bronze_cdc"))
    Main.timed("silver")(runner.run("full", "silver_full"))
    Main.timed("gold")(Views.materializeAgg(spark, warehouse, Gold, Prices, Seq("symbol"), GoldAggs))
    goldSince = warehouse.currentVersion(Prices).get
    reads = new Reads(spark, warehouse, Quotes, "stocks", StringType, RawGen.NQuotes,
      i => RawGen.stock(i.toInt), QuoteColumns, scanWidth = RawGen.NQuotes / 100,
      travelWidth = RawGen.NQuotes / 200, a.seed, tracer)
    reads.keep(quotesAt(0))
    // warm-up: full cycles, maintenance included, before timing
    (1 to WarmUpCycles).foreach(i => Main.timed(s"warm-up cycle $i")(step()))
  }

  /** Land the next batch; earlier batches move out of the ingest glob. */
  private def land(c: Int): Long = {
    var bytes = 0L
    for ((table, lines) <- Seq("quotes" -> gen.quotes(c), "tickers" -> gen.tickers(c))) {
      val dir = rawRoot.resolve("brapi").resolve(table)
      val old = archive.resolve("brapi").resolve(table)
      val copy = kept.resolve(table)
      Seq(dir, old, copy).foreach(Files.createDirectories(_))
      val s = Files.list(dir)
      try s.forEach(p => Files.move(p, old.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE))
      finally s.close()
      val body = lines.mkString("\n").getBytes(StandardCharsets.UTF_8)
      val name = f"batch_$c%05d.json"
      Files.write(dir.resolve(name), body)
      Files.write(copy.resolve(name), body)
      bytes += body.length
    }
    bytes
  }

  def step(): Seq[Op] = {
    cycle += 1
    val bytes = land(cycle)
    val rows = gen.rowsIn(cycle)
    val t0 = System.nanoTime()
    tracer.span("ingest.bronze_cdc", writes = true)(runner.run("cdc", "bronze_cdc"))
    tracer.span("ingest.silver_full", writes = true)(runner.run("full", "silver_full"))
    tracer.span("quality.execute", writes = true) {
      new CheckerHandler(spark, warehouse,
        Seq(CheckTarget("silver", "prices", warehouse.read(Prices), pricesMeta)),
        runDate = RunDate).execute()
    }
    goldSince = tracer.span("gold.refresh_agg", writes = true) {
      Views.refreshIncrementalAgg(spark, warehouse, Gold, Prices, goldSince,
        Seq("symbol"), GoldAggs, Seq("symbol", "date"))
    }
    if (cycle % MaintenanceEvery == 0) {
      tracer.span("catalog.compact", writes = true)(Seq(Quotes, Tickers).foreach(warehouse.compact(_)))
      tracer.span("catalog.vacuum", writes = true) {
        tables.foreach(warehouse.vacuum(_, keepVersions = Reads.TravelBack + 1))
      }
    }
    val nanos = System.nanoTime() - t0
    if (tracer.enabled) measuredBytes += bytes
    val c = cycle
    reads.keep(quotesAt(c))
    Op("cycle", nanos, rows) +: reads.run(ReadsPerKind)
  }

  // ------------------------------------------------------------ checks

  /** Batches 0..upTo as landed, read back as plain JSON. */
  private def allRaw(table: String, schema: StructType, upTo: Int): DataFrame =
    spark.read.schema(schema).json((0 to upTo).map(c =>
      kept.resolve(table).resolve(f"batch_$c%05d.json").toString): _*)

  /** Reference bronze quotes after batch `c`: latest row per key. */
  private def quotesAt(c: Int): DataFrame =
    latest(allRaw("quotes", RawGen.QuotesSchema, c), "stocks",
      col("event_time").cast("timestamp")).select(
      col("stocks"), col("close").cast("double"), col("change").cast("double"),
      col("volume").cast("bigint"), col("market_cap").cast("double"), col("logo"),
      col("asset_type"), col("event_time").cast("timestamp"))

  private def latest(df: DataFrame, key: String, ts: Column): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(key).orderBy(ts.desc)))
      .filter(col("__rn") === 1).drop("__rn")

  def check(): Seq[(String, Boolean)] = {
    val quotesRef = quotesAt(cycle)
    val tickersRaw = allRaw("tickers", RawGen.TickersSchema, cycle)
    val tickersRef = latest(tickersRaw, "symbol", col("regularMarketTime").cast("timestamp"))
      .select(RawGen.TickersSchema.fieldNames.map { f =>
        RawGen.TickerCasts.get(f).map(t => col(f).cast(t).as(f)).getOrElse(col(f))
      }.toIndexedSeq: _*)
    val pricesRef = tickersRef
      .select(col("symbol"), explode(col("historicalDataPrice")).as("p"))
      .select(col("symbol"),
        from_unixtime(col("p.date").cast("bigint")).cast("date").as("date"),
        col("p.open").cast("float").as("open"), col("p.high").cast("float").as("high"),
        col("p.low").cast("float").as("low"), col("p.close").cast("float").as("close"),
        col("p.volume").cast("float").as("volume"),
        col("p.adjustedClose").cast("float").as("adjustedClose"))
      .dropDuplicates("symbol", "date")
    val goldRef = pricesRef.groupBy("symbol").agg(
      count(lit(1)).as("n_days"), min("date").as("first_date"), max("date").as("last_date"),
      min("low").as("lo"), max("high").as("hi"))
    val silverRows = warehouse.read(Prices).count()
    Seq(
      "bronze quotes = latest per key of every batch" ->
        Digest.sameRows(warehouse.read(Quotes), quotesRef),
      "bronze tickers = latest per key of every batch" ->
        Digest.sameRows(warehouse.read(Tickers), tickersRef),
      "silver prices = exploded, deduplicated bronze" ->
        Digest.sameRows(warehouse.read(Prices), pricesRef),
      "gold = per-symbol aggregate of silver" ->
        Digest.sameRows(warehouse.read(Gold), goldRef),
      "scorecard rows = silver rows x test instances" ->
        (warehouse.read(Scorecard).count() == silverRows * pricesMeta.columnTests.size)) ++
      reads.check()
  }

  def layerMetrics(t: Tracer): Map[String, Double] = {
    val written = Tracer.WriteSpans.map(s => t.get(s).bytesWritten.get).sum
    reads.filesScannedFrac ++ Map(
      "ingest.bronze_cdc.rewrite_ratio" ->
        t.get("ingest.bronze_cdc").dataBytesWritten.get / math.max(1.0, measuredBytes),
      "warehouse.write_amp" -> written / math.max(1.0, measuredBytes))
  }
}

object MedallionCdc {
  val Quotes = TableRef("bronze", "brapi", "quotes")
  val Tickers = TableRef("bronze", "brapi", "tickers")
  val Prices = TableRef("silver", "brapi", "prices")
  val Gold = TableRef("gold", "brapi", "prices_by_symbol")
  val Scorecard = TableRef("silver", "checks", "column_checks")
  val AggChecks = TableRef("silver", "checks", "aggregated_checks")

  val GoldAggs: Seq[AggSpec] = Seq(AggSpec("n_days", "count"),
    AggSpec("first_date", "min", "date"), AggSpec("last_date", "max", "date"),
    AggSpec("lo", "min", "low"), AggSpec("hi", "max", "high"))

  val RunDate: LocalDate = LocalDate.of(2024, 3, 1)
  val WarmUpCycles = 2
  val MaintenanceEvery = 4
  val ReadsPerKind = 3
  val QuoteColumns: Seq[String] = Seq("stocks", "close", "change", "volume", "market_cap",
    "logo", "asset_type", "event_time")
}

/** Seeded raw batches in the reference's brapi shapes (FIXTURES.md §1):
  * `quotes` flat, `tickers` nested with a `historicalDataPrice` window
  * of the last `History` days and a `summaryProfile` struct. Batch 0
  * holds every key; batch c > 0 holds ~1% of the keys at day c, and a
  * fifth of those keys appear twice (an earlier intraday record that
  * the later one must win over).
  */
final class RawGen(seed: Long) {
  import RawGen._

  private def rng(c: Int, salt: Long) = new SplittableRandom(seed * 1000003L + c * 7919L + salt)

  private def keysAt(c: Int, n: Int, salt: Long): Seq[Int] =
    if (c == 0) 0 until n
    else {
      val r = rng(c, salt)
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < math.max(1, n / 100)) picked += r.nextInt(n)
      picked.toSeq
    }

  private def dups(c: Int, keys: Seq[Int], salt: Long): Seq[Int] =
    if (c == 0) Nil else { val r = rng(c, salt + 1); keys.filter(_ => r.nextInt(5) == 0) }

  def rowsIn(c: Int): Long = {
    val q = keysAt(c, NQuotes, 11); val t = keysAt(c, NTickers, 13)
    q.size + dups(c, q, 11).size + t.size + dups(c, t, 13).size
  }

  private def day(c: Int) = Day0.plusDays(c)
  private def ts(c: Int, hour: Int, k: Int) =
    f"${day(c)} $hour%02d:${k % 60}%02d:${(k / 60) % 60}%02d"
  private def num(r: SplittableRandom, lo: Double, hi: Double) =
    f"${lo + r.nextDouble() * (hi - lo)}%.2f"
  private def q(s: String) = "\"" + s + "\""

  def quotes(c: Int): Seq[String] = {
    val keys = keysAt(c, NQuotes, 11)
    val r = rng(c, 17)
    def line(k: Int, hour: Int) =
      s"""{"stocks":${q(stock(k))},"close":${q(num(r, 1, 500))},""" +
        s""""change":${q(num(r, -5, 5))},"volume":${q(r.nextInt(1000000).toString)},""" +
        s""""market_cap":${q(num(r, 1e6, 1e9))},"logo":${q(s"https://icons.example/$k.svg")},""" +
        s""""asset_type":${q(AssetTypes(k % AssetTypes.size))},"event_time":${q(ts(c, hour, k))}}"""
    dups(c, keys, 11).map(line(_, 10)) ++ keys.map(line(_, 15))
  }

  def tickers(c: Int): Seq[String] = {
    val keys = keysAt(c, NTickers, 13)
    val r = rng(c, 19)
    def history(): String =
      if (r.nextInt(50) == 0) "[]"
      else (c - History + 1 to c).map { d =>
        val epoch = day(d).atStartOfDay(ZoneOffset.UTC).toEpochSecond
        val lo = 10 + r.nextDouble() * 90
        val hi = if (r.nextInt(20) == 0) lo - 1 else lo + r.nextDouble() * 5
        val close = if (r.nextInt(10) == 0) lo else lo + r.nextDouble() * (hi - lo).abs
        val vol = if (r.nextInt(10) == 0) r.nextInt(10000) else 10000 + r.nextInt(5000000)
        s"""{"date":${q(epoch.toString)},"open":${q(f"$lo%.2f")},"high":${q(f"$hi%.2f")},""" +
          s""""low":${q(f"$lo%.2f")},"close":${q(f"$close%.2f")},"volume":${q(vol.toString)},""" +
          s""""adjustedClose":${q(f"$close%.2f")}}"""
      }.mkString("[", ",", "]")
    def profile(k: Int): String =
      if (r.nextInt(20) == 0) "null"
      else ProfileFields.map(f => s"${q(f)}:${q(s"$f-${k % 97}")}").mkString("{", ",", "") +
        s""","companyOfficers":[${q(s"officer-$k")}],"executiveTeam":[]}"""
    def line(k: Int, hour: Int) = {
      val sym = f"T$k%05d"
      val fields = FlatTickerFields.map {
        case "regularMarketTime" => s""""regularMarketTime":${q(ts(c, hour, k))}"""
        case f if TickerCasts.get(f).contains("bigint") => s"${q(f)}:${q(r.nextInt(1000000).toString)}"
        case f if TickerCasts.contains(f) => s"${q(f)}:${q(num(r, 1, 1000))}"
        case f => s"${q(f)}:${q(s"$f-$sym")}"
      }
      (s""""symbol":${q(sym)}""" +: fields :+
        s""""historicalDataPrice":${history()}""" :+ s""""summaryProfile":${profile(k)}""")
        .mkString("{", ",", "}")
    }
    dups(c, keys, 13).map(line(_, 10)) ++ keys.map(line(_, 15))
  }
}

object RawGen {
  val NQuotes = 20000
  val NTickers = 1000
  val History = 5
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  val AssetTypes = Seq("stock", "fund", "bdr")
  def stock(k: Int): String = f"Q$k%06d"

  val FlatTickerFields: Seq[String] = Seq("currency", "marketCap", "shortName", "longName",
    "regularMarketChange", "regularMarketChangePercent", "regularMarketTime",
    "regularMarketPrice", "regularMarketDayHigh", "regularMarketDayRange",
    "regularMarketDayLow", "regularMarketVolume", "regularMarketPreviousClose",
    "regularMarketOpen", "fiftyTwoWeekRange", "fiftyTwoWeekLow", "fiftyTwoWeekHigh",
    "logourl", "priceEarnings", "earningsPerShare")

  /** The bronze transform's casts (meta/bronze/tickers/tickers.sql). */
  val TickerCasts: Map[String, String] = Map(
    "marketCap" -> "double", "regularMarketChange" -> "double",
    "regularMarketChangePercent" -> "double", "regularMarketTime" -> "timestamp",
    "regularMarketPrice" -> "double", "regularMarketDayHigh" -> "double",
    "regularMarketDayLow" -> "double", "regularMarketVolume" -> "bigint",
    "regularMarketPreviousClose" -> "double", "regularMarketOpen" -> "double",
    "fiftyTwoWeekLow" -> "double", "fiftyTwoWeekHigh" -> "double",
    "priceEarnings" -> "double", "earningsPerShare" -> "double")

  val ProfileFields: Seq[String] = Seq("address1", "address2", "city", "state", "zip",
    "country", "industry", "industryKey", "industryDisp", "sector", "sectorKey",
    "sectorDisp", "longBusinessSummary")

  val QuotesSchema: StructType = StructType(Seq("stocks", "close", "change", "volume",
    "market_cap", "logo", "asset_type", "event_time").map(StructField(_, StringType)))

  val TickersSchema: StructType = StructType(
    StructField("symbol", StringType) +: FlatTickerFields.map(StructField(_, StringType)) :+
      StructField("historicalDataPrice", ArrayType(StructType(
        Seq("date", "open", "high", "low", "close", "volume", "adjustedClose")
          .map(StructField(_, StringType))))) :+
      StructField("summaryProfile", StructType(
        ProfileFields.map(StructField(_, StringType)) ++ Seq(
          StructField("companyOfficers", ArrayType(StringType)),
          StructField("executiveTeam", ArrayType(StringType))))))
}
