package lakebench

import java.util.SplittableRandom

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.catalog.{TableRef, Warehouse}
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.{Stopwords, TextFunctions}

/** The LLM-corpus curation batch job over a seeded corpus. One
  * operation = one pass: exact dedup, MinHash candidates resolved into
  * groups, containment, SemDeDup, the quality/language/PII filter, and
  * one append of the curated set. The corpus plants exact copies,
  * near-duplicates (token edits), contained chunks and semantic
  * duplicates (new text, near-identical embedding), and a share of the
  * documents carry shared boilerplate sentences, so hot posting lists
  * exist as in crawled text.
  */
final class CorpusCurate(spark: SparkSession, a: Main.Args) extends Workload {
  import CorpusCurate._

  val warehouse = new Warehouse(spark, s"${a.work}/warehouse")
  val tables: Seq[TableRef] = Seq(Curated)

  private var tracer: Tracer = _
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var centroids: DataFrame = _
  private var runs = 0
  private val appended = mutable.ArrayBuffer.empty[Row]
  private var reads: Reads = _
  private val outcomes = mutable.ArrayBuffer.empty[Outcome]

  def setup(t: Tracer): Unit = {
    tracer = t
    corpus = Main.timed("generate")(Corpus.generate(a.seed))
    import spark.implicits._
    docs = corpus.docs.toDF("doc_id", "text", "emb")
      .repartition(a.cpus).localCheckpoint()
    centroids = Main.timed("inputs") {
      Similarity.sampleCentroids(docs, "doc_id", "emb", Clusters, seed = a.seed).localCheckpoint()
    }
    reads = new Reads(spark, warehouse, Curated, "doc_id", LongType, corpus.docs.size,
      i => i, CuratedColumns, scanWidth = corpus.docs.size / 20,
      travelWidth = corpus.docs.size / 50, a.seed, tracer)
    (1 to WarmUpPasses).foreach(i => Main.timed(s"warm-up pass $i")(record(pass())))
    outcomes.clear()
  }

  def step(): Seq[Op] = {
    val t0 = System.nanoTime()
    val stages = pass()
    val op = Op("pass", System.nanoTime() - t0, corpus.docs.size)
    record(stages)
    op +: reads.run(ReadsPerKind)
  }

  private def cp(df: DataFrame): DataFrame = df.localCheckpoint()

  /** One curation pass; returns the materialized stage outputs. */
  private def pass(): Seq[DataFrame] = {
    val exact = tracer.span("dedup.exact")(cp(Dedup.exactDedup(docs, "text", "doc_id")))
    val pairs = tracer.span("dedup.minhash")(cp(Dedup.minhashCandidates(exact, "doc_id", "text")))
    val near = tracer.span("dedup.groups") {
      cp(Dedup.keepCanonical(exact, "doc_id", Dedup.dupGroups(pairs.select("id_a", "id_b"))))
    }
    val contained = tracer.span("dedup.containment")(cp(Dedup.containmentPairs(near, "doc_id", "text")))
    val whole = near.join(contained.select(col("id_a").as("doc_id")), Seq("doc_id"), "left_anti")
    val sem = tracer.span("sim.semdedup") {
      cp(Similarity.semDedup(whole, "doc_id", "emb", centroids).drop("cid"))
    }
    val curated = tracer.span("text.score_filter") {
      cp(sem.withColumn("__toks", TextFunctions.tokens(col("text")))
        .withColumn("lang_pred", TextFunctions.langIdOf(col("__toks")))
        .withColumn("quality", TextFunctions.qualityScoreOf(col("text"), col("__toks")))
        .withColumn("n_tokens", size(col("__toks")))
        .withColumn("dup_token_frac", TextFunctions.dupTokenFracOf(col("__toks")))
        .withColumn("top_token_frac", TextFunctions.topTokenFracOf(col("__toks")))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.9 &&
          col("dup_token_frac") <= 0.6 && col("top_token_frac") <= 0.12)
        .select(col("doc_id"), col("lang_pred"), col("quality"), col("n_tokens"),
          TextFunctions.redactPii(col("text")).as("text_redacted"), lit(runs).as("run")))
    }
    tracer.span("catalog.append", writes = true) {
      if (warehouse.exists(Curated)) warehouse.append(Curated, curated)
      else warehouse.overwrite(Curated, curated, statsColumns = Seq("doc_id"))
    }
    runs += 1
    Seq(exact, pairs, contained, curated)
  }

  /** Collect what the checks need, keep the appended rows as the
    * curated table's reference snapshot, then release the pass's storage.
    */
  private def record(stages: Seq[DataFrame]): Unit = {
    import spark.implicits._
    val Seq(exact, pairs, contained, curated) = stages
    val ids = (df: DataFrame, c: String) => df.select(col(c)).as[Long].collect().toSet
    val pairSet = (df: DataFrame) =>
      df.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val rows = curated.collect()
    appended ++= rows
    val snapshot = appended.toList.asJava
    reads.keep(spark.createDataFrame(snapshot, curated.schema))
    outcomes += Outcome(ids(exact, "doc_id"), pairSet(pairs), pairSet(contained),
      rows.map(_.getLong(0)).toSet)
    stages.foreach(graft.util.Scratch.release)
    graft.util.Scratch.drainTouched()
  }

  private def recall(planted: Seq[(Long, Long)], found: ((Long, Long)) => Boolean): Double =
    if (planted.isEmpty) 1.0 else planted.count(found).toDouble / planted.size

  private def recalls(o: Outcome): Map[String, Double] = Map(
    "dedup.exact.recall" -> recall(corpus.exact, p => o.exactKept(p._1) && !o.exactKept(p._2)),
    "dedup.minhash.recall" -> recall(corpus.near, o.nearPairs),
    "dedup.containment.recall" -> recall(corpus.contained, o.containedPairs))

  def check(): Seq[(String, Boolean)] = outcomes.toSeq.zipWithIndex.flatMap { case (o, i) =>
    val r = recalls(o)
    val survivors = (corpus.exact.map(_._2) ++ corpus.contained.map(_._1)).filter(o.curated)
    Seq(
      s"pass $i: every planted exact copy is removed" -> (r("dedup.exact.recall") == 1.0),
      s"pass $i: every planted contained chunk is found" -> (r("dedup.containment.recall") == 1.0),
      s"pass $i: no planted exact or containment duplicate survives" -> survivors.isEmpty,
      s"pass $i: minhash recall >= $MinhashRecallBound" ->
        (r("dedup.minhash.recall") >= MinhashRecallBound),
      s"pass $i: same curated set as the first pass" -> (o.curated == outcomes.head.curated))
  } ++ reads.check() :+
    ("curated table holds every appended row" -> (warehouse.read(Curated).count() == appended.size))

  def layerMetrics(t: Tracer): Map[String, Double] =
    reads.filesScannedFrac ++ outcomes.lastOption.map(recalls).getOrElse(Map.empty)
}

object CorpusCurate {
  /** What one pass produced, as the checks need it. */
  private final case class Outcome(exactKept: Set[Long], nearPairs: Set[(Long, Long)],
                                   containedPairs: Set[(Long, Long)], curated: Set[Long])

  val Curated = TableRef("gold", "corpus", "curated")
  val Clusters = 16
  val WarmUpPasses = 1
  val MinhashRecallBound = 0.9
  val ReadsPerKind = 3
  val CuratedColumns: Seq[String] = Seq("doc_id", "lang_pred", "quality", "n_tokens",
    "text_redacted", "run")
}

/** A seeded corpus and the duplicates planted in it, as (kept, dropped)
  * id pairs: `exact` (original, reformatted copy), `near` (original,
  * token-edited copy), `contained` (chunk, document it was cut from).
  */
final case class Corpus(docs: Seq[(Long, String, Array[Float])],
                        exact: Seq[(Long, Long)], near: Seq[(Long, Long)],
                        contained: Seq[(Long, Long)])

object Corpus {
  val Originals = 1200
  val Vocabulary = 5000
  val Dim = 64
  val Topics = 16
  val Boilerplate = 6          // shared sentences
  val BoilerplateShare = 0.6   // of the originals carry one
  val ExactShare = 0.02
  val NearShare = 0.03
  val ContainedShare = 0.02
  val SemanticShare = 0.02
  val PiiShare = 0.05

  def generate(seed: Long): Corpus = {
    val r = new SplittableRandom(seed * 7919L + 1L)
    def word(i: Int): String = {
      val sb = new StringBuilder
      var x = i + 26
      while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
      sb.toString
    }
    val vocab = (0 until Vocabulary).map(word)
    // log-uniform rank: a heavy head of common words, a long tail
    def content(): String = vocab((math.pow(Vocabulary, r.nextDouble()) - 1).toInt)
    val others = Stopwords.languages.tail.map(_._2)
    def sentence(n: Int, stop: Seq[String]): Seq[String] =
      Seq.fill(n)(if (r.nextDouble() < 0.3) stop(r.nextInt(stop.size)) else content())
    val boiler = Seq.fill(Boilerplate)(sentence(16, Stopwords.english))
    val centers = Seq.fill(Topics)(Array.fill(Dim)(r.nextGaussian().toFloat))
    def noisy(v: Array[Float], sd: Double) = v.map(x => (x + r.nextGaussian() * sd).toFloat)

    val texts = mutable.ArrayBuffer.empty[Seq[String]]
    val embs = mutable.ArrayBuffer.empty[Array[Float]]
    for (_ <- 0 until Originals) {
      val stop = if (r.nextDouble() < 0.8) Stopwords.english else others(r.nextInt(others.size))
      var toks = sentence(40 + r.nextInt(60), stop)
      if (r.nextDouble() < BoilerplateShare) toks = toks ++ boiler(r.nextInt(Boilerplate))
      if (r.nextDouble() < PiiShare)
        toks = toks :+ (if (r.nextBoolean()) s"${content()}@example.com" else f"555-${r.nextInt(10000)}%04d")
      texts += toks
      embs += noisy(centers(r.nextInt(Topics)), 1.0)
    }
    // plants: each from its own original, so their effects are disjoint
    val bases = mutable.LinkedHashSet.empty[Int]
    def base(): Int = { var b = r.nextInt(Originals); while (bases(b)) b = r.nextInt(Originals); bases += b; b }
    def plant(toks: Seq[String], emb: Array[Float]): Long = { texts += toks; embs += emb; texts.size - 1L }
    val exact = (0 until (Originals * ExactShare).toInt).map { _ =>
      val b = base()
      val copy = texts(b).zipWithIndex.map { case (t, i) => if (i % 5 == 0) t.toUpperCase else t }
      b.toLong -> plant(copy.updated(0, "  " + copy.head), noisy(embs(b), 0.01))
    }
    val near = (0 until (Originals * NearShare).toInt).map { _ =>
      val b = base()
      val toks = texts(b)
      val edited = (0 until 2).foldLeft(toks)((t, _) => t.updated(r.nextInt(t.size), content()))
      b.toLong -> plant(edited, noisy(embs(b), 0.01))
    }
    val contained = (0 until (Originals * ContainedShare).toInt).map { _ =>
      val b = base()
      val toks = texts(b)
      val n = math.max(16, (toks.size * 0.4).toInt)
      val from = r.nextInt(toks.size - n + 1)
      plant(toks.slice(from, from + n), noisy(embs(b), 0.01)) -> b.toLong
    }
    (0 until (Originals * SemanticShare).toInt).foreach { _ =>
      val b = base()
      plant(sentence(40 + r.nextInt(60), Stopwords.english), noisy(embs(b), 0.01))
    }
    val docs = texts.indices.map(i => (i.toLong, texts(i).mkString(" "), embs(i)))
    Corpus(docs, exact, near, contained)
  }
}
