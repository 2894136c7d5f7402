package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Relational, Text}

/** The LLM-data path: one closed-loop client composes the c24 curation
  * stages by calling the ops functions and writes each result to the noop
  * sink. One op runs the three compositions of `c24_curation_v2`,
  * `c24_curation_v7` and `c24_curation_pipeline` in turn, so every op does
  * the same mix. The seed draws, per composition run, the held-out
  * "benchmark" slice (50 consecutive doc ids) and which 80% hash sample of
  * the 5,000 documents it curates; the fixed share keeps every op's work
  * the same size. The set-up runs use the
  * c24 queries' own inputs (docs 0-49 held out, no sample); for one
  * composition per run, chosen by the seed, that output must equal the
  * query's result.
  *
  * Every result is observed on its way into the sink: a row count and two
  * order-free row-hash sums, plus the composition's invariants. */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  private val spark = ctx.spark
  private lazy val docs = spark.read.parquet(s"${ctx.dataDir}/documents.parquet")
  private val rnd = new Random(ctx.seed)
  private val results = new ConcurrentLinkedQueue[Result]()
  private val setups = new ConcurrentLinkedQueue[Op]()
  // the composition whose set-up run is compared with its c24 query in
  // this run; the seed rotates it, so every composition is compared
  private val checked = Compositions((ctx.seed % Compositions.size).toInt.abs)

  /** Set-up is the first use of a composition: each repetition runs the
    * next one on the c24 queries' own inputs, so the three repetitions
    * also warm every composition before the timed window. */
  def setup(): Unit = {
    val comp = Compositions(setups.size % Compositions.size)
    var observed = Map.empty[String, Any]
    val op = Loop.timed(ctx, s"setup_$comp", primary = false)(_ => observed = runOnce(comp, Canonical))
    op.error.foreach(e => throw new IllegalStateException(s"set-up run of $comp failed: $e"))
    results.add(Result(op, comp, Canonical, observed))
    setups.add(op)
  }
  override def untimedOps: Seq[Op] = setups.asScala.toSeq

  def run(seconds: Double): Seq[Op] = Loop.closed(1, seconds) { (_, _) =>
    val params = Compositions.map(c =>
      c -> Params(50 * rnd.nextInt(Data.Docs / 50), SampleKeepPct, rnd.nextLong()))
    Loop.timed(ctx, "cycle") { op =>
      params.foreach { case (c, p) =>
        val t0 = System.nanoTime()
        results.add(Result(op, c, p, runOnce(c, p)))
        op.phases.put(c, (System.nanoTime() - t0) / 1e9)
      }
    }
  }

  /** Run one composition into the noop sink; returns the observed metrics. */
  private def runOnce(comp: String, p: Params): Map[String, Any] = {
    val sampled =
      if (p.keepPct >= 100) docs
      else docs.filter(pmod(xxhash64(col("doc_id"), lit(p.salt)), lit(100)) < p.keepPct)
    val inSlice = col("doc_id") >= p.sliceStart && col("doc_id") < p.sliceStart + 50
    val corpus = sampled.filter(!inSlice)
    val bench = docs.filter(inSlice)
    val out: DataFrame = comp match {
      case "v2" =>
        val clean = ctx.span("dedup", "decontaminate")(
          Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8))
        val planted = clean.select(col("doc_id"),
          concat(col("text"), lit("\ncontact user"), col("doc_id"), lit("@example.com for access"))
            .as("text"))
        val scrubbed = ctx.span("text", "scrub_pii")(
          planted.select(col("doc_id"), Text.scrubPii(col("text")).as("text")))
        val deduped = ctx.span("dedup", "line_dedup")(Dedup.lineDedup(scrubbed, "doc_id", "text"))
        ctx.span("relational", "pack_sequences")(
          Relational.packSequences(deduped, "doc_id", size(split(col("text"), "[ \n]")), budget = 512))
      case "v7" =>
        // materialized once, as the c24 query does: it feeds both the
        // per-language model and the survivor join
        val clean = ctx.span("dedup", "decontaminate")(
          Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 8).localCheckpoint(true))
        val buckets = ctx.span("text", "perplexity_buckets_by_lang")(
          Text.perplexityBucketsByLang(clean, "doc_id", "text", "lang").filter(col("bucket") =!= "tail"))
        val kept = clean.select("doc_id", "lang")
          .join(buckets.select(col("doc").as("doc_id"), col("bucket")), Seq("doc_id"))
        ctx.span("relational", "temperature_sample")(
          Relational.temperatureSample(kept, "lang", "doc_id", baseFrac = 0.5))
      case "pipeline" =>
        // the whole corpus is scored, as in the c24 query; the held-out
        // slice plays no part in this composition
        val kept = ctx.span("text", "quality_score") {
          val quality = Text.qualityScore(sampled, "doc_id", "text")
          sampled.join(quality.filter(col("lexical_diversity") >= 0.5).select("doc_id"), Seq("doc_id"))
            .filter(col("lang").isin("en", "es", "de", "fr"))
            .localCheckpoint(true)
        }
        val deduped = ctx.span("dedup", "near_dup_pipeline")(
          Dedup.nearDupPipeline(kept, "doc_id", "text",
            reps => Dedup.jaccardNearDup(reps, "doc_id", "text", n = 3, threshold = 0.6, maxDf = Some(100))))
        deduped.groupBy("lang").agg(count(lit(1)).as("n_docs"), round(avg("n_chars"), 2).as("avg_chars"))
    }
    val obs = Observation(s"curation-${ctx.nextOpId()}")
    val metrics = fingerprint(out) ++ invariants(comp, p)
    val observed = out.observe(obs, metrics.head, metrics.tail: _*)
    ctx.span("sink", "write")(observed.write.format("noop").mode("overwrite").save())
    obs.get.map { case (k, v) => k -> v }
  }

  private def invariants(comp: String, p: Params): Seq[Column] = {
    val inSlice = col("doc_id") >= p.sliceStart && col("doc_id") < p.sliceStart + 50
    def countOf(c: Column, name: String) = sum(when(c, 1L).otherwise(0L)).as(name)
    comp match {
      case "v2" => Seq(countOf(inSlice, "held_out_rows"),
        countOf(col("seq_offset") < 0 || col("seq_offset") >= 512, "bad_offsets"))
      case "v7" => Seq(countOf(inSlice, "held_out_rows"),
        countOf(!col("bucket").isin("head", "middle"), "bad_buckets"))
      case "pipeline" => Seq(countOf(!col("lang").isin("en", "es", "de", "fr"), "bad_langs"),
        coalesce(sum(col("n_docs")), lit(0L)).as("docs_kept"))
    }
  }

  def check(ops: Seq[Op]): Unit = {
    val refs = mutable.Map.empty[String, Map[String, Any]]
    val rs = results.asScala.toSeq
    if (ctx.inject.contains("curation"))
      rs.find(_.op.primary).foreach(r => r.observed = r.observed.updated("rows", -1L))
    rs.filter(_.op.error.isEmpty).foreach { r =>
      try {
        val m = r.observed
        def long(k: String) = m(k).asInstanceOf[Number].longValue
        require(long("rows") > 0, s"${r.comp} produced ${long("rows")} rows")
        r.comp match {
          case "v2" | "v7" =>
            require(long("held_out_rows") == 0, s"${r.comp} kept ${long("held_out_rows")} held-out docs")
            if (r.comp == "v2") require(long("bad_offsets") == 0, "v2 sequence offset outside [0, 512)")
            else require(long("bad_buckets") == 0, "v7 kept a tail-bucket doc")
          case "pipeline" =>
            require(long("bad_langs") == 0, "pipeline kept a filtered-out language")
            require(long("docs_kept") <= Data.Docs, s"pipeline kept ${long("docs_kept")} docs")
        }
        if (r.params == Canonical && r.comp == checked) {
          val ref = refs.getOrElseUpdate(r.comp, {
            val df = graft.queries.QueryDefs.byName(QueryOf(r.comp)).build(spark, ctx.dataDir)
            val row = df.agg(fingerprint(df).head, fingerprint(df).tail: _*).head()
            FingerprintCols.zipWithIndex.map { case (k, i) => k -> row.get(i) }.toMap
          })
          FingerprintCols.foreach(k => require(m(k) == ref(k),
            s"${r.comp} $k = ${m(k)}, the ${QueryOf(r.comp)} query gives ${ref(k)}"))
        }
      } catch { case scala.util.control.NonFatal(e) => r.op.wrongOutput(String.valueOf(e.getMessage)) }
    }
  }

  override def layerMetrics(ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.map(_.id).toSet
    val sink = ctx.tracer.recorded.filter(s => traced(s.op) && s.layer == "sink")
    Map("sink.write_s" -> (if (ops.isEmpty) 0.0 else sink.map(_.seconds).sum / ops.size))
  }

  def close(): Unit = ()
}

object Curation {
  val Compositions = Seq("v2", "v7", "pipeline")
  val SampleKeepPct = 80
  val QueryOf = Map("v2" -> "c24_curation_v2", "v7" -> "c24_curation_v7",
    "pipeline" -> "c24_curation_pipeline")
  val FingerprintCols = Seq("rows", "hash_a", "hash_b")

  final case class Params(sliceStart: Int, keepPct: Int, salt: Long)
  /** The c24 queries' own inputs: docs 0-49 held out, no sample. */
  val Canonical = Params(0, 100, 0L)
  final case class Result(op: Op, comp: String, params: Params, var observed: Map[String, Any])

  /** Row count and two order-free sums of row hashes, over the columns in
    * name order. */
  def fingerprint(df: DataFrame): Seq[Column] = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val m = lit(2147483647L)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(pmod(xxhash64(cols: _*), m)), lit(0L)).as("hash_a"),
      coalesce(sum(pmod(hash(cols: _*).cast("long"), m)), lit(0L)).as("hash_b"))
  }
}
