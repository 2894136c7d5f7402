package perfbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.ops.{IndexLifecycle, Ivf, Similarity}

/** Reads beside writes on one index. Set-up builds an IVF and an LSH index
  * over the 2,000 64-dim embeddings. One closed-loop reader's ops cycle
  * through `Ivf.probeIndex`, `Ivf.probeIndexBatch` (4 queries) and
  * `Similarity.probeLshIndex`, k = 10, one probe per op; half its query
  * vectors are indexed vectors (whose own id must come first), half are
  * seeded random unit vectors. One writer thread mutates the IVF
  * directory in the cycle append 16 vectors, tombstone 4 ids, compact. A
  * mutation falls due each time the reader starts an IVF probe (every
  * [[AnnServe.ProbesPerMutation]] probes), so every run has the same
  * interleaving of reads and writes; on a wall-clock schedule, which probes
  * a tombstone or compaction landed in varied from run to run and moved
  * the throughput by a fifth. The writer runs beside the reader, never
  * waits for it, and is timed from when each mutation fell due; the
  * end-to-end latency and throughput count probes only. The LSH index is
  * never written, so its probes are the control.
  * The IVF index is a pointer-mode root (`IndexLifecycle.buildIndexGeneration`),
  * the engine's layout for serving while mutating: compaction writes a new
  * generation and flips the pointer, so readers never list a half-rewritten
  * cell.
  * Removal victims are drawn from a fixed share of the corpus that the
  * reader never uses as a self-query. */
final class AnnServe(ctx: Ctx) extends Workload {
  import AnnServe._
  private val spark = ctx.spark
  private lazy val emb = spark.read.parquet(s"${ctx.dataDir}/embeddings.parquet")
    .select("vec_id", "embedding")
  private lazy val vectors: Map[Long, Array[Float]] = emb.collect()
    .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  private val rnd = new Random(ctx.seed + 1) // the reader's draws
  private lazy val (victims, stable) = {
    val ids = new Random(ctx.seed).shuffle(vectors.keys.toSeq.sorted)
    (ids.take(Data.Vectors / 5), ids.drop(Data.Vectors / 5).toIndexedSeq)
  }
  private var dir: Path = _
  private def ivf = dir.resolve("ivf").toString
  private def lsh = dir.resolve("lsh").toString

  private val probes = new ConcurrentLinkedQueue[Probe]()
  private val removedAt = new ConcurrentHashMap[Long, Long]() // id -> removal end (ns)
  private val created = new AtomicLong(0) // bytes of files mutations wrote; traced only
  private val appendedBytes = new AtomicLong(0)
  private val lags = new ConcurrentLinkedQueue[Double]()
  private var nextAppendId = 1000000L
  private var victimIdx = 0
  private var mutation = 0

  def setup(): Unit = {
    dir = ctx.freshDir("ann")
    IndexLifecycle.buildIndexGeneration(spark, ivf)(gen => Ivf.buildIndex(emb, "vec_id", "embedding", gen))
    Similarity.buildLshIndex(emb, "vec_id", "embedding", lsh)
  }

  private val warmupOps = new ConcurrentLinkedQueue[Op]()

  /** One mutation and one probe of each kind, so the window starts with
    * every code path compiled. Their outputs are checked with the
    * window's. */
  override def warmup(): Unit = {
    require(victims.nonEmpty && stable.nonEmpty)
    Cycle.foreach(_ => warmupOps.add(mutate(System.nanoTime())))
    Kinds.foreach(kind => warmupOps.add(probe(kind)))
  }

  override def untimedOps: Seq[Op] = warmupOps.asScala.toSeq

  def run(seconds: Double): Seq[Op] = {
    val writes = new ConcurrentLinkedQueue[Op]()
    val dues = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
    val readerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      while (!readerDone.get) {
        val due = dues.poll(20, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (due != null && !readerDone.get) {
          lags.add((System.nanoTime() - due) / 1e9)
          writes.add(mutate(due))
        }
      }
    }, "perfbench-writer")
    writer.start()
    val reads = try Loop.closed(1, seconds) { (_, i) =>
      if (i % ProbesPerMutation == 0) dues.add(System.nanoTime())
      probe(Kinds(i % Kinds.size))
    } finally readerDone.set(true)
    writer.join()
    reads ++ writes.asScala
  }

  private def mutate(dueNs: Long): Op = {
    val kind = Cycle(mutation % Cycle.size)
    mutation += 1
    val before = if (ctx.tracer.enabled) Fs.listing(Fs.path(ivf)) else Map.empty[String, (Long, Long)]
    val op = Loop.timed(ctx, kind, dueNs, primary = false) { _ =>
      kind match {
        case "append" =>
          val r = new Random(ctx.seed ^ nextAppendId)
          val batch = (0 until AppendBatch).map(i => (nextAppendId + i) -> randomVector(r))
          nextAppendId += AppendBatch
          ctx.span("ivf", "append")(Ivf.appendIndex(frame(batch), "vec_id", "embedding", ivf))
          appendedBytes.addAndGet(AppendBatch * Data.Dim * 4L)
        case "remove" =>
          val ids = victims.slice(victimIdx, victimIdx + RemoveBatch)
          victimIdx += RemoveBatch
          val df = spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
            StructType(Seq(StructField("vec_id", LongType))))
          ctx.span("index_lifecycle", "remove")(
            IndexLifecycle.removeIds(spark, ivf, df, "vec_id", tombstone = true))
          val done = System.nanoTime()
          ids.foreach(removedAt.put(_, done))
        case "compact" =>
          ctx.span("index_lifecycle", "compact")(IndexLifecycle.compactIndex(spark, ivf))
      }
    }
    if (ctx.tracer.enabled) {
      val after = Fs.listing(Fs.path(ivf))
      created.addAndGet(after.collect { case (p, (size, t)) if !before.get(p).contains((size, t)) => size }.sum)
    }
    op
  }

  /** One reader op: a probe of `kind`. */
  private def probe(kind: String): Op = {
    val n = if (kind == "ivf_batch") BatchSize else 1
    val queries = (0 until n).map { i =>
      if (rnd.nextBoolean()) { val id = stable(rnd.nextInt(stable.size)); (i.toLong, vectors(id), Some(id)) }
      else (i.toLong, randomVector(rnd), None)
    }
    val q = frame(queries.map(x => x._1 -> x._2))
    Loop.timed(ctx, kind) { op =>
      val rows = kind match {
        case "ivf" => ctx.span("ivf", "probe")(
          Ivf.probeIndex(spark, ivf, "vec_id", "embedding", q, "embedding", K).collect())
          .map(r => (0L, r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
        case "ivf_batch" => ctx.span("ivf", "batch_probe")(
          Ivf.probeIndexBatch(spark, ivf, "vec_id", "embedding", q, "vec_id", "embedding", K).collect())
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
        case "lsh" => ctx.span("similarity", "probe")(
          Similarity.probeLshIndex(spark, lsh, "vec_id", "embedding", q, "embedding", K).collect())
          .map(r => (0L, r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
      }
      probes.add(Probe(op, kind, op.startNs, queries.map(x => x._1 -> x._3).toMap, rows))
    }
  }

  def check(ops: Seq[Op]): Unit = {
    val ps = probes.asScala.toSeq
    // the last such probe, so the corrupted one is a timed op, not a warm-up probe
    if (ctx.inject.contains("tombstone")) ps.filter(p => p.kind != "lsh" && removedAt.asScala.exists(_._2 < p.startNs))
      .lastOption.foreach { p =>
        val dead = removedAt.asScala.filter(_._2 < p.startNs).keys.min
        p.rows = p.rows.updated(p.rows.size - 1, p.rows.last.copy(_2 = dead))
      }
    ps.filter(_.op.error.isEmpty).foreach { p =>
      try {
        val byQuery = p.rows.groupBy(_._1)
        p.own.foreach { case (qid, own) =>
          val got = byQuery.getOrElse(qid, Nil)
          require(got.size == K, s"${p.kind} query $qid returned ${got.size} rows, not $K")
          own.foreach { id =>
            val first = got.minBy(r => (-r._3, r._2))._2
            require(first == id, s"${p.kind} self-query of $id ranked $first first")
          }
        }
        if (p.kind != "lsh") p.rows.foreach { case (_, id, _) =>
          Option(removedAt.get(id)).foreach(t => require(t >= p.startNs,
            s"${p.kind} returned $id, removed before the probe started"))
        }
      } catch { case scala.util.control.NonFatal(e) => p.op.wrongOutput(String.valueOf(e.getMessage)) }
    }
  }

  override def layerMetrics(ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.map(_.id).toSet
    val spans = ctx.tracer.recorded.filter(s => traced(s.op))
    def meanSpan(layer: String, name: String) =
      Stats.mean(spans.filter(s => s.layer == layer && s.name == name).map(_.seconds))
    val stats = IndexLifecycle.indexStats(spark, ivf).head()
    val live = stats.getAs[Long]("live_rows")
    Map(
      "ivf.probe_s" -> meanSpan("ivf", "probe"),
      "ivf.batch_probe_s" -> meanSpan("ivf", "batch_probe"),
      "ivf.append_s" -> meanSpan("ivf", "append"),
      "similarity.probe_s" -> meanSpan("similarity", "probe"),
      "index_lifecycle.remove_s" -> meanSpan("index_lifecycle", "remove"),
      "index_lifecycle.compact_s" -> meanSpan("index_lifecycle", "compact"),
      "index_lifecycle.write_amp" ->
        (if (appendedBytes.get == 0) 0.0 else created.get.toDouble / appendedBytes.get),
      "index_lifecycle.bytes_per_live_vector" -> Fs.bytes(Fs.path(ivf)).toDouble / math.max(1L, live),
      "index_lifecycle.max_files_per_cell" -> stats.getAs[Int]("max_files_per_cell").toDouble,
      "index_lifecycle.tombstones" -> stats.getAs[Long]("tombstones").toDouble,
      "bench.writer_lag_p90_s" -> Stats.quantile(lags.asScala.toSeq, 0.9))
  }

  /** Untraced probe and mutation latencies, beside the end-to-end metrics. */
  override def detail(ops: Seq[Op]): Map[String, Double] = {
    val ok = ops.filter(_.error.isEmpty)
    val probeS = ok.filter(_.primary).map(_.seconds)
    val writes = ok.filterNot(_.primary).map(_.seconds)
    super.detail(ops) ++ Map("probe_p50_s" -> Stats.median(probeS), "probe_p90_s" -> Stats.quantile(probeS, 0.9),
      "mutate_p50_s" -> Stats.median(writes), "writer_lag_p90_s" -> Stats.quantile(lags.asScala.toSeq, 0.9))
  }

  private def frame(qs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(qs.map { case (i, v) => Row(i, v.toSeq) }: _*),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))

  private def randomVector(r: Random): Array[Float] =
    Data.unit(Array.fill(Data.Dim)(r.nextGaussian())).map(_.toFloat)

  def close(): Unit = ()
}

object AnnServe {
  val K = 10
  val ProbesPerMutation = 3
  val BatchSize = 4
  val AppendBatch = 16
  val RemoveBatch = 4
  val Kinds = Seq("ivf", "ivf_batch", "lsh")
  val Cycle = Seq("append", "remove", "compact")

  final case class Probe(op: Op, kind: String, startNs: Long, own: Map[Long, Option[Long]],
                         var rows: Seq[(Long, Long, Double)])
}
