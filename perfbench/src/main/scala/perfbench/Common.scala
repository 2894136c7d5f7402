package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run: the session, the tracing
  * hooks, where the inputs are, where it may write, and its seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val listener: LayerListener,
                val dataDir: String, val workDir: Path, val seed: Long, val cores: Int,
                val inject: Option[String]) {
  private val opIds = new AtomicLong(0)
  def nextOpId(): Long = opIds.incrementAndGet()
  def span[A](layer: String, name: String)(body: => A): A = tracer.span(layer, name)(body)
  /** A fresh directory under the run's work directory. */
  def freshDir(name: String): Path = {
    val d = workDir.resolve(s"$name-${opIds.incrementAndGet()}")
    Files.createDirectories(d)
    d
  }
}

/** One timed op. `kind` groups ops for the per-kind latencies; `error` is
  * set when the op throws, or by the output check, which also sets
  * `wrong`: the op returned a wrong output. Only `primary` ops enter the
  * end-to-end latency and throughput; every op counts as attempted. */
final class Op(val id: Long, val kind: String, val startNs: Long, val primary: Boolean = true) {
  @volatile var endNs = 0L
  @volatile var error: Option[String] = None
  @volatile var wrong = false
  /** Sub-latencies a workload reports, in seconds (preview, export, ...). */
  val phases = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  def seconds: Double = (endNs - startNs) / 1e9
  def fail(msg: String): Unit = if (error.isEmpty) error = Some(msg.replaceAll("\\s+", " ").take(300))
  def wrongOutput(msg: String): Unit = { wrong = true; fail(s"check: $msg") }
}

/** A benchmark workload. `setup` runs several times (the reported set-up
  * time is their median); the state of the last one serves the runs.
  * `warmup` then runs once, untimed, so the first timed ops do not pay
  * for first-use work. `run` drives the clients for `seconds` and returns
  * every op started; `check` then verifies their outputs outside the
  * timed path. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit = ()
  /** Ops run outside the timed windows whose outputs are checked too. */
  def untimedOps: Seq[Op] = Nil
  def run(seconds: Double): Seq[Op]
  def check(ops: Seq[Op]): Unit
  /** Workload-specific metrics read at the end of a traced run. */
  def layerMetrics(ops: Seq[Op]): Map[String, Double] = Map.empty
  /** Workload-specific latencies of an untraced window: by default the
    * median of each phase the ops recorded. */
  def detail(ops: Seq[Op]): Map[String, Double] =
    ops.filter(_.error.isEmpty).flatMap(_.phases.asScala.toSeq).groupBy(_._1)
      .map { case (k, xs) => s"${k}_p50_s" -> Stats.median(xs.map(_._2)) }
  def close(): Unit
}

object Loop {
  /** Run `clients` closed-loop clients, each calling `op(client, index)`
    * until `seconds` have passed. The op in flight at the deadline
    * completes; the timed window ends with the last completion. */
  def closed(clients: Int, seconds: Double)(op: (Int, Int) => Op): Seq[Op] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline) { out.add(op(c, i)); i += 1 }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Time `body` as an op from `startNs`, recording a thrown exception as
    * its failure. */
  def timed(ctx: Ctx, kind: String, startNs: Long = System.nanoTime(), primary: Boolean = true)
           (body: Op => Unit): Op = {
    val op = new Op(ctx.nextOpId(), kind, startNs, primary)
    try ctx.tracer.op(op.id, kind)(body(op))
    catch { case scala.util.control.NonFatal(e) => op.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    op.endNs = System.nanoTime()
    op
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; infinite samples (failed
    * ops) sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val frac = pos - lo
    if (frac == 0 || lo + 1 >= s.size) s(lo)
    else if (s(lo + 1).isInfinite) Double.PositiveInfinity
    else s(lo) + (s(lo + 1) - s(lo)) * frac
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** Regular files under `p` with their sizes and modification times. */
  def listing(p: Path): Map[String, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { f =>
        try Some(f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }.toMap
      finally s.close()
    }

  def bytes(p: Path): Long = listing(p).values.map(_._1).sum
  def path(s: String): Path = Paths.get(s)
}

object Jvm {
  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
