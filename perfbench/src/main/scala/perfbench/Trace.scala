package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.engine.QueryService

/** One call from benchmark code into an engine layer. Times are
  * `System.nanoTime`; `parent` is 0 for an op's root span. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder. When disabled, `span` runs its body and records nothing,
  * so untraced runs pay only a branch per layer call. Spans stay in memory
  * until the run ends.
  *
  * The active span id and its layer are also set as Spark local
  * properties on the calling thread, so [[LayerListener]] can attribute a
  * job whose call site names no engine file (a benchmark-side action such
  * as the final noop write) to the call that ran it. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // (span id, op id) of the innermost open span on this thread
  private val current = new ThreadLocal[(Long, Long)] { override def initialValue = (0L, 0L) }

  def recorded: Seq[Span] = spans.asScala.toSeq

  /** Root span of one op; layer calls inside it become its children. */
  def op[A](opId: Long, name: String)(body: => A): A = open(opId, "op", name, body)

  def span[A](layer: String, name: String)(body: => A): A = {
    val (_, op) = current.get()
    open(op, layer, name, body)
  }

  private def open[A](op: Long, layer: String, name: String, body: => A): A =
    if (!enabled) body
    else {
      val saved = current.get()
      val id = ids.incrementAndGet()
      val savedLayer = sc.getLocalProperty(Tracer.LayerProp)
      val savedSpan = sc.getLocalProperty(Tracer.SpanProp)
      current.set((id, op))
      if (layer != "op") sc.setLocalProperty(Tracer.LayerProp, layer)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, saved._1, op, layer, name, t0, System.nanoTime()))
        current.set(saved)
        sc.setLocalProperty(Tracer.LayerProp, savedLayer)
        sc.setLocalProperty(Tracer.SpanProp, savedSpan)
      }
    }
}

object Tracer {
  val LayerProp = "perfbench.layer"
  val SpanProp = "perfbench.span"

  /** Self time of each span: its duration minus the part of its interval
    * that its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var union = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > curE) { union += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      union += math.max(0L, curE - curS)
      s.id -> ((s.end - s.start - union) / 1e9)
    }.toMap
  }
}

/** Per-layer job and task accounting, active only while `active` is set.
  *
  * A job is attributed, in this order, to: `query_service` when its job
  * group is a query id (QueryService runs every query under its id); the
  * outermost engine source file on the job's call site (the stage call
  * site, else the call site of the SQL execution that ran it, which covers
  * broadcast jobs started on Spark's own threads); the layer of the
  * benchmark span open on the submitting thread; else `unattributed`.
  * Engine-internal helpers (`functions/`, `Tables`) are skipped, so their
  * work lands on the calling layer. */
final class LayerListener extends SparkListener {
  @volatile var active = false

  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskRunMs = 0L; var taskCpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
  private val byLayer = mutable.Map.empty[String, Acc]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val execDetails = mutable.Map.empty[Long, String]
  val jobsPerSpan = mutable.Map.empty[Long, Int]
  /** First job start (epoch ms) per job group. */
  val groupFirstJob = mutable.Map.empty[String, Long]
  /** (start epoch ms, physical plan) of each SQL execution an export ran:
    * the plan names the result it reads, which ties it to a query id. */
  private val exportExecs = mutable.ArrayBuffer.empty[(Long, String)]
  def exportReads: Seq[(Long, String)] = synchronized(exportExecs.toSeq)

  def snapshot: Map[String, Acc] = synchronized(byLayer.toMap)
  def total: Acc = synchronized {
    val t = new Acc
    byLayer.values.foreach { a =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.taskRunMs += a.taskRunMs; t.taskCpuNs += a.taskCpuNs
      t.shuffleWrite += a.shuffleWrite; t.shuffleRead += a.shuffleRead; t.spill += a.spill
    }
    t
  }

  private def acc(layer: String) = byLayer.getOrElseUpdate(layer, new Acc)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execDetails(s.executionId) = s.details
      if (active && LayerListener.layerOfCallSite(s.details).contains("export"))
        exportExecs += ((s.time, s.physicalPlanDescription))
    }
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id")
    group.foreach(g => if (!groupFirstJob.contains(g)) groupFirstJob(g) = js.time)
    if (!active) return
    val fromStages = js.stageInfos.iterator.map(s => LayerListener.layerOfCallSite(s.details))
      .collectFirst { case Some(l) => l }
    val fromExec = prop("spark.sql.execution.id").flatMap(id => execDetails.get(id.toLong))
      .flatMap(LayerListener.layerOfCallSite)
    val layer =
      if (group.exists(QueryService.isValidQueryId)) "query_service"
      else fromStages.orElse(fromExec).orElse(prop(Tracer.LayerProp)).getOrElse("unattributed")
    js.stageIds.foreach(stageLayer(_) = layer)
    acc(layer).jobs += 1
    prop(Tracer.SpanProp).foreach(s => jobsPerSpan(s.toLong) = jobsPerSpan.getOrElse(s.toLong, 0) + 1)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    stageLayer.get(sc.stageInfo.stageId).foreach(l => acc(l).stages += 1)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageLayer.get(te.stageId).foreach { l =>
      val a = acc(l)
      a.tasks += 1
      Option(te.taskMetrics).foreach { m =>
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object LayerListener {
  private val Frame = """(graft\.[\w.$]+)\((\w+)\.scala:\d+\)""".r.unanchored

  val LayerOfFile: Map[String, String] = Map(
    "Catalog" -> "catalog", "QueryBuilder" -> "query_builder",
    "QueryService" -> "query_service", "ExportService" -> "export",
    "Exporters" -> "export", "Feather" -> "export", "Dedup" -> "dedup",
    "Text" -> "text", "Relational" -> "relational", "Ivf" -> "ivf",
    "Similarity" -> "similarity", "IndexLifecycle" -> "index_lifecycle")

  /** The layer of the outermost engine frame of a call-site stack (frames
    * are listed innermost first). */
  def layerOfCallSite(details: String): Option[String] =
    Option(details).toSeq.flatMap(_.split("\n"))
      .flatMap { case Frame(_, file) => LayerOfFile.get(file); case _ => None }
      .lastOption
}
