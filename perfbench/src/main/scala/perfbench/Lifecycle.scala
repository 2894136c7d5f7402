package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.functions.{col, lit, struct, to_csv}
import graft.engine.{Graft, QueryBuilder, QueryService}
import graft.engine.export.{ExportService, Exporters}

/** The reference's product path, closed loop with 2 clients (the
  * reference ran 2 API and 2 converter workers). One op: list the
  * partition values and schema, build the reference query shape, submit,
  * await, preview 26 rows, export in one format, await the export.
  *
  * `Graft.submit` is `catalog.table` → `QueryBuilder.build` →
  * `QueryService.submitPlan`; the op makes those three calls itself so
  * each module's share is timed from outside.
  *
  * Every seed asks for the same mix, from a fixed per-client schedule:
  * (table, result-size class) over 2 tables × 4 log-spaced classes of
  * ~300 to ~30,000 rows, the 7 export formats in turn, and 3 repeats in
  * every 10 ops. The seed draws each query (partition value, fields,
  * conjuncts, range) and which finished query a repeat re-submits. A
  * repeat re-submits a query the same client already finished, with its
  * AND-conjuncts reordered, and asks for a format that query has not been
  * exported in yet. */
final class Lifecycle(ctx: Ctx) extends Workload {
  import Lifecycle._
  private val spark = ctx.spark
  private var g: Graft = _
  private val records = new ConcurrentLinkedQueue[Rec]()

  def setup(): Unit = {
    if (g != null) g.close()
    g = Graft(spark, ctx.dataDir, ctx.freshDir("lifecycle").toString)
    // the catalog calls a client makes before its first query
    Seq("orders", "lineitem").foreach { t => g.schema(t); g.filterValues(t, PartitionCol(t)) }
    val id = g.submit("orders", "o_orderstatus", "F", "o_orderkey, o_totalprice",
      Some("o_totalprice > 499000"))
    require(g.awaitQuery(id) == QueryService.Succeeded, "warm-up query failed")
    require(g.preview(id).isRight, "warm-up preview failed")
    g.export(id, "csv")
    require(g.awaitExport(id, "csv").isInstanceOf[ExportService.Done], "warm-up export failed")
  }

  private val clients = Array.tabulate(Clients)(c => new Client(c, new Random(ctx.seed * 1000003L + c)))

  def run(seconds: Double): Seq[Op] = Loop.closed(Clients, seconds)((c, _) => clients(c).next())

  private final class Client(c: Int, rnd: Random) {
    private var i = 0
    // finished fresh queries of this client: id -> (spec, formats exported)
    private val finished = mutable.LinkedHashMap.empty[String, (Spec, Set[String])]

    def next(): Op = {
      val wantRepeat = RepeatSlots.contains(i % 10)
      val format0 = Formats((i + 3 * c) % Formats.size)
      val (table, sizeClass) = Shapes((i + 4 * c) % Shapes.size)
      i += 1
      // a repeat prefers a finished query not yet exported in this op's format
      val open = finished.toSeq.filter(_._2._2.size < Formats.size)
      val pool = Some(open.filterNot(_._2._2.contains(format0))).filter(_.nonEmpty).getOrElse(open)
      val repeat = if (!wantRepeat || pool.isEmpty) None else {
        val (id, (spec, done)) = pool(rnd.nextInt(pool.size))
        Some((id, spec.reordered, if (done(format0)) Formats.find(!done(_)).get else format0))
      }
      val draw = rnd.nextLong()
      var rec: Option[Rec] = None
      val op = Loop.timed(ctx, if (repeat.isDefined) "repeat" else "fresh") { op =>
        val t = repeat.map(_._2.table).getOrElse(table)
        val pcol = PartitionCol(t)
        val values = ctx.span("catalog", "filter_values")(g.filterValues(t, pcol))
        val schema = ctx.span("catalog", "describe")(g.schema(t))
        val spec = repeat.map(_._2).getOrElse(Spec.draw(new Random(draw), t, sizeClass, values, schema.map(_._1)))
        val format = repeat.map(_._3).getOrElse(format0)
        val base = ctx.span("catalog", "table")(g.catalog.table(t))
        val df = ctx.span("query_builder", "build")(
          QueryBuilder.build(base, pcol, spec.pval, spec.fields.mkString(", "), Some(spec.condition)))
        val id = ctx.span("query_service", "submit")(g.queries.submitPlan(df))
        val submittedMs = System.currentTimeMillis()
        val state = ctx.span("query_service", "await")(g.awaitQuery(id))
        val doneMs = System.currentTimeMillis()
        require(state == QueryService.Succeeded, s"query $id ended $state")
        val preview = ctx.span("query_service", "preview")(g.preview(id, 26))
          .fold(e => throw new IllegalStateException(s"preview: $e"), identity)
        op.phases.put("preview", (System.nanoTime() - op.startNs) / 1e9)
        val e0 = System.nanoTime()
        val exportCallMs = System.currentTimeMillis()
        val exported = ctx.span("export", format) {
          g.export(id, format)
          g.awaitExport(id, format)
        }
        op.phases.put("export", (System.nanoTime() - e0) / 1e9)
        val path = exported match {
          case ExportService.Done(p) => p
          case other => throw new IllegalStateException(s"export $format of $id ended $other")
        }
        val r = Rec(op, spec, id, repeat.map(_._1), preview, format, path, submittedMs, doneMs, exportCallMs)
        records.add(r)
        rec = Some(r)
      }
      rec.filter(_ => op.error.isEmpty).foreach { r =>
        val orig = r.repeatOf.getOrElse(r.queryId)
        val (spec, done) = finished.getOrElse(orig, (r.spec, Set.empty[String]))
        finished(orig) = (spec, done + r.format)
      }
      op
    }
  }

  /** First use of every export format and of `lineitem`, untimed. */
  override def warmup(): Unit = {
    val id = g.submit("lineitem", "l_returnflag", "R", "l_orderkey, l_shipdate, l_quantity",
      Some("l_orderkey < 2000"))
    require(g.awaitQuery(id) == QueryService.Succeeded && g.preview(id).isRight, "warm-up query failed")
    for (f <- Formats) {
      g.export(id, f)
      require(g.awaitExport(id, f).isInstanceOf[ExportService.Done], s"warm-up $f export failed")
    }
  }

  def check(ops: Seq[Op]): Unit = {
    val recs = records.asScala.toSeq.sortBy(_.op.id)
    if (ctx.inject.contains("preview")) recs.find(_.preview.size > 1).foreach { r =>
      r.preview = r.preview.updated(1, r.preview(1).updated(0, "corrupted"))
    }
    val ok = recs.filter(_.op.error.isEmpty)
    // every distinct query evaluated directly, as CSV lines, in one job
    val specs = ok.map(_.spec.canonical).distinct
    val direct: Map[Spec, Seq[String]] = if (specs.isEmpty) Map.empty else {
      val frames = specs.zipWithIndex.map { case (s, i) =>
        val df = QueryBuilder.build(g.catalog.table(s.table), PartitionCol(s.table), s.pval,
          s.fields.mkString(", "), Some(s.condition))
        df.select(lit(i).as("spec"), to_csv(struct(df.columns.map(col).toIndexedSeq: _*)).as("line"))
      }
      val rows = frames.reduce(_ unionAll _).collect()
      val bySpec = rows.groupBy(_.getInt(0)).map { case (i, rs) => i -> rs.map(_.getString(1)).toSeq }
      specs.indices.map(i => specs(i) -> bySpec.getOrElse(i, Seq.empty)).toMap
    }
    ok.foreach { r =>
      try {
        r.repeatOf.foreach(orig => require(r.queryId == orig,
          s"repeat returned ${r.queryId}, not the id $orig of the query it repeats"))
        val expected = direct(r.spec.canonical)
        val header = r.preview.head
        require(header == r.spec.fields, s"preview header $header, expected ${r.spec.fields}")
        val lines = r.preview.tail.map(_.mkString(","))
        require(lines.size == math.min(25, expected.size),
          s"preview has ${lines.size} rows, the result ${expected.size}")
        val missing = lines.diff(expected)
        require(missing.isEmpty, s"preview row not in the query result: ${missing.head}")
        val nResult = resultRows(r.queryId)
        require(nResult == expected.size, s"result has $nResult rows, the plan ${expected.size}")
        val nExport = exportRows(r.path, r.format)
        require(nExport == nResult, s"${r.format} export has $nExport rows, the result $nResult")
      } catch { case scala.util.control.NonFatal(e) => r.op.wrongOutput(String.valueOf(e.getMessage)) }
    }
  }

  /** Data rows of a query's CSV result: every part file has a header. */
  private def resultRows(id: String): Long = {
    val parts = Option(new java.io.File(g.queries.resultPath(id)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.length() > 0)
    parts.map(f => lineCount(Files.readAllBytes(f.toPath)) - 1L).sum
  }

  private def lineCount(bytes: Array[Byte]): Long = bytes.count(_ == '\n').toLong

  private def exportRows(path: String, format: String): Long = {
    def text = new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
    def count(s: String, sub: String): Long =
      Iterator.iterate(s.indexOf(sub))(i => s.indexOf(sub, i + sub.length)).takeWhile(_ >= 0).size.toLong
    format match {
      case "csv" | "tsv" => lineCount(Files.readAllBytes(Paths.get(path))) - 1L
      case "xml" => count(text, "<row>")
      case "json" =>
        val data = text.substring(text.indexOf("\"data\":[") + 8)
        if (data.startsWith("]")) 0L else count(data, "],[") + 1L
      case "xlsx" =>
        val zip = new java.util.zip.ZipFile(path)
        try {
          val sheet = new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml"))
            .readAllBytes(), StandardCharsets.UTF_8)
          count(sheet, "<row ") - 1L
        } finally zip.close()
      case "feather" =>
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val ch = Files.newByteChannel(Paths.get(path))
        val reader = new org.apache.arrow.vector.ipc.ArrowFileReader(ch, alloc)
        try {
          var n = 0L
          while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
          n
        } finally { reader.close(); ch.close(); alloc.close() }
      case "parquet" => spark.read.parquet(path).count()
    }
  }

  override def layerMetrics(ops: Seq[Op]): Map[String, Double] = {
    val traced = ops.map(_.id).toSet
    val recs = records.asScala.toSeq.filter(r => traced(r.op.id) && r.op.error.isEmpty)
    val spans = ctx.tracer.recorded.filter(s => traced(s.op))
    def meanSpan(layer: String, name: String) =
      Stats.mean(spans.filter(s => s.layer == layer && s.name == name).map(_.seconds))
    val fresh = recs.filter(_.repeatOf.isEmpty)
    val firstJob = ctx.listener.groupFirstJob.synchronized(ctx.listener.groupFirstJob.toMap)
    val filterSpans = spans.filter(s => s.layer == "catalog" && s.name == "filter_values")
    val jobsPerSpan = ctx.listener.synchronized(ctx.listener.jobsPerSpan.toMap)
    val exportFirst = ctx.listener.exportReads
    Map(
      "catalog.describe_s" -> meanSpan("catalog", "describe"),
      "catalog.filter_values_s" -> meanSpan("catalog", "filter_values"),
      "catalog.memo_hit_ratio" -> (if (filterSpans.isEmpty) 0.0
        else filterSpans.count(s => jobsPerSpan.getOrElse(s.id, 0) == 0).toDouble / filterSpans.size),
      "query_builder.build_s" -> meanSpan("query_builder", "build"),
      "query_service.submit_s" -> meanSpan("query_service", "submit"),
      "query_service.cache_hit_ratio" -> (if (recs.isEmpty) 0.0
        else recs.count(_.repeatOf.isDefined).toDouble / recs.size),
      "query_service.queue_wait_s" -> Stats.mean(fresh.flatMap(r =>
        firstJob.get(r.queryId).map(t => math.max(0L, t - r.submittedMs) / 1e3))),
      "query_service.execute_s" -> Stats.mean(fresh.flatMap(r =>
        firstJob.get(r.queryId).map(t => math.max(0L, r.doneMs - t) / 1e3))),
      "query_service.result_mb" -> Stats.mean(fresh.map(r =>
        Fs.bytes(Paths.get(g.queries.resultPath(r.queryId))) / 1048576.0)),
      "query_service.preview_s" -> meanSpan("query_service", "preview"),
      "export.queue_wait_s" -> Stats.mean(recs.flatMap(r =>
        exportFirst.filter { case (t, plan) => t >= r.exportCallMs && plan.contains(r.queryId) }
          .map(_._1).minOption.map(t => (t - r.exportCallMs) / 1e3))),
      "export.output_mb" -> Stats.mean(recs.map(r => Files.size(Paths.get(r.path)) / 1048576.0))
    ) ++ Exporters.SupportedFormats.map(f => s"export.${f}_s" -> meanSpan("export", f))
  }

  def close(): Unit = if (g != null) g.close()
}

object Lifecycle {
  val Clients = 2
  val Formats: Seq[String] = Exporters.SupportedFormats
  /** Per-client op schedule: (table, result-size class) alternating tables
    * and spreading classes, 3 repeats in every 10 ops; each client starts
    * at its own offset. The seed draws the queries themselves. */
  val Shapes = Seq(("orders", 0), ("lineitem", 3), ("orders", 2), ("lineitem", 1),
    ("orders", 3), ("lineitem", 0), ("orders", 1), ("lineitem", 2))
  val RepeatSlots = Set(2, 5, 8)
  val PartitionCol = Map("orders" -> "o_orderstatus", "lineitem" -> "l_returnflag")
  private val PartitionRows = Map("orders" -> Data.Orders / 3.0, "lineitem" -> Data.Lineitems / 3.0)

  final case class Rec(op: Op, spec: Spec, queryId: String, repeatOf: Option[String],
                       var preview: Seq[Seq[String]], format: String, path: String,
                       submittedMs: Long, doneMs: Long, exportCallMs: Long)

  /** A query of the reference shape. Conjunct order is part of the spec;
    * `canonical` forgets it. */
  final case class Spec(table: String, pval: String, fields: Seq[String], conjuncts: Seq[String]) {
    def condition: String = conjuncts.mkString(" AND ")
    def reordered: Spec = copy(conjuncts = conjuncts.tail :+ conjuncts.head)
    def canonical: Spec = copy(conjuncts = conjuncts.sorted)
  }

  object Spec {
    private val Day0 = java.time.LocalDate.of(1995, 1, 1)
    private val Days = 2404

    /** A query of about 530, 1,700, 5,300 or 17,000 rows (class `k`, the
      * log-midpoints of ~300 to ~30,000), with its key and 3 drawn columns:
      * up to two drawn conjuncts of known selectivity, then a two-sided
      * range at a drawn position, sized to reach the target. */
    def draw(rnd: Random, table: String, k: Int, values: Seq[String], columns: Seq[String]): Spec = {
      val target = 300.0 * math.pow(100.0, (k + 0.5) / 4)
      var sel = target / PartitionRows(table)
      def date(frac: Double) = Day0.plusDays((frac * Days).toLong).toString
      val (extras, key, range) = table match {
        case "orders" =>
          val p = 1 + rnd.nextInt(5)
          val f = 0.3 + 0.6 * rnd.nextDouble()
          val n = (300 + rnd.nextInt(1800))
          (Seq(
            (s"o_orderpriority LIKE '$p-%'", 0.2),
            (s"o_orderdate >= DATE '${date(1 - f)}'", f),
            (s"date_diff('day', o_orderdate, TIMESTAMP '2001-08-01 00:00:00') < $n", n.toDouble / Days)),
            Seq("o_orderkey"),
            (s: Double) => {
              val w = s * 499000.0
              val lo = 1000.0 + rnd.nextDouble() * (499000.0 - w)
              Seq(f"o_totalprice >= $lo%.2f", f"o_totalprice <= ${lo + w}%.2f")
            })
        case "lineitem" =>
          val q = 10 + rnd.nextInt(41)
          val f = 0.3 + 0.6 * rnd.nextDouble()
          (Seq(
            ("l_linestatus LIKE 'O%'", 0.5),
            (s"l_quantity <= $q", q / 50.0),
            (s"l_shipdate < TIMESTAMP '${date(f)} 00:00:00'", f)),
            Seq("l_orderkey", "l_linenumber"),
            (s: Double) => {
              val w = math.max(1L, (s * Data.Orders).toLong)
              val lo = (rnd.nextDouble() * (Data.Orders - w)).toLong
              Seq(s"l_orderkey >= $lo", s"l_orderkey <= ${lo + w - 1}")
            })
      }
      val chosen = rnd.shuffle(extras).take(1 + rnd.nextInt(2)).filter { case (_, s) =>
        val keep = sel / s <= 0.8
        if (keep) sel /= s
        keep
      }
      val conjuncts = rnd.shuffle(chosen.map(_._1) ++ range(sel))
      val others = columns.filterNot(c => key.contains(c) || c == PartitionCol(table))
      val fields = key ++ rnd.shuffle(others).take(3).sortBy(columns.indexOf(_))
      Spec(table, values(rnd.nextInt(values.size)), fields, conjuncts)
    }
  }
}
