package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced pass, built from its spans and the
  * listener's per-job records. A span's self time is its duration minus
  * the part of it its child spans cover. Every value is the median over the
  * traced operations of a per-operation figure; counters computed once
  * after the timed loop are merged in as they are. */
object Profile {

  /** Job spans: a job whose call site puts it in another owning module
    * than its enclosing span's becomes a derived child span of it. */
  private def jobSpans(op: OpRec, spans: Map[Int, Span], first: Int): Seq[(JobRec, Span)] =
    op.jobs.zipWithIndex.flatMap { case (j, k) =>
      Tracer.spanOf(j.group).flatMap(spans.get).map { sp =>
        Layers.ownerFrame(j.callSite) match {
          case Some(f) if Layers.layerOf(f) != sp.layer =>
            (j, Span(first + k, f, sp.id, op.id, j.start, math.max(j.end, j.start), derived = true))
          case _ => (j, sp)
        }
      }
    }

  /** Length of the union of [start, end) intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Seconds with at least two of the intervals running, and the most
    * running at once. */
  private def overlap(iv: Seq[(Long, Long)]): (Double, Int) = {
    val ev = iv.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }.sortBy(x => (x._1, x._2))
    var cur = 0; var best = 0; var last = 0L; var over = 0L
    for ((t, d) <- ev) {
      if (cur >= 2) over += t - last
      cur += d; best = math.max(best, cur); last = t
    }
    (over / 1e3, best)
  }

  private def perOp(op: OpRec, tracer: Tracer): (Map[String, Double], Seq[(Span, Long)]) = {
    val explicit = tracer.spans.synchronized(tracer.spans.filter(_.op == op.id).toSeq)
    val byId = explicit.map(s => s.id -> s).toMap
    val js = jobSpans(op, byId, 1000000 * (op.id + 1))
    val all = explicit ++ js.map(_._2).filter(_.derived)
    val children = all.groupBy(_.parent)
    def self(s: Span): Long = (s.end - s.start) - unionMs(children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).filter(c => c._2 > c._1))
    val m = mutable.Map[String, Double]().withDefaultValue(0.0)
    for (s <- all) m(s"${s.layer}.busy_s") += self(s) / 1e3
    for ((j, s) <- js) {
      m(s"${s.layer}.cpu_s") += j.sums.cpuNs / 1e9
      m(s"${s.layer}.shuffle_mb") += j.sums.shuffleWrite / 1e6
      if (s.layer == "sources.Io") {
        m("sources.Io.write_mb") += j.sums.bytesWritten / 1e6
        m("io.records_written") += j.sums.recordsWritten.toDouble
      }
    }
    if (m("io.records_written") > 0)
      m("sources.Io.write_mb_per_mrow") = m("sources.Io.write_mb") / (m("io.records_written") / 1e6)
    val t = op.sums
    m("Tables.records_read") = t.recordsRead.toDouble
    m("Tables.bytes_read_mb") = t.bytesRead / 1e6
    val reports = explicit.filter(_.layer == "report.Analytics")
    if (reports.nonEmpty) {
      m("report.Analytics.query_s_p50") = reports.map(s => (s.end - s.start) / 1e3).sum
      m("report.Analytics.jobs_per_query") = op.jobs.size.toDouble
      val rows = op.res.flatMap(_.rows).map(_._2.size).getOrElse(0)
      m("report.Analytics.rows_examined_per_result") = t.recordsRead.toDouble / math.max(rows, 1)
    }
    m("Materialize.builds") = op.builds.size.toDouble
    m("Materialize.build_s") = op.builds.map(_._2).sum
    val (ov, mx) = overlap(op.jobs.map(j => (j.start, math.max(j.end, j.start))))
    m("Par.max_concurrent_jobs") = mx.toDouble
    m("Par.overlap_s") = ov
    m("spark.sql.plan_s") = op.planNs / 1e9
    m("spark.sql.exchanges") = op.exchanges.toDouble
    m("spark.codegen.classes_compiled") = op.codegenClasses.toDouble
    m("spark.codegen.compile_s") = op.codegenNs / 1e9
    m("spark.scheduler.jobs") = op.jobs.size.toDouble
    m("spark.scheduler.stages") = op.jobs.map(_.stagesRun).sum.toDouble
    m("spark.scheduler.stages_skipped") = op.jobs.map(j => j.stageIds.size - j.stagesRun).sum.toDouble
    m("spark.scheduler.tasks") = t.tasks.toDouble
    m("spark.scheduler.task_wait_s") = t.taskWaitMs / 1e3
    m("spark.scheduler.task_failures") = t.failed.toDouble
    m("spark.shuffle.write_mb") = t.shuffleWrite / 1e6
    m("spark.shuffle.read_mb") = t.shuffleRead / 1e6
    m("spark.shuffle.fetch_wait_s") = t.fetchWaitMs / 1e3
    m("spark.memory.spill_mb") = t.spill / 1e6
    m("spark.memory.peak_exec_mem_mb") = t.peakExecMem / 1e6
    m("jvm.gc_s") = op.gcMs / 1e3
    val covered = js.map(_._1.sums.cpuNs).sum
    m("trace.cpu_covered_frac") = if (t.cpuNs == 0) 1.0 else covered.toDouble / t.cpuNs
    (m.toMap, all.map(s => (s, self(s))))
  }

  /** The traced pass's per-layer metrics and its spans, for the run's
    * output document. */
  def layers(traced: Seq[OpRec], tracer: Tracer,
      counters: Map[String, Double]): Seq[(String, Any)] = {
    val per = traced.map(perOp(_, tracer))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val k = s.size / 2
      if (s.size % 2 == 1) s(k) else (s(k - 1) + s(k)) / 2
    }
    // a report metric is a median over the operations that ran a report
    // function; every other metric counts an operation without it as 0
    // (run.py reports a layer no operation touched as 0)
    def value(n: String) = counters.getOrElse(n,
      if (n.startsWith("report.")) med(per.flatMap(_._1.get(n)))
      else med(per.map(_._1.getOrElse(n, 0.0))))
    val layer = (per.flatMap(_._1.keys) ++ counters.keys).distinct.map(n => n -> value(n))
    val spans = per.flatMap(_._2).sortBy { case (s, _) => (s.op, s.start, s.id) }.map {
      case (s, self) => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self,
        "derived" -> s.derived)
    }
    Seq("per_layer" -> layer.toMap, "per_layer_by_op" -> per.map(_._1),
      "spans" -> spans)
  }
}
