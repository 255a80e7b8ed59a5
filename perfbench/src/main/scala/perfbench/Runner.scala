package perfbench

import graft.{Harness, Materialize, SparkEntry, Tables}
import graft.etl.StarSchema
import graft.llm.{Dedup, TextOps}
import graft.report.Analytics
import graft.sources.Io
import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark's in-process half: runs one workload as a closed loop
  * with one client against the engine's public functions and writes
  * what it measured as JSON. `run.py` drives it, checks its outputs
  * against the DuckDB oracle and prints the metrics.
  *
  *   Runner oracle-sql <out.json>
  *   Runner run <workload> <dataDir> <workDir> <seconds> <trace 0|1> <setupReps> <out.json>
  */
object Runner {

  /** Oracle keys the benchmark checks outputs against. */
  val oracleKeys = Seq("etl_star_build", "sales_summary",
    "report_revenue_by_year", "report_quarterly_top5",
    "report_customer_summary", "report_units_by_country_quarter",
    "report_revenue_recent_years", "corpus_to_shards",
    "delta_corpus_to_shards")

  def main(args: Array[String]): Unit = args(0) match {
    case "oracle-sql" =>
      val sql = SparkEntry.oracleSql
      Files.writeString(Paths.get(args(1)),
        Json.obj(oracleKeys.map(k => k -> sql(k))))
    case "run" =>
      val Array(_, wl, data, work, secs, trace, reps, out) = args
      new Runner(wl, data, work, secs.toDouble, trace == "1", reps.toInt).run(out)
  }
}

/** What one measured operation produced. */
final case class OpResult(key: String, rows: Option[(Seq[String], Seq[Row])],
    dir: Option[String])

/** One measured operation: its wall time, its tasks' metrics, and the
  * scheduler, planner, codegen, GC and stage-cache deltas it caused. */
final class OpRec(val id: Int, val secs: Double, val sums: TaskSums,
    val res: Option[OpResult], val err: Option[String], val jobs: Seq[JobRec],
    val exchanges: Int, val codegenClasses: Long, val codegenNs: Long,
    val gcMs: Long, val planNs: Long, val builds: Seq[(String, Double)])

final class Runner(workload: String, data: String, work: String,
    seconds: Double, trace: Boolean, setupReps: Int) {

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val spark: SparkSession = Harness.session(
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")
  private val sc = spark.sparkContext
  private val probe = new Probe
  sc.addSparkListener(probe)
  private val tracer = new Tracer(sc)
  private val sessionReady = System.currentTimeMillis()

  /** Wrap a call into a layer in a span, when this pass is traced. */
  private var tracing = false
  private def tr[A](name: String)(body: => A): A =
    if (tracing) tracer(name)(body) else body

  // ---- inputs ---------------------------------------------------------

  /** A fresh directory of hard links to the generated inputs: the
    * engine keys its stage cache on the data directory, so a new
    * directory is a cold cache over the same bytes. */
  private var copies = 0
  private def freshInput(): String = {
    copies += 1
    val dir = Paths.get(work, "inputs", s"in$copies")
    Files.createDirectories(dir)
    Files.list(Paths.get(data)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => Files.createLink(dir.resolve(p.getFileName), p))
    dir.toString
  }

  private def count(name: String): Long =
    spark.read.parquet(s"$data/$name.parquet").count()

  // ---- workloads ------------------------------------------------------

  private val reports: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("report_revenue_by_year", "report.Analytics.revenueByYear", Analytics.revenueByYear),
    ("report_quarterly_top5", "report.Analytics.quarterlyRevenueTop5", Analytics.quarterlyRevenueTop5),
    ("report_customer_summary", "report.Analytics.customerSummary", Analytics.customerSummary),
    ("report_units_by_country_quarter", "report.Analytics.unitsByCountryQuarter", Analytics.unitsByCountryQuarter),
    ("report_revenue_recent_years", "report.Analytics.revenueByCountryRecentYears", Analytics.revenueByCountryRecentYears),
    ("sales_summary", "etl.StarSchema.salesSummary", StarSchema.salesSummary))

  private def collect(key: String, df: DataFrame): OpResult =
    OpResult(key, Some((df.columns.toSeq, df.collect().toSeq)), None)

  /** The directory every operation of the workload reads (the stateful
    * workloads read the one their set-up prepared). */
  private var opInput: String = data
  private var opSeq = 0

  /** Source rows one operation consumes. */
  private lazy val sourceRows: Long = workload match {
    case "star_load" =>
      Tables.lineitem(spark, data).count() + Tables.orders(spark, data).count() +
        Seq("customer", "part", "nation", "region").map(count).sum
    case "star_reports" => StarSchema.factSalesMaterialized(spark, opInput).count()
    case "corpus_export" => count("documents")
    case "corpus_delta" =>
      val split = Dedup.deltaSplitOf(spark, data)
      spark.read.parquet(s"$data/documents.parquet").filter(col("doc_id") >= split).count()
  }

  /** One-time state a workload's operations reuse; built `setupReps`
    * times on fresh input directories (each a cold stage cache), and
    * the operations read the first. */
  private def buildState(): Unit = workload match {
    case "star_reports" =>
      val d = freshInput()
      tr("etl.StarSchema.factSalesMaterialized") {
        StarSchema.factSalesMaterialized(spark, d).count()
      }
      if (opInput == data) opInput = d
    case "corpus_delta" =>
      val d = freshInput()
      tr("llm.Dedup.corpusSigGroupStage") { Dedup.corpusSigGroupStage(spark, d) }
      tr("llm.TextPacking.ctsCorpusState") { TextOps.ctsCorpusState(spark, d) }
      if (opInput == data) opInput = d
    case _ =>
  }

  private def operation(i: Int): OpResult = workload match {
    case "star_load" =>
      val wh = Paths.get(work, "out", s"wh$i").toString
      val dims = Seq(
        ("dimDate", "dim_date", StarSchema.dimDate _),
        ("dimLocation", "dim_location", StarSchema.dimLocation _),
        ("dimCustomer", "dim_customer", StarSchema.dimCustomer _),
        ("dimProduct", "dim_product", StarSchema.dimProduct _))
      for ((fn, table, build) <- dims) {
        val df = forced(s"etl.StarSchema.$fn")(build(spark, opInput))
        tr("sources.Io.writeDim") { Io.writeDim(df, s"$wh/$table") }
      }
      val fact = forced("etl.StarSchema.factSales")(StarSchema.factSales(spark, opInput))
      tr("sources.Io.writeFactPartitioned") {
        Io.writeFactPartitioned(fact, s"$wh/fact_sales")
      }
      OpResult("etl_star_build", None, Some(wh))
    case "star_reports" =>
      val (key, span, fn) = reports(i % reports.size)
      tr(span) { collect(key, fn(spark, opInput)) }
    case "corpus_export" =>
      val d = freshInput()
      opInput = d
      if (tracing) {
        standaloneGate(Tables.documents(spark, d))
        tr("llm.Dedup.clusterLabels") { Dedup.clusterLabels(spark, d) }
      }
      tr("llm.TextPacking.corpusToShards") {
        collect("corpus_to_shards", TextOps.corpusToShards.fn(spark, d))
      }
    case "corpus_delta" =>
      if (tracing) {
        val split = Dedup.deltaSplitOf(spark, opInput)
        standaloneGate(Tables.documents(spark, opInput).filter(col("doc_id") >= split))
      }
      tr("llm.TextPacking.deltaCorpusToShards") {
        collect("delta_corpus_to_shards", TextOps.deltaCorpusToShards.fn(spark, opInput))
      }
  }

  /** Traced passes split a frame's build from the call that consumes
    * it: the build is forced into a local checkpoint under its own
    * span, so the consumer's span holds only its own work. Untraced
    * passes hand the lazy frame straight on. */
  private def forced(span: String)(df: => DataFrame): DataFrame =
    if (tracing) tr(span)(df.localCheckpoint()) else df

  /** The corpus gates are composed inside the pipeline's plan, where no
    * call boundary separates them; a traced pass also runs them alone
    * on the operation's input, so their own cost has a span. */
  private def standaloneGate(docs: DataFrame): Unit =
    tr("llm.TextScoring.corpusCleanOf") { Harness.exhaust(TextOps.corpusCleanOf(docs)) }

  // ---- measurement ----------------------------------------------------

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  @volatile private var planNs = 0L
  spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
    private def add(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      planNs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = add(qe)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = add(qe)
  })

  /** Run one operation under its own job group (untraced) or its spans
    * (traced), and collect everything the listener saw for it. */
  private def measured(i: Int): OpRec = {
    PerfbenchBridge.drainListeners(sc)
    probe.clear()
    val builtBefore = Materialize.buildSecs.keySet().asScala.toSet
    val (cg0, cgNs0, gc0, plan0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, gcMillis(), planNs)
    tracer.op = i
    if (!tracing) sc.setJobGroup(s"op$i", workload)
    val t0 = System.nanoTime()
    val (res, err) =
      try (Some(operation(i)), None)
      catch { case e: Throwable => (None, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
    val secs = (System.nanoTime() - t0) / 1e9
    sc.clearJobGroup()
    PerfbenchBridge.drainListeners(sc)
    val jobs = probe.allJobs
    val sums = new TaskSums
    jobs.foreach(j => sums.add(j.sums))
    val builds = Materialize.buildSecs.asScala.toSeq
      .filterNot { case (k, _) => builtBefore(k) }.map { case (k, v) => (k, v: Double) }
    val rec = new OpRec(i, secs, sums, res, err, jobs, probe.allExchanges,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0,
      CodeGenerator.compileTime - cgNs0, gcMillis() - gc0, planNs - plan0, builds)
    Harness.sweepBlocks(spark)
    rec
  }

  /** Distinct operations a workload cycles through. */
  private val cycle = if (workload == "star_reports") reports.size else 1

  /** Fewest operations a loop measures, whatever `seconds` allows. The
    * first operations after warm-up still speed up as the JIT compiles
    * more of the engine, so a run that measured fewer operations (a slow
    * box) would sample an earlier, slower part of that curve. */
  private val minOps = if (workload.startsWith("star_")) 3 * cycle else 2

  /** Closed loop: the next operation starts when the previous ends,
    * until `seconds` of operations and `minOps` have run, in whole
    * cycles. */
  private def loop(): Seq[OpRec] = {
    val out = ArrayBuffer[OpRec]()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || out.size < minOps ||
        out.size % cycle != 0) {
      out += measured(opSeq); opSeq += 1
    }
    out.toSeq
  }

  /** A traced run's loop: untraced and traced cycles alternate, so both
    * sample the same stretch of JIT warm-up and box load and their
    * difference is the tracing overhead; each side gets `seconds` and
    * `minOps`. */
  private def interleaved(): (Seq[OpRec], Seq[OpRec]) = {
    val sides = Seq(ArrayBuffer[OpRec](), ArrayBuffer[OpRec]())
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < 2 * seconds || sides(1).size < minOps) {
      for (t <- Seq(false, true)) {
        tracing = t
        (0 until cycle).foreach { _ => sides(if (t) 1 else 0) += measured(opSeq); opSeq += 1 }
      }
    }
    tracing = false
    (sides(0).toSeq, sides(1).toSeq)
  }

  def run(outFile: String): Unit = {
    val stateSecs = (1 to setupReps).map { _ =>
      val t0 = System.nanoTime(); buildState(); (System.nanoTime() - t0) / 1e9
    }
    // warm-up: one untimed pass over the workload's distinct operations
    val tw = System.nanoTime()
    (0 until cycle).foreach { _ => measured(opSeq); opSeq += 1 }
    val warmSecs = (System.nanoTime() - tw) / 1e9
    val sessionSecs = (sessionReady - jvmStart) / 1e3
    val setupS = sessionSecs + median(stateSecs) + warmSecs

    val (plain, traced) = if (trace) interleaved() else (loop(), Nil)
    val outputs = writeOutputs(plain ++ traced)
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS,
      "setup_parts" -> Map("session_s" -> sessionSecs, "state_s" -> stateSecs,
        "warmup_s" -> warmSecs),
      "source_rows_per_op" -> sourceRows,
      "ops" -> plain.map(opJson(_, outputs)),
      "traced_ops" -> traced.map(opJson(_, outputs)))
    if (trace) doc ++= Profile.layers(traced, tracer, counters(traced))
    Files.writeString(Paths.get(outFile), Json.any(doc))
    spark.stop()
  }

  private def opJson(o: OpRec, outputs: Map[Int, String]): Map[String, Any] = Map(
    "id" -> o.id, "secs" -> o.secs, "cpu_s" -> o.sums.cpuNs / 1e9,
    "shuffle_mb" -> o.sums.shuffleWrite / 1e6,
    "task_run_s" -> o.sums.runMs / 1e3, "task_gc_s" -> o.sums.gcMs / 1e3,
    "peak_exec_mem_mb" -> o.sums.peakExecMem / 1e6,
    "key" -> o.res.map(_.key).orNull, "output" -> outputs.get(o.id).orNull,
    "error" -> o.err.orNull)

  /** Each operation's output, for run.py to hash: result rows as JSON,
    * or the warehouse directory the operation wrote. Written after the
    * loop, so none of it is timed. */
  private def writeOutputs(ops: Seq[OpRec]): Map[Int, String] =
    ops.flatMap(o => o.res.map { r =>
      o.id -> (r.rows match {
        case Some((cols, rows)) =>
          val p = Paths.get(work, "out", s"op${o.id}.json")
          Files.createDirectories(p.getParent)
          Files.writeString(p, Json.obj(Seq("columns" -> cols,
            "rows" -> rows.map(_.toSeq))))
          p.toString
        case None => r.dir.get
      })
    }).toMap

  // ---- traced-run counters (extra actions, after the timed loop) ------

  private def counters(traced: Seq[OpRec]): Map[String, Double] = {
    val c = mutable.Map[String, Double]()
    def frac(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    workload match {
      case "star_load" =>
        val wh = traced.last.res.flatMap(_.dir).get
        val fact = spark.read.parquet(s"$wh/fact_sales")
        val li = Tables.lineitem(spark, data).count()
        c("etl.StarSchema.fact_rows_per_lineitem") = frac(fact.count(), li)
        c("etl.StarSchema.unresolved_customer_rows") =
          fact.filter(col("customer_key") === -1L).count().toDouble
        val files = Files.walk(Paths.get(wh)).iterator().asScala
          .count(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        c("sources.Io.files_written") = files.toDouble
      case "corpus_export" | "corpus_delta" =>
        val d = opInput
        val docs = Tables.documents(spark, d)
        val scope = if (workload == "corpus_delta")
          docs.filter(col("doc_id") >= Dedup.deltaSplitOf(spark, d)) else docs
        val n = scope.count()
        c("llm.TextScoring.docs_kept_frac") =
          frac(TextOps.corpusCleanOf(scope).count(), n)
        if (workload == "corpus_export") {
          val pairs = Dedup.candidatePairs(spark, d)
          val cand = pairs.count()
          c("llm.Dedup.cand_pairs") = cand.toDouble
          c("llm.Dedup.dup_pairs_per_cand") =
            frac(Dedup.verifiedPairs(pairs, Dedup.minhashSigStage(spark, d)).count(), cand)
          c("llm.Dedup.docs_dropped_frac") = frac(Dedup.clusterLabels(spark, d)
            .filter(col("doc_id") =!= col("cluster_id")).count(), n)
        } else {
          val (idx, _) = TextOps.ctsCorpusState(spark, d)
          val r = idx.agg(sum("n_tokens"), max("bin_id")).first()
          if (!r.isNullAt(0))
            c("llm.TextPacking.bin_fill") = r.getLong(0).toDouble / ((r.getLong(1) + 1) * 2048.0)
        }
        val selected = traced.flatMap(_.res).flatMap(_.rows).headOption
          .map(_._2.map(_.getAs[Long]("n_docs")).sum).getOrElse(0L)
        c("llm.TextPacking.docs_selected_frac") = frac(selected,
          if (workload == "corpus_delta") docs.count() else n)
      case _ =>
    }
    c.toMap
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
