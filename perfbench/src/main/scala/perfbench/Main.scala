package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Bus
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import graft.{EtlMain, SparkEntry}
import graft.core.Phases
import graft.etl.Pipeline
import graft.io.{Readers, Writers}
import graft.reports.Reports

/** The benchmark's JVM side: one workload on one local Spark session.
  *
  * Usage: perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  *          --work <dir> --result <file> [--data <dir> --queries <a,b,..>]
  *
  * Set-up (session start plus one warm-up pass) is timed apart from the
  * measured loop, which repeats one unit of work until `--seconds` have
  * passed. The result file carries raw timings; the Python front end
  * turns them into metrics and checks the outputs. */
object Main {
  val Cores = 4
  val AsOf = "2025-01-01 00:00:00"

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = session(workload, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val storage = new StorageProbe
    spark.sparkContext.addSparkListener(storage)
    val runner = new Runner(spark, storage, a("seconds").toDouble, a("trace") == "1")
    val result = workload match {
      case "etl_appointments" => runner.etl(work)
      case "ops_mix" =>
        runner.ops(a("data"), a("queries").split(",").toSeq, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setup = sessionS + result("warmup_s").asInstanceOf[Double]
    Files.writeString(Paths.get(a("result")),
      toJson(result ++ Map("session_s" -> sessionS, "setup_s" -> setup)))
    spark.stop()
  }

  /** ETL: configured like EtlMain.main; ops: like graft.Bench at 4 cores.
    * Every directory Spark writes to lives under the invocation's `work`. */
  def session(workload: String, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val s = (if (workload == "etl_appointments") b.appName("graft-etl")
      else b.appName("graft-bench")
        .config("spark.sql.shuffle.partitions", Cores)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def toJson(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Runner(spark: SparkSession, storage: StorageProbe, seconds: Double,
                  traced: Boolean) {
  import Main.{Cores, median, toJson}

  private val sc = spark.sparkContext
  private val engine = new EngineProbe
  private val tracer = new Tracer(sc, engine)
  private val errors = mutable.ArrayBuffer.empty[String]

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Quiet the JVM before a measured unit: collect garbage (which also lets
    * Spark's cleaner drop dead broadcasts), deliver pending events and
    * restart the storage peak from the current level. */
  private def settle(): Unit = {
    System.gc()
    Bus.drain(sc)
    storage.resetPeak()
  }

  private def peakMb(): Double = { Bus.drain(sc); storage.peakBytes / (1024.0 * 1024.0) }

  private def withEngineListeners[T](body: => T): T = {
    sc.addSparkListener(engine)
    try body
    finally {
      Bus.drain(sc)
      sc.removeSparkListener(engine)
    }
  }

  /** Repeat untraced units until the time is up and at least `minUnits`
    * ran. With tracing on, every untraced unit is paired with a traced one
    * in A-B, B-A order, so JVM warm-up drift cancels out of the traced
    * versus untraced comparison. Returns (untraced, traced) unit times. */
  private def measure(minUnits: Int, untracedUnit: () => Unit,
                      afterUntraced: () => Unit, tracedUnit: () => Unit,
                      afterTraced: () => Unit): (Seq[Double], Seq[Double]) = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val withTrace = mutable.ArrayBuffer.empty[Double]
    def runPlain(): Unit = {
      settle()
      val t0 = System.nanoTime()
      untracedUnit()
      plain += secsSince(t0)
      afterUntraced()
    }
    def runTraced(): Unit = {
      settle()
      tracer.run += 1
      val t0 = System.nanoTime()
      withEngineListeners(tracer("unit")(tracedUnit()))
      withTrace += secsSince(t0)
      afterTraced()
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      if (!traced) runPlain()
      else if (plain.size % 2 == 0) { runPlain(); runTraced() }
      else { runTraced(); runPlain() }
    } while (System.nanoTime() < deadline || plain.size < minUnits ||
      (traced && plain.size % 2 == 1))
    (plain.toSeq, withTrace.toSeq)
  }

  /** Per-metric median over the traced units. */
  private def layerMedians(perUnit: Seq[Map[String, Double]]): Map[String, Double] =
    perUnit.flatMap(_.keys).distinct.map(k =>
      k -> median(perUnit.map(_.getOrElse(k, 0.0)))).toMap

  private def traceFields(plain: Seq[Double], withTrace: Seq[Double],
                          layers: Seq[Map[String, Double]]): Map[String, Any] =
    if (!traced) Map.empty
    else Map(
      "traced_units_s" -> withTrace,
      "layers" -> (layerMedians(layers) +
        ("trace.overhead_frac" -> (median(withTrace) / median(plain) - 1))),
      "spans" -> tracer.dump())

  // ---------------------------------------------------------------- ETL

  private val Sinks = Seq("base_tratada_completa", "agenda_comparecimento",
    "status_por_turno", "perfil_noshow", "financeiro", "atravessamento",
    "fluxo_pacientes_agregado", "indicadores_confirmacao", "qualidade_dados",
    "perfil_agenda")

  private def asOf: Column = to_timestamp(lit(Main.AsOf))

  private def captureConsole(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(body)
    ps.flush()
    buf.toString("UTF-8")
  }

  private def etlRun(in: String, out: String): String = captureConsole {
    EtlMain.run(spark, s"$in/base.csv", s"$in/prices.txt", out,
      Some(s"$in/occupancy.csv"), asOf)
  }

  /** EtlMain.run composed from the same layer calls, in the same order,
    * with a span around each; returns the console summary it prints. */
  private def etlTraced(in: String, out: String,
                        cache: mutable.Map[String, Double]): String = {
    val t = tracer
    val base = t("readers.base")(Readers.csvWithEncodingRetry(spark, s"$in/base.csv", sep = ";"))
    val prices = t("readers.prices")(Readers.csvPriceTable(spark, s"$in/prices.txt"))
    val enriched = t("pipeline.plan") {
      val parsed = Pipeline.parseDates(Pipeline.canonicalize(base))
      Pipeline.priceJoin(Pipeline.enrich(parsed, asOf), prices).persist()
    }
    def sink(name: String, plan: => DataFrame): Unit = {
      val df = t("reports.plan")(plan)
      t(s"writers.$name")(Writers.csvBr(df, s"$out/$name", singleFile = true))
    }
    val keep = enriched.columns.filterNot(_.startsWith("key_"))
    t("writers.base_tratada_completa")(Writers.csvBr(
      enriched.select(keep.map(col): _*), s"$out/base_tratada_completa", singleFile = true))
    val mb = 1024.0 * 1024.0
    val cached = sc.getRDDStorageInfo
    cache("cache.enriched_mem_mb") = cached.map(_.memSize).sum / mb
    cache("cache.enriched_disk_mb") = cached.map(_.diskSize).sum / mb

    sink("agenda_comparecimento", Reports.dailyAttendance(enriched))
    sink("status_por_turno", Reports.statusByShift(enriched))
    sink("perfil_noshow", Reports.noShowProfile(enriched))
    sink("financeiro", Reports.financials(enriched))
    sink("atravessamento", Reports.journeyTimes(enriched))
    sink("fluxo_pacientes_agregado", Reports.patientFlow(enriched))
    sink("indicadores_confirmacao", Reports.confirmationKpis(enriched))
    sink("qualidade_dados", Reports.dataQuality(enriched,
      EtlMain.QualityStringCols, EtlMain.QualityOtherCols))
    val occ = t("readers.occupancy")(Readers.optionalCsv(spark, s"$in/occupancy.csv", ";",
      Seq("Nome_Medico", "qtde_horarios_disponiveis")))
    val withOcc = t("pipeline.plan")(occ match {
      case Some(o) => Pipeline.occupancyJoin(enriched, o)
      case None => enriched.withColumn("Horarios_Disponiveis", lit(0L))
    })
    sink("perfil_agenda", Reports.agendaProfile(withOcc))

    val k = t("etlmain.kpi")(enriched.agg(
      count(lit(1)).as("total"),
      coalesce(sum(when(col("Status_Consolidado") === "NO-SHOW", 1L)
        .otherwise(0L)), lit(0L)).as("ns"),
      coalesce(sum(when(col("Status_Consolidado") === "ATENDIDO",
        round(col("Valor") * 100).cast("long")).otherwise(0L)), lit(0L)).as("realized_c"),
      coalesce(sum(round(col("Valor") * 100).cast("long")), lit(0L)).as("potential_c"))
      .head())
    enriched.unpersist()
    Reports.formatSummary(k.getLong(0), k.getLong(1),
      k.getLong(2) / 100.0, k.getLong(3) / 100.0) + "\n"
  }

  private def etlLayers(run: Int, cache: Map[String, Double]): Map[String, Double] = {
    val spans = tracer.ofRun(run)
    val unit = spans.find(_.name == "unit").get
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.secs).sum
    val reports = Sinks.tail.flatMap(s => named(s"writers.$s"))
    val base = named("writers.base_tratada_completa").head
    Map(
      "readers.base_s" -> secs("readers.base"),
      "readers.base_jobs" -> named("readers.base").map(_.stat("jobs")).sum,
      "readers.prices_s" -> secs("readers.prices"),
      "readers.occupancy_s" -> secs("readers.occupancy"),
      "pipeline.plan_s" -> secs("pipeline.plan"),
      "reports.plan_s" -> secs("reports.plan"),
      "writers.base_s" -> base.secs,
      "writers.base_serial_s" -> base.serialMs / 1000,
      "writers.base_cpu_busy_frac" -> base.stat("run_ms") / (base.secs * 1000 * Cores),
      "writers.reports_s" -> reports.map(_.secs).sum,
      "writers.reports_driver_only_s" ->
        reports.map(s => (s.endMs - s.startMs - s.busyMs) / 1000).sum,
      "etlmain.kpi_s" -> secs("etlmain.kpi")) ++
      Sinks.tail.map(s => s"writers.${s}_s" -> secs(s"writers.$s")) ++
      cache ++ tracer.engineMetrics(unit, Cores)
  }

  def etl(work: String): Map[String, Any] = {
    val in = s"$work/in"
    val out = s"$work/out"
    val w0 = System.nanoTime()
    etlRun(in, s"$work/warm_out")
    val warmupS = secsSince(w0)

    val consoles = mutable.ArrayBuffer.empty[String]
    val actions = new ActionTimes
    spark.listenerManager.register(actions)
    val actionSecs = mutable.ArrayBuffer.empty[Double]
    val peaks = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val cache = mutable.Map.empty[String, Double]
    actions.take()
    val (plain, withTrace) = measure(1,
      () => consoles += etlRun(in, out),
      () => {
        peaks += peakMb()
        actionSecs ++= actions.take()
      },
      () => {
        spark.listenerManager.unregister(actions)
        consoles += etlTraced(in, out, cache)
        spark.listenerManager.register(actions)
      },
      () => layers += etlLayers(tracer.run, cache.toMap))
    Map("warmup_s" -> warmupS, "units_s" -> plain, "actions_s" -> actionSecs.toSeq,
      "peaks_mb" -> peaks.toSeq, "consoles" -> consoles.toSeq,
      "errors" -> errors.toSeq) ++ traceFields(plain, withTrace, layers.toSeq)
  }

  // ---------------------------------------------------------------- ops

  /** Defining module of a registry query: the object its function's
    * class belongs to (graft.queries.<Module>). */
  private def moduleOf(name: String): String =
    graft.queries.Registry.byName(name).fn.getClass.getName
      .stripPrefix("graft.queries.").takeWhile(_ != '$')

  private def clearCaches(): Unit =
    try spark.catalog.clearCache() catch { case _: Throwable => () }

  def ops(data: String, queries: Seq[String], work: String): Map[String, Any] = {
    val out = s"$work/out"
    // warm-up: each query once, its result saved for the oracle check
    val w0 = System.nanoTime()
    val warmErrors = mutable.LinkedHashMap.empty[String, String]
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$q")
      catch { case e: Throwable => warmErrors(q) = describe(e) }
      clearCaches()
    }
    val warmupS = secsSince(w0)
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), toJson(oracles))

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val failed = mutable.LinkedHashMap.empty[String, Int]
    val peaks = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]

    def runQuery(q: String, trace: Boolean): Unit = {
      def span[T](n: String)(body: => T): T = if (trace) tracer(n)(body) else body
      val t0 = System.nanoTime()
      try {
        Phases.withGate(q) {
          span(s"query.$q") {
            val df = span("ops.build")(SparkEntry.queries(q)(spark, data))
            span("ops.execute")(df.write.format("noop").mode("overwrite").save())
          }
        }
        if (!trace) times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += secsSince(t0)
      } catch {
        case e: Throwable =>
          failed(q) = failed.getOrElse(q, 0) + 1
          errors += s"$q: ${describe(e)}"
      }
      clearCaches()
    }

    def opsLayers(run: Int, batches: Seq[Double]): Map[String, Double] = {
      val spans = tracer.ofRun(run)
      val unit = spans.find(_.name == "unit").get
      val perQuery = spans.filter(_.name.startsWith("query."))
      val mb = 1024.0 * 1024.0
      val phases = queries.flatMap(q => Phases.forGate(q).toSeq)
        .groupMapReduce(kv => s"phases.${kv._1}_s")(_._2)(_ + _)
      val byModule = perQuery.groupMapReduce(s => s"ops.${moduleOf(s.name.stripPrefix("query."))}_s")(
        _.secs)(_ + _)
      val e = tracer.engineMetrics(unit, Cores)
      byModule ++ phases ++ e ++ Map(
        "ops.build_s" -> spans.filter(_.name == "ops.build").map(_.secs).sum,
        "ops.execute_s" -> spans.filter(_.name == "ops.execute").map(_.secs).sum,
        "lake.files_written" -> perQuery.map(_.stat("files")).sum,
        "lake.mb_written" -> perQuery.map(_.stat("output_b")).sum / mb,
        "streams.batches" -> unit.stat("batches"),
        "streams.commit_s" -> unit.stat("commit_ms") / 1000,
        "streams.batch_p50_s" -> (if (batches.isEmpty) 0.0 else median(batches) / 1000))
    }

    var batches0 = 0
    // two mixes: each query's time is its minimum over both (as graft.Bench)
    val (plain, withTrace) = measure(2,
      () => queries.foreach(runQuery(_, trace = false)),
      () => peaks += peakMb(),
      () => {
        batches0 = engine.batchCount
        queries.foreach(runQuery(_, trace = true))
      },
      () => layers += opsLayers(tracer.run, engine.batchesSince(batches0)))
    Map("warmup_s" -> warmupS, "units_s" -> plain,
      "queries_s" -> times.map { case (k, v) => k -> v.toSeq }.toMap,
      "modules" -> queries.map(q => q -> moduleOf(q)).toMap,
      "warm_errors" -> warmErrors.toMap, "failed" -> failed.toMap,
      "peaks_mb" -> peaks.toSeq, "errors" -> errors.toSeq) ++
      traceFields(plain, withTrace, layers.toSeq)
  }
}
