package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import graft.io.{Readers, Writers}
import graft.reports.Reports

/** End-to-end ETL entry point — the Spark-native equivalent of the
  * reference's `main()` (/root/reference/src/etl_pipeline.py:692-712):
  * load base CSV + price table → preprocess/enrich → print the console
  * KPI summary → emit the ten BR-CSV aggregate tables
  * (etl_pipeline.py:464-688).
  *
  * Usage: `runMain graft.EtlMain <base.csv> <prices.txt> <outDir>
  *          [occupancy.csv] [asOf yyyy-MM-dd HH:mm:ss]`
  *
  * The reference anchors "past vs future" on `datetime.now()`; here the
  * anchor is an explicit optional argument (defaulting to now) so runs
  * are reproducible — same rule as [[Pipeline.enrich]].
  *
  * Scale posture: the enriched core is computed once and persisted, then
  * all ten sinks branch off it (the reference holds `df` in memory the
  * same way). Each aggregate is a single hash-agg over low-cardinality
  * keys; only the full-base export writes fact-scale data, and it streams
  * distributed. The driver collects two bounded results only: the scalar
  * KPI row (`.head()`) for the console summary, and the price table's
  * 100-row numeric-validation sample in [[Readers.csvPriceTable]].
  */
object EtlMain {

  /** The reference's data-quality column list (etl_pipeline.py:599-604),
    * split by dtype rule: string columns count null-or-'Indefinido',
    * others count null (etl_pipeline.py:609-613). */
  val QualityStringCols: Seq[String] = Seq(
    "Unidade", "Procedimento", "ID_Medico_Anon", "ID_Paciente_Anon",
    "Categoria_Servico_Limpa", "Pacientes_Sexo", "Pacientes_Indicacao")
  val QualityOtherCols: Seq[String] = Seq(
    "Agendamento Inicio", "Data_Marcacao", "Valor",
    "Pacientes_DataNascimento", "Confirmacoes_Data_Confirmacao")

  /** The ten-file output contract (etl_pipeline.py:470-686). */
  def run(spark: SparkSession, baseCsv: String, pricesCsv: String,
          outDir: String, occupancyCsv: Option[String] = None,
          asOf: Column = current_timestamp()): Unit = {
    val base = Readers.csvWithEncodingRetry(spark, baseCsv, sep = ";")
    val prices = Readers.csvPriceTable(spark, pricesCsv)

    val parsed = Pipeline.parseDates(Pipeline.canonicalize(base))
    val enriched = Pipeline.priceJoin(Pipeline.enrich(parsed, asOf), prices)
      .persist()

    def sink(name: String, df: DataFrame): Unit =
      Writers.csvBr(df, s"$outDir/$name", singleFile = true)

    // 0. full treated base, key_* helper columns excluded
    //    (etl_pipeline.py:470-472)
    val keep = enriched.columns.filterNot(_.startsWith("key_"))
    sink("base_tratada_completa", enriched.select(keep.map(col): _*))

    sink("agenda_comparecimento", Reports.dailyAttendance(enriched))  // 1
    sink("status_por_turno", Reports.statusByShift(enriched))         // 2
    sink("perfil_noshow", Reports.noShowProfile(enriched))            // 3
    sink("financeiro", Reports.financials(enriched))                  // 4
    sink("atravessamento", Reports.journeyTimes(enriched))            // 5
    sink("fluxo_pacientes_agregado", Reports.patientFlow(enriched))   // 6
    sink("indicadores_confirmacao", Reports.confirmationKpis(enriched)) // 7
    sink("qualidade_dados",                                           // 8
      Reports.dataQuality(enriched, QualityStringCols, QualityOtherCols))

    // 9. schedule profile, with the occupancy side table when present
    //    (etl_pipeline.py:627-686: absent file → zero slots)
    val occ = occupancyCsv.flatMap(p => Readers.optionalCsv(spark, p, ";",
      Seq("Nome_Medico", "qtde_horarios_disponiveis")))
    val withOcc = occ match {
      case Some(o) => Pipeline.occupancyJoin(enriched, o)
      case None => enriched.withColumn("Horarios_Disponiveis", lit(0L))
    }
    sink("perfil_agenda", Reports.agendaProfile(withOcc))

    // console summary (etl_pipeline.py:431-437) — the one driver-side
    // collect: a single scalar KPI row. Sums coalesce to 0: over an
    // empty/fully-filtered base sum() is NULL and getLong would NPE.
    val k = enriched.agg(
      count(lit(1)).as("total"),
      coalesce(sum(when(col("Status_Consolidado") === "NO-SHOW", 1L)
        .otherwise(0L)), lit(0L)).as("ns"),
      coalesce(sum(when(col("Status_Consolidado") === "ATENDIDO",
        round(col("Valor") * 100).cast("long")).otherwise(0L)), lit(0L)).as("realized_c"),
      coalesce(sum(round(col("Valor") * 100).cast("long")), lit(0L)).as("potential_c"))
      .head()
    println(Reports.formatSummary(k.getLong(0), k.getLong(1),
      k.getLong(2) / 100.0, k.getLong(3) / 100.0))

    enriched.unpersist()
  }

  /** Disambiguate the two optional args: a 4th arg that parses as a
    * timestamp (and has no 5th behind it) is the asOf anchor, not a
    * silently-missing occupancy file. */
  private[graft] def parseOptionalArgs(arg3: Option[String], arg4: Option[String])
      : (Option[String], Option[String]) = {
    def isTimestamp(s: String): Boolean =
      scala.util.Try(java.sql.Timestamp.valueOf(s)).isSuccess
    (arg3, arg4) match {
      case (Some(a), None) if isTimestamp(a) => (None, Some(a))
      case (occ, ts) => (occ, ts)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: EtlMain <base.csv> <prices.txt> <outDir> [occupancy.csv] [asOf]")
    val builder = SparkSession.builder()
      .appName("graft-etl")
      .config("spark.sql.session.timeZone", "UTC")
    // under spark-submit the master comes from the launcher; standalone
    // (sbt runMain) falls back to all local cores
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (occArg, asOfArg) = parseOptionalArgs(args.lift(3), args.lift(4))
    occArg.filterNot(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      .foreach(p => System.err.println(
        s"WARNING: occupancy file '$p' not found - occupancy fills 0 " +
          "(pass asOf as 'yyyy-MM-dd HH:mm:ss' if this was meant as the anchor)"))
    val asOf = asOfArg.map(ts => to_timestamp(lit(ts))).getOrElse(current_timestamp())
    run(spark, args(0), args(1), args(2), occArg, asOf)
    spark.stop()
  }
}
