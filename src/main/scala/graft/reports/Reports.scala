package graft.reports

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.H.{cnt, moneySum, pct}

/** The reference's nine BI aggregate tables (A1-A10,
  * /root/reference/src/etl_pipeline.py:464-688) as reusable
  * `DataFrame => DataFrame` report builders over the enriched frame
  * produced by [[graft.etl.Pipeline.enrich]].
  *
  * Every report is a single hash-aggregation over low-cardinality keys
  * with conditional counts/sums — one shuffle each; at 100 TB they all
  * branch off one cached enriched core (persist() at the call site,
  * mirroring the reference holding `df` in memory across its 9 writers).
  */
object Reports {

  private val isCancel =
    col("Status_Consolidado").isin("CANCELADO", "CANCELAMENTO_TARDIO")

  /** A1 daily attendance (etl_pipeline.py:476-487) — full frame including
    * future AGENDADO rows, like the reference. */
  def dailyAttendance(df: DataFrame): DataFrame =
    df.groupBy(col("Data_Agendamento"))
      .agg(
        count(lit(1)).as("Total_Agendamentos"),
        cnt(col("Status_Consolidado") === "ATENDIDO").as("Atendimentos"),
        cnt(col("Status_Consolidado") === "NO-SHOW").as("No_Shows"),
        cnt(isCancel).as("Cancelamentos"))
      .withColumn("Taxa_Atendimento",
        pct(col("Atendimentos"), col("Total_Agendamentos")))
      .withColumn("Taxa_No_Show", pct(col("No_Shows"), col("Total_Agendamentos")))
      .withColumn("Taxa_Cancelamento",
        pct(col("Cancelamentos"), col("Total_Agendamentos")))
      .orderBy("Data_Agendamento")

  /** A2 status by shift over past rows only (etl_pipeline.py:489-499). */
  def statusByShift(df: DataFrame): DataFrame =
    df.filter(col("Status_Consolidado") =!= "AGENDADO")
      .groupBy(col("Turno"))
      .agg(
        count(lit(1)).as("Total"),
        cnt(col("Status_Consolidado") === "ATENDIDO").as("Atendimentos"),
        cnt(col("Status_Consolidado") === "NO-SHOW").as("No_Shows"),
        cnt(isCancel).as("Cancelamentos"))
      .withColumn("Taxa_No_Show", pct(col("No_Shows"), col("Total")))
      .orderBy("Turno")

  /** A3 long-format no-show profile across dimensions with union-all melt
    * (etl_pipeline.py:501-528). */
  def noShowProfile(df: DataFrame,
                    dims: Seq[String] = Seq("Pacientes_Sexo", "Faixa_Etaria",
                      "Pacientes_Indicacao")): DataFrame =
    dims.filter(df.columns.contains).map { dim =>
      df.filter(col(dim) =!= "Indefinido" && col(dim).isNotNull)
        .groupBy(col(dim).as("Valor"))
        .agg(
          cnt(col("Status_Simples") === "No-Show").as("No_Show"),
          cnt(col("Status_Simples") === "Realizado").as("Realizado"),
          cnt(col("Status_Simples") === "Cancelado").as("Cancelado"),
          count(lit(1)).as("Total"))
        .select(lit(dim).as("Dimensao"), col("Valor"), col("No_Show"),
          col("Realizado"), col("Cancelado"), col("Total"),
          pct(col("No_Show"), col("Total")).as("Taxa_No_Show"))
    }.reduce(_ unionByName _).orderBy("Dimensao", "Valor")

  /** A4 financial rollup (etl_pipeline.py:530-544): conditional revenue
    * by outcome + ticket médio, exact via integer cents. */
  def financials(df: DataFrame): DataFrame = {
    def centsIf(c: org.apache.spark.sql.Column) =
      sum(when(c, round(col("Valor") * 100).cast("long")).otherwise(0L))
    df.groupBy(col("Unidade"), col("Procedimento"))
      .agg(
        count(lit(1)).as("Total_Agendamentos"),
        cnt(col("Status_Consolidado") === "ATENDIDO").as("Atendimentos"),
        cnt(col("Status_Consolidado") === "NO-SHOW").as("No_Shows"),
        round(centsIf(col("Status_Consolidado") === "ATENDIDO").cast("double") / 100, 2)
          .as("Receita_Realizada"),
        round(centsIf(col("Status_Consolidado") === "NO-SHOW").cast("double") / 100, 2)
          .as("Receita_Perdida_No_Show"),
        round(centsIf(isCancel).cast("double") / 100, 2).as("Receita_Perdida_Cancelamento"),
        moneySum(col("Valor")).as("Receita_Potencial"),
        centsIf(col("Status_Consolidado") === "ATENDIDO").as("_c"))
      .withColumn("Ticket_Medio",
        when(col("Atendimentos") > 0,
          round(col("_c").cast("double") / 100 / col("Atendimentos"), 2)))
      .drop("_c")
      .orderBy("Unidade", "Procedimento")
  }

  /** A5 journey timing over fully-timestamped ATENDIDO rows
    * (etl_pipeline.py:546-568). */
  def journeyTimes(df: DataFrame, onTimeLimitMin: Double = 15.0): DataFrame = {
    val espera = (unix_timestamp(col("Atendimentos_DataEHora_Atendimento")) -
      unix_timestamp(col("Atendimentos_DataEHora_Chegada"))) / 60.0
    val total = (unix_timestamp(col("Atendimentos_DataEHora_Final")) -
      unix_timestamp(col("Atendimentos_DataEHora_Chegada"))) / 60.0
    val pont = (unix_timestamp(col("Atendimentos_DataEHora_Atendimento")) -
      unix_timestamp(col("Agendamento Inicio"))) / 60.0
    df.filter(col("Status_Consolidado") === "ATENDIDO" &&
        col("Atendimentos_DataEHora_Chegada").isNotNull &&
        col("Atendimentos_DataEHora_Atendimento").isNotNull &&
        col("Atendimentos_DataEHora_Final").isNotNull)
      .groupBy(col("Unidade"), col("ID_Medico_Anon"))
      .agg(
        count(lit(1)).as("Atendimentos"),
        round(avg(total), 2).as("Tempo_Medio_Total_Min"),
        round(avg(espera), 2).as("Tempo_Medio_Espera_Min"),
        round(avg(pont), 2).as("Atraso_Medio_Min"),
        cnt(pont <= onTimeLimitMin).as("Pontuais"))
      .withColumn("Taxa_Pontualidade", pct(col("Pontuais"), col("Atendimentos")))
      .orderBy("Unidade", "ID_Medico_Anon")
  }

  /** A6 new-vs-returning split (etl_pipeline.py:570-577). */
  def patientFlow(df: DataFrame): DataFrame = {
    val labeled = df.withColumn("Tipo_Paciente",
      when(col("is_novo"), "Novo").otherwise("Recorrente"))
    labeled.groupBy(col("Tipo_Paciente"))
      .agg(count(lit(1)).as("Quantidade"))
      .withColumn("Percentual",
        pct(col("Quantidade"),
          sum("Quantidade").over(
            org.apache.spark.sql.expressions.Window.partitionBy())))
      .orderBy(desc("Quantidade"), asc("Tipo_Paciente"))
  }

  /** A7 global KPI block unpivoted to long form (etl_pipeline.py:579-596). */
  def confirmationKpis(df: DataFrame): DataFrame = {
    val a = df.agg(
      count(lit(1)).as("total"),
      cnt(col("Flag_Confirmado")).as("conf"),
      cnt(col("Status_Consolidado") === "ATENDIDO").as("atend"),
      cnt(col("Status_Consolidado") === "NO-SHOW").as("ns"),
      cnt(col("Status_Consolidado") === "NO-SHOW" && col("Flag_Confirmado")).as("nsc"),
      cnt(isCancel).as("canc"))
    a.select(explode(array(
        struct(lit("TOTAL_AGENDAMENTOS").as("Indicador"),
          col("total").as("Quantidade"), lit(100.0).as("Percentual")),
        struct(lit("CONFIRMADOS").as("Indicador"), col("conf").as("Quantidade"),
          pct(col("conf"), col("total")).as("Percentual")),
        struct(lit("ATENDIDOS").as("Indicador"), col("atend").as("Quantidade"),
          pct(col("atend"), col("total")).as("Percentual")),
        struct(lit("NO_SHOWS").as("Indicador"), col("ns").as("Quantidade"),
          pct(col("ns"), col("total")).as("Percentual")),
        struct(lit("NO_SHOWS_CONFIRMADOS").as("Indicador"), col("nsc").as("Quantidade"),
          pct(col("nsc"), col("total")).as("Percentual")),
        struct(lit("CANCELADOS").as("Indicador"), col("canc").as("Quantidade"),
          pct(col("canc"), col("total")).as("Percentual"))
      )).as("kv"))
      .select("kv.*")
      .orderBy("Indicador")
  }

  /** A8 data-quality fill-rate profile (etl_pipeline.py:598-625): string
    * columns count null-or-'Indefinido'; others count null. Absent columns
    * are skipped (the reference's phantom-column guard). */
  def dataQuality(df: DataFrame, stringCols: Seq[String], otherCols: Seq[String]): DataFrame = {
    val rows =
      stringCols.filter(df.columns.contains).map(c =>
        (c, cnt(col(c).isNull || col(c) === "Indefinido"))) ++
        otherCols.filter(df.columns.contains).map(c => (c, cnt(col(c).isNull)))
    val a = df.agg(count(lit(1)).as("total"),
      rows.map { case (name, agg) => agg.as(s"m_$name") }: _*)
    a.select(explode(array(rows.map { case (name, _) =>
        struct(lit(name).as("Coluna"), col(s"m_$name").as("Nulos"),
          (col("total") - col(s"m_$name")).as("Preenchidos"),
          pct(col("total") - col(s"m_$name"), col("total")).as("Taxa_Preenchimento"))
      }: _*)).as("kv"))
      .select("kv.*")
      .orderBy("Coluna")
  }

  /** A9 schedule profile + occupancy (etl_pipeline.py:627-686). The input
    * must already carry `Horarios_Disponiveis` (Pipeline.occupancyJoin).
    * The reference's 0-slot `inf` quirk resolves to null. */
  def agendaProfile(df: DataFrame): DataFrame =
    df.groupBy(col("Unidade"), col("ID_Medico_Anon"), col("Procedimento"),
        col("Categoria_Servico"))
      .agg(
        count(lit(1)).as("Agendamentos"),
        cnt(col("Status_Consolidado") === "ATENDIDO").as("Atendimentos"),
        cnt(col("Status_Consolidado") === "NO-SHOW").as("No_Shows"),
        moneySum(col("Valor")).as("Receita"),
        first(col("Horarios_Disponiveis")).as("Horarios_Disponiveis"))
      .withColumn("Taxa_Realizacao", pct(col("Atendimentos"), col("Agendamentos")))
      .withColumn("Taxa_Ocupacao",
        when(col("Horarios_Disponiveis") > 0,
          pct(col("Agendamentos"), col("Horarios_Disponiveis"))))
      .orderBy("Unidade", "ID_Medico_Anon", "Procedimento", "Categoria_Servico")

  /** F26: the reference's formatted console summary
    * (etl_pipeline.py:304-314,431-437) — driver-side string rendering of
    * an already-collected 1-row KPI aggregate (the only acceptable
    * collect: a scalar row). BR money format: R$ 1.234,56. */
  def formatSummary(totalAppts: Long, noShows: Long, realizedRevenue: Double,
                    potentialRevenue: Double): String = {
    def brMoney(x: Double): String = {
      // explicit ROOT locale: the default JVM locale could already use
      // comma decimals and the swap below would then double-apply
      val s = String.format(java.util.Locale.ROOT, "%,.2f", Double.box(x))
      "R$ " + s.map { case ',' => '.'; case '.' => ','; case c => c }
    }
    val taxa = if (totalAppts > 0) noShows.toDouble * 100 / totalAppts else 0.0
    f"""|=== RESUMO ===
        |Agendamentos: $totalAppts%d
        |No-shows: $noShows%d ($taxa%.2f%%)
        |Receita realizada: ${brMoney(realizedRevenue)}%s
        |Receita potencial: ${brMoney(potentialRevenue)}%s""".stripMargin
  }

  /** A10 crosstab with margins (etl_pipeline.py:381-409). */
  def crosstab(df: DataFrame, dim: String): DataFrame =
    df.filter(col(dim).isNotNull && col(dim) =!= "Indefinido")
      .groupBy(col(dim))
      .pivot("Status_Simples", Seq("No-Show", "Realizado", "Cancelado"))
      .agg(count(lit(1)))
      .na.fill(0, Seq("No-Show", "Realizado", "Cancelado"))
      .withColumn("Total",
        col("No-Show") + col("Realizado") + col("Cancelado"))
      .withColumn("Taxa_No_Show", pct(col("No-Show"), col("Total")))
      .orderBy(desc("Total"), asc(dim))
}
