package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** The appointment-domain ETL as reusable `DataFrame => DataFrame`
  * transforms (SURVEY.md §7.1) — the reference's pre-processing pipeline
  * (/root/reference/src/etl_pipeline.py:163-300) re-expressed Spark-first.
  * Every step is a pure projection/filter/join on the lazy plan; the
  * volatile `datetime.now()` anchor is an explicit `asOf` parameter.
  */
object Pipeline {

  /** P1: canonicalizing rename map (etl_pipeline.py:48-76) — tolerate both
    * anonymized and nominal headers; only renames columns actually present. */
  val RenameMap: Map[String, String] = Map(
    "Nome_Medico" -> "ID_Medico_Anon",
    "Nome_Paciente" -> "ID_Paciente_Anon",
    "Médico" -> "ID_Medico_Anon",
    "Paciente" -> "ID_Paciente_Anon",
    "Agendamento Início" -> "Agendamento Inicio",
    "Data Marcacao" -> "Data_Marcacao")

  def canonicalize(df: DataFrame): DataFrame = {
    val present = RenameMap.filter { case (from, to) =>
      df.columns.contains(from) && !df.columns.contains(to)
    }
    df.withColumnsRenamed(present)
  }

  /** F3: null-sentinel substitution (Criptografia.py:75-78): null →
    * a literal sentinel (e.g. 'CPF_NULO'), else the string value. */
  def nullSentinel(df: DataFrame, column: String, sentinel: String): DataFrame =
    df.withColumn(column,
      when(col(column).isNull, lit(sentinel)).otherwise(col(column).cast("string")))

  /** P11: drop rows missing any of the required columns
    * (etl_pipeline.py:442 — na.drop on booking + start timestamps). */
  def dropIncomplete(df: DataFrame, required: Seq[String]): DataFrame =
    df.na.drop("any", required.filter(df.columns.contains))

  /** P6: fixed export projection (Criptografia.py:134-171): select the
    * given columns in order, tolerating absent ones like the reference's
    * presence guards. */
  def exportProjection(df: DataFrame, columns: Seq[String]): DataFrame =
    df.select(columns.filter(df.columns.contains).map(col): _*)

  /** F25: the reference's declared-but-never-applied status decode maps
    * (etl_pipeline.py:14-25), shipped as an optional recode transform
    * (same when-chain pattern as F21); unmatched values pass through. */
  val StatusMarcacaoDecode: Map[String, String] = Map(
    "A" -> "Aberta", "E" -> "Executada", "C" -> "Cancelada", "B" -> "Bloqueada")
  val StatusConfirmacaoDecode: Map[String, String] = Map(
    "A" -> "Em Aberto", "N" -> "Nao Confirmado", "C" -> "Confirmado")

  def decodeStatus(df: DataFrame, column: String,
                   mapping: Map[String, String]): DataFrame =
    if (!df.columns.contains(column)) df
    else df.withColumn(column,
      mapping.foldLeft(when(lit(false), lit(""))) { case (acc, (k, v)) =>
        acc.when(col(column) === k, v)
      }.otherwise(col(column)))

  /** F7: day-first multi-format timestamp parse — the pandas flexible
    * parser mimicked with a try_to_timestamp coalesce chain
    * (etl_pipeline.py:183-194; 13 columns in the reference). Applied only
    * to columns present, like every reference step. */
  val DateFormats: Seq[String] = Seq(
    "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy",
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd")

  /** The digit shape of each of [[DateFormats]], in the same order. A
    * string of shape i fails every earlier format (each needs a different
    * length or separator), and if format i fails on it, so does every later
    * one; so the one format its shape names gives the chain's answer. */
  private val DateShapes: Seq[String] = Seq(
    """^\d{2}/\d{2}/\d{4} \d{2}:\d{2}:\d{2}\z""", """^\d{2}/\d{2}/\d{4} \d{2}:\d{2}\z""",
    """^\d{2}/\d{2}/\d{4}\z""", """^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\z""",
    """^\d{4}-\d{2}-\d{2}\z""")

  /** Each value is dispatched on its digit shape to the one format that can
    * parse it, so a miss costs no parse exception per earlier format. Values
    * of no shape (single-digit fields, padding, 5-digit years, trailing
    * text) go through the full coalesce chain. */
  def parseDate(c: Column): Column = {
    val s = c.cast("string")
    val parsed = DateFormats.map(f => try_to_timestamp(s, lit(f)))
    DateShapes.zip(parsed).tail.foldLeft(
      when(s.rlike(DateShapes.head), parsed.head)) { case (w, (shape, p)) =>
      w.when(s.rlike(shape), p)
    }.otherwise(coalesce(parsed: _*))
  }

  val DateColumns: Seq[String] = Seq(
    "Agendamento Inicio", "Agendamento Final", "Data_Marcacao",
    "Pacientes_DataNascimento", "Pacientes_DataRegistro",
    "Confirmacoes_Data_Confirmacao", "Atendimentos_DataEHora_Chegada",
    "Atendimentos_DataEHora_Atendimento", "Atendimentos_DataEHora_Final",
    "Cancelamentos_DataDeCancelamento")

  def parseDates(df: DataFrame, cols: Seq[String] = DateColumns): DataFrame = {
    // one projection, not one withColumn layer per date column
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) df
    else df.withColumns(present.map(c => c -> parseDate(col(c))).toMap)
  }

  /** The full derivation block (F8-F20 + F14-F17): null-ness flags, lead
    * time, late-cancel, no-show vs `asOf`, the status-consolidation
    * precedence CASE (including the reference quirk: a cancelled past
    * appointment with no arrival classifies NO-SHOW, because NO-SHOW
    * outranks CANCELADO — etl_pipeline.py:265-277), age bands, shift,
    * new-vs-returning, date truncation, fills. */
  def enrich(df0: DataFrame, asOf: Column): DataFrame = {
    val df = df0
      .withColumn("Pacientes_Sexo",
        if (df0.columns.contains("Pacientes_Sexo"))
          coalesce(col("Pacientes_Sexo"), lit("Indefinido"))
        else lit("Indefinido"))
    val flagged = df
      .withColumn("Flag_Cancelado", col("Cancelamentos_DataDeCancelamento").isNotNull)
      .withColumn("Flag_Confirmado", col("Confirmacoes_Data_Confirmacao").isNotNull)
      .withColumn("Flag_Atendido", col("Atendimentos_DataEHora_Atendimento").isNotNull)
      .withColumn("Flag_Compareceu", col("Atendimentos_DataEHora_Chegada").isNotNull)
      // lead time between the cancellation and the appointment START
      // (etl_pipeline.py:243-247) — may be negative for post-hoc cancels
      .withColumn("Antecedencia_Horas",
        ts_diff_hours(col("Agendamento Inicio"), col("Cancelamentos_DataDeCancelamento")))
      .withColumn("Flag_No_Show",
        !col("Flag_Compareceu") && col("Agendamento Inicio") < asOf)
      .withColumn("Flag_Cancelamento_Tardio",
        col("Flag_Cancelado") && col("Antecedencia_Horas").isNotNull &&
          col("Antecedencia_Horas") < 24)
    flagged
      .withColumn("Status_Consolidado",
        when(col("Flag_Atendido"), "ATENDIDO")
          .when(col("Flag_No_Show"), "NO-SHOW")
          .when(col("Flag_Cancelamento_Tardio"), "CANCELAMENTO_TARDIO")
          .when(col("Flag_Cancelado"), "CANCELADO")
          .otherwise("AGENDADO"))
      .withColumn("Status_Simples", // F21 display recode (etl_pipeline.py:388-394)
        when(col("Status_Consolidado") === "ATENDIDO", "Realizado")
          .when(col("Status_Consolidado") === "NO-SHOW", "No-Show")
          .when(col("Status_Consolidado").isin("CANCELADO", "CANCELAMENTO_TARDIO"),
            "Cancelado")
          .otherwise("Outro"))
      .withColumn("Faixa_Etaria", age_band(col("Pacientes_DataNascimento"), asOf))
      .withColumn("Turno", shift_of_day(col("Agendamento Inicio")))
      .withColumn("is_novo",
        if (df0.columns.contains("Pacientes_DataRegistro"))
          coalesce(
            to_date(col("Data_Marcacao")) === to_date(col("Pacientes_DataRegistro")),
            lit(false))
        else lit(false))
      .withColumn("Data_Agendamento", to_date(col("Agendamento Inicio")))
  }

  /** J1: normalized-key price enrichment (etl_pipeline.py:202-233). The
    * price list is a genuinely bounded dimension (procedures × insurers)
    * → broadcast is provably safe at any corpus scale. Unmatched pairs
    * fill 0.0, like the reference. */
  def priceJoin(facts: DataFrame, prices: DataFrame): DataFrame = {
    val p = prices.select(
      normalize_key(col("Procedimento")).as("key_proc"),
      normalize_key(col("Convenio")).as("key_conv"),
      col("Valor_Convenio"))
    facts
      .withColumn("key_proc", normalize_key(col("Procedimento")))
      .withColumn("key_conv", normalize_key(col("Convenio")))
      .join(broadcast(p), Seq("key_proc", "key_conv"), "left")
      .withColumn("Valor", coalesce(col("Valor_Convenio"), lit(0.0)))
      .drop("key_proc", "key_conv", "Valor_Convenio")
  }

  /** J1 diagnostic: distinct unmatched (Procedimento, Convenio) pairs —
    * the reference logs a 5-row sample (etl_pipeline.py:225-230). */
  def unmatchedPricePairs(enriched: DataFrame): DataFrame =
    enriched.filter(col("Valor") === 0.0)
      .select("Procedimento", "Convenio").dropDuplicates().limit(5)

  /** J2: occupancy join against the pre-aggregated side table
    * (etl_pipeline.py:654-663); misses fill 0. */
  def occupancyJoin(agg: DataFrame, occupancy: DataFrame,
                    aggKey: String = "ID_Medico_Anon"): DataFrame = {
    val occ = occupancy
      .groupBy(normalize_key(col("Nome_Medico")).as("key_medico"))
      .agg(sum(col("qtde_horarios_disponiveis").cast("long")).as("Horarios_Disponiveis"))
    agg
      .withColumn("key_medico", normalize_key(col(aggKey)))
      .join(broadcast(occ), Seq("key_medico"), "left")
      .na.fill(0L, Seq("Horarios_Disponiveis"))
      .drop("key_medico")
  }
}
