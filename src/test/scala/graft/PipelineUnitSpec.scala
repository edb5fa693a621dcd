package graft

import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import graft.reports.Reports

/** Unit coverage for the smaller pipeline transforms (F3/P6/P11/F25/F26)
  * that the end-to-end fixture doesn't exercise, and a differential check
  * of the shape-dispatched date parse (F7) against the plain format chain. */
class PipelineUnitSpec extends SparkSpec {
  import spark.implicits._

  test("F3 null-sentinel substitution: null → CPF_NULO, else string value") {
    val df = Seq(Some(12345678901L), None).toDF("CPF")
    val out = Pipeline.nullSentinel(df, "CPF", "CPF_NULO")
      .as[String].collect().toSeq
    assert(out === Seq("12345678901", "CPF_NULO"))
  }

  test("P11 dropIncomplete keeps only rows with all required columns set") {
    val df = Seq(
      (Some("a"), Some("x")), (None, Some("y")), (Some("c"), None))
      .toDF("Data_Marcacao", "Agendamento Inicio")
    assert(Pipeline.dropIncomplete(df,
      Seq("Data_Marcacao", "Agendamento Inicio")).count() === 1)
    // absent required columns are tolerated like the reference's guards
    assert(Pipeline.dropIncomplete(df,
      Seq("Data_Marcacao", "Coluna_Inexistente")).count() === 2)
  }

  test("P6 exportProjection selects present columns in order") {
    val df = Seq((1, "a", true)).toDF("x", "y", "z")
    assert(Pipeline.exportProjection(df, Seq("z", "x", "nope")).columns.toSeq
      === Seq("z", "x"))
  }

  test("F25 decode maps recode known codes and pass through the rest") {
    val df = Seq("A", "E", "?").toDF("Status_Marcacao")
    val out = Pipeline.decodeStatus(df, "Status_Marcacao",
      Pipeline.StatusMarcacaoDecode).as[String].collect().toSeq
    assert(out === Seq("Aberta", "Executada", "?"))
    // absent column is a no-op
    assert(Pipeline.decodeStatus(df, "Outra", Pipeline.StatusConfirmacaoDecode)
      .columns.toSeq === Seq("Status_Marcacao"))
  }

  test("F26 formatted summary renders BR money and rates") {
    val s = Reports.formatSummary(200, 30, 12345.6, 98765.4)
    assert(s.contains("Agendamentos: 200"))
    assert(s.contains("No-shows: 30 (15.00%)"))
    assert(s.contains("R$ 12.345,60"))
    assert(s.contains("R$ 98.765,40"))
  }

  test("F7 shape-dispatched parseDate equals the try_to_timestamp coalesce chain") {
    val values = Seq(
      // one per format
      "15/05/2024 07:00:30", "15/05/2024 07:00", "15/05/2024",
      "2024-05-15 07:00:30", "2024-05-15",
      // right shape, impossible value
      "31/02/2024", "31/02/2024 10:00", "2024-02-30", "15/13/2024",
      "15/05/2024 25:00", "2024-05-15 07:61:00",
      // single-digit fields
      "1/5/2024", "5/05/2024 7:00", "2024-5-1", "15/05/2024 7:05:09",
      "2024-05-15 7:00:30",
      // padded whitespace
      " 15/05/2024", "15/05/2024 ", "2024-05-15 07:00 ", "\t2024-05-15",
      "15/05/2024  07:00",
      // 5-digit and 2-digit years
      "15/05/20245", "20245-05-15", "15/05/20245 07:00", "15/05/24",
      // trailing text
      "15/05/2024x", "2024-05-15T07:00:00", "15/05/2024 07:00:00.123",
      "2024-05-15 07:00:00 UTC", "15/05/2024\n", "2024-05-15 07:00:30:00",
      // non-ASCII digits, empty, null
      "\u0661\u0665/05/2024", "", null)
    val df = values.toDF("s")
    val chain = coalesce(Pipeline.DateFormats.map(f =>
      try_to_timestamp(col("s").cast("string"), lit(f))): _*)
    val rows = df.select(col("s"), Pipeline.parseDate(col("s")).as("got"),
      chain.as("want")).collect()
    rows.foreach(r => assert(r.get(1) == r.get(2), s"'${r.getString(0)}'"))
    // not vacuous: every format parses its own shape
    val parsed = rows.filter(_.get(1) != null).map(_.getString(0)).toSet
    assert(Seq("15/05/2024 07:00:30", "15/05/2024 07:00", "15/05/2024",
      "2024-05-15 07:00:30", "2024-05-15").forall(parsed.contains), parsed)

    // typed inputs go through their string form, as in the chain
    val typed = Seq("2024-05-15 07:00:30", "2024-05-15 07:00:30.5").toDF("t")
      .select(to_timestamp(col("t")).as("t"))
    val tr = typed.select(Pipeline.parseDate(col("t")),
      coalesce(Pipeline.DateFormats.map(f =>
        try_to_timestamp(col("t").cast("string"), lit(f))): _*)).collect()
    tr.foreach(r => assert(r.get(0) == r.get(1)))
  }
}
