package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Golden-file test of the runnable end-to-end entry point: EtlMain.run
  * over the FIXTURES.md §A fixture (same 8 rows as EtlPipelineSpec) must
  * emit the reference's ten-file BR-CSV contract
  * (/root/reference/src/etl_pipeline.py:464-688) with hand-computed
  * values, `;` separators and decimal commas. */
class EtlMainSpec extends SparkSpec {

  private def write(dir: Path, name: String, text: String, cs: String): String = {
    val p = dir.resolve(name)
    Files.write(p, text.getBytes(Charset.forName(cs)))
    p.toString
  }

  /** First CSV part file inside a single-file sink directory. */
  private def readSink(outDir: String, name: String): Seq[String] = {
    val d = Paths.get(s"$outDir/$name")
    assert(Files.isDirectory(d), s"missing sink dir $name")
    val csv = Files.list(d).iterator().asScala
      .find(_.getFileName.toString.endsWith(".csv"))
      .getOrElse(fail(s"no csv part in $name"))
    new String(Files.readAllBytes(csv), "UTF-8").linesIterator.toSeq
  }

  /** (output path, executed plan) of every file write the run makes. */
  private val writes = new ConcurrentLinkedQueue[(String, String)]()
  private val writeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.logical match {
        case w: InsertIntoHadoopFsRelationCommand =>
          writes.add(w.outputPath.toString -> qe.executedPlan.toString)
        case _ =>
      }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private lazy val outDir: String = {
    val dir = Files.createTempDirectory("etl_main")
    val header = Seq(
      "Unidade", "Procedimento", "Nome_Medico", "Convenio",
      "Agendamento Inicio", "Data_Marcacao", "Pacientes_Sexo",
      "Pacientes_DataNascimento", "Pacientes_Indicacao",
      "Pacientes_DataRegistro", "Confirmacoes_Data_Confirmacao",
      "Atendimentos_DataEHora_Chegada", "Atendimentos_DataEHora_Atendimento",
      "Atendimentos_DataEHora_Final", "Cancelamentos_DataDeCancelamento",
      "Categoria_Servico").mkString(";")
    val rows = Seq(
      "U1;Consulta Básica;Dr A;Unimed;15/05/2024 07:00;01/05/2024 10:00;F;01/01/2000;Google;01/05/2024 09:00;14/05/2024 09:00;15/05/2024 06:50;15/05/2024 07:05;15/05/2024 07:30;;Rotina",
      "U1;Consulta Básica;Dr A;Unimed;15/05/2024 14:00;02/05/2024 10:00;M;01/01/2010;Amigos;01/01/2020 08:00;;15/05/2024 13:55;15/05/2024 14:20;15/05/2024 15:00;;Rotina",
      "U1;Exame Raro;Dr B;Amil;20/05/2024 07:30;10/05/2024 10:00;F;;Google;;19/05/2024 10:00;;;;;Rotina",
      "U2;Consulta Básica;Dr B;Unimed;21/05/2024 20:00;01/05/2024 08:00;M;01/01/1950;;;;;;;25/05/2024 10:00;Rotina",
      "U2;Consulta Básica;Dr A;Bradesco;10/06/2024 07:00;05/05/2024 09:00;M;;;;;;;;09/06/2024 20:00;Rotina",
      "U2;Consulta Básica;Dr A;Unimed;15/06/2024 14:00;01/05/2024 10:00;F;;;;;;;;10/05/2024 09:00;Rotina",
      "U1;Consulta Básica;Dr B;Unimed;20/06/2024 07:00;20/05/2024 10:00;M;;;;;;;;;Rotina",
      "U1;Consulta Básica;Dr A;Unimed;15/05/2024 20:30;02/05/2024 11:00;;;;;;;;;;Rotina")
    val basePath = write(dir, "base.csv", (header +: rows).mkString("\n"), "ISO-8859-1")
    val pricePath = write(dir, "precos.txt",
      "Procedimento\tConvenio\tValor_Convenio\n" +
        "Consulta básica\tUNIMED\tR$ 100,00\n" +
        "Consulta Básica\tBradesco\t80,00\n" +
        "Outro\tAmil\t50,00\n", "ISO-8859-1")
    val occPath = write(dir, "occ.csv",
      "Nome_Medico;qtde_horarios_disponiveis\nDR A;10\ndr a;5\nDr B;4\n", "UTF-8")
    val out = dir.resolve("out").toString
    spark.listenerManager.register(writeListener)
    EtlMain.run(spark, basePath, pricePath, out, Some(occPath),
      asOf = to_timestamp(lit("2024-06-01 00:00:00")))
    out
  }

  private val ReportSinks = Seq("agenda_comparecimento", "status_por_turno",
    "perfil_noshow", "financeiro", "atravessamento", "fluxo_pacientes_agregado",
    "indicadores_confirmacao", "qualidade_dados", "perfil_agenda")

  test("all ten contract files exist with headers and data") {
    ("base_tratada_completa" +: ReportSinks).foreach { n =>
      val lines = readSink(outDir, n)
      assert(lines.length >= 2, s"$n: expected header + data, got ${lines.length} lines")
      assert(lines.head.contains(";"), s"$n: not ';'-separated")
    }
  }

  test("golden: agenda_comparecimento day 2024-05-15 (3 appts, comma decimals)") {
    val lines = readSink(outDir, "agenda_comparecimento")
    assert(lines.head ===
      "Data_Agendamento;Total_Agendamentos;Atendimentos;No_Shows;Cancelamentos;Taxa_Atendimento;Taxa_No_Show;Taxa_Cancelamento")
    val d15 = lines.find(_.startsWith("2024-05-15")).get
    assert(d15 === "2024-05-15;3;2;1;0;66,67;33,33;0,00")
  }

  test("golden: indicadores_confirmacao totals") {
    val byInd = readSink(outDir, "indicadores_confirmacao").drop(1)
      .map { l => val p = l.split(";"); p(0) -> ((p(1), p(2))) }.toMap
    assert(byInd("TOTAL_AGENDAMENTOS") === (("8", "100,00")))
    assert(byInd("NO_SHOWS") === (("3", "37,50")))
    assert(byInd("NO_SHOWS_CONFIRMADOS") === (("1", "12,50")))
    assert(byInd.contains("CANCELADOS"))
  }

  test("golden: financeiro U1/Consulta Básica revenue split") {
    val row = readSink(outDir, "financeiro").drop(1)
      .find(_.startsWith("U1;Consulta Básica")).get
    // Unidade;Procedimento;Total;Atend;NoShows;Realizada;PerdidaNS;PerdidaCanc;Potencial;Ticket
    assert(row === "U1;Consulta Básica;4;2;1;200,00;100,00;0,00;400,00;100,00")
  }

  test("golden: perfil_agenda occupancy joined (Dr A 15 slots, 20% occupancy)") {
    val row = readSink(outDir, "perfil_agenda").drop(1)
      .find(_.startsWith("U1;Dr A")).get
    val p = row.split(";")
    assert(p(4) === "3" && p(8) === "15" && p(10) === "20,00")
  }

  test("optional-arg disambiguation: timestamp-shaped 4th arg is the asOf anchor") {
    assert(EtlMain.parseOptionalArgs(Some("2024-06-01 00:00:00"), None) ===
      ((None, Some("2024-06-01 00:00:00"))))
    assert(EtlMain.parseOptionalArgs(Some("occ.csv"), None) ===
      ((Some("occ.csv"), None)))
    assert(EtlMain.parseOptionalArgs(Some("occ.csv"), Some("2024-06-01 00:00:00")) ===
      ((Some("occ.csv"), Some("2024-06-01 00:00:00"))))
    assert(EtlMain.parseOptionalArgs(None, None) === ((None, None)))
  }

  test("golden: base_tratada_completa keeps all rows, no key_ columns") {
    val lines = readSink(outDir, "base_tratada_completa")
    assert(lines.length === 9) // header + 8 rows
    assert(!lines.head.split(";").exists(_.startsWith("key_")))
    assert(lines.head.split(";").contains("Status_Consolidado"))
  }

  test("the nine sorted report sinks plan no range exchange") {
    val out = outDir
    // listener callbacks arrive on the listener bus, after the writes
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def planOf(name: String): Option[String] = writes.asScala
      .collectFirst { case (path, plan) if path.endsWith(s"/$name") => plan }
    while (ReportSinks.exists(planOf(_).isEmpty) && System.nanoTime() < deadline)
      Thread.sleep(50)
    spark.listenerManager.unregister(writeListener)
    ReportSinks.foreach { n =>
      val plan = planOf(n).getOrElse(fail(s"no write plan seen for $n under $out"))
      assert(!plan.contains("rangepartitioning"), s"$n plans a range exchange:\n$plan")
      assert(plan.contains("Sort ["), s"$n lost its sort:\n$plan")
    }
  }
}
