package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import graft.io.Readers

/** Encoding-retry, separator-sniffing, and optional-file reader contracts
  * (SURVEY.md §2.1 S1/S2/S4) against byte-exact fixture files written in
  * the encodings under test. */
class IoSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: Path, name: String, text: String, cs: String): String = {
    val p = dir.resolve(name)
    Files.write(p, text.getBytes(Charset.forName(cs)))
    p.toString
  }

  test("S1: encoding retry lands on a charset that decodes latin1 bytes") {
    val dir = Files.createTempDirectory("io_enc")
    val csv = "Unidade;Procedimento\nSão João;Consulta Básica\n"
    val p = write(dir, "base.csv", csv, "ISO-8859-1")
    val df = Readers.csvWithEncodingRetry(spark, p, sep = ";")
    val row = df.collect()(0)
    assert(row.getString(0) === "São João")
    assert(row.getString(1) === "Consulta Básica")
  }

  test("S1: UTF-8 input decodes as UTF-8 (first charset wins)") {
    val dir = Files.createTempDirectory("io_enc8")
    val p = write(dir, "base.csv", "a;b\nação;1\n", "UTF-8")
    val df = Readers.csvWithEncodingRetry(spark, p, sep = ";")
    assert(df.collect()(0).getString(0) === "ação")
  }

  test("S1: NA tokens normalize to null") {
    val dir = Files.createTempDirectory("io_na")
    val p = write(dir, "base.csv", "a;b\nNA;x\nN/A;y\n ;z\n", "UTF-8")
    val df = Readers.csvWithEncodingRetry(spark, p, sep = ";")
    val a = df.collect().map(r => Option(r.get(0)))
    assert(a.toSeq === Seq(None, None, None))
  }

  test("S2: price table sniffs tab separator and falls back to positional names") {
    val dir = Files.createTempDirectory("io_price")
    val p = write(dir, "precos.txt",
      "PROC\tCONV\tVALOR\nConsulta\tUnimed\tR$ 1.234,56\nExame\tBradesco\t150,00\n",
      "UTF-8")
    val df = Readers.csvPriceTable(spark, p)
    assert(df.columns.toSeq === Seq("Procedimento", "Convenio", "Valor_Convenio"))
    val vals = df.orderBy("Procedimento").collect().map(_.getDouble(2))
    assert(vals.toSeq === Seq(1234.56, 150.0))
  }

  test("S2: canonical headers are honored when present (`;`-separated)") {
    val dir = Files.createTempDirectory("io_price2")
    val p = write(dir, "precos.csv",
      "Procedimento;Convenio;Valor_Convenio\nConsulta;Amil;99,90\n", "UTF-8")
    val df = Readers.csvPriceTable(spark, p)
    assert(df.collect()(0).getDouble(2) === 99.9)
  }

  test("S2: non-numeric value column fails the validation gate") {
    val dir = Files.createTempDirectory("io_price3")
    val p = write(dir, "junk.csv", "a;b;c\nx;y;zzz\nq;w;eee\n", "UTF-8")
    intercept[IllegalArgumentException](Readers.csvPriceTable(spark, p))
  }

  test("S4: optional side table — missing file is None, present file loads") {
    val dir = Files.createTempDirectory("io_opt")
    assert(Readers.optionalCsv(spark, dir.resolve("nope.csv").toString, ";",
      Seq("Nome_Medico")) === None)
    val p = write(dir, "occ.csv",
      "Nome_Medico;qtde_horarios_disponiveis\nDr A;10\n", "UTF-8")
    val some = Readers.optionalCsv(spark, p, ";",
      Seq("Nome_Medico", "qtde_horarios_disponiveis"))
    assert(some.isDefined && some.get.count() === 1)
    // required column absent → None
    assert(Readers.optionalCsv(spark, p, ";", Seq("Outra_Coluna")) === None)
  }

  test("S1: charset probes of a CSV output dir release their directory handles") {
    // a Spark CSV output dir: part file + _SUCCESS marker. Every probe
    // lists the dir; none of the charsets decodes the bytes, so each
    // call is probes only (the refusal fires before any Spark read)
    val dir = Files.createTempDirectory("io_fd")
    write(dir, "part-00000.csv", "a;b\nação;1\n", "UTF-8")
    write(dir, "_SUCCESS", "", "UTF-8")
    def openFds(): Int = {
      val l = Files.list(java.nio.file.Paths.get("/proc/self/fd"))
      try l.count().toInt finally l.close()
    }
    val before = openFds()
    (1 to 200).foreach { _ =>
      intercept[IllegalArgumentException](Readers.csvWithEncodingRetry(
        spark, dir.toString, charsets = Seq("US-ASCII")))
    }
    val grown = openFds() - before
    assert(grown < 50, s"200 probes of a directory leaked $grown fds")
  }

  test("S1: a UTF-8 file over 1 MB with a 2-byte character split at a probe cut reads as UTF-8") {
    // "Joséabé" puts the lead byte 0xC3 of its first é 5 bytes before
    // the 1 MB probe boundary and that of its second é on the last byte
    // of the sample, so the probe's sample ends inside a character
    val probe = 1 << 20
    val head = "a;b\n"
    val filler = "x;1\n" * ((probe - 8 - head.length) / 4)
    val text = head + filler + "Joséabé;1\n" + "Ana;2\nJoão;3\n"
    val bytes = text.getBytes("UTF-8")
    assert(bytes(probe - 5) == 0xC3.toByte && bytes(probe - 1) == 0xC3.toByte)
    val dir = Files.createTempDirectory("io_cut")
    val p = dir.resolve("base.csv")
    Files.write(p, bytes)
    val df = Readers.csvWithEncodingRetry(spark, p.toString, sep = ";")
    val names = df.filter(col("a") =!= "x").collect().map(_.getString(0)).toSeq
    assert(names === Seq("Joséabé", "Ana", "João"))
  }

  test("S2: a windows-1252 price key with a 0x80-0x9F letter joins its base row") {
    // Š is 0x8A in windows-1252; read as ISO-8859-1 it becomes a C1
    // control character, which key normalization drops
    val dir = Files.createTempDirectory("io_cp1252")
    val p = write(dir, "precos.txt",
      "Procedimento\tConvenio\tValor_Convenio\nŠtress Teste\tUnimed\t120,00\n",
      "windows-1252")
    val prices = Readers.csvPriceTable(spark, p)
    assert(prices.collect()(0).getString(0) === "Štress Teste")
    val base = Seq(("Štress Teste", "UNIMED")).toDF("Procedimento", "Convenio")
    val joined = Pipeline.priceJoin(base, prices).collect()
    assert(joined.map(_.getAs[Double]("Valor")).toSeq === Seq(120.0))
  }
}
