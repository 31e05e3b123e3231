package graft

import graft.etl.{EtlMain, SchemaSetup}

/** CLI-surface test: EtlMain's flow mirrors `importador.py` — upload
  * validation, sheet enumeration + 5-row preview (`importador.py:30–42`),
  * pipeline run, result report — against the golden fixture and a fresh
  * embedded Derby sink. */
class EtlMainSpec extends SparkTestBase {

  private val fixture = GoldenFixture.path

  test("EtlMain previews every sheet and reports the golden summary") {
    val url = s"jdbc:derby:/tmp/graft-etlmain-${System.nanoTime()}"
    SchemaSetup(url)
    val out = new java.io.ByteArrayOutputStream()
    val summary = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      EtlMain.run(spark, fixture, url, sheet = None)
    }
    val text = out.toString("UTF-8")
    // sheet enumeration (visualizar_excel parity)
    assert(text.contains("Sheets: "), text.take(500))
    assert(text.contains("Planilha2"))
    // one preview block per sheet, 5-row head rendered
    assert(text.contains("(first 5 rows)"))
    assert(text.contains("only showing top 5 rows") || text.contains("CPF_CNPJ"))
    // golden result report
    assert(summary.planos == 16 && summary.clientes == 1198)
    assert(text.contains("Todos os registros foram importados com sucesso!"))
  }

  test("EtlMain rejects a non-xlsx path loudly") {
    val e = intercept[IllegalArgumentException] {
      EtlMain.run(spark, "/tmp/nope.csv", "jdbc:derby:memory:x", None)
    }
    assert(e.getMessage.contains("xlsx") || e.getMessage.contains("not found"))
  }
}
