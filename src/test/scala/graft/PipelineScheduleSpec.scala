package graft

import java.sql.DriverManager

import org.apache.spark.storage.StorageLevel

import graft.etl.{Clean, Load, Pipeline, SchemaSetup, Schemas}

/** `Pipeline.run` schedules the loads by the sink's FKs: plans ∥
  * clients, then contracts ∥ contacts. Its answers must be those of the
  * four public `Load` calls made one after another: the same `Summary`
  * and the same sink rows, on a first import and on a re-import. */
class PipelineScheduleSpec extends SparkTestBase {

  private def provisioned(): String = {
    val url = s"jdbc:derby:/tmp/graft-derby-schedule-${System.nanoTime()}"
    SchemaSetup(url)
    url
  }

  private def query[T](url: String, sql: String)(f: java.sql.ResultSet => T): Seq[T] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      Iterator.continually(rs).takeWhile(_.next()).map(f).toList
    } finally conn.close()
  }

  private def total(url: String, table: String): Long =
    query(url, s"SELECT COUNT(*) FROM $table")(_.getLong(1)).head

  /** All four tables, one sorted line per row. Facts name their cliente
    * by CPF and their plano by descricao: ids depend on insert order. */
  private def dump(url: String): String = Seq(
    "SELECT descricao, valor FROM tbl_planos",
    """SELECT cpf_cnpj, nome_razao_social, nome_fantasia, data_nascimento,
      |  data_cadastro FROM tbl_clientes""".stripMargin,
    """SELECT c.cpf_cnpj, p.descricao, k.dia_vencimento, k.isento,
      |  k.endereco_logradouro, k.endereco_numero, k.endereco_bairro,
      |  k.endereco_cidade, k.endereco_complemento, k.endereco_cep,
      |  k.endereco_uf, k.status_id
      |FROM tbl_cliente_contratos k
      |LEFT JOIN tbl_clientes c ON k.cliente_id = c.id
      |LEFT JOIN tbl_planos p ON k.plano_id = p.id""".stripMargin,
    """SELECT c.cpf_cnpj, t.tipo_contato_id, t.contato
      |FROM tbl_cliente_contatos t
      |LEFT JOIN tbl_clientes c ON t.cliente_id = c.id""".stripMargin
  ).map { sql =>
    query(url, sql) { rs =>
      (1 to rs.getMetaData.getColumnCount).map(rs.getString).mkString("\t")
    }.sorted.mkString("\n")
  }.mkString("\n--\n")

  /** One import through the public loads in `Pipeline.run`'s old
    * order, summarized as `Pipeline.run` summarizes it. */
  private def sequential(url: String): Pipeline.Summary = {
    val clean = Clean.dedupDeterministic(Clean.transform(
      spark.read.format("xlsx").schema(Schemas.fixtureSchema).load(GoldenFixture.path)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val load = new Load(spark, url)
      load.upsertPlanos(clean)
      load.upsertClientes(clean)
      val (nContratos, rejContratos) = load.loadContratos(clean)
      val (nContatos, rejContatos) = load.loadContatos(clean)
      Pipeline.Summary(total(url, "tbl_planos"), total(url, "tbl_clientes"),
        nContratos, nContatos, rejContratos.count(), rejContatos.count(),
        rejContratos.union(rejContatos))
    } finally clean.unpersist()
  }

  /** A summary's values, with its reject rows sorted; releases the frame
    * the rejects read. */
  private def values(s: Pipeline.Summary): Seq[Any] =
    try Seq(s.planos, s.clientes, s.contratos, s.contatos,
      s.contratosRejeitados, s.contatosRejeitados,
      s.rejects.collect().map(_.toString).sorted.toSeq)
    finally spark.catalog.clearCache()

  test("scheduled import and re-import equal the sequential loads: summaries and sink rows") {
    val scheduled = provisioned()
    val inOrder = provisioned()
    for (round <- Seq("import", "re-import")) {
      val got = values(Pipeline.run(spark, GoldenFixture.path, scheduled))
      val want = values(sequential(inOrder))
      assert(got == want, round)
    }
    val (a, b) = (dump(scheduled).linesIterator.toSeq, dump(inOrder).linesIterator.toSeq)
    assert(a.size > 1198 * 2 * 2) // both facts were loaded twice
    val diff = a.zipAll(b, "<none>", "<none>").find { case (x, y) => x != y }
    assert(diff.isEmpty, s"first differing line (scheduled, sequential): $diff")
  }
}
