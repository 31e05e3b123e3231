package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager}

import graft.etl.SchemaSetup

/** An embedded Derby sink under the benchmark's work directory,
  * provisioned through the program's own `SchemaSetup`. */
final class Sink(val dir: Path) {
  val url: String = s"jdbc:derby:${dir.toAbsolutePath}"

  def provision(): Unit = SchemaSetup(url)

  def withConnection[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  def count(sql: String): Long = withConnection { c =>
    val rs = c.createStatement().executeQuery(sql)
    try { rs.next(); rs.getLong(1) } finally rs.close()
  }

  /** Rows beyond the first of each (cliente_id, tipo_contato_id, contato)
    * triple: what the reference schema's UNIQUE constraint on
    * tbl_cliente_contatos would have refused. */
  def dupContactRows(): Long = count(
    """SELECT COALESCE(SUM(n - 1), 0) FROM (SELECT COUNT(*) AS n
      |FROM tbl_cliente_contatos GROUP BY cliente_id, tipo_contato_id, contato) t""".stripMargin)

  /** Inserts customers `0 until n` with their plans, contracts and
    * contacts through plain JDBC batches, the way a prior run of the
    * application would have left them (digit-stripped CPF, midnight
    * signup date, digits-only phones, trimmed contacts). */
  def preload(seed: Long, n: Int): Unit = withConnection { c =>
    c.setAutoCommit(false)
    val plan = c.prepareStatement("INSERT INTO tbl_planos (descricao, valor) VALUES (?, ?)")
    XlsxCorpus.Plans.foreach { case (d, v) =>
      plan.setString(1, d); plan.setBigDecimal(2, v.bigDecimal); plan.addBatch()
    }
    plan.executeBatch()
    val planIds = {
      val rs = c.createStatement().executeQuery("SELECT descricao, id FROM tbl_planos")
      val m = scala.collection.mutable.Map.empty[String, Int]
      while (rs.next()) m(rs.getString(1)) = rs.getInt(2)
      rs.close()
      m.toMap
    }
    val cli = c.prepareStatement(
      "INSERT INTO tbl_clientes (nome_razao_social, nome_fantasia, cpf_cnpj, " +
        "data_nascimento, data_cadastro) VALUES (?, ?, ?, ?, ?)")
    val con = c.prepareStatement(
      "INSERT INTO tbl_cliente_contratos (cliente_id, plano_id, dia_vencimento, " +
        "isento, endereco_logradouro, endereco_numero, endereco_bairro, " +
        "endereco_cidade, endereco_complemento, endereco_cep, endereco_uf, " +
        "status_id) VALUES (?, ?, ?, false, ?, ?, ?, ?, ?, ?, ?, 1)")
    val ctt = c.prepareStatement(
      "INSERT INTO tbl_cliente_contatos (cliente_id, tipo_contato_id, contato) VALUES (?, ?, ?)")
    def day(serial: Long) = java.time.LocalDate.ofEpochDay(serial - 25569L)
    val chunk = 5000
    (0 until n by chunk).foreach { from =>
      val cs = (from until math.min(n, from + chunk)).map(i => XlsxCorpus.customer(seed, i))
      cs.foreach { x =>
        cli.setString(1, x.nome)
        cli.setString(2, x.fantasia.orNull)
        cli.setString(3, x.cpfDigits)
        cli.setDate(4, x.nasc.map(s => java.sql.Date.valueOf(day(s))).orNull)
        cli.setTimestamp(5, java.sql.Timestamp.valueOf(day(x.cadastro.toLong).atStartOfDay()))
        cli.addBatch()
      }
      cli.executeBatch()
      // identity ids follow insertion order within this single writer
      val firstId = count(c, s"SELECT MIN(id) FROM tbl_clientes WHERE cpf_cnpj = '${cs.head.cpfDigits}'")
      cs.zipWithIndex.foreach { case (x, k) =>
        val id = firstId + k
        con.setLong(1, id)
        con.setInt(2, planIds(XlsxCorpus.Plans(x.plan)._1))
        con.setInt(3, x.vencimento)
        con.setString(4, x.endereco.getOrElse(""))
        con.setString(5, x.numero.fold(_.toString, identity))
        con.setString(6, x.bairro)
        con.setString(7, x.cidade)
        con.setString(8, x.complemento.getOrElse(""))
        con.setString(9, x.cep.fold("")(_.fold(_.toString, identity)))
        con.setString(10, x.uf.take(2))
        con.addBatch()
        Seq(1 -> x.telefone.map(_.toString), 2 -> x.celular.map(_.toString), 3 -> x.email)
          .foreach { case (tipo, v) => v.foreach { s =>
            ctt.setLong(1, id); ctt.setInt(2, tipo); ctt.setString(3, s.trim); ctt.addBatch()
          } }
      }
      con.executeBatch()
      ctt.executeBatch()
      c.commit()
    }
  }

  private def count(c: Connection, sql: String): Long = {
    val rs = c.createStatement().executeQuery(sql)
    try { rs.next(); rs.getLong(1) } finally rs.close()
  }

  /** Shuts this database down and deletes its files. */
  def drop(): Unit = {
    try DriverManager.getConnection(url + ";shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports shutdown as an exception
    Sink.deleteTree(dir)
  }
}

object Sink {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
