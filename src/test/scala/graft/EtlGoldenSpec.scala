package graft

import java.sql.DriverManager
import java.util.Properties

import scala.util.Try

import org.apache.spark.sql.functions._
import graft.etl.{Clean, Pipeline, Schemas}

/** Golden end-to-end ETL assertions, SINK-PARAMETERIZED: the 1,200-row
  * fixture ([[GoldenFixture]]: the paper's upload, or its generated
  * stand-in when absent) through xlsx → clean → dedup → 6-table load
  * into whatever JDBC sink the concrete subclass provisions, asserting the
  * counts the reference's run produces (FIXTURES.md §1 golden
  * expectations: 16 planos, 1,198 clientes/contratos, 0 rejects) plus
  * the quirk outputs Q5–Q7.
  *
  * Two embedded-Derby schema variants run in-tree (the environment
  * ships no Postgres driver — SURVEY §7.4):
  *  - [[EtlGoldenSpec]]: inline DDL with the full constraint surface
  *    (FKs, UNIQUEs) — proves the load ORDER satisfies referential
  *    integrity enforced at the database;
  *  - [[EtlSchemaSetupGoldenSpec]]: the `SchemaSetup` bootstrap path —
  *    the ANSI DDL resource with the docker-seeded dimension ids
  *    (`schema_database_pgsql.sql:321–336`), i.e. exactly what a user
  *    gets from `runMain graft.etl.SchemaSetup <url>`.
  * Flipping either to a real Postgres is config-only: provision the
  * sink (SchemaSetup works on Postgres — the DDL is ANSI) and override
  * `jdbcUrl`; every assertion reads back through the same url.
  */
abstract class EtlGoldenSuite extends SparkTestBase {

  protected val fixture: String = GoldenFixture.path
  protected val props = new Properties

  /** Connection url of a PROVISIONED sink (schema applied, dimensions
    * seeded). Lazy in subclasses so provisioning runs once on first
    * test. */
  protected def jdbcUrl: String

  /** The suite's one import. A failed import is not retried: a second
    * run into the half-loaded sink would report compounded counts, so
    * every test rethrows the first failure instead. */
  private lazy val firstImport: Try[Pipeline.Summary] =
    Try(Pipeline.run(spark, fixture, jdbcUrl, props))

  protected def summary: Pipeline.Summary = firstImport.get

  private def table(name: String) = spark.read.jdbc(jdbcUrl, name, props)

  test("golden counts: 16 planos, 1198 clientes, 1198 contratos, 0 rejects") {
    assert(summary.planos == 16)
    assert(summary.clientes == 1198)
    assert(summary.contratos == 1198)
    assert(summary.contratosRejeitados == 0)
    assert(summary.contatosRejeitados == 0)
  }

  test("contatos count equals non-null contact cells of the deduped survivors") {
    summary // force the load
    val clean = Clean.dedupDeterministic(Clean.transform(
      spark.read.format("xlsx").schema(Schemas.fixtureSchema).load(fixture)))
    val expected = clean.select(
      (when(col("Telefones").isNotNull, 1).otherwise(0) +
        when(col("Celulares").isNotNull, 1).otherwise(0) +
        when(col("Emails").isNotNull, 1).otherwise(0)).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(summary.contatos == expected)
    assert(table("tbl_cliente_contatos").count() == expected)
  }

  test("quirk Q6: endereco_uf is the 2-char truncation of full state names") {
    summary
    val ufs = table("tbl_cliente_contratos").select("endereco_uf")
      .distinct().collect().map(_.getString(0))
    assert(ufs.forall(_.length <= 2))
    assert(ufs.contains("Sã")) // "São Paulo" → "Sã" — the reference's bug, reproduced
  }

  test("quirk Q5/Q7: vencimento defaulted, isento false, status hardcoded 1") {
    summary
    val c = table("tbl_cliente_contratos")
    assert(c.filter(col("dia_vencimento").isNull || col("dia_vencimento") === 0).count() == 0)
    assert(c.filter(col("isento") =!= false).count() == 0)
    assert(c.filter(col("status_id") =!= 1).count() == 0)
  }

  test("cpf_cnpj stored digits-only (quirk Q2), unique (dedup held)") {
    summary
    val cl = table("tbl_clientes")
    assert(cl.filter(col("cpf_cnpj").rlike("[^0-9]")).count() == 0)
    assert(cl.select("cpf_cnpj").distinct().count() == 1198)
  }

  test("contacts carry tipo ids from the seeded dimension and digit-clean phones") {
    summary
    val ct = table("tbl_cliente_contatos")
    assert(ct.select("tipo_contato_id").distinct().collect()
      .map(_.getInt(0)).toSet == Set(1, 2, 3))
    val phones = ct.filter(col("tipo_contato_id").isin(1, 2))
    assert(phones.filter(col("contato").rlike("[^0-9]")).count() == 0)
  }

  test("upserts are idempotent: re-running plan/client load adds zero rows") {
    summary // force first run
    val clean = Clean.dedupDeterministic(Clean.transform(
      spark.read.format("xlsx").schema(Schemas.fixtureSchema).load(fixture)))
    val load = new graft.etl.Load(spark, jdbcUrl, props)
    load.upsertPlanos(clean)
    load.upsertClientes(clean)
    assert(table("tbl_planos").count() == 16)
    assert(table("tbl_clientes").count() == 1198)
  }

  test("reject channel: unknown cliente / unknown plano carry the reference's error strings") {
    summary // ensure the dimensions are loaded
    import spark.implicits._
    val goodCpf = table("tbl_clientes").select("cpf_cnpj")
      .orderBy("cpf_cnpj").limit(1).collect()(0).getString(0)
    val goodPlano = table("tbl_planos").select("descricao")
      .orderBy("descricao").limit(1).collect()(0).getString(0)
    val before = table("tbl_cliente_contratos").count()
    val rows = Seq(
      ("00000000000099", goodPlano, Some(5)), // cpf not in tbl_clientes
      (goodCpf, "Plano Fantasma", Some(5)),   // plano not in tbl_planos
      (goodCpf, goodPlano, None)              // valid; vencimento defaults to 10
    ).toDF("cpf_cnpj", "Plano", "Vencimento")
      .select(Seq(col("cpf_cnpj"), col("Plano"), col("Vencimento")) ++
        Seq("Endereço", "Número", "Bairro", "Cidade", "Complemento", "CEP", "UF")
          .map(c => lit(null).cast("string").as(c)): _*)
    val (n, rejects) = new graft.etl.Load(spark, jdbcUrl, props).loadContratos(rows)
    val errs = rejects.select(col("cpf_cnpj"), col("erro")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(n == 1) // only the valid row loads
    assert(errs("00000000000099") == "Cliente não encontrado")
    assert(errs(goodCpf) == "Plano não encontrado")
    assert(table("tbl_cliente_contratos").count() == before + 1)
  }

  test("contact reject channel: an unknown cliente's contacts carry the reference's error string") {
    summary
    import spark.implicits._
    val goodCpf = table("tbl_clientes").select("cpf_cnpj")
      .orderBy("cpf_cnpj").limit(1).collect()(0).getString(0)
    val before = table("tbl_cliente_contatos").count()
    val rows = Seq( // (cpf_cnpj, Telefones, Celulares, Emails)
      ("00000000000099", Some("551130000001"), Some("5511900000001"), Some("fantasma@da.br")),
      (goodCpf, None, Some("5511900000002"), Some(" novo@da.br "))
    ).toDF("cpf_cnpj", "Telefones", "Celulares", "Emails")
      .withColumn("Plano", lit("Plano Fantasma"))
    val (n, rejects) = new graft.etl.Load(spark, jdbcUrl, props).loadContatos(rows)
    val errs = rejects.select(col("cpf_cnpj"), col("erro")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(n == 2) // the known cliente's two non-null contacts
    assert(errs == Map("00000000000099" -> "Cliente não encontrado"))
    assert(table("tbl_cliente_contatos").count() == before + 2)
    assert(table("tbl_cliente_contatos").filter(col("contato") === "novo@da.br").count() == 1)
  }
}

/** Variant A: inline DDL with the FULL constraint surface — identity
  * ids, UNIQUEs, and FK REFERENCES enforced by the database, so the
  * append ORDER (plans → clients → contracts → contacts) is proven
  * against real referential integrity, plus the dedup/survivor tests
  * that only need the cleaned frame. Derby stands in for Postgres
  * (same DDL shape — FIXTURES.md §2). */
class EtlGoldenSpec extends EtlGoldenSuite {

  protected lazy val jdbcUrl: String = {
    val dbDir = s"/tmp/graft-derby-${System.nanoTime()}"
    val url = s"jdbc:derby:$dbDir;create=true"
    val conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    Seq(
      """CREATE TABLE tbl_clientes (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |  nome_razao_social VARCHAR(255), nome_fantasia VARCHAR(255),
        |  cpf_cnpj VARCHAR(18) NOT NULL UNIQUE,
        |  data_nascimento DATE, data_cadastro TIMESTAMP)""".stripMargin,
      """CREATE TABLE tbl_planos (
        |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |  descricao VARCHAR(255) NOT NULL UNIQUE, valor DECIMAL(15,2))""".stripMargin,
      "CREATE TABLE tbl_status_contrato (id INT PRIMARY KEY, status VARCHAR(255))",
      "CREATE TABLE tbl_tipos_contato (id INT PRIMARY KEY, tipo_contato VARCHAR(255))",
      """CREATE TABLE tbl_cliente_contratos (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |  cliente_id BIGINT REFERENCES tbl_clientes(id),
        |  plano_id INT REFERENCES tbl_planos(id),
        |  dia_vencimento INT, isento BOOLEAN,
        |  endereco_logradouro VARCHAR(255), endereco_numero VARCHAR(255),
        |  endereco_bairro VARCHAR(255), endereco_cidade VARCHAR(255),
        |  endereco_complemento VARCHAR(255), endereco_cep VARCHAR(255),
        |  endereco_uf VARCHAR(2),
        |  status_id INT REFERENCES tbl_status_contrato(id))""".stripMargin,
      """CREATE TABLE tbl_cliente_contatos (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |  cliente_id BIGINT REFERENCES tbl_clientes(id),
        |  tipo_contato_id INT REFERENCES tbl_tipos_contato(id),
        |  contato VARCHAR(255),
        |  CONSTRAINT uq_contato UNIQUE (cliente_id, tipo_contato_id, contato))""".stripMargin,
    ).foreach(st.executeUpdate)
    Schemas.statusSeed.foreach { case (id, s) =>
      st.executeUpdate(s"INSERT INTO tbl_status_contrato VALUES ($id, '$s')")
    }
    Schemas.tipoContatoSeed.foreach { case (id, t) =>
      st.executeUpdate(s"INSERT INTO tbl_tipos_contato VALUES ($id, '$t')")
    }
    st.close(); conn.close()
    url
  }

  test("dedup survivors for the fixture's 2 duplicated CPFs are the earliest signups") {
    val clean = Clean.transform(
      spark.read.format("xlsx").schema(Schemas.fixtureSchema).load(fixture))
    val dups = clean.groupBy("cpf_cnpj").count().filter(col("count") > 1)
      .select("cpf_cnpj").collect().map(_.getString(0))
    assert(dups.length == 2) // fixture profile: 1,200 rows / 1,198 keys
    val surviving = Clean.dedupDeterministic(clean)
      .filter(col("cpf_cnpj").isin(dups.toSeq: _*))
      .select("cpf_cnpj", "Data_Cadastro_cliente").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    val earliest = clean.filter(col("cpf_cnpj").isin(dups.toSeq: _*))
      .groupBy("cpf_cnpj").agg(min("Data_Cadastro_cliente").as("m")).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    assert(surviving == earliest)
  }
}

/** Variant B: the `SchemaSetup` bootstrap path — the shipped ANSI DDL
  * resource with the docker-seeded status/tipo dimension ids
  * (`/root/reference/docker/schema_database_pgsql.sql:321–336`),
  * exactly what `runMain graft.etl.SchemaSetup <url>` provisions. The
  * whole golden battery re-runs against it, proving the pipeline holds
  * on the reference's own provisioning (pre-seeded ids, no test-local
  * DDL) and that a Postgres flip needs only a url change. */
class EtlSchemaSetupGoldenSpec extends EtlGoldenSuite {
  protected lazy val jdbcUrl: String = {
    val url = s"jdbc:derby:/tmp/graft-derby-setup-${System.nanoTime()}"
    graft.etl.SchemaSetup(url)
    url
  }

  // Only here: the shipped DDL has no UNIQUE on the contact triple (the
  // reference's has, and skips duplicates row by row), so re-loaded
  // contacts do not collide.
  test("re-importing the same file adds no cliente, reloads every contract, rejects nothing") {
    summary
    val again = Pipeline.run(spark, fixture, jdbcUrl, props)
    assert(again.planos == 16)
    assert(again.clientes == 1198)
    assert(again.contratos == 1198)
    assert(again.contratosRejeitados == 0 && again.contatosRejeitados == 0)
    assert(again.rejects.count() == 0)
    assert(again.contatos == summary.contatos)
  }
}
