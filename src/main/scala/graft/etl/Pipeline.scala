package graft.etl

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** End-to-end ETL: xlsx → clean → deterministic dedup → normalized
  * 6-table load — the reference's `processar_arquivo` + `etl_transformacao`
  * (`/root/reference/importador.py:45–50`, `etl_process.py:194–224`)
  * as one distributed pipeline.
  *
  * Divergences from the reference, all deliberate (SURVEY §7.2 M2):
  * no pandas boundary (the source yields DataFrames), ONE cache at the
  * post-clean frontier instead of recomputing the plan per action
  * (quirk Q9), batched set-oriented loads instead of ≈6,800 per-row SQL
  * round trips, and a reject DataFrame instead of printed rows.
  */
object Pipeline {

  final case class Summary(
      planos: Long, clientes: Long, contratos: Long, contatos: Long,
      contratosRejeitados: Long, contatosRejeitados: Long,
      rejects: DataFrame)

  /** Imports one workbook. On success ONE frame stays persisted for the
    * caller: the batch's FK-resolved frame, which `Summary.rejects`
    * reads — without it a reject read would re-run the xlsx lineage
    * against a sink the import has since changed. Release it with
    * `spark.catalog.clearCache()` when the rejects are no longer needed.
    * On failure nothing stays persisted. */
  def run(spark: SparkSession, xlsxPath: String, jdbcUrl: String,
      props: Properties = new Properties, sheet: Option[String] = None): Summary = {
    val reader = spark.read.format("xlsx").schema(Schemas.fixtureSchema)
    val raw = sheet.fold(reader)(s => reader.option("sheet", s)).load(xlsxPath)

    val clean = Clean.dedupDeterministic(Clean.transform(raw))
      .persist(StorageLevel.MEMORY_AND_DISK) // single materialization (fixes Q9)

    val load = new Load(spark, jdbcUrl, props)
    try {
      // ordering contract (README.md:118 / etl_process.py:219–222):
      // plans → clients → contracts → contacts, sequential actions
      load.upsertPlanos(clean)
      load.upsertClientes(clean)
      val (nContratos, rejContratos) = load.loadContratos(clean)
      val (nContatos, rejContatos) = load.loadContatos(clean)
      val (nRejContratos, nRejContatos) = load.rejectCounts(clean)
      Summary(sinkCount(jdbcUrl, props, "tbl_planos"),
        sinkCount(jdbcUrl, props, "tbl_clientes"), nContratos, nContatos,
        nRejContratos, nRejContatos, rejContratos.union(rejContatos))
    } catch {
      case e: Throwable =>
        load.release()
        throw e
    } finally clean.unpersist()
  }

  /** `SELECT COUNT(*)` of a sink table over a driver-side connection. */
  private def sinkCount(jdbcUrl: String, props: Properties, table: String): Long = {
    val conn = DriverManager.getConnection(jdbcUrl, props)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }
}
