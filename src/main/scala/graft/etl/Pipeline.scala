package graft.etl

import java.util.Properties

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanBridge
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
    * On failure nothing stays persisted.
    *
    * Every frame of the import, `Summary.rejects` included, is built on
    * the import session of `spark` (see `importSession`): a kept
    * clone of it with adaptive query execution off. A 1,200-row import
    * is bound by driver time per Spark job, and AQE splits each action
    * into query-stage jobs, each re-planned and explained: a warm import
    * runs 9 jobs without it, 15 with it (OPTIMIZATION_r19.md). The plans
    * are the caller's: its confs apply, shuffles keep its
    * `spark.sql.shuffle.partitions` width with no coalescing, broadcast
    * hints stand, so the answers are those of the public `Load` calls on
    * the caller's session. The clone copies the caller's functions,
    * optimizer rules and `QueryExecutionListener`s when it is made, at
    * the caller's first import: a listener registered on the caller
    * after that does not see the import's queries. */
  def run(spark: SparkSession, xlsxPath: String, jdbcUrl: String,
      props: Properties = new Properties, sheet: Option[String] = None): Summary = {
    val session = importSession(spark)
    val reader = session.read.format("xlsx").schema(Schemas.fixtureSchema)
    val raw = sheet.fold(reader)(s => reader.option("sheet", s)).load(xlsxPath)

    val clean = Clean.dedupDeterministic(Clean.transform(raw))
      .persist(StorageLevel.MEMORY_AND_DISK) // single materialization (fixes Q9)

    val load = new Load(session, jdbcUrl, props)
    try {
      // Dependency schedule. The reference loads plans → clients →
      // contracts → contacts (README.md:118 / etl_process.py:219–222),
      // but only the sink's FKs order them (FIXTURES.md §2): contracts
      // reference clients and plans, contacts reference clients. So
      // the two dimensions load side by side, then the two facts, both
      // over the batch's one FK-resolved frame.
      both(load.upsertPlanos(clean), load.upsertClientes(clean))
      val ((nContratos, rejContratos), (nContatos, rejContatos)) =
        both(load.loadContratos(clean), load.loadContatos(clean))
      val (nRejContratos, nRejContatos) = load.rejectCounts(clean)
      val Seq(nPlanos, nClientes) = Load.withConnection(jdbcUrl, props) { c =>
        Seq("tbl_planos", "tbl_clientes").map(t => Using.resource(c.createStatement()) { st =>
          val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
          rs.next(); rs.getLong(1)
        })
      }
      Summary(nPlanos, nClientes, nContratos, nContatos,
        nRejContratos, nRejContatos, rejContratos.union(rejContatos))
    } catch {
      case e: Throwable =>
        load.release()
        throw e
    } finally clean.unpersist()
  }

  private var kept: Option[(SparkSession, SparkSession)] = None

  /** The import session of `caller`: a clone made on its first import
    * and kept, so later imports reuse what the session has cached,
    * generated code among it, instead of paying for it per call. One is
    * kept per process, for the caller last seen. On every call the
    * caller's modifiable confs are copied into it, keys the caller no
    * longer sets are unset, and AQE is switched off. Nothing is written
    * to the caller's confs. */
  private def importSession(caller: SparkSession): SparkSession = synchronized {
    val s = kept.collect { case (c, clone) if c eq caller => clone }.getOrElse {
      val clone = PlanBridge.cloneSession(caller)
      kept = Some((caller, clone))
      clone
    }
    val confs = caller.conf.getAll.filter { case (k, _) => caller.conf.isModifiable(k) } +
      ("spark.sql.adaptive.enabled" -> "false")
    s.conf.getAll.keys.filter(k => s.conf.isModifiable(k) && !confs.contains(k))
      .foreach(s.conf.unset)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Runs `a` on a thread started for this call and `b` on the
    * caller's, and returns when both have finished. A fresh thread, not
    * a pool, so `a`'s jobs carry the caller's Spark local properties
    * (job group, description, scheduler pool), which `SparkContext`
    * hands to child threads. If either side throws, the error of `a`,
    * else of `b`, is rethrown once both are done, with the other side's
    * error suppressed into it: a failed import has no job still running
    * when its frames are released. */
  private def both[A, B](a: => A, b: => B): (A, B) = {
    var ra: Either[Throwable, A] = null
    val t = new Thread(() => ra = attempt(a), "graft-etl-load")
    t.setDaemon(true)
    t.start()
    val rb = attempt(b)
    var interrupted = false
    while (t.isAlive)
      try t.join()
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    (ra, rb) match {
      case (Right(x), Right(y)) => (x, y)
      case (Left(e), Right(_)) => throw e
      case (Right(_), Left(e)) => throw e
      case (Left(e), Left(other)) =>
        e.addSuppressed(other)
        throw e
    }
  }

  private def attempt[T](f: => T): Either[Throwable, T] =
    try Right(f) catch { case e: Throwable => Left(e) }
}
