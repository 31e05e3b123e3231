package graft.etl

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Load phase — the reference's four per-row psycopg2 loops
  * (`/root/reference/etl_process.py:28–191`) re-expressed as
  * set-oriented DataFrame operations (SURVEY §3.3):
  *
  *  - `ON CONFLICT DO NOTHING` (plans `:40`, clients `:75`) → the
  *    companion object's insert-if-absent core.
  *  - `buscar_id` per-row SELECT (`:53–59`) → broadcast equi-join to the
  *    dimension read back from the sink, once per batch (below).
  *  - per-row SAVEPOINT/ROLLBACK error isolation (`:103,:128`) →
  *    validate-then-split: an inner-join load channel and an anti-join
  *    reject channel carrying the same error strings the reference
  *    raises ("Cliente não encontrado" / "Plano não encontrado").
  *
  * For the 1,200-row fixture the reference issues ≈6,800 sequential SQL
  * round trips; this path issues one batched INSERT per table. At 100 TB
  * the same plans hold: dims stay broadcast-small, facts never collect
  * to the driver, appends stream per partition through the JDBC sink.
  *
  * Each batch is resolved once. The first fact load after the upserts
  * left-joins the batch to both dimensions' sink ids and persists the
  * result; both fact loads, both reject channels and every count read
  * that one frame. So per batch each dimension is read twice: its keys
  * before its insert-if-absent, its ids once after. An upsert drops the
  * resolved frame, since it changes a dimension. The counts are one
  * aggregate over the persisted frame, taken before either fact write,
  * not `Dataset.observe` metrics around the writes: on Spark 4.1.2 an
  * `Observation` on a frame written with `write.jdbc` reported 0 rows
  * for a write of 899.
  *
  * `Pipeline.run` calls the two upserts at the same time, then the two
  * fact loads at the same time, on one `Load`. The resolved frame is
  * shared by the concurrent fact loads: `resolve` and `release` are
  * synchronized, so exactly one frame is built and persisted per batch,
  * and its aggregate runs once while the other load waits for it.
  *
  * A `Load` runs on the session it is given, and each core call on the
  * session of its frame. `Pipeline.run` gives it its import session: a
  * kept clone of the caller's with adaptive execution off, because AQE
  * turns each of an import's small actions into several query-stage
  * jobs. There the caller's shuffle width applies, with no coalescing.
  * A `QueryExecutionListener` registered on the caller after its first
  * import does not see the import's queries.
  */
class Load(spark: SparkSession, url: String, props: Properties = new Properties) {

  DerbyVarcharDialect.ensureRegistered()

  private def readTable(name: String): DataFrame =
    spark.read.jdbc(url, name, props)

  /** L1+L3: distinct (Plano, Plano_Valor) pairs, insert-if-absent on
    * descricao (`etl_process.py:28–49`). Runs on the deduped frame, as
    * the reference does (`:219` receives df_clean); a plan with several
    * values keeps its lowest non-null one. */
  def upsertPlanos(clean: DataFrame): Unit = {
    release() // the dimension changes under any resolved frame
    val planos = clean.select(col("Plano").as("descricao"),
      col("Plano_Valor").as("valor"))
    Load.insertIfAbsent(Load.pickPerKey(planos, Seq("descricao")), url, "tbl_planos",
      Seq("descricao"), props)
  }

  /** L4: clients insert-if-absent on cpf_cnpj (`etl_process.py:60–88`).
    * No per-key pick: `clean` comes from [[Clean.dedupDeterministic]],
    * which already keeps one row per cpf_cnpj. */
  def upsertClientes(clean: DataFrame): Unit = {
    release()
    val clientes = clean.select(
      col("Nome_Razão_Social").as("nome_razao_social"),
      col("Nome_Fantasia").as("nome_fantasia"),
      col("cpf_cnpj"),
      col("Data_Nasc").as("data_nascimento"),
      col("Data_Cadastro_cliente").as("data_cadastro"))
    Load.insertIfAbsent(clientes, url, "tbl_clientes", Seq("cpf_cnpj"), props)
  }

  // FK-resolution outcome of a row of the resolved frame
  private val clienteFound = col("cliente_id").isNotNull
  private val contratoOk = clienteFound && col("plano_id").isNotNull

  /** A batch resolved against both dimensions: `batch` left-joined to
    * the sink-assigned `cliente_id` (by cpf_cnpj) and `plano_id` (by
    * Plano), persisted. `counts` is one aggregate over it: (loadable
    * contracts, rejected contracts, rows whose cliente is unknown,
    * loadable contacts). The contact count is the non-null contact
    * cells of the rows whose cliente is known, exactly what
    * `loadContatos` writes (its null filter runs before `trim`); it
    * counts the contact columns the batch has, so a contract-only batch
    * counts too. */
  private final class Resolved(val batch: DataFrame) {
    val frame: DataFrame = {
      val clientes = readTable("tbl_clientes")
        .select(col("id").as("cliente_id"), col("cpf_cnpj"))
      val planos = readTable("tbl_planos")
        .select(col("id").as("plano_id"), col("descricao"))
      val withCliente = batch.join(broadcast(clientes), Seq("cpf_cnpj"), "left")
      withCliente
        .join(broadcast(planos), withCliente("Plano") === planos("descricao"), "left")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    lazy val counts: (Long, Long, Long, Long) = {
      val contatos = Seq("Telefones", "Celulares", "Emails")
        .filter(batch.columns.contains)
        .map(c => count(when(clienteFound && col(c).isNotNull, 1)))
      val r = frame.agg(count(when(contratoOk, 1)), count(when(!contratoOk, 1)) +:
        count(when(!clienteFound, 1)) +: contatos: _*).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), (3 until r.length).map(r.getLong).sum)
    }
  }

  private var memo: Option[Resolved] = None

  /** The resolved form of `clean`, built on first use after the upserts
    * and shared by both fact loads and their reject channels. Keyed on
    * the `clean` frame itself: another batch replaces it. */
  private def resolve(clean: DataFrame): Resolved = synchronized {
    memo match {
      case Some(r) if r.batch eq clean => r
      case _ =>
        release()
        val r = new Resolved(clean)
        memo = Some(r)
        r
    }
  }

  /** (rejected contracts, rejected contacts) of `clean`, from the
    * aggregate the fact loads already ran. */
  private[etl] def rejectCounts(clean: DataFrame): (Long, Long) = {
    val (_, contratos, contatos, _) = resolve(clean).counts
    (contratos, contatos)
  }

  /** Unpersists the resolved frame, if any; its reject frames would
    * then re-read the sink. */
  private[etl] def release(): Unit = synchronized {
    memo.foreach(_.frame.unpersist())
    memo = None
  }

  /** L5–L9: contracts with FK resolution, defaults, truncation, and the
    * reject channel (`etl_process.py:91–142`). Returns (loaded, rejects)
    * — rejects carry the reference's error strings in an `erro` column. */
  def loadContratos(clean: DataFrame): (Long, DataFrame) = {
    val resolved = resolve(clean)
    val loaded = resolved.counts._1
    val rejects = resolved.frame.filter(!contratoOk)
      .select(clean.columns.map(c => col(s"`$c`")) :+
        when(col("cliente_id").isNull, "Cliente não encontrado")
          .otherwise("Plano não encontrado").as("erro"): _*)

    val loadable = resolved.frame.filter(contratoOk)
      .select(
        col("cliente_id"), col("plano_id"),
        // Q5: falsy default — 0 and null both become 10 (etl_process.py:120)
        when(col("Vencimento").isNull || col("Vencimento") === 0, 10)
          .otherwise(col("Vencimento")).as("dia_vencimento"),
        lit(false).as("isento"), // Q7: input Isento ignored
        coalesce(col("Endereço"), lit("")).as("endereco_logradouro"),
        coalesce(col("Número"), lit("")).as("endereco_numero"),
        coalesce(col("Bairro"), lit("")).as("endereco_bairro"),
        coalesce(col("Cidade"), lit("")).as("endereco_cidade"),
        coalesce(col("Complemento"), lit("")).as("endereco_complemento"),
        coalesce(col("CEP"), lit("")).as("endereco_cep"),
        // Q6: UF[:2] truncation bug reproduced (etl_process.py:123)
        substring(coalesce(col("UF"), lit("")), 1, 2).as("endereco_uf"),
        lit(1).as("status_id")) // Q7: input Status ignored

    Load.append(loadable, url, "tbl_cliente_contratos", props)
    (loaded, rejects)
  }

  /** L10: unpivot the three contact columns to rows
    * (`etl_process.py:145–191`); tipo ids per the seeded dimension
    * (Telefones→1, Celulares→2, Emails→3). The NaN-skip filter maps to
    * a null filter; values are trimmed as the reference does. Reads the
    * batch's resolved frame, so `clean` carries `Plano` as well. */
  def loadContatos(clean: DataFrame): (Long, DataFrame) = {
    val resolved = resolve(clean)
    val loaded = resolved.counts._4
    val frame = resolved.frame
    val rejects = frame.filter(!clienteFound)
      .select(clean.columns.map(c => col(s"`$c`")) :+
        lit("Cliente não encontrado").as("erro"): _*)

    val contatos = frame.filter(clienteFound)
      .select(col("cliente_id"),
        expr("stack(3, 1, Telefones, 2, Celulares, 3, Emails)")
          .as(Seq("tipo_contato_id", "contato")))
      .filter(col("contato").isNotNull)
      .select(col("cliente_id"), col("tipo_contato_id"),
        trim(col("contato")).as("contato"))

    Load.append(contatos, url, "tbl_cliente_contatos", props)
    (loaded, rejects)
  }
}

/** The insert-if-absent core: the reference's `INSERT … ON CONFLICT DO
  * NOTHING` (`etl_process.py:37–41`, `:72–78`) as one set-oriented
  * write, for [[Load]]'s upserts and [[graft.streaming.JdbcUpsertSink]].
  *
  * Sink batching contract: 10k-row executeBatch chunks amortize driver
  * round trips (the reference pays one PER ROW), and `numPartitions`
  * caps the writer connections, each one transaction, at 8, so a wide
  * cluster can't exhaust the database's connection limit. An embedded
  * Derby sink gets one writer per table: writers that collide on a table
  * whose identity generator is cold (its first rows since boot) can
  * fail with 40XL1. Caller-provided `props` win.
  *
  * Non-atomicity note (SURVEY §7.4): anti-join+append is idempotent per
  * batch but racy under concurrent writers; the reference is
  * single-writer and commits per table, so semantics match.
  */
object Load {
  /** Appends `df` to `table` under the batching contract. The frame is
    * coalesced to the writer count here rather than by the JDBC writer,
    * which would plan it a second time and re-run its broadcasts. */
  def append(df: DataFrame, url: String, table: String, props: Properties): Unit = {
    val p = new Properties
    p.putAll(props)
    p.putIfAbsent("batchsize", "10000")
    p.putIfAbsent("numPartitions", if (DerbyVarcharDialect.canHandle(url)) "1" else "8")
    df.coalesce(p.getProperty("numPartitions").toInt)
      .write.mode(SaveMode.Append).jdbc(url, table, p)
  }

  /** One row per `keyCols` value, picked deterministically, so a
    * replayed batch re-picks the same rows whatever its partition
    * order: the least row by the other columns, compared in column
    * order, each ascending with nulls last. With one value column that
    * is its minimum non-null value. Columns keep `batch`'s order. */
  def pickPerKey(batch: DataFrame, keyCols: Seq[String]): DataFrame = {
    val valueCols = batch.columns.filterNot(keyCols.contains).toSeq
    if (valueCols.isEmpty) batch.dropDuplicates(keyCols)
    else {
      // a struct sorts nulls first; a null flag ahead of each value sorts them last
      val order = valueCols.zipWithIndex.flatMap { case (v, i) =>
        Seq(col(v).isNull.as(s"n$i"), col(v).as(s"v$i"))
      }
      batch.groupBy(keyCols.map(col): _*)
        .agg(min(struct(order: _*)).as("_pick"))
        .select(batch.columns.toSeq.map { c =>
          val i = valueCols.indexOf(c)
          if (i < 0) col(c) else col("_pick").getField(s"v$i").as(c)
        }: _*)
    }
  }

  /** Appends the rows of `batch` whose `keyCols` are not yet in
    * `table`: the table's keys, dimension-sized here, are read once and
    * broadcast into a left-anti join. `batch` holds at most one row per
    * key; see [[pickPerKey]]. */
  def insertIfAbsent(batch: DataFrame, url: String, table: String,
      keyCols: Seq[String], props: Properties): Unit = {
    DerbyVarcharDialect.ensureRegistered()
    val existing = batch.sparkSession.read.jdbc(url, table, props).select(keyCols.map(col): _*)
    append(batch.join(broadcast(existing), keyCols, "left_anti"), url, table, props)
  }

  /** Runs `f` on a new connection to `url`, authenticated by `props`, then closes it. */
  def withConnection[T](url: String, props: Properties)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }
}
