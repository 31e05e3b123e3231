package graft.streaming

import java.sql.SQLException
import java.util.Properties

import scala.util.Using

import org.apache.spark.sql.DataFrame

import graft.etl.Load

/** Streaming INSERT-IF-ABSENT JDBC sink — the streaming counterpart of
  * the reference's L3/L4 upserts (`/root/reference/etl_process.py:37-41`
  * planos, `:72-78` clientes), shaped for `writeStream.foreachBatch`
  * (r7 verdict #4). Per micro-batch, on [[graft.etl.Load]]'s
  * insert-if-absent core, the one the batch loads use:
  *   1. [[Load.pickPerKey]]: one row per key, the row
  *      [[graft.etl.Load.upsertPlanos]] keeps, whatever the partition
  *      order of a replay.
  *   2. [[Load.insertIfAbsent]]: cross-batch first-writer-wins, a
  *      broadcast anti-join against the sink's current key set.
  *   3. Batch-id LEDGER (`<table>_batch_ledger`): a fully-committed
  *      batch records its id; a replay of that id is a no-op before any
  *      read of the data table.
  *
  * Exactly-once under replay comes from the PAIR of guards: the ledger
  * short-circuits clean replays, and in the crash window between the
  * data append and the ledger insert the key anti-join makes the
  * replayed append vacuous — the idempotent-sink contract foreachBatch
  * asks for, since Structured Streaming re-presents a batch id with the
  * same data.
  *
  * WRITE-PARALLELISM CONTRACT (r8 advice): the key snapshot is read
  * ONCE before the append, so the guards above do not cover (a) a
  * retried task re-inserting rows its failed attempt committed, on a
  * driver without per-partition transactions, or (b) a CONCURRENT
  * writer racing the read-before-write. So the sink appends over ONE
  * connection, a single transaction, unless `props` give
  * `numPartitions`: a caller whose table is UNIQUE on `keyCols` (as the
  * reference's are — `schema_database_pgsql.sql:410,426`) may ask for
  * more, and the sink then rejects a duplicate row instead of keeping
  * it. Single-writer discipline is the caller's job either way.
  */
final class JdbcUpsertSink(url: String, table: String, keyCols: Seq[String],
    props: Properties = new Properties)
  extends ((DataFrame, Long) => Unit) with Serializable {

  private val ledger = s"${table}_batch_ledger"

  private val writerProps = new Properties
  writerProps.putAll(props)
  writerProps.putIfAbsent("numPartitions", "1")

  /** Whether the ledger holds `batchId`; creates the ledger on first use. */
  private def committed(batchId: Long): Boolean = Load.withConnection(url, props) { c =>
    // a SELECT probe is portable; DatabaseMetaData.getTables folds the
    // name's case per sink and reads its '_' as a LIKE wildcard
    val exists = Using.resource(c.createStatement()) { st =>
      try { st.executeQuery(s"SELECT 1 FROM $ledger WHERE 1 = 0"); true }
      catch { case _: SQLException => false }
    }
    if (!exists) Using.resource(c.createStatement())(
      _.executeUpdate(s"CREATE TABLE $ledger (batch_id BIGINT PRIMARY KEY)"))
    exists && Using.resource(
      c.prepareStatement(s"SELECT 1 FROM $ledger WHERE batch_id = ?")) { st =>
      st.setLong(1, batchId)
      st.executeQuery().next()
    }
  }

  private def record(batchId: Long): Unit = Load.withConnection(url, props) { c =>
    Using.resource(c.prepareStatement(s"INSERT INTO $ledger VALUES (?)")) { st =>
      st.setLong(1, batchId)
      st.executeUpdate()
    }
  }

  override def apply(batch: DataFrame, batchId: Long): Unit = if (!committed(batchId)) {
    Load.insertIfAbsent(Load.pickPerKey(batch, keyCols), url, table, keyCols, writerProps)
    record(batchId)
  }
}
