package graft

import org.apache.spark.sql.functions.{col, hash, pmod}

/** Replay-with-FAILURE-INJECTION for [[graft.streaming.JdbcUpsertSink]]
  * (r9 verdict #6): the r9 fix claims the no-unique-key mode's single
  * transactional partition removes the task-retry duplicate window, and
  * the unique-key 8-connection mode survives a partition dying after
  * sibling partitions committed. This spec proves both by actually
  * killing a partition mid-append:
  *
  * A CHECK constraint on the sink table rejects one POISON row, so the
  * task writing the poison partition fails at its final executeBatch —
  * AFTER the other partitions' transactions committed (the poison
  * partition is loaded with ~60× the filler rows of its siblings, so it
  * finishes last) — exactly the mid-batch partition death the doc
  * contract describes. Dropping the constraint plays the transient
  * clearing; the replay of the SAME batch id must then converge to
  * exactly-once: every key present once, nothing the failed attempt
  * committed duplicated, and a further replay a ledger no-op.
  */
class UpsertReplayFaultSpec extends SparkTestBase {

  private def provision(tag: String): String = {
    val url =
      s"jdbc:derby:/tmp/graft-derby-fault-$tag-${System.nanoTime()};create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(
      """CREATE TABLE sink_t (k VARCHAR(32) NOT NULL UNIQUE, v INT,
        |  CONSTRAINT poison_chk CHECK (k <> 'poison'))""".stripMargin)
    finally c.close()
    url
  }

  private def dropPoisonCheck(url: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement()
      .executeUpdate("ALTER TABLE sink_t DROP CONSTRAINT poison_chk")
    finally c.close()
  }

  private def snap(url: String): Seq[(String, Int)] =
    spark.read.jdbc(url, "sink_t", new java.util.Properties)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted

  private def ledgerIds(url: String): Seq[Long] =
    spark.read.jdbc(url, "sink_t_batch_ledger", new java.util.Properties)
      .collect().map(_.getLong(0)).toSeq.sorted

  for ((label, unique) <- Seq(("unique-key 8-connection", true),
      ("no-key single-transaction", false)))
    test(s"partition killed mid-append, then replay → exactly-once ($label)") {
      val url = provision(if (unique) "u" else "s")
      import spark.implicits._
      // the sink re-shuffles on the key (groupBy pick), so the write
      // partition of each row is pmod(hash(k), shuffle.partitions) —
      // compute poison's partition and pile filler keys into it so that
      // partition finishes (and dies) LAST, after its siblings committed
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val poisonPart = Seq("poison").toDF("k")
        .select(pmod(hash(col("k")), org.apache.spark.sql.functions.lit(parts)))
        .head().getInt(0)
      val fillers = (1 to 100000).map(i => s"f$i")
        .toDF("k").withColumn("p",
          pmod(hash(col("k")), org.apache.spark.sql.functions.lit(parts)))
        .filter(col("p") === poisonPart).limit(3000)
        .select("k").as[String].collect().toSeq
      val keys = (1 to 200).map(i => s"k$i") ++ fillers :+ "poison"
      val batch = keys.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "v")
      val expected = keys.zipWithIndex.sorted
      // a UNIQUE key lets the sink take 8 writers; without one it keeps
      // its single-transaction default
      val writers = new java.util.Properties
      if (unique) writers.setProperty("numPartitions", "8")
      val sink = new graft.streaming.JdbcUpsertSink(url, "sink_t", Seq("k"), writers)

      // at test scale AQE coalesces the tiny anti-join output to ONE
      // partition, which would collapse the 8-connection mode into the
      // single-transaction shape and prove nothing — pin the partition
      // layout the mode is documented for
      val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
      val saved = spark.conf.get(coalesceKey)
      spark.conf.set(coalesceKey, "false")
      try {
        val e = intercept[Throwable](sink(batch.toDF(), 7L))
        assert(e != null)
        val afterFail = snap(url)
        assert(!ledgerIds(url).contains(7L),
          "failed batch must not reach the ledger")
        assert(!afterFail.exists(_._1 == "poison"))
        assert(afterFail.map(_._1).distinct.size == afterFail.size,
          s"duplicates after failed attempt: $afterFail")
        if (unique) {
          // sibling partitions committed before the poison partition died
          // — the partial state the replay must NOT duplicate
          assert(afterFail.nonEmpty && afterFail.size < expected.size,
            s"expected a partial commit, got ${afterFail.size}/${expected.size}")
        } else {
          // ONE transactional partition: the failure rolls back everything
          assert(afterFail.isEmpty,
            s"single-transaction mode must leave nothing: ${afterFail.size} rows")
        }

        dropPoisonCheck(url)
        sink(batch.toDF(), 7L) // Structured Streaming replays the same id
        assert(snap(url) == expected, "replay did not converge to exactly-once")
        assert(ledgerIds(url).contains(7L))

        sink(batch.toDF(), 7L) // committed id → ledger short-circuit
        assert(snap(url) == expected, "clean replay mutated the sink")
      } finally spark.conf.set(coalesceKey, saved)
    }
}
