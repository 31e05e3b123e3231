package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** MemoryStream harness for the streaming extensions (no DuckDB oracle
  * — SURVEY §5.6): feeds batches through a real StreamingQuery into a
  * memory sink and asserts emitted rows, including watermark-driven
  * late-data drops and state timeouts. */
class StreamingSpec extends SparkTestBase {

  private def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  private def runStream(events: Seq[Seq[Event]],
      xform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      mode: OutputMode = OutputMode.Append): Seq[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val name = s"sink_${System.nanoTime()}"
    val q = xform(mem.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try {
      events.foreach { batch => mem.addData(batch); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  test("tumbling window counts emit after the watermark passes") {
    val out = runStream(Seq(
      Seq(Event(1, ts("10:05"), 1, "view", 1.0), Event(2, ts("10:40"), 2, "view", 2.0),
        Event(3, ts("11:10"), 1, "buy", 5.0)),
      // advance watermark far enough to close the 10:00 and 11:00 windows
      Seq(Event(9, ts("14:00"), 9, "view", 0.0))),
      Streams.tumblingCounts)
    val m = out.map(r => (r.getTimestamp(0).toString.take(13), r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    assert(m(("2024-01-01 10", "view")) == (2L, 3.0))
    assert(m(("2024-01-01 11", "buy")) == (1L, 5.0))
  }

  test("late events beyond the watermark are dropped") {
    val out = runStream(Seq(
      Seq(Event(1, ts("10:05"), 1, "view", 1.0)),
      Seq(Event(2, ts("15:00"), 2, "view", 1.0)), // watermark → 13:00
      Seq(Event(3, ts("10:30"), 3, "view", 1.0)), // > 2h late: dropped
      Seq(Event(4, ts("18:00"), 4, "view", 1.0))),
      Streams.tumblingCounts)
    val tenOclock = out.filter(_.getTimestamp(0).toString.startsWith("2024-01-01 10"))
    assert(tenOclock.map(_.getLong(2)).sum == 1L, s"late event not dropped: $out")
  }

  test("sliding windows emit one row per overlapping window") {
    val out = runStream(Seq(
      Seq(Event(1, ts("10:20"), 1, "view", 1.0)),
      Seq(Event(9, ts("14:00"), 9, "view", 0.0))),
      Streams.slidingCounts)
    // a point at 10:20 falls in 4 hour-long windows sliding by 15 min
    val hits = out.filter(_.getLong(2) >= 1)
      .filter(_.getTimestamp(0).toString < "2024-01-01 11")
    assert(hits.length == 4, s"got: $out")
  }

  test("session windows merge events within the 30-minute gap") {
    val out = runStream(Seq(
      Seq(Event(1, ts("10:00"), 1, "view", 1.0), Event(2, ts("10:20"), 1, "view", 2.0),
        Event(3, ts("11:30"), 1, "view", 3.0)), // gap > 30min → new session
      Seq(Event(9, ts("15:00"), 9, "view", 0.0))),
      Streams.sessionCounts)
    val u1 = out.filter(_.getLong(0) == 1).sortBy(_.getTimestamp(1).getTime)
    assert(u1.length == 2)
    assert(u1(0).getLong(3) == 2 && u1(0).getDouble(4) == 3.0)
    assert(u1(1).getLong(3) == 1 && u1(1).getDouble(4) == 3.0)
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon") {
    val out = runStream(Seq(
      Seq(Event(1, ts("10:00"), 1, "view", 1.0), Event(1, ts("10:00"), 1, "view", 1.0)),
      Seq(Event(1, ts("10:01"), 1, "view", 1.0), Event(2, ts("10:02"), 1, "view", 1.0))),
      Streams.dedupWithinWatermark)
    assert(out.map(_.getLong(0)).sorted == Seq(1L, 2L))
  }

  test("foreachBatch streams windowed aggregates into a JDBC sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.etl.DerbyVarcharDialect.ensureRegistered()
    val db = s"/tmp/graft-stream-derby-${System.nanoTime()}"
    val url = s"jdbc:derby:$db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      """CREATE TABLE hourly (window_start TIMESTAMP, event_type VARCHAR(64),
        |  n BIGINT, total_value DOUBLE)""".stripMargin)
    conn.close()

    val mem = MemoryStream[Event]
    val q = Streams.tumblingCounts(mem.toDF()).writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode(org.apache.spark.sql.SaveMode.Append)
          .jdbc(url, "hourly", new java.util.Properties)
      }
      .start()
    try {
      mem.addData(Seq(Event(1, ts("10:05"), 1, "view", 1.0),
        Event(2, ts("10:30"), 2, "view", 2.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(9, ts("15:00"), 9, "view", 0.0))) // closes 10:00
      q.processAllAvailable()
      val rows = spark.read.jdbc(url, "hourly", new java.util.Properties).collect()
      val ten = rows.filter(_.getTimestamp(0).toString.startsWith("2024-01-01 10"))
      assert(ten.length == 1 && ten(0).getLong(2) == 2 && ten(0).getDouble(3) == 3.0)
    } finally q.stop()
  }

  test("streaming transforms run unchanged on batch frames (one-API parity)") {
    import org.apache.spark.sql.functions._
    val events = graft.ops.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
    val viaStreamFn = Streams.tumblingCounts(events)
      .orderBy("window_start", "event_type").collect()
    val direct = events
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .orderBy("window_start", "event_type").collect()
    assert(viaStreamFn.length == direct.length)
    viaStreamFn.zip(direct).foreach { case (a, b) =>
      assert(a.getTimestamp(0) == b.getTimestamp(0))
      assert(a.getString(1) == b.getString(1))
      assert(a.getLong(2) == b.getLong(2))
    }
  }

  test("stream-static enrichment joins each micro-batch against the broadcast dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    val name = s"enrich_${System.nanoTime()}"
    val q = Streams.enrichWithDim(mem.toDF(), dim).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Append).start()
    try {
      mem.addData(Seq(Event(1, ts("10:00"), 1, "view", 1.0),
        Event(2, ts("10:01"), 9, "view", 1.0))) // user 9 has no dim row
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => r.getLong(r.fieldIndex("event_id")) ->
          Option(r.getAs[String]("tier"))).toMap
      assert(rows(1L).contains("gold"))
      assert(rows(2L).isEmpty) // left join: kept, null-enriched
    } finally q.stop()
  }

  test("stream-stream join attributes buys to preceding views within the hour") {
    val out = runStream(Seq(
      Seq(Event(1, ts("10:00"), 1, "view", 0.0),
        Event(2, ts("10:30"), 1, "buy", 9.0),   // joins view 1 (30 min before)
        Event(3, ts("10:40"), 2, "view", 0.0)),
      Seq(Event(4, ts("13:00"), 1, "buy", 5.0), // no view within 1 h → no row
        Event(5, ts("13:10"), 2, "buy", 7.0)),  // view 3 is 2.5 h earlier → no row
      Seq(Event(9, ts("18:00"), 9, "view", 0.0))), // advance watermark
      Streams.viewToBuyJoin)
    assert(out.map(r => (r.getLong(1), r.getLong(2))) == Seq((2L, 1L)),
      s"got: $out")
    // batch parity: identical rows on a static frame
    import spark.implicits._
    val batch = Streams.viewToBuyJoin(Seq(
      Event(1, ts("10:00"), 1, "view", 0.0), Event(2, ts("10:30"), 1, "buy", 9.0),
      Event(3, ts("10:40"), 2, "view", 0.0), Event(4, ts("13:00"), 1, "buy", 5.0),
      Event(5, ts("13:10"), 2, "buy", 7.0)).toDF()).collect()
    assert(batch.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((2L, 1L)))
  }

  test("left-outer stream-stream join emits unmatched buys after the watermark") {
    val out = runStream(Seq(
      Seq(Event(1, ts("10:00"), 1, "view", 0.0),
        Event(2, ts("10:30"), 1, "buy", 9.0),   // attributed to view 1
        Event(3, ts("13:00"), 2, "buy", 5.0)),  // user 2 never viewed
      // advance BOTH watermarks far past 13:00 + 1 h join window so the
      // unmatched buy can be finalized and emitted with null view cols
      Seq(Event(8, ts("20:00"), 9, "view", 0.0),
        Event(9, ts("20:00"), 9, "buy", 0.0)),
      Seq(Event(10, ts("23:30"), 9, "view", 0.0),
        Event(11, ts("23:30"), 9, "buy", 0.0))),
      df => Streams.viewToBuyJoin(df, "left_outer"))
    val byBuy = out.map(r => r.getLong(1) ->
      (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(byBuy(2L).contains(1L), s"buy 2 must attribute to view 1: $out")
    assert(byBuy.contains(3L) && byBuy(3L).isEmpty,
      s"unmatched buy 3 must emit null-padded: $out")
    // inner-join rows are a subset: no null view for attributed buys
    assert(byBuy(2L).nonEmpty)
  }

  test("streaming near-dup: later near-duplicate docs point at the first writer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val nearDup = base.replace("kappa", "lambda") // one token differs
    val distinct = "one two three four five six seven eight nine ten " * 3
    val mem = MemoryStream[Streams.DocEvent]
    val name = s"neardup_${System.nanoTime()}"
    val q = Streams.nearDupBandVerdicts(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(Seq(
        Streams.DocEvent(1L, ts("10:00"), base),
        Streams.DocEvent(2L, ts("10:05"), distinct)))
      q.processAllAvailable()
      mem.addData(Seq(Streams.DocEvent(3L, ts("10:10"), nearDup)))
      q.processAllAvailable()
      val verdicts = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
      // docs 1 and 2 are first writers of all their bands
      assert(verdicts.filter(v => v._1 == 1L || v._1 == 2L).forall(v => v._3 == v._1))
      // the near-dup shares at least one band with doc 1 and points at it
      val dupHits = verdicts.filter(v => v._1 == 3L && v._3 == 1L)
      assert(dupHits.nonEmpty, s"doc 3 must collide with doc 1: ${verdicts.mkString(",")}")
      // a shared band implies those 2 signature slots agree
      assert(dupHits.forall(_._4 >= 2), dupHits.mkString(","))
      // and never collides with the unrelated doc 2
      assert(!verdicts.exists(v => v._1 == 3L && v._3 == 2L))
    } finally q.stop()
  }

  // The 100 TB streaming question (round-6 verdict #6): does the state
  // store actually PLATEAU under a replayed crawl once the watermark
  // passes the expiry horizon, or does it track stream length? Replay
  // batches of all-new keys (the worst case for any dedup state: nothing
  // ever collides, every key is a fresh state row) with event time
  // advancing steadily, and read the state row count the engine itself
  // reports (StreamingQueryProgress.stateOperators.numRowsTotal).
  private def replayStateSizes[T](
      op: org.apache.spark.sql.Dataset[Streams.DocEvent] =>
        org.apache.spark.sql.Dataset[T],
      batches: Int, docsPerBatch: Int, strideMinutes: Int): Seq[Long] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Streams.DocEvent]
    val name = s"statebound_${System.nanoTime()}"
    val q = op(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 08:00:00").getTime
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var id = 0L
    try {
      (0 until batches).foreach { b =>
        val evts = (0 until docsPerBatch).map { j =>
          id += 1
          // 30 unique tokens per doc → unique chunks AND unique shingle
          // sets (no cross-doc collisions: every batch only ADDS keys)
          val text = (0 until 30).map(k => s"w${b}x${j}t$k").mkString(" ")
          Streams.DocEvent(id, new Timestamp(t0 + b.toLong * strideMinutes * 60000L), text)
        }
        mem.addData(evts)
        q.processAllAvailable()
        val ps = q.recentProgress.filter(_.stateOperators.nonEmpty)
        if (ps.nonEmpty) sizes += ps.last.stateOperators.head.numRowsTotal
      }
      sizes.toSeq
    } finally q.stop()
  }

  test("chunk-novelty state plateaus once the watermark passes the expiry horizon") {
    val batches = 24; val docs = 15; val stride = 5
    val sizes = replayStateSizes(
      ds => Streams.chunkNovelty(ds, horizonMinutes = 10),
      batches, docs, stride)
    // 3 chunks per 30-token doc; a key is expirable once the watermark
    // (maxEvent − horizon) passes its last-seen + horizon → live window
    // ≈ 2×horizon/stride = 4 batches, plus timeout-clamp and batch lag
    // slack. The bound that matters: FAR below total keys ever created.
    val keysPerBatch = 3L * docs
    val totalKeys = keysPerBatch * batches
    val bound = keysPerBatch * 8
    assert(sizes.nonEmpty)
    assert(sizes.last <= bound,
      s"final state ${sizes.last} rows exceeds plateau bound $bound (sizes=$sizes)")
    // plateau, not growth: the last 6 batches stay under the bound too
    assert(sizes.takeRight(6).forall(_ <= bound), s"sizes=$sizes")
    // and the experiment is non-vacuous: unbounded state would hold
    // ~totalKeys rows by the end
    assert(totalKeys > 2 * bound)
  }

  test("near-dup band state plateaus once the watermark passes the expiry horizon") {
    val batches = 24; val docs = 10; val stride = 5
    val sizes = replayStateSizes(
      ds => Streams.nearDupBandVerdicts(ds, horizonMinutes = 10),
      batches, docs, stride)
    val keysPerBatch = 4L * docs // 4 LSH bands per doc, all-distinct docs
    val totalKeys = keysPerBatch * batches
    val bound = keysPerBatch * 8
    assert(sizes.nonEmpty)
    assert(sizes.last <= bound,
      s"final state ${sizes.last} rows exceeds plateau bound $bound (sizes=$sizes)")
    assert(sizes.takeRight(6).forall(_ <= bound), s"sizes=$sizes")
    assert(totalKeys > 2 * bound)
  }

  test("streaming chunk novelty matches the batch first-seen formulation on real docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // real sf corpus, streamed in doc_id order with synthetic ascending
    // event times — the crawl-arrival differential
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val mem = MemoryStream[Streams.DocEvent]
    val name = s"chunknov_${System.nanoTime()}"
    val q = Streams.chunkNovelty(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      docs.grouped(20).zipWithIndex.foreach { case (batch, i) =>
        // MONOTONE event time truly regardless of fixture size: one
        // minute per group from a fixed epoch (an HH:mm format would
        // wrap at some size — i % 60 at 1,200 docs, hour rollover at
        // ~16,800 — and flip the min-doc_id first-writer attribution;
        // round-6 advice + round-7 review)
        val t0 = ts("10:00").getTime
        mem.addData(batch.map { case (id, text) =>
          Streams.DocEvent(id, new Timestamp(t0 + i * 60000L), text)
        }.toSeq)
        if (i % 5 == 0) q.processAllAvailable()
      }
      q.processAllAvailable()
      val streamed = spark.table(name)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(!col("novel"), 1L).otherwise(0L)).as("n_stale"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // batch first-seen mirror: a chunk occurrence is stale iff an
      // EARLIER doc contains the same chunk
      val cw = 10
      val all = docs.flatMap { case (id, text) =>
        val tok = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        (0 until tok.length / cw).map(i =>
          (id, tok.slice(i * cw, i * cw + cw).mkString(" ")))
      }
      val firstSeen = all.groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).min }
      val ref = all.groupBy(_._1).map { case (id, xs) =>
        id -> (xs.length.toLong, xs.count(x => firstSeen(x._2) < id).toLong)
      }
      assert(streamed.keySet == ref.keySet)
      streamed.foreach { case (id, got) =>
        assert(got == ref(id), s"doc $id: streamed $got vs batch ${ref(id)}")
      }
      assert(ref.values.map(_._2).sum > 0, "fixture produced no stale chunk")
    } finally q.stop()
  }

  test("file-source integration: readStream over a parquet events dir matches batch") {
    import org.apache.spark.sql.functions._
    val events = graft.ops.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    // three chronological file chunks (append in ts order) so each
    // micro-batch only ever sees data NEWER than the watermark — the
    // arrival pattern a time-partitioned landing zone produces
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val chunked = events.withColumn("chunk", ntile(3).over(w)).cache()
    (1 to 3).foreach { c =>
      chunked.filter(col("chunk") === c).drop("chunk")
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    chunked.unpersist()
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // several incremental micro-batches
      .parquet(srcDir)
    val name = s"filesrc_${System.nanoTime()}"
    val q = Streams.tumblingCounts(stream).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", ckptDir) // durable progress, real restart semantics
      .start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress != null && q.recentProgress.nonEmpty)
      val streamed = spark.table(name)
        .orderBy("window_start", "event_type").collect().toSeq
      val batch = Streams.tumblingCounts(spark.read.parquet(srcDir))
        .orderBy("window_start", "event_type").collect().toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("checkpoint restart: aggregation state survives a query stop/start") {
    import org.apache.spark.sql.functions._
    val events = graft.ops.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-restart-src").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-restart-ckpt").toString
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val chunked = events.withColumn("chunk", ntile(2).over(w)).cache()
    def writeChunk(c: Int): Unit =
      chunked.filter(col("chunk") === c).drop("chunk")
        .coalesce(1).write.mode("append").parquet(srcDir)
    writeChunk(1)
    val schema = spark.read.parquet(srcDir).schema
    def start(name: String) = Streams.tumblingCounts(
      spark.readStream.schema(schema).parquet(srcDir)).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Complete)
      .option("checkpointLocation", ckptDir)
      .start()
    // phase 1: process the first half, then STOP the query
    val q1 = start(s"restart1_${System.nanoTime()}")
    try q1.processAllAvailable() finally q1.stop()
    chunked.unpersist()
    // phase 2: more data lands while no query runs; a NEW query on the
    // SAME checkpoint must recover the first half's state and fold the
    // second half in — the memory table is fresh, so every pre-restart
    // count it shows was recovered from the checkpoint, not recomputed
    writeChunk(2)
    val name2 = s"restart2_${System.nanoTime()}"
    val q2 = start(name2)
    try {
      q2.processAllAvailable()
      val resumed = spark.table(name2)
        .orderBy("window_start", "event_type").collect().toSeq
      val batch = Streams.tumblingCounts(spark.read.parquet(srcDir))
        .orderBy("window_start", "event_type").collect().toSeq
      assert(resumed.nonEmpty && resumed == batch)
    } finally q2.stop()
  }

  test("streaming upsert sink: golden-fixture replay with forced batch retries " +
      "equals the batch loader's tables") {
    // r7 verdict #4: the streaming counterpart of the reference's L3/L4
    // insert-if-absent. The 1,198-row cleaned golden fixture streams in
    // three OVERLAPPING micro-batches (re-presented keys exercise
    // first-writer-wins), then both replay shapes are forced — a clean
    // replay of a committed batch id (ledger no-op) and the
    // crash-window shape (data committed, ledger row missing: the key
    // anti-join must make the re-run vacuous). Final tables must equal
    // the batch Load's on the same fixture, at the golden counts.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.etl.DerbyVarcharDialect.ensureRegistered()
    def provision(tag: String): String = {
      val url = s"jdbc:derby:/tmp/graft-derby-ups-$tag-${System.nanoTime()};create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.executeUpdate("""CREATE TABLE tbl_planos (
          |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          |  descricao VARCHAR(255) NOT NULL UNIQUE, valor DECIMAL(15,2))""".stripMargin)
        st.executeUpdate("""CREATE TABLE tbl_clientes (
          |  id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          |  nome_razao_social VARCHAR(255), nome_fantasia VARCHAR(255),
          |  cpf_cnpj VARCHAR(18) NOT NULL UNIQUE,
          |  data_nascimento DATE, data_cadastro TIMESTAMP)""".stripMargin)
      } finally conn.close()
      url
    }
    val urlStream = provision("s")
    val urlBatch = provision("b")
    val cleaned = graft.etl.Clean.dedupDeterministic(graft.etl.Clean.transform(
      spark.read.format("xlsx").schema(graft.etl.Schemas.fixtureSchema)
        .load(GoldenFixture.path)))
    val load = new graft.etl.Load(spark, urlBatch)
    load.upsertPlanos(cleaned)
    load.upsertClientes(cleaned)
    // deterministic row index (cpf unique post-dedup) to slice batches
    val w = org.apache.spark.sql.expressions.Window.orderBy("cpf_cnpj")
    val indexed = cleaned.withColumn("idx", row_number().over(w)).persist()
    val nRows = indexed.count()
    // the provisioned DDL carries UNIQUE on both key columns, so the
    // 8-connection parallel append path stays exercised
    val eightWriters = new java.util.Properties
    eightWriters.setProperty("numPartitions", "8")
    val planoSink = new graft.streaming.JdbcUpsertSink(
      urlStream, "tbl_planos", Seq("descricao"), eightWriters)
    val clienteSink = new graft.streaming.JdbcUpsertSink(
      urlStream, "tbl_clientes", Seq("cpf_cnpj"), eightWriters)
    def planoFrame(b: DataFrame): DataFrame = indexed
      .join(b.select("idx"), "idx")
      .select(col("Plano").as("descricao"), col("Plano_Valor").as("valor"))
    def clienteFrame(b: DataFrame): DataFrame = indexed
      .join(b.select("idx"), "idx")
      .select(col("Nome_Razão_Social").as("nome_razao_social"),
        col("Nome_Fantasia").as("nome_fantasia"), col("cpf_cnpj"),
        col("Data_Nasc").as("data_nascimento"),
        col("Data_Cadastro_cliente").as("data_cadastro"))
    val mem = MemoryStream[Long]
    val q = mem.toDF().select(org.apache.spark.sql.functions.col("value").as("idx"))
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        planoSink(planoFrame(b), id)
        clienteSink(clienteFrame(b), id)
      }.start()
    try {
      mem.addData(1L to 500L); q.processAllAvailable()
      mem.addData(400L to 900L); q.processAllAvailable()
      mem.addData(850L to nRows); q.processAllAvailable()
    } finally q.stop()
    def snap(url: String, table: String, cols: Seq[String]): Seq[Seq[String]] =
      spark.read.jdbc(url, table, new java.util.Properties)
        .select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    val planoCols = Seq("descricao", "valor")
    val clienteCols = Seq("nome_razao_social", "nome_fantasia", "cpf_cnpj",
      "data_nascimento", "data_cadastro")
    val afterStream = snap(urlStream, "tbl_planos", planoCols)
    val replaySlice = indexed.filter(col("idx").between(400, 900)).select("idx")
    // replay shape 1: committed batch id — ledger short-circuit
    planoSink(planoFrame(replaySlice), 1L)
    assert(snap(urlStream, "tbl_planos", planoCols) == afterStream,
      "clean replay of a committed batch mutated the sink")
    // replay shape 2: crash window — ledger row gone, data present
    val c = java.sql.DriverManager.getConnection(urlStream)
    try c.createStatement().executeUpdate(
      "DELETE FROM tbl_planos_batch_ledger WHERE batch_id = 1")
    finally c.close()
    planoSink(planoFrame(replaySlice), 1L)
    assert(snap(urlStream, "tbl_planos", planoCols) == afterStream,
      "crash-window replay re-inserted existing keys")
    // differential vs the batch loader + golden counts
    assert(snap(urlStream, "tbl_planos", planoCols) ==
      snap(urlBatch, "tbl_planos", planoCols))
    assert(snap(urlStream, "tbl_clientes", clienteCols) ==
      snap(urlBatch, "tbl_clientes", clienteCols))
    assert(afterStream.size == 16)
    assert(snap(urlStream, "tbl_clientes", clienteCols).size == 1198)
    indexed.unpersist()
  }

  test("upsert sink: checkpoint restart replays the uncommitted batch as a no-op") {
    // The REAL replay path, not a hand-invoked one: run a checkpointed
    // file-source stream of the golden fixture's cleaned plan pairs
    // ([[GoldenFixture]]) through the sink, then simulate a crash in the
    // window after the sink committed but before the engine wrote its
    // commit marker (delete the latest checkpoint commit), and restart.
    // Structured Streaming re-presents that batch with the SAME id; the
    // ledger must short-circuit it and the table must not change.
    import org.apache.spark.sql.functions._
    graft.etl.DerbyVarcharDialect.ensureRegistered()
    val url = s"jdbc:derby:/tmp/graft-derby-ckpt-${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(
      """CREATE TABLE tbl_planos (
        |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |  descricao VARCHAR(255) NOT NULL UNIQUE, valor DECIMAL(15,2))""".stripMargin)
    finally conn.close()
    val cleaned = graft.etl.Clean.dedupDeterministic(graft.etl.Clean.transform(
      spark.read.format("xlsx").schema(graft.etl.Schemas.fixtureSchema)
        .load(GoldenFixture.path)))
      .select(col("Plano").as("descricao"), col("Plano_Valor").as("valor"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ups-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ups-ckpt").toString
    // three single-file slices → three file-source micro-batches
    Seq(400, 800, 1198).zip(Seq(0, 400, 800)).foreach { case (hi, lo) =>
      cleaned.limit(hi).exceptAll(cleaned.limit(lo)).coalesce(1)
        .write.mode("append").parquet(srcDir)
    }
    val schema = spark.read.parquet(srcDir).schema
    val sink = new graft.streaming.JdbcUpsertSink(url, "tbl_planos", Seq("descricao"))
    def runQuery(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(sink).start()
      try q.processAllAvailable() finally q.stop()
      // stop() can return before the engine releases its claim on the
      // checkpoint dir; a same-JVM restart then dies with "multiple
      // streaming queries are concurrently using <ckpt>/commits"
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      q.awaitTermination()
    }
    runQuery()
    def snap(): Seq[String] = spark.read.jdbc(url, "tbl_planos", new java.util.Properties)
      .select("descricao", "valor").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    val after = snap()
    assert(after.size == 16, s"expected the 16 golden planos, got ${after.size}")
    // crash window: the engine's commit marker for the last batch vanishes
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // Hadoop's local FS keeps a ".N.crc" checksum sidecar; leaving it
    // stale makes the replay's commit rewrite fail as a spurious
    // "concurrently modified" checkpoint
    val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    runQuery() // restart: replays the last batch id through foreachBatch
    assert(snap() == after, "checkpoint replay mutated the sink")
  }

  test("batch-equivalence: streamed tumbling counts fold to the oracle-checked " +
      "time_bucket_tumbling result on the real corpus") {
    import org.apache.spark.sql.functions._
    // the streaming suite has no DuckDB oracle; this differential chains
    // it to one: replay the REAL events parquet through the streaming
    // transform and require the per-hour fold to equal the batch query
    // the driver hash-checks against DuckDB
    val beqSf = "/root/testdata/sf0.01" // the SF the driver grades
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("ts"), col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-src").toString
    events.coalesce(2).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val name = s"beq_tumble_${System.nanoTime()}"
    val q = Streams.tumblingCounts(spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      // fold (window, event_type) rows down to the batch query's grain:
      // per-hour bucket over ALL event types
      val folded = spark.table(name)
        .groupBy(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour_bucket"))
        .agg(sum("n").as("n"), sum("total_value").as("sv"))
        .orderBy("hour_bucket")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      val batch = graft.ops.ScalarQueries.timeBucketTumbling(spark, beqSf)
        .select(col("hour_bucket"), col("n"), col("sum_value").cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(folded.length == batch.length && folded.nonEmpty)
      folded.zip(batch).foreach { case ((sb, sn, sv), (bb, bn, bv)) =>
        assert(sb == bb && sn == bn, s"bucket mismatch: $sb/$sn vs $bb/$bn")
        // double stream-fold vs exact decimal: tolerance, not bit equality
        assert(math.abs(sv - bv) < 1e-3, s"$sb sums differ: $sv vs $bv")
      }
    } finally q.stop()
  }

  test("batch-equivalence: streamed sessionizer emits exactly the " +
      "oracle-checked window_sessionize_batch sessions on the real corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // second-truncated ts on BOTH sides: the batch query compares gaps on
    // the shared second grain (events.ts is ns parquet), and the
    // streaming Event carries ms — equality requires one grain
    val beqSf = "/root/testdata/sf0.01" // the SF the driver grades
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("event_id"), date_trunc("second", col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-sess").toString
    events.coalesce(2).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val name = s"beq_sess_${System.nanoTime()}"
    val q = Streams.sessionize(
        spark.readStream.schema(schema).parquet(srcDir).as[Event])
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      // flush: a far-future sentinel (unused user -1) advances the
      // watermark past every real session's inactivity timeout
      Seq(Event(-1L, java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
        -1L, "view", 0.0)).toDF()
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val streamed = spark.table(name).as[Streams.SessionOut].collect()
        .filter(_.user_id >= 0) // drop the sentinel's own open session
        .map(s => (s.user_id, s.n_events, s.start.getTime, s.end.getTime))
        .sortBy(identity).toSeq
      val batch = graft.ops.AdvancedQueries.windowSessionizeBatch(spark, beqSf)
        .select(col("user_id"), col("n_events"),
          col("session_start"), col("session_end"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getTimestamp(2).getTime, r.getTimestamp(3).getTime))
        .sortBy(identity).toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"${streamed.length} streamed vs ${batch.length} batch sessions; " +
        s"first diff: ${streamed.zip(batch).find(p => p._1 != p._2)}")
    } finally q.stop()
  }

  test("batch-equivalence: streamed watermark dedup equals batch distinct " +
      "on a corpus with re-delivered events") {
    import org.apache.spark.sql.functions._
    val beqSf = "/root/testdata/sf0.01"
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-dedup").toString
    // at-least-once delivery: a 2000-event prefix arrives twice
    events.union(events.limit(2000)).coalesce(2)
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val name = s"beq_dedup_${System.nanoTime()}"
    val q = Streams.dedupWithinWatermark(
        spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name).select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      val batch = events.select("event_id").distinct().collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"${streamed.length} streamed vs ${batch.length} batch distinct ids")
    } finally q.stop()
  }

  test("batch-equivalence: streamed rolling anomaly matches the oracle-checked " +
      "window_rolling_anomaly on the real corpus") {
    import org.apache.spark.sql.functions._
    val beqSf = "/root/testdata/sf0.01"
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-anom").toString
    // ONE file → one micro-batch → the per-user event_id ordering
    // contract holds trivially (see rollingAnomaly's scaladoc)
    events.coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    import spark.implicits._
    val name = s"beq_anom_${System.nanoTime()}"
    val q = Streams.rollingAnomaly(
        spark.readStream.schema(schema).parquet(srcDir).as[Streams.Event])
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
      val batch = graft.ops.StatQueries.windowRollingAnomaly(spark, beqSf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
      assert(streamed.nonEmpty && streamed.keySet == batch.keySet,
        s"${streamed.size} streamed vs ${batch.size} batch rows")
      streamed.foreach { case (k, (mu, sd, flag)) =>
        val (bmu, bsd, bflag) = batch(k)
        // stream folds doubles, batch folds exact decimals → ulp slack;
        // flags must agree except within the slack band of the boundary
        assert(math.abs(mu - bmu) < 1e-6 && math.abs(sd - bsd) < 1e-6, s"$k")
        if (flag != bflag) {
          val margin = math.abs(math.abs(mu - bmu) - 2 * bsd)
          assert(margin < 1e-6, s"$k: flag $flag vs $bflag, margin $margin")
        }
      }
    } finally q.stop()
  }

  test("batch-equivalence: streamed CUSUM alarms exactly the users the " +
      "oracle-checked window_cusum_drift marks drifted, never after the peak") {
    import org.apache.spark.sql.functions._
    val beqSf = "/root/testdata/sf0.01"
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-cusum").toString
    events.coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    import spark.implicits._
    val name = s"beq_cusum_${System.nanoTime()}"
    val q = Streams.cusumDrift(
        spark.readStream.schema(schema).parquet(srcDir).as[Streams.Event])
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val alarms = spark.table(name).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = SparkEntry.queries("window_cusum_drift")(spark, beqSf)
        .collect()
        .map(r => r.getLong(0) -> (r.getDouble(2), r.getLong(3), r.getBoolean(4)))
        .toMap
      // alarm set == drifted set (double-vs-decimal slack only at the
      // threshold hairline), and the first crossing cannot postdate the
      // retrospective peak
      batch.foreach { case (uid, (peak, peakId, drifted)) =>
        (alarms.get(uid), drifted) match {
          case (Some(alarmId), true) =>
            assert(alarmId <= peakId, s"user $uid: alarm $alarmId after peak $peakId")
          case (None, false) => ()
          case _ =>
            assert(math.abs(peak - 400.0) < 1e-6,
              s"user $uid: alarm/drift disagree away from the boundary (peak $peak)")
        }
      }
      assert(alarms.nonEmpty, "fixture produced no drift alarms")
    } finally q.stop()
  }

  test("batch-equivalence: streamed count-min grid equals the batch sketch " +
      "cell-for-cell (exact integer parity)") {
    import org.apache.spark.sql.functions._
    val beqSf = "/root/testdata/sf0.01"
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-cm").toString
    // two files → two micro-batches: the grid must accumulate across
    // batches (the incremental-maintenance property under test)
    events.filter(col("event_id") % 2 === 0).write.mode("append").parquet(srcDir)
    events.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val name = s"beq_cm_${System.nanoTime()}"
    val q = Streams.countminGrid(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(srcDir))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = Streams.countminGrid(events).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"${streamed.size} streamed cells vs ${batch.size} batch cells")
      assert(batch.values.sum == events.count() * 4,
        "grid mass must be 4 cells per event")
    } finally q.stop()
  }

  test("custom flatMapGroupsWithState sessionizer closes on inactivity timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val name = s"sess_${System.nanoTime()}"
    val q = Streams.sessionize(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Append).start()
    try {
      mem.addData(Seq(
        Event(1, ts("10:00"), 1, "view", 1.0),
        Event(2, ts("10:10"), 1, "buy", 4.0),
        Event(3, ts("10:15"), 2, "view", 2.0)))
      q.processAllAvailable()
      // push watermark way past 10:45 so user 1+2 sessions time out
      mem.addData(Seq(Event(9, ts("16:00"), 9, "view", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(Event(10, ts("23:00"), 10, "view", 0.0)))
      q.processAllAvailable()
      val rows = spark.table(name).as[Streams.SessionOut].collect()
      val u1 = rows.find(_.user_id == 1).get
      assert(u1.n_events == 2 && u1.total_value == 5.0)
      assert(u1.start == ts("10:00") && u1.end == ts("10:10"))
      assert(rows.exists(_.user_id == 2))
    } finally q.stop()
  }

  test("changelog compaction keeps the latest change per key, handles " +
      "out-of-order arrivals and delete markers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val name = s"cdc_${System.nanoTime()}"
    val q = Streams.latestStateCompaction(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Update).start()
    try {
      mem.addData(Seq(
        Event(1, ts("10:00"), 1, "signup", 1.0),
        Event(2, ts("10:05"), 1, "click", 2.0),
        Event(3, ts("10:00"), 2, "view", 9.0)))
      q.processAllAvailable()
      // batch 2: an OLDER change for user 1 (must only bump the count),
      // a delete marker for user 2
      mem.addData(Seq(
        Event(4, ts("09:00"), 1, "view", 0.5),
        Event(5, ts("10:30"), 2, "error", 0.0)))
      q.processAllAvailable()
      val latest = spark.table(name).as[Streams.CdcOut].collect()
        .groupBy(_.user_id).map { case (_, rs) => rs.maxBy(_.n_changes) }
      val u1 = latest.find(_.user_id == 1).get
      assert(u1.last_op == "click" && u1.last_value == 2.0 &&
        u1.n_changes == 3 && !u1.deleted)
      val u2 = latest.find(_.user_id == 2).get
      assert(u2.deleted && u2.n_changes == 2)
    } finally q.stop()
  }

  test("batch-equivalence: streamed sliding windows equal the oracle-checked " +
      "time_bucket_hopping result on the real corpus") {
    import org.apache.spark.sql.functions._
    // slidingCounts (window 1h hop 15min) and the batch hopping query
    // are the SAME operator in two execution models; their (start, n)
    // sets must agree exactly
    val beqSf = "/root/testdata/sf0.01"
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("ts"), col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-hop").toString
    events.coalesce(2).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val name = s"beq_hop_${System.nanoTime()}"
    val q = Streams.slidingCounts(spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name)
        .select(unix_timestamp(col("window_start")).as("ws"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val batch = graft.ops.ScalarQueries.timeBucketHopping(spark, beqSf)
        .select(col("ws_sec"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(streamed.nonEmpty && streamed == batch,
        s"hopping differs: ${streamed.length} vs ${batch.length} windows")
    } finally q.stop()
  }

  test("batch-equivalence: streamed TWAP's final row per user equals the " +
      "oracle-checked window_twap result on the real corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val beqSf = "/root/testdata/sf0.01"
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-twap").toString
    events.coalesce(2).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val name = s"beq_twap_${System.nanoTime()}"
    val q = Streams.twap(
        spark.readStream.schema(schema).parquet(srcDir).as[Event])
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name).as[Streams.TwapOut].collect()
        .groupBy(_.user_id).map { case (_, rs) => rs.maxBy(_.n_intervals) }
        .toSeq.sortBy(_.user_id)
      val batch = graft.ops.StatQueries.windowTwap(spark, beqSf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1)
      assert(streamed.nonEmpty && streamed.length == batch.length)
      streamed.zip(batch).foreach { case (s, (uid, n, held, twap)) =>
        assert(s.user_id == uid && s.n_intervals == n && s.held_sec == held,
          s"user $uid interval counts")
        // stream folds doubles; batch sums exact decimals — ulp slack
        assert(math.abs(s.twap - twap) < 1e-9, s"user $uid twap")
      }
    } finally q.stop()
  }

  test("batch-equivalence: streamed left-outer interval join finalizes to " +
      "the oracle-checked join_attribution_interval result on the real corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val beqSf = "/root/testdata/sf0.01"
    // the streaming join keys on event_type 'buy'; feed the corpus with
    // purchase→buy so both sides see the same input by construction
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("event_id"), col("ts"), col("user_id"),
        when(col("event_type") === "purchase", "buy")
          .otherwise(col("event_type")).as("event_type"),
        col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-loj").toString
    // chronological chunks (the landing-zone arrival pattern), then a
    // far-future sentinel pair: the left-outer join only finalizes an
    // unmatched buy once BOTH sides' watermarks pass its join window,
    // so the sentinel must advance view AND buy event time (global
    // watermark = min of the two) past corpus-max + 1 h window + 2 h
    // delay. The sentinel buy itself never finalizes (nothing passes
    // ITS horizon) — it stays in state, excluded by the user filter.
    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val chunked = events.withColumn("chunk", ntile(3).over(w)).cache()
    (1 to 3).foreach { c =>
      chunked.filter(col("chunk") === c).drop("chunk")
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val maxTs = chunked.agg(max("ts")).head.getTimestamp(0)
    chunked.unpersist()
    val sentTs = new java.sql.Timestamp(maxTs.getTime + 3L * 86400 * 1000)
    Seq((-1L, sentTs, -999L, "view", 0.0), (-2L, sentTs, -999L, "buy", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val name = s"beq_loj_${System.nanoTime()}"
    val q = Streams.viewToBuyJoin(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir),
        "left_outer")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      def key(r: Seq[Any]) = (r(0).asInstanceOf[Long],
        r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])
      // project the streamed rows into the batch query's exact shape
      // (µs epochs, −1 sentinels, decimal-rounded value)
      val streamed = spark.table(name)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("buy_id"),
          coalesce(col("view_id"), lit(-1L)).as("view_id"),
          unix_micros(col("buy_ts")).as("buy_us"),
          coalesce(unix_micros(col("view_ts")), lit(-1L)).as("view_us"),
          col("buy_value").cast("decimal(18,2)").cast("double"))
        .collect().map(_.toSeq).sortBy(key)
      val batch = graft.ops.RangeTfQueries
        .joinAttributionInterval(spark, beqSf)
        .collect().map(_.toSeq).sortBy(key)
      assert(streamed.nonEmpty && streamed.length == batch.length,
        s"row counts differ: streamed ${streamed.length} vs batch ${batch.length}")
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s == b, s"row differs: streamed $s vs batch $b")
      }
    } finally q.stop()
  }

  test("batch-equivalence: streamed changelog compaction converges to the " +
      "oracle-checked etl_cdc_compaction result on the real corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val beqSf = "/root/testdata/sf0.01" // the SF the driver grades
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-cdc").toString
    events.coalesce(2).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val name = s"beq_cdc_${System.nanoTime()}"
    val q = Streams.latestStateCompaction(
        spark.readStream.schema(schema).parquet(srcDir).as[Event])
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name).as[Streams.CdcOut].collect()
        .groupBy(_.user_id).map { case (_, rs) => rs.maxBy(_.n_changes) }
        .filter(!_.deleted)
        .map(c => (c.user_id, c.last_op, c.last_value, c.n_changes))
        .toSeq.sortBy(_._1)
      val batch = graft.ops.EtlQueries.etlCdcCompaction(spark, beqSf)
        .select(col("user_id"), col("last_op"), col("last_value"),
          col("n_changes"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
      assert(streamed.nonEmpty && streamed == batch,
        s"compaction differs: ${streamed.length} vs ${batch.length} rows")
    } finally q.stop()
  }
  test("batch-equivalence: streamed SPRT emits exactly the batch per-day " +
      "decision rows (cumulative-integer parity, closed days)") {
    import org.apache.spark.sql.functions._
    val beqSf = "/root/testdata/sf0.01"
    val events = graft.ops.Tables.events(spark, beqSf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-beq-sprt").toString
    // three ts-ordered chunks (the per-experiment ordering contract) →
    // three micro-batches; day boundaries land inside chunks AND at
    // chunk edges, so the rollover path is exercised across batches
    // FileStreamSource orders micro-batches by file modification time;
    // two appends landing in the same mtime granularity could reorder
    // chunks and break the per-experiment ordering contract (r9 advice)
    // — pin the order with explicit strictly-increasing mtimes
    val mtime0 = System.currentTimeMillis() - 3600000L
    Seq(("1900-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"),
        ("2024-01-21", "2100-01-01")).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        events.filter(col("ts") >= lit(lo).cast("timestamp") &&
            col("ts") < lit(hi).cast("timestamp"))
          .orderBy("ts", "event_id").coalesce(1)
          .write.mode("append").parquet(srcDir)
        // new part files carry a real (current) mtime, far above every
        // pinned chunk's mtime0 + j·60s — pin just those to chunk i's slot
        new java.io.File(srcDir).listFiles()
          .filter(f => f.getName.endsWith(".parquet") &&
            f.lastModified() > mtime0 + 2 * 60000L)
          .foreach(f => f.setLastModified(mtime0 + i * 60000L))
    }
    val schema = spark.read.parquet(srcDir).schema
    import spark.implicits._
    val name = s"beq_sprt_${System.nanoTime()}"
    val q = Streams.sprtSequential(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(srcDir).as[Streams.Event])
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))))
        .toMap
      val batch = SparkEntry.queries("stat_sprt_sequential")(spark, beqSf)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))))
        .toMap
      // the stream never finalizes the last open day — every CLOSED day
      // must match the batch row EXACTLY (same cumulative longs, same
      // one-double-tree llr, same decision)
      val lastDay = batch.keys.max
      assert(streamed.keySet == batch.keySet - lastDay,
        s"day coverage: ${streamed.keySet.size} streamed vs ${batch.size} batch")
      streamed.foreach { case (day, got) =>
        assert(got == batch(day), s"day $day: $got != ${batch(day)}")
      }
    } finally q.stop()
  }
}
