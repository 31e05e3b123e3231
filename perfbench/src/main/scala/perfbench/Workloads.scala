package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.etl.Pipeline
import perfbench.Main.{Args, M, Result}

/** A workload: inputs made from the seed, a set-up step that is timed,
  * and a closed-loop measurement. */
abstract class Workload(val a: Args, val expect: Expectation) {
  /** Generates the inputs (untimed, before set-up). */
  def prepareInputs(): Unit
  /** One repetition of the program's set-up, on a fresh session. */
  def setUp(spark: SparkSession, rep: Int): Unit
  def measure(spark: SparkSession, guard: Guard): Result
  def close(): Unit = ()

  protected val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  protected var attempted = 0
  protected var failed = 0

  protected def outcome(what: String, f: => Option[String]): Boolean = {
    attempted += 1
    val err = try f catch {
      case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[OutOfMemoryError] =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    err.foreach { e => failed += 1; notes += s"FAILED $what: $e" }
    err.isEmpty
  }

  /** Runs `op(i)` for i = from, from + 1, ... until `seconds` have
    * passed and at least `minOps` ran, or the hard cap is reached. */
  protected def loop(minOps: Int, from: Int = 0)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = from
    while ((i - from < minOps || elapsed < a.seconds) && elapsed < Workload.HardCapS) {
      op(i)
      i += 1
    }
  }

  protected def latency(p50: Double, p75: Double): Seq[(String, M)] =
    Seq("op_p50_s" -> M(p50, "s"), "op_p75_s" -> M(p75, "s"))

  /** Lets lazy work finish before a timed window: a full GC, then a wait
    * (at most `maxS`) until the JIT compilers have been idle for 300 ms,
    * so the window does not share the cores with a compile backlog. */
  protected def settle(maxS: Double = 5.0): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val end = System.nanoTime() + (maxS * 1e9).toLong
    var last = -1L
    while (System.nanoTime() < end && jit.getTotalCompilationTime != last) {
      last = jit.getTotalCompilationTime
      Thread.sleep(300)
    }
  }

  protected def result(metrics: Seq[(String, M)]): Result =
    Result(attempted, failed, metrics, notes.toSeq)

  protected def noteWalls(what: String, xs: Seq[Double]): Unit =
    notes += s"$what walls (s): " + xs.map(x => f"$x%.3f").mkString(" ")
}

object Workload {
  /** Shuffle and spill files allowed under the work directory at once. */
  val ShuffleCapBytes: Long = 4L << 30
  /** Time limit of one operation. */
  val OpLimitS = 100.0
  /** No measurement loop runs longer than this. */
  val HardCapS = 120.0
}

/** Paper-sized imports, one after another, into one sink preloaded with
  * earlier customers; about 10 % of each file's customers are returning
  * ones whose rows repeat their original values. */
final class EtlIncremental(a: Args, expect: Expectation) extends Workload(a, expect) {
  import EtlIncremental._
  private val inputs = a.work.resolve("inputs")
  private val sinks = a.work.resolve("sinks")
  private var sink: Sink = _
  private val digests = mutable.ArrayBuffer.empty[String]
  private val files = mutable.Map.empty[Int, (Path, XlsxCorpus.Expected)]

  /** The k-th import file; files past the pregenerated ones are made on
    * first use (untimed). */
  private def file(k: Int): (Path, XlsxCorpus.Expected) = files.getOrElseUpdate(k, {
    val r = new SplittableRandom(a.seed * 7 + k)
    val returning = mutable.LinkedHashSet.empty[Long]
    while (returning.size < Returning) returning += r.nextLong(Preload)
    val fresh = (0 until Rows - 2 - Returning).map(j => Preload + k.toLong * Rows + j)
    val ids = new scala.util.Random(a.seed * 13 + k).shuffle((returning.toSeq ++ fresh).toIndexedSeq)
    val rows = XlsxCorpus.fileRows(a.seed, k, ids, Rows)
    XlsxCorpus.selfCheck(rows)
    val p = inputs.resolve(f"import-$k%03d.xlsx")
    val d = XlsxCorpus.write(p, rows)
    if (k < Pregenerate) digests += d
    (p, XlsxCorpus.expected(rows, _ < Preload))
  })

  def prepareInputs(): Unit = {
    (0 until Pregenerate).foreach(file)
    val (_, e) = file(0)
    notes += s"etl_incremental: $Rows-row files, ${e.distinctCpfs} distinct CPFs, " +
      s"${e.distinctCpfs - e.newClientes} returning, preload $Preload customers"
    notes += s"inputs sha256 ${Etl.digestOf(digests.toSeq)} (first $Pregenerate files)"
  }

  /** Set-up is the sink's schema: `SchemaSetup` on a fresh database. */
  def setUp(spark: SparkSession, rep: Int): Unit = {
    val s = new Sink(sinks.resolve(s"setup-$rep"))
    s.provision()
    if (sink != null) sink.drop()
    sink = s
  }

  def measure(spark: SparkSession, guard: Guard): Result = {
    val t0 = System.nanoTime()
    sink.preload(a.seed, Preload)
    notes += f"preload of $Preload customers took ${(System.nanoTime() - t0) / 1e9}%.2f s"
    val trace = if (a.trace) Some(new Trace(spark)) else None
    var first = 0.0
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val persistedDelta = mutable.ArrayBuffer.empty[Double]
    def importOne(i: Int): Unit = {
      val (path, e) = file(i)
      val before = sink.count("SELECT COUNT(*) FROM tbl_clientes")
      val imp = expect.etl(Etl.Import(path, e, before + e.newClientes))
      // in a traced run, odd timed imports are traced and even ones are not
      val tracedOp = trace.isDefined && i > WarmUpImports && i % 2 == 1
      val persistedBefore = spark.sparkContext.getPersistentRDDs.size
      val t1 = System.nanoTime()
      val ok = outcome(s"import $i", guard.limit(Workload.OpLimitS) {
        val s = trace.filter(_ => tracedOp) match {
          case Some(t) => t.op("import", i)(Etl.tracedImport(spark, t, path.toString, sink.url))
          case None => Pipeline.run(spark, path.toString, sink.url)
        }
        Etl.check(s, imp)
      })
      val wall = (System.nanoTime() - t1) / 1e9
      persistedDelta += (spark.sparkContext.getPersistentRDDs.size - persistedBefore).toDouble
      // Pipeline.run leaves its reject frames persisted for the caller
      spark.catalog.clearCache()
      if (ok) {
        if (i == 0) first = wall
        else if (i > WarmUpImports) { if (tracedOp) traced += wall else untraced += wall }
      }
    }
    // the first import pays the JVM's cold start (reported per layer as
    // cold_op_s); the next few still run
    // on a warming JIT and are not timed; the window times the rest
    (0 to WarmUpImports).foreach(importOne)
    settle()
    loop(minOps = 3, from = WarmUpImports + 1)(importOne)
    noteWalls("cold import", Seq(first))
    noteWalls("warm import", untraced.toSeq)
    val dupContacts = sink.dupContactRows()
    notes += s"dup_contact_rows $dupContacts"
    trace match {
      case None =>
        val w = if (untraced.isEmpty) Seq(0.0) else untraced.toSeq
        result(latency(Stats.median(w), Stats.quantile(w, 0.75)))
      case Some(t) => result(Layers.etl(t, first, untraced.toSeq, traced.toSeq,
        persistedDelta.toSeq, dupContacts))
    }
  }

  override def close(): Unit = if (sink != null) sink.drop()
}

object EtlIncremental {
  val Rows = 1200
  val Returning = 120
  val Preload = 30000
  val Pregenerate = 8
  /** Untimed imports after the cold one, while the JIT still warms up. */
  val WarmUpImports = 3
}

/** A seeded shard of the registered queries: one cold pass, then warm
  * timed passes, at least one, each query built and consumed once per
  * pass. Latencies are reported as estimates for the whole registry
  * ([[Registry.Estimate]]). */
final class RegistryWorkload(a: Args, expect: Expectation) extends Workload(a, expect) {
  private val sfDir = a.data.resolve("sf0.01").toAbsolutePath.toString
  private var manifest: Seq[Registry.Pinned] = Nil
  private var queries: Seq[Registry.Pinned] = Nil

  def prepareInputs(): Unit = {
    manifest = Registry.readManifest(a.data.resolve("registry_sf0.01.tsv"))
    queries = a.queries.fold(Registry.shard(manifest, a.seed))(names =>
      names.map(n => manifest.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$n is not in the manifest"))))
    notes += s"registry shard of ${queries.size} queries: ${queries.map(_.name).mkString(",")}"
  }

  def setUp(spark: SparkSession, rep: Int): Unit = Registry.warmTables(spark, sfDir)

  def measure(spark: SparkSession, guard: Guard): Result = {
    val trace = if (a.trace) Some(new Trace(spark)) else None
    val sc = spark.sparkContext
    val warm = mutable.ArrayBuffer.empty[(Registry.Pinned, Double)]
    val tracedOps = mutable.ArrayBuffer.empty[Layers.QueryOp]
    val overhead = mutable.ArrayBuffer.empty[Double]

    /** Runs `q`, traced when `opId` >= 0 in a traced run. */
    def one(q: Registry.Pinned, opId: Int): Registry.Outcome = trace.filter(_ => opId >= 0) match {
      case None => Registry.run(spark, sfDir, q.name)
      case Some(t) =>
        var persisted = 0
        val o = t.op("query", opId) {
          val before = sc.getPersistentRDDs.size
          Registry.run(spark, sfDir, q.name, build = f => t.span("query.build")(f),
            consumeWrap = f => t.span("query.consume") {
              val n = f
              persisted = sc.getPersistentRDDs.size - before
              n
            })
        }
        tracedOps += Layers.QueryOp(opId, q.name, persisted)
        o
    }

    def checked(q: Registry.Pinned, opId: Int): Option[Double] = {
      var o: Registry.Outcome = null
      val ok = outcome(s"query ${q.name}", guard.limit(Workload.OpLimitS) {
        o = one(q, opId)
        o.error.orElse {
          val want = expect.rows(q.name, q.rows)
          if (o.rows != want) Some(s"rows=${o.rows} (want $want)") else None
        }
      })
      if (ok) Some(o.seconds) else None
    }

    // one untimed pass compiles and JITs the shard's code paths and
    // gives the cold query times; the window then times warm passes, as
    // a long-lived session serves them. A query pinned above
    // WarmUpSkipS runs once, in the first timed pass: compiling is a
    // small share of its cost, and repeating it would double the run.
    def light(q: Registry.Pinned) = q.refSeconds <= Registry.WarmUpSkipS
    val cold = queries.filter(light).flatMap(q => checked(q, -1).map(q -> _))
    settle()
    var opId = 0
    var pass = 0
    loop(minOps = 1) { _ =>
      queries.filter(q => pass == 0 || light(q)).foreach { q =>
        if (trace.isEmpty) checked(q, opId).foreach(x => warm += (q -> x))
        else {
          // a light query runs untraced and traced, in alternating
          // order, and gives an overhead sample; the untraced twin is
          // guarded and checked like any operation. A heavy one runs
          // traced only, so the run does not repeat it.
          val twin = light(q)
          val untracedFirst = opId % 2 == 0
          val u1 = if (twin && untracedFirst) checked(q, -1) else None
          val t = checked(q, opId)
          val u2 = if (twin && !untracedFirst) checked(q, -1) else None
          for (tt <- t; uu <- u1.orElse(u2)) overhead += tt - uu
        }
        opId += 1
      }
      pass += 1
    }

    noteWalls("cold query", cold.map(_._2))
    noteWalls("warm query", warm.map(_._2).toSeq)
    // a query's warm time is its median over the timed passes: how many
    // passes fit the window depends on the host's speed, and a fastest
    // of two reads lower than a single pass
    val perQuery = warm.groupMap(_._1)(_._2).view.mapValues(xs => Stats.median(xs.toSeq)).toSeq
    trace match {
      case None =>
        val e = Registry.Estimate(manifest)
        result(latency(e.p50(perQuery), e.p75(perQuery)))
      case Some(t) => result(Layers.registry(t, Registry.Estimate(manifest).p50(cold),
        tracedOps.toSeq, overhead.toSeq))
    }
  }
}
