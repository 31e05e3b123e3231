package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}

import graft.SparkEntry
import graft.ops.{PipelineCache, Tables}

/** The query registry (`SparkEntry.queries`) as a workload: each query
  * is built, then consumed through the same content checksum the
  * program's Bench uses, with its row count taken in the same pass. */
object Registry {

  val CorpusTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Families reported per layer (the name prefix before the first `_`). */
  val Families: Seq[String] = Seq("graph", "dedup", "sim", "agg", "stat", "text")

  def family(name: String): String = name.takeWhile(_ != '_')

  /** Pinned cost above which a query skips the untimed warm-up pass. */
  val WarmUpSkipS = 10.0

  /** Number of shards the registry is dealt into; a run measures one. */
  val Shards = 20

  /** The seed's shard. Queries are sorted by their pinned cost and dealt
    * round-robin, so every shard holds the same mix of cheap and dear
    * queries, and the shards together hold every registered query. */
  def shard(all: Seq[Pinned], seed: Long): Seq[Pinned] = {
    val k = Math.floorMod(seed, Shards.toLong).toInt
    all.sortBy(p => (-p.refSeconds, p.name)).zipWithIndex
      .collect { case (p, i) if i % Shards == k => p }
      .sortBy(_.name)
  }

  /** Registry-wide latency from one shard's measurements: a pinned
    * quantile of all queries, times the geometric mean of measured over
    * pinned time across the shard's queries. Shards hold different
    * queries, but each query's ratio to its own pinned time does not
    * depend on which shard it is in, so every seed estimates the same
    * quantity. The p75 estimate takes the ratio over the queries pinned
    * at or above the median, the half that sets the tail. */
  final case class Estimate(all: Seq[Pinned]) {
    private val ref = all.map(_.refSeconds)
    private val refP50 = Stats.median(ref)
    private val refP75 = Stats.quantile(ref, 0.75)

    private def ratio(xs: Seq[(Pinned, Double)]): Double =
      if (xs.isEmpty) 0.0
      else math.exp(Stats.mean(xs.map { case (q, t) => math.log(t / q.refSeconds) }))

    def p50(xs: Seq[(Pinned, Double)]): Double = refP50 * ratio(xs)

    def p75(xs: Seq[(Pinned, Double)]): Double = {
      val slow = xs.filter(_._1.refSeconds >= refP50)
      refP75 * ratio(if (slow.isEmpty) xs else slow)
    }
  }

  /** One pinned manifest line: the row count a correct run returns at
    * the pinned scale, and its warm wall seconds when pinned (to deal
    * queries into balanced shards, and as the base of [[Estimate]]). */
  final case class Pinned(name: String, rows: Long, refSeconds: Double)

  def readManifest(p: Path): Seq[Pinned] =
    Files.readAllLines(p, UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        Pinned(f(0), f(1).toLong, f(2).toDouble)
      }

  /** Checksum + row count in one pass over every output column. */
  def consume(df: DataFrame): Long =
    df.agg(bit_xor(xxhash64(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))),
      count(lit(1))).collect()(0).getLong(1)

  /** Reads every corpus table once through the accessor the queries
    * use, so no timed query pays first-touch footer and page reads. */
  def warmTables(spark: SparkSession, sfDir: String): Unit =
    CorpusTables.foreach(t => consume(Tables.byName(spark, sfDir, t)))

  final case class Outcome(name: String, buildS: Double, consumeS: Double,
      rows: Long, error: Option[String]) {
    def seconds: Double = buildS + consumeS
  }

  /** Builds and consumes one query; `build`/`consume` wrap each half
    * (spans, in a traced run). The shared-base cache is released after
    * the query, outside the timing. */
  def run(spark: SparkSession, sfDir: String, name: String,
      build: (=> DataFrame) => DataFrame = f => f,
      consumeWrap: (=> Long) => Long = f => f): Outcome = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = build(fn(spark, sfDir))
      t1 = System.nanoTime()
      val rows = consumeWrap(consume(df))
      val t2 = System.nanoTime()
      Outcome(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, None)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[OutOfMemoryError] =>
        val t2 = System.nanoTime()
        if (t1 == t0) t1 = t2
        Outcome(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, -1L,
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"))
    } finally PipelineCache.releaseAll()
  }

  /** Runs every registered query twice in sorted order and writes the
    * manifest: name, rows (both sweeps must agree), and the second,
    * warm sweep's seconds. Used to pin the manifest. */
  def calibrate(spark: SparkSession, sfDir: String, out: Path): Unit = {
    warmTables(spark, sfDir)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val cold = names.map(n => run(spark, sfDir, n))
    val lines = names.zip(cold).map { case (n, c) =>
      val o = run(spark, sfDir, n)
      val rows = if (o.rows == c.rows) o.rows else -1L
      System.err.println(f"[calibrate] $n%-40s ${o.seconds}%8.3f s rows=${o.rows}/${c.rows} ${o.error.getOrElse("")}")
      f"$n\t$rows\t${o.seconds}%.3f"
    }
    Files.write(out, (("# name\trows\twarm_seconds" +: lines).mkString("\n") + "\n").getBytes(UTF_8))
  }
}
