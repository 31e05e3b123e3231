package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  *
  *   Main --workload <etl_incremental|registry> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *
  * One client in a closed loop sends each import or query only after
  * the previous one returned. Set-up (Spark session, sink schema or
  * table warm-up) is repeated [[SetupReps]] times and reported as the
  * median; the first, cold one is also reported per layer. Every
  * operation's output is checked; a throw or a wrong answer counts as
  * failed and the run goes on. The last stdout line is the JSON result.
  */
object Main {
  val SetupReps = 3

  /** `queries` replaces the registry shard with named queries; the
    * benchmark's tests set it, the command line cannot. */
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: Path, queries: Option[Seq[String]] = None)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(m.getOrElse("work", ".bench_build/work")),
      Paths.get(m.getOrElse("data", "perfbench/data")))
  }

  /** A metric value and its unit. */
  final case class M(value: Double, unit: String)

  final case class Result(attempted: Int, failed: Int, metrics: Seq[(String, M)],
      notes: Seq[String]) {
    def json: String = {
      val ms = metrics.map { case (k, M(v, u)) =>
        val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
        s""""$k": {"value": $num, "unit": "$u"}"""
      }.mkString(", ")
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("calibrate")) return calibrate(argv.tail)
    // Spark's non-daemon threads must not outlive the run, so every way
    // out ends the JVM
    try {
      val a = parse(argv)
      Files.createDirectories(a.work)
      val result = run(a)
      result.notes.foreach(n => println(s"# $n"))
      println(result.json)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  /** `calibrate <work> <sfDir> <out.tsv>`: pins the registry manifest. */
  private def calibrate(args: Array[String]): Unit = {
    val spark = Session.start(Paths.get(args(0)))
    spark.sparkContext.setLogLevel("ERROR")
    Registry.calibrate(spark, args(1), Paths.get(args(2)))
    Session.stop(spark)
  }

  def run(a: Args, expect: Expectation = Expectation.Exact): Result = {
    val workload: Workload = a.workload match {
      case "etl_incremental" => new EtlIncremental(a, expect)
      case "registry" => new RegistryWorkload(a, expect)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val t00 = System.nanoTime()
    def since(t: Long) = f"${(System.nanoTime() - t) / 1e9}%.2f s"
    workload.prepareInputs()
    val inputsTook = since(t00)
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until SetupReps).foreach { i =>
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(a.work)
      spark.sparkContext.setLogLevel("ERROR")
      workload.setUp(spark, i)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val guard = new Guard(spark, a.work.resolve("spark-local"), Workload.ShuffleCapBytes)
    try {
      val t1 = System.nanoTime()
      val r0 = workload.measure(spark, guard)
      val r = r0.copy(notes = r0.notes ++ Seq(s"inputs generated in $inputsTook",
        "set-up repetitions " + setups.map(x => f"$x%.2f").mkString(", ") + " s",
        s"measurement took ${since(t1)}"))
      // the first set-up runs in a cold JVM, as every program start
      // does; setup_s is the median of all of them
      val common = if (a.trace) Seq("setup.cold_s" -> M(setups.head, "s"),
        "peak_rss_mb" -> M(Stats.peakRssMb(), "MB")) else Seq(
        "setup_s" -> M(Stats.median(setups.toSeq), "s"),
        "heap_live_mb" -> M(Stats.liveHeapMb(), "MB"))
      r.copy(metrics = common ++ r.metrics)
    } finally {
      guard.close()
      workload.close()
      Session.stop(spark)
    }
  }
}

/** How each operation's answer is judged. Tests swap in a wrong
  * expectation to show a mismatch is counted as a failure. */
trait Expectation {
  def etl(e: Etl.Import): Etl.Import = e
  def rows(name: String, pinned: Long): Long = pinned
}
object Expectation {
  object Exact extends Expectation
}
