package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: local[4], the program's Bench
  * settings, and every file Spark writes kept under the work directory
  * (shuffle and spill on disk there, never on tmpfs). */
object Session {
  val Cores = 4

  def start(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.locality.wait", "0")
      .config("spark.local.dir", local.toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Cancels the running jobs when an operation overruns its time limit
  * or the shuffle/spill files under the work directory pass a size cap,
  * so a blow-up fails that one operation instead of exhausting the
  * machine. Polls once a second from a daemon thread. */
final class Guard(spark: SparkSession, localDir: Path, capBytes: Long) {
  @volatile private var deadlineNs = Long.MaxValue
  @volatile private var tripped: Option[String] = None
  private val stopped = new AtomicBoolean(false)

  private val thread = new Thread(() => {
    while (!stopped.get()) {
      try {
        Thread.sleep(1000)
        if (deadlineNs != Long.MaxValue) {
          val why =
            if (System.nanoTime() > deadlineNs) Some("operation time limit")
            else if (dirBytes(localDir) > capBytes) Some(s"shuffle files over ${capBytes >> 20} MB")
            else None
          why.foreach { w =>
            tripped = Some(w)
            deadlineNs = Long.MaxValue
            spark.sparkContext.cancelAllJobs()
          }
        }
      } catch { case _: InterruptedException => () ; case _: Exception => () }
    }
  }, "perfbench-guard")
  thread.setDaemon(true)
  thread.start()

  /** Runs `f` under a time limit; returns its result or the reason the
    * guard cancelled it (as an exception). */
  def limit[T](seconds: Double)(f: => T): T = {
    tripped = None
    deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
    try {
      val r = f
      tripped.foreach(w => throw new IllegalStateException(s"cancelled: $w"))
      r
    } catch {
      case e: Exception if tripped.isDefined =>
        throw new IllegalStateException(s"cancelled: ${tripped.get}", e)
    } finally deadlineNs = Long.MaxValue
  }

  def close(): Unit = { stopped.set(true); thread.interrupt(); thread.join() }

  private def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f =>
      try Files.size(f) catch { case _: java.io.IOException => 0L }).sum()
    finally s.close()
  }
}
