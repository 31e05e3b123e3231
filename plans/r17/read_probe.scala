// Read probe: the cost of one analyzed corpus read, with schema
// inference (`spark.read.parquet`) and through the declared schemas
// (`Tables.byName`), and the Spark jobs each starts.
// Usage (from the checkout root, after `sbt compile`; PROBE_SF names the
// corpus, by default the benchmark's byte-identical copy of sf0.01):
//   spark-shell --master 'local[4]' \
//     --driver-memory 3g --driver-class-path target/scala-2.13/classes \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.codegen.cache.maxEntries=10000 --conf spark.locality.wait=0 \
//     --conf spark.ui.enabled=false -i plans/r17/read_probe.scala
// Each round reads each of the 10 tables 20 times per way; one warm-up
// round is not reported. Prints per round and way: mean ms per read, jobs.
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
val d = sys.env.getOrElse("PROBE_SF", "perfbench/data/sf0.01")
val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
  "lineitem", "events", "documents", "embeddings")
val jobs = new AtomicInteger
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
})
def drain(): Unit = {
  val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
  bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
}
val ways: Seq[(String, String => Unit)] = Seq(
  "inferred" -> (t => spark.read.parquet(s"$d/$t.parquet").queryExecution.analyzed),
  "declared" -> (t => graft.ops.Tables.byName(spark, d, t).queryExecution.analyzed))
(0 to 3).foreach { round =>
  ways.foreach { case (way, read) =>
    drain(); jobs.set(0)
    val t0 = System.nanoTime()
    for (_ <- 1 to 20; t <- tables) read(t)
    val ms = (System.nanoTime() - t0) / 1e6 / (20 * tables.size)
    drain()
    if (round > 0) println(f"READ round=$round $way%-8s ms_per_read=$ms%.2f jobs=${jobs.get}")
  }
}
System.exit(0)
