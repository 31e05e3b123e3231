// Build sweep: builds every registry query once, with no consume, and
// counts the Spark jobs each build starts, split by call site.
// Usage (from the checkout root, after `sbt compile`; SWEEP_SF names the
// corpus, by default the benchmark's byte-identical copy of sf0.01):
//   SWEEP_OUT=plans/r17/build_jobs_after.tsv \
//   spark-shell --master 'local[4]' --driver-memory 3g \
//     --driver-class-path target/scala-2.13/classes \
//     --conf spark.sql.shuffle.partitions=4 \
//     --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.codegen.cache.maxEntries=10000 \
//     --conf spark.locality.wait=0 \
//     --conf spark.ui.enabled=false -i plans/r17/build_sweep.scala
// Queries build in name order in one session; as in the `registry`
// benchmark workload, PipelineCache is released after each query.
// Output: one line per query (name, jobs, jobs whose call site is in
// Tables.scala, build ms), then a `#` line per call site with its count.
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
val d = sys.env.getOrElse("SWEEP_SF", "perfbench/data/sf0.01")
val out = sys.env.getOrElse("SWEEP_OUT", "build_jobs.tsv")
val sites = new ConcurrentLinkedQueue[String]
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    sites.add(e.stageInfos.maxBy(_.stageId).name) // the result stage: the job's call site
})
def drain(): Unit = {
  val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
  bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
}
val all = scala.collection.mutable.ArrayBuffer.empty[String]
val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
  drain(); sites.clear()
  val t0 = System.nanoTime()
  val err = try { fn(spark, d); "" } catch { case e: Throwable => "\t" + e.getClass.getSimpleName }
  val ms = (System.nanoTime() - t0) / 1e6
  drain()
  graft.ops.PipelineCache.releaseAll()
  val s = sites.asScala.toSeq
  all ++= s
  f"$q\t${s.size}\t${s.count(_.contains("Tables.scala"))}\t$ms%.0f$err"
}
val bySite = all.groupBy(identity).toSeq.map { case (k, v) => (k, v.size) }.sortBy(-_._2)
val total = f"# total\t${all.size}\t${all.count(_.contains("Tables.scala"))}\t" +
  f"${lines.map(_.split("\t")(3).toDouble).sum}%.0f"
java.nio.file.Files.write(java.nio.file.Paths.get(out),
  ((lines :+ total) ++ bySite.map { case (k, n) => s"# $n\t$k" }).asJava)
println(total)
System.exit(0)
