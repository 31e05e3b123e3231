package graft

import java.sql.DriverManager

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.etl.{Pipeline, SchemaSetup}
import graft.ops.PipelineCache

/** Job count and session hygiene of one warm import: `Pipeline.run` of
  * the golden fixture into a `SchemaSetup` sink that already holds one
  * import. Each batch is FK-resolved once and its counts are one
  * aggregate, and the import runs on the caller's kept import session,
  * with adaptive execution off and the caller's confs otherwise, so it
  * runs at most 9 Spark jobs. The one frame `Summary.rejects` reads is
  * all it leaves persisted — on failure, not even that, and no job of it
  * still runs. The loads run two at a time; the jobs of both carry the
  * caller's job group. */
class PipelineHygieneSpec extends SessionHygiene {

  private def provisioned(): String = {
    val url = s"jdbc:derby:/tmp/graft-derby-hygiene-${System.nanoTime()}"
    SchemaSetup(url)
    url
  }

  test("a warm import runs at most 9 non-adaptive Spark jobs on a kept session") {
    val url = provisioned()
    val first = Pipeline.run(spark, GoldenFixture.path, url)
    spark.catalog.clearCache()
    PipelineCache.releaseAll()
    // a conf the caller changes between two imports reaches the second
    val width = "spark.sql.shuffle.partitions"
    val width0 = spark.conf.getOption(width)
    spark.conf.set(width, "3")
    try {
      val rdds0 = persistedRdds()
      val confs0 = sqlConfs()
      val views0 = tempViews()
      val (summary, events) = eventsOf(Pipeline.run(spark, GoldenFixture.path, url))
      try {
        val jobs = events.collect { case e: SparkListenerJobStart => describeJob(e) }
        assert(jobs.size <= 9, s"${jobs.size} jobs:\n" + jobs.mkString("\n"))
        val roots = events.collect { case e: SparkListenerSQLExecutionStart => e.sparkPlanInfo.nodeName }
        assert(roots.nonEmpty)
        assert(!roots.contains("AdaptiveSparkPlan"), "execution roots: " + roots.mkString(", "))
        // a stage with parent stages reads a shuffle; the widest has the caller's width
        val readWidths = events.collect {
          case e: SparkListenerStageSubmitted if e.stageInfo.parentIds.nonEmpty => e.stageInfo.numTasks
        }
        assert(readWidths.nonEmpty && readWidths.max == 3, "shuffle-read stage widths: " + readWidths)
        val session = summary.rejects.sparkSession
        assert(session ne spark)
        assert(session eq first.rejects.sparkSession, "each import made its own session")
        val added = persistedRdds() -- rdds0
        assert(added.size == 1, "persisted by the import: " + describeRdds(added))
        assert(rdds0.subsetOf(persistedRdds()))
        assert(sqlConfs() == confs0)
        assert(tempViews() == views0)
        // the kept frame serves the caller's reject reads
        assert(summary.rejects.count() == 0)
      } finally spark.catalog.clearCache()
    } finally width0.fold(spark.conf.unset(width))(spark.conf.set(width, _))
  }

  test("a failed import leaves no persisted RDD behind") {
    val url = provisioned()
    // a dropped table would be re-created by the append; one without the
    // contact columns makes the last load throw
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("DROP TABLE tbl_cliente_contatos")
      st.executeUpdate("CREATE TABLE tbl_cliente_contatos (id INT)")
    } finally conn.close()
    PipelineCache.releaseAll()
    val rdds0 = persistedRdds()
    intercept[Exception](Pipeline.run(spark, GoldenFixture.path, url))
    // the status tracker learns of a job's end through the listener bus
    ListenerBusDrain(spark.sparkContext)
    val running = spark.sparkContext.statusTracker.getActiveJobIds()
    assert(running.isEmpty, "jobs still running: " + running.mkString(", "))
    val leaked = persistedRdds() -- rdds0
    assert(leaked.isEmpty, "persisted RDDs left behind: " + describeRdds(leaked))
  }

  test("the caller's job group is on every job of an import, so cancelJobGroup reaches them") {
    val url = provisioned()
    val sc = spark.sparkContext
    val group = s"graft-import-${System.nanoTime()}"
    val (_, starts) = jobStartsOf {
      sc.setJobGroup(group, "golden import")
      try Pipeline.run(spark, GoldenFixture.path, url)
      finally {
        sc.clearJobGroup()
        spark.catalog.clearCache()
      }
    }
    assert(starts.nonEmpty)
    val outside = starts.filterNot(e =>
      Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
    assert(outside.isEmpty, "jobs outside the group: " + outside.map(_.jobId).mkString(", "))
  }
}
