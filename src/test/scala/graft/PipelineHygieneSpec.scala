package graft

import java.sql.DriverManager

import org.apache.spark.ListenerBusDrain

import graft.etl.{Pipeline, SchemaSetup}
import graft.ops.PipelineCache

/** Job count and session hygiene of one warm import: `Pipeline.run` of
  * the golden fixture into a `SchemaSetup` sink that already holds one
  * import. Each batch is FK-resolved once and its counts are one
  * aggregate, so the import runs at most 15 Spark jobs, and the one
  * frame `Summary.rejects` reads is all it leaves persisted — on
  * failure, not even that, and no job of it still runs. The loads run
  * two at a time; the jobs of both carry the caller's job group. */
class PipelineHygieneSpec extends SessionHygiene {

  private def provisioned(): String = {
    val url = s"jdbc:derby:/tmp/graft-derby-hygiene-${System.nanoTime()}"
    SchemaSetup(url)
    url
  }

  test("a warm import runs at most 16 Spark jobs and leaves one persisted frame") {
    val url = provisioned()
    Pipeline.run(spark, GoldenFixture.path, url)
    spark.catalog.clearCache()
    PipelineCache.releaseAll()
    val rdds0 = persistedRdds()
    val confs0 = sqlConfs()
    val views0 = tempViews()
    val (summary, jobs) = jobsOf(Pipeline.run(spark, GoldenFixture.path, url))
    try {
      // 15 since the contact count joined the counts aggregate; the name
      // keeps the earlier bound
      assert(jobs.size <= 15, s"${jobs.size} jobs:\n" + jobs.mkString("\n"))
      val added = persistedRdds() -- rdds0
      assert(added.size == 1, "persisted by the import: " + describeRdds(added))
      assert(rdds0.subsetOf(persistedRdds()))
      assert(sqlConfs() == confs0)
      assert(tempViews() == views0)
      // the kept frame serves the caller's reject reads
      assert(summary.rejects.count() == 0)
    } finally spark.catalog.clearCache()
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
