package graft

import java.sql.DriverManager

import graft.etl.{Pipeline, SchemaSetup}
import graft.ops.PipelineCache

/** Job count and session hygiene of one warm import: `Pipeline.run` of
  * the golden fixture into a `SchemaSetup` sink that already holds one
  * import. Each batch is FK-resolved once, so the import runs at most
  * 16 Spark jobs, and the one frame `Summary.rejects` reads is all it
  * leaves persisted — on failure, not even that. */
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
      assert(jobs.size <= 16, s"${jobs.size} jobs:\n" + jobs.mkString("\n"))
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
    val leaked = persistedRdds() -- rdds0
    assert(leaked.isEmpty, "persisted RDDs left behind: " + describeRdds(leaked))
  }
}
