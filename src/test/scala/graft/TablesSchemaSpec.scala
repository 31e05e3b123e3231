package graft

import graft.ops.Tables

/** The declared corpus schemas in `Tables` are exactly what Spark infers
  * from each corpus's parquet footers, and reading through them starts
  * no Spark job. A corpus whose footers change fails here, instead of
  * being read through a stale declaration. */
class TablesSchemaSpec extends SessionHygiene {

  /** The three driver corpora beside `sfDir`, and the benchmark's copy. */
  private val corpora = {
    val driver = new java.io.File(sfDir).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$driver/$sf") :+ "perfbench/data/sf0.01"
  }
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("the declarations cover exactly the corpus tables") {
    assert(Tables.schemas.keySet == tables.toSet)
  }

  corpora.foreach { d =>
    test(s"$d: every table's inferred schema equals its declared schema") {
      tables.foreach { t =>
        val inferred = spark.read.parquet(s"$d/$t.parquet").schema
        assert(inferred == Tables.schemas(t), s"$d/$t.parquet")
      }
    }

    test(s"$d: reading all 10 tables through Tables.byName starts no Spark job") {
      val (_, jobs) = jobsOf(tables.foreach(t => Tables.byName(spark, d, t)))
      assert(jobs.isEmpty, jobs.mkString("\n"))
    }
  }

  test("the job listener sees a schema-inference job (control)") {
    val (_, jobs) = jobsOf(spark.read.parquet(s"$sfDir/region.parquet"))
    assert(jobs.nonEmpty)
  }
}
