package graft

import graft.ops.{GraphQueries, PipelineCache}

/** Session hygiene of the convergence-loop queries: after a query is
  * consumed and [[PipelineCache.releaseAll]] runs, the session must be
  * as the query found it — no persisted RDD left behind by a loop
  * round, no `spark.sql.*` conf changed by the loop scope, no temp view
  * registered. A leak here is invisible to answer checks but grows a
  * long-lived session (the bench sweeps, a notebook) query by query. */
class LoopHygieneSpec extends SparkTestBase {

  /** Every registered query that runs a convergence loop. */
  val LoopQueries: Seq[String] = Seq(
    "graph_bfs_converged", "graph_pagerank_converged", "graph_kcore",
    "graph_lpa_converged", "graph_scc_pivot", "graph_topo_layers",
    "graph_scc_full", "graph_condensation_dag",
    "dedup_cluster_converged", "dedup_cluster_labels", "dedup_cluster_sizes")

  /** Persisted RDD ids, read WITHOUT a GC first. The context tracks
    * persisted RDDs through weak references, so a collection would drop
    * pins that are merely unreachable — but their blocks stay resident
    * until some later GC lets the cleaner run, and in a large heap that
    * can be never within a session. Every pin a query makes must be
    * freed explicitly, by its loop or by `releaseAll`. */
  private def persistedRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sqlConfs(): Map[String, String] =
    spark.conf.getAll.filter(_._1.startsWith("spark.sql."))

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  for (name <- LoopQueries) {
    test(s"$name leaves no persisted RDD, sql conf or temp view behind") {
      PipelineCache.releaseAll()
      val rdds0 = persistedRdds()
      val confs0 = sqlConfs()
      val views0 = tempViews()
      Bench.consume(SparkEntry.queries(name)(spark, sfDir))
      PipelineCache.releaseAll()
      val leaked = persistedRdds() -- rdds0
      assert(leaked.isEmpty, "persisted RDDs left behind: " +
        leaked.toSeq.sorted.flatMap(spark.sparkContext.getPersistentRDDs.get).mkString("; "))
      assert(sqlConfs() == confs0)
      assert(tempViews() == views0)
    }
  }

  test("the loop scope restores confs that were unset at entry as unset") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getAll.get(k))
    try {
      keys.foreach(spark.conf.unset)
      GraphQueries.withLoopExec(spark, stateRows = 10L) {
        assert(spark.conf.get(keys.head) == "false")
        assert(spark.conf.get(keys(1)) == "4")
      }
      keys.foreach(k => assert(!spark.conf.getAll.contains(k), k))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
