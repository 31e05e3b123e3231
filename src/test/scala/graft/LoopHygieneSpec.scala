package graft

import graft.ops.{GraphQueries, PipelineCache}

/** Session hygiene of the convergence-loop queries: after a query is
  * consumed and [[PipelineCache.releaseAll]] runs, the session must be
  * as the query found it — no persisted RDD left behind by a loop
  * round, no `spark.sql.*` conf changed by the loop scope, no temp view
  * registered. */
class LoopHygieneSpec extends SessionHygiene {

  /** Every registered query that runs a convergence loop. */
  val LoopQueries: Seq[String] = Seq(
    "graph_bfs_converged", "graph_pagerank_converged", "graph_kcore",
    "graph_lpa_converged", "graph_scc_pivot", "graph_topo_layers",
    "graph_scc_full", "graph_condensation_dag",
    "dedup_cluster_converged", "dedup_cluster_labels", "dedup_cluster_sizes")

  for (name <- LoopQueries) {
    test(s"$name leaves no persisted RDD, sql conf or temp view behind") {
      PipelineCache.releaseAll()
      val rdds0 = persistedRdds()
      val confs0 = sqlConfs()
      val views0 = tempViews()
      Bench.consume(SparkEntry.queries(name)(spark, sfDir))
      PipelineCache.releaseAll()
      val leaked = persistedRdds() -- rdds0
      assert(leaked.isEmpty, "persisted RDDs left behind: " + describeRdds(leaked))
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
