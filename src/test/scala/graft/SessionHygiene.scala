package graft

/** What a query or import must leave as it found it in the shared
  * session: the persisted RDDs, the `spark.sql.*` confs and the temp
  * views. A leak here is invisible to answer checks but grows a
  * long-lived session (the bench sweeps, a notebook) run by run. */
trait SessionHygiene extends SparkTestBase {

  /** Persisted RDD ids, read WITHOUT a GC first. The context tracks
    * persisted RDDs through weak references, so a collection would drop
    * pins that are merely unreachable — but their blocks stay resident
    * until some later GC lets the cleaner run, and in a large heap that
    * can be never within a session. Every pin must be freed explicitly. */
  protected def persistedRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  protected def describeRdds(ids: Set[Int]): String =
    ids.toSeq.sorted.flatMap(spark.sparkContext.getPersistentRDDs.get).mkString("; ")

  protected def sqlConfs(): Map[String, String] =
    spark.conf.getAll.filter(_._1.startsWith("spark.sql."))

  protected def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
}
