package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkFirehoseListener}
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** What a query or import must leave as it found it in the shared
  * session: the persisted RDDs, the `spark.sql.*` confs and the temp
  * views — and which Spark jobs it started on the way. A leak here is
  * invisible to answer checks but grows a long-lived session (the bench
  * sweeps, a notebook) run by run. */
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

  protected def sqlConfs(session: SparkSession = spark): Map[String, String] =
    session.conf.getAll.filter(_._1.startsWith("spark.sql."))

  protected def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Runs `f` and returns its result with one line per Spark job it
    * started, in start order: the job's description or call site. */
  protected def jobsOf[T](f: => T): (T, Seq[String]) = {
    val (r, starts) = jobStartsOf(f)
    (r, starts.map(describeJob))
  }

  protected def describeJob(e: SparkListenerJobStart): String =
    Seq("spark.job.description", "callSite.short")
      .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))))
      .headOption.getOrElse(s"job ${e.jobId}")

  /** Runs `f` and returns its result with the start event of every Spark
    * job it started, from any thread, in start order. */
  protected def jobStartsOf[T](f: => T): (T, Seq[SparkListenerJobStart]) = {
    val (r, events) = eventsOf(f)
    (r, events.collect { case e: SparkListenerJobStart => e })
  }

  /** Runs `f` and returns its result with every listener event posted
    * while it ran, from any thread, in posting order. */
  protected def eventsOf[T](f: => T): (T, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[SparkListenerEvent]
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = events.add(e)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      ListenerBusDrain(sc)
      (r, events.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
