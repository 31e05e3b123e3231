package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Accessors for two `private[sql]` members of the classic session.
  *
  * `Dataset.ofRows` wraps a raw Catalyst [[LogicalPlan]] into a
  * [[DataFrame]]; libraries that add custom logical operators (graft's
  * as-of join) need it. `cloneSession` gives a session with a copy of
  * the caller's confs, functions, extra optimizer rules and listeners;
  * the ETL runs its imports on one. Reaching either needs a file inside
  * the `org.apache.spark.sql` package tree — the standard idiom used by
  * Spark connector/extension libraries. This file and `bridge.scala`
  * are the only files of `src/main` outside the `graft` package, and
  * neither contains logic.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
