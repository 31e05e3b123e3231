package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-cut policy for the iterative/convergence loops (connected
  * components, SCC, PageRank, k-core, label propagation, …).
  *
  * Every loop in this engine checkpoints each round's frame so round
  * N+1's plan references a materialized round N instead of an
  * ever-deepening lineage (without the cut, Catalyst re-analyzes a
  * plan that doubles per round and executors recompute the whole
  * history on any retry). Two cut mechanisms exist, and WHERE the cut
  * persists is a deployment decision, not a per-query one:
  *
  *   - `localCheckpoint` (the default): blocks cached on executors,
  *     lineage truncated but NOT fault-tolerant — an executor loss
  *     makes the blocks unrecoverable and, because lineage was
  *     truncated, the JOB fails rather than recomputes. Correct for
  *     local[N] (executor == driver == the process whose loss ends the
  *     run anyway) and measurably cheaper: no replication, no
  *     filesystem round-trip per round.
  *   - reliable `checkpoint` into a checkpoint DIRECTORY: blocks
  *     written to a (typically distributed) filesystem; an executor
  *     loss at cluster scale recovers by re-reading, which is what a
  *     1000-executor run of a 40-round SCC decomposition needs — the
  *     probability of losing SOME executor across the loop approaches
  *     1, and restart-the-query is not a recovery strategy at that
  *     scale (r13 verdict #4).
  *
  * The gate: set `spark.graft.checkpointDir` (session conf; or the
  * `SPARK_GRAFT_CHECKPOINT_DIR` environment variable as the
  * deployment-level default) to a directory and every loop cut in the
  * engine becomes a reliable checkpoint into it; leave it unset and
  * the loops keep the local[N]-appropriate `localCheckpoint`. Both
  * modes produce identical fixpoints — pinned by
  * `CheckpointModeSpec` — because a checkpoint only changes WHERE a
  * round's frame is materialized, never its rows.
  */
object Checkpoints {
  val ConfKey = "spark.graft.checkpointDir"
  val EnvVar = "SPARK_GRAFT_CHECKPOINT_DIR"

  private def reliableDir(df: DataFrame): Option[String] = {
    val v = df.sparkSession.conf.get(ConfKey, sys.env.getOrElse(EnvVar, ""))
    if (v.nonEmpty) Some(v) else None
  }

  /** `df.localCheckpoint(eager)` or, when the reliable gate is set,
    * `df.checkpoint(eager)` into the configured directory. The
    * SparkContext checkpoint dir is set on first use only (Spark
    * appends a per-call UUID subdirectory — re-setting per cut would
    * scatter rounds across directories for no benefit). */
  implicit class LineageCut(private val df: DataFrame) extends AnyVal {
    def cutLineage(eager: Boolean = true): DataFrame =
      reliableDir(df) match {
        case Some(dir) =>
          val sc = df.sparkSession.sparkContext
          if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
          df.checkpoint(eager)
        case None => df.localCheckpoint(eager)
      }

    /** Frees the blocks pinned by the cut frames `df` reads directly (a
      * cut frame, or a projection/join over cut frames). These belong
      * to the RDD under each frame's LogicalRDD, which
      * `Dataset.unpersist` never reaches. A local checkpoint has no
      * lineage to recompute from, so release a frame only once nothing
      * will read it again: a loop releases round N after round N+1 has
      * materialized, and a frame the returned query still reads goes to
      * [[PipelineCache.register]], whose `releaseAll` calls this. Spark
      * logs a WARN for each released local checkpoint saying exactly
      * that; here it is expected. */
    def releaseCut(): Unit = df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}
