package perfbench

import perfbench.Main.M
import perfbench.Trace.{Counts, Span}

/** Per-layer metrics from a traced run. Every workload reports the same
  * names; a layer the workload never enters reads 0. Values are means
  * per traced operation (import or query) unless the name says
  * otherwise. */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "source.decode_s" -> "s", "source.rows" -> "rows",
    "source.rows_per_s" -> "rows/s", "source.task_s" -> "s",
    "clean.s" -> "s", "clean.rows_in" -> "rows", "clean.rows_out" -> "rows",
    "clean.survivor_ratio" -> "ratio", "clean.shuffle_write_bytes" -> "bytes",
    "load.upsertPlanos_s" -> "s", "load.upsertClientes_s" -> "s",
    "load.loadContratos_s" -> "s", "load.loadContatos_s" -> "s",
    "load.rows_written" -> "rows", "load.sink_rows_read" -> "rows",
    "load.sink_rows_read_per_input_row" -> "ratio", "load.jobs" -> "count",
    "load.task_s" -> "s",
    "pipeline.self_s" -> "s", "pipeline.sink_rows_read" -> "rows",
    "query.build_s" -> "s", "query.build_jobs" -> "count", "query.consume_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.core_busy_ratio" -> "ratio",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.gc_s" -> "s",
    "cache.persisted_rdds_delta" -> "count",
    "sink.dup_contact_rows" -> "rows",
    "trace.overhead_s" -> "s", "trace.ops" -> "count", "cold_op_s" -> "s",
  ) ++ Registry.Families.flatMap(f =>
    Seq(s"family.$f.build_s" -> "s", s"family.$f.task_s" -> "s"))

  private def out(values: Map[String, Double]): Seq[(String, M)] = {
    val unknown = values.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"undeclared metrics: $unknown")
    Units.map { case (n, u) => n -> M(values.getOrElse(n, 0.0), u) }
  }

  private def mean(xs: Seq[Double]): Double = Stats.mean(xs)

  /** Engine-level metrics over the operations' whole subtrees. */
  private def engine(t: Trace, roots: Seq[Span], cs: Map[Int, Counts]): Map[String, Double] = {
    val sub = roots.map(r => t.subtree(r.id, cs))
    def per(f: Counts => Double) = mean(sub.map(f))
    val wall = roots.map(_.seconds).sum
    Map(
      "catalyst.analysis_s" -> per(_.analysisMs / 1e3),
      "catalyst.optimization_s" -> per(_.optimizationMs / 1e3),
      "catalyst.planning_s" -> per(_.planningMs / 1e3),
      "exec.jobs" -> per(_.jobs.toDouble), "exec.stages" -> per(_.stages.toDouble),
      "exec.tasks" -> per(_.tasks.toDouble), "exec.task_s" -> per(_.taskMs / 1e3),
      "exec.core_busy_ratio" ->
        (if (wall > 0) sub.map(_.taskMs / 1e3).sum / (wall * Session.Cores) else 0.0),
      "exec.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "exec.spill_bytes" -> per(_.spill.toDouble), "exec.gc_s" -> per(_.gcMs / 1e3),
      "trace.ops" -> roots.size.toDouble)
  }

  /** `cold` is the first import in the JVM, untraced. */
  def etl(t: Trace, cold: Double, untraced: Seq[Double], traced: Seq[Double],
      persistedDelta: Seq[Double], dupContacts: Long): Seq[(String, M)] = {
    val cs = t.counts
    val roots = t.spans.filter(s => s.parent == -1 && s.name == "import").toSeq
    final case class Imp(decode: Span, mat: Span, loads: Seq[Span], finish: Span)
    val imps = roots.map { r =>
      val kids = t.spans.filter(_.parent == r.id)
      def kid(n: String) = kids.find(_.name == n).get
      Imp(kid("source.decode"), kid("clean.materialize"),
        kids.filter(_.name.startsWith("load.")).toSeq, kid("pipeline.finish"))
    }
    def per(f: Imp => Double) = mean(imps.map(f))
    def loadC(i: Imp) = i.loads.map(l => t.subtree(l.id, cs)).foldLeft(Counts())(_ + _)
    def loadS(i: Imp, n: String) = i.loads.find(_.name == n).map(_.seconds).getOrElse(0.0)
    val layerSum = imps.map(i => i.mat.seconds + i.loads.map(_.seconds).sum)
    val med = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else Stats.median(xs)
    out(engine(t, roots, cs) ++ Map(
      "source.decode_s" -> per(_.decode.seconds),
      "source.rows" -> per(_.decode.rows.toDouble),
      "source.rows_per_s" -> per(i => i.decode.rows / i.decode.seconds),
      "source.task_s" -> per(i => t.subtree(i.decode.id, cs).taskMs / 1e3),
      "clean.s" -> per(i => i.mat.seconds - i.decode.seconds),
      "clean.rows_in" -> per(_.decode.rows.toDouble),
      "clean.rows_out" -> per(_.mat.rows.toDouble),
      "clean.survivor_ratio" -> per(i => i.mat.rows.toDouble / i.decode.rows),
      "clean.shuffle_write_bytes" -> per(i => t.subtree(i.mat.id, cs).shuffleWrite.toDouble),
      "load.upsertPlanos_s" -> per(loadS(_, "load.upsertPlanos")),
      "load.upsertClientes_s" -> per(loadS(_, "load.upsertClientes")),
      "load.loadContratos_s" -> per(loadS(_, "load.loadContratos")),
      "load.loadContatos_s" -> per(loadS(_, "load.loadContatos")),
      "load.rows_written" -> per(loadC(_).rowsWritten.toDouble),
      "load.sink_rows_read" -> per(loadC(_).jdbcRowsRead.toDouble),
      "load.sink_rows_read_per_input_row" -> per(i => loadC(i).jdbcRowsRead.toDouble / i.decode.rows),
      "load.jobs" -> per(loadC(_).jobs.toDouble),
      "load.task_s" -> per(loadC(_).taskMs / 1e3),
      "pipeline.self_s" -> (med(untraced) - med(layerSum)),
      "pipeline.sink_rows_read" -> per(i => t.subtree(i.finish.id, cs).jdbcRowsRead.toDouble),
      "cache.persisted_rdds_delta" -> mean(persistedDelta),
      "sink.dup_contact_rows" -> dupContacts.toDouble,
      "cold_op_s" -> cold,
      "trace.overhead_s" -> (med(traced) - med(untraced))))
  }

  final case class QueryOp(opId: Int, name: String, persistedDelta: Int)

  /** `cold` is the estimated median query run cold, untraced. */
  def registry(t: Trace, cold: Double, ops: Seq[QueryOp], overhead: Seq[Double]): Seq[(String, M)] = {
    val cs = t.counts
    val byOp = ops.filter(_.opId >= 0).map(o => o.opId -> o).toMap
    val roots = t.spans.filter(s => s.parent == -1 && s.name == "query" && byOp.contains(s.op)).toSeq
    final case class Q(op: QueryOp, build: Span, consume: Option[Span], c: Counts)
    val qs = roots.map { r =>
      val kids = t.spans.filter(_.parent == r.id)
      Q(byOp(r.op), kids.find(_.name == "query.build").get,
        kids.find(_.name == "query.consume"), t.subtree(r.id, cs))
    }
    def per(f: Q => Double) = mean(qs.map(f))
    val fam = Registry.Families.flatMap { f =>
      val in = qs.filter(q => Registry.family(q.op.name) == f)
      Seq(s"family.$f.build_s" -> mean(in.map(_.build.seconds)),
        s"family.$f.task_s" -> mean(in.map(_.c.taskMs / 1e3)))
    }
    out(engine(t, roots, cs) ++ fam ++ Map(
      "query.build_s" -> per(_.build.seconds),
      "query.build_jobs" -> per(q => t.subtree(q.build.id, cs).jobs.toDouble),
      "query.consume_s" -> per(_.consume.map(_.seconds).getOrElse(0.0)),
      "cache.persisted_rdds_delta" -> per(_.op.persistedDelta.toDouble),
      "cold_op_s" -> cold,
      "trace.overhead_s" -> (if (overhead.isEmpty) 0.0 else Stats.median(overhead))))
  }
}
