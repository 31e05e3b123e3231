package perfbench

import java.nio.file.Path
import java.util.Properties

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.etl.{Clean, Load, Pipeline, Schemas}

/** The ETL as the benchmark drives it: `Pipeline.run` untraced, or the
  * same public calls in the same order with a span around each. */
object Etl {

  /** One import: the file, what the generator knows about it, and the
    * clientes count a correct import leaves in the sink. */
  final case class Import(path: Path, expected: XlsxCorpus.Expected,
      clientesAfter: Long)

  /** Checks a summary against the generator's counts; `None` when right. */
  def check(s: Pipeline.Summary, imp: Import): Option[String] = {
    val e = imp.expected
    val want = Seq("planos" -> XlsxCorpus.Plans.size.toLong,
      "clientes" -> imp.clientesAfter, "contratos" -> e.distinctCpfs.toLong,
      "contatos" -> e.contatos, "contratosRejeitados" -> 0L,
      "contatosRejeitados" -> 0L)
    val got = Seq(s.planos, s.clientes, s.contratos, s.contatos,
      s.contratosRejeitados, s.contatosRejeitados)
    val bad = want.zip(got).collect { case ((k, w), g) if w != g => s"$k=$g (want $w)" }
    if (bad.isEmpty) None else Some(bad.mkString(", "))
  }

  /** `Pipeline.run`'s calls, in its order, each inside a span of `t`.
    * Two calls are added so layers can be told apart: the decoded rows
    * are consumed once on their own (`source.decode`), and the cleaned
    * frame is materialized by a count right after it is persisted
    * (`clean.materialize`) instead of inside the first load. */
  def tracedImport(spark: SparkSession, t: Trace, path: String, url: String,
      props: Properties = new Properties): Pipeline.Summary = {
    val raw = t.span("source.decode") {
      val r = spark.read.format("xlsx").schema(Schemas.fixtureSchema).load(path)
      t.current.rows = Registry.consume(r) // checksum over every decoded column
      r
    }
    val clean = t.span("clean.materialize") {
      val c = Clean.dedupDeterministic(Clean.transform(raw))
        .persist(StorageLevel.MEMORY_AND_DISK)
      t.current.rows = c.count()
      c
    }
    val load = new Load(spark, url, props)
    t.span("load.upsertPlanos")(load.upsertPlanos(clean))
    t.span("load.upsertClientes")(load.upsertClientes(clean))
    val (nContratos, rejContratos0) = t.span("load.loadContratos")(load.loadContratos(clean))
    val (nContatos, rejContatos0) = t.span("load.loadContatos")(load.loadContatos(clean))
    t.span("pipeline.finish") {
      val rejContratos = rejContratos0.persist(StorageLevel.MEMORY_AND_DISK)
      val rejContatos = rejContatos0.persist(StorageLevel.MEMORY_AND_DISK)
      val planos = spark.read.jdbc(url, "tbl_planos", props).count()
      val clientes = spark.read.jdbc(url, "tbl_clientes", props).count()
      val summary = Pipeline.Summary(planos, clientes, nContratos, nContatos,
        rejContratos.count(), rejContatos.count(), rejContratos.union(rejContatos))
      clean.unpersist()
      summary
    }
  }

  /** One digest over the per-file digests, in generation order. */
  def digestOf(fileDigests: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    fileDigests.foreach(d => md.update(d.getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
