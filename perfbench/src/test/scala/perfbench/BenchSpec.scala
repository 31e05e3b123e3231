package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.{col, regexp_replace}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Pipeline, Schemas}
import perfbench.Main.Args

/** Small runs of every workload, the output contract against
  * BENCHMARK.json, failure counting, and the traced ETL sequence
  * against `Pipeline.run`. */
class BenchSpec extends AnyFunSuite {

  private val root = Paths.get("..").toAbsolutePath.normalize
  private val data = root.resolve("perfbench/data")
  private val spec: JsonNode = new ObjectMapper().readTree(root.resolve("BENCHMARK.json").toFile)

  private def declared(key: String): Map[String, String] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap

  private def work(name: String): Path = {
    val p = root.resolve(".bench_build/test-work").resolve(name)
    Sink.deleteTree(p)
    Files.createDirectories(p)
  }

  private def args(workload: String, trace: Boolean, queries: Option[Seq[String]] = None) =
    Args(workload, seed = 7, seconds = 0, trace = trace, work = work(s"$workload-$trace"),
      data = data, queries = queries)

  private val fewQueries = Some(Seq("agg_cube", "text_bigram_freq"))

  private def names(r: Main.Result): Map[String, String] =
    r.metrics.map { case (n, m) => n -> m.unit }.toMap

  test("the paper-sized file self-checks: 1,198 distinct CPFs, 16 (Plano, valor) pairs") {
    val rows = XlsxCorpus.fileRows(7, 0, (0L until 1198L).toIndexedSeq, 1200)
    XlsxCorpus.selfCheck(rows)
    val dir = work("selfcheck")
    val d1 = XlsxCorpus.write(dir.resolve("a.xlsx"), rows)
    val d2 = XlsxCorpus.write(dir.resolve("b.xlsx"), XlsxCorpus.fileRows(7, 0, (0L until 1198L).toIndexedSeq, 1200))
    assert(d1 == d2, "same seed, same bytes")
    val spark = Session.start(work("selfcheck-spark"))
    try {
      val df = spark.read.format("xlsx").schema(Schemas.fixtureSchema).load(dir.resolve("a.xlsx").toString)
      assert(df.count() == 1200)
      assert(df.select(regexp_replace(col("`CPF/CNPJ`"), "[^0-9]", "")).distinct().count() == 1198)
      assert(df.select("Plano", "`Plano Valor`").distinct().count() == 16)
    } finally Session.stop(spark)
  }

  for (w <- Seq("etl_incremental", "registry")) {
    test(s"$w: a small untraced run names every end-to-end metric with its unit") {
      val r = Main.run(args(w, trace = false, if (w == "registry") fewQueries else None))
      assert(r.failed == 0, r.notes.mkString("\n"))
      assert(r.attempted >= 1)
      assert(names(r) == declared("end_to_end"))
      assert(r.metrics.forall(_._2.value > 0), r.metrics.mkString(", "))
    }
    test(s"$w: a small traced run names every per-layer metric with its unit") {
      val r = Main.run(args(w, trace = true, if (w == "registry") fewQueries else None))
      assert(r.failed == 0, r.notes.mkString("\n"))
      // the cold pass, then each query traced and its untraced twin,
      // every one of them checked and counted
      if (w == "registry") assert(r.attempted == 6, r.notes.mkString("\n"))
      assert(names(r) == declared("per_layer"))
    }
  }

  test("a wrong expectation is counted as a failed operation, and the run goes on") {
    val wrongEtl = new Expectation {
      override def etl(e: Etl.Import): Etl.Import =
        e.copy(expected = e.expected.copy(contatos = e.expected.contatos + 1))
    }
    val r = Main.run(args("etl_incremental", trace = false), wrongEtl)
    assert(r.attempted >= 3 && r.failed == r.attempted)
    val wrongRows = new Expectation {
      override def rows(name: String, pinned: Long): Long =
        if (name == "agg_cube") pinned + 1 else pinned
    }
    val q = Main.run(args("registry", trace = false, fewQueries), wrongRows)
    // agg_cube and text_bigram_freq, in the cold pass and one timed pass
    assert(q.failed == 2 && q.attempted == 4, q.notes.mkString("\n"))
  }

  test("the traced ETL call sequence gives the same Summary as Pipeline.run") {
    val dir = work("same-summary")
    val file = dir.resolve("in.xlsx")
    XlsxCorpus.write(file, XlsxCorpus.fileRows(11, 0, (0L until 1198L).toIndexedSeq, 1200))
    val spark = Session.start(dir)
    try {
      val a = new Sink(dir.resolve("a")); a.provision()
      val b = new Sink(dir.resolve("b")); b.provision()
      val plain = Pipeline.run(spark, file.toString, a.url)
      val t = new Trace(spark)
      val traced = t.op("import", 0)(Etl.tracedImport(spark, t, file.toString, b.url))
      def counts(s: Pipeline.Summary) = (s.planos, s.clientes, s.contratos, s.contatos,
        s.contratosRejeitados, s.contatosRejeitados)
      assert(counts(plain) == counts(traced))
      for (tbl <- Seq("tbl_planos", "tbl_clientes", "tbl_cliente_contratos", "tbl_cliente_contatos"))
        assert(a.count(s"SELECT COUNT(*) FROM $tbl") == b.count(s"SELECT COUNT(*) FROM $tbl"), tbl)
      assert(t.spans.map(_.name).distinct.toSet == Set("import", "source.decode",
        "clean.materialize", "load.upsertPlanos", "load.upsertClientes",
        "load.loadContratos", "load.loadContatos", "pipeline.finish"))
      a.drop(); b.drop()
    } finally Session.stop(spark)
  }
}
