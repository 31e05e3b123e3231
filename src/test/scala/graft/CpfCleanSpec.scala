package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Prop.forAll
import org.scalacheck.{Test => SCTest}

import graft.functions.CpfClean

class CpfCleanSpec extends SparkTestBase {

  test("optimizer rule collapses nested cpf_clean to one application") {
    import graft.functions.{CpfClean, CpfCleanIdempotence}
    import org.apache.spark.sql.functions.col
    // installed on a session of its own: the shared session's optimizer
    // must stay as every later suite expects it
    val rules0 = spark.sessionState.experimentalMethods.extraOptimizations
    val session = spark.newSession()
    CpfCleanIdempotence.install(session)
    // non-foldable source (a literal relation would be constant-folded
    // away before the rule's effect is observable)
    val df = ops.Tables.customer(session, sfDir)
      .select(CpfClean.cpfClean(CpfClean.cpfClean(col("c_name"))).as("c"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert("cpf_clean".r.findAllIn(optimized).length == 1, optimized)
    assert(df.limit(1).collect()(0).getString(0).forall(_.isDigit))
    assert(spark.sessionState.experimentalMethods.extraOptimizations == rules0)
  }

  private def ref(s: String): String = s.replaceAll("[^0-9]", "")

  private def check(p: org.scalacheck.Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default, p)
    assert(res.passed, res.status.toString)
  }

  test("clean matches regex reference on unicode strings") {
    check(forAll { (s: String) =>
      CpfClean.clean(UTF8String.fromString(s)).toString == ref(s)
    })
  }

  test("clean is idempotent") {
    check(forAll { (s: String) =>
      val once = CpfClean.clean(UTF8String.fromString(s))
      CpfClean.clean(once) == once
    })
  }

  test("fixture-shaped CPF formats") {
    for ((in, out) <- Seq(
        "591.267.843-19" -> "59126784319",
        "12.345.678/0001-95" -> "12345678000195",
        "" -> "",
        "ação-ñ" -> "")) {
      assert(CpfClean.clean(UTF8String.fromString(in)).toString == out)
    }
  }

  test("codegen and interpreted paths agree; null in → null out") {
    import spark.implicits._
    val df = Seq(Some("a1b2-c3"), Some("ç9ã8"), Some(""), None)
      .toDF("s")
    val got = df.select(CpfClean.cpfClean(col("s")).as("c"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("123"), Some("98"), Some(""), None))
    // whole-stage codegen actually compiles this expression (a local Seq
    // folds to LocalTableScan, so check the plan over a real file scan)
    val plan = graft.ops.Tables.customer(spark, sfDir)
      .select(CpfClean.cpfClean(col("c_name")))
      .queryExecution.executedPlan.toString
    // "*(1)" is how the one-line plan marks a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [cpf_clean"), plan)
  }
}
