package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Schemas

/** XlsxSource against the golden fixture (1,200 rows × 20 cols;
  * [[GoldenFixture]]: the paper's upload, or its generated stand-in when
  * absent). The profile facts in FIXTURES.md §1 were measured on the
  * upload with the reference's own pandas reader; this pins our reader to
  * the same observations. */
class XlsxSourceSpec extends SparkTestBase {

  private val fixture = GoldenFixture.path

  private lazy val raw = spark.read.format("xlsx")
    .schema(Schemas.fixtureSchema).load(fixture)
    .cache()

  test("reads 1200 data rows with the declared schema") {
    val df = spark.read.format("xlsx").schema(Schemas.fixtureSchema).load(fixture)
    assert(df.count() == 1200)
  }

  test("sheet enumeration finds Planilha2") {
    val zip = new java.util.zip.ZipFile(fixture)
    try {
      val refs = graft.source.XlsxParser.sheetRefs(zip)
      assert(refs.map(_.name) == Seq("Planilha2"))
    } finally zip.close()
  }

  test("schema inference (no user schema) yields all-string header names") {
    val df = spark.read.format("xlsx").load(fixture)
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.schema.fieldNames.take(3).toSeq ==
      Seq("Nome/Razão Social", "Nome Fantasia", "CPF/CNPJ"))
    assert(df.schema.fieldNames.length == 20)
  }

  test("null counts match the pandas profile (FIXTURES.md)") {
    val counts = raw.select(
      sum(when(col("Nome Fantasia").isNull, 1).otherwise(0)).as("nf"),
      sum(when(col("`Data Nasc.`").isNull, 1).otherwise(0)).as("dn"),
      sum(when(col("Celulares").isNull, 1).otherwise(0)).as("cel"),
      sum(when(col("Telefones").isNull, 1).otherwise(0)).as("tel"),
      sum(when(col("Emails").isNull, 1).otherwise(0)).as("em")).collect()(0)
    assert(counts.getLong(0) == 1199, "Nome Fantasia nulls")
    assert(counts.getLong(1) == 479, "Data Nasc. nulls")
    assert(counts.getLong(2) == 135, "Celulares nulls")
    assert(counts.getLong(3) == 448, "Telefones nulls")
    assert(counts.getLong(4) == 33, "Emails nulls")
  }

  test("distinct counts match the pandas profile") {
    assert(raw.select(regexp_replace(col("CPF/CNPJ"), "[^0-9]", ""))
      .distinct().count() == 1198)
    assert(raw.select("Plano", "Plano Valor").distinct().count() == 16)
    assert(raw.select("UF").distinct().count() == 27)
    assert(raw.select("Vencimento").distinct().count() == 5)
  }

  test("date serials decode to the profiled ranges") {
    val r = raw.agg(
      min(col("`Data Nasc.`")), max(col("`Data Nasc.`")),
      min("Data Cadastro cliente"), max("Data Cadastro cliente")).collect()(0)
    assert(r.getDate(0).toString == "1901-06-29")
    assert(r.getDate(1).toString == "2095-04-11")
    assert(r.getTimestamp(2).toString.startsWith("2020-07-16"))
    assert(r.getTimestamp(3).toString.startsWith("2023-05-25"))
  }

  test("phones read as STRING have no float artifacts (quirk Q3 fixed at source)") {
    val bad = raw.filter(col("Celulares").contains(".") ||
      col("Celulares") === "nan").count()
    assert(bad == 0)
    val sample = raw.filter(col("Celulares").isNotNull)
      .select("Celulares").head().getString(0)
    assert(sample.forall(_.isDigit), s"non-digit phone: $sample")
  }

  test("decimal plan values keep 2-digit scale") {
    val v = raw.select(col("Plano Valor")).filter(col("Plano Valor").isNotNull)
      .agg(min("Plano Valor"), max("Plano Valor")).collect()(0)
    assert(v.getDecimal(0).toPlainString == "70.00")
    assert(v.getDecimal(1).toPlainString == "169.90")
  }

  test("a directory of xlsx files reads as one partition per file") {
    val dir = java.nio.file.Files.createTempDirectory("xlsx-multi").toFile
    (1 to 3).foreach { i =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(fixture),
        java.nio.file.Paths.get(dir.getAbsolutePath, s"part$i.xlsx"))
    }
    val df = spark.read.format("xlsx").schema(Schemas.fixtureSchema)
      .load(dir.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3600)
  }

  test("column pruning reaches the scan") {
    val df = spark.read.format("xlsx").schema(Schemas.fixtureSchema).load(fixture)
      .select("UF")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("columns=[UF]"), s"pruning missing in: $scan")
  }
}
