package graft

import java.sql.DriverManager

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}

import graft.etl.Load
import graft.streaming.JdbcUpsertSink

/** The batch load and the streaming sink share one insert-if-absent
  * core, so they keep the same row for a key that arrives with several
  * values: the lowest non-null one. */
class InsertIfAbsentSpec extends SparkTestBase {

  private def provisioned(tag: String): String = {
    val url = s"jdbc:derby:/tmp/graft-derby-pick-$tag-${System.nanoTime()};create=true"
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(
      """CREATE TABLE tbl_planos (
        |  id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
        |  descricao VARCHAR(255) NOT NULL UNIQUE, valor DECIMAL(15,2))""".stripMargin)
    finally conn.close()
    url
  }

  private def planos(url: String): Seq[(String, String)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery("SELECT descricao, valor FROM tbl_planos ORDER BY descricao")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getString(1), String.valueOf(r.getBigDecimal(2)))).toList
    } finally conn.close()
  }

  test("upsertPlanos and the streaming sink keep the same value per plan: lowest, nulls last") {
    val schema = StructType(Seq(StructField("Plano", StringType),
      StructField("Plano_Valor", DecimalType(15, 2))))
    val rows = Seq(("P", null), ("P", "70.00"), ("Q", "80.00"), ("Q", "75.00"))
      .map { case (p, v) => Row(p, Option(v).map(BigDecimal(_).bigDecimal).orNull) }
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    val urlBatch = provisioned("b")
    new Load(spark, urlBatch).upsertPlanos(batch)
    val urlStream = provisioned("s")
    new JdbcUpsertSink(urlStream, "tbl_planos", Seq("descricao"))(
      batch.toDF("descricao", "valor"), 0L)

    val expected = Seq(("P", "70.00"), ("Q", "75.00"))
    assert(planos(urlBatch) == expected)
    assert(planos(urlStream) == expected)
  }
}
