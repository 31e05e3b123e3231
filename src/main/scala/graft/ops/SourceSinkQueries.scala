package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink format coverage (SURVEY §2.3 "Scans/sources/sinks"):
  * CSV and JSON(lines) writers + readers exercised as roundtrips inside
  * a declared query — write the nation table to the format, read it
  * back WITH a declared schema (inference is banned per SURVEY §1.3),
  * aggregate. The oracle sees only the aggregation, so any
  * serialization defect (quoting, escaping, null encoding, type
  * round-trip) surfaces as a hash mismatch.
  */
object SourceSinkQueries {

  /** Stable within the JVM (repeat calls overwrite their own output),
    * unique across JVMs (concurrent Verify+Bench must not clobber each
    * other's roundtrip directory mid-read). */
  private val jvmTag = java.util.UUID.randomUUID().toString.take(8)

  private def roundtrip(s: SparkSession, d: String, format: String): DataFrame = {
    val src = Tables.nation(s, d)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rt_${jvmTag}_${format}_" +
      d.replaceAll("[^a-zA-Z0-9]", "_")
    src.write.mode(SaveMode.Overwrite).format(format)
      .option("header", "true").save(path)
    val back = s.read.format(format)
      .option("header", "true").schema(src.schema).load(path)
    back.groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), min("n_name").as("first_nation"))
      .orderBy("n_regionkey")
  }

  def csvRoundtripAgg(s: SparkSession, d: String): DataFrame = roundtrip(s, d, "csv")
  /** XML datasource — built into Spark core since 4.0 (the former
    * spark-xml package); needs a rowTag and no header option, hence its
    * own path rather than [[roundtrip]]. Exercises the one text format
    * with nested-element structure (attributes/escaping rules CSV and
    * JSONL don't have). */
  def xmlRoundtripAgg(s: SparkSession, d: String): DataFrame = {
    val src = Tables.nation(s, d)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rt_${jvmTag}_xml_" +
      d.replaceAll("[^a-zA-Z0-9]", "_")
    src.write.mode(SaveMode.Overwrite).format("xml")
      .option("rowTag", "nation").save(path)
    s.read.format("xml").option("rowTag", "nation").schema(src.schema).load(path)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), min("n_name").as("first_nation"))
      .orderBy("n_regionkey")
  }
  def jsonRoundtripAgg(s: SparkSession, d: String): DataFrame = roundtrip(s, d, "json")
  /** Columnar binary format with its own type system + predicate
    * pushdown surface (Spark's built-in ORC reader/writer). */
  def orcRoundtripAgg(s: SparkSession, d: String): DataFrame = roundtrip(s, d, "orc")
  /** Avro datasource — the implementation classes ship inside
    * spark-sql_2.13-4.1.2.jar in this image (Spark 4 merged the Avro
    * source tree), but the jar's DataSourceRegister services file does
    * NOT register the "avro" short name (that registration lives in the
    * absent external spark-avro artifact), so the format is addressed
    * by its fully-qualified FileFormat class. Closes the last stock
    * batch format without a registry row (r8 verdict #5): the row-based
    * schema-evolving format a Kafka-adjacent pipeline lands before
    * compacting to columnar parquet/orc. */
  def avroRoundtripAgg(s: SparkSession, d: String): DataFrame =
    roundtrip(s, d, "org.apache.spark.sql.avro.AvroFileFormat")

  /** Hive-style partitioned layout + partition pruning — the first
    * lever of any 100 TB table design: write `documents` partitioned by
    * `lang` (one directory per value), read back, and aggregate a
    * two-language slice. The reader must prune at the DIRECTORY level —
    * the predicate lands in `PartitionFilters`, not `PushedFilters`, so
    * non-matching partitions are never listed, opened, or scanned
    * (pinned in PlanShapeSpec). At 100 TB with date/tenant partitions
    * this is the difference between scanning a day and scanning a year. */
  def parquetPartitionedPrune(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_rt_${jvmTag}_part_" +
      d.replaceAll("[^a-zA-Z0-9]", "_")
    src.write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(path)
    // read back with the schema just written (partition column last), so
    // the read starts no inference job; the two pruned-in languages exist
    // in the corpus (en, de)
    val written = StructType(src.schema.filterNot(_.name == "lang") :+ src.schema("lang"))
    s.read.schema(written).parquet(path)
      .filter(col("lang").isin("en", "de"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "csv_roundtrip_agg"  -> csvRoundtripAgg _,
    "xml_roundtrip_agg"  -> xmlRoundtripAgg _,
    "json_roundtrip_agg" -> jsonRoundtripAgg _,
    "orc_roundtrip_agg"  -> orcRoundtripAgg _,
    "avro_roundtrip_agg" -> avroRoundtripAgg _,
    "parquet_partitioned_prune" -> parquetPartitionedPrune _,
  )

  private val aggSql =
    """SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_nation
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  val oracle: Map[String, String] = Map(
    "csv_roundtrip_agg"  -> aggSql,
    "xml_roundtrip_agg"  -> aggSql,
    "json_roundtrip_agg" -> aggSql,
    "orc_roundtrip_agg"  -> aggSql,
    "avro_roundtrip_agg" -> aggSql,
    "parquet_partitioned_prune" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
