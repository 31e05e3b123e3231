package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loader for the driver corpus (`/root/testdata/sf*`).
  *
  * Every table is read with a declared schema, so building a query starts
  * no Spark job: a bare `spark.read.parquet` runs one schema-inference
  * job per read (footer merge; ~35–80 ms each on a 4-core host). The
  * declarations are exactly what Spark infers from the corpus footers
  * (FIXTURES.md §3; `TablesSchemaSpec` pins them against every corpus),
  * so every query sees the column types inference gave it. Catalyst
  * still prunes columns and pushes filters into the scan; no caching,
  * no repartition. At 100 TB the same call reads a partitioned directory
  * and partition pruning applies; nothing here would change.
  */
object Tables {
  /** The inferred schema of each corpus table. The corpus stores
    * `o_orderdate`, `l_shipdate` and `events.ts` as INT64
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    * TIMESTAMP_NTZ; declaring TIMESTAMP would change every downstream
    * type. `events.ts` is re-declared per file layout, see [[events]]. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(path(sfDir, name))

  private def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events, with `ts` always TIMESTAMP (µs, session-local). Three file
    * layouts of `ts` exist, and each is read with its own declared type:
    *   - TIMESTAMP(NANOS), from some corpus versions: Spark 4 refuses to
    *     infer it (PARQUET_TYPE_ILLEGAL), but declared as BIGINT it reads
    *     as the raw nanos long, which is truncated to µs;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false), the in-repo corpora:
    *     read as TIMESTAMP_NTZ and cast (the session runs UTC, so the
    *     wall-clock values are the same instants the nanos path gives);
    *   - a UTC-adjusted timestamp (MICROS, or INT96 as `ScaleUp` writes
    *     this frame under Spark's default output type): read as TIMESTAMP.
    * The layout comes from one footer read per path on the driver (no
    * Spark job), memoized for the JVM: a path is assumed not to be
    * rewritten with another layout. No layout writes a session conf.
    * Every declared query buckets with `date_trunc` ≥ seconds, so sub-µs
    * digits are unobservable either way. */
  def events(s: SparkSession, d: String): DataFrame = {
    val p = path(d, "events")
    val tsType = eventsTsTypes.computeIfAbsent(p, _ => footerTsType(s, p))
    val declared = StructType(schemas("events").map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val raw = s.read.schema(declared).parquet(p)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Name-dispatched accessor that routes through the per-table quirks
    * (events' layout dispatch) — use this instead of `apply` when the
    * table name is data, e.g. Bench's warmup loop. */
  def byName(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "events" => events(s, d)
    case n => apply(s, d, n)
  }

  /** Read type of `events.ts` per path; Bench builds queries in parallel. */
  private val eventsTsTypes = new ConcurrentHashMap[String, DataType]()

  /** The type Spark reads `ts` as, from the footer of the path's first
    * data file (a directory holds part files; `_`/`.` files are not data). */
  private def footerTsType(s: SparkSession, p: String): DataType = {
    val conf = s.sparkContext.hadoopConfiguration
    val root = new Path(p)
    val fs = root.getFileSystem(conf)
    val file =
      if (!fs.getFileStatus(root).isDirectory) root
      else fs.listStatus(root).filter(_.isFile).map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    val ts = footer.getType(footer.getFieldIndex("ts"))
    ts.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS => LongType
      case t: TimestampLogicalTypeAnnotation if !t.isAdjustedToUTC => TimestampNTZType
      case _ => TimestampType
    }
  }
}
