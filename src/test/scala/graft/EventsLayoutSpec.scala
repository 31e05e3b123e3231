package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.TimestampType

import graft.ops.Tables

/** `Tables.events` reads every layout of `events.ts` as TIMESTAMP with
  * the same µs instants: TIMESTAMP(NANOS) (written here with parquet's
  * example writer, since no corpus on disk has it), the in-repo corpus's
  * TIMESTAMP(MICROS, not UTC-adjusted), and Spark-written UTC-adjusted
  * files (TIMESTAMP_MICROS, and INT96 as `ScaleUp` writes by default).
  * No layout writes a session conf. */
class EventsLayoutSpec extends SessionHygiene {

  private lazy val root = Files.createTempDirectory("graft-events-layout").toString
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** (event_id, µs since the epoch) of every event, in id order. */
  private def instants(events: DataFrame): Seq[(Long, Long)] =
    events.select(col("event_id"), unix_micros(col("ts"))).orderBy("event_id")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  private lazy val corpus = instants(Tables.events(spark, sfDir))

  /** The corpus events as TIMESTAMP(NANOS), with 789 ns below each µs
    * that the reader must truncate away. */
  private lazy val nanosDir: String = {
    val dir = s"$root/nanos"
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val rows = Tables.events(spark, sfDir)
      .withColumn("ts", unix_micros(col("ts"))).collect()
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), hadoopConf))
      .withType(schema).withConf(hadoopConf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.schema.fieldNames.zipWithIndex.filterNot { case (_, i) => r.isNullAt(i) }.foreach {
        case ("ts", i) => g.append("ts", r.getLong(i) * 1000 + 789)
        case (f, i) => r.get(i) match {
          case v: Long => g.append(f, v)
          case v: Double => g.append(f, v)
          case v: String => g.append(f, v)
        }
      }
      writer.write(g)
    } finally writer.close()
    dir
  }

  /** The corpus events written by Spark from the TIMESTAMP frame, under
    * the given `spark.sql.parquet.outputTimestampType`; the conf is set
    * on a cloned session so the shared one is untouched. */
  private def sparkWritten(outputType: String): String = {
    val dir = s"$root/${outputType.toLowerCase}"
    val writer = spark.newSession()
    writer.conf.set("spark.sql.parquet.outputTimestampType", outputType)
    Tables.events(writer, sfDir).write.parquet(s"$dir/events.parquet")
    dir
  }
  private lazy val microsUtcDir = sparkWritten("TIMESTAMP_MICROS")
  private lazy val int96Dir = sparkWritten("INT96")

  /** The footer type of `ts` in `dir`'s events file, or its first part file. */
  private def footerTs(dir: String): String = {
    val events = new java.io.File(s"$dir/events.parquet")
    val file = if (events.isFile) events
      else events.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file.getPath), hadoopConf))
    val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    schema.getType(schema.getFieldIndex("ts")).toString
  }

  test("the written files carry the layouts they stand for") {
    assert(footerTs(nanosDir).contains("TIMESTAMP(NANOS,false)"), footerTs(nanosDir))
    assert(footerTs(microsUtcDir).contains("TIMESTAMP(MICROS,true)"), footerTs(microsUtcDir))
    assert(footerTs(int96Dir).contains("int96"), footerTs(int96Dir))
  }

  test("every layout reads as ts TIMESTAMP with the corpus's µs instants") {
    val expected = Tables.events(spark, sfDir).schema
    assert(expected("ts").dataType == TimestampType)
    assert(corpus.size == 1000)
    Seq(nanosDir, microsUtcDir, int96Dir).foreach { d =>
      val events = Tables.events(spark, d)
      assert(events.schema == expected, d)
      assert(instants(events) == corpus, d)
    }
  }

  test("no layout writes a spark.sql conf") {
    // a fresh session holds only the confs given at start-up, so a conf
    // written by any earlier read in this JVM cannot hide a write here
    Seq(sfDir, nanosDir, microsUtcDir, int96Dir).foreach { d =>
      val fresh = spark.newSession()
      val confs0 = sqlConfs(fresh)
      Tables.events(fresh, d).count()
      assert(sqlConfs(fresh) == confs0, d)
    }
  }
}
