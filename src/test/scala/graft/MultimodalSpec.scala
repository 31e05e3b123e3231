package graft

import graft.ops.MultimodalQueries.binaryMeta

/** The byte-level metadata stage behind `multimodal_binary_meta`: it
  * reads lengths and hashes only, so it must stay expression-only. */
class MultimodalSpec extends SparkTestBase {

  test("binaryMeta stays codegen (no decode) and matches byte lengths") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "")).toDF("id", "txt")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.encode(
          org.apache.spark.sql.functions.col("txt"), "UTF-8").as("content"))
    val meta = binaryMeta(df, "content").collect().sortBy(_.getLong(0))
    assert(meta(0).getAs[Long]("n_bytes") == 3L)
    assert(meta(1).getAs[Long]("n_bytes") == 0L)
    // expression-only stage: no object-boundary operators in the plan
    val plan = binaryMeta(df, "content").queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") && !plan.contains("SerializeFromObject"))
  }
}
