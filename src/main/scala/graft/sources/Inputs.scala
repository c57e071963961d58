package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one reader of the generated input tables under a scale-factor
  * directory. Each table's schema is fixed (the same at every scale
  * factor) and written here once, exactly as Spark infers it from the
  * files, so building a plan over an input runs no schema-inference job.
  * The timestamps are TIMESTAMP_NTZ because the files store them with
  * `isAdjustedToUTC=false`. `InputsSpec` gates each DDL against the
  * inferred schema. */
object Inputs {

  private def read(spark: SparkSession, sfDir: String, table: String, ddl: String): DataFrame =
    spark.read.schema(ddl).parquet(s"$sfDir/$table.parquet")

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "documents",
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "lineitem",
      "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ")

  def orders(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "orders",
      "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING")

  def customer(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "customer",
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")

  def events(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "events",
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, " +
        "props STRING")
}
