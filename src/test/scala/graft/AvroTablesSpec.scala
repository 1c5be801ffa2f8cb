package graft

import org.apache.spark.sql.functions._

import graft.sources.AvroTables

/** Row-exact Avro round-trip evidence: q153's oracle states the
  * CONTRACT from the original table (DuckDB cannot read Avro here),
  * so the file-level fidelity proof lives HERE — write the projection
  * partition-parallel, read it back, and assert exact multiset
  * equality both directions, plus container-level facts (one file per
  * non-empty partition, schema fidelity).
  */
class AvroTablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("avro write/read round-trips the order projection row-exactly") {
    assume(new java.io.File(s"$dir/orders.parquet").exists())
    val src = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        unix_micros(col("o_orderdate")
          .cast(org.apache.spark.sql.types.TimestampType))
          .as("o_orderdate_us"))
      .repartition(5)
    val path = SparkSpec.tempDir("graft_avro_rt") + "/orders"
    val files = AvroTables.writeOrders(src, path)
    assert(files.size === 5) // one container per non-empty partition
    val back = AvroTables.readOrders(spark, path)
    assert(back.schema === AvroTables.OrdersSparkSchema)
    // exact multiset equality both directions (doubles bit-exact:
    // Avro binary carries IEEE bits verbatim)
    assert(back.exceptAll(src).count() === 0L)
    assert(src.exceptAll(back).count() === 0L)
    assert(back.count() === src.count())
  }

  test("avro write is idempotent: a re-run replaces, never appends") {
    assume(new java.io.File(s"$dir/orders.parquet").exists())
    val src = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("o_totalprice"),
        unix_micros(col("o_orderdate")
          .cast(org.apache.spark.sql.types.TimestampType))
          .as("o_orderdate_us"))
      .limit(100)
    val path = SparkSpec.tempDir("graft_avro_idem") + "/orders"
    AvroTables.writeOrders(src, path)
    AvroTables.writeOrders(src, path)
    assert(AvroTables.readOrders(spark, path).count() === 100L)
  }
}
