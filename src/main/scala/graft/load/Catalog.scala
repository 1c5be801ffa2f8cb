package graft.load

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.schema.StockSchemas

/** Parquet-backed catalog for the four stock tables — the engine's
  * answer to the reference's `CREATE TABLE IF NOT EXISTS` DDL (B9,
  * `main_parallel.py:164-203`).
  */
object Catalog {

  def tablePath(basePath: String, table: String): String = s"$basePath/$table"

  /** Read the table at `path`, or an empty frame with `schema` if the
    * table does not exist yet.
    */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      spark.read.schema(schema).parquet(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Schema-evolution read: union the schemas of every file footer in
    * the table (`mergeSchema`), null-filling columns a given file
    * predates — the ALTER TABLE ADD COLUMN story for a parquet-backed
    * catalog: writers simply start emitting the new column; no rewrite
    * of historical files. Footer merging scans metadata, not data, so
    * the cost at 100 TB is per-FILE, and readers that pin an explicit
    * schema ([[readOrEmpty]]) keep pruning the new column for free.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** B9: materialize empty parquet tables for any of the four stock
    * tables missing under `basePath` (idempotent, like
    * `CREATE TABLE IF NOT EXISTS`).
    */
  def createTablesIfNotExists(spark: SparkSession, basePath: String): Unit =
    StockSchemas.tables.foreach { case (name, schema) =>
      val path = tablePath(basePath, name)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) {
        val w = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .write.mode("overwrite")
        val parts = StockSchemas.partitioning(name)
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
      }
    }

  /** A13: insert-if-absent into `companies` — distinct incoming symbols
    * anti-joined against the current table (the set form of the
    * reference's `INSERT … ON CONFLICT DO NOTHING`,
    * `main_parallel.py:221-227`). Returns symbols added.
    */
  def ensureCompanies(spark: SparkSession, basePath: String, symbols: DataFrame): Long =
    appendCompanies(spark, basePath, symbols).inserted

  /** [[ensureCompanies]], also reporting the non-NULL symbols offered. */
  def appendCompanies(spark: SparkSession, basePath: String,
      symbols: DataFrame): Incremental.Appended = {
    val incoming = symbols
      .select(col(symbols.columns.head).cast("string").as("company_symbol"))
      .where(col("company_symbol").isNotNull)
    Incremental.append(
      spark,
      tablePath(basePath, "companies"),
      incoming,
      StockSchemas.primaryKeys("companies"),
      StockSchemas.companies)
  }
}
