package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.Materialize
import graft.load.Incremental

/** JDBC sink — the reference's Postgres target (`main_parallel.py`
  * batched inserts, A10/B5). `batchsize` maps to the reference's
  * `execute_batch`; each Spark partition opens one connection, so
  * write parallelism = partition count (cap with
  * `rows.coalesce(n)` against small DBMS pools).
  *
  * Idempotency: Spark's JDBC writer has no ON CONFLICT; the PK guard
  * reads the current target and anti-joins (the same
  * [[Incremental.notInTarget]] plan as the parquet load path). Under a
  * single writer this reproduces `INSERT … ON CONFLICT DO NOTHING`;
  * concurrent writers would race (documented §7.5.1) —
  * [[appendIdempotentTxn]] closes that race with a staging table and
  * one transactional `INSERT … WHERE NOT EXISTS` on the DBMS side.
  */
final class JdbcSink(
    spark: SparkSession,
    url: String,
    table: String,
    pk: Seq[String],
    properties: java.util.Properties = new java.util.Properties(),
    batchSize: Int = 1000) {

  /** Only the PK columns leave the DBMS — the `.select` prunes at the
    * JDBC scan (the reader compiles a projection using the column names
    * from the target's own metadata, so reserved words and identifier
    * case-folding quote correctly on any DBMS); the anti-join never
    * needs the payload columns. Still a single-connection read; for
    * very large targets prefer the staging-table + MERGE route
    * documented above, or bound the read with the batch's key range.
    */
  private def existingPks(): DataFrame =
    spark.read.jdbc(url, table, properties)
      .select(pk.map(p => org.apache.spark.sql.functions.col(p).as(p)): _*)

  /** Append `rows`, skipping any whose PK already exists in the target.
    * Returns rows actually written, counted inside the one write job. An
    * empty append writes nothing, so there is no count-first path.
    */
  def appendIdempotent(rows: DataFrame): Long =
    Materialize.observed(Incremental.notInTarget(rows, existingPks(), pk),
      "rows" -> count(lit(1)))(append)._2.head

  /** Concurrent-writer-safe idempotent append — the staging-table +
    * transactional `INSERT … WHERE NOT EXISTS` route the single-writer
    * path documents: the batch is NULL-PK-rejected, within-batch
    * deduplicated, staged to a call-unique table via the Spark JDBC
    * writer (distributed, batched), and then ONE driver-side DBMS
    * transaction takes an exclusive table lock and inserts exactly the
    * staged rows whose PK is absent. The existence check and the insert
    * commit atomically, so interleaved writers cannot double-insert a
    * PK or fail on the target's PK constraint — each contested key
    * lands exactly once, with the losers counting it as skipped.
    *
    * SQL is Derby-compatible and identifiers are emitted unquoted
    * (case-folded by the DBMS); targets whose column names need quoting
    * should keep [[appendIdempotent]]. Returns rows actually inserted.
    */
  def appendIdempotentTxn(rows: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val deduped = rows
      .where(pk.map(col(_).isNotNull).reduce(_ && _))
      .dropDuplicates(pk)
    val staging =
      "STAGE_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12).toUpperCase
    deduped.write.mode(SaveMode.Overwrite)
      .option("batchsize", batchSize).jdbc(url, staging, properties)
    // The Spark JDBC writer creates the staging table with QUOTED
    // exact-case identifiers and maps StringType to CLOB — so staging
    // references quote the DataFrame's case and string columns cast
    // back to VARCHAR (CLOB compares to nothing and won't implicitly
    // narrow on insert); target references stay unquoted (case-folded
    // like the DDL that created them).
    def sRef(c: String): String =
      deduped.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType => s"""CAST(s."$c" AS VARCHAR(32672))"""
        case _ => s"""s."$c""""
      }
    val cols = deduped.columns
    val colList = cols.mkString(", ")
    val selList = cols.map(sRef).mkString(", ")
    val pkPred = pk.map(p => s"t.$p = ${sRef(p)}").mkString(" AND ")
    val conn = java.sql.DriverManager.getConnection(url, properties)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        st.execute(s"LOCK TABLE $table IN EXCLUSIVE MODE")
        val n = st.executeUpdate(
          s"""INSERT INTO $table ($colList)
             |SELECT $selList FROM $staging s
             |WHERE NOT EXISTS (SELECT 1 FROM $table t WHERE $pkPred)""".stripMargin)
        conn.commit()
        n.toLong
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally {
        st.close()
        try {
          conn.setAutoCommit(true)
          val drop = conn.createStatement()
          try drop.execute(s"DROP TABLE $staging") finally drop.close()
        } catch { case _: Throwable => () }
      }
    } finally conn.close()
  }

  /** Raw append without the PK guard (for pre-deduplicated batches). */
  def append(rows: DataFrame): Unit =
    rows.write
      .mode(SaveMode.Append)
      .option("batchsize", batchSize)
      .jdbc(url, table, properties)
}
