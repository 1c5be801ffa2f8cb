package graft.tools

/** Drives the spark.sql surface: corpus views + graft SQL functions. */
object SqlDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.registerViews(spark, sfDir)
    println("TABLES=" + spark.sql("SHOW TABLES").count())
    spark.sql(
      """SELECT l_returnflag, SUM(l_quantity) AS q FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).show()
    spark.sql(
      """SELECT a.vec_id, b.vec_id,
        |       graft_cosine(CAST(a.embedding AS ARRAY<DOUBLE>),
        |                    CAST(b.embedding AS ARRAY<DOUBLE>)) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY cos DESC LIMIT 3""".stripMargin).show()
    // error path: wrong argument type must fail analysis with the
    // expression's own type-check message, not a runtime cast error
    try spark.sql("SELECT graft_cosine('a', 'b')").collect()
    catch { case e: Exception =>
      println("TYPECHECK_ERROR=" + e.getMessage.linesIterator.next()) }
    spark.stop()
  }
}
