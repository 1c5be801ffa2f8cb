package graft.tools

import org.apache.spark.sql.functions._

import graft.load.Scale

/** Drives the Scale utilities through the public API: salted join on a
  * skewed key, partial top-N, bucketed shuffle-free join.
  */
object ScaleDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val big = (1 to 100000).map(i => (if (i % 3 == 0) "hot" else s"k${i % 997}", i)).toDF("k", "v")
    val small = (0 until 997).map(i => (s"k$i", i)).toDF("k", "w")
      .union(Seq(("hot", -1)).toDF("k", "w"))

    val plain = big.join(small, Seq("k")).count()
    val salted = Scale.saltedJoin(big, small, "k", salt = 16).count()
    println(s"SALTED_MATCHES_PLAIN=${plain == salted} ($salted rows)")

    val topn = Scale.topNPerKey(big, "k", col("v").desc, 5).count()
    println(s"TOPN_ROWS=$topn (expect ${998 * 5})")

    try Scale.saltedJoin(big, small, "k", salt = 16, joinType = "full")
    catch { case e: IllegalArgumentException => println(s"REJECTED_FULL_JOIN=${e.getMessage}") }

    try Scale.saltedJoin(big, small, "k", salt = 0)
    catch { case e: IllegalArgumentException => println(s"REJECTED_SALT0=${e.getMessage}") }

    spark.stop()
  }
}
