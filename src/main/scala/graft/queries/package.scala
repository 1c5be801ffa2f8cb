package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

package object queries {

  /** A registered query: (session, fixture dir) → its result frame. */
  type Q = (SparkSession, String) => DataFrame

  /** Fixture table `name` of dir `dir`, read through [[graft.Tables]]. */
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Decimal → double through a string. A direct cast is not
    * cross-engine exact once a scaled decimal passes 2^53: DuckDB
    * converts the unscaled integer to double and then divides, two
    * roundings, where Spark rounds once. Decimal → string is exact in
    * both engines and string → double is correctly rounded in both, so
    * the two agree bit for bit. [[asDoubleSql]] is the oracle's twin.
    */
  private[queries] def asDouble(c: Column): Column =
    c.cast("string").cast("double")

  /** DuckDB SQL for [[asDouble]] of the expression `x`. */
  private[queries] def asDoubleSql(x: String): String =
    s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"
}
