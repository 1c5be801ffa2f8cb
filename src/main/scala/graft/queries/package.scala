package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {

  /** A registered query: (session, fixture dir) → its result frame. */
  type Q = (SparkSession, String) => DataFrame

  /** Fixture table `name` of dir `dir`, read through [[graft.Tables]]. */
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)
}
