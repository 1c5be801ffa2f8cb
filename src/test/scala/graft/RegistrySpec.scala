package graft

/** Whole-registry gate: every query in `SparkEntry.queries` must
  * ANALYZE and EXECUTE against the sf0.001 fixtures, and every query
  * must carry an `oracleSql` entry (or be a deliberate rows-only check).
  *
  * Exists because of round 7: a Spark upgrade changed how
  * `events.parquet`'s timestamp column loads, and every events-reading
  * query failed *analysis* — but `sbt test` only exercised the subset of
  * queries with dedicated specs, so 21 queries silently dropped out of
  * the verified surface and the regression was first seen in the full
  * `graft.Verify` correctness run. The analysis and execution results
  * come from the one [[Surface]] walk, whose build runs each query's
  * eager jobs; the assertion messages list each query that fails, not
  * just the first.
  */
class RegistrySpec extends SparkSpec {

  test("every registered query analyzes against the current fixtures") {
    val failures = Surface.findings(Surface.Analysis)
    assert(failures.isEmpty,
      s"${failures.size} quer(ies) no longer analyze:\n  " +
        failures.mkString("\n  "))
  }

  test("every registered query executes at sf0.001 through the noop sink") {
    // Analysis (above) is the first signal; this closes the
    // RUNTIME-ONLY failure class — codegen faults, cast overflows,
    // dir-dependent fixture paths (e.g. s03/s09's centroid dumps) —
    // that analysis cannot see. The noop sink consumes every output
    // column at full width, the Bench evaluation discipline.
    val failures = Surface.findings(Surface.Execution)
    assert(failures.isEmpty,
      s"${failures.size} quer(ies) fail at runtime:\n  " +
        failures.mkString("\n  "))
  }

  test("every registered query has an oracle, and every oracle a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val orphanOracles = o -- q
    assert(orphanOracles.isEmpty,
      s"oracleSql entries with no matching query: $orphanOracles")
    val rowsOnly = q -- o
    // Queries without an oracle get only the driver's weaker rows>0
    // check; keep the list explicit so additions are deliberate.
    assert(rowsOnly.isEmpty,
      s"queries with no oracleSql entry (rows-only check): $rowsOnly")
  }

  test("no registry key collides across the per-family maps") {
    // SparkEntry merges the family maps with ++, which silently DROPS
    // the earlier entry on a key collision — a new query reusing an
    // existing name would shrink the verified surface with no error
    // anywhere. Sum-of-parts must equal the merged size.
    val parts = Seq(
      graft.queries.Relational.queries, graft.queries.Stock.queries,
      graft.queries.Corpus.queries, graft.queries.Advanced.queries,
      graft.queries.Extensions.queries, graft.queries.TpcH.queries,
      graft.queries.GraphQueries.queries, graft.queries.Features.queries,
      graft.queries.HashProbes.queries)
    val total = parts.map(_.size).sum
    val merged = SparkEntry.queries.size
    assert(total == merged, {
      val dupes = parts.flatMap(_.keys)
        .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
      s"registry key collision(s) across family maps: ${dupes.toSeq.sorted}"
    })
  }
}
