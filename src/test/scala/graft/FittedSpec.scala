package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.FixtureTables.{Fitted, dump}

/** The fit-once cell every fitted model and index goes through: one
  * fit per dir, the dump written before the value is returned, nothing
  * cached by a failed fit, and cells that fit inside another's fit.
  */
class FittedSpec extends SparkSpec {

  import spark.implicits._

  /** A model object with identity, so a refit is told from a reuse. */
  private final class Total(val sum: Long)

  /** A fixture dir holding one table `t(v)`. */
  private def dirOf(vs: Long*): String = {
    val dir = SparkSpec.tempDir("fitted_spec")
    vs.toDF("v").write.parquet(s"$dir/t.parquet")
    dir
  }

  /** Sums `t.v` over the dir and dumps the sum at `path`. */
  private def sumFit(fits: AtomicInteger)
      (s: SparkSession, dir: String, path: String): Total = {
    fits.incrementAndGet()
    val total = s.read.parquet(s"$dir/t.parquet").agg(sum(col("v"))).head().getLong(0)
    dump(Seq(total).toDF("sum"), path)
    new Total(total)
  }

  private def counter() = new AtomicInteger()

  private def dumped(path: String): Long =
    spark.read.parquet(path).head().getLong(0)

  test("a second apply for one dir returns the same instance and starts no Spark job") {
    val fits = counter()
    val cell = new Fitted("fitted_spec_once")(sumFit(fits))
    val dir = dirOf(1L, 2L, 3L)
    var first: Total = null
    assert(jobsOf { first = cell(spark, dir) }._2 > 0)
    var second: Total = null
    assert(jobsOf { second = cell(spark, dir) }._2 === 0)
    assert(second eq first)
    assert(first.sum === 6L)
    assert(fits.get === 1)
    assert(cell.get(dir).exists(_ eq first))
  }

  test("a second dir fits again, at its own path") {
    val fits = counter()
    val cell = new Fitted("fitted_spec_dirs")(sumFit(fits))
    val (a, b) = (dirOf(1L, 2L), dirOf(10L, 20L))
    assert(cell(spark, a).sum === 3L)
    assert(cell(spark, b).sum === 30L)
    assert(fits.get === 2)
    assert(cell.path(a) != cell.path(b))
    assert(dumped(cell.path(a)) === 3L)
    assert(dumped(cell.path(b)) === 30L)
  }

  test("the dump exists at path(dir) when apply returns") {
    val dir = dirOf(4L, 5L)
    var seenInFit: String = null
    val cell = new Fitted("fitted_spec_dump")((s, d, path) => {
      seenInFit = path
      sumFit(counter())(s, d, path)
    })
    assert(!new java.io.File(cell.path(dir)).exists())
    val m = cell(spark, dir)
    assert(seenInFit === cell.path(dir))
    assert(new java.io.File(cell.path(dir)).exists())
    assert(dumped(cell.path(dir)) === m.sum)
  }

  test("a fit that throws leaves nothing cached, and the next call fits") {
    val attempts = counter()
    val dir = dirOf(7L)
    val cell = new Fitted("fitted_spec_throws")((s, d, path) => {
      if (attempts.incrementAndGet() == 1)
        throw new IllegalStateException("first fit fails")
      sumFit(counter())(s, d, path)
    })
    val thrown = intercept[IllegalStateException](cell(spark, dir))
    assert(thrown.getMessage === "first fit fails")
    assert(cell.get(dir).isEmpty)
    assert(cell(spark, dir).sum === 7L)
    assert(attempts.get === 2)
    assert(cell.get(dir).isDefined)
  }

  test("a fit that calls another cell's apply returns") {
    val innerFits = counter()
    val inner = new Fitted("fitted_spec_inner")(sumFit(innerFits))
    val outer = new Fitted("fitted_spec_outer")((s, d, path) => {
      val m = new Total(inner(s, d).sum + 1L)
      dump(Seq(m.sum).toDF("sum"), path)
      m
    })
    val dir = dirOf(1L, 1L)
    assert(outer(spark, dir).sum === 3L)
    assert(inner(spark, dir).sum === 2L)
    assert(innerFits.get === 1)
    assert(dumped(outer.path(dir)) === 3L)
  }
}
