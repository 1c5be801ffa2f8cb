package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.PortableMath
import graft.functions.PortableMath.Dual

/** Empirical cross-engine bit-equality probe for [[PortableMath]].
  *
  * Dumps (input, Spark-computed output) rows to parquet plus the
  * DuckDB SQL that recomputes the same outputs from the same inputs
  * via [[PortableMath.sqlWithBindings]] — the EXACT mechanism the
  * q122/q126/q130 oracles use. `scripts/portable_math_check.py`
  * re-evaluates in DuckDB and asserts float64 bit equality row by
  * row. This is the experiment backing the module's claim: libm
  * never runs, so the two engines cannot disagree.
  *
  *   sbt "runMain graft.tools.PortableMathProbe /tmp/pm_probe"
  *   python3 scripts/portable_math_check.py /tmp/pm_probe
  */
object PortableMathProbe {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/pm_probe")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic adversarial inputs: dense small integers (every
    // digit-count boundary), a multiplicative sweep to 10^15, and a
    // double grid over exp's full clamp range including values that
    // land near the k-selection boundaries
    val rnd = new scala.util.Random(20260815L)
    val ints = ((1L to 300000L) ++
      Iterator.iterate(1.0)(_ * 1.37).takeWhile(_ < 1e15).map(_.toLong) ++
      (1 to 200000).map(_ => 1L + math.abs(rnd.nextLong()) % 999999999999999L))
      .distinct.toSeq
    val doubles = ((-44000 to 44000).map(_ / 1000.0) ++
      (1 to 200000).map(_ => (rnd.nextDouble() - 0.5) * 88.0)).distinct

    val lnB = PortableMath.lnPosBigint("v", "ln_v")
    val expB = PortableMath.expBindings("x", "exp_x")
    val lgB = PortableMath.logisticE9("x", "sig_e9")

    PortableMath.withBindings(ints.toDF("v"), lnB)
      .select(col("v"), col("ln_v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/ln")
    PortableMath.withBindings(doubles.toDF("x"), expB ++ lgB)
      .select(col("x"), col("exp_x"), col("sig_e9"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/exp")

    val lnSql = PortableMath.sqlWithBindings(
      s"SELECT v FROM read_parquet('$out/ln/*.parquet')", lnB)
    val expSql = PortableMath.sqlWithBindings(
      s"SELECT x FROM read_parquet('$out/exp/*.parquet')", expB ++ lgB)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/ln.sql"), lnSql)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/exp.sql"), expSql)

    // accuracy sidecar (not the point — equality is — but the report
    // should also be TRUE): max relative error vs java.lang.Math
    val lnErr = PortableMath.withBindings(ints.toDF("v"), lnB)
      .select(max(abs(col("ln_v") - log(col("v"))) /
        greatest(abs(log(col("v"))), lit(1.0)))).as[Double].first()
    val expErr = PortableMath.withBindings(doubles.toDF("x"), expB)
      .select(max(abs(col("exp_x") - exp(col("x"))) / exp(col("x"))))
      .as[Double].first()
    println(f"[probe] n_ln=${ints.size} n_exp=${doubles.size} " +
      f"max_rel_err ln=$lnErr%.3e exp=$expErr%.3e")
    spark.stop()
  }
}
