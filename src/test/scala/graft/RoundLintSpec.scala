package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the round-9 cross-engine divergence class.
  *
  * `round(double, n)` is implemented differently by Spark (rounds the
  * shortest decimal repr) and DuckDB (multiply trick), and both
  * engines' libm transcendentals are only faithfully rounded — so a
  * compared output of the form `round(<transcendental>, n)` is one
  * data instance away from a hash mismatch (q118/q122/q126/g08 in
  * round 9). The sanctioned alternative is
  * [[graft.functions.PortableMath]] (ln/exp/logistic stated once,
  * emitted to both engines from correctly-rounded ops) with
  * `roundedUnits` (⌊x·10ⁿ + ½⌋) quantization.
  *
  * This spec paren-matches every Spark-side `round(` call in main
  * source (comments stripped, multi-line arguments included) and
  * fails if the argument contains a transcendental — unless the site
  * is in the justification list below. The list is EMPTY as of round
  * 10 (t14/t19/t22/t23/t29/t30/t41/q95/q118/q122/q126/q130/g08 all
  * migrated); add an entry only with a written argument for why the
  * two engines cannot diverge on that input.
  */
class RoundLintSpec extends AnyFunSuite {

  /** (file-basename substring, argument-text substring) → rationale. */
  private val justified: Seq[(String, String, String)] = Seq.empty

  private val transcendental =
    raw"(?<![\w.])(log|log10|log2|log1p|exp|expm1|pow|cbrt)\s*\(".r

  test("no compared output passes a transcendental through round(double, n)") {
    val offenders = RoundLintSpec.sources("src/main/scala/graft").flatMap { case (f, src) =>
      raw"(?<![\w.])round\(".r.findAllMatchIn(src).flatMap { m =>
        var (depth, i) = (0, m.end - 1)
        while (i < src.length && {
          src(i) match {
            case '(' => depth += 1; true
            case ')' => depth -= 1; depth != 0
            case _   => true
          }
        }) i += 1
        val arg = src.substring(m.start, math.min(i + 1, src.length))
        val line = src.substring(0, m.start).count(_ == '\n') + 1
        if (transcendental.findFirstIn(arg).isEmpty) None
        else if (justified.exists { case (file, snip, _) =>
          f.getName.contains(file) && arg.contains(snip)
        }) None
        else Some(s"${f.getPath}:$line: ${arg.split(raw"\s+").mkString(" ").take(120)}")
      }
    }
    assert(offenders.isEmpty,
      s"round(<transcendental>) is the round-9 cross-engine divergence " +
        s"class — use PortableMath + roundedUnits instead:\n  " +
        offenders.mkString("\n  "))
  }
}

object RoundLintSpec {

  /** Every `.scala` file under `root` with its comments blanked out —
    * block comments (incl. scaladoc), then line comments — keeping the
    * line structure so reported line numbers stay meaningful.
    */
  def sources(root: String): Seq[(java.io.File, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    walk(new java.io.File(root)).map { f =>
      f -> stripComments(new String(java.nio.file.Files.readAllBytes(f.toPath)))
    }
  }

  private def stripComments(src: String): String = {
    val noBlock = raw"(?s)/\*.*?\*/".r
      .replaceAllIn(src, m => m.matched.map(c => if (c == '\n') '\n' else ' '))
    noBlock.linesIterator
      .map(l => l.indexOf("//") match {
        case -1 => l
        case i  => l.substring(0, i)
      })
      .mkString("\n")
  }
}
