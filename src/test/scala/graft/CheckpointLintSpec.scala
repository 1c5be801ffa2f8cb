package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every checkpoint in the engine goes through
  * [[graft.Materialize]], so each reports its measured size to the
  * planner. A bare `localCheckpoint` keeps its plan's size estimate,
  * which compounds with every join over it: joins over tiny frames plan
  * as sort-merge joins, and a state joined once per round grows the
  * estimate until planning itself stalls.
  */
class CheckpointLintSpec extends AnyFunSuite {

  test("no localCheckpoint( outside Materialize: checkpoints go through it") {
    val offenders = RoundLintSpec.sources("src/main/scala").filterNot {
      case (f, _) => f.getPath.endsWith("graft/Materialize.scala")
    }.flatMap {
      case (f, src) =>
        raw"localCheckpoint\(".r.findAllMatchIn(src).map { m =>
          s"${f.getPath}:${src.substring(0, m.start).count(_ == '\n') + 1}"
        }
    }
    assert(offenders.isEmpty,
      s"checkpoint through graft.Materialize instead:\n  " + offenders.mkString("\n  "))
  }
}
