package graft

import java.nio.file.{FileSystems, Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.ingest.FixtureTables
import graft.queries.Corpus

/** The dump-then-replay protocol: about thirty queries fit or write an
  * artifact under [[FixtureTables.root]] and their DuckDB oracle reads
  * it back. The oracle compare itself runs outside `sbt test`, so a
  * writer and an oracle that drift apart on a file name would otherwise
  * surface only there. The replay is one check of the [[Surface]] walk:
  * after each such query has run at sf0.001, it globs every fixture path
  * the query's oracle SQL names.
  */
object FixtureReplaySpec {

  /** The quoted paths under [[FixtureTables.root]] that `sql` reads. */
  def fixturePaths(sql: String): Seq[String] =
    s"'(${java.util.regex.Pattern.quote(FixtureTables.root)}/[^']*)'".r
      .findAllMatchIn(sql).map(_.group(1)).toSeq.distinct

  /** Regular files under [[FixtureTables.root]] matching a DuckDB-style
    * glob (`*` stays within one path segment, as in `java.nio`'s glob).
    */
  def globbed(pattern: String): Seq[Path] = {
    val matcher = FileSystems.getDefault.getPathMatcher(s"glob:$pattern")
    Using.resource(Files.walk(Paths.get(FixtureTables.root)))(_.iterator.asScala
      .filter(p => Files.isRegularFile(p) && matcher.matches(p)).toList)
  }

  /** Runs `body` with the oracle SQL describing [[Surface.sfDir]]. */
  def atSfDir[A](body: => A): A = {
    val prior = Corpus.oracleSfDir
    Corpus.oracleSfDir = Surface.sfDir
    try body finally Corpus.oracleSfDir = prior
  }

  /** Each query whose oracle names a fixture path, with those paths. */
  def replayed: Map[String, Seq[String]] = atSfDir(SparkEntry.oracleSql
    .map { case (name, sql) => name -> fixturePaths(sql) }.filter(_._2.nonEmpty))

  /** The replay as a [[Surface]] check, run after the query has. */
  def replay: Surface.Check = {
    val paths = replayed
    (name, _) => paths.getOrElse(name, Nil).filter(globbed(_).isEmpty)
      .map(p => s"$name: $p")
  }
}

class FixtureReplaySpec extends SparkSpec {
  import FixtureReplaySpec._, Surface.sfDir

  test("every query whose oracle replays a fixture file leaves that file behind") {
    assert(replayed.contains("q128_auc_by_slice"),
      s"no oracle names a path under ${FixtureTables.root}")
    val missing = Surface.findings(Surface.Replay)
    assert(missing.isEmpty,
      s"${missing.size} oracle fixture path(s) match no file:\n  " +
        missing.mkString("\n  "))
  }

  test("q128_auc_by_slice dumps its classifier weights once per dir") {
    atSfDir {
      val weights = fixturePaths(SparkEntry.oracleSql("q128_auc_by_slice"))
      assert(weights.size == 1, s"expected one weight dump, got $weights")
      val q128 = SparkEntry.queries("q128_auc_by_slice")
      // file names carry a per-write id, so a rewrite shows even when it
      // lands within the file system's timestamp resolution
      def listing(): Seq[(String, Long)] = globbed(weights.head)
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .sorted
      q128(spark, sfDir)
      val first = listing()
      assert(first.nonEmpty, s"no file matches ${weights.head}")
      q128(spark, sfDir)
      assert(listing() == first)
    }
  }
}
