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
  * surface only there. This spec runs every such query at sf0.001 and
  * globs every fixture path its oracle SQL names.
  */
class FixtureReplaySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** The quoted paths under [[FixtureTables.root]] that `sql` reads. */
  private def fixturePaths(sql: String): Seq[String] =
    s"'(${java.util.regex.Pattern.quote(FixtureTables.root)}/[^']*)'".r
      .findAllMatchIn(sql).map(_.group(1)).toSeq.distinct

  /** Regular files under [[FixtureTables.root]] matching a DuckDB-style
    * glob (`*` stays within one path segment, as in `java.nio`'s glob).
    */
  private def globbed(pattern: String): Seq[Path] = {
    val matcher = FileSystems.getDefault.getPathMatcher(s"glob:$pattern")
    Using.resource(Files.walk(Paths.get(FixtureTables.root)))(_.iterator.asScala
      .filter(p => Files.isRegularFile(p) && matcher.matches(p)).toList)
  }

  /** Runs `body` with the oracle SQL describing `sfDir`. */
  private def atSfDir[A](body: => A): A = {
    val prior = Corpus.oracleSfDir
    Corpus.oracleSfDir = sfDir
    try body finally Corpus.oracleSfDir = prior
  }

  test("every query whose oracle replays a fixture file leaves that file behind") {
    atSfDir {
      val replayed = SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (name, sql) => name -> fixturePaths(sql) }
        .filter(_._2.nonEmpty)
      assert(replayed.map(_._1).contains("q128_auc_by_slice"),
        s"no oracle names a path under ${FixtureTables.root}")
      replayed.foreach { case (name, _) =>
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      val missing = for {
        (name, paths) <- replayed
        p <- paths if globbed(p).isEmpty
      } yield s"$name: $p"
      assert(missing.isEmpty,
        s"${missing.size} oracle fixture path(s) match no file:\n  " +
          missing.mkString("\n  "))
    }
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
