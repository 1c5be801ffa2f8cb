package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Names and writes every artifact a query leaves for the DuckDB
  * oracle to replay: fitted models and indexes, format round trips,
  * media hashes, and the raw payload tables below.
  *
  * The payload fixtures are dumped as RAW relational parquet so the
  * oracle can replay the normalize / incremental-load / top-N semantics
  * from the exact same input rows the Spark queries consume. The dumped
  * shape is the post-explode, pre-cast bar (`Normalize.bars`): one
  * row per (symbol, series key) with every numeric still a STRING.
  * Everything the reference's parse loop does after that point — strict
  * key-format timestamp parsing, DECIMAL(15,4)/BIGINT casts, permissive
  * bad-row drop (`main_parallel.py:254-362`) — is then replayable in
  * portable SQL, giving the stock surface the same hash-level
  * differential proof as the corpus queries instead of rows-only checks.
  */
object FixtureTables {

  /** Absolute location the oracle SQL embeds via `read_parquet` — the
    * root for EVERY artifact a query writes and its oracle re-reads
    * (payload raws, classifier weight dumps, shard exports, format
    * round-trips, ANN index stores, media fixtures).
    *
    * PER-PROCESS unique by default, so two JVMs (a Bench interleaved
    * with a Verify, or two Verify generations in the driver's harness)
    * can never overwrite what the other's pending DuckDB compare will
    * replay — the round-9 q124/q125 hash-mismatch class. [[graft.Verify]]
    * pins it to the sibling `<outDir>.fixtures` at startup (before any
    * query or oracle-SQL generation runs), making each verify run's dumps
    * write-once, private, and durable for the compare process that runs
    * afterwards.
    *
    * The default root is read by nothing after its JVM exits, so it is
    * deleted at exit; a pinned root (Verify's, perfbench's) is left for
    * the compare that reads it.
    */
  @volatile var root: String = {
    val default = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_fixture_tables_p${ProcessHandle.current().pid()}")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(default))
    default.getAbsolutePath
  }

  @volatile private var writtenBy: SparkSession = _

  /** Where the artifact `name` fitted over fixture dir `dir` lives:
    * one file per (name, dir) under [[root]], so a run at another dir
    * never overwrites the dump a pending oracle compare replays. The
    * writer and its oracle SQL both go through here.
    */
  def path(name: String, dir: String): String =
    s"$root/${name}_${dir.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** A fitted model or index that queries share, fit at most once per
    * fixture dir in this JVM: the one rule "fit once per dir, write the
    * oracle's dump before anyone sees the model".
    *
    * `apply(s, dir)` runs `fit(s, dir, path(dir))` on the first call
    * for `dir`; `fit` writes whatever the oracle replays at that path
    * before it returns. Later calls return the same value and run no
    * Spark job. A `fit` that throws caches nothing, so the next call
    * fits again. The fixture tables are read-only, so the cached value
    * is exact.
    *
    * Each cell guards its own map with its own lock, held across `fit`:
    * one dir is never fit by two threads at once, so a dump is written
    * once, and a `fit` may call another cell's `apply` (the lock is
    * per cell, and a cell's `fit` never reaches back to itself).
    */
  final class Fitted[M](name: String)(fit: (SparkSession, String, String) => M) {
    private val fits = scala.collection.mutable.HashMap.empty[String, M]

    /** Where this artifact's dump for `dir` lives; the oracle SQL
      * interpolates it with `Corpus.oracleSfDir`.
      */
    def path(dir: String): String = FixtureTables.path(name, dir)

    def apply(s: SparkSession, dir: String): M = synchronized {
      fits.getOrElse(dir, {
        val m = fit(s, dir, path(dir))
        fits(dir) = m
        m
      })
    }

    /** The value fit for `dir`, if any call has fit it; fits nothing. */
    def get(dir: String): Option[M] = synchronized(fits.get(dir))
  }

  /** Writes a small artifact as one parquet file at `path`, replacing
    * what was there.
    */
  def dump(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  private def rawBars(payloads: DataFrame, seriesKey: String): DataFrame =
    Normalize.bars(payloads, seriesKey)
      .select(
        col("company_symbol"), col("k"),
        col("bar")("1. open").as("open_s"),
        col("bar")("2. high").as("high_s"),
        col("bar")("3. low").as("low_s"),
        col("bar")("4. close").as("close_s"),
        col("bar")("5. volume").as("volume_s"))

  private def rawSma(payloads: DataFrame): DataFrame =
    Normalize.bars(payloads, "Technical Analysis: SMA")
      .select(col("company_symbol"), col("k"), col("bar")("SMA").as("sma_s"))

  /** Idempotently (once per session) write the four raw fixture tables. */
  def ensure(spark: SparkSession): String = synchronized {
    if (writtenBy ne spark) {
      dump(rawBars(Fixtures.dailyPayloads(spark), "Time Series (Daily)"),
        s"$root/daily_raw.parquet")
      dump(rawBars(Fixtures.dailyPayloadsNextRun(spark), "Time Series (Daily)"),
        s"$root/daily_raw2.parquet")
      dump(rawBars(Fixtures.intradayPayloads(spark), "Time Series (5min)"),
        s"$root/intraday_raw.parquet")
      dump(rawSma(Fixtures.smaPayloads(spark)), s"$root/sma_raw.parquet")
      writtenBy = spark
    }
    root
  }
}
