package graft.api

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/** The user-facing ETL surface — a Spark-native replacement for the
  * reference service (reference: server.js). Maps one-to-one:
  *
  *   - `source(...)+`    ⇔ extract: N sources fetched and unioned,
  *                          partial-failure tolerant (server.js:39-59
  *                          logs and skips a failed country fetch)
  *   - `transform(...)+` ⇔ the transform stage (server.js:65-97)
  *   - `sink(...)+`      ⇔ load: JSON + CSV staging (server.js:100-137)
  *   - `refresh()`       ⇔ POST /api/refresh + the cron run — one
  *                          batch execution returning a record count
  *                          (server.js:140-166, 222-239)
  *   - `report(df)`      ⇔ GET /api/universities/json count/freshness
  *                          header (server.js:200-219)
  *
  * The scheduled daily run (server.js:264-269) is
  * `graft.streaming.Refresh` — incremental, checkpointed, exactly-once
  * per file, instead of a full re-pull per cron tick.
  */
final class Pipeline private (
    spark: SparkSession,
    sources: Vector[(String, SparkSession => DataFrame)],
    transforms: Vector[DataFrame => DataFrame],
    sinks: Vector[(String, DataFrame => Unit)]) {

  def source(name: String)(f: SparkSession => DataFrame): Pipeline =
    new Pipeline(spark, sources :+ (name -> f), transforms, sinks)

  def transform(f: DataFrame => DataFrame): Pipeline =
    new Pipeline(spark, sources, transforms :+ f, sinks)

  def sink(name: String)(f: DataFrame => Unit): Pipeline =
    new Pipeline(spark, sources, transforms, sinks :+ (name -> f))

  /** Extract: union all sources by name, skipping (and reporting)
    * failures — the reference tolerates a failing country fetch.
    */
  def extract(): (DataFrame, Seq[String]) = {
    val (built, failed) = build()
    (union(built), failed)
  }

  def transformed(): DataFrame = {
    val (raw, _) = extract()
    transforms.foldLeft(raw)((df, f) => f(df))
  }

  /** One batch ETL run: extract → transform → load to every sink.
    * Returns (recordCount, failedSources).
    *
    * The transformed set is persisted and filled by one pass into the
    * noop sink before any sink runs, so an execution failure (a
    * corrupt source, a transform that fails on some row) surfaces
    * before a sink has overwritten its previous output. The record
    * count is observed on that pass, with no job of its own: observed
    * metrics are merged once per partition from the result stage's
    * successful tasks, never from a failed attempt, so the count is
    * exact on every master.
    *
    * A source can also fail only at execution (a corrupt file, a path
    * gone since planning), which aborts the fill. Then each source
    * runs alone once into the noop sink; the ones that fail are
    * dropped and listed, and the rest load once more. If no source
    * fails alone (a failing transform), the original error is
    * rethrown. A failing sink runs on the filled cache and fails the
    * refresh; it is never blamed on a source.
    */
  def refresh(): Pipeline.RefreshResult = {
    val (built, failed) = build()
    load(built, failed) match {
      case Success(r) => r
      case Failure(e) =>
        val bad = built.collect {
          case (n, df) if Try(df.write.format("noop").mode("overwrite").save()).isFailure => n
        }
        if (bad.isEmpty) throw e
        load(built.filterNot { case (n, _) => bad.contains(n) }, failed ++ bad).get
    }
  }

  /** Each source that builds, by name, and the names of those that don't. */
  private def build(): (Seq[(String, DataFrame)], Seq[String]) = {
    val attempts = sources.map { case (name, f) => name -> Try(f(spark)) }
    (attempts.collect { case (n, Success(df)) => n -> df },
      attempts.collect { case (n, Failure(_)) => n })
  }

  private def union(built: Seq[(String, DataFrame)]): DataFrame = {
    require(built.nonEmpty, "all sources failed")
    built.map(_._2).reduce(_ unionByName _)
  }

  /** Transform, fill and count in one pass, then sink; a Failure only
    * when that pass fails.
    */
  private def load(built: Seq[(String, DataFrame)],
      failed: Seq[String]): Try[Pipeline.RefreshResult] = {
    val out = transforms.foldLeft(union(built))((df, f) => f(df))
    // cache: each sink re-reads the transformed set, not the sources
    val cached = out.persist()
    try {
      val rows = Observation()
      val counted = Try {
        cached.observe(rows, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        rows.get("n").asInstanceOf[Long]
      }
      // sinks run outside the Try: a failing sink is no failing source
      counted.foreach(_ => sinks.foreach { case (_, s) => s(cached) })
      counted.map(Pipeline.RefreshResult(_, failed))
    } finally { cached.unpersist(); () }
  }

  /** Freshness/count report over an id + timestamp column. Exact
    * distinct — the oracle-comparable form; the count-distinct forces
    * an Expand + distinct shuffle over every id.
    */
  def report(df: DataFrame, idCol: String, tsCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("record_count"),
      countDistinct(col(idCol)).as("distinct_ids"),
      max(col(tsCol)).as("last_updated"))

  /** The 100 TB serving form of [[report]]: HLL sketch instead of the
    * exact distinct, so the whole report is one pure partial
    * aggregation (each map task carries one register set; the shuffle
    * is O(1) rows). `rsd` is the HLL relative standard deviation;
    * accuracy vs the exact report is asserted in PipelineSpec.
    */
  def approxReport(df: DataFrame, idCol: String, tsCol: String,
      rsd: Double = 0.01): DataFrame =
    df.agg(
      count(lit(1)).as("record_count"),
      approx_count_distinct(col(idCol), rsd).as("distinct_ids"),
      max(col(tsCol)).as("last_updated"))
}

object Pipeline {
  final case class RefreshResult(recordCount: Long, failedSources: Seq[String])

  def builder(spark: SparkSession): Pipeline =
    new Pipeline(spark, Vector.empty, Vector.empty, Vector.empty)
}
