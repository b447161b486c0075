package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.{Pipeline, Service}
import graft.operators.Clean
import graft.sources.{Snapshot, Writers}
import graft.streaming.Refresh
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

/** etl_refresh: the reference's refresh job with writes beside reads.
  * Each round (one cycle) refreshes one wave of per-source JSON files
  * through `Service.refresh()` into JSON + CSV staging, lands the
  * wave's change file on a running `Refresh.snapshotCdcApply` query,
  * and reads: the staged JSON count/freshness and CSV, a key-predicate
  * read of the latest `Snapshot` version, its row count, and
  * `readVersion` of the previous version. After the round, untimed,
  * the same refresh runs with one corrupt source added.
  */
final class Etl(spark: SparkSession, inputs: String, work: String) extends Workload {
  private val in = Paths.get(inputs, "etl")
  private val meta = new ObjectMapper().readTree(in.resolve("meta.json").toFile)
  private val sources = meta.get("sources").elements().asScala.map(_.asText).toSeq
  private val nWaves = meta.get("waves").asInt
  private val nCdc = meta.get("cdc_waves").asInt
  private val probes: Seq[Seq[Long]] = meta.get("probes").elements().asScala
    .map(_.elements().asScala.map(_.asLong).toSeq).toSeq

  private val stage = s"$work/etl/stage"
  private val stageCorrupt = s"$work/etl/stage_corrupt"
  private val streamIn = Paths.get(work, "etl", "stream_in")
  private val tableDir = s"$work/etl/table"
  private val checkpoint = s"$work/etl/checkpoint"

  private val recordSchema = StructType.fromDDL(
    "id BIGINT, name STRING, country STRING, alpha_two_code STRING, " +
      "`state-province` STRING, domains ARRAY<STRING>, web_pages ARRAY<STRING>")
  private val changeSchema = StructType.fromDDL(
    "id BIGINT, name STRING, country STRING, score INT, _deleted BOOLEAN")

  private var goodSinkJsonS, goodSinkCsvS = 0.0
  private var query: StreamingQuery = _
  private var attempts, failures0 = 0L
  private val failed_ = scala.collection.mutable.ArrayBuffer[String]()
  private val cycles = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
  private var lastWave = -1

  override def maxRounds: Int = nCdc - 1

  /** The JIT settles over the first warm cycles (measured: 3.8, 3.3,
    * 3.4 s, then about 2.5 s).
    */
  override def warmupRounds: Int = 3

  def attempted: Long = attempts
  def failed: Long = failures0
  def failures: Seq[String] = failed_.toSeq

  private def fail(msg: String): Unit = { failures0 += 1; failed_ += msg }

  /** The reference's transform (server.js): validate, standardize,
    * derive the primary domain/website, stamp the ingest time.
    */
  private def pipeline(wave: Int, withCorrupt: Boolean): Pipeline = {
    val withSources = sources.foldLeft(Pipeline.builder(spark)) { (p, s) =>
      p.source(s)(_.read.schema(recordSchema).json(in.resolve(s"waves/w$wave/$s.json").toString))
    }
    val all =
      if (!withCorrupt) withSources
      else withSources.source("corrupt")(_.read.schema(recordSchema)
        .parquet(in.resolve("corrupt").toString))
    val staged = if (withCorrupt) stageCorrupt else stage
    all
      .transform(df => Clean.requireFields(df, Seq("name", "country", "web_pages")))
      .transform(Clean.standardize)
      .transform(_.withColumn("primary_domain", Clean.firstOf(col("domains")))
        .withColumn("primary_website", Clean.firstOf(col("web_pages"))))
      .transform(df => Clean.withIngestTimestamp(df))
      .sink("json") { df =>
        val t0 = System.nanoTime()
        Writers.json(df, s"$staged/json")
        if (!withCorrupt) goodSinkJsonS = Main.secs(t0)
      }
      .sink("csv") { df =>
        val t0 = System.nanoTime()
        Writers.csv(df.withColumn("domains", concat_ws(";", col("domains")))
          .withColumn("web_pages", concat_ws(";", col("web_pages"))), s"$staged/csv")
        if (!withCorrupt) goodSinkCsvS = Main.secs(t0)
      }
  }

  private def service(wave: Int, withCorrupt: Boolean): Service =
    new Service(spark, pipeline(wave, withCorrupt), if (withCorrupt) stageCorrupt else stage)

  /** Move change file `i` into the watched directory: one atomic rename. */
  private def land(i: Int): Unit = {
    val name = f"c$i%04d.json"
    val hidden = streamIn.resolve(s".$name")
    Files.copy(in.resolve(s"cdc/$name"), hidden)
    Files.move(hidden, streamIn.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def load(): Unit = {
    Files.createDirectories(streamIn)
    val changes = spark.readStream.schema(changeSchema).json(streamIn.toString)
    query = Refresh.snapshotCdcApply(changes, Seq("id"), Some("_deleted"), tableDir, checkpoint)
    land(0)
    query.processAllAvailable()
  }

  private def dirBytes(dir: String): Double = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0.0
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum.toDouble
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: FileSourceScanExec    => Seq(s)
    case other                    => other.children.flatMap(scans)
  }

  /** Live-file bytes per live row of the latest version. */
  private def bytesPerRow(latest: DataFrame, rows: Long): Double =
    latest.inputFiles.map(f =>
      Files.size(Paths.get(new org.apache.hadoop.fs.Path(f).toUri.getPath))).sum.toDouble / rows

  // what a round leaves for afterRound
  private var obs = scala.collection.mutable.Map[String, Any]()
  private var refreshed: Option[Long] = None
  private var progress: StreamingQueryProgress = _
  private var probe, latest: DataFrame = _
  private var live = 0L

  def round(i: Int): Map[String, Double] = {
    val cycle = i + 1
    val wave = i % nWaves
    lastWave = wave
    obs = scala.collection.mutable.Map[String, Any]("cycle" -> cycle, "wave" -> wave)
    refreshed = None
    progress = null
    probe = null

    // -- refresh --
    val refreshStartMs = System.currentTimeMillis()
    val svc = service(wave, withCorrupt = false)
    var t0 = System.nanoTime()
    val r = svc.refresh()
    val refreshS = Main.secs(t0)
    attempts += 1
    r match {
      case Right(res) =>
        refreshed = Some(res.recordCount)
        obs += "refresh_count" -> res.recordCount
        obs += "refresh_failed_sources" -> res.failedSources
      case Left(e) => fail(s"refresh: $e")
    }
    obs += "refresh_start_ms" -> refreshStartMs

    // -- upsert: land the change wave, wait for the stream --
    attempts += 1
    t0 = System.nanoTime()
    val upsertOk = Try { land(cycle); query.processAllAvailable() }
    val upsertS = Main.secs(t0)
    upsertOk.failed.foreach(e => fail(s"upsert: $e"))
    if (upsertOk.isSuccess) progress = query.lastProgress

    // -- read set --
    attempts += 1
    t0 = System.nanoTime()
    val read = Try {
      val payload = svc.json().fold(e => sys.error(e), identity)
      val csvCount = svc.csv().fold(e => sys.error(e), _.count())
      val latest = Snapshot.read(spark, tableDir)
      val probe = latest.filter(col("id").isin(probes(cycle): _*)).select("id", "name")
      val probeRows = probe.collect()
      val live = latest.count()
      val versions = Snapshot.versions(spark, tableDir)
      val prev = Snapshot.readVersion(spark, tableDir, versions(versions.size - 2)).count()
      (payload, csvCount, probe, probeRows, latest, live, prev)
    }
    val readS = Main.secs(t0)
    read.failed.foreach(e => fail(s"read: $e"))
    read.foreach { case (payload, csvCount, probe_, probeRows, latest_, live_, prev) =>
      obs += "json_count" -> payload.count
      obs += "last_updated_ms" -> payload.lastUpdated.map(_.getTime)
      obs += "csv_count" -> csvCount
      obs += "probes" -> probeRows.map(r => Seq(r.getLong(0), r.getString(1))).toSeq
      obs += "live_count" -> live_
      obs += "prev_version_count" -> prev
      probe = probe_; latest = latest_; live = live_
    }
    Map("etl.refresh_s" -> refreshS, "etl.upsert_s" -> upsertS, "etl.read_s" -> readS)
  }

  def afterRound(i: Int, traced: Boolean): Map[String, Double] = {
    val wave = i % nWaves
    // -- the same refresh with a corrupt source beside the good ones;
    // expected: the good rows load and the corrupt source is listed --
    attempts += 1
    service(wave, withCorrupt = true).refresh() match {
      case Right(res) =>
        obs += "corrupt_count" -> res.recordCount
        obs += "corrupt_failed_sources" -> res.failedSources
        if (!refreshed.contains(res.recordCount) || res.failedSources != Seq("corrupt"))
          fail(s"corrupt-source refresh: count ${res.recordCount}, failed ${res.failedSources}")
      case Left(e) =>
        fail(s"corrupt-source refresh aborted: ${e.takeWhile(_ != '\n').take(160)}")
    }
    cycles += obs.toMap
    if (traced) layers(wave) else Map.empty
  }

  /** The traced round's per-layer values, read after it. */
  private def layers(wave: Int): Map[String, Double] = {
    val layers = scala.collection.mutable.Map[String, Double]()
    // refresh: the sources' extract and the rules' rejections, read apart
    val t0 = System.nanoTime()
    val (raw, _) = pipeline(wave, withCorrupt = false).extract()
    val rowsIn = raw.count()
    layers += "api.extract_s" -> Main.secs(t0)
    val rules = Seq(
      "name" -> (col("name").isNotNull && trim(col("name")) =!= ""),
      "country" -> (col("country").isNotNull && trim(col("country")) =!= ""),
      "web_pages" -> (col("web_pages").isNotNull && size(col("web_pages")) > 0))
    val q = Clean.qualityReport(raw, rules).head()
    layers += "operators.clean.rows_in" -> rowsIn.toDouble
    layers += "operators.clean.rows_out" -> refreshed.getOrElse(0L).toDouble
    rules.foreach { case (n, _) =>
      layers += s"operators.clean.rejected.$n" -> q.getAs[Long](n).toDouble }
    // timed by the sinks during the round's refresh
    layers += "sources.writers.json_s" -> goodSinkJsonS
    layers += "sources.writers.csv_s" -> goodSinkCsvS
    layers += "sources.writers.json_bytes" -> dirBytes(s"$stage/json")
    layers += "sources.writers.csv_bytes" -> dirBytes(s"$stage/csv")
    // upsert: the wave's micro-batch and the commit it made
    if (progress != null) {
      val d = progress.durationMs.asScala
      def ms(k: String) = d.get(k).map(_.toDouble).getOrElse(0.0)
      layers += "streaming.batch.trigger_ms" -> ms("triggerExecution")
      layers += "streaming.batch.add_batch_ms" -> ms("addBatch")
      layers += "streaming.batch.wal_commit_ms" -> ms("walCommit")
      layers += "streaming.batch.query_planning_ms" -> ms("queryPlanning")
      val last = Snapshot.history(spark, tableDir).orderBy(col("version").desc).head()
      val m = last.getAs[scala.collection.Map[String, Long]]("metrics")
      layers += "sources.snapshot.files_added" -> m.getOrElse("files_added", 0L).toDouble
      layers += "sources.snapshot.write_amp" ->
        m.getOrElse("rows_written", 0L) / progress.numInputRows.toDouble
    }
    // read: files the key read scanned against the live files
    if (probe != null) {
      layers += "sources.snapshot.files_scanned" ->
        scans(probe.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum.toDouble
      layers += "sources.snapshot.files_live" -> latest.inputFiles.length.toDouble
      layers += "sources.snapshot.bytes_per_row" -> bytesPerRow(latest, live)
    }
    layers.toMap
  }

  def observe(): Map[String, Any] = {
    query.stop()
    Map("cycles" -> cycles.toSeq, "stage_dir" -> stage, "last_wave" -> lastWave)
  }
}
