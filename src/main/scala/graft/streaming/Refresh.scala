package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming re-expression of the reference's orchestration
  * (reference: server.js:264-269 — cron full re-pull daily). Instead
  * of re-reading the world per tick, the file-source stream tracks
  * which files were already processed (checkpoint) and each trigger
  * handles only new data — incremental, exactly-once per input file,
  * and identical code runs continuously or one-shot.
  */
object Refresh {

  /** One "cron tick": process everything new under `srcDir` through
    * `transform` into an append parquet sink, then stop. Re-invoking
    * with the same checkpoint resumes where it left off — the
    * scheduler (cron, Airflow, …) just calls this.
    */
  def runOnce(spark: SparkSession, srcDir: String, schema: StructType,
      transform: DataFrame => DataFrame, outDir: String, checkpointDir: String): Unit = {
    val in  = spark.readStream.schema(schema).parquet(srcDir)
    val out = transform(in)
    val q = out.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked tumbling-window aggregation over an event stream —
    * the streaming form of the batch `q17_events_window` query.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowLen: String, watermark: String): DataFrame =
    windowedCounts(events.withWatermark(tsCol, watermark),
      tsCol, keyCol, valueCol, windowLen)

  /** Watermark-INHERITING form for pipeline composition: Spark
    * forbids redefining a watermark, so a stream that already
    * declared one upstream (e.g. through [[dedupStreamBounded]])
    * must flow into the aggregation as-is — found by the end-to-end
    * pipeline spec, where dedup → windowed agg is the natural chain.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowLen: String): DataFrame =
    events
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("total"))

  /** Streaming incremental distinct-count per window: the aggregation
    * state IS a mergeable HLL sketch binary (see operators.Sketches
    * for the batch rollup twin), so state size per window is ~2.5 KB
    * regardless of cardinality — the streaming form of "distinct
    * users per hour" that a count-distinct cannot express
    * incrementally (exact distinct state grows O(users)).
    */
  def windowedDistinct(events: DataFrame, tsCol: String, keyCol: String,
      windowLen: String, watermark: String, lgK: Int = 12): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(expr(s"hll_sketch_agg(${graft.operators.Sketches.qid(keyCol)}, $lgK)").as("sk"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        expr("hll_sketch_estimate(sk)").as("approx_distinct"),
        col("n_events"))

  /** Gap-based session aggregation via the NATIVE `session_window`
    * (declarative alternative to the flatMapGroupsWithState
    * [[sessionize]]): Catalyst manages session state merging in the
    * state store — no user state code, and the same call works in
    * batch. Prefer this form when the per-session output is an
    * aggregate; drop to [[sessionize]] only for custom in-session
    * logic the agg functions can't express.
    */
  def sessionWindowAgg(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"), col("total"))

  /** Stream-static enrichment: each micro-batch left-joins the
    * (small) static dimension, broadcast — the streaming side is never
    * shuffled, and the dimension is re-resolved per batch so a
    * refreshed dim table is picked up without restarting the query.
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left_outer")

  /** Streaming exact dedup on a key with state TTL via watermark —
    * `dropDuplicates` backed by the state store.
    */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Streaming dedup with BOUNDED state: unlike [[dedupStream]] (drops
    * every later duplicate of a key seen since the query started,
    * keyed state never expiring without the event-time column in the
    * key), `dropDuplicatesWithinWatermark` deduplicates keys whose
    * duplicates arrive within the watermark delay of each other and
    * EVICTS the key's state once the watermark passes it — the right
    * semantics when ids can legitimately recur after a quiet period
    * (retried webhooks, at-least-once sources) and the state store
    * must stay O(keys-per-watermark-window) at 100 TB/day rates.
    */
  def dedupStreamBounded(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Writer identity for the exactly-once cursors: the streaming
    * QUERY id (stable across restarts of the same checkpoint — it
    * lives in the checkpoint metadata), read from the local property
    * StreamExecution sets on the foreachBatch thread. Direct batch
    * calls (tests, backfills) fall back to a fixed identity, which
    * reproduces the plain high-water-mark behavior.
    */
  private[streaming] def txnIdentity(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("default")

  /** The exactly-once cursor for the foreachBatch sinks: writer
    * identity + highest micro-batch id it fully applied to the dataset
    * at `outDir`, stored as a SIBLING file (`<outDir>.last_batch`) —
    * beside, not inside, because [[applyCdcBatch]]'s full overwrite
    * deletes everything under outDir. Written via temp + atomic rename
    * AFTER the data write commits, so the marker can lag the data
    * (crash between the two) but never lead it: a replayed batch
    * either skips (marker present) or re-applies — and both sink
    * merges are idempotent for a repeated batch, so either path
    * converges to exactly-once state. The identity half is what makes
    * a FRESH checkpoint pointed at an existing outDir safe: its batch
    * ids restart at 0, and an identity-blind `>=` check would silently
    * skip every one of its batches.
    */
  private[streaming] def lastAppliedBatch(
      spark: SparkSession, outDir: String): Option[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(outDir + ".last_batch")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      text.lastIndexOf(':') match {
        case -1 => Some(("default", text.toLong)) // pre-identity marker
        case i => Some((text.substring(0, i), text.substring(i + 1).toLong))
      }
    }
  }

  /** Skip rule shared by the marker sinks: covered iff the SAME writer
    * already applied this batch id.
    */
  private def alreadyApplied(spark: SparkSession, outDir: String,
      batchId: Long): Boolean =
    lastAppliedBatch(spark, outDir).exists { case (app, b) =>
      app == txnIdentity(spark) && b >= batchId
    }

  private def recordAppliedBatch(spark: SparkSession, outDir: String,
      batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir + ".last_batch")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      outDir + s".last_batch.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(s"${txnIdentity(spark)}:$batchId".getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) { fs.delete(tmp, false) }
  }

  /** Apply ONE micro-batch of the merge-on-write upsert — the body of
    * [[upsertByKey]], exposed so the exactly-once contract is testable
    * without a running query: calling it twice with the same batchId
    * is a no-op the second time (marker skip), and a replay AFTER a
    * crash that lost the marker re-merges idempotently.
    */
  def applyUpsertBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      versionCol: String, outDir: String, nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    // Replay of an already-applied batch (restart after a crash that
    // committed the sink but not the checkpoint): skip. Batch ids are
    // monotone per checkpoint, so one high-water mark suffices.
    if (alreadyApplied(spark, outDir, batchId)) return
    // Append-mode upstreams (windowed aggs) emit NOTHING until the
    // watermark closes a window — an unguarded empty first batch
    // would write a _SUCCESS-only directory that flips
    // `initialized` while leaving no parquet footers to read, and
    // every later batch dies on schema inference. Skip empty
    // batches outright: there is nothing to merge.
    if (!batch.isEmpty) {
      val keyCols = keys.map(col)
      val w = Window.partitionBy(keyCols: _*)
        .orderBy(desc(versionCol))
      val latest = batch
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        .withColumn("__bkt", pmod(xxhash64(keyCols: _*), lit(nBuckets)))
      // "has a prior write happened" must be answered on whatever
      // filesystem outDir lives on (HDFS/S3/local) — the Hadoop FS
      // API, never java.io.File, which silently answers false off the
      // driver's local disk and would make every batch a full rewrite.
      // NOT the _SUCCESS marker: the dynamic-partition-overwrite commit
      // protocol never writes one, so a _SUCCESS probe is false FOREVER
      // on this sink and every batch silently degrades to
      // write-latest-only — wiping any key that shares a bucket with an
      // updated key (caught by the exactly-once replay spec: keys 3 and
      // 4 colliding in one bucket of 4). The real signal is the
      // dataset's own partition layout.
      val outPath = new org.apache.hadoop.fs.Path(outDir)
      val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val initialized = fs.exists(outPath) &&
        fs.listStatus(outPath).exists(s =>
          s.isDirectory && s.getPath.getName.startsWith("__bkt="))
      val merged =
        if (initialized) {
          val existing = spark.read.parquet(outDir)
          val affected = latest.select(col("__bkt")).distinct()
          existing
            .join(broadcast(affected), Seq("__bkt"), "left_semi")   // only touched buckets
            .join(latest.select(keyCols: _*), keys, "left_anti")    // drop superseded keys
            .unionByName(latest)
        } else latest
      // materialize before overwriting the directory being read
      val snapshot = merged.localCheckpoint(true)
      // dynamic overwrite scoped to THIS write via the writer option —
      // no session-conf mutation (a concurrent query in the same
      // session would otherwise observe the flipped mode)
      snapshot.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bkt").parquet(outDir)
    }
    recordAppliedBatch(spark, outDir, batchId)
  }

  /** Streaming eval-set decontamination gate: stream-static LEFT ANTI
    * equi-join on the canonical text fingerprint
    * (TextAnalysis.fingerprintMd5 — the same normalization the batch
    * exact dedup uses), dropping any streamed document whose
    * normalized text appears verbatim in the static eval frame.
    * Stateless per micro-batch (no watermark, no state store) and the
    * eval side broadcasts, so the stream is never shuffled. The
    * n-gram OVERLAP form (Curation.decontaminate) needs a doc-level
    * re-aggregation continuous mode can't express without closing a
    * window — run THAT inside a foreachBatch sink when gram-level
    * decontamination is required (each micro-batch is a full batch
    * frame there); this gate is the in-stream exact-match companion.
    */
  def decontaminateStreamExact(stream: DataFrame, eval: DataFrame,
      textCol: String): DataFrame = {
    val evalFps = broadcast(
      eval.select(graft.operators.TextAnalysis
        .fingerprintMd5(col(textCol)).as("__fp")).distinct())
    stream
      .withColumn("__fp",
        graft.operators.TextAnalysis.fingerprintMd5(col(textCol)))
      .join(evalFps, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Streaming upsert (merge-on-write) into a bucket-partitioned
    * parquet dataset via foreachBatch:
    *
    *   1. keep the latest row per key within the micro-batch;
    *   2. hash keys into `nBuckets` partition directories;
    *   3. rewrite ONLY the affected buckets — surviving old rows of
    *      those buckets union the new rows, written with dynamic
    *      partition overwrite.
    *
    * At scale the rewrite cost per batch is proportional to the
    * touched buckets, not the dataset: this is the standard
    * merge-on-write layout (what table formats do per file group)
    * expressed with plain parquet + partition overwrite. Restart
    * replays are EXACTLY-ONCE: each applied batch id is recorded in a
    * sibling marker ([[applyUpsertBatch]]), so foreachBatch's
    * at-least-once contract never double-merges.
    */
  def upsertByKey(stream: DataFrame, keys: Seq[String], versionCol: String,
      outDir: String, checkpointDir: String, nBuckets: Int = 64): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyUpsertBatch(batch, batchId, keys, versionCol, outDir, nBuckets)
      }
      .start()

  /** Streaming CDC apply: each micro-batch of change rows (full-row
    * upserts + an optional tombstone flag) merges into a parquet
    * snapshot through [[graft.operators.Merge.upsert]] — the
    * streaming face of the batch MERGE, closing the loop from a
    * change feed to a queryable table. Batches must be key-unique
    * (feed through dedupStream or a latest-per-key compaction
    * upstream). The merged result is materialized (eager
    * localCheckpoint, single consumer) before overwriting the
    * directory it was read from.
    */
  def cdcApply(changes: DataFrame, keys: Seq[String], deleteCol: Option[String],
      outDir: String, checkpointDir: String): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyCdcBatch(batch, batchId, keys, deleteCol, outDir)
      }
      .start()

  /** Apply ONE micro-batch of the CDC merge — the body of
    * [[cdcApply]], exposed for the same testable-exactly-once reason
    * as [[applyUpsertBatch]]: a replayed batch id skips on the marker,
    * and a replay that lost the marker (crash between data write and
    * marker rename) re-merges idempotently (same key-unique changes
    * onto the post-apply snapshot: updates rewrite identical values,
    * tombstones re-delete absent keys).
    */
  def applyCdcBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      deleteCol: Option[String], outDir: String): Unit = {
    val spark = batch.sparkSession
    if (alreadyApplied(spark, outDir, batchId)) return
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val initialized =
      fs.exists(new org.apache.hadoop.fs.Path(outPath, "_SUCCESS"))
    val merged =
      if (initialized)
        graft.operators.Merge.upsert(spark.read.parquet(outDir), batch, keys, deleteCol)
      else {
        val live = deleteCol
          .map(d => batch.filter(!coalesce(col(d), lit(false))))
          .getOrElse(batch)
        deleteCol.map(live.drop(_)).getOrElse(live)
      }
    val snapshot = merged.localCheckpoint(true)
    snapshot.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(outDir)
    recordAppliedBatch(spark, outDir, batchId)
  }

  /** Streaming CDC apply into a [[graft.sources.Snapshot]] table —
    * the exactly-once-BY-CONSTRUCTION sink: each micro-batch commits
    * one snapshot version carrying its batch id in the manifest, so
    * the skip check and the data write are the SAME atomic manifest
    * rename (no marker-lag window at all), and every batch boundary
    * is a time-travelable version. Use this over [[cdcApply]] when
    * the sink table needs snapshot isolation for concurrent readers.
    */
  def snapshotCdcApply(changes: DataFrame, keys: Seq[String],
      deleteCol: Option[String], tableDir: String,
      checkpointDir: String): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applySnapshotCdcBatch(batch, batchId, keys, deleteCol, tableDir)
      }
      .start()

  /** One micro-batch of [[snapshotCdcApply]]: skip if the table's
    * manifest cursor already covers `batchId`, else upsert-commit a
    * new version recording it. An empty batch mints no version; the
    * upsert reads emptiness off the key-range aggregate it runs
    * anyway, so a non-empty batch pays no emptiness probe.
    */
  def applySnapshotCdcBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      deleteCol: Option[String], tableDir: String): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Snapshot
    val app = txnIdentity(spark)
    // identity-aware skip: only THIS writer's per-app cursor counts — a
    // fresh checkpoint's batch 0 against an existing table must apply
    if (Snapshot.txnCursor(spark, tableDir, app).exists(_ >= batchId)) return
    try {
      if (Snapshot.latestVersion(spark, tableDir).isEmpty) {
        if (batch.isEmpty) return // don't mint an empty first version
        val live = deleteCol
          .map(d => batch.filter(!coalesce(col(d), lit(false))))
          .getOrElse(batch)
        Snapshot.commit(spark, tableDir,
          deleteCol.map(live.drop(_)).getOrElse(live), Some(batchId), Some(app))
      } else
        Snapshot.upsertChanges(spark, tableDir, batch, keys, deleteCol, Some(batchId),
          Some(app), mintEmpty = false)
    } catch {
      // a racing twin of this query published the epoch first (zombie
      // driver during failover): already applied, skip idempotently
      case _: graft.sources.EpochAlreadyCommittedException => ()
    }
    ()
  }

  /** Streaming APPEND into a [[graft.sources.Snapshot]] table — the
    * exactly-once ingest sink for insert-only streams (event logs,
    * CDC-free fact feeds): each micro-batch becomes one `append`
    * version (O(batch) I/O — previous files carry over by manifest
    * reference), the batch id rides the manifest so skip check and
    * data publish are one atomic rename, and every batch boundary is
    * a time-travelable version. Pair with a scheduled
    * [[graft.sources.Snapshot.optimize]] to fold the accumulated
    * small-file tail back into well-sized, skippable files — the two
    * halves of the standard streaming-table maintenance loop.
    */
  def snapshotAppend(rows: DataFrame, tableDir: String,
      checkpointDir: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applySnapshotAppendBatch(batch, batchId, tableDir)
      }
      .start()

  /** One micro-batch of [[snapshotAppend]]: skip if THIS writer's
    * manifest cursor already covers `batchId`, else append-commit a
    * new version recording it.
    */
  def applySnapshotAppendBatch(batch: DataFrame, batchId: Long,
      tableDir: String): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Snapshot
    val app = txnIdentity(spark)
    if (Snapshot.txnCursor(spark, tableDir, app).exists(_ >= batchId)) return
    if (batch.isEmpty) return // don't mint empty versions
    try {
      if (Snapshot.latestVersion(spark, tableDir).isEmpty)
        Snapshot.commit(spark, tableDir, batch, Some(batchId), Some(app))
      else
        Snapshot.append(spark, tableDir, batch, Some(batchId), Some(app))
    } catch {
      case _: graft.sources.EpochAlreadyCommittedException => ()
    }
    ()
  }

  /** Exactly-once streaming PARTITION OVERWRITE into a snapshot table
    * (`Snapshot.replaceWhere` per micro-batch) — the "recompute and
    * overwrite the day" idiom: each batch carries fully-recomputed
    * rows for one or more values of `partitionCol`; the sink
    * atomically replaces exactly those partitions' rows with the
    * batch, in ONE version per batch. Re-emitting a partition in a
    * later batch REPLACES it (vs [[snapshotAppend]]'s accumulate),
    * which is what makes late full-partition restatements idempotent
    * at the table: the final state is "last write per partition wins",
    * and a crash-replayed batch id is a manifest-cursor no-op.
    *
    * Scale shape: the batch's distinct partition values are collected
    * (bounded by partitions-touched-per-batch — a recompute pipeline
    * emits a handful); on a table range-clustered by `partitionCol`
    * the replace drops/rewrites only the touched range's files.
    */
  def snapshotReplaceWhere(rows: DataFrame, tableDir: String,
      partitionCol: String, checkpointDir: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applySnapshotReplaceBatch(batch, batchId, tableDir, partitionCol)
      }
      .start()

  /** One micro-batch of [[snapshotReplaceWhere]]: skip on a covered
    * cursor, commit the table on first contact, else replaceWhere the
    * batch's partition-value set.
    */
  def applySnapshotReplaceBatch(batch: DataFrame, batchId: Long,
      tableDir: String, partitionCol: String): Unit = {
    val spark = batch.sparkSession
    import graft.sources.Snapshot
    val app = txnIdentity(spark)
    if (Snapshot.txnCursor(spark, tableDir, app).exists(_ >= batchId)) return
    if (batch.isEmpty) return // don't mint empty versions
    try {
      if (Snapshot.latestVersion(spark, tableDir).isEmpty) {
        Snapshot.commit(spark, tableDir, batch, Some(batchId), Some(app))
        return
      }
      val parts = batch.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)).toSeq
      // a NULL partition value must claim the NULL partition explicitly:
      // isin(null, …) evaluates to NULL for the null row, which would
      // trip replaceWhere's rows-must-satisfy-predicate contract and
      // wedge the stream (the replay re-fails forever)
      val nonNull = parts.filter(_ != null)
      val cond0 =
        if (nonNull.isEmpty) lit(false)
        else col(partitionCol).isin(nonNull: _*)
      val cond =
        if (parts.contains(null)) cond0 || col(partitionCol).isNull
        else cond0
      Snapshot.replaceWhere(spark, tableDir, cond, batch, Some(batchId), Some(app))
    } catch {
      case _: graft.sources.EpochAlreadyCommittedException => ()
    }
    ()
  }

  /** Stream-stream interval join: each left event matched to right
    * events with the same key whose time is within
    * [leftTs - lookback, leftTs]. BOTH sides carry watermarks and the
    * join condition bounds event time in BOTH directions — that pair
    * is what lets Spark expire buffered state (an unbounded condition
    * would buffer both streams forever; at scale that's an OOM, not a
    * semantics choice). The streaming counterpart of the batch as-of /
    * range joins (AsOf, RangeJoin).
    *
    * Column names must be disjoint across the two sides (keyed join
    * columns excepted via explicit equality on distinct names).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      lookback: String, watermark: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) <= col(leftTs) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback"))

  final case class UserStats(user_id: Long, n_events: Long, total_value: Double, max_value: Double)

  /** transformWithState processor: one ValueState cell per user holds
    * the running (n, Σvalue, max); each batch touching a user emits the
    * refreshed row. The arbitrary-state successor of
    * flatMapGroupsWithState — typed state cells from a handle instead
    * of one opaque blob, so adding a state variable doesn't version-
    * break the whole snapshot.
    */
  private class RunningStatsProcessor
      extends StatefulProcessor[Long, (Long, Double), UserStats] {
    @transient private var state: ValueState[StatsCell] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[StatsCell]("stats",
        org.apache.spark.sql.Encoders.product[StatsCell], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        tv: TimerValues): Iterator[UserStats] = {
      var c = if (state.exists()) state.get() else StatsCell(0L, 0.0, Double.MinValue)
      rows.foreach { case (_, v) =>
        c = StatsCell(c.n + 1, c.total + v, math.max(c.mx, v))
      }
      state.update(c)
      Iterator.single(UserStats(key, c.n, c.total, c.mx))
    }
  }

  /** Streaming per-window quantiles with MERGEABLE KLL sketch state —
    * the quantile twin of [[windowedDistinct]]: the aggregation state
    * is a ~5 KB KLL sketch binary per window regardless of row count
    * (exact per-window quantiles would buffer O(rows) state), so
    * late-arriving batches merge into existing window state at
    * sketch-merge cost. Rank error is the KLL bound (~1.7% two-sided
    * at k=200), asserted in StreamingSpec.
    */
  def windowedQuantiles(events: DataFrame, tsCol: String, valueCol: String,
      windowLen: String, watermark: String, k: Int = 200): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(expr(s"kll_sketch_agg_double(CAST(${graft.operators.Sketches.qid(valueCol)} AS DOUBLE), $k)").as("sk"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        expr("kll_sketch_get_quantile_double(sk, CAST(0.5 AS DOUBLE))").as("p50"),
        expr("kll_sketch_get_quantile_double(sk, CAST(0.95 AS DOUBLE))").as("p95"),
        col("n_events"))

  final case class UserQuantiles(user_id: Long, n: Long, p50: Double, p95: Double)

  /** transformWithState processor holding a KLL sketch BINARY in
    * ValueState: running per-key quantiles maintained incrementally
    * across micro-batches. The sketch serializes to ~5 KB independent
    * of n — the bounded-state form of "running p50/p95 per entity"
    * (an exact running quantile needs O(n) state per key). For n < k
    * the sketch is exact, so small keys read out precisely.
    */
  private class RunningQuantilesProcessor(k: Int)
      extends StatefulProcessor[Long, (Long, Double), UserQuantiles] {
    @transient private var state: ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Array[Byte]]("kll",
        org.apache.spark.sql.Encoders.BINARY, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        tv: TimerValues): Iterator[UserQuantiles] = {
      import org.apache.datasketches.kll.KllDoublesSketch
      import org.apache.datasketches.memory.Memory
      val sk = if (state.exists())
        KllDoublesSketch.heapify(Memory.wrap(state.get()))
      else KllDoublesSketch.newHeapInstance(k)
      rows.foreach { case (_, v) => sk.update(v) }
      state.update(sk.toByteArray)
      Iterator.single(UserQuantiles(key, sk.getN,
        sk.getQuantile(0.5), sk.getQuantile(0.95)))
    }
  }

  final case class DriftStatus(key: Long, n_since_reset: Long, ph: Double, alarms: Long)

  /** transformWithState processor: Page–Hinkley mean-increase drift
    * state per key (running mean, cumulative deviation m_T and its
    * minimum — a few doubles, O(1) per key). On PH = m_T − min > λ the
    * detector fires and resets, so `alarms` counts distinct drift
    * episodes. The streaming twin of the batch q185_page_hinkley
    * query: the batch form replays history; this one maintains the
    * statistic incrementally so a level shift on a metric stream
    * raises an alert within the micro-batch that crosses λ.
    */
  private class PageHinkleyProcessor(delta: Double, lambda: Double)
      extends StatefulProcessor[Long, (Long, Double), DriftStatus] {
    @transient private var state: ValueState[PhCell] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[PhCell]("ph",
        org.apache.spark.sql.Encoders.product[PhCell], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        tv: TimerValues): Iterator[DriftStatus] = {
      var c = if (state.exists()) state.get() else PhCell(0L, 0.0, 0.0, 0.0, 0L)
      rows.foreach { case (_, v) =>
        val n = c.n + 1
        val mean = c.mean + (v - c.mean) / n
        val mt = c.mt + (v - mean - delta)
        val mtMin = math.min(c.mtMin, mt)
        c = if (mt - mtMin > lambda) PhCell(0L, 0.0, 0.0, 0.0, c.alarms + 1)
          else PhCell(n, mean, mt, mtMin, c.alarms)
      }
      state.update(c)
      Iterator.single(DriftStatus(key, c.n, c.mt - c.mtMin, c.alarms))
    }
  }

  /** Streaming Page–Hinkley drift monitor over a keyed value stream
    * (`user_id`, `value` columns, like [[runningUserStats]]): emits
    * the refreshed PH statistic and episode count per touched key each
    * micro-batch. RocksDB state store required, state is O(keys)·O(1).
    */
  def driftMonitor(events: DataFrame, delta: Double = 0.005,
      lambda: Double = 50.0): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new PageHinkleyProcessor(delta, lambda),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  final case class CusumStatus(key: Long, n_since_reset: Long,
      s_pos: Double, s_neg: Double, alarms: Long)

  /** transformWithState processor: two-sided tabular CUSUM against a
    * fixed target mean. S⁺ accumulates positive drift beyond the
    * slack k, S⁻ negative drift; crossing h fires an alarm and resets
    * both arms. O(1) doubles per key. The streaming twin of the batch
    * q83_cusum changepoint statistic — and the classic SPC companion
    * to the Page–Hinkley monitor above (PH tracks a self-estimated
    * mean; CUSUM audits against an EXTERNAL target, so it also
    * catches a stream that starts out already off-target).
    */
  private class CusumProcessor(target: Double, slack: Double, h: Double)
      extends StatefulProcessor[Long, (Long, Double), CusumStatus] {
    @transient private var state: ValueState[CusumCell] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CusumCell]("cusum",
        org.apache.spark.sql.Encoders.product[CusumCell], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        tv: TimerValues): Iterator[CusumStatus] = {
      var c = if (state.exists()) state.get() else CusumCell(0L, 0.0, 0.0, 0L)
      rows.foreach { case (_, v) =>
        val sp = math.max(0.0, c.sPos + (v - target - slack))
        val sn = math.max(0.0, c.sNeg + (target - v - slack))
        c = if (sp > h || sn > h) CusumCell(0L, 0.0, 0.0, c.alarms + 1)
          else CusumCell(c.n + 1, sp, sn, c.alarms)
      }
      state.update(c)
      Iterator.single(CusumStatus(key, c.n, c.sPos, c.sNeg, c.alarms))
    }
  }

  /** Streaming two-sided CUSUM monitor over a keyed value stream
    * (`user_id`, `value` columns): emits the refreshed S⁺/S⁻ arms and
    * alarm-episode count per touched key each micro-batch. RocksDB
    * state store required, state is O(keys)·O(1).
    */
  def cusumMonitor(events: DataFrame, target: Double, slack: Double = 0.5,
      h: Double = 25.0): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new CusumProcessor(target, slack, h),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  final case class GsStatus(key: Long, looks: Long, n_total: Long,
      z: Double, boundary: Double, decision: String)

  /** transformWithState processor: O'Brien–Fleming group-sequential
    * experiment monitor. Per experiment key it accumulates Welch
    * moment sums for both arms (six doubles — O(1) state); every
    * `lookEvery` observations it takes an interim LOOK k ≤ maxLooks
    * and compares the Welch z against the OBF boundary
    * z_k = z_final·√(K/k) — wide early, narrowing to z_final at the
    * last look, which is what keeps the overall type-I error near the
    * nominal level across K peeks. Crossing stops the experiment
    * (sticky `decided` state; further data no longer flips it) — the
    * streaming twin of the batch q380_group_sequential looks table.
    */
  private class GroupSequentialProcessor(lookEvery: Long, maxLooks: Int,
      zFinal: Double) extends StatefulProcessor[Long, (Long, Long, Double), GsStatus] {
    @transient private var state: ValueState[GsCell] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[GsCell]("gs",
        org.apache.spark.sql.Encoders.product[GsCell], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
        tv: TimerValues): Iterator[GsStatus] = {
      var c = if (state.exists()) state.get()
        else GsCell(0L, 0.0, 0.0, 0L, 0.0, 0.0, 0L, 0L, 0L, 0.0, 0.0)
      rows.foreach { case (_, arm, v) =>
        c = if (arm == 1L)
          c.copy(nT = c.nT + 1, sT = c.sT + v, ssT = c.ssT + v * v,
            sinceLook = c.sinceLook + 1)
        else c.copy(nC = c.nC + 1, sC = c.sC + v, ssC = c.ssC + v * v,
          sinceLook = c.sinceLook + 1)
        if (c.decided == 0L && c.sinceLook >= lookEvery && c.looks < maxLooks &&
            c.nT >= 2 && c.nC >= 2) {
          val mT = c.sT / c.nT; val mC = c.sC / c.nC
          val vT = math.max(c.ssT / c.nT - mT * mT, 1e-12)
          val vC = math.max(c.ssC / c.nC - mC * mC, 1e-12)
          val z = (mT - mC) / math.sqrt(vT / c.nT + vC / c.nC)
          val k = c.looks + 1
          val b = zFinal * math.sqrt(maxLooks.toDouble / k)
          c = c.copy(sinceLook = 0L, looks = k, zLast = z, bLast = b,
            decided = if (math.abs(z) > b) 1L else 0L)
        }
      }
      state.update(c)
      val decision =
        if (c.decided == 1L) "stop_efficacy"
        else if (c.looks >= maxLooks) "stop_futility"
        else "continue"
      Iterator.single(GsStatus(key, c.looks, c.nT + c.nC, c.zLast, c.bLast, decision))
    }
  }

  /** Streaming O'Brien–Fleming group-sequential monitor over a keyed
    * experiment stream (`key`, `arm` ∈ {0 control, 1 treatment},
    * `value` columns): emits the latest interim look's Welch z, its
    * OBF boundary and the continue/stop decision per touched key each
    * micro-batch. RocksDB state store required; state is O(keys)·O(1).
    */
  def groupSequentialMonitor(events: DataFrame, lookEvery: Long = 50L,
      maxLooks: Int = 5, zFinal: Double = 1.96): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "arm", "value").as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new GroupSequentialProcessor(lookEvery, maxLooks, zFinal),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  final case class MsprtStatus(key: Long, n_total: Long, ln_lambda: Double,
      p_always_valid: Double, decision: String)

  /** transformWithState processor: mSPRT always-valid experiment
    * monitor (Johari et al. mixture SPRT) over a keyed binary-outcome
    * stream — the ANYTIME companion of [[GroupSequentialProcessor]]'s
    * fixed-look OBF schedule: no look calendar, every observation is
    * a valid stopping point. State is four conversion counters +
    * the running-peak lnΛ (O(1)); lnΛ = ½ln(V/(V+τ²)) +
    * δ̂²τ²/(2V(V+τ²)) on the pooled-variance normal approximation,
    * the always-valid p is exp(−max(0, peak lnΛ)) — monotone
    * non-increasing by construction — and the decision is sticky in
    * state once lnΛ crosses ln(1/α) (the OBF NaN-after-decision
    * lesson: the decided flag persists, later batches re-emit the
    * decided verdict and never flip it).
    */
  private class MsprtProcessor(tau2: Double, alpha: Double)
      extends StatefulProcessor[Long, (Long, Long, Long), MsprtStatus] {
    @transient private var state: ValueState[MsprtCell] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[MsprtCell]("msprt",
        org.apache.spark.sql.Encoders.product[MsprtCell], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        tv: TimerValues): Iterator[MsprtStatus] = {
      var c = if (state.exists()) state.get() else MsprtCell(0L, 0L, 0L, 0L, 0.0, 0L)
      val lnThr = math.log(1.0 / alpha)
      rows.foreach { case (_, arm, converted) =>
        c = if (arm == 1L) c.copy(nT = c.nT + 1, cT = c.cT + converted)
        else c.copy(nC = c.nC + 1, cC = c.cC + converted)
        if (c.decided == 0L && c.nT > 0 && c.nC > 0) {
          val pp = (c.cT + c.cC).toDouble / (c.nT + c.nC)
          val v = pp * (1.0 - pp) * (1.0 / c.nT + 1.0 / c.nC)
          if (v > 0.0) {
            val d = c.cT.toDouble / c.nT - c.cC.toDouble / c.nC
            val lnLam = 0.5 * math.log(v / (v + tau2)) +
              d * d * tau2 / (2.0 * v * (v + tau2))
            c = c.copy(peak = math.max(c.peak, lnLam),
              decided = if (lnLam >= lnThr) 1L else 0L)
          }
        }
      }
      state.update(c)
      Iterator.single(MsprtStatus(key, c.nT + c.nC,
        c.peak, math.exp(-math.max(0.0, c.peak)),
        if (c.decided == 1L) "reject_null" else "continue"))
    }
  }

  /** Streaming mSPRT always-valid monitor over a keyed experiment
    * stream (`key`, `arm` ∈ {0 control, 1 treatment}, `converted` ∈
    * {0,1} columns): emits the running-peak lnΛ, the always-valid
    * p-value, and a sticky continue/reject decision per touched key
    * each micro-batch. RocksDB state store required; state is
    * O(keys)·O(1) — the streaming twin of the batch q420_msprt looks
    * table.
    */
  def msprtMonitor(events: DataFrame, tau2: Double = 0.01,
      alpha: Double = 0.05): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("key", "arm", "converted").as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new MsprtProcessor(tau2, alpha),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Running per-user value quantiles via `transformWithState` with
    * KLL sketch state — the quantile sibling of [[runningUserStats]]
    * (same RocksDB state-store requirements).
    */
  def runningQuantiles(events: DataFrame, k: Int = 200): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningQuantilesProcessor(k),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Continuously-maintained per-user lifetime stats via Spark 4's
    * `transformWithState`. O(users) state in the RocksDB store (the
    * required provider for this API — set
    * `spark.sql.streaming.stateStore.providerClass` to
    * `...state.RocksDBStateStoreProvider`); at 100 TB/day the state
    * store shards with the shuffle partitioning and the per-batch work
    * is O(touched keys), never a rescan.
    */
  def runningUserStats(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningStatsProcessor, TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  final case class InactiveUser(user_id: Long, last_seen_ms: Long)

  /** transformWithState processor with EVENT-TIME TIMERS: every input
    * re-arms the user's inactivity timer at last_seen + gap; when the
    * watermark passes it unanswered, the expiry emits an inactivity
    * record and clears the key's state — the push-based "entity went
    * quiet" signal that polling-style windows can't express without
    * rescanning all keys each trigger.
    */
  private class InactivityProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, Long), InactiveUser] {
    @transient private var lastSeen: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState[Long]("last_seen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[InactiveUser] = {
      val latest = rows.map(_._2).max
      val prev = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
      val seen = math.max(prev, latest)
      if (prev != Long.MinValue) getHandle.deleteTimer(prev + gapMs)
      lastSeen.update(seen)
      getHandle.registerTimer(seen + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[InactiveUser] = {
      val seen = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
      lastSeen.clear()
      Iterator.single(InactiveUser(key, seen))
    }
  }

  /** Inactivity detection through transformWithState event-time
    * timers: emits (user_id, last_seen_ms) once the watermark passes
    * last activity + gap. State is one long + one timer per live key.
    */
  def inactivityAlerts(events: DataFrame, tsCol: String, gapMs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark(tsCol, watermarkDelay)
      .selectExpr("user_id", s"CAST($tsCol AS LONG) * 1000 AS ts_ms")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new InactivityProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  final case class SessionUpdate(user_id: Long, n_events: Long, total_value: Double)
  final case class Sess(start: Long, last: Long, n: Long, total: Double)

  /** Stateful gap-based sessionization via flatMapGroupsWithState:
    * emits a session summary when a user's session closes — either
    * inline (a later event past the gap) or by event-time timeout once
    * the watermark passes last+gap. State is per-key and bounded (one
    * running summary per user). Event-time (not processing-time)
    * timeouts: deterministic w.r.t. the data, no wall-clock
    * re-triggering, and replays identically at any scale.
    */
  def sessionize(events: DataFrame, gapMs: Long,
      watermarkDelay: String = "30 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "ts", "value")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Sess, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[Sess]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionUpdate(user, s.n, s.total))
          } else {
            val evs = rows.toSeq
            var closed = List.empty[SessionUpdate]
            var cur = state.getOption
            evs.sortBy(_._2.getTime).foreach { case (_, ts, v) =>
              val t = ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + v))
                case Some(s) =>
                  closed ::= SessionUpdate(user, s.n, s.total)
                  cur = Some(Sess(t, t, 1, v))
                case None =>
                  cur = Some(Sess(t, t, 1, v))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // must be beyond the current watermark; max() guards replays
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }.toDF()
  }

  /** transformWithState processor behind [[streamingTopK]]: one
    * ValueState cell per group holds the current top-k (score, id)
    * pairs sorted descending with ascending-id tie break — the
    * streaming twin of the batch `top_k_by` bounded-heap aggregate.
    * State is O(k) per group regardless of stream length.
    */
  private class TopKProcessor(k: Int)
      extends StatefulProcessor[String, (String, Double, Long), GroupTopK] {
    @transient private var state: ValueState[TopKCell] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TopKCell]("topk",
        org.apache.spark.sql.Encoders.product[TopKCell], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Double, Long)],
        tv: TimerValues): Iterator[GroupTopK] = {
      val prev = if (state.exists()) state.get().items else Seq.empty
      val merged = (prev ++ rows.map { case (_, score, id) => ScoredId(score, id) })
        .sortBy(si => (-si.score, si.id))
        .take(k)
      state.update(TopKCell(merged))
      Iterator.single(GroupTopK(key, merged))
    }
  }

  /** Continuously-maintained bounded top-k per group over a stream —
    * `(group, score, id)` rows in, the refreshed per-group top-k list
    * out on every batch that touches the group. O(groups·k) total
    * state; per-batch work is O(touched rows + touched groups·k log k),
    * never a rescan — the streaming form of the batch `top_k_by`
    * TypedImperativeAggregate (same ordering contract: score
    * descending, id ascending on ties).
    */
  def streamingTopK(events: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr(groupCol, scoreCol, idCol).as[(String, Double, Long)]
      .groupByKey(_._1)
      .transformWithState(new TopKProcessor(k), TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  final case class KeptRecord(shard: Long, record_key: Long)

  /** transformWithState processor: APPROXIMATE stream dedup with a
    * bloom filter per shard — state is a FIXED numBits/8-byte array
    * per shard forever, vs the O(distinct keys) state of exact
    * `dropDuplicates` (unbounded without a watermark) or the
    * watermark-bounded form (which forgets old keys entirely). The
    * documented trade: a never-seen record is falsely dropped with
    * probability ≈ (1−e^{−kn/m})^k; duplicates are ALWAYS dropped
    * (no false negatives). The classic bounded-memory dedup for
    * at-least-once ingest at 100 TB stream volume.
    */
  private class BloomDedupProcessor(numBits: Int, numHashes: Int)
      extends StatefulProcessor[Long, (Long, Long), KeptRecord] {
    @transient private var state: ValueState[Array[Byte]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Array[Byte]]("bloom",
        org.apache.spark.sql.Encoders.BINARY, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[KeptRecord] = {
      val buf = if (state.exists())
        graft.functions.BloomBuffer.deserialize(state.get())
      else new graft.functions.BloomBuffer(numBits, numHashes)
      val out = scala.collection.mutable.ArrayBuffer[KeptRecord]()
      rows.foreach { case (_, rk) =>
        if (!buf.contains(rk)) { buf.add(rk); out += KeptRecord(key, rk) }
      }
      state.update(buf.serialize())
      out.iterator
    }
  }

  /** Streaming bloom dedup over a keyed record stream: emits only
    * records whose key was (probably) never seen in the shard's
    * filter. `keyCol` must be a BIGINT record identity; shards spread
    * the filters so each stays inside its calibrated FPR.
    */
  def bloomDedupStream(events: DataFrame, keyCol: String, shards: Int = 16,
      numBits: Int = 1 << 16, numHashes: Int = 6): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(
        pmod(xxhash64(col(keyCol)), lit(shards.toLong)).as("shard"),
        col(keyCol).cast("long").as("rk"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new BloomDedupProcessor(numBits, numHashes),
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }
}

/** State cell for [[Refresh.RunningStatsProcessor]]. Top-level and
  * public on purpose: a `private` class nested in the object makes
  * Janino reject the encoder's generated accessor calls, silently
  * dropping the state (de)serializer to interpreted mode.
  */
final case class StatsCell(n: Long, total: Double, mx: Double)
final case class PhCell(n: Long, mean: Double, mt: Double, mtMin: Double, alarms: Long)
final case class CusumCell(n: Long, sPos: Double, sNeg: Double, alarms: Long)
final case class GsCell(nT: Long, sT: Double, ssT: Double,
    nC: Long, sC: Double, ssC: Double, sinceLook: Long, looks: Long,
    decided: Long, zLast: Double, bLast: Double)
final case class MsprtCell(nT: Long, cT: Long, nC: Long, cC: Long,
    peak: Double, decided: Long)

/** Top-level for the same Janino/encoder reason as [[StatsCell]]. */
final case class ScoredId(score: Double, id: Long)
final case class TopKCell(items: Seq[ScoredId])
final case class GroupTopK(group: String, top: Seq[ScoredId])
