package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Manifest-pinned snapshot table layer: versioned parquet with
  * snapshot-isolated reads, time travel, file-level column statistics,
  * and metadata-only data skipping.
  *
  * The reference refreshes by rewriting its artifacts in place
  * (reference server.js:100-137, and its README's upsert-strategy
  * discussion) — which leaves a concurrent reader exposed to a
  * half-updated table. This layer fixes that the way modern table
  * formats do: data files are IMMUTABLE once written, and a version
  * is just a manifest (a JSON file listing the parquet files that
  * make up that snapshot). Commits only ADD files and then publish a
  * new manifest with one atomic rename; a reader that resolved its
  * file list from manifest N keeps reading exactly version N's bytes
  * no matter how many commits, upserts, or compactions land after it.
  *
  * Layout under the table root:
  * {{{
  *   _versions/v000000001.json   one version file per commit: v1 (and
  *                               legacy manifests) carry the full file
  *                               listing; later versions are DELTAS
  *                               (add/remove/setdv actions) — O(that
  *                               commit's changes), never O(table)
  *   _versions/c000000010.json   checkpoint sidecar every
  *                               CheckpointInterval-th version: the
  *                               full materialized listing, bounding
  *                               every reader's reconstruction chain
  *   data/<commit-uuid>/part-*   immutable data files, one dir/commit
  * }}}
  *
  * Manifest fields: version, op (init/replace/append/upsert/delete/
  * compact/optimize/restore),
  * schema (the snapshot's DDL — the source of truth for reads, so a
  * version whose file set mixes pre- and post-evolution files still
  * reads back with ONE schema, old files null-filled), files (each an
  * object: table-root-relative path, bytes, rows, per-column
  * min/max/null-count statistics, and an optional `dv` deletion-vector
  * reference — see Merge-on-read deletes below), batch_id (the streaming
  * micro-batch that produced the commit, null for batch ops),
  * last_batch_id (the running max across the table's history — the
  * exactly-once cursor for streaming sinks), ts_ms (monotone
  * non-decreasing across versions by construction, so timestamp time
  * travel can binary-search).
  *
  * ==Data skipping==
  *
  * [[writeDataFiles]] records min/max/null-count for the first
  * [[MaxStatsCols]] supported-type columns of every file it writes
  * (one distributed aggregation over the just-written files — O(commit
  * size), never O(table)). [[readVersion]] serves the table through a
  * manifest-backed [[FileIndex]], so Catalyst hands every pushed data
  * filter to [[SnapshotFileIndex.listFiles]] and files whose stats
  * PROVE they cannot match are never opened, listed, or scheduled —
  * the scan's file list shrinks at PLANNING time from metadata alone.
  * On a key-clustered layout (Z-order / range partitioning, see
  * operators.Layout) a selective predicate reads a handful of files
  * out of the ~800k a 100 TB table holds. Evaluation is conservative:
  * any predicate shape or type the evaluator doesn't understand keeps
  * the file.
  *
  * ==Merge-on-read deletes (deletion vectors)==
  *
  * [[deleteWhere]] removes rows WITHOUT rewriting data files: matching
  * (file, row-position) pairs are written to a deletion-vector parquet
  * dataset and each partially-hit file carries a `dv` reference in the
  * manifest (a file whose every row died is dropped outright —
  * metadata-only). Readers remove deleted positions with one anti join
  * ([[readEntries]]); files without a dv keep the exact pre-dv fast
  * path. [[upsert]], [[compact]] and [[optimize]] materialize dvs away
  * whenever they rewrite a file, and optimize treats EVERY dv'd file
  * as residue — so routine maintenance bounds the anti join's right
  * side. The copy-on-write/merge-on-read split mirrors what the
  * production table formats converged on: upsert rewrites (it must
  * produce merged rows anyway), delete defers.
  *
  * ==Concurrency==
  *
  * Optimistic, single-winner. Every operation captures the base
  * version ONCE at start and publishes base+1: the manifest is staged
  * to a temp name and promoted with [[conditionalPublish]]
  * (rename-if-absent), so two racing committers produce one winner
  * and the loser gets a ConcurrentModificationException telling it to
  * re-read and retry — including when the interleaving commit landed
  * while the loser was still writing data files (the base version was
  * pinned before the write started, so the loser can never silently
  * publish over a commit it never saw). Readers never lock anything.
  *
  * LOUD PORTABILITY CONTRACT: [[conditionalPublish]] relies on
  * `FileSystem.rename` refusing to overwrite an existing destination
  * — the HDFS and local-filesystem semantics. Object stores (S3A,
  * GCS connectors) implement rename as a non-atomic copy+delete that
  * silently OVERWRITES, which would turn the single-winner guarantee
  * into last-writer-wins data loss. Deploying this layer on an object
  * store requires swapping [[conditionalPublish]] for a
  * conditional-put primitive (S3 `If-None-Match`, GCS preconditions)
  * or an external lock — the same LogStore seam Delta Lake uses.
  *
  * Scale shape: COMMIT metadata is O(that commit's changes) — an
  * append to a ~800k-file 100 TB table writes a delta of its new
  * entries (hundreds of bytes), not a 40 MB full listing; the full
  * listing is only materialized by the every-CheckpointInterval-th
  * checkpoint, amortizing the O(files) serialization to 1/interval of
  * commits. READ-side resolution is one checkpoint (a few tens of MB
  * at 800k entries, the same order as a Hadoop directory listing but
  * consistent) plus ≤ interval−1 small deltas, once per query plan.
  * The in-memory file list an operation manipulates is still O(files)
  * driver heap — ~100 MB of FileEntry objects at 800k files, the same
  * envelope every manifest-based format's driver carries. [[upsert]] is
  * file-granular copy-on-write: candidate files come from the
  * manifest's key-range statistics (metadata-only), then one
  * `_metadata.file_path` semi-join over just the candidates pins the
  * exact touched set — so a key-clustered layout bounds the rewrite
  * to the touched key range without ever scanning the full snapshot.
  * [[compact]] and [[vacuum]] split table maintenance from
  * visibility: compaction publishes a new version while old versions
  * stay readable until vacuum reclaims them.
  */
/** Thrown by a batchId-carrying commit whose base manifest already
  * covers (txnApp, batchId): a racing twin of the same streaming query
  * (zombie driver during failover) published the epoch first. The
  * streaming sinks treat it as the idempotent-skip signal — the epoch's
  * rows are already in the table; publishing again would duplicate them.
  */
private[graft] final class EpochAlreadyCommittedException(message: String)
  extends RuntimeException(message)

object Snapshot {

  private val VersionsDir = "_versions"
  private[sources] val DataDir = "data"

  /** Stats are recorded for the first this-many supported-type schema
    * columns (the Delta convention): bounded metadata per file no
    * matter how wide the table. String stats longer than
    * [[MaxStatsStringLen]] are dropped (a truncated max is not a
    * sound upper bound).
    */
  private[sources] val MaxStatsCols = 16
  private[sources] val MaxStatsStringLen = 64

  private def manifestName(v: Long): String = f"v$v%09d.json"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Per-column, per-file statistics. min/max are canonical strings
    * (numeric types including date/timestamp encode as decimal
    * strings — days / micros for the temporal types; strings as-is;
    * booleans as true/false); None = unknown = never prune.
    */
  private[sources] final case class ColStats(
      min: Option[String], max: Option[String], nulls: Long)

  /** Merge-on-read deletion vector reference: `path` is the
    * table-root-relative directory of a parquet dataset of
    * (__dv_file, __dv_pos) rows naming deleted row positions;
    * `deleted` is how many of THIS file's physical rows it marks.
    */
  private[sources] final case class DvRef(path: String, deleted: Long)

  /** `blooms`: per-column bloom filters over xxhash64(value), base64 in
    * the manifest — the point-lookup complement to min/max stats for
    * HIGH-CARDINALITY UNCLUSTERED keys, where every file's range spans
    * the whole domain and range pruning keeps everything. Only columns
    * in the table's [[TableSpec.bloomCols]] carry one.
    */
  private[sources] final case class FileEntry(
      path: String, bytes: Long, rows: Long, stats: Map[String, ColStats],
      dv: Option[DvRef] = None, blooms: Map[String, String] = Map.empty)

  /** Versioned TABLE LAYOUT + STATS configuration, carried in the
    * manifest like constraints and column mapping:
    *
    *   - `partitionCols`: identity partition columns (`PARTITIONED BY`
    *     through the catalog). Writes CLUSTER rows by these columns
    *     (one shuffle per commit batch) so each file holds few
    *     partition values, and the columns always get min/max stats —
    *     partition pruning is then a special case of the existing
    *     manifest-stats skipping, with no directory-per-value layout
    *     to keep consistent.
    *   - `statsCols`: which columns carry min/max/null stats. Empty =
    *     the first-[[MaxStatsCols]] default. Lets a wide table put its
    *     stats budget on the columns queries actually filter.
    *   - `bloomCols` + `bloomBits`: per-file bloom filters (see
    *     [[FileEntry.blooms]]). SIZE CONTRACT, loudly: each bloom
    *     costs ~bloomBits/8 bytes per file per column IN THE MANIFEST
    *     (base64 ×4/3); size bloomBits ≥ 10× the expected rows per
    *     file for a useful false-positive rate. This is for tables
    *     whose point-lookup latency matters — entity/dimension tables
    *     of thousands of files — not an 800k-file fact table, where
    *     footer-level blooms are the right layer.
    *
    * Changing the spec ([[setTableSpec]]) is a metadata-only commit
    * applying to FUTURE files; existing entries keep the stats they
    * were written with (pruning is per-file conservative either way).
    */
  final case class TableSpec(partitionCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits)

  private[sources] val DefaultBloomBits: Int = 1 << 17
  private[sources] val BloomHashes: Int = 7

  /** `mapping` is the COLUMN-MAPPING table state: logical column name →
    * physical (in-file) column name, storing only non-identity entries.
    * Data files always carry PHYSICAL names; the manifest's `schema`
    * is the LOGICAL read schema. A rename is therefore a metadata-only
    * commit (the logical name moves, the physical name — and every
    * immutable file — stays), and a drop hides the physical column
    * without touching a byte. `retired` is the set of physical names
    * no longer reachable from any logical column (dropped columns):
    * retained files may still CONTAIN those physical columns, so a
    * later re-add of the same logical name must bind a FRESH physical
    * name or the dropped data would silently resurrect.
    */
  /** `txns` is the CORRECTNESS cursor for exactly-once streaming
    * writes: app id → highest batch id that app has ever committed,
    * one entry PER writer (the Delta txnAppId/txnVersion idea). A
    * single latest-writer slot ([[txnApp]]/[[txnBatch]], kept for
    * observability and legacy manifests) is NOT enough: two
    * concurrent streaming queries writing the same table would reset
    * each other's slot, so a post-crash epoch replay from the first
    * query would no longer be recognized and would duplicate its
    * rows. Skip decisions read the map; the slot is display-only.
    */
  private[sources] final case class Manifest(version: Long, op: String,
      schemaDdl: String, files: Seq[FileEntry], batchId: Option[Long],
      lastBatchId: Option[Long], txnApp: Option[String],
      txnBatch: Option[Long], tsMs: Long,
      constraints: Map[String, String] = Map.empty,
      metrics: Map[String, Long] = Map.empty,
      mapping: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty,
      spec: TableSpec = TableSpec(),
      txns: Map[String, Long] = Map.empty) {
    def schema: StructType =
      if (schemaDdl.isEmpty) new StructType() else StructType.fromDDL(schemaDdl)
  }

  /** All committed versions, ascending. One directory listing. */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val vd = new Path(dir, VersionsDir)
    if (!f.exists(vd)) Seq.empty
    else f.listStatus(vd).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{9}\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted
  }

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    versions(spark, dir).lastOption

  /** A version file is a DELTA (add/remove/setdv actions against the
    * previous version) except v1 and legacy manifests, which carry the
    * full `files` listing. Every [[CheckpointInterval]]-th commit also
    * writes a sidecar checkpoint (`cNNNNNNNNN.json`, the full
    * materialized listing), so reconstruction reads one checkpoint
    * plus at most CheckpointInterval−1 O(changes)-sized deltas. This
    * is what bounds commit metadata at scale: a single append to a
    * ~800k-file 100 TB table writes an O(1)-entry delta (~hundreds of
    * bytes), not an O(files) ~40 MB listing — the same write-
    * amplification fix the production table formats' delta-log /
    * snapshot-avro designs exist for.
    */
  private[graft] val CheckpointInterval = 10L

  private def checkpointName(v: Long): String = f"c$v%09d.json"

  private def readJson(f: FileSystem, p: Path): JValue = {
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    JsonMethods.parse(text)
  }

  private def parseDv(o: JValue): Option[DvRef] = {
    implicit val fmts: Formats = DefaultFormats
    o match {
      case obj: JObject => Some(DvRef(
        (obj \ "path").extract[String],
        (obj \ "deleted").extractOrElse[Long](0L)))
      case _ => None
    }
  }

  private def parseEntries(j: JValue): Seq[FileEntry] = {
    implicit val fmts: Formats = DefaultFormats
    j match {
      case JArray(entries) => entries.map { e =>
        val stats = (e \ "stats") match {
          case JObject(fields) => fields.map { case (name, s) =>
            name -> ColStats(
              (s \ "min").extractOpt[String],
              (s \ "max").extractOpt[String],
              (s \ "nulls").extractOrElse[Long](0L))
          }.toMap
          case _ => Map.empty[String, ColStats]
        }
        val blooms: Map[String, String] = (e \ "blooms") match {
          case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty
        }
        FileEntry(
          (e \ "path").extract[String],
          (e \ "bytes").extractOrElse[Long](0L),
          (e \ "rows").extractOrElse[Long](-1L),
          stats,
          parseDv(e \ "dv"),
          blooms)
      }
      case _ => Seq.empty
    }
  }

  /** Build a Manifest from a version/checkpoint file's scalar fields
    * plus an already-resolved file list.
    */
  private def manifestOf(j: JValue, files: Seq[FileEntry]): Manifest = {
    implicit val fmts: Formats = DefaultFormats
    val constraints: Map[String, String] = (j \ "constraints") match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
    val metrics: Map[String, Long] = (j \ "metrics") match {
      case JObject(fields) => fields.collect {
        case (k, JLong(v)) => k -> v
        case (k, JInt(v)) => k -> v.toLong
      }.toMap
      case _ => Map.empty
    }
    val mapping: Map[String, String] = (j \ "mapping") match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
    val retired: Set[String] = (j \ "retired") match {
      case JArray(xs) => xs.collect { case JString(x) => x }.toSet
      case _ => Set.empty
    }
    def strList(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.collect { case JString(x) => x }
      case _ => Nil
    }
    val spec = TableSpec(
      strList(j \ "partition_cols"),
      strList(j \ "stats_cols"),
      strList(j \ "bloom_cols"),
      (j \ "bloom_bits").extractOrElse[Int](DefaultBloomBits))
    val txnApp = (j \ "txn_app").extractOpt[String]
    val txnBatch = (j \ "txn_batch").extractOpt[Long]
    // per-app cursor map; legacy manifests (pre-map) carried at most
    // one writer's cursor in the slot — seed the map from it so an
    // upgraded reader keeps recognizing that writer's replays
    val txns: Map[String, Long] = (j \ "txns") match {
      case JObject(fields) => fields.collect {
        case (k, JLong(v)) => k -> v
        case (k, JInt(v)) => k -> v.toLong
      }.toMap
      case _ => txnBatch.map(b => txnApp.getOrElse("default") -> b).toMap
    }
    Manifest(
      (j \ "version").extract[Long],
      (j \ "op").extract[String],
      (j \ "schema").extractOrElse[String](""),
      files,
      (j \ "batch_id").extractOpt[Long],
      (j \ "last_batch_id").extractOpt[Long],
      txnApp,
      txnBatch,
      (j \ "ts_ms").extract[Long],
      constraints,
      metrics,
      mapping,
      retired,
      spec,
      txns)
  }

  /** Replay one delta on top of the previous version's state. */
  private def applyDelta(m: Manifest, j: JValue): Manifest = {
    implicit val fmts: Formats = DefaultFormats
    val removed: Set[String] = (j \ "remove") match {
      case JArray(xs) => xs.map(_.extract[String]).toSet
      case _ => Set.empty
    }
    val setdv: Map[String, Option[DvRef]] = (j \ "setdv") match {
      case JArray(xs) => xs.map { x =>
        (x \ "path").extract[String] -> parseDv(x \ "dv")
      }.toMap
      case _ => Map.empty
    }
    val carried = m.files.filterNot(e => removed.contains(e.path))
      .map(e => setdv.get(e.path).fold(e)(dv => e.copy(dv = dv)))
    manifestOf(j, carried ++ parseEntries(j \ "add"))
  }

  /** Resolve version `v`'s full manifest: walk back to the nearest
    * full state (a checkpoint sidecar, or a version file carrying a
    * full listing — v1 and legacy manifests), then replay the deltas
    * forward. O(1) checkpoint read + ≤ CheckpointInterval−1 delta
    * reads, each O(that commit's changes).
    */
  private[sources] def readManifest(spark: SparkSession, dir: String, v: Long): Manifest = {
    val f = fs(spark, dir)
    val vd = new Path(dir, VersionsDir)
    var deltas = List.empty[JValue]
    var state: Option[Manifest] = None
    var w = v
    while (state.isEmpty) {
      val cp = new Path(vd, checkpointName(w))
      if (f.exists(cp)) {
        val j = readJson(f, cp)
        state = Some(manifestOf(j, parseEntries(j \ "files")))
      } else {
        val p = new Path(vd, manifestName(w))
        if (!f.exists(p)) throw new IllegalStateException(
          s"cannot reconstruct version $v at $dir: version file $w is gone " +
            "(vacuumed?) and no checkpoint covers the gap")
        val j = readJson(f, p)
        (j \ "files") match {
          case JArray(_) => state = Some(manifestOf(j, parseEntries(j \ "files")))
          case _ => deltas ::= j; w -= 1
        }
      }
    }
    deltas.foldLeft(state.get)(applyDelta)
  }

  /** The single-winner publish primitive: promote `tmp` to `target`
    * atomically, failing (false) when `target` already exists. The
    * implementation is `FileSystem.rename`, whose no-overwrite
    * atomicity holds on HDFS and local filesystems ONLY — see the
    * object Scaladoc's portability contract before pointing a table
    * at an object store.
    */
  private def conditionalPublish(f: FileSystem, tmp: Path, target: Path): Boolean =
    !f.exists(target) && f.rename(tmp, target)

  private def dvJson(dv: Option[DvRef]): JValue =
    dv.map(d => JObject(
      "path" -> JString(d.path),
      "deleted" -> JLong(d.deleted))).getOrElse(JNull)

  private def entryJson(e: FileEntry): JObject = {
    val baseFields: List[(String, JValue)] = List(
      "path" -> JString(e.path),
      "bytes" -> JLong(e.bytes),
      "rows" -> JLong(e.rows),
      "dv" -> dvJson(e.dv),
      "stats" -> JObject(e.stats.toList.sortBy(_._1).map { case (c, s) =>
        c -> (JObject(
          "min" -> s.min.map(JString(_)).getOrElse(JNull),
          "max" -> s.max.map(JString(_)).getOrElse(JNull),
          "nulls" -> JLong(s.nulls)): JValue)
      }))
    // blooms are the bulky field: omitted entirely for the (default)
    // bloom-less table so its manifests don't change shape or size
    val bloomField: List[(String, JValue)] =
      if (e.blooms.isEmpty) Nil
      else List("blooms" -> JObject(e.blooms.toList.sortBy(_._1)
        .map { case (c, b) => c -> (JString(b): JValue) }))
    JObject(baseFields ++ bloomField)
  }

  private def scalarFields(m: Manifest): List[(String, JValue)] = List(
    "version" -> JLong(m.version),
    "op" -> JString(m.op),
    "schema" -> JString(m.schemaDdl),
    "batch_id" -> m.batchId.map(JLong(_)).getOrElse(JNull),
    "last_batch_id" -> m.lastBatchId.map(JLong(_)).getOrElse(JNull),
    "txn_app" -> m.txnApp.map(JString(_)).getOrElse(JNull),
    "txn_batch" -> m.txnBatch.map(JLong(_)).getOrElse(JNull),
    "txns" -> JObject(m.txns.toList.sortBy(_._1)
      .map { case (k, v) => k -> (JLong(v): JValue) }),
    "ts_ms" -> JLong(m.tsMs),
    "constraints" -> JObject(m.constraints.toList.sortBy(_._1)
      .map { case (k, v) => k -> (JString(v): JValue) }),
    "metrics" -> JObject(m.metrics.toList.sortBy(_._1)
      .map { case (k, v) => k -> (JLong(v): JValue) }),
    "mapping" -> JObject(m.mapping.toList.sortBy(_._1)
      .map { case (k, v) => k -> (JString(v): JValue) }),
    "retired" -> JArray(m.retired.toList.sorted.map(JString(_))),
    "partition_cols" -> JArray(m.spec.partitionCols.toList.map(JString(_))),
    "stats_cols" -> JArray(m.spec.statsCols.toList.map(JString(_))),
    "bloom_cols" -> JArray(m.spec.bloomCols.toList.map(JString(_))),
    "bloom_bits" -> JLong(m.spec.bloomBits.toLong))

  /** Stage `json` to a temp name and promote it to `name` with the
    * single-winner primitive; CME on losing the race.
    */
  private def publishJson(spark: SparkSession, dir: String, name: String,
      json: JValue): Unit = {
    val f = fs(spark, dir)
    val vd = new Path(dir, VersionsDir)
    f.mkdirs(vd)
    val tmp = new Path(vd, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(json)).getBytes("UTF-8"))
      finally out.close()
    if (!conditionalPublish(f, tmp, new Path(vd, name))) {
      f.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"$name already committed at $dir — re-read latest and retry")
    }
  }

  /** Write a FULL version file (v1 / the legacy-compatible shape). */
  private def writeManifest(spark: SparkSession, dir: String, m: Manifest): Unit =
    publishJson(spark, dir, manifestName(m.version), JObject(
      scalarFields(m) :+ ("files" -> JArray(m.files.toList.map(entryJson)))))

  /** A commit's logical ACTION against its base: the file entries it
    * adds, the base paths it removes (rewrites or drops), and the base
    * entries whose deletion vector it re-points. This is what a delta
    * file serializes — and what the optimistic-retry rebase replays
    * onto a newer base when the commit loses its publish race.
    */
  private[sources] final case class CommitAction(added: Seq[FileEntry],
      removed: Set[String], setdv: Map[String, Option[DvRef]]) {
    def touched: Set[String] = removed ++ setdv.keySet
  }

  private def actionOf(baseFiles: Seq[FileEntry], files: Seq[FileEntry]): CommitAction = {
    val baseByPath = baseFiles.map(e => e.path -> e).toMap
    val newPaths = files.map(_.path).toSet
    CommitAction(
      added = files.filter(e => !baseByPath.contains(e.path)),
      removed = baseFiles.collect { case e if !newPaths.contains(e.path) => e.path }.toSet,
      setdv = files.collect {
        case e if baseByPath.get(e.path).exists(_.dv != e.dv) => e.path -> e.dv
      }.toMap)
  }

  /** Replay an action onto (a possibly newer) `files` listing — the
    * same shape as [[applyDelta]], driver-side.
    */
  private def rebaseFiles(files: Seq[FileEntry], a: CommitAction): Seq[FileEntry] =
    files.filterNot(e => a.removed.contains(e.path))
      .map(e => a.setdv.get(e.path).fold(e)(dv => e.copy(dv = dv))) ++ a.added

  /** Write version `m` as a DELTA against `base`: only added entries,
    * removed paths, and dv re-pointings are serialized — O(this
    * commit's changes) metadata, never O(table files).
    */
  private def writeDelta(spark: SparkSession, dir: String, m: Manifest,
      base: Manifest): Unit = {
    val a = actionOf(base.files, m.files)
    val setdvEntries = m.files.filter(e => a.setdv.contains(e.path))
    publishJson(spark, dir, manifestName(m.version), JObject(
      scalarFields(m) ++ List(
        "add" -> JArray(a.added.toList.map(entryJson)),
        "remove" -> JArray(a.removed.toList.sorted.map(JString(_))),
        "setdv" -> JArray(setdvEntries.toList.map(e => JObject(
          "path" -> JString(e.path),
          "dv" -> dvJson(e.dv)))))))
  }

  /** Materialize `m` as a checkpoint sidecar. Idempotent: the content
    * for a given version is deterministic, so losing the publish race
    * to another writer of the SAME checkpoint is success.
    */
  private def writeCheckpoint(spark: SparkSession, dir: String, m: Manifest): Unit =
    try publishJson(spark, dir, checkpointName(m.version), JObject(
      scalarFields(m) :+ ("files" -> JArray(m.files.toList.map(entryJson)))))
    catch { case _: java.util.ConcurrentModificationException => () }

  // ---------------------------------------------------------------
  // statistics encoding
  // ---------------------------------------------------------------

  private def statsSupported(f: StructField): Boolean = f.dataType match {
    case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
    case _ => false
  }

  /** Columns eligible for per-file stats. Default (no configured
    * statsCols): first [[MaxStatsCols]] supported-type fields in
    * schema order — the Delta convention, bounded metadata however
    * wide the table. A configured `spec.statsCols` replaces the
    * default (a wide table spends its stats budget on the filter
    * columns); identity `spec.partitionCols` are ALWAYS included, so
    * partition predicates prune no matter where the column sits in
    * the schema. `spec` speaks PHYSICAL column names here (the
    * caller translates — manifest stats are physical-keyed).
    */
  private def statsFields(schema: StructType, spec: TableSpec): Seq[StructField] = {
    val base =
      if (spec.statsCols.isEmpty) schema.fields.toSeq.take(MaxStatsCols)
      else schema.fields.toSeq.filter(f => spec.statsCols.contains(f.name))
    val withParts = base ++ schema.fields.toSeq.filter(f =>
      spec.partitionCols.contains(f.name) && !base.exists(_.name == f.name))
    withParts.filter(statsSupported)
  }

  /** Translate a logical-name spec to the physical names the data
    * files (and therefore per-file stats/blooms) carry.
    */
  private def physSpec(spec: TableSpec, mapping: Map[String, String]): TableSpec =
    if (mapping.isEmpty) spec
    else spec.copy(
      partitionCols = spec.partitionCols.map(c => mapping.getOrElse(c, c)),
      statsCols = spec.statsCols.map(c => mapping.getOrElse(c, c)),
      bloomCols = spec.bloomCols.map(c => mapping.getOrElse(c, c)))

  /** min/max aggregation input for a stats column `c` of type `dt`:
    * temporal types are pre-encoded to their integer domain (days /
    * micros) so the collected external value is a plain number.
    */
  private def statExpr(c: Column, dt: DataType): Column = dt match {
    case DateType => unix_date(c)
    case TimestampType => unix_micros(c)
    case _ => c
  }

  /** Canonical string encoding of a collected min/max value; None
    * drops the stat (unknown). Strings longer than MaxStatsStringLen
    * are dropped — truncation would make max an unsound bound.
    */
  private def encodeStat(dt: DataType, v: Any): Option[String] = v match {
    case null => None
    case s: String => if (s.length <= MaxStatsStringLen) Some(s) else None
    case d: java.lang.Double => if (d.isNaN) None else Some(d.toString)
    case fl: java.lang.Float => if (fl.isNaN) None else Some(fl.toString)
    case b: java.math.BigDecimal => Some(b.toPlainString)
    case b: scala.math.BigDecimal => Some(b.bigDecimal.toPlainString)
    case other => Some(other.toString) // integral types, booleans, pre-encoded temporals
  }

  /** Collect per-file entries (path, bytes, rows, column stats, and —
    * when `spec` asks — per-column bloom filters, all keyed by PHYSICAL
    * name) for the files just written under `absDir`, and the rows
    * violating each of `checks` — ONE distributed aggregation grouped
    * by `_metadata.file_path`, O(this commit's data), collected as
    * O(this commit's files) rows on the driver. The files are read
    * under the LOGICAL names of `schema`, which `checks` speak.
    */
  private def collectEntries(spark: SparkSession, absDir: String, relDir: String,
      schema: StructType, mapping: Map[String, String], spec: TableSpec,
      checks: Map[String, Column]): (Seq[FileEntry], Map[String, Long]) = {
    // the listing defines the file set (an all-null-partition part
    // file has rows the stats agg can't see per column; a ZERO-row
    // part file produces no agg group at all but still belongs to the
    // snapshot); the stats agg decorates it
    val f = fs(spark, new Path(absDir).toString)
    val listed =
      if (!f.exists(new Path(absDir))) Seq.empty
      else f.listStatus(new Path(absDir)).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .map(s => s.getPath.getName -> s.getLen).sortBy(_._1)
    if (listed.isEmpty) return (Seq.empty, Map.empty)
    val phys = physicalSchema(schema, mapping)
    val physical = physSpec(spec, mapping)
    val logical = phys.fieldNames.zip(schema.fieldNames).toMap
    val read = spark.read.schema(phys).parquet(absDir)
    val (df, meta) =
      if (!mapsAny(schema, mapping)) (read, "_metadata")
      else (read.select(phys.fieldNames.toSeq.map(p => col(p).as(logical(p))) :+
        col("_metadata").as("__meta"): _*), "__meta")
    def at(fld: StructField): Column = col(logical(fld.name))
    val sf = statsFields(phys, physical)
    // bloom keys are xxhash64(value) — type-agnostic, and the probe
    // side (SnapshotFileIndex) hashes its literal the same way
    val bloomFlds = phys.fields.toSeq.filter(fl => physical.bloomCols.contains(fl.name))
    val checkNames = checks.keys.toSeq.sorted
    val aggs = (count(lit(1)).as("__rows") +:
      sf.flatMap(fld => Seq(
        min(statExpr(at(fld), fld.dataType)).as(s"__min_${fld.name}"),
        max(statExpr(at(fld), fld.dataType)).as(s"__max_${fld.name}"),
        sum(when(at(fld).isNull, 1L).otherwise(0L)).as(s"__nulls_${fld.name}")))) ++
      bloomFlds.map(fld => graft.functions.vector.bloomAgg(
        xxhash64(at(fld)), physical.bloomBits, BloomHashes).as(s"__bloom_${fld.name}")) ++
      checkNames.indices.map(i => sum(when(not(coalesce(checks(checkNames(i)), lit(true))), 1L)
        .otherwise(0L)).as(s"__check_$i"))
    val groups = df
      .groupBy(col(s"$meta.file_path").as("__fp"), col(s"$meta.file_size").as("__bytes"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
    val byName: Map[String, FileEntry] = groups.map { r =>
      val abs = r.getAs[String]("__fp")
      val name = abs.substring(abs.lastIndexOf('/') + 1)
      val stats = sf.map { fld =>
        fld.name -> ColStats(
          encodeStat(fld.dataType, r.getAs[Any](s"__min_${fld.name}")),
          encodeStat(fld.dataType, r.getAs[Any](s"__max_${fld.name}")),
          r.getAs[Long](s"__nulls_${fld.name}"))
      }.toMap
      val blooms = bloomFlds.flatMap { fld =>
        Option(r.getAs[Array[Byte]](s"__bloom_${fld.name}")).map(b =>
          fld.name -> java.util.Base64.getEncoder.encodeToString(b))
      }.toMap
      name -> FileEntry(s"$relDir/$name", r.getAs[Long]("__bytes"),
        r.getAs[Long]("__rows"), stats, None, blooms)
    }.toMap
    val violations = checkNames.indices
      .map(i => checkNames(i) -> groups.map(_.getAs[Long](s"__check_$i")).sum)
      .filter(_._2 > 0).toMap
    (listed.map { case (name, bytes) =>
      byName.getOrElse(name, FileEntry(s"$relDir/$name", bytes, 0L,
        sf.map(fld => fld.name -> ColStats(None, None, 0L)).toMap))
    }, violations)
  }

  /** Write `df`'s rows as a fresh immutable file set under data/ and
    * return its entries ([[writtenEntries]]). `cluster = false`
    * (compact/optimize): the caller owns the layout — its repartition/
    * range/z-order choice must not be re-shuffled by
    * [[clusterByPartitions]].
    */
  private[sources] def writeDataFiles(spark: SparkSession, dir: String, df: DataFrame,
      checks: Map[String, Column] = Map.empty,
      mapping: Map[String, String] = Map.empty,
      spec: TableSpec = TableSpec(),
      cluster: Boolean = true): Seq[FileEntry] = {
    val rel = s"$DataDir/${java.util.UUID.randomUUID()}"
    // files always carry PHYSICAL names; `df` arrives logical
    toPhysical(if (cluster) clusterByPartitions(spark, df, spec) else df, mapping)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/$rel")
    writtenEntries(spark, dir, rel, df.schema, mapping, spec, checks)
  }

  /** The one path from parquet files written under `dir/rel` (LOGICAL
    * `schema`, physical names per `mapping`) to manifest entries with
    * the stats and blooms `spec` asks for, for every writer. A DSv2
    * write names its `committed` files; any other file there, left by
    * a failed or speculative attempt, is deleted first. Every written
    * row must pass `checks` (SQL CHECK semantics: only FALSE violates),
    * counted in the stats aggregation; a violation deletes `rel` and
    * throws before any publish. A commit dir holding no data file is
    * removed.
    */
  private[sources] def writtenEntries(spark: SparkSession, dir: String, rel: String,
      schema: StructType, mapping: Map[String, String], spec: TableSpec,
      checks: Map[String, Column], committed: Option[Set[String]] = None): Seq[FileEntry] = {
    val f = fs(spark, dir)
    val abs = new Path(s"$dir/$rel")
    for (names <- committed if f.exists(abs); st <- f.listStatus(abs))
      if (st.isFile && !names.contains(st.getPath.getName)) f.delete(st.getPath, false)
    val (entries, violations) =
      collectEntries(spark, s"$dir/$rel", rel, schema, mapping, spec, checks)
    if (violations.nonEmpty) {
      f.delete(abs, true)
      throw new IllegalArgumentException(s"CHECK constraint violated at $dir: " +
        violations.toSeq.sorted.map { case (n, c) => s"'$n' (${checks(n)}) by $c row(s)" }
          .mkString("; ") + " — commit aborted, no version published")
    }
    val kept = entries.filter(e => committed.forall(_.contains(baseName(e.path))))
    if (kept.isEmpty) f.delete(abs, true)
    kept
  }

  /** A table's CHECK constraints as [[writtenEntries]]' `checks`. */
  private[sources] def checksOf(constraints: Map[String, String]): Map[String, Column] =
    constraints.map { case (n, p) => n -> expr(p) }

  /** Identity partitioning: `df` CLUSTERED by the spec's partition
    * columns (one hash shuffle over this commit's rows, never the
    * table) so each written file holds few partition values and the
    * always-collected partition-column stats make partition predicates
    * prune at planning time — file-level value clustering instead of a
    * directory-per-value layout. `df` unchanged unless it carries every
    * partition column.
    */
  private def clusterByPartitions(spark: SparkSession, df: DataFrame,
      spec: TableSpec): DataFrame = {
    val present = spec.partitionCols.filter(df.columns.contains)
    if (present.isEmpty || present.size != spec.partitionCols.size) df
    // explicit count: AQE coalesces a bare repartition(cols) down to
    // one partition on small batches, which would defeat the
    // value-per-file layout the partition stats depend on
    else df.repartition(spark.sessionState.conf.numShufflePartitions,
      present.map(col): _*)
  }

  /** Publish entries written by [[writeDataFiles]] as the table's first
    * version (CTAS) or as a full-replace version (RTAS) — the publish
    * half of atomic CTAS/RTAS ([[GraftCatalog]] staging); nothing
    * references the files until it wins. CREATE atomicity rides the
    * same single-winner v1 publish as every commit: two racing CTAS of
    * the same table produce one table. RTAS resets constraints and
    * column mapping — REPLACE TABLE re-DEFINES the table, unlike
    * INSERT OVERWRITE which only replaces rows.
    */
  private[sources] def publishStaged(spark: SparkSession, dir: String,
      schemaDdl: String, files: Seq[FileEntry], spec: TableSpec,
      replace: Boolean): Long = {
    val base = if (replace) baseManifest(spark, dir) else None
    commitManifest(spark, dir, if (base.isDefined) "replace" else "init",
      schemaDdl, files, None, None, base,
      constraintsOverride = Some(Map.empty),
      metrics = Map("files_added" -> files.size.toLong,
        "rows_written" -> files.map(_.rows).sum),
      mappingOverride = Some((Map.empty, Set.empty)),
      specOverride = Some(spec))
  }

  /** Remove the commit dirs of written files no manifest will ever
    * reference (a CTAS abort, a no-op replaceWhere).
    */
  private[sources] def discardWritten(spark: SparkSession, dir: String,
      files: Seq[FileEntry]): Unit =
    files.map(e => new Path(absPath(dir, e.path)).getParent).distinct
      .foreach(fs(spark, dir).delete(_, true))

  /** Publish a DSv2 row-level (SQL UPDATE / DELETE / MERGE) replace
    * commit: `files` is the COMPLETE new listing (carried + written),
    * resolved against `base` captured when the operation's scan
    * planned — the same pinned-base lost-update guard as every other
    * writer (an interleaved commit fails this publish; Spark surfaces
    * the error and the statement re-runs against fresh state).
    */
  private[sources] def publishRowLevel(spark: SparkSession, dir: String,
      base: Manifest, files: Seq[FileEntry], op: String,
      metrics: Map[String, Long]): Long =
    commitManifest(spark, dir, op, base.schemaDdl, files, None, None, Some(base),
      metrics = metrics)

  // ---------------------------------------------------------------
  // optimistic concurrency: conflict matrix + rebase-and-retry
  // ---------------------------------------------------------------

  /** Ops a LOSER may rebase over a winner (everything that acts on a
    * subset of files); an alter/replace/restore/clone loser re-runs
    * wholesale — its semantics claim the whole table state.
    */
  private val RebasableOps: Set[String] =
    Set("append", "optimize", "compact", "upsert", "merge", "delete",
      "update", "replace_where")

  /** Ops that MUTATE rows by key or predicate: two of these can
    * overlap on keys/predicates without overlapping on files (e.g.
    * both inserting the same new key), so key-level conflict is not
    * provable at file granularity — they always conflict pairwise.
    */
  private val RowWriterOps: Set[String] =
    Set("upsert", "merge", "delete", "update", "replace_where")

  private[sources] val MaxCommitRetries = 10

  /** Test seam: when non-null, invoked ONCE at the start of the next
    * commitManifest call (after the caller captured its base, before
    * any publish attempt), then cleared — lets a spec land a competing
    * commit deterministically inside the race window without timing
    * threads.
    */
  @volatile private[graft] var raceForTest: () => Unit = null

  /** The scalar state + touched-path set of committed version `v`,
    * read from its raw DELTA file — O(that commit's changes), never a
    * full reconstruction. None when the file carries a full listing
    * (legacy shape) whose action cannot be cheaply derived.
    */
  private def readWinner(spark: SparkSession, dir: String,
      v: Long): Option[(Manifest, Set[String])] = {
    val f = fs(spark, dir)
    val p = new Path(new Path(dir, VersionsDir), manifestName(v))
    if (!f.exists(p)) return None
    val j = readJson(f, p)
    (j \ "files") match {
      case JArray(_) => None // full listing: not a delta, action unknown
      case _ =>
        val removed: Set[String] = (j \ "remove") match {
          case JArray(xs) => xs.collect { case JString(x) => x }.toSet
          case _ => Set.empty
        }
        val setdvPaths: Set[String] = (j \ "setdv") match {
          case JArray(xs) => xs.flatMap(x => (x \ "path") match {
            case JString(s) => Some(s)
            case _ => None
          }).toSet
          case _ => Set.empty
        }
        Some((manifestOf(j, Seq.empty), removed ++ setdvPaths))
    }
  }

  /** The LOGICAL CONFLICT MATRIX: can a loser running `myOp` (touching
    * `myTouched` base files) rebase over committed `winner`? None =
    * commutes; Some(reason) = true conflict, fail loudly.
    *
    *   - a winner that changed TABLE STATE (schema, column mapping,
    *     retired set, constraints) or ran a whole-table-state op
    *     (alter/replace/restore/clone/init) never commutes: the
    *     loser's derived data was computed under state that no longer
    *     holds;
    *   - two ROW WRITERS (upsert/merge/update/delete/replaceWhere)
    *     never commute: both may have claimed the same KEY without
    *     claiming the same FILE (e.g. both inserting a new key), and
    *     key overlap is not provable from file metadata — the judge
    *     of last resort is the caller re-running against fresh state;
    *   - otherwise commutes iff the file sets are DISJOINT: the loser
    *     must not remove/rewrite/re-dv a file the winner already
    *     removed/rewrote/re-dv'd (a blind append touches nothing, so
    *     it commutes with every surviving winner — Delta's
    *     append-vs-anything rule; an optimize commutes with appends
    *     and with deletes confined to files it did not rewrite).
    */
  private def conflictReason(myOp: String, myTouched: Set[String],
      b0: Manifest, winner: Manifest, winnerTouched: Set[String]): Option[String] = {
    if (!RebasableOps.contains(winner.op))
      Some(s"committed op '${winner.op}' claims whole-table state")
    else if (winner.schemaDdl != b0.schemaDdl || winner.mapping != b0.mapping ||
        winner.retired != b0.retired || winner.constraints != b0.constraints ||
        winner.spec != b0.spec)
      Some(s"committed '${winner.op}' changed the table's schema/mapping/constraints/spec")
    else if (RowWriterOps.contains(myOp) && RowWriterOps.contains(winner.op))
      Some(s"row-writing '$myOp' vs committed row-writing '${winner.op}': " +
        "key overlap is not provable at file granularity")
    else {
      val overlap = myTouched intersect winnerTouched
      if (overlap.nonEmpty)
        Some(s"both rewrote/removed ${overlap.size} file(s), e.g. '${overlap.head}'")
      else None
    }
  }

  /** Publish at base+1 with OPTIMISTIC RETRY. `base` is the manifest
    * the operation RESOLVED ITS INPUTS FROM, captured once at
    * operation start — a commit that lands in between makes the first
    * publish fail (the lost-update guard). The loser then reads each
    * interleaved winner's DELTA file (O(changes), no reconstruction),
    * checks the logical conflict matrix ([[conflictReason]]), and on
    * all-commute REBASES its action onto the new latest and retries —
    * bounded by [[MaxCommitRetries]] — so a streaming append and a
    * cron optimize interleave without killing either side, while an
    * overlapping pair of upserts still fails loudly. Data files
    * written before the race are reused verbatim by the rebased
    * manifest: retry costs metadata only.
    */
  private def commitManifest(spark: SparkSession, dir: String, op: String,
      schemaDdl: String, files: Seq[FileEntry], batchId: Option[Long],
      txnApp: Option[String], base: Option[Manifest],
      constraintsOverride: Option[Map[String, String]] = None,
      metrics: Map[String, Long] = Map.empty,
      mappingOverride: Option[(Map[String, String], Set[String])] = None,
      specOverride: Option[TableSpec] = None): Long = {
    val race = raceForTest
    if (race != null) { raceForTest = null; race() }
    var rebases = 0
    def build(b: Option[Manifest], fl: Seq[FileEntry]): Manifest = {
      val v = b.map(_.version + 1).getOrElse(1L)
      val last = (b.flatMap(_.lastBatchId).toSeq ++ batchId.toSeq)
        .reduceOption((a: Long, x: Long) => math.max(a, x))
      // The per-writer txn cursors — the table-format txnAppId/
      // txnVersion idea: batch ids are only monotone WITHIN one
      // streaming query (one checkpoint), so each app id keeps its OWN
      // max-batch entry in the `txns` map; concurrent writers never
      // clobber each other's cursor. Batch commits (no batchId) carry
      // every cursor forward unchanged. The single latest-writer slot
      // (txnApp, txnBatch) is maintained for observability only.
      val prevTxns = b.map(_.txns).getOrElse(Map.empty)
      val (app, tb, txns) = batchId match {
        case Some(bi) =>
          val a = txnApp.getOrElse("default")
          val hi = prevTxns.get(a).fold(bi)(math.max(_, bi))
          (Some(a), Some(hi), prevTxns + (a -> hi))
        case None => (b.flatMap(_.txnApp), b.flatMap(_.txnBatch), prevTxns)
      }
      // ts_ms is monotone non-decreasing across versions (clock skew or
      // sub-ms commits otherwise break readAsOf's binary search)
      val ts = math.max(System.currentTimeMillis(), b.map(_.tsMs + 1).getOrElse(0L))
      // constraints are table state: carried forward unchanged unless this
      // commit is an ALTER; metrics are per-commit, never carried
      val cons = constraintsOverride.getOrElse(b.map(_.constraints).getOrElse(Map.empty))
      // column mapping is table state like constraints: carried forward
      // unchanged unless this commit is an ALTER/evolution that changes it
      val (mp, ret) = mappingOverride.getOrElse(
        (b.map(_.mapping).getOrElse(Map.empty),
          b.map(_.retired).getOrElse(Set.empty)))
      // the layout/stats spec is table state like constraints: carried
      // forward unchanged unless this commit sets it
      val sp = specOverride.getOrElse(b.map(_.spec).getOrElse(TableSpec()))
      // observability: a commit that had to rebase says so in history()
      val met = if (rebases == 0) metrics
        else metrics + ("occ_rebases" -> rebases.toLong)
      Manifest(v, op, schemaDdl, fl, batchId, last, app, tb, ts, cons,
        met, mp, ret, sp, txns)
    }
    // my action vs MY base, derived once — what a rebase replays
    val myAction = base.map(b => actionOf(b.files, files))
    var cur = base
    var curFiles = files
    var attempt = 0
    while (true) {
      // Exactly-once gate, re-checked against EVERY base this commit is
      // built on — the caller's original base AND each post-race rebase
      // target: if this writer's (app, batchId) epoch is already covered
      // by the base's cursor map, a racing instance of the same query
      // (zombie driver during streaming failover) already published it —
      // committing again would duplicate the epoch's rows. The pre-commit
      // checks in the sinks cover the common path; this covers the race
      // where the winning twin lands between that check and our publish.
      for (bi <- batchId) {
        val a = txnApp.getOrElse("default")
        if (cur.exists(_.txns.get(a).exists(_ >= bi)))
          throw new EpochAlreadyCommittedException(
            s"epoch $bi of writer '$a' is already committed at $dir " +
              s"(cursor ${cur.get.txns(a)}) — replayed batch, nothing to publish")
      }
      val m = build(cur, curFiles)
      try {
        cur match {
          case None => writeManifest(spark, dir, m) // v1: full listing
          case Some(b) => writeDelta(spark, dir, m, b) // O(changes) metadata
        }
        // periodic checkpoint bounds every reader's reconstruction chain;
        // written AFTER the version wins its race, so it never races a
        // competing commit — only a competing checkpointer (idempotent)
        if (m.version % CheckpointInterval == 0) writeCheckpoint(spark, dir, m)
        return m.version
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          // no rebase for table creation or whole-table-state ops, and
          // never unbounded
          if (base.isEmpty || !RebasableOps.contains(op) ||
              attempt > MaxCommitRetries) throw e
          val b0 = base.get
          val act = myAction.get
          val latest = latestVersion(spark, dir).getOrElse(throw e)
          ((cur.get.version + 1) to latest).foreach { w =>
            val (wm, wTouched) = readWinner(spark, dir, w).getOrElse(
              throw new java.util.ConcurrentModificationException(
                s"commit of '$op' at $dir lost to version $w, which carries a " +
                  "full listing — cannot derive its action; re-read and retry"))
            conflictReason(op, act.touched, b0, wm, wTouched).foreach { reason =>
              throw new java.util.ConcurrentModificationException(
                s"commit of '$op' at $dir conflicts with committed version $w " +
                  s"(op '${wm.op}'): $reason — re-run the operation against " +
                  "fresh state")
            }
          }
          val nb = readManifest(spark, dir, latest)
          curFiles = rebaseFiles(nb.files, act)
          cur = Some(nb)
          rebases = attempt
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def baseManifest(spark: SparkSession, dir: String): Option[Manifest] =
    latestVersion(spark, dir).map(readManifest(spark, dir, _))

  /** The latest committed manifest; fails on a table with none. */
  private[sources] def latest(spark: SparkSession, dir: String): Manifest =
    baseManifest(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))

  /** Manifest schemas are stored all-nullable — the same semantics
    * `spark.read.parquet` infers for any parquet table, and a
    * requirement for schema evolution: the vectorized reader refuses
    * a file MISSING a column the read schema marks non-nullable, and
    * every evolved version has such files by construction.
    */
  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  // ---------------------------------------------------------------
  // column mapping (logical ↔ physical names)
  // ---------------------------------------------------------------

  /** The in-file counterpart of logical `schema`: each field renamed to
    * its physical name. Identity when `mapping` is empty (legacy and
    * never-altered tables) — the common path pays nothing.
    */
  private[sources] def physicalSchema(schema: StructType, mapping: Map[String, String]): StructType =
    if (mapping.isEmpty) schema
    else StructType(schema.fields.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))

  /** True when `mapping` actually renames a field of `schema`. */
  private def mapsAny(schema: StructType, mapping: Map[String, String]): Boolean =
    mapping.nonEmpty && schema.fields.exists(f => mapping.contains(f.name))

  /** Rename a logical frame's columns to their physical names for
    * writing. Positional (`toDF`), so it cannot collide mid-rename the
    * way a chain of `withColumnRenamed` can (rename a→b while b→a).
    */
  private def toPhysical(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.toDF(df.schema.fields.map(f => mapping.getOrElse(f.name, f.name)).toIndexedSeq: _*)

  /** Assign physical names for columns being ADDED to the table
    * (explicit [[addColumn]] or append/upsert schema evolution). A new
    * logical name binds itself as physical unless that physical slot
    * is taken — live under another logical column (possible after a
    * rename) or retired (a dropped column whose data still sits in
    * retained files, which a re-bind would resurrect) — in which case
    * a versioned fresh name is minted. Returns added-name → physical
    * for EVERY added field (identity included; callers store only
    * non-identity entries in the manifest).
    */
  private def assignPhysical(base: Manifest, added: Seq[StructField]): Map[String, String] = {
    val taken = scala.collection.mutable.Set.empty[String]
    taken ++= base.schema.fields.map(f => base.mapping.getOrElse(f.name, f.name))
    taken ++= base.retired
    added.map { f =>
      val phys =
        if (!taken.contains(f.name)) f.name
        else Iterator.from(1).map(i => s"${f.name}_r$i").find(!taken.contains(_)).get
      taken += phys
      f.name -> phys
    }.toMap
  }

  /** Refuse an ALTER that would break a stored CHECK constraint: every
    * predicate must still resolve against the post-alter logical
    * schema (drop the constraint first, then the column).
    */
  private def requireConstraintsResolve(spark: SparkSession,
      constraints: Map[String, String], schema: StructType, alter: String): Unit = {
    if (constraints.isEmpty) return
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    constraints.foreach { case (name, pred) =>
      try probe.filter(expr(pred)).queryExecution.analyzed
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"cannot $alter: CHECK constraint '$name' ($pred) would no longer " +
            s"resolve — drop the constraint first (${e.getMessage})")
      }
    }
  }

  /** Publish `df` as the table's next FULL version (creates the table
    * at version 1). Returns the committed version. `spec` sets the
    * table's layout/stats configuration at creation (or re-sets it on
    * a full replace); None carries the existing spec forward.
    */
  def commit(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Option[Long] = None, txnApp: Option[String] = None,
      spec: Option[TableSpec] = None): Long =
    commitCounted(spark, dir, df, batchId, txnApp, spec)._1

  /** [[commit]] that also returns the rows written — the write path
    * already counts them for the manifest metrics, so a caller that
    * needs the admitted-row count (dedup-on-arrival's census) can skip
    * a separate count() action over the batch.
    */
  def commitCounted(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Option[Long] = None, txnApp: Option[String] = None,
      spec: Option[TableSpec] = None): (Long, Long) = {
    val base = baseManifest(spark, dir)
    val effSpec = spec.orElse(base.map(_.spec)).getOrElse(TableSpec())
    val files = writeDataFiles(spark, dir, df,
      checksOf(base.map(_.constraints).getOrElse(Map.empty)), spec = effSpec)
    // a full replace references none of the old files, so the column
    // mapping resets to identity — retained versions keep THEIR OWN
    // manifest's mapping for time travel
    val v = commitManifest(spark, dir, if (base.isDefined) "replace" else "init",
      nullable(df.schema).toDDL, files, batchId, txnApp, base,
      metrics = Map("files_added" -> files.size.toLong,
        "rows_written" -> files.map(_.rows).sum),
      mappingOverride = Some((Map.empty, Set.empty)),
      specOverride = Some(effSpec))
    (v, files.map(_.rows).sum)
  }

  /** ALTER the table's layout/stats spec ([[TableSpec]]) — a
    * METADATA-ONLY commit. Applies to FUTURE writes: existing file
    * entries keep the stats they were written with (per-file
    * conservative pruning makes the mix sound); run [[optimize]] to
    * rewrite history under the new spec. Partition/stats/bloom columns
    * must exist in the current schema.
    */
  def setTableSpec(spark: SparkSession, dir: String, spec: TableSpec): Long = {
    val prev = latest(spark, dir)
    val names = prev.schema.fieldNames.toSet
    val unknown = (spec.partitionCols ++ spec.statsCols ++ spec.bloomCols)
      .filterNot(names.contains).distinct
    require(unknown.isEmpty,
      s"setTableSpec: unknown column(s) ${unknown.mkString(", ")} at $dir")
    require(spec.bloomBits >= 64, s"bloomBits too small: ${spec.bloomBits}")
    commitManifest(spark, dir, "alter", prev.schemaDdl, prev.files,
      None, None, Some(prev),
      metrics = Map("spec_changed" -> 1L),
      specOverride = Some(spec))
  }

  /** The latest version's layout/stats spec — diagnostics/tests. */
  def tableSpecOf(spark: SparkSession, dir: String): TableSpec =
    baseManifest(spark, dir).map(_.spec).getOrElse(TableSpec())

  /** Append `df`'s rows as a new version: previous files carry over
    * untouched, only the new rows are written. The O(new data) ingest
    * path — at 100 TB this is what a micro-batch loader calls. New
    * columns in `df` evolve the table schema (old files read back
    * null-filled); columns `df` lacks stay, with the new rows null.
    */
  def append(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Option[Long] = None, txnApp: Option[String] = None): Long =
    appendCounted(spark, dir, df, batchId, txnApp)._1

  /** [[append]] returning (version, rows written) — see [[commitCounted]]. */
  def appendCounted(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Option[Long] = None, txnApp: Option[String] = None): (Long, Long) = {
    val base = baseManifest(spark, dir)
    val schema = nullable(base.map(m => mergeSchemas(m.schema, df.schema)).getOrElse(df.schema))
    val mapping = base match {
      case None => Map.empty[String, String]
      case Some(b) =>
        val added = schema.fields.filterNot(f => b.schema.fieldNames.contains(f.name))
        b.mapping ++ assignPhysical(b, added.toSeq).filter { case (l, p) => l != p }
    }
    val files = writeDataFiles(spark, dir, df,
      checksOf(base.map(_.constraints).getOrElse(Map.empty)), mapping,
      base.map(_.spec).getOrElse(TableSpec()))
    val v = commitManifest(spark, dir, "append", schema.toDDL,
      base.map(_.files).getOrElse(Seq.empty) ++ files, batchId, txnApp, base,
      metrics = Map("files_added" -> files.size.toLong,
        "rows_written" -> files.map(_.rows).sum),
      mappingOverride = Some((mapping, base.map(_.retired).getOrElse(Set.empty))))
    (v, files.map(_.rows).sum)
  }

  /** Evolve `cur` by `incoming`: unknown fields append (nullable), a
    * same-name field must keep its type — silent type drift across
    * immutable files would poison every later read.
    */
  private[sources] def mergeSchemas(cur: StructType, incoming: StructType): StructType = {
    val byName = cur.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { prev =>
        require(prev.dataType == f.dataType,
          s"schema evolution cannot change column '${f.name}' from ${prev.dataType} to ${f.dataType}")
      }
    }
    StructType(cur.fields ++
      incoming.fields.filterNot(f => byName.contains(f.name)).map(_.copy(nullable = true)))
  }

  /** Snapshot-isolated read of a specific version through the
    * manifest-backed file index: the file list is resolved from the
    * manifest ONCE, here, and Catalyst's pushed filters prune files by
    * the manifest statistics at planning time (see the object
    * Scaladoc's Data skipping section). Later commits, upserts,
    * compactions, even a vacuum of OTHER versions cannot change what
    * this frame reads.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val m = readManifest(spark, dir, version)
    readEntries(spark, dir, m.files, m.schema, m.tsMs, m.mapping)
  }

  /** The rows a scan over `location` returns, from the manifest alone:
    * Some(sum of the entries' row counts) for a [[SnapshotFileIndex]]
    * whose every entry records its rows and carries no deletion
    * vector, else None. Backs [[graft.plans.SnapshotCountRewriteRule]].
    */
  private[graft] def manifestRowCount(location: FileIndex): Option[Long] = location match {
    case i: SnapshotFileIndex => i.manifestRows
    case _ => None
  }

  private[sources] def baseName(rel: String): String =
    rel.substring(rel.lastIndexOf('/') + 1)

  /** Resolve a manifest file reference against the table root.
    * References are normally table-root-relative (`data/...`); a
    * SHALLOW CLONE records absolute references into its source table,
    * which resolve as themselves. [[vacuum]] must never delete through
    * a foreign (absolute) reference — see [[isOwnPath]].
    */
  private[sources] def absPath(dir: String, ref: String): String =
    if (ref.startsWith("/") || ref.contains(":/")) ref else s"$dir/$ref"

  /** True when `ref` points inside THIS table's own subtree (the only
    * bytes its maintenance is allowed to delete): the data dir, or a
    * consumed branch's data adopted by [[fastForward]]'s rename-free
    * publish (`_branches/<name>/data/...` — under the table root, owned
    * by the parent once published). A LIVE branch's files are never
    * referenced by any parent manifest, so they can never enter a
    * vacuum's drop set through this predicate.
    */
  private def isOwnPath(ref: String): Boolean =
    ref.startsWith(s"$DataDir/") || ref.startsWith(s"$BranchesDir/")

  /** Scan `entries` through the manifest-backed file index (stats
    * pruning applies), IGNORING deletion vectors.
    */
  private def scanEntries(spark: SparkSession, dir: String,
      entries: Seq[FileEntry], schema: StructType, tsMs: Long): DataFrame = {
    val index = new SnapshotFileIndex(dir, entries, schema, tsMs)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** DV-aware snapshot scan. Files without a deletion vector take the
    * unchanged fast path (one manifest-indexed scan — for a table with
    * no deletes the plan is byte-identical to before DVs existed).
    * Files WITH a DV are scanned with their `_metadata` row position
    * and the deleted (file, position) pairs are removed by ONE
    * left-anti join against the union of the referenced DV datasets.
    *
    * Soundness of reading the dv datasets UNFILTERED: part-file
    * basenames are globally unique (every write job stamps its own
    * UUID), and an entry only ever re-points to a SUPERSET dv (the
    * delete merge unions old positions), so a stale dv row either
    * names a basename no live file has or duplicates a pair the
    * current dv already holds — it can never delete a live row of a
    * different or rewritten file. Scale shape: the anti join's right
    * side is O(deleted rows not yet materialized away); [[optimize]]
    * and [[compact]] rewrite dv'd files and purge it to zero, which is
    * the maintenance policy that bounds merge-on-read read cost.
    */
  private[sources] def readEntries(spark: SparkSession, dir: String,
      entries: Seq[FileEntry], schema: StructType, tsMs: Long,
      mapping: Map[String, String] = Map.empty): DataFrame = {
    if (schema.isEmpty) return spark.emptyDataFrame
    // files carry PHYSICAL names: scan physical, label logical last.
    // The rename is a pure Project of aliases, so pushed filters on
    // logical names rewrite through it and reach the scan (and the
    // manifest stats, which are physical-keyed) untouched; when the
    // table was never altered the projection is skipped entirely and
    // the plan is byte-identical to the pre-mapping layer.
    val phys = physicalSchema(schema, mapping)
    def toLogical(df: DataFrame): DataFrame =
      if (!mapsAny(schema, mapping)) df
      else df.toDF(schema.fieldNames.toIndexedSeq: _*)
    val (dved, clean) = entries.partition(_.dv.isDefined)
    val cleanDf = scanEntries(spark, dir, clean, phys, tsMs)
    if (dved.isEmpty) return toLogical(cleanDf)
    val alive = withoutDeleted(spark, dir, dved,
        scanEntries(spark, dir, dved, phys, tsMs), "_metadata")
      .drop("__gf", "__gp")
    toLogical(if (clean.isEmpty) alive else cleanDf.unionByName(alive))
  }

  /** A deletion-vector dataset's rows: deleted (file basename, row
    * index) pairs. Read with this schema rather than an inferred one,
    * which would cost a job per read.
    */
  private val DvSchema = "__dv_file STRING, __dv_pos BIGINT"

  private def readDvs(spark: SparkSession, dir: String, rels: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(rels.distinct.map(absPath(dir, _)): _*)

  /** `scanned` with each row's file basename (`__gf`) and row index
    * (`__gp`), read off its metadata struct column `meta`, minus the
    * rows the deletion vectors of `entries` already deleted: one left
    * anti join against their dv datasets, none when no entry has one.
    */
  private def withoutDeleted(spark: SparkSession, dir: String, entries: Seq[FileEntry],
      scanned: DataFrame, meta: String): DataFrame = {
    val positioned = scanned
      .withColumn("__gf", element_at(split(col(s"$meta.file_path"), "/"), -1))
      .withColumn("__gp", col(s"$meta.row_index"))
    val dvRels = entries.flatMap(_.dv.map(_.path))
    if (dvRels.isEmpty) positioned
    else {
      val dv = readDvs(spark, dir, dvRels)
      positioned.join(dv, positioned("__gf") === dv("__dv_file") &&
        positioned("__gp") === dv("__dv_pos"), "left_anti")
    }
  }

  /** `entries` read under `m`'s LOGICAL column names, with the scan's
    * `_metadata` struct carried as `__meta`. Files carry physical
    * names: the relabel is a pure projection of aliases, so a filter
    * on logical names still pushes down to the scan, and columns a
    * caller does not select are pruned from it.
    */
  private def labelledScan(spark: SparkSession, dir: String, m: Manifest,
      entries: Seq[FileEntry]): DataFrame =
    spark.read.schema(physicalSchema(m.schema, m.mapping))
      .parquet(entries.map(e => absPath(dir, e.path)): _*)
      .select(m.schema.fields.toSeq.map(f =>
        col(m.mapping.getOrElse(f.name, f.name)).as(f.name)) :+
        col("_metadata").as("__meta"): _*)

  /** The row-level writers' one scan: the LIVE rows of `entries` under
    * `m`'s logical names, each with its `__gf`/`__gp` position.
    */
  private def positionedScan(spark: SparkSession, dir: String, m: Manifest,
      entries: Seq[FileEntry]): DataFrame =
    withoutDeleted(spark, dir, entries, labelledScan(spark, dir, m, entries), "__meta")

  /** The entries of `m` whose manifest statistics do not prove that
    * `condition` (on logical names) cannot match: the read path's own
    * pruning, metadata only. The condition is resolved through a scan
    * of `m`, where the optimizer pushes it below the logical-rename
    * projection, so it references the PHYSICAL attributes the stats
    * are keyed by (an unpushable condition stays logical and simply
    * prunes nothing).
    */
  private def statsCandidates(spark: SparkSession, dir: String, m: Manifest,
      condition: Column): Seq[FileEntry] = {
    val resolved = readEntries(spark, dir, m.files, m.schema, m.tsMs, m.mapping)
      .filter(condition).queryExecution.optimizedPlan.collect {
        case fl: org.apache.spark.sql.catalyst.plans.logical.Filter => fl.condition
      }
    val names = new SnapshotFileIndex(dir, m.files,
        physicalSchema(m.schema, m.mapping), m.tsMs)
      .listFiles(Nil, resolved).flatMap(_.files.map(_.getPath.getName)).toSet
    m.files.filter(e => names.contains(baseName(e.path)))
  }

  /** Rows of `df` per value of its string column `c`. */
  private def countsBy(df: DataFrame, c: String): Map[String, Long] =
    df.groupBy(col(c)).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Read the latest committed version. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir")))

  /** Timestamp time travel: read the newest version committed at or
    * before `tsMs` (epoch millis) — "the table as the 09:00 job saw
    * it". Commit timestamps are monotone by construction, so this is
    * a BINARY SEARCH over manifests — O(log versions) manifest reads,
    * not one per retained version. Fails loudly when the timestamp
    * predates the first retained version (vacuum defines how far back
    * this reaches, same contract as [[readVersion]]).
    */
  def readAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame =
    readVersion(spark, dir, versionAtOrBefore(spark, dir, tsMs))

  /** The newest version committed at or before `tsMs` — the timestamp
    * time-travel resolution [[readAsOf]] and the DSv2 `timestampAsOf`
    * option share. Binary search over the monotone commit timestamps.
    */
  private[sources] def versionAtOrBefore(spark: SparkSession, dir: String,
      tsMs: Long): Long = {
    val vs = versions(spark, dir).toIndexedSeq
    def tsOf(i: Int): Long = readManifest(spark, dir, vs(i)).tsMs
    if (vs.isEmpty || tsOf(0) > tsMs)
      throw new IllegalStateException(
        s"no version at or before ts_ms=$tsMs at $dir (vacuumed or pre-history)")
    // invariant: ts(lo) <= tsMs; answer is the largest such index
    var lo = 0
    var hi = vs.size - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (tsOf(mid) <= tsMs) lo = mid else hi = mid - 1
    }
    vs(lo)
  }

  /** Change data feed between two retained versions: what changes
    * batch turns version `from` into version `to`? One full-outer key
    * join ([[graft.operators.Merge.diff]]) — rows tagged added /
    * removed / changed with the `to`-side values (`from` values for
    * removals). The downstream-sync primitive: a consumer at version N
    * catches up to N+k by applying one diff instead of re-reading the
    * table.
    */
  def changes(spark: SparkSession, dir: String, from: Long, to: Long,
      keys: Seq[String]): DataFrame =
    graft.operators.Merge.diff(
      readVersion(spark, dir, from), readVersion(spark, dir, to), keys)

  /** Publish pre-written data files as ONE append version with the
    * writer-scoped exactly-once cursor — the streaming-sink commit
    * path ([[SnapshotStreamTable]]'s `writeStream.toTable` support):
    * a replayed epoch from the SAME query (txnApp) at or below the
    * stored cursor publishes NOTHING (None); everything else is a
    * normal O(entries) append. Entries must already live under the
    * table's own data dir.
    */
  private[sources] def appendEntries(spark: SparkSession, dir: String,
      entries: Seq[FileEntry], batchId: Long, txnApp: String): Option[Long] = {
    val base = latest(spark, dir)
    if (base.txns.get(txnApp).exists(_ >= batchId))
      return None // replayed epoch: already committed, skip idempotently
    try Some(commitManifest(spark, dir, "append", base.schemaDdl,
      base.files ++ entries, Some(batchId), Some(txnApp), Some(base),
      metrics = Map("rows_written" -> entries.map(_.rows).sum,
        "files_added" -> entries.size.toLong)))
    catch {
      // a racing twin of the same query published this epoch between our
      // base read and our publish (detected during OCC rebase) — same
      // idempotent skip as the fast path above
      case _: EpochAlreadyCommittedException => None
    }
  }

  /** Bytes ADDED by version `v`, from its raw delta file — O(that
    * commit's changes), never a reconstruction. A full-listing version
    * (v1 / legacy / checkpoint-shaped) counts all its bytes: from an
    * incremental consumer's perspective the whole content is new. The
    * streaming source's byte-based admission control reads this.
    */
  private[sources] def addedBytes(spark: SparkSession, dir: String, v: Long): Long = {
    val f = fs(spark, dir)
    val j = readJson(f, new Path(new Path(dir, VersionsDir), manifestName(v)))
    val entries = (j \ "files") match {
      case JArray(xs) => xs
      case _ => (j \ "add") match {
        case JArray(xs) => xs
        case _ => Nil
      }
    }
    implicit val fmts: Formats = DefaultFormats
    entries.map(e => (e \ "bytes").extractOrElse[Long](0L)).sum
  }

  /** The exactly-once cursor: highest streaming batch id ever
    * committed to this table (None for a pure-batch table).
    */
  def lastBatchId(spark: SparkSession, dir: String): Option[Long] =
    baseManifest(spark, dir).flatMap(_.lastBatchId)

  /** The LATEST streaming writer's cursor: (txnApp, highest batch id
    * that app has committed) — observability only (history rendering,
    * "who wrote last"). Skip decisions must use [[txnCursor]]: this
    * slot tracks only the most recent writer, so with two concurrent
    * streaming queries it reflects whichever committed last and says
    * nothing about the other's progress.
    */
  def lastTxn(spark: SparkSession, dir: String): Option[(String, Long)] =
    baseManifest(spark, dir).flatMap(m =>
      m.txnBatch.map(b => (m.txnApp.getOrElse("default"), b)))

  /** The per-writer exactly-once cursor: highest batch id `app` has
    * ever committed to this table (None if it never has). Kept per
    * app id — concurrent streaming queries each hold their own entry,
    * so one writer's commits never erase another's replay protection.
    * A streaming sink must skip a batch ONLY when its own identity's
    * cursor covers it — batch ids restart at 0 for a fresh checkpoint,
    * so an identity-blind `>= batchId` check against [[lastBatchId]]
    * would silently discard every batch a NEW query writes to an
    * existing table.
    */
  def txnCursor(spark: SparkSession, dir: String, app: String): Option[Long] =
    baseManifest(spark, dir).flatMap(_.txns.get(app))

  /** File-granular copy-on-write MERGE: apply `changes` (updates +
    * inserts + optional `deleteCol` tombstones, key-unique) onto the
    * latest version and publish the result as a new version.
    *
    * Only files CONTAINING a changed key are rewritten, found in two
    * narrowing steps: (1) metadata-only — files whose manifest
    * key-range stats cannot intersect the change batch's key range
    * are untouched by proof, no I/O; (2) one `_metadata.file_path`
    * semi-join over just the surviving candidates pins the exact
    * touched set. On a key-clustered layout step 1 alone bounds the
    * rewrite to the touched key range. Untouched files carry into the
    * new manifest verbatim (statistics included). Inserts of
    * brand-new keys ride the same rewrite (the merge is a full outer
    * join), and a tombstoned key's file is by definition touched — so
    * deletes need no extra pass. The per-commit collect is O(touched
    * files) strings on the driver, bounded by the file count (never
    * rows).
    *
    * Schema evolution: columns in `changes` the table doesn't have
    * yet are ADDED (old rows and untouched files read back null for
    * them); `changes` must still carry every existing value column.
    */
  /** Steps 1+2 of a key-wise file-granular rewrite ([[upsert]] /
    * [[mergeInto]]): candidate files from the manifest's key-range
    * statistics (metadata-only, no I/O), then the EXACT touched set via
    * one `_metadata.file_path` semi-join over just the candidates.
    * Returns (touched, untouched) partitioning the snapshot's files,
    * and the row count of `changeKeys`, which rides the key-range
    * aggregate; with no change rows nothing is touched and the
    * semi-join is skipped.
    */
  private def touchedByKeys(spark: SparkSession, dir: String, prev: Manifest,
      changeKeys: DataFrame, keys: Seq[String]): (Seq[FileEntry], Seq[FileEntry], Long) = {
    // -- step 1: metadata-only candidate pruning by key-range stats --
    val keyCol = keys.head
    // manifest stats are keyed by PHYSICAL column names
    val physKeyCol = prev.mapping.getOrElse(keyCol, keyCol)
    val changeKeyType = changeKeys.schema(keyCol).dataType
    val r = changeKeys.agg(
      min(statExpr(col(keyCol), changeKeyType)).as("__mn"),
      max(statExpr(col(keyCol), changeKeyType)).as("__mx"),
      count(lit(1)).as("__n")).collect()(0)
    val changeRows = r.getLong(2)
    if (changeRows == 0) return (Seq.empty, prev.files, 0L)
    val changeRange: Option[(String, String)] =
      for {
        mn <- encodeStat(changeKeyType, r.get(0))
        mx <- encodeStat(changeKeyType, r.get(1))
      } yield (mn, mx)
    def mayContainChangedKey(e: FileEntry): Boolean = (e.stats.get(physKeyCol), changeRange) match {
      case (Some(cs), Some((cmn, cmx))) =>
        // disjoint iff file.max < changes.min or file.min > changes.max;
        // both sides are already in the canonical stat encoding
        def cmp(a: String, b: String): Option[Int] = changeKeyType match {
          case StringType => Some(a.compareTo(b))
          case BooleanType => Some(a.toBoolean.compareTo(b.toBoolean))
          case _: NumericType | DateType | TimestampType =>
            try Some(BigDecimal(a).compare(BigDecimal(b)))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
        val disjoint =
          cs.max.flatMap(mx => cmp(mx, cmn)).exists(_ < 0) ||
          cs.min.flatMap(mn => cmp(mn, cmx)).exists(_ > 0)
        !disjoint
      case _ => true // no stats → conservative
    }
    val candidates = prev.files.filter(mayContainChangedKey)

    // -- step 2: exact touched set via _metadata over candidates only --
    val touchedNames: Set[String] =
      if (candidates.isEmpty) Set.empty
      else {
        labelledScan(spark, dir, prev, candidates)
          .select(keys.map(col) :+ col("__meta.file_path").as("__fp"): _*)
          .join(changeKeys.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .select(col("__fp")).distinct()
          .collect().map(r => { val p = r.getString(0); p.substring(p.lastIndexOf('/') + 1) })
          .toSet
      }
    // _metadata.file_path is an absolute URI; manifest paths are
    // table-root-relative. Match on the BASENAME, which is globally
    // unique (each write job stamps its own UUID into part file
    // names), via hash sets — an O(files × touched) scan would be
    // quadratic in the driver at a 100 TB table's ~1e6 entries.
    val touched = prev.files.filter(e =>
      touchedNames.contains(e.path.substring(e.path.lastIndexOf('/') + 1)))
    val touchedPaths = touched.map(_.path).toSet
    (touched, prev.files.filterNot(e => touchedPaths.contains(e.path)), changeRows)
  }

  def upsert(spark: SparkSession, dir: String, changes: DataFrame,
      keys: Seq[String], deleteCol: Option[String] = None,
      batchId: Option[Long] = None, txnApp: Option[String] = None): Long =
    upsertChanges(spark, dir, changes, keys, deleteCol, batchId, txnApp,
      mintEmpty = true).get

  /** [[upsert]], except that with `mintEmpty` false an empty `changes`
    * mints no version (None). Emptiness is read off the key-range
    * aggregate the upsert runs anyway, so it costs no job of its own —
    * the streaming CDC sink's per-batch form.
    */
  private[graft] def upsertChanges(spark: SparkSession, dir: String, changes: DataFrame,
      keys: Seq[String], deleteCol: Option[String], batchId: Option[Long],
      txnApp: Option[String], mintEmpty: Boolean): Option[Long] = {
    val prev = latest(spark, dir)
    val curSchema = prev.schema
    val (touched, untouched, changeRows) = touchedByKeys(spark, dir, prev, changes, keys)
    if (changeRows == 0 && !mintEmpty) return None

    // -- schema evolution: new change columns extend the table --
    val newSchema = mergeSchemas(curSchema,
      StructType(changes.schema.fields.filterNot(f => deleteCol.contains(f.name))))
    val addedCols = newSchema.fields.filterNot(f => curSchema.fieldNames.contains(f.name))
    val newMapping = prev.mapping ++
      assignPhysical(prev, addedCols.toSeq).filter { case (l, p) => l != p }

    val base0 = if (touched.isEmpty) {
      // all-new keys: merge against an empty slice of the current schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], curSchema)
    } else
      // DV-aware: a touched file's deleted rows must NOT be resurrected
      // by the rewrite — and since the rewrite output is a fresh file
      // set, the dv is materialized away for every touched file
      readEntries(spark, dir, touched, curSchema, prev.tsMs, prev.mapping)
    val base = addedCols.foldLeft(base0)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    val merged = graft.operators.Merge.upsert(base, changes, keys, deleteCol)
    val newFiles = writeDataFiles(spark, dir, merged, checksOf(prev.constraints), newMapping,
      prev.spec)
    Some(commitManifest(spark, dir, "upsert", nullable(newSchema).toDDL,
      untouched ++ newFiles, batchId, txnApp, Some(prev),
      metrics = Map("files_rewritten" -> touched.size.toLong,
        "files_added" -> newFiles.size.toLong,
        "rows_written" -> newFiles.map(_.rows).sum),
      mappingOverride = Some((newMapping, prev.retired))))
  }

  /** Multi-clause MERGE INTO the latest version — the full ANSI/Delta
    * clause surface over the snapshot layer: conditional UPDATE/DELETE
    * on match, conditional INSERT (or INSERT *) on no target match,
    * conditional UPDATE/DELETE on no source match. Clause semantics
    * are [[graft.operators.Merge.merge]]'s (first-match within each
    * group, unclaimed rows pass through); this method adds the
    * file-granular copy-on-write table story around them.
    *
    * Scale shape: WITHOUT by-source clauses, only files that can
    * contain a source key are rewritten — the same two-step narrowing
    * as [[upsert]] (metadata key-range stats, then one `_metadata`
    * semi-join over candidates), so a key-clustered layout bounds the
    * rewrite to the touched key range and inserts ride the rewrite.
    * WITH a NOT MATCHED BY SOURCE clause the merge is inherently
    * table-wide (any file might hold a row whose key is absent from
    * the source — key pruning is unsound by definition), so every file
    * is rewritten; the same cliff every table format documents. Prefer
    * expressing retention deletes as [[deleteWhere]] (merge-on-read,
    * stats-prunable) and keep by-source merges for genuine
    * full-reconciliation syncs.
    *
    * Deletion vectors on touched files are honored (deleted rows
    * cannot resurrect) and materialized away by the rewrite. The
    * commit carries rows_written / files_rewritten / files_added
    * metrics and the usual exactly-once batch/txn cursors.
    */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], clauses: Seq[graft.operators.Merge.MergeClause],
      batchId: Option[Long] = None, txnApp: Option[String] = None): Long = {
    import graft.operators.Merge
    val prev = latest(spark, dir)
    val curSchema = prev.schema
    val bySource = clauses.exists {
      case _: Merge.NotMatchedBySourceUpdate | _: Merge.NotMatchedBySourceDelete => true
      case _ => false
    }
    val (touched, untouched, _) =
      if (bySource) (prev.files, Seq.empty[FileEntry], 0L) // table-wide by definition
      else touchedByKeys(spark, dir, prev, source.select(keys.map(col): _*), keys)
    val base =
      if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], curSchema)
      else readEntries(spark, dir, touched, curSchema, prev.tsMs, prev.mapping)
    val merged = Merge.merge(base, source, keys, clauses)
    val newFiles = writeDataFiles(spark, dir, merged, checksOf(prev.constraints), prev.mapping,
      prev.spec)
    commitManifest(spark, dir, "merge", prev.schemaDdl,
      untouched ++ newFiles, batchId, txnApp, Some(prev),
      metrics = Map("files_rewritten" -> touched.size.toLong,
        "files_added" -> newFiles.size.toLong,
        "rows_written" -> newFiles.map(_.rows).sum))
  }

  /** MERGE-ON-READ DELETE: remove the rows matching `condition` from
    * the latest version WITHOUT rewriting data files. Three narrowing
    * steps decide each file's fate:
    *
    *   1. metadata-only — files whose manifest statistics prove the
    *      predicate cannot match carry over untouched (the same
    *      evaluator the read path's data skipping uses);
    *   2. one dv-aware scan over the surviving candidates records each
    *      matching LIVE row's (file, position) into a deletion-vector parquet
    *      dataset — O(candidate files) I/O, O(matched rows) output,
    *      ZERO data-file rewrites (compare [[upsert]]'s copy-on-write,
    *      which rewrites every touched file: a delete of 100 rows
    *      spread over 100 128 MB files costs ~13 GB of rewrite under
    *      copy-on-write and ~4 KB of dv under merge-on-read);
    *   3. a file whose every physical row is now deleted is DROPPED
    *      from the manifest outright (metadata-only full-file delete);
    *      a partially-deleted file carries with a [[DvRef]], its old
    *      dv positions (if any) UNIONED into the new dataset so each
    *      entry always references one complete dv.
    *
    * Readers apply dvs as one anti join ([[readEntries]]); versions
    * before the delete still read every row (time travel unaffected);
    * [[upsert]]/[[compact]]/[[optimize]] materialize dvs away when
    * they rewrite. Returns None (no version minted) when no live row
    * matched — a cron'd retention delete converges like [[optimize]]:
    * its re-run re-matches only rows already deleted.
    */
  def deleteWhere(spark: SparkSession, dir: String, condition: Column,
      batchId: Option[Long] = None, txnApp: Option[String] = None): Option[Long] = {
    val prev = latest(spark, dir)
    // -- step 1: metadata-only candidate pruning --
    val candidates = statsCandidates(spark, dir, prev, condition)
    if (candidates.isEmpty) return None
    // -- step 2: one dv-aware scan, matched live (file, pos) pairs
    //    straight to disk; the per-file counts come from what it wrote --
    val (rel, counts) = writeDv(spark, dir,
      positionedScan(spark, dir, prev, candidates).filter(condition)
        .select(col("__gf").as("__dv_file"), col("__gp").as("__dv_pos")), Nil)
    val f = fs(spark, dir)
    if (counts.isEmpty) { f.delete(new Path(s"$dir/$rel"), true); return None }
    // -- step 3: fates; a partial file's prior dv merges into a new one --
    val (_, dead, partial) = fates(prev.files, counts)
    val dv =
      if (partial.isEmpty) None
      else if (partial.forall(_.dv.isEmpty)) Some((rel, counts))
      else Some(writeDv(spark, dir, readDvs(spark, dir, Seq(rel)), partial))
    // every touched file fully dropped, or merged: `rel` is unreferenced
    if (!dv.exists(_._1 == rel)) f.delete(new Path(s"$dir/$rel"), true)
    Some(commitManifest(spark, dir, "delete", prev.schemaDdl,
      withDv(prev.files, dead, dv), batchId, txnApp, Some(prev),
      metrics = Map(
        "rows_deleted" -> counts.values.sum,
        "files_dropped" -> dead.size.toLong,
        "files_dv" -> partial.size.toLong)))
  }

  /** Write the deletion vector holding `pairs` (`__dv_file`,
    * `__dv_pos`) merged with the prior dv positions of `merge`, so each
    * of those entries references ONE complete dv. Returns the dv's
    * table-relative path and its deleted positions per file basename.
    */
  private def writeDv(spark: SparkSession, dir: String, pairs: DataFrame,
      merge: Seq[FileEntry]): (String, Map[String, Long]) = {
    import spark.implicits._
    val dved = merge.filter(_.dv.isDefined)
    val merged = if (dved.isEmpty) pairs else {
      val names = dved.map(e => baseName(e.path)).toDF("__dv_file")
      pairs.unionByName(readDvs(spark, dir, dved.flatMap(_.dv.map(_.path)))
        .join(names, Seq("__dv_file"), "left_semi")).distinct()
    }
    val rel = s"$DataDir/${java.util.UUID.randomUUID()}"
    merged.write.mode(SaveMode.ErrorIfExists).parquet(s"$dir/$rel")
    (rel, countsBy(readDvs(spark, dir, Seq(rel)), "__dv_file"))
  }

  private[sources] def liveRows(e: FileEntry): Long = e.rows - e.dv.map(_.deleted).getOrElse(0L)

  /** The fate of each of `files` under a row-level write that matched
    * `counts` live rows per file basename: (carried — no match, dead —
    * every live row matched, partial — the rest). A file of unknown
    * row count is never dead.
    */
  private def fates(files: Seq[FileEntry], counts: Map[String, Long])
      : (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry]) = {
    val (touched, carried) = files.partition(e => counts.contains(baseName(e.path)))
    val (dead, partial) = touched.partition(e =>
      e.rows >= 0 && counts(baseName(e.path)) >= liveRows(e))
    (carried, dead, partial)
  }

  /** `files` after a merge-on-read write: `dead` dropped, each file the
    * written `dv` (path, totals per basename) counts re-pointed at it,
    * the rest carried in place.
    */
  private def withDv(files: Seq[FileEntry], dead: Seq[FileEntry],
      dv: Option[(String, Map[String, Long])]): Seq[FileEntry] = {
    val deadPaths = dead.map(_.path).toSet
    files.filterNot(e => deadPaths.contains(e.path)).map(e => dv.flatMap { case (rel, totals) =>
      totals.get(baseName(e.path)).map(t => e.copy(dv = Some(DvRef(rel, t))))
    }.getOrElse(e))
  }

  /** The predicate narrowing of [[updateWhere]], [[updateWhereMor]]
    * and [[replaceWhere]]: [[statsCandidates]], then ONE dv-aware scan
    * of them counting the LIVE rows `condition` matches per file
    * basename (a dead row must neither force a rewrite nor miscount a
    * full-file drop). O(files) on the driver, never rows.
    */
  private def matchedLivePerFile(spark: SparkSession, dir: String, prev: Manifest,
      condition: Column): Map[String, Long] = {
    val candidates = statsCandidates(spark, dir, prev, condition)
    if (candidates.isEmpty) Map.empty
    else countsBy(positionedScan(spark, dir, prev, candidates).filter(condition), "__gf")
  }

  /** Predicate-targeted UPDATE (`UPDATE t SET c = expr, … WHERE p`):
    * copy-on-write over ONLY the files holding a matching live row.
    * Narrowing is [[matchedLivePerFile]]'s two steps — manifest-stats
    * pruning (a range-clustered table bounds the rewrite to the
    * predicate's key range, exactly like [[upsert]]'s key narrowing),
    * then one dv-aware candidate scan for the exact touched set — so
    * at a 100 TB table an update confined to one day's partition-range
    * rewrites that range and carries every other file by manifest
    * reference, statistics included.
    *
    * SQL UPDATE semantics: only rows where `condition` is TRUE change
    * (NULL keeps the old row, mirroring DELETE's NULL-never-deletes);
    * SET expressions see the OLD row values (`price -> col("price") * 2`
    * works), are cast to the column's declared type, and may only name
    * existing columns — widening belongs to [[addColumn]]/[[upsert]]
    * evolution, not a row writer. CHECK constraints re-validate the
    * rewritten rows and abort before any manifest publish; deletion
    * vectors on touched files are honored (dead rows cannot
    * resurrect) and materialized away by the rewrite. Returns None
    * when nothing matched — no version minted, the same cron-safe
    * convergence as [[deleteWhere]] and [[optimize]].
    */
  def updateWhere(spark: SparkSession, dir: String, condition: Column,
      set: Map[String, Column], batchId: Option[Long] = None,
      txnApp: Option[String] = None): Option[Long] = {
    val prev = latest(spark, dir)
    val schema = prev.schema
    val unknown = set.keys.filterNot(schema.fieldNames.contains).toSeq.sorted
    require(unknown.isEmpty,
      s"updateWhere: SET names columns the table lacks: ${unknown.mkString(", ")}")
    val counts = matchedLivePerFile(spark, dir, prev, condition)
    if (counts.isEmpty) return None
    val (touched, untouched) = prev.files.partition(e => counts.contains(baseName(e.path)))
    val base = readEntries(spark, dir, touched, schema, prev.tsMs, prev.mapping)
    val updated = base.select(schema.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(e) => when(coalesce(condition, lit(false)), e.cast(f.dataType))
          .otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }: _*)
    val newFiles = writeDataFiles(spark, dir, updated, checksOf(prev.constraints), prev.mapping,
      prev.spec)
    Some(commitManifest(spark, dir, "update", prev.schemaDdl,
      untouched ++ newFiles, batchId, txnApp, Some(prev),
      metrics = Map("rows_updated" -> counts.values.sum,
        "files_rewritten" -> touched.size.toLong,
        "files_added" -> newFiles.size.toLong,
        "rows_written" -> newFiles.map(_.rows).sum)))
  }

  /** MERGE-ON-READ UPDATE: the deletion-vector counterpart of
    * [[updateWhere]] — matched live rows are TOMBSTONED into a dv (the
    * [[deleteWhere]] machinery) and their updated versions APPENDED as
    * fresh files, in ONE commit, with ZERO data-file rewrites. A point
    * update of one row in a 1 GB file costs ~a KB of dv plus one tiny
    * new file instead of rewriting the gigabyte — O(rows touched), the
    * same write-amplification fix dvs bought DELETE. The trade is the
    * reader-side anti join on the dv'd files until [[optimize]]
    * materializes them away — the documented merge-on-read maintenance
    * contract. Choose [[updateWhere]] (copy-on-write) when updates are
    * dense per file, this when they are sparse point touches.
    *
    * Semantics are identical to [[updateWhere]]: TRUE-only matching,
    * SET sees old values and casts to declared types, CHECK
    * constraints validate the new rows BEFORE any manifest publish
    * (the dv dataset is cleaned up on abort), None when nothing
    * matched. A file whose EVERY live row matched drops from the
    * manifest outright (all its rows move to the new files).
    */
  def updateWhereMor(spark: SparkSession, dir: String, condition: Column,
      set: Map[String, Column], batchId: Option[Long] = None,
      txnApp: Option[String] = None): Option[Long] = {
    val prev = latest(spark, dir)
    val schema = prev.schema
    val unknown = set.keys.filterNot(schema.fieldNames.contains).toSeq.sorted
    require(unknown.isEmpty,
      s"updateWhereMor: SET names columns the table lacks: ${unknown.mkString(", ")}")
    val counts = matchedLivePerFile(spark, dir, prev, condition)
    if (counts.isEmpty) return None
    val (_, dead, partial) = fates(prev.files, counts)
    // ONE dv-aware scan of just the touched files; `matched` feeds BOTH
    // outputs (updated rows + tombstone positions), persisted so the
    // two writes share the work
    val matched = positionedScan(spark, dir, prev, dead ++ partial).filter(condition).persist()
    try {
      // (a) the updated rows — constraint-gated BEFORE any dv lands
      val updated = matched.select(schema.fields.toSeq.map { fl =>
        set.get(fl.name) match {
          case Some(e) => e.cast(fl.dataType).as(fl.name)
          case None => col(fl.name)
        }
      }: _*)
      val newFiles = writeDataFiles(spark, dir, updated, checksOf(prev.constraints),
        prev.mapping, prev.spec)
      // (b) tombstones: full-match files DROP (their rows all moved),
      // partial files carry a dv
      val dv = if (partial.isEmpty) None else Some(writeDv(spark, dir,
        matched.filter(col("__gf").isin(partial.map(e => baseName(e.path)): _*))
          .select(col("__gf").as("__dv_file"), col("__gp").as("__dv_pos")), partial))
      Some(commitManifest(spark, dir, "update", prev.schemaDdl,
        withDv(prev.files, dead, dv) ++ newFiles, batchId, txnApp, Some(prev),
        metrics = Map("rows_updated" -> counts.values.sum,
          "files_rewritten" -> 0L,
          "files_dropped" -> dead.size.toLong,
          "files_dv" -> partial.size.toLong,
          "files_added" -> newFiles.size.toLong,
          "rows_written" -> newFiles.map(_.rows).sum)))
    } finally matched.unpersist()
  }

  /** Atomic predicate overwrite (the `replaceWhere` idiom): in ONE
    * version, delete every live row matching `condition` and insert
    * `data` in its place — the backfill/restatement primitive ("replace
    * March with the recomputed March") that otherwise needs a delete
    * and an append with a visible inconsistent state in between.
    *
    * Contract: every replacement row must itself satisfy `condition`
    * (checked by the write gate of [[writtenEntries]], abort before
    * any publish) — otherwise the op would smuggle rows into ranges it
    * did not claim and re-running it would not converge. With the contract held the
    * op is idempotent by content: a re-run replaces its own output.
    *
    * File fates, decided from [[matchedLivePerFile]]'s dv-aware
    * counts: a file whose every live row matches is DROPPED outright
    * (metadata-only — the common case when the predicate aligns with a
    * range-clustered layout, e.g. replacing whole days of an ingest
    * clustered by day); a partially-matching file is rewritten keeping
    * only its non-matching rows (its dv materialized away); a file the
    * stats prove disjoint — or that holds no matching live row —
    * carries by reference. Time travel is unaffected: the pre-replace
    * version still reads the old range until [[vacuum]].
    *
    * Returns None — no version minted — when the operation would be an
    * exact no-op (no live row matches AND the replacement data is
    * empty): a cron'd restatement converges like [[updateWhere]] and
    * [[deleteWhere]] instead of growing history with identical states.
    */
  def replaceWhere(spark: SparkSession, dir: String, condition: Column,
      data: DataFrame, batchId: Option[Long] = None,
      txnApp: Option[String] = None): Option[Long] = {
    val prev = latest(spark, dir)
    val schema = prev.schema
    val missing = schema.fieldNames.filterNot(data.columns.contains).toSeq
    require(missing.isEmpty,
      s"replaceWhere: data lacks table columns: ${missing.mkString(", ")}")
    val aligned = data.select(schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    // the replacement rows go first, through the write gate: each must
    // satisfy `condition` (NULL is outside the claimed range)
    val newFiles = writeDataFiles(spark, dir, aligned, checksOf(prev.constraints) +
      ("replaceWhere condition" -> coalesce(condition, lit(false))), prev.mapping, prev.spec)
    val counts = matchedLivePerFile(spark, dir, prev, condition)
    // exact no-op (nothing to delete, nothing inserted): mint NO
    // version — an identical manifest state must not grow history
    if (counts.isEmpty && newFiles.forall(_.rows == 0L)) {
      discardWritten(spark, dir, newFiles)
      return None
    }
    val (carried, dead, partial) = fates(prev.files, counts)
    val kept =
      if (partial.isEmpty) Seq.empty[FileEntry]
      else writeDataFiles(spark, dir,
        readEntries(spark, dir, partial, schema, prev.tsMs, prev.mapping)
          .filter(!coalesce(condition, lit(false))),
        checksOf(prev.constraints), prev.mapping, prev.spec)
    Some(commitManifest(spark, dir, "replace_where", prev.schemaDdl,
      carried ++ kept ++ newFiles, batchId, txnApp, Some(prev),
      metrics = Map("rows_deleted" -> counts.values.sum,
        "files_dropped" -> dead.size.toLong,
        "files_rewritten" -> partial.size.toLong,
        "files_added" -> (kept.size + newFiles.size).toLong,
        "rows_written" -> (kept ++ newFiles).map(_.rows).sum)))
  }

  /** Compact the LATEST version's files toward `targetBytes` each and
    * publish the result as a new version. Unlike an in-place rewrite
    * (Writers.compact's rename swap), readers pinned to any existing
    * version are untouched — the old files stay until [[vacuum]].
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val prev = latest(spark, dir)
    rewriteFiles(spark, dir, prev, prev.files, targetBytes, "compact")(_.repartition(_))
  }

  /** The rewrite-and-commit body of [[compact]] and [[optimize]]:
    * `rewrite`'s live rows, laid out by `layout` into the file count
    * that reaches `targetBytes` each, become fresh files (dvs
    * materialized away); the other files carry; published as `op`.
    */
  private def rewriteFiles(spark: SparkSession, dir: String, prev: Manifest,
      rewrite: Seq[FileEntry], targetBytes: Long, op: String)(
      layout: (DataFrame, Int) => DataFrame): Long = {
    val n = math.max(1, math.ceil(rewrite.map(_.bytes).sum.toDouble / targetBytes).toInt)
    val df = layout(readEntries(spark, dir, rewrite, prev.schema, prev.tsMs, prev.mapping), n)
    val files = writeDataFiles(spark, dir, df, mapping = prev.mapping,
      spec = prev.spec, cluster = false)
    val rewritten = rewrite.map(_.path).toSet
    commitManifest(spark, dir, op, prev.schemaDdl,
      prev.files.filterNot(e => rewritten.contains(e.path)) ++ files, None, None, Some(prev),
      metrics = Map("files_rewritten" -> rewrite.size.toLong,
        "files_added" -> files.size.toLong))
  }

  /** SHALLOW CLONE: create a new table at `dstDir` whose version 1
    * references the SOURCE table's current files (and deletion
    * vectors) by absolute path — ZERO data copied, metadata-only. The
    * clone then diverges freely: its upserts/deletes/appends write its
    * own files, carrying untouched source references along; the source
    * never sees any of it. The dev/test-against-prod primitive every
    * table format grew.
    *
    * Contracts: (1) the clone's [[vacuum]] never deletes through a
    * foreign reference (it owns only its own `data/`); (2) vacuuming
    * or compact-then-vacuuming the SOURCE can remove files the clone
    * still references — pin the cloned source version
    * (`vacuum(alsoKeep=...)`) for as long as the clone must live, the
    * same lifetime rule shallow clones carry everywhere; (3) source
    * and clone must live on the same filesystem scheme.
    */
  def cloneShallow(spark: SparkSession, srcDir: String, dstDir: String): Long = {
    require(latestVersion(spark, dstDir).isEmpty,
      s"clone target $dstDir already holds a table")
    val src = latest(spark, srcDir)
    // qualify the source root so the recorded references stay valid no
    // matter what working directory later resolves them
    val srcRoot = fs(spark, srcDir).makeQualified(new Path(srcDir)).toString
    val files = src.files.map(e => e.copy(
      path = absPath(srcRoot, e.path),
      dv = e.dv.map(d => d.copy(path = absPath(srcRoot, d.path)))))
    commitManifest(spark, dstDir, "clone", src.schemaDdl, files, None, None, None,
      constraintsOverride = Some(src.constraints),
      metrics = Map("cloned_files" -> files.size.toLong,
        "cloned_from_version" -> src.version),
      mappingOverride = Some((src.mapping, src.retired)))
  }

  /** ALTER: add a named CHECK constraint (a SQL boolean predicate over
    * the table's columns). EXISTING rows are validated once, up front —
    * one scan, the ALTER TABLE ADD CONSTRAINT contract — and every
    * later [[commit]]/[[append]]/[[upsert]] validates its written rows
    * in an O(commit) pass, aborting BEFORE any manifest publish on a
    * violation. Maintenance ops ([[compact]]/[[optimize]]/[[restore]]/
    * [[deleteWhere]]) never re-validate: row content is invariant
    * under them, so the add-time scan plus per-write gates keep the
    * invariant without taxing maintenance. SQL CHECK semantics: only
    * FALSE violates; NULL passes. The constraint set rides the
    * manifest (versioned table state), so time travel sees the
    * constraints of its era.
    */
  def addConstraint(spark: SparkSession, dir: String, name: String,
      predicate: String): Long = {
    val prev = latest(spark, dir)
    require(!prev.constraints.contains(name),
      s"constraint '$name' already exists at $dir")
    val violating = readVersion(spark, dir, prev.version)
      .filter(not(coalesce(expr(predicate), lit(true)))).limit(1).count()
    require(violating == 0L,
      s"cannot add constraint '$name' ($predicate) at $dir: existing rows violate it")
    commitManifest(spark, dir, "alter", prev.schemaDdl, prev.files,
      None, None, Some(prev),
      constraintsOverride = Some(prev.constraints + (name -> predicate)))
  }

  /** ALTER: drop a named CHECK constraint (metadata-only commit). */
  def dropConstraint(spark: SparkSession, dir: String, name: String): Long = {
    val prev = latest(spark, dir)
    require(prev.constraints.contains(name), s"no constraint '$name' at $dir")
    commitManifest(spark, dir, "alter", prev.schemaDdl, prev.files,
      None, None, Some(prev),
      constraintsOverride = Some(prev.constraints - name))
  }

  /** The latest version's CHECK constraints (name → SQL predicate). */
  def constraintsOf(spark: SparkSession, dir: String): Map[String, String] =
    baseManifest(spark, dir).map(_.constraints).getOrElse(Map.empty)

  /** ALTER: rename column `from` to `to` — METADATA-ONLY. The logical
    * name moves; the PHYSICAL in-file name (and therefore every
    * immutable data file, all recorded statistics, and any deletion
    * vectors) stays exactly as written: zero data I/O, however many
    * petabytes the table holds. This is the column-mapping idea the
    * production table formats converged on — without it a rename is a
    * full-table rewrite. Reads of the new version label the column
    * `to`; time travel to earlier versions still reads `from` (each
    * manifest carries the mapping of its era). Writers keep working
    * unchanged: appends/upserts take LOGICAL names and the write path
    * translates. A streaming source that pinned its schema pre-rename
    * keeps reading, because the physical name it resolved never moved.
    * CHECK constraints referencing `from` must be dropped first
    * (refused loudly — this layer does not rewrite SQL predicates).
    */
  def renameColumn(spark: SparkSession, dir: String, from: String, to: String): Long = {
    val prev = latest(spark, dir)
    val schema = prev.schema
    require(schema.fieldNames.contains(from), s"no column '$from' at $dir")
    require(!schema.fieldNames.contains(to),
      s"cannot rename '$from' to '$to' at $dir: column '$to' already exists")
    val phys = prev.mapping.getOrElse(from, from)
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    requireConstraintsResolve(spark, prev.constraints, newSchema,
      s"rename column '$from' to '$to'")
    val newMapping = (prev.mapping - from) ++
      (if (phys == to) Map.empty else Map(to -> phys))
    // the layout/stats spec speaks LOGICAL names: it renames WITH the
    // column (a stale name would silently stop partition clustering)
    def ren(cs: Seq[String]) = cs.map(c => if (c == from) to else c)
    val newSpec = prev.spec.copy(
      partitionCols = ren(prev.spec.partitionCols),
      statsCols = ren(prev.spec.statsCols),
      bloomCols = ren(prev.spec.bloomCols))
    commitManifest(spark, dir, "alter", newSchema.toDDL, prev.files,
      None, None, Some(prev),
      metrics = Map("columns_renamed" -> 1L),
      mappingOverride = Some((newMapping, prev.retired)),
      specOverride = Some(newSpec))
  }

  /** ALTER: drop a column — METADATA-ONLY. Retained files still hold
    * the physical bytes (time travel to pre-drop versions reads them);
    * the current version simply stops projecting the column, so the
    * scan never decodes its pages (columnar formats make an unread
    * column genuinely free). The physical name is RETIRED: a later
    * re-add of the same logical name binds a fresh physical name, so
    * dropped data can never silently resurrect — the correctness trap
    * every name-based (non-mapped) schema evolution falls into.
    * Storage is reclaimed lazily as rewrites (upsert/compact/optimize)
    * drop the column from the files they touch.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long = {
    val prev = latest(spark, dir)
    val schema = prev.schema
    require(schema.fieldNames.contains(name), s"no column '$name' at $dir")
    require(schema.fields.length >= 2, s"cannot drop the only column of $dir")
    val phys = prev.mapping.getOrElse(name, name)
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    requireConstraintsResolve(spark, prev.constraints, newSchema,
      s"drop column '$name'")
    // a column the layout/stats spec depends on cannot be dropped out
    // from under it — same contract as constraints: change the spec
    // first, then drop
    require(!(prev.spec.partitionCols ++ prev.spec.statsCols ++
        prev.spec.bloomCols).contains(name),
      s"cannot drop column '$name' at $dir: the table spec " +
        "(partition/stats/bloom columns) references it — setTableSpec first")
    commitManifest(spark, dir, "alter", newSchema.toDDL, prev.files,
      None, None, Some(prev),
      metrics = Map("columns_dropped" -> 1L),
      mappingOverride = Some((prev.mapping - name, prev.retired + phys)))
  }

  /** ALTER: add a nullable column (`ddlType` e.g. "INT", "DECIMAL(12,2)")
    * — METADATA-ONLY. Existing rows read back null until a write fills
    * the column. If the logical name was ever dropped, the new column
    * binds a FRESH physical name (see [[dropColumn]]), so it starts
    * genuinely empty instead of resurrecting old bytes.
    */
  def addColumn(spark: SparkSession, dir: String, name: String, ddlType: String): Long = {
    val prev = latest(spark, dir)
    val schema = prev.schema
    require(!schema.fieldNames.contains(name), s"column '$name' already exists at $dir")
    val field = StructType.fromDDL(s"`$name` $ddlType").fields.head.copy(nullable = true)
    val assigned = assignPhysical(prev, Seq(field))
    val newMapping = prev.mapping ++ assigned.filter { case (l, p) => l != p }
    commitManifest(spark, dir, "alter",
      StructType(schema.fields :+ field).toDDL, prev.files,
      None, None, Some(prev),
      metrics = Map("columns_added" -> 1L),
      mappingOverride = Some((newMapping, prev.retired)))
  }

  /** True when reading bytes written as `from` under read type `to` is
    * a lossless WIDENING the parquet reader performs natively (Spark
    * 4's type-widening promotions): integral upcasts, float→double,
    * and decimal precision growth at the same scale. Everything else —
    * narrowing, cross-family, scale changes — is refused: the old
    * files' pages would be misread or overflow at scan time.
    */
  private[sources] def isWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }

  /** ALTER: widen column `name`'s type (int→long, decimal precision
    * growth, …) — METADATA-ONLY, the most common schema change a
    * long-lived fact table sees (the id column that outgrows INT, the
    * revenue column that outgrows DECIMAL(10,2)). Only the manifest's
    * logical schema changes: every existing file keeps its narrower
    * physical type and is widened AT SCAN by the parquet reader's
    * native type promotion; new writes land in the wide type. Narrowing
    * and cross-family changes are refused loudly ([[isWidening]]) —
    * they would corrupt or overflow existing files at read time.
    * Recorded per-file min/max stats remain valid verbatim: a widening
    * never changes a value's ordering or its string rendering's parse.
    */
  def widenColumn(spark: SparkSession, dir: String, name: String,
      ddlType: String): Long = {
    val prev = latest(spark, dir)
    val schema = prev.schema
    require(schema.fieldNames.contains(name), s"no column '$name' at $dir")
    val field = schema.fields(schema.fieldIndex(name))
    val to = StructType.fromDDL(s"`c` $ddlType").fields.head.dataType
    require(isWidening(field.dataType, to),
      s"cannot change column '$name' at $dir from ${field.dataType.sql} to " +
        s"${to.sql}: only widening conversions (integral upcasts, " +
        "float→double, decimal precision growth at the same scale) are " +
        "metadata-only; anything else would misread existing files at scan")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    requireConstraintsResolve(spark, prev.constraints, newSchema,
      s"widen column '$name'")
    commitManifest(spark, dir, "alter", newSchema.toDDL, prev.files,
      None, None, Some(prev),
      metrics = Map("columns_widened" -> 1L))
  }

  /** The latest version's column mapping (logical → physical;
    * non-identity entries only) — diagnostics/tests.
    */
  def columnMappingOf(spark: SparkSession, dir: String): Map[String, String] =
    baseManifest(spark, dir).map(_.mapping).getOrElse(Map.empty)

  /** RESTORE: make the table's next version an exact replay of
    * `toVersion`'s file set (dv refs included) — rolling back a bad
    * write is a METADATA-ONLY commit, zero data I/O, and the bad
    * versions stay readable for forensics until [[vacuum]] reclaims
    * them. `toVersion` must still be retained. The base is pinned like
    * every other commit, so a restore racing a writer loses cleanly.
    * CHECK constraints restore WITH the data (the restored rows were
    * validated under `toVersion`'s constraint set, not the current
    * one).
    */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = {
    val prev = latest(spark, dir)
    val target = readManifest(spark, dir, toVersion)
    commitManifest(spark, dir, "restore", target.schemaDdl, target.files,
      None, None, Some(prev),
      constraintsOverride = Some(target.constraints),
      metrics = Map("restored_to_version" -> toVersion),
      mappingOverride = Some((target.mapping, target.retired)))
  }

  /** OPTIMIZE-style maintenance policy: rewrite ONLY the small files
    * (below `smallBytes`), binned toward `targetBytes` apiece;
    * well-sized files carry into the new version BY REFERENCE,
    * statistics included. This is the policy layer [[compact]] lacks —
    * compact is a full-table rewrite (O(table) I/O every call), while
    * a streaming-ingest table accretes a long tail of tiny files whose
    * rewrite cost is O(small residue) only. The q120_storage_report
    * shape (file-size census from `_metadata`) is exactly what decides
    * `smallBytes` in production.
    *
    * `clusterBy`: when given, the rewritten residue is range-
    * partitioned and sorted on these columns, so the replacement files
    * get DISJOINT key ranges in the manifest stats — restoring data-
    * skipping power over the merged residue of many interleaved
    * appends (each append's files overlap every other's key range; the
    * optimize output's don't).
    *
    * `zorderBy`: the TWO-dimensional layout alternative — the residue
    * is rewritten in Morton (Z-curve) order over the pair
    * (operators.Layout.zorderBy), so BOTH columns' manifest min/max
    * ranges tighten per file and a box predicate on either or both
    * prunes; `clusterBy` only serves its leading column. Mutually
    * exclusive with `clusterBy`.
    *
    * Returns the committed version, or None when fewer than `minFiles`
    * files qualify — a no-op mints no version, so a cron-scheduled
    * optimize converges instead of rewriting the same bin forever.
    */
  def optimize(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      smallBytes: Long = 32L * 1024 * 1024,
      clusterBy: Seq[String] = Nil,
      minFiles: Int = 2,
      zorderBy: Option[(String, String)] = None,
      hilbertBy: Option[(String, String)] = None): Option[Long] = {
    require(Seq(clusterBy.nonEmpty, zorderBy.isDefined, hilbertBy.isDefined)
        .count(identity) <= 1,
      "optimize: clusterBy, zorderBy, and hilbertBy are mutually exclusive")
    val prev = latest(spark, dir)
    // dv'd files join the residue regardless of size: OPTIMIZE is the
    // maintenance pass that PURGES deletion vectors (rewriting the file
    // without its deleted rows), restoring the no-anti-join fast read
    val small = prev.files.filter(e => e.bytes < smallBytes || e.dv.isDefined)
    if (small.size < minFiles) return None
    Some(rewriteFiles(spark, dir, prev, small, targetBytes, "optimize") { (df0, n) =>
      (zorderBy, hilbertBy) match {
        case (Some((a, b)), _) => graft.operators.Layout.zorderBy(df0, col(a), col(b), n)
        case (_, Some((a, b))) => graft.operators.Layout.hilbertBy(df0, col(a), col(b), n)
        case _ =>
          if (clusterBy.isEmpty) df0.repartition(n)
          else df0.repartitionByRange(n, clusterBy.map(col): _*)
            .sortWithinPartitions(clusterBy.map(col): _*)
      }
    })
  }

  /** Metadata-only maintenance report feeding [[optimize]]: a
    * power-of-two size-class census of the latest version's files
    * straight from the manifest — NO file or directory I/O (the
    * q120_storage_report shape needs a `_metadata` scan because plain
    * parquet has no manifest; a snapshot table answers from metadata
    * alone, which at 100 TB is the difference between a driver-side
    * lookup and a cluster job). One row per occupied size class with
    * the would-rewrite flag at `smallBytes` and the projected
    * post-optimize file count at `targetBytes` — exactly the inputs a
    * scheduled-optimize decision needs.
    */
  def optimizeReport(spark: SparkSession, dir: String,
      smallBytes: Long = 32L * 1024 * 1024,
      targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val prev = latest(spark, dir)
    val smallTotal = prev.files.filter(_.bytes < smallBytes).map(_.bytes).sum
    val projected = math.max(1, math.ceil(smallTotal.toDouble / targetBytes).toInt)
    prev.files
      .map(e => (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, e.bytes)),
        e.bytes, e.bytes < smallBytes))
      .groupBy(t => (t._1, t._3)).toSeq
      .map { case ((cls, rewrite), fs) =>
        (cls, fs.size.toLong, fs.map(_._2).sum, rewrite,
          if (rewrite && smallTotal > 0) projected.toLong else 0L)
      }
      .toDF("log2_size_class", "n_files", "bytes", "would_rewrite",
        "projected_files_after")
      .orderBy(col("log2_size_class"))
  }

  // ---------------------------------------------------------------
  // multi-table consistent pins
  // ---------------------------------------------------------------

  private val PinsDir = "_pins"
  private def pinName(p: Long): String = f"p$p%09d.json"

  /** Pin the CURRENT version of every table in `tables` (name →
    * table dir) into one atomic pin manifest under `metaDir` and
    * return the pin id. The cross-table analogue of a single table's
    * manifest: a report that joins orders-table v12 with customer-
    * table v9 can record the pair and re-run against exactly those
    * bytes forever — individual tables keep committing underneath,
    * invisible to pinned readers. Publication uses the same
    * [[conditionalPublish]] single-winner primitive (and inherits its
    * HDFS/local portability contract).
    *
    * The pin records versions resolved table-by-table, so it is a
    * CONSISTENT CUT only if no writer commits mid-pin; a pin taken
    * while ingest runs is still a valid pair of versions, just not
    * necessarily the pair any single instant saw — same contract as
    * BEGIN-less cross-database reads. Run pins from the coordination
    * point that also schedules the writers when an exact cut matters.
    */
  def pinTables(spark: SparkSession, metaDir: String,
      tables: Map[String, String]): Long = {
    require(tables.nonEmpty, "pinTables needs at least one table")
    val resolved = tables.toSeq.sortBy(_._1).map { case (name, tdir) =>
      val v = latestVersion(spark, tdir).getOrElse(
        throw new IllegalStateException(s"no committed version at $tdir (table '$name')"))
      (name, tdir, v)
    }
    pinVersions(spark, metaDir, resolved)
  }

  /** Pin an EXPLICIT (name, dir, version) set — the building block
    * [[pinTables]] and [[publishGroup]] share. Versions are recorded
    * verbatim (no re-resolution), so a pin written from versions a
    * publisher just committed cannot be skewed by a racing writer.
    */
  private def pinVersions(spark: SparkSession, metaDir: String,
      resolved: Seq[(String, String, Long)]): Long = {
    val f = fs(spark, metaDir)
    val pd = new Path(metaDir, PinsDir)
    f.mkdirs(pd)
    val next = pins(spark, metaDir).lastOption.getOrElse(0L) + 1
    val json = JsonMethods.compact(JsonMethods.render(JObject(
      "pin" -> JLong(next),
      "ts_ms" -> JLong(System.currentTimeMillis()),
      "tables" -> JArray(resolved.toList.map { case (name, tdir, v) =>
        JObject("name" -> JString(name), "dir" -> JString(tdir), "version" -> JLong(v))
      }))))
    val tmp = new Path(pd, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (!conditionalPublish(f, tmp, new Path(pd, pinName(next)))) {
      f.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"pin $next already committed at $metaDir — re-read and retry")
    }
    next
  }

  /** All committed pin ids at `metaDir`, ascending. */
  def pins(spark: SparkSession, metaDir: String): Seq[Long] = {
    val f = fs(spark, metaDir)
    val pd = new Path(metaDir, PinsDir)
    if (!f.exists(pd)) Seq.empty
    else f.listStatus(pd).toSeq.map(_.getPath.getName)
      .filter(_.matches("p\\d{9}\\.json"))
      .map(_.stripPrefix("p").stripSuffix(".json").toLong)
      .sorted
  }

  /** The (table name → (dir, version)) map a pin recorded. */
  def pinnedVersions(spark: SparkSession, metaDir: String,
      pin: Long): Map[String, (String, Long)] = {
    val f = fs(spark, metaDir)
    val p = new Path(new Path(metaDir, PinsDir), pinName(pin))
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    implicit val fmts: Formats = DefaultFormats
    (JsonMethods.parse(text) \ "tables") match {
      case JArray(ts) => ts.map { t =>
        (t \ "name").extract[String] ->
          (((t \ "dir").extract[String], (t \ "version").extract[Long]))
      }.toMap
      case _ => Map.empty
    }
  }

  /** Every version of `tableDir` that ANY pin at `metaDir` still
    * references — the retention input that makes [[vacuum]] pin-safe:
    * `vacuum(spark, dir, keepLast, alsoKeep = pinnedVersionsOf(spark,
    * metaDir, dir))`. O(pins) manifest-sized reads on the driver.
    */
  def pinnedVersionsOf(spark: SparkSession, metaDir: String,
      tableDir: String): Set[Long] =
    pins(spark, metaDir).flatMap(p =>
      pinnedVersions(spark, metaDir, p).values.collect {
        case (d, v) if d == tableDir => v
      }).toSet

  /** Read table `name` exactly as pin `pin` recorded it — snapshot-
    * isolated via [[readVersion]], so the whole pinned table SET is
    * immutable together.
    */
  def readPinned(spark: SparkSession, metaDir: String, pin: Long,
      name: String): DataFrame = {
    val (tdir, v) = pinnedVersions(spark, metaDir, pin).getOrElse(name,
      throw new IllegalArgumentException(s"pin $pin at $metaDir has no table '$name'"))
    readVersion(spark, tdir, v)
  }

  /** MULTI-TABLE PUBLISH: fast-forward a GROUP of audited branches —
    * one per table — and pin the exact published versions as ONE
    * atomic pin manifest. The consistency contract, stated honestly:
    *
    *   - Each table's own version chain has its OWN atomic point
    *     (per-table manifests — there is no shared log), so a DIRECT
    *     reader of table B can observe table A's publish before B's.
    *     True cross-table atomicity requires readers to resolve
    *     through one coordination point; in this layer that point is
    *     the PIN: a consumer that requires the group to appear
    *     all-or-nothing reads `pins(metaDir).last` → [[readPinned]],
    *     and sees either the pre-publish pin or the complete group —
    *     never a partial publish (the pin is written only after EVERY
    *     table published, from the captured versions, via the same
    *     single-winner primitive as a table commit).
    *   - Failure is COMPENSATED, not prevented: divergence is
    *     pre-checked on every branch before the first publish (the
    *     common race dies with zero tables touched); if a publish
    *     still fails mid-group, every already-published table is
    *     [[restore]]d to its pre-publish version (a new forensic
    *     version, not an erasure) and the error rethrown — no pin is
    *     written, so pin-readers never see the torn state.
    *
    * This is the same shape production lakehouse stacks use (WAP per
    * table + a catalog-/orchestrator-level cut); a two-phase marker
    * INSIDE every reader's hot path was rejected deliberately — it
    * would tax every single-table read at 100 TB to serve the rare
    * cross-table writer. Returns (pin id, name → published version).
    */
  def publishGroup(spark: SparkSession, metaDir: String,
      group: Map[String, (String, String)]): (Long, Map[String, Long]) = {
    require(group.nonEmpty, "publishGroup needs at least one (table, branch)")
    val ordered = group.toSeq.sortBy(_._1)
    // pre-flight every branch: existence, a committed head, and fork ==
    // main's head — the whole group refuses before ANY table changes
    ordered.foreach { case (name, (tdir, branch)) =>
      val fork = branches(spark, tdir).getOrElse(branch,
        throw new IllegalArgumentException(
          s"publishGroup: no branch '$branch' at $tdir (table '$name')"))
      val mainV = latestVersion(spark, tdir).getOrElse(
        throw new IllegalStateException(s"no committed version at $tdir"))
      if (mainV != fork)
        throw new java.util.ConcurrentModificationException(
          s"publishGroup: table '$name' advanced to version $mainV past " +
            s"branch '$branch''s fork at $fork — re-branch and re-apply")
    }
    val published = scala.collection.mutable.ListBuffer[(String, String, Long, Long)]()
    try {
      ordered.foreach { case (name, (tdir, branch)) =>
        val before = latestVersion(spark, tdir).get
        val v = fastForward(spark, tdir, branch)
        published += ((name, tdir, before, v))
      }
    } catch {
      case e: Throwable =>
        // compensate: roll every already-published table back to its
        // pre-publish state (restore = a new version; forensics intact)
        published.reverseIterator.foreach { case (_, tdir, before, _) =>
          restore(spark, tdir, before)
        }
        throw e
    }
    val pin = pinVersions(spark, metaDir,
      published.toSeq.map { case (n, d, _, v) => (n, d, v) })
    (pin, published.toSeq.map { case (n, _, _, v) => n -> v }.toMap)
  }

  // ---------------------------------------------------------------
  // tags: named version refs on one table
  // ---------------------------------------------------------------

  private val RefsDir = "_refs"

  private def refName(name: String): String = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"illegal ref name '$name' (want [A-Za-z0-9][A-Za-z0-9._-]*)")
    // all-digit names are rejected at CREATION: every resolution path
    // (catalog VERSION AS OF, batch versionAsOf, stream startingVersion)
    // tries numeric parse FIRST, so a tag named '2024' could never be
    // resolved — and worse, would silently read snapshot version 2024
    // if that version exists. Fail at the only point where the intent
    // is unambiguous.
    require(!name.forall(_.isDigit),
      s"illegal ref name '$name': all-digit names collide with numeric " +
        "snapshot versions in VERSION AS OF resolution — add a non-digit")
    s"$name.json"
  }

  /** TAG a retained version with a stable name — the single-table
    * analogue of [[pinTables]]: `createTag(dir, "pre_migration")`
    * names the bytes a rollback, audit, or eval re-run will need,
    * and [[vacuum]] keeps every tagged version automatically (no
    * alsoKeep bookkeeping). Tags are immutable single-winner publishes
    * (re-tagging a name fails loudly; delete first) and resolve
    * through the catalog's `VERSION AS OF '<tag>'` as well as
    * [[readTag]]. Metadata-only: a tag is one tiny JSON ref.
    */
  def createTag(spark: SparkSession, dir: String, name: String,
      version: Option[Long] = None): Long = {
    val v = version.getOrElse(latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir")))
    require(versions(spark, dir).contains(v),
      s"cannot tag version $v at $dir: not a retained version")
    val f = fs(spark, dir)
    val rd = new Path(dir, RefsDir)
    f.mkdirs(rd)
    val json = JsonMethods.compact(JsonMethods.render(JObject(
      "name" -> JString(name), "version" -> JLong(v),
      "ts_ms" -> JLong(System.currentTimeMillis()))))
    val tmp = new Path(rd, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (!conditionalPublish(f, tmp, new Path(rd, refName(name)))) {
      f.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"tag '$name' already exists at $dir — delete it first")
    }
    v
  }

  /** All tags at `dir` (name → version). One directory listing plus
    * one tiny read per tag.
    */
  def tags(spark: SparkSession, dir: String): Map[String, Long] = {
    val f = fs(spark, dir)
    val rd = new Path(dir, RefsDir)
    if (!f.exists(rd)) return Map.empty
    implicit val fmts: Formats = DefaultFormats
    f.listStatus(rd).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .map { s =>
        val j = readJson(f, s.getPath)
        (j \ "name").extract[String] -> (j \ "version").extract[Long]
      }.toMap
  }

  /** Read the version tag `name` pinned — snapshot-isolated forever
    * (vacuum keeps tagged versions).
    */
  def readTag(spark: SparkSession, dir: String, name: String): DataFrame =
    readVersion(spark, dir, tags(spark, dir).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $dir")))

  /** Drop tag `name`; its version becomes vacuumable again (unless
    * retained otherwise). Returns whether the tag existed.
    */
  def deleteTag(spark: SparkSession, dir: String, name: String): Boolean =
    fs(spark, dir).delete(new Path(new Path(dir, RefsDir), refName(name)), false)

  // ---------------------------------------------------------------
  // writable branches: write-audit-publish on one table
  // ---------------------------------------------------------------

  private val BranchesDir = "_branches"
  // branch refs live in a SUBDIRECTORY of _refs so [[tags]] (which
  // lists only files) can never misread a branch as a tag — a branch
  // name must resolve to its HEAD, not its fork point
  private val BranchRefsDir = s"$RefsDir/branches"

  /** Root directory of branch `name` — a fully normal snapshot table
    * (every Snapshot operation works against it unchanged). Forked
    * data is referenced absolutely into the parent (shallow-clone
    * mechanics, zero copy); NEW branch writes land under the branch's
    * own data dir until [[fastForward]] moves them into the parent.
    */
  def branchDir(dir: String, name: String): String =
    s"$dir/$BranchesDir/${refName(name).stripSuffix(".json")}"

  /** CREATE BRANCH: fork a writable branch off version `version`
    * (default: the current head) — the write-audit-publish entry
    * point. The branch is a shallow clone under the table's own
    * `_branches/<name>/`: committing to it never touches the main
    * version chain (a reader of the table cannot observe branch
    * writes), and the fork version is protected from [[vacuum]] for
    * the branch's lifetime. Constraints, column mapping, and the
    * layout spec fork with the data, so the branch enforces the same
    * CHECKs main does. Publish with [[fastForward]]; abandon with
    * [[deleteBranch]]. Returns the fork version.
    */
  def createBranch(spark: SparkSession, dir: String, name: String,
      version: Option[Long] = None): Long = {
    val v = version.getOrElse(latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir")))
    require(versions(spark, dir).contains(v),
      s"cannot branch from version $v at $dir: not a retained version")
    val bdir = branchDir(dir, name)
    require(latestVersion(spark, bdir).isEmpty,
      s"branch '$name' already exists at $dir — delete it first")
    // the ref is the single-winner publish (same OCC as tags): it must
    // win BEFORE the clone commits, so two racing createBranch calls
    // can never interleave clone commits into one branch dir
    val f = fs(spark, dir)
    val rd = new Path(dir, BranchRefsDir)
    f.mkdirs(rd)
    val json = JsonMethods.compact(JsonMethods.render(JObject(
      "name" -> JString(name), "fork_version" -> JLong(v),
      "ts_ms" -> JLong(System.currentTimeMillis()))))
    val tmp = new Path(rd, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (!conditionalPublish(f, tmp, new Path(rd, refName(name)))) {
      f.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"branch '$name' already exists at $dir — delete it first")
    }
    // seed the branch: manifest v1 references the fork version's files
    // absolutely (zero data copied), carrying schema/constraints/
    // mapping/spec so branch writes behave exactly like main writes
    val src = readManifest(spark, dir, v)
    val root = f.makeQualified(new Path(dir)).toString
    val files = src.files.map(e => e.copy(
      path = absPath(root, e.path),
      dv = e.dv.map(d => d.copy(path = absPath(root, d.path)))))
    commitManifest(spark, bdir, "branch", src.schemaDdl, files, None, None, None,
      constraintsOverride = Some(src.constraints),
      metrics = Map("fork_version" -> v, "forked_files" -> files.size.toLong),
      mappingOverride = Some((src.mapping, src.retired)),
      specOverride = Some(src.spec))
    v
  }

  /** All branches at `dir` (name → fork version). */
  def branches(spark: SparkSession, dir: String): Map[String, Long] = {
    val f = fs(spark, dir)
    val rd = new Path(dir, BranchRefsDir)
    if (!f.exists(rd)) return Map.empty
    implicit val fmts: Formats = DefaultFormats
    f.listStatus(rd).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .map { s =>
        val j = readJson(f, s.getPath)
        (j \ "name").extract[String] -> (j \ "fork_version").extract[Long]
      }.toMap
  }

  /** Read branch `name`'s head — the audit surface of WAP: validation
    * queries run against this before [[fastForward]] publishes.
    */
  def readBranch(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(branches(spark, dir).contains(name), s"no branch '$name' at $dir")
    read(spark, branchDir(dir, name))
  }

  /** Abandon branch `name`: drop its ref and its entire metadata+data
    * subtree. Main is untouched (branch data lives under `_branches/`;
    * forked files are foreign absolute references, never deleted
    * through). Returns whether the branch existed.
    */
  def deleteBranch(spark: SparkSession, dir: String, name: String): Boolean = {
    val f = fs(spark, dir)
    val had = f.delete(new Path(new Path(dir, BranchRefsDir), refName(name)), false)
    f.delete(new Path(branchDir(dir, name)), true)
    had
  }

  /** FAST-FORWARD: atomically publish branch `name`'s head as the
    * table's next version — the "publish" step of write-audit-publish.
    *
    * Mechanics are METADATA-ONLY and RENAME-FREE: files the branch
    * wrote (relative `data/<uuid>/...` under the branch root) are
    * published as parent-relative references into the branch subtree
    * (`_branches/<name>/data/<uuid>/...` — the same root-resolved
    * reference mechanism clone ancestry uses, and still "own" bytes the
    * parent's vacuum may reclaim); forked references that point back
    * into the parent are relativized; other foreign references pass
    * through untouched. ONE manifest commit (op `fast_forward`)
    * publishes the branch head's exact file set, schema, constraints,
    * mapping, and spec onto main. Not a single data byte moves, so the
    * publish holds on object stores where rename is copy+delete — the
    * 100 TB deployment this layer targets. The commit is the atomic
    * point: until it wins, readers see old main; after it, exactly the
    * audited branch state. A later [[optimize]]/[[compact]] naturally
    * migrates the adopted bytes into the parent's own `data/`.
    *
    * Divergence fails loudly: if main advanced past the recorded fork
    * version, this branch's state was not derived from current main —
    * the caller must re-branch (or re-apply) against fresh state.
    * `fast_forward` is deliberately NOT a rebasable op, so even a
    * commit that lands inside the publish race window aborts it.
    *
    * The branch is CONSUMED on success: its ref and version metadata
    * are removed, so it cannot be read as a branch or double-published;
    * its `data/` subtree survives exactly when the published manifest
    * references it (and is dropped with the branch when it doesn't).
    * A failed or racing publish changes NOTHING — no bytes moved, so
    * there is no rollback to perform and the branch stays publishable.
    */
  def fastForward(spark: SparkSession, dir: String, name: String): Long = {
    val fork = branches(spark, dir).getOrElse(name,
      throw new IllegalArgumentException(s"no branch '$name' at $dir"))
    val bdir = branchDir(dir, name)
    val head = baseManifest(spark, bdir).getOrElse(
      throw new IllegalStateException(s"branch '$name' at $dir has no committed version"))
    val main = latest(spark, dir)
    if (main.version != fork)
      throw new java.util.ConcurrentModificationException(
        s"fast-forward of branch '$name' at $dir: main advanced to version " +
          s"${main.version} past the fork at $fork — the branch no longer " +
          "descends from main's head; re-branch and re-apply")
    val f = fs(spark, dir)
    val root = f.makeQualified(new Path(dir)).toString
    val branchRel = s"$BranchesDir/${refName(name).stripSuffix(".json")}"
    // A branch-head reference is one of exactly two shapes:
    //   ABSOLUTE — a forked reference recorded by createBranch (always
    //     qualified into the parent root) or a foreign reference the
    //     parent itself carried (clone ancestry): relativize the former
    //     back to its parent-relative form, pass the latter through;
    //   RELATIVE — a file the BRANCH wrote (`data/<uuid>/...`, or a
    //     `_branches/...` path a nested fast-forward adopted): re-anchor
    //     it under the branch subtree so it resolves against the PARENT
    //     root, without moving a byte.
    var adopted = 0L
    def adopt(ref: String): String =
      if (ref.startsWith("/") || ref.contains(":/")) {
        if (ref.startsWith(s"$root/")) ref.stripPrefix(s"$root/") else ref
      } else {
        adopted += 1
        s"$branchRel/$ref"
      }
    val files = head.files.map { e =>
      e.copy(path = adopt(e.path), dv = e.dv.map(d => d.copy(path = adopt(d.path))))
    }
    val v = commitManifest(spark, dir, "fast_forward", head.schemaDdl, files,
      None, None, Some(main),
      constraintsOverride = Some(head.constraints),
      metrics = Map("branch_head_version" -> head.version,
        "fork_version" -> fork,
        "adopted_refs" -> adopted),
      mappingOverride = Some((head.mapping, head.retired)),
      specOverride = Some(head.spec))
    // consume: the ref and the branch's version metadata go; the data
    // subtree stays iff the published manifest now references into it
    f.delete(new Path(new Path(dir, BranchRefsDir), refName(name)), false)
    if (adopted == 0L) f.delete(new Path(bdir), true)
    else {
      f.delete(new Path(bdir, VersionsDir), true)
      f.delete(new Path(bdir, RefsDir), true)
    }
    v
  }

  /** VACUUM DRY-RUN: what would `vacuum(keepLast, alsoKeep)` reclaim,
    * as a DataFrame — one row per RETAINED-OR-DROPPED version with its
    * op, keep/drop fate, and the files+bytes EXCLUSIVE to the dropped
    * set (shared files are charged to no dropped version; they
    * survive). Computed from manifests alone — zero data I/O, no
    * deletion, safe to run anywhere. The retention-policy review
    * surface: "what does keepLast=2 actually cost me?".
    */
  def vacuumReport(spark: SparkSession, dir: String, keepLast: Int = 2,
      alsoKeep: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val vs = versions(spark, dir)
    val keepSet = vs.takeRight(keepLast).toSet ++ alsoKeep ++
      tags(spark, dir).values.toSet ++ branches(spark, dir).values.toSet
    val manifests = vs.map(v => v -> readManifest(spark, dir, v)).toMap
    val keptFiles = vs.filter(keepSet.contains)
      .flatMap(v => manifests(v).files.map(_.path)).toSet
    // each reclaimable file is charged ONCE, to the first dropped
    // version referencing it — so SUM(reclaimable_*) is the true total
    val charged = scala.collection.mutable.Set.empty[String]
    vs.map { v =>
      val m = manifests(v)
      val kept = keepSet.contains(v)
      val exclusive =
        if (kept) Seq.empty
        else m.files.filter(e => !keptFiles.contains(e.path) && isOwnPath(e.path) &&
          charged.add(e.path))
      (v, m.op, kept, exclusive.size.toLong, exclusive.map(_.bytes).sum)
    }.toDF("version", "op", "kept", "reclaimable_files", "reclaimable_bytes")
      .orderBy(col("version"))
  }

  /** Garbage-collect: keep the newest `keepLast` versions (plus any in
    * `alsoKeep` — feed [[pinnedVersionsOf]] here so multi-table pins
    * and slow streaming consumers never lose their bytes — and every
    * [[createTag]]-tagged version, automatically), delete
    * older manifests and every data file no kept manifest references.
    * Returns the number of data files deleted. This is the ONLY
    * operation that removes bytes — retention policy is an explicit,
    * separate decision from compaction/upsert (a reader pinned to a
    * vacuumed version fails loudly on its next scan, which is the
    * contract: retention defines how long time travel reaches back).
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 2,
      orphanGraceMs: Long = 24L * 3600 * 1000,
      alsoKeep: Set[Long] = Set.empty): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val vs = versions(spark, dir)
    // live branches pin their fork version: the branch references the
    // fork's files absolutely, so dropping it would strand the branch
    // exactly the way vacuuming a clone's source strands the clone —
    // except here both live under ONE table root, so the format can
    // (and must) protect it
    val keepSet = vs.takeRight(keepLast).toSet ++ alsoKeep ++
      tags(spark, dir).values.toSet ++ branches(spark, dir).values.toSet
    val (keep, drop) = vs.partition(keepSet.contains)
    val f = fs(spark, dir)
    // A manifest references data files by exact path and dv DATASETS by
    // directory; expand each referenced dv dir to its files once so the
    // keep/drop/orphan logic stays file-granular throughout.
    def expandDvDirs(rels: Set[String]): Set[String] = rels.flatMap { rel =>
      val p = new Path(absPath(dir, rel))
      if (!f.exists(p)) Set.empty[String]
      else f.listStatus(p).toSeq.filter(_.isFile)
        .map(s => s"$rel/${s.getPath.getName}").toSet
    }
    def manifestPaths(m: Manifest): Set[String] =
      m.files.map(_.path).toSet ++ expandDvDirs(m.files.flatMap(_.dv.map(_.path)).toSet)
    val keepFiles = keep.flatMap(v => manifestPaths(readManifest(spark, dir, v))).toSet
    val dropFiles = drop.flatMap(v => manifestPaths(readManifest(spark, dir, v))).toSet -- keepFiles
    // Chain-head checkpoints BEFORE anything is deleted: a kept version
    // whose predecessor is dropped must still reconstruct once the
    // predecessor's delta file is gone, so materialize it (no-op when a
    // checkpoint already exists or the version file carries a full
    // listing — v1 / legacy).
    val vd = new Path(dir, VersionsDir)
    keep.filterNot(v => keepSet.contains(v - 1)).foreach { v =>
      if (!f.exists(new Path(vd, checkpointName(v)))) {
        val isFull = (readJson(f, new Path(vd, manifestName(v))) \ "files") match {
          case JArray(_) => true
          case _ => false
        }
        if (!isFull) writeCheckpoint(spark, dir, readManifest(spark, dir, v))
      }
    }
    // FOREIGN references (a shallow clone's absolute paths into its
    // source table) are NEVER deleted — a clone's vacuum owns only its
    // own data dir. (Conversely, vacuuming the SOURCE can strand its
    // clones — the same documented hazard every shallow-clone design
    // carries; see cloneShallow's scaladoc.)
    dropFiles.filter(isOwnPath).foreach(rel => f.delete(new Path(s"$dir/$rel"), false))
    drop.foreach { v =>
      f.delete(new Path(vd, manifestName(v)), false)
      f.delete(new Path(vd, checkpointName(v)), false)
    }
    // Orphan sweep: data files referenced by NO manifest at all — the
    // residue of a commit that lost the optimistic race after writing
    // its files (writeDataFiles succeeded, manifest rename didn't).
    // Only files older than the grace window are swept, so an
    // IN-FLIGHT commit (files written, manifest about to publish)
    // is never collected — the same mtime-retention rule table
    // formats use.
    val orphans = orphanCandidates(spark, dir,
      System.currentTimeMillis() - orphanGraceMs).map(_._1)
    orphans.foreach(rel => f.delete(new Path(s"$dir/$rel"), false))
    // remove now-empty commit dirs (cosmetic; harmless if racing)
    (dropFiles.filter(isOwnPath) ++ orphans)
      .map(rel => rel.substring(0, rel.lastIndexOf('/'))).foreach { d =>
        val p = new Path(s"$dir/$d")
        if (f.exists(p) && f.listStatus(p).forall(s =>
            s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")))
          f.delete(p, true)
      }
    dropFiles.count(isOwnPath) + orphans.size
  }

  /** Orphan candidates: `(rel path, bytes, modified_ms)` of files under
    * the table's own data dir referenced by NO retained manifest (data
    * file or dv dataset) and older than `cutoffMs` — the shared core of
    * [[vacuum]]'s sweep, [[orphanReport]], and [[removeOrphans]].
    */
  private def orphanCandidates(spark: SparkSession, dir: String,
      cutoffMs: Long): Seq[(String, Long, Long)] = {
    val f = fs(spark, dir)
    def expandDvDirs(rels: Set[String]): Set[String] = rels.flatMap { rel =>
      val p = new Path(absPath(dir, rel))
      if (!f.exists(p)) Set.empty[String]
      else f.listStatus(p).toSeq.filter(_.isFile)
        .map(s => s"$rel/${s.getPath.getName}").toSet
    }
    val referenced = versions(spark, dir).flatMap { v =>
      val m = readManifest(spark, dir, v)
      m.files.map(_.path).toSet ++
        expandDvDirs(m.files.flatMap(_.dv.map(_.path)).toSet)
    }.toSet
    val dataRoot = new Path(dir, DataDir)
    if (!f.exists(dataRoot)) Seq.empty
    else f.listStatus(dataRoot).toSeq.filter(_.isDirectory).flatMap(d =>
      f.listStatus(d.getPath).toSeq.filter(_.isFile)
        .filter(_.getModificationTime < cutoffMs)
        .map(s => (s"$DataDir/${d.getPath.getName}/${s.getPath.getName}",
          s.getLen, s.getModificationTime))
        .filterNot { case (rel, _, _) => referenced(rel) }
        // a _SUCCESS/_committed marker in an orphaned commit dir is
        // part of the same garbage
        .filterNot { case (rel, _, _) => referenced.exists(_.startsWith(
          rel.substring(0, rel.lastIndexOf('/') + 1))) })
  }

  /** ORPHAN DRY-RUN: the crashed-writer debris [[vacuum]]'s sweep (or
    * [[removeOrphans]]) would delete, as a DataFrame — one row per
    * unreferenced data-dir file older than the grace window, with its
    * size and mtime. Zero data I/O, no deletion: the visibility step
    * before any byte-destroying maintenance, and the answer to "why is
    * the table directory bigger than SUM(files.bytes)?".
    */
  def orphanReport(spark: SparkSession, dir: String,
      orphanGraceMs: Long = 24L * 3600 * 1000): DataFrame = {
    import spark.implicits._
    orphanCandidates(spark, dir, System.currentTimeMillis() - orphanGraceMs)
      .toDF("path", "bytes", "modified_ms")
  }

  /** Delete orphaned data files ONLY (no version retention applied —
    * the targeted companion to the full [[vacuum]]): returns the
    * deleted rel paths. Same grace-window contract as the sweep.
    */
  def removeOrphans(spark: SparkSession, dir: String,
      orphanGraceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val f = fs(spark, dir)
    val orphans = orphanCandidates(spark, dir,
      System.currentTimeMillis() - orphanGraceMs).map(_._1)
    orphans.foreach(rel => f.delete(new Path(s"$dir/$rel"), false))
    orphans.map(rel => rel.substring(0, rel.lastIndexOf('/'))).distinct.foreach { d =>
      val p = new Path(s"$dir/$d")
      if (f.exists(p) && f.listStatus(p).forall(s =>
          s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")))
        f.delete(p, true)
    }
    orphans
  }

  /** Test hook: version `v`'s fully-resolved file list as
    * (path, dvPath, dvDeletedRows) — what the delta-log reconstruction
    * yields, without tests having to parse manifest JSON themselves.
    */
  private[graft] def filesForTest(spark: SparkSession, dir: String,
      v: Long): Seq[(String, Option[String], Long)] =
    readManifest(spark, dir, v).files.map(e =>
      (e.path, e.dv.map(_.path), e.dv.map(_.deleted).getOrElse(0L)))

  /** Test hook: per-file stats key sets of version `v` — which columns
    * each file entry carries min/max/null stats for (physical names).
    */
  private[graft] def statsKeysForTest(spark: SparkSession, dir: String,
      v: Long): Seq[Set[String]] =
    readManifest(spark, dir, v).files.map(_.stats.keySet)

  /** Test hook: attempt to publish an (empty) manifest at an explicit
    * version — exercises the rename-if-absent single-winner primitive
    * without having to time a real race.
    */
  private[graft] def publishManifestForTest(spark: SparkSession, dir: String,
      version: Long): Unit =
    writeManifest(spark, dir, Manifest(version, "replace", "", Seq.empty, None,
      None, None, None, System.currentTimeMillis()))

  /** Table history as a DataFrame: one row per retained version, with
    * that commit's operation metrics (rows_written / rows_deleted /
    * files_added / files_rewritten / …).
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    versions(spark, dir).map { v =>
      val m = readManifest(spark, dir, v)
      (m.version, m.op, m.files.size.toLong, m.batchId, m.lastBatchId, m.metrics)
    }.toDF("version", "op", "n_files", "batch_id", "last_batch_id", "metrics")
  }

  /** Test/diagnostics hook: the file paths a pruned scan of `version`
    * would read under `filter` — resolved purely from manifest
    * statistics, no file I/O. Mirrors exactly what
    * [[SnapshotFileIndex.listFiles]] keeps for the same predicate.
    */
  private[graft] def candidateFilePaths(spark: SparkSession, dir: String,
      version: Long, filter: Column): Seq[String] =
    statsCandidates(spark, dir, readManifest(spark, dir, version), filter)
      .map(e => new Path(absPath(dir, e.path)).toString)
}

/** Manifest-backed [[FileIndex]]: lists a snapshot version's immutable
  * file set straight from manifest metadata (no directory listing, no
  * footer reads — FileStatus objects are synthesized from the recorded
  * path/bytes), and prunes files whose recorded column statistics
  * PROVE a pushed data filter cannot match. Evaluation is
  * conservative: unknown predicate shapes, unsupported types, and
  * missing stats all keep the file.
  */
private[sources] final class SnapshotFileIndex(
    tableDir: String,
    entries: Seq[Snapshot.FileEntry],
    schema: StructType,
    commitTsMs: Long) extends FileIndex {

  private val fieldType: Map[String, DataType] =
    schema.fields.map(f => f.name -> f.dataType).toMap

  override val rootPaths: Seq[Path] = Seq(new Path(tableDir))
  override def partitionSchema: StructType = new StructType()
  override def sizeInBytes: Long = entries.map(_.bytes).sum
  override def inputFiles: Array[String] =
    entries.map(e => Snapshot.absPath(tableDir, e.path)).toArray
  override def refresh(): Unit = ()

  /** See [[Snapshot.manifestRowCount]]. */
  def manifestRows: Option[Long] =
    if (entries.forall(e => e.rows >= 0 && e.dv.isEmpty)) Some(entries.map(_.rows).sum)
    else None

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = entries.filter(e => dataFilters.forall(f => mayMatch(e, f)))
    val statuses = kept.map(e => new FileStatus(
      e.bytes, false, 1, 128L * 1024 * 1024, commitTsMs,
      new Path(Snapshot.absPath(tableDir, e.path)))).toArray
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  }

  // -- conservative stats evaluation: false ONLY on proof of no match --

  private def stats(e: Snapshot.FileEntry, a: Attribute): Option[Snapshot.ColStats] =
    e.stats.get(a.name)

  /** compare the column's recorded bound against a literal; None =
    * cannot compare = never prune.
    */
  private def cmp(a: Attribute, encoded: String, litVal: Any): Option[Int] = {
    if (litVal == null) return None
    fieldType.get(a.name).flatMap {
      case StringType => litVal match {
        case s: org.apache.spark.unsafe.types.UTF8String => Some(encoded.compareTo(s.toString))
        case _ => None
      }
      case BooleanType => litVal match {
        case b: java.lang.Boolean => Some(encoded.toBoolean.compareTo(b.booleanValue()))
        case _ => None
      }
      case _: NumericType | DateType | TimestampType =>
        val l: Option[BigDecimal] = litVal match {
          case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
          case n: java.lang.Number => Some(BigDecimal(n.toString))
          case _ => None
        }
        val eNum = try Some(BigDecimal(encoded)) catch { case _: NumberFormatException => None }
        for (en <- eNum; lv <- l) yield en.compare(lv)
      case _ => None
    }
  }

  private def mayMatch(e: Snapshot.FileEntry, p: Expression): Boolean = p match {
    case And(l, r) => mayMatch(e, l) && mayMatch(e, r)
    case Or(l, r) => mayMatch(e, l) || mayMatch(e, r)
    case EqualTo(a: Attribute, Literal(v, _)) => pointContains(e, a, v)
    case EqualTo(Literal(v, _), a: Attribute) => pointContains(e, a, v)
    case EqualNullSafe(a: Attribute, Literal(v, _)) if v != null => pointContains(e, a, v)
    case EqualNullSafe(Literal(v, _), a: Attribute) if v != null => pointContains(e, a, v)
    case LessThan(a: Attribute, Literal(v, _)) => minBelow(e, a, v, strict = true)
    case LessThan(Literal(v, _), a: Attribute) => maxAbove(e, a, v, strict = true)
    case LessThanOrEqual(a: Attribute, Literal(v, _)) => minBelow(e, a, v, strict = false)
    case LessThanOrEqual(Literal(v, _), a: Attribute) => maxAbove(e, a, v, strict = false)
    case GreaterThan(a: Attribute, Literal(v, _)) => maxAbove(e, a, v, strict = true)
    case GreaterThan(Literal(v, _), a: Attribute) => minBelow(e, a, v, strict = true)
    case GreaterThanOrEqual(a: Attribute, Literal(v, _)) => maxAbove(e, a, v, strict = false)
    case GreaterThanOrEqual(Literal(v, _), a: Attribute) => minBelow(e, a, v, strict = false)
    case In(a: Attribute, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, _) => pointContains(e, a, v) }
    // the optimizer rewrites In to InSet past
    // spark.sql.optimizer.inSetConversionThreshold (default 10) —
    // without this case every >10-value isin() probe silently kept
    // ALL files (case _ => true), defeating stats/bloom pruning for
    // exactly the multi-point probes (LSH signature lookups, key
    // batches) that need it most. hset holds Catalyst-internal values,
    // the same representation the In case's Literals carry.
    case s: org.apache.spark.sql.catalyst.expressions.InSet
        if s.child.isInstanceOf[Attribute] =>
      val a = s.child.asInstanceOf[Attribute]
      s.hset.exists(v => pointContains(e, a, v))
    case IsNull(a: Attribute) =>
      stats(e, a).forall(_.nulls > 0)
    case IsNotNull(a: Attribute) =>
      stats(e, a).forall(s => e.rows < 0 || s.nulls < e.rows)
    case _ => true
  }

  /** file may hold a row with column == v: min <= v <= max */
  private def rangeContains(e: Snapshot.FileEntry, a: Attribute, v: Any): Boolean =
    stats(e, a).forall { s =>
      val okMin = s.min.flatMap(cmp(a, _, v)).forall(_ <= 0)
      val okMax = s.max.flatMap(cmp(a, _, v)).forall(_ >= 0)
      okMin && okMax
    }

  /** POINT lookup: range stats AND — when the file carries a bloom for
    * the column — the bloom. On a high-cardinality UNCLUSTERED key the
    * range test keeps every file (each spans the whole domain); the
    * bloom is what actually prunes. `false` only on proof-of-absence;
    * a literal the hash path can't reproduce keeps the file.
    */
  private def pointContains(e: Snapshot.FileEntry, a: Attribute, v: Any): Boolean = {
    if (!rangeContains(e, a, v)) return false
    e.blooms.get(a.name) match {
      case None => true
      case Some(b64) =>
        if (v == null) return true
        // hash the literal EXACTLY as the writer's bloom key was built:
        // xxhash64(value) over the column's native type
        val key = try {
          new org.apache.spark.sql.catalyst.expressions.XxHash64(
            Seq(Literal(v, fieldType.getOrElse(a.name, a.dataType))))
            .eval(InternalRow.empty).asInstanceOf[Long]
        } catch { case _: Exception => return true } // unhashable: keep
        graft.functions.BloomProbe.mightContain(
          java.util.Base64.getDecoder.decode(b64), key)
    }
  }

  /** file may hold a row with column < v (or <= v): min < v */
  private def minBelow(e: Snapshot.FileEntry, a: Attribute, v: Any, strict: Boolean): Boolean =
    stats(e, a).forall(_.min.flatMap(cmp(a, _, v))
      .forall(c => if (strict) c < 0 else c <= 0))

  /** file may hold a row with column > v (or >= v): max > v */
  private def maxAbove(e: Snapshot.FileEntry, a: Attribute, v: Any, strict: Boolean): Boolean =
    stats(e, a).forall(_.max.flatMap(cmp(a, _, v))
      .forall(c => if (strict) c > 0 else c >= 0))
}
