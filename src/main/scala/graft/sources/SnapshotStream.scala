package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualNullSafe => CEqualNullSafe, EqualTo => CEqualTo, Expression, GreaterThan => CGreaterThan, GreaterThanOrEqual => CGreaterThanOrEqual, In => CIn, IsNotNull => CIsNotNull, IsNull => CIsNull, LessThan => CLessThan, LessThanOrEqual => CLessThanOrEqual, Literal, Or => COr}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.ParquetReadBridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.{sources => v1}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Structured Streaming SOURCE over a [[Snapshot]] table — the read
  * side of the table-layer streaming story ([[graft.streaming.Refresh
  * .snapshotAppend]]/`snapshotCdcApply` are the write side). A
  * downstream pipeline tails the table exactly-once:
  *
  * {{{
  *   spark.readStream.format("graft-snapshot").load(tableDir)
  * }}}
  *
  * ==Semantics==
  *
  * Offsets ARE manifest versions. Each micro-batch reads exactly the
  * data files ADDED between two committed versions, resolved from the
  * manifests (one set difference of file lists — metadata only, no
  * directory listing, no "new files since" mtime heuristics). Because
  * versions and their file sets are immutable, replaying any offset
  * range after a crash yields byte-identical batches — exactly-once
  * end to end when paired with an idempotent sink, with NO extra
  * bookkeeping beyond the table's own manifests.
  *
  * The source requires an APPEND-ONLY version history past its start
  * offset (`init`/`append` ops — what [[graft.streaming.Refresh
  * .snapshotAppend]] produces). An `upsert`/`replace`/`compact`/
  * `optimize`/`delete`/`restore` version REWRITES or REMOVES rows,
  * which an append row-stream cannot represent (Delta's streaming
  * source has the same restriction
  * without `skipChangeCommits`); hitting one fails loudly rather than
  * silently re-emitting rewritten rows. `option("startingVersion",
  * "latest")` starts past history (new rows only); a NUMERIC
  * startingVersion starts after that version, and a TAG name starts
  * after the tagged version — the batch-load-the-tag-then-tail
  * handoff, with the tag keeping the boundary vacuum-safe;
  * `option("skipRewrites", "true")` opts into skipping non-append
  * versions (their ADDED files are not emitted — the documented
  * at-most-once-per-rewrite tradeoff, for tables that interleave
  * appends with maintenance [[Snapshot.optimize]] runs, whose
  * rewrites carry no NEW rows).
  *
  * Rows are read through the engine's own parquet reader factory
  * ([[ParquetReadBridge]]) — vectorized, null-filling evolved
  * schemas — with the schema pinned at stream start.
  *
  * Retention interplay: [[Snapshot.vacuum]] must keep at least the
  * versions the slowest consumer hasn't committed yet, or its restart
  * fails loudly on the missing manifest (same contract as any pinned
  * reader).
  */
final class SnapshotStreamProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = SnapshotStreamProvider.tableDir(options)
    val spark = SparkSession.active
    val v = SnapshotStreamProvider.resolveVersion(spark, dir, options)
    Snapshot.readManifest(spark, dir, v).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotStreamTable(schema,
      SnapshotStreamProvider.tableDir(new CaseInsensitiveStringMap(properties)))
}

private object SnapshotStreamProvider {
  def tableDir(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-snapshot stream needs the table dir: readStream.format(\"graft-snapshot\").load(dir)")
    p
  }

  /** The version a BATCH read resolves to: `versionAsOf` wins (a
    * numeric snapshot version, or a TAG name resolved through the
    * table's named refs — symmetric with the catalog's `VERSION AS OF
    * '<tag>'` and the stream's `startingVersion`), then `timestampAsOf`
    * (epoch millis, binary-searched over the monotone commit
    * timestamps), else latest. Streaming ignores both (its offsets ARE
    * versions).
    */
  def resolveVersion(spark: SparkSession, dir: String,
      options: CaseInsensitiveStringMap): Long = {
    val byVersion = Option(options.get("versionAsOf")).map {
      case v if v.nonEmpty && v.forall(_.isDigit) => v.toLong
      case tag => Snapshot.tags(spark, dir).getOrElse(tag,
        throw new IllegalArgumentException(
          s"graft-snapshot: versionAsOf '$tag' is neither a numeric " +
            s"version nor a tag at $dir"))
    }
    val byTs = Option(options.get("timestampAsOf"))
      .map(ts => Snapshot.versionAtOrBefore(spark, dir, ts.toLong))
    byVersion.orElse(byTs).getOrElse(
      Snapshot.latestVersion(spark, dir).getOrElse(
        throw new IllegalStateException(
          s"graft-snapshot: no committed version at $dir")))
  }
}

/** The DSv2 Table for a snapshot dir. `pinned` fixes the version a
  * BATCH scan reads (the catalog's `VERSION AS OF` path); None defers
  * to scan options (`versionAsOf`/`timestampAsOf`) or latest.
  */
private[sources] final class SnapshotStreamTable(tableSchema: StructType, dir: String,
    pinned: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** SQL UPDATE / MERGE INTO / untranslatable DELETE — the group-based
    * row-level rewrite path ([[GraftRowLevelOperation]]). Exactly-
    * translatable DELETEs never get here: [[canDeleteWhere]] keeps
    * them on the metadata-only deletion-vector fast path.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelOperationBuilder(dir, info)

  /** `_file` — the table-root-relative data file of each row (the
    * group id of the row-level rewrite path; also queryable directly:
    * `SELECT _file, count(*) FROM t GROUP BY _file`).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(SnapshotStreamTable.FileMetadataColumn)

  /** Ops surface for `DESCRIBE EXTENDED` / `SHOW TBLPROPERTIES`: the
    * table state a maintenance scheduler reads first — resolved from
    * the manifest alone, zero file I/O. Memoized per latest version:
    * Spark may call `Table.properties()` in planning paths beyond
    * DESCRIBE, and repeated manifest reads per statement add latency
    * on remote storage — the cache invalidates itself when a new
    * version lands (the latestVersion listing is the only per-call
    * I/O) and plain reads/writes that never ask never pay anything.
    */
  @volatile private var propsCache: (Long, util.Map[String, String]) = _

  override def properties(): util.Map[String, String] = {
    Snapshot.latestVersion(spark_, dir) match {
      case None => java.util.Collections.emptyMap()
      case Some(latest) =>
        val cached = propsCache
        if (cached != null && cached._1 == latest) cached._2
        else {
          val computed = computeProperties(latest)
          propsCache = (latest, computed)
          computed
        }
    }
  }

  private def computeProperties(latest: Long): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    // a version-pinned (time-travel) table reports THAT version's
    // stats — pairing the pinned version number with the latest
    // manifest's counts would mislead exactly the ops reader this
    // surface exists for
    val v = pinned.getOrElse(latest)
    val m = Snapshot.readManifest(spark_, dir, v)
    val props = scala.collection.mutable.LinkedHashMap(
      "graft.version" -> v.toString,
      "graft.latest_version" -> latest.toString,
      "graft.last_operation" -> m.op,
      "graft.num_files" -> m.files.size.toString,
      "graft.size_bytes" -> m.files.map(_.bytes).sum.toString,
      "graft.num_rows" -> m.files.map(_.rows).sum.toString,
      "graft.num_dv_files" -> m.files.count(_.dv.isDefined).toString)
    if (m.constraints.nonEmpty)
      props += ("graft.constraints" -> m.constraints.keys.toSeq.sorted.mkString(","))
    props.asJava
  }

  private def spark_ = SparkSession.active
  override def name(): String = s"graft-snapshot `$dir`"
  override def schema(): StructType = tableSchema

  /** Identity partition columns as DSv2 transforms — what `SHOW
    * CREATE TABLE` renders as PARTITIONED BY and planner utilities
    * read as the table's declared clustering. From the manifest's
    * spec (a pinned table reports ITS era's spec); memoized per
    * version like [[properties]] — planning paths may ask repeatedly
    * and a manifest read per call adds latency on remote storage.
    */
  @volatile private var partCache: (Long, Array[org.apache.spark.sql.connector.expressions.Transform]) = _

  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    Snapshot.latestVersion(spark_, dir) match {
      case None => Array.empty
      case Some(latest) =>
        val v = pinned.getOrElse(latest)
        val cached = partCache
        if (cached != null && cached._1 == v) cached._2
        else {
          val computed = Snapshot.readManifest(spark_, dir, v).spec.partitionCols
            .map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c))
            .toArray[org.apache.spark.sql.connector.expressions.Transform]
          partCache = (v, computed)
          computed
        }
    }
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE).asJava

  /** SQL `DELETE FROM t WHERE …` — MERGE-ON-READ through
    * [[Snapshot.deleteWhere]]: matched row positions go to a deletion
    * vector, ZERO data files are rewritten, manifest stats prune the
    * candidate files first, and a file whose every row dies drops from
    * the manifest outright. `canDeleteWhere` accepts only conditions
    * that translate EXACTLY (a partial translation would delete the
    * wrong rows); Spark raises its standard cannot-delete error
    * otherwise. A bare `DELETE FROM t` arrives as AlwaysTrue and
    * empties the table metadata-only (every file fully dead).
    */
  override def canDeleteWhere(filters: Array[v1.Filter]): Boolean =
    filters.forall(f => SnapshotStreamTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[v1.Filter]): Unit = {
    val cond = filters.toSeq.flatMap(SnapshotStreamTable.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Snapshot.deleteWhere(SparkSession.active, dir, cond)
  }

  /** Batch WRITE as the V1 fallback (the same route the built-in JDBC
    * source takes): INSERT INTO / append mode → [[Snapshot.append]]
    * (one O(batch) version, previous files carried by reference);
    * INSERT OVERWRITE / truncate → [[Snapshot.commit]] (a full-replace
    * version — old versions stay time-travelable until vacuum). Every
    * write inherits the layer's contracts: atomic single-winner
    * publish, CHECK-constraint gates, column-mapping translation,
    * schema evolution on append.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                legacyOverwrite: Boolean): Unit = {
              val s = data.sparkSession
              if (overwrite || legacyOverwrite ||
                  Snapshot.latestVersion(s, dir).isEmpty)
                Snapshot.commit(s, dir, data)
              else Snapshot.append(s, dir, data)
            }
          }
        // `df.writeStream.toTable("graft.db.t")` — identifier-based
        // streaming SINK with writer-scoped exactly-once
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(!overwrite,
            "the graft streaming sink is APPEND-only — complete/truncate " +
              "output modes would rewrite the table every epoch; use " +
              "foreachBatch with Snapshot.commit for full restatements")
          new SnapshotStreamingWrite(dir, info.schema(), info.queryId())
        }
      }
    }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val startingVersion = Option(options.get("startingVersion")).filter(_.nonEmpty)
    val skipRewrites = options.getBoolean("skipRewrites", false)
    val maxVersions = options.getLong("maxVersionsPerBatch", Long.MaxValue)
    require(maxVersions >= 1, s"maxVersionsPerBatch must be >= 1: $maxVersions")
    // byte-based admission control beside the version-count one: a
    // backfill over versions of wildly different sizes (one 1 GB bulk
    // load between thousands of KB micro-appends) needs bounded BYTES
    // per micro-batch, not bounded version count
    val maxBytes = options.getLong("maxBytesPerBatch", Long.MaxValue)
    require(maxBytes >= 1, s"maxBytesPerBatch must be >= 1: $maxBytes")
    // column pruning: the stream reads ONLY the projected columns off
    // disk — on a wide 100 TB table the difference between tailing a
    // few key columns and decoding every page of every row group
    new ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
      private var required: StructType = tableSchema
      private var pushed: Array[v1.Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      // ALL filters are returned as post-scan (Spark re-evaluates every
      // one), so the manifest-stats pruning below is purely advisory —
      // correctness never rests on the pruning evaluator
      override def pushFilters(filters: Array[v1.Filter]): Array[v1.Filter] = {
        pushed = filters; filters
      }
      override def pushedFilters(): Array[v1.Filter] = pushed
      override def build(): Scan = new Scan
          with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
          with org.apache.spark.sql.connector.read.SupportsReportStatistics {

        /** CBO feed from the MANIFEST — zero file I/O: exact byte and
          * LIVE-row totals of the pinned version (narrowed further
          * when runtime filtering has already dropped files). This is
          * what lets `graft.db.small_dim JOIN fact` BROADCAST the dim
          * through the pure-SQL catalog path — without it a DSv2 scan
          * reports "unknown" and Spark assumes worst-case size, so
          * every join of catalog tables would sort-merge.
          */
        override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
          new org.apache.spark.sql.connector.read.Statistics {
            private val entries = runtimeEntries.getOrElse(scanManifest.files)
            override def sizeInBytes(): java.util.OptionalLong =
              java.util.OptionalLong.of(entries.map(_.bytes).sum)
            override def numRows(): java.util.OptionalLong =
              java.util.OptionalLong.of(entries.map(e =>
                e.rows - e.dv.map(_.deleted).getOrElse(0L)).sum)
          }
        // RUNTIME file pruning (the file-level analogue of dynamic
        // partition pruning): a join against a filtered dim hands this
        // scan an IN(col, v…) predicate at EXECUTION time, and files
        // whose manifest stats/blooms refute every value are dropped
        // before any task launches. Reported attributes are the
        // columns where file-level pruning actually bites — identity
        // partition columns and bloom columns — so the optimizer never
        // builds runtime-filter subqueries for columns whose stats
        // can't prune anyway. Only columns this scan reads qualify:
        // the planner resolves them against the scan's output.
        @volatile private var runtimeEntries: Option[Seq[graft.sources.Snapshot.FileEntry]] = None

        private lazy val scanManifest: Snapshot.Manifest = {
          val spark = SparkSession.active
          val v = pinned.getOrElse(
            SnapshotStreamProvider.resolveVersion(spark, dir, options))
          Snapshot.readManifest(spark, dir, v)
        }

        override def filterAttributes()
            : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
          val m = scanManifest
          (m.spec.partitionCols ++ m.spec.bloomCols).distinct
            .filter(c => required.fieldNames.contains(c))
            .map(org.apache.spark.sql.connector.expressions.Expressions.column)
            .toArray
        }

        override def filter(
            predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
            : Unit = {
          val m = scanManifest
          // v2 IN(col, literals…) → catalyst In over the PHYSICAL
          // attribute (manifest stats/blooms are physical-keyed);
          // anything unconvertible is ignored — pruning stays advisory
          val exprs: Seq[Expression] = SnapshotStreamTable.inLists(predicates).flatMap {
            case (name, lits) => m.schema.fields.find(_.name == name).filter(_ => lits.nonEmpty)
              .map(fld => CIn(AttributeReference(m.mapping.getOrElse(name, name), fld.dataType)(),
                lits.map(l => Literal(l.value, l.dataType()))))
          }
          if (exprs.isEmpty) return
          val phys = Snapshot.physicalSchema(m.schema, m.mapping)
          val index = new SnapshotFileIndex(dir, m.files, phys, m.tsMs)
          val keptNames = index.listFiles(Nil, exprs)
            .flatMap(_.files.map(_.getPath.getName)).toSet
          runtimeEntries = Some(m.files.filter(e =>
            keptNames.contains(e.path.substring(e.path.lastIndexOf('/') + 1))))
        }

        override def readSchema(): StructType = required
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          // data files carry PHYSICAL column names (see Snapshot's
          // column-mapping state): resolve the mapping once at stream
          // start and read the physical counterparts of the required
          // columns. Sound across a LATER rename — a live logical
          // column's physical name never changes — and a later drop
          // only makes new files lack the column (the bridge
          // null-fills), exactly the pinned-schema contract.
          val spark = SparkSession.active
          val mapping = Snapshot.latestVersion(spark, dir)
            .map(v => Snapshot.readManifest(spark, dir, v).mapping)
            .getOrElse(Map.empty)
          val physRequired =
            if (mapping.isEmpty) required
            else StructType(required.fields.map(f =>
              f.copy(name = mapping.getOrElse(f.name, f.name))))
          // startingVersion: "latest" (only rows committed after stream
          // start), a NUMERIC version (consume from v+1 on — "I already
          // hold v via a batch read"), or a TAG name resolved through
          // the table's named refs (the handoff idiom: batch-load the
          // tagged snapshot, then tail everything after it, exactly
          // once, with the tag keeping the boundary version vacuum-safe)
          val startVersion: Option[Long] = startingVersion.map {
            case v if "latest".equalsIgnoreCase(v) =>
              Snapshot.latestVersion(spark, dir).getOrElse(0L)
            case v if v.forall(_.isDigit) => v.toLong
            case tag => Snapshot.tags(spark, dir).getOrElse(tag,
              throw new IllegalArgumentException(
                s"graft-snapshot: startingVersion '$tag' is neither 'latest', " +
                  s"a numeric version, nor a tag at $dir"))
          }
          new SnapshotMicroBatchStream(dir, physRequired, startVersion, skipRewrites, maxVersions, maxBytes)
        }
        override def toBatch(): Batch = {
          // late-bound entries: BatchScanExec applies runtime filters
          // (filter(...) above) and re-plans partitions afterwards
          new SnapshotBatchScan(dir, scanManifest, required, pushed,
            entriesFn = Some(() => runtimeEntries.getOrElse(scanManifest.files)))
        }
      }
    }
  }
}

/** BATCH side of the `graft-snapshot` DSv2 source: one scan of a
  * pinned version (`versionAsOf` / `timestampAsOf` / latest), one
  * input partition per manifest file surviving stats pruning.
  *
  * - FILE SKIPPING: pushed v1 filters are converted to catalyst
  *   predicates over the version's PHYSICAL schema and evaluated by
  *   the same [[SnapshotFileIndex]] machinery the library read path
  *   uses — files whose manifest statistics refute the predicate are
  *   never planned. Every filter is also declared post-scan, so Spark
  *   re-applies it row-wise: pruning is advisory, correctness isn't.
  * - COLUMN MAPPING: the reader decodes PHYSICAL column names (this
  *   version's mapping), labeled back by position under the logical
  *   read schema.
  * - DELETION VECTORS: a dv'd file's partition carries its dv parquet
  *   file list; the reader first loads the positions deleted FOR THIS
  *   FILE into a hash set, then drops those rows by running row
  *   position — sound because a whole-file, filterless, unsplit
  *   parquet read yields rows in file order, the same order
  *   `_metadata.row_index` numbered when the dv was written. dv-free
  *   files skip all of it. Per-partition dv load is O(dv bytes); the
  *   maintenance contract (optimize purges dvs) bounds it exactly as
  *   it bounds the library read path's anti join.
  */
private object SnapshotStreamTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  /** The `_file` metadata column: table-root-relative path of the data
    * file each row came from.
    */
  val FileColumnName = "_file"
  object FileMetadataColumn extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileColumnName
    override def dataType(): org.apache.spark.sql.types.DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "table-root-relative data file path of the row"
  }

  /** The `IN(column, literals…)` predicates among DSv2 runtime
    * filters, as (column, literals); a predicate of another shape, or
    * with a value that is not a literal, is skipped.
    */
  def inLists(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Seq[(String, Seq[org.apache.spark.sql.connector.expressions.Literal[_]])] =
    predicates.toSeq.flatMap { p =>
      val ch = p.children().toSeq
      ch.headOption match {
        case Some(ref: org.apache.spark.sql.connector.expressions.NamedReference)
            if p.name() == "IN" && ref.fieldNames().length == 1 =>
          val lits = ch.tail.collect {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] => l
          }
          if (lits.length == ch.length - 1) Some(ref.fieldNames()(0) -> lits) else None
        case _ => None
      }
    }

  /** EXACT v1-filter → Column translation for SQL DELETE: every node
    * must convert or the whole condition is rejected (None) — unlike
    * the scan path's pruning, a delete acts on what it matches, so
    * partial translation is never sound.
    */
  def filterToColumn(f: v1.Filter): Option[Column] = f match {
    case v1.EqualTo(a, v) => Some(col(a) === lit(v))
    case v1.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case v1.GreaterThan(a, v) => Some(col(a) > lit(v))
    case v1.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case v1.LessThan(a, v) => Some(col(a) < lit(v))
    case v1.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case v1.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case v1.IsNull(a) => Some(col(a).isNull)
    case v1.IsNotNull(a) => Some(col(a).isNotNull)
    case v1.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case v1.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case v1.StringContains(a, v) => Some(col(a).contains(v))
    case v1.Not(c) => filterToColumn(c).map(!_)
    case v1.And(l, r) => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a && b
    case v1.Or(l, r) => for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
    case _: v1.AlwaysTrue => Some(lit(true))
    case _: v1.AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

private[sources] final class SnapshotBatchScan(dir: String, m: Snapshot.Manifest,
    required: StructType, filters: Array[v1.Filter],
    entriesFn: Option[() => Seq[Snapshot.FileEntry]] = None) extends Batch {

  private def spark = SparkSession.active

  /** v1 filter → catalyst predicate over PHYSICAL attribute names;
    * None = not convertible = unusable for pruning (but still applied
    * row-wise by Spark). AND prunes with whichever side converts; OR
    * needs both.
    */
  private def toCatalyst(f: v1.Filter): Option[Expression] = {
    def attr(name: String): Option[AttributeReference] =
      m.schema.fields.find(_.name == name).map(fl =>
        AttributeReference(m.mapping.getOrElse(name, name), fl.dataType)())
    f match {
      case v1.EqualTo(a, v) => attr(a).map(CEqualTo(_, Literal(v)))
      case v1.EqualNullSafe(a, v) => attr(a).map(CEqualNullSafe(_, Literal(v)))
      case v1.GreaterThan(a, v) => attr(a).map(CGreaterThan(_, Literal(v)))
      case v1.GreaterThanOrEqual(a, v) => attr(a).map(CGreaterThanOrEqual(_, Literal(v)))
      case v1.LessThan(a, v) => attr(a).map(CLessThan(_, Literal(v)))
      case v1.LessThanOrEqual(a, v) => attr(a).map(CLessThanOrEqual(_, Literal(v)))
      case v1.In(a, vs) if vs.nonEmpty => attr(a).map(ar => CIn(ar, vs.toSeq.map(Literal(_))))
      case v1.IsNull(a) => attr(a).map(CIsNull(_))
      case v1.IsNotNull(a) => attr(a).map(CIsNotNull(_))
      case v1.And(l, r) => (toCatalyst(l), toCatalyst(r)) match {
        case (Some(a), Some(b)) => Some(CAnd(a, b))
        case (one, other) => one.orElse(other) // conjunct pruning is sound one-sided
      }
      case v1.Or(l, r) => for (a <- toCatalyst(l); b <- toCatalyst(r)) yield COr(a, b)
      case _ => None
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val s = spark
    // entriesFn: late-bound file list — the row-level scan narrows it
    // via runtime group filtering AFTER this Batch is constructed
    val entries = entriesFn.map(_()).getOrElse(m.files)
    val phys = Snapshot.physicalSchema(m.schema, m.mapping)
    val exprs = filters.flatMap(toCatalyst).toSeq
    val index = new SnapshotFileIndex(dir, entries, phys, m.tsMs)
    val keptNames = index.listFiles(Nil, exprs)
      .flatMap(_.files.map(_.getPath.getName)).toSet
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val planned = entries.toArray.collect {
      case e if keptNames.contains(e.path.substring(e.path.lastIndexOf('/') + 1)) =>
        val abs = Snapshot.absPath(dir, e.path)
        val dvFiles: Array[(String, Long)] = e.dv.toArray.flatMap { d =>
          val p = new Path(Snapshot.absPath(dir, d.path))
          if (!fs.exists(p)) Array.empty[(String, Long)]
          else fs.listStatus(p).filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
            .map(st => (st.getPath.toString, st.getLen))
        }
        SnapshotBatchPartition(abs, e.bytes,
          abs.substring(abs.lastIndexOf('/') + 1), dvFiles, e.path): InputPartition
    }
    SnapshotScanProbe.lastPlanned = planned.length
    planned
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the `_file` metadata column is produced by the READER, not read
    // from parquet: split it off the data schema (it is always LAST —
    // metadata output follows data output in the relation contract)
    val fileIdx = required.fieldNames.indexOf(SnapshotStreamTable.FileColumnName)
    require(fileIdx < 0 || fileIdx == required.fields.length - 1,
      s"${SnapshotStreamTable.FileColumnName} must be the trailing read column, " +
        s"got schema ${required.fieldNames.mkString(",")}")
    val dataRequired =
      if (fileIdx < 0) required
      else StructType(required.fields.filterNot(_.name == SnapshotStreamTable.FileColumnName))
    val physRequired =
      if (m.mapping.isEmpty) dataRequired
      else StructType(dataRequired.fields.map(f =>
        f.copy(name = m.mapping.getOrElse(f.name, f.name))))
    new SnapshotBatchReaderFactory(
      ParquetReadBridge.reader(spark, physRequired, Map.empty),
      ParquetReadBridge.reader(spark, SnapshotBatchScan.DvSchema, Map.empty),
      emitFile = fileIdx >= 0)
  }
}

private object SnapshotBatchScan {
  val DvSchema: StructType = new StructType()
    .add("__dv_file", StringType).add("__dv_pos", LongType)
}

/** Test seam: how many input partitions (files) the most recent
  * snapshot batch scan actually planned — the observable for runtime
  * file pruning and stats skipping specs.
  */
private[graft] object SnapshotScanProbe {
  @volatile var lastPlanned: Int = -1
}

private final case class SnapshotBatchPartition(absPath: String, bytes: Long,
    baseName: String, dvFiles: Array[(String, Long)], relPath: String)
    extends InputPartition

private final class SnapshotBatchReaderFactory(
    readFile: PartitionedFile => Iterator[InternalRow],
    readDv: PartitionedFile => Iterator[InternalRow],
    emitFile: Boolean = false)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotBatchPartition]
    new PartitionReader[InternalRow] {
      private def flat(it: Iterator[InternalRow]): Iterator[InternalRow] = it.flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r => Iterator.single(r)
      }
      // deleted row positions for THIS file (empty for dv-free files —
      // the fast path allocates nothing)
      private val deleted: java.util.HashSet[Long] =
        if (p.dvFiles.isEmpty) null
        else {
          val set = new java.util.HashSet[Long]()
          p.dvFiles.foreach { case (path, bytes) =>
            flat(readDv(ParquetReadBridge.wholeFile(path, bytes))).foreach { r =>
              if (!r.isNullAt(0) && r.getUTF8String(0).toString == p.baseName)
                set.add(r.getLong(1))
            }
          }
          set
        }
      // `_file` metadata column: one reused concat row per partition
      private val fileTail: InternalRow =
        if (!emitFile) null
        else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(p.relPath)))
      private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      private var pos = -1L
      private val rows: Iterator[InternalRow] =
        flat(readFile(ParquetReadBridge.wholeFile(p.absPath, p.bytes))).filter { _ =>
          pos += 1
          deleted == null || !deleted.contains(pos)
        }
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (rows.hasNext) {
          current = if (fileTail == null) rows.next() else joined(rows.next(), fileTail)
          true
        } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Version offset: the stream has consumed every version ≤ v. */
private final case class SnapshotOffset(v: Long) extends Offset {
  override def json(): String = s"""{"version":$v}"""
}

private final class SnapshotMicroBatchStream(dir: String, schema: StructType,
    startVersion: Option[Long], skipRewrites: Boolean, maxVersions: Long,
    maxBytes: Long = Long.MaxValue)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = SparkSession.active

  override def initialOffset(): Offset = SnapshotOffset(startVersion.getOrElse(0L))

  override def latestOffset(): Offset =
    SnapshotOffset(Snapshot.latestVersion(spark, dir).getOrElse(0L))

  // admission control: a restart against a long-ingested table (or a
  // from-genesis backfill) advances at most `maxVersionsPerBatch`
  // versions per micro-batch instead of swallowing the whole history
  // as one giant batch — bounded batch size, checkpointed progress
  // after each slice
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val latest = Snapshot.latestVersion(spark, dir).getOrElse(0L)
    val from = start.asInstanceOf[SnapshotOffset].v
    // saturating: from + Long.MaxValue must not wrap
    val capped = if (latest - from <= maxVersions) latest else from + maxVersions
    // byte cap: admit versions while the cumulative added bytes stay
    // under maxBytes — always at least ONE version so progress never
    // stalls on a single oversized commit. O(admitted versions) tiny
    // delta reads, no reconstruction.
    val to =
      if (maxBytes == Long.MaxValue || capped == from) capped
      else {
        var v = from
        var bytes = 0L
        var full = false
        while (!full && v < capped) {
          val next = Snapshot.addedBytes(spark, dir, v + 1)
          if (v > from && bytes + next > maxBytes) full = true
          else { bytes += next; v += 1 }
        }
        v
      }
    SnapshotOffset(to)
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    SnapshotOffset(""""version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad snapshot offset: $json")))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SnapshotOffset].v
    val to = end.asInstanceOf[SnapshotOffset].v
    val s = spark
    val parts = Seq.newBuilder[InputPartition]
    var prevPaths: Option[Set[String]] = None // lazily seeded below
    ((from + 1) to to).foreach { v =>
      val m = Snapshot.readManifest(s, dir, v)
      val prev = prevPaths.getOrElse(
        if (v == 1) Set.empty[String]
        else Snapshot.readManifest(s, dir, v - 1).files.map(_.path).toSet)
      val added = m.files.filterNot(e => prev.contains(e.path))
      m.op match {
        case "init" | "append" =>
          added.foreach(e => parts += SnapshotBatchPartition(Snapshot.absPath(dir, e.path),
            e.bytes, Snapshot.baseName(e.path), Array.empty, e.path))
        case "alter" => // metadata-only (constraints); no rows moved — pass through
          ()
        case other if skipRewrites => // documented opt-in: rewrite versions carry no NEW rows
          ()
        case other =>
          throw new IllegalStateException(
            s"graft-snapshot stream at $dir: version $v is op '$other' — a rewrite a " +
              "row-stream cannot represent. Keep streamed tables append-only " +
              "(Refresh.snapshotAppend), start past history with " +
              "option(\"startingVersion\", \"latest\"), or opt into " +
              "option(\"skipRewrites\", \"true\") if maintenance versions carry no new rows.")
      }
      prevPaths = Some(m.files.map(_.path).toSet)
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotBatchReaderFactory(ParquetReadBridge.reader(spark, schema, Map.empty),
      ParquetReadBridge.reader(spark, SnapshotBatchScan.DvSchema, Map.empty))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Task-side factory for the streaming SINK (`writeStream.toTable`):
  * each epoch's tasks write native parquet into an epoch-scoped commit
  * dir through the same [[RowLevelWriterFactory]] path row-level
  * rewrites use. A case class of serializable pieces only — shipped to
  * executors.
  */
private final case class SnapshotStreamingWriterFactory(dirAbs: String,
    runId: String, schema: StructType,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    RowLevelWriterFactory(s"$dirAbs/${Snapshot.DataDir}/$runId-e$epochId",
      schema, factory, conf).createWriter(partitionId, taskId)
}

/** The identifier-based streaming SINK: `df.writeStream.toTable(
  * "graft.db.t")` — every epoch publishes ONE append version carrying
  * `batchId = epochId` under the WRITER-SCOPED txn cursor
  * ([[Snapshot.appendEntries]]), so Structured Streaming's epoch
  * replays (the post-crash re-commit of the last batch) publish
  * NOTHING instead of duplicating rows — the same exactly-once rule
  * the path-based foreachBatch sinks use, now wired into the native
  * StreamingWrite protocol. Straggler/speculative task files are
  * pruned by name before publish; empty epochs mint no version; an
  * aborted or replayed epoch deletes its own bytes. CHECK constraints
  * gate every epoch exactly as they gate batch appends.
  */
private final class SnapshotStreamingWrite(dir: String,
    writeSchema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val runId = java.util.UUID.randomUUID().toString
  private def spark = SparkSession.active
  private def relOf(epochId: Long): String = s"${Snapshot.DataDir}/$runId-e$epochId"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val s = spark
    val m = Snapshot.latest(s, dir)
    require(writeSchema.fieldNames.toSeq == m.schema.fieldNames.toSeq,
      s"streaming write schema ${writeSchema.fieldNames.mkString(",")} must match " +
        s"the table schema ${m.schema.fieldNames.mkString(",")}")
    val phys = Snapshot.physicalSchema(writeSchema, m.mapping)
    val (factory, conf) =
      org.apache.spark.sql.graft.ParquetWriteBridge.writerSetup(s, phys)
    SnapshotStreamingWriterFactory(dir, runId, phys, factory, conf)
  }

  override def commit(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val s = spark
    val m = Snapshot.latest(s, dir)
    val entries = Snapshot.writtenEntries(s, dir, relOf(epochId), m.schema, m.mapping,
      m.spec, Snapshot.checksOf(m.constraints),
      Some(messages.collect { case RowLevelFileCommit(names) => names }.flatten.toSet))
    // an empty epoch mints no version (and leaves no commit dir); a
    // replayed one publishes nothing, and its bytes are redundant
    if (entries.nonEmpty && Snapshot.appendEntries(s, dir, entries, epochId, queryId).isEmpty)
      abort(epochId, messages)
  }

  override def abort(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val s = spark
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$dir/${relOf(epochId)}"), true)
  }
}
