package graft

import org.apache.spark.sql.SparkSession

/** Session-build-time configuration for a graft session. All confs the
  * library depends on are set HERE, once, at session construction —
  * never mutated per-operator (hidden global state would make operator
  * behavior depend on call order).
  */
object GraftSession {

  /** Confs every graft session needs:
    *
    *   - `spark.sql.extensions`: registers the native `vec_dot` /
    *     `vec_cosine` / `top_k_by` functions.
    *   - UTC session timezone: oracle parity (SURVEY.md §6).
    *   - `nanosAsLong`: the events table carries TIMESTAMP(NANOS),
    *     which the vectorized parquet reader otherwise rejects;
    *     [[Tables]] rebuilds the proper micros timestamp from the raw
    *     long. Must be set before the first read — hence here.
    *   - `codegen.cache.maxEntries` 1000 (Spark's default is 100): the
    *     compiled-class cache is keyed by (class loader, code), and in
    *     `local[n]` every stage class compiles twice, once on the
    *     driver (the compile check of whole-stage codegen) and once
    *     under the executor's task loader. Guava splits the cache into
    *     4 segments of maxEntries/4, each LRU on its own. One
    *     etl_refresh cycle holds 93 entries (plus 8 per refresh from
    *     its inlined ingest-timestamp literal, at most 39 cycles a
    *     run) and one dedup_curate pass 81–95, so at 100 the segments
    *     overflow and warm rounds recompile what the next round needs
    *     again. 1000 holds that working set with room for a segment
    *     that fills unevenly. A static conf: the cache is built once
    *     per JVM, from the active session's conf when code is first
    *     compiled, so session-build time is the only place it takes
    *     hold.
    *   - `codegen.useIdInClassName` false: the stage id in a generated
    *     class's name makes identical stages different code. A refresh
    *     unions 4 sources that share one projection; with ids they
    *     compile as 4 classes per loader, without them as one.
    */
  val required: Map[String, String] = Map(
    "spark.sql.extensions"                  -> "graft.functions.GraftExtensions",
    "spark.sql.session.timeZone"            -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong"  -> "true",
    "spark.sql.codegen.cache.maxEntries"    -> "1000",
    "spark.sql.codegen.useIdInClassName"    -> "false")

  /** `spark.graft.localSpread` — LOCAL-ONLY workaround, default off.
    *
    * The local test parquet files are single-row-group, so a scan is
    * one task no matter how `maxPartitionBytes` is set; every per-row
    * operator would serialize on one core. When this flag is true,
    * [[Tables]] hash-repartitions each non-tiny table on its primary
    * join/group key ONCE per session (memoized + persisted), restoring
    * parallelism without paying a full-table exchange per query.
    *
    * On a cluster this MUST stay off (the default): the input is
    * thousands of splittable files, and an unconditional load-path
    * repartition would full-shuffle the dataset before any query logic.
    */
  val LocalSpreadKey = "spark.graft.localSpread"

  def localSpread(spark: SparkSession): Boolean =
    spark.conf.get(LocalSpreadKey, "false").toBoolean

  /** Apply [[required]] to a builder (call sites may add their own). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    required.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Cores for a [[local]] session: `SPARK_GRAFT_CPUS`, else every core. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one local session builder, shared by the mains and the specs:
    * [[required]] plus
    *
    *   - `local[cpus]` with one shuffle partition per core;
    *   - a 16k AQE coalesce floor (Spark's is 1 MB), so small shuffles
    *     keep spreading over the cores;
    *   - `codegen.maxFields` 512, so the suite's wide projections stay
    *     whole-stage compiled (the default cap is 100 fields);
    *   - [[LocalSpreadKey]] on — the local files are single-row-group;
    *   - no UI,
    *
    * then `overrides`, applied last. Log level WARN.
    */
  def local(cpus: Int = defaultCpus,
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val confs = Map(
      "spark.sql.shuffle.partitions"                           -> cpus.toString,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k",
      "spark.sql.codegen.maxFields"                            -> "512",
      LocalSpreadKey                                           -> "true",
      "spark.ui.enabled"                                       -> "false") ++ overrides
    val spark = confs
      .foldLeft(configure(SparkSession.builder().master(s"local[$cpus]"))) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
