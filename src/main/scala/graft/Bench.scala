package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop
  * sink (count() would let Catalyst prune the computed columns away).
  *
  * Emission contract: the LAST stdout line is a compact total-only
  * JSON record (it must fit a bounded tail capture); `value` is this
  * run's measured total. The per-query map of this run's times goes to
  * `target/bench-detail.json`, beside each query's codegen compile time
  * in that same timed run (`codegen_ms`); a bench run writes nothing
  * else.
  *
  * Wall-time protocol (revised round 11 — the old full-warm-up +
  * 2-measured-passes protocol scaled as 3 full passes and outgrew the
  * driver's time budget at 559 queries, killing the r10 run at
  * rc=124). The one baseline is the FROZEN round-stamped
  * `BENCH_DETAIL_r<N>.json` (highest N; written once at round close,
  * never by Bench):
  *
  *   1. warm up ONLY queries with no frozen floor — i.e. queries new
  *      this round. Steady-state JIT for the rest is recovered by
  *      step 3.
  *   2. ONE measured pass over the whole suite.
  *   3. targeted re-run of suspects: any query measured >1.5x its
  *      frozen floor (floor >0.2s) runs once more and keeps the min.
  *      This discards first-run codegen/JIT inflation and host blips
  *      for the handful of lines they hit, instead of paying a second
  *      full pass for everyone.
  *   4. regression guard (loud WARN) on the post-re-run values vs the
  *      frozen floors.
  *
  * Failure discipline: a query that throws is EXCLUDED from the
  * queries map and listed under `"failed"` — its wall-to-exception
  * time must never enter the detail (the r10 driver timeout stamped
  * 104 failure stubs at 0.009–0.015s into the detail). Frozen entries
  * below 0.05s are likewise ignored as floors: no real sf0.1 query
  * finishes that fast, so they can only be stubs.
  */
object Bench {

  /** Parse the per-query map out of a detail file: only the
    * `"queries":{...}` object is considered, so metadata keys sharing
    * the file ("value", "n_queries", nested "prior"/"now") can never
    * masquerade as a baseline entry. Avoids a JSON dependency — the
    * object is flat name:number pairs by construction.
    */
  private[graft] def parseFlatNumbers(json: String): Map[String, Double] = {
    val start = json.indexOf("\"queries\":")
    if (start < 0) return Map.empty
    val open = json.indexOf('{', start)
    if (open < 0) return Map.empty
    val close = json.indexOf('}', open)
    if (close < 0) return Map.empty
    "\"([^\"]+)\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?(?:[eE]-?[0-9]+)?)".r
      .findAllMatchIn(json.substring(open, close + 1))
      .map(m => m.group(1) -> m.group(2).toDouble)
      .toMap
  }

  /** Stub guard: frozen floors below this are timed-out-run debris,
    * not measurements — no suite query completes in <50ms at sf0.1.
    */
  private[graft] val PlausibleFloor = 0.05

  /** A measured time is suspect (re-run) or a regression (WARN) when
    * it exceeds 1.5x a floor above 0.2s. Host noise is ±25% (SURVEY
    * §7), and sub-200ms lines are scheduler noise.
    */
  private[graft] def exceeds(floor: Double, secs: Double): Boolean =
    floor > 0.2 && secs > floor * 1.5

  /** (name, floor, now) for every measured query that regressed. */
  private[graft] def regressions(results: Seq[(String, Double)],
      frozen: Map[String, Double]): Seq[(String, Double, Double)] =
    results.flatMap { case (name, secs) =>
      frozen.get(name).filter(exceeds(_, secs)).map(p => (name, p, secs))
    }

  /** The detail record and the compact stdout line of one run. Both
    * carry this run's measured total as `value`; the detail's
    * `queries` holds this run's time per query, failed queries only
    * under `failed`, and `codegen_ms` the compile time of each query's
    * kept run.
    */
  private[graft] def emit(results: Seq[(String, Double)], codegenMs: Seq[(String, Double)],
      failed: Seq[String], frozen: Map[String, Double], frozenName: Option[String],
      sfDir: String): (String, String) = {
    // Locale.ROOT: the f-interpolator is locale-sensitive, and a
    // comma-decimal default locale would emit invalid JSON here.
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def str(s: String) = "\"" + s + "\""
    val regs = regressions(results, frozen)
    val head =
      s"""{"metric":"total","value":${fmt(results.map(_._2).sum)},"unit":"sec",""" +
        s""""n_queries":${results.size},"sf":${str(sfDir)},"""
    def obj(kv: Seq[(String, Double)]) = kv.map { case (k, v) => str(k) + ":" + fmt(v) }.mkString(",")
    val regJson = regs
      .map { case (n, p, s) => str(n) + ":{\"prior\":" + fmt(p) + ",\"now\":" + fmt(s) + "}" }
      .mkString("{", ",", "}")
    val detail = head +
      s""""failed":${failed.map(str).mkString("[", ",", "]")},""" +
      s""""frozen_baseline":${frozenName.map(str).getOrElse("null")},""" +
      s""""regressions_vs_frozen":$regJson,"codegen_ms":{${obj(codegenMs)}},""" +
      s""""queries":{${obj(results)}}}"""
    // the empty "queries" keeps the line's {metric,value,unit,queries}
    // shape for tail parsers; the per-query map is in the detail
    val line = head +
      s""""queries":{},"failed":${failed.size},"regressions_vs_frozen":${regs.size},""" +
      s""""detail":"target/bench-detail.json"}"""
    (detail, line)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional: query names as args restrict the run (targeted
    // min-of-2 re-measure of a flagged line)
    val only = args.toSet
    val unknown = only -- Queries.all.map(_.name).toSet
    if (unknown.nonEmpty)
      // loud, not fatal: a typo'd subset run otherwise "succeeds" with
      // n_queries=0 and a valid-looking total of 0.000
      System.err.println(s"[bench] WARNING unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    def selected = if (only.isEmpty) Queries.all else Queries.all.filter(q => only(q.name))
    val spark = GraftSession.local()
    // WindowExec's "No Partition Defined" warning fires once per task
    // for every window over an already-aggregated O(days)/O(bins)/
    // O(groups) frame — the documented idiom across the suite, each
    // instance plan-audited (PLANS_r10..r12; VERDICT r12 "What's
    // wrong" #4). Dozens of cry-wolf lines buried real signal in the
    // bench tail, so the RUNTIME warning is silenced HERE (bench only);
    // the STATIC guard remains graft.plans.PlanLint, which flags any
    // genuinely unbounded single-partition window at plan level.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    // The baseline loads FIRST: it decides which queries get a warm-up
    // and which measured times earn a confirming re-run.
    val frozenFile = Option(new java.io.File(".").listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("BENCH_DETAIL_r\\d+\\.json"))
      .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
      .lastOption
    val frozen = frozenFile.map { f =>
      val src = scala.io.Source.fromFile(f)
      try parseFlatNumbers(src.mkString).filter(_._2 >= PlausibleFloor) finally src.close()
    }.getOrElse(Map.empty[String, Double])

    // Pre-materialize the memoized spread tables (count() forces the
    // repartition+persist in Tables.apply) BEFORE any query runs, so
    // the one-time spread cost can never land inside a measured (or
    // even warm-up) query time.
    Tables.names.foreach { n =>
      val t0 = System.nanoTime()
      val rows = Tables(spark, sfDir, n).count()
      System.err.println(f"[bench] spread $n: $rows rows in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

    /** (wall seconds, codegen compile ms) of one run of `q`. */
    def runOnce(q: QueryDef): Either[Throwable, (Double, Double)] = {
      val c0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try {
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right(((System.nanoTime() - t0) / 1e9, (CodeGenerator.compileTime - c0) / 1e6))
      } catch { case e: Throwable => Left(e) }
    }

    // Warm-up pass restricted to queries without a frozen floor (new
    // or renamed this round): their single measurement must not
    // include first-run codegen/JIT. Established queries skip it; if
    // JIT inflates their one measured run past 1.5x floor, the suspect
    // re-run below retakes the measurement warm.
    var warmupFailures = 0
    selected.filterNot(q => frozen.contains(q.name)).foreach { q =>
      runOnce(q) match {
        case Right((s, _)) => System.err.println(f"[bench] warmup ${q.name}: $s%.3fs")
        case Left(e) =>
          warmupFailures += 1
          System.err.println(s"[bench] WARM-UP FAILED ${q.name}: $e")
          e.printStackTrace()
      }
    }
    if (warmupFailures > 0)
      System.err.println(s"[bench] WARNING: $warmupFailures warm-up failures — measured numbers suspect")

    // One measured pass. Failures are recorded by NAME, never by time.
    val failed = scala.collection.mutable.ListBuffer[String]()
    val pass1: Seq[(QueryDef, (Double, Double))] = selected.flatMap { q =>
      runOnce(q) match {
        case Right(run @ (s, _)) =>
          System.err.println(f"[bench] pass1 ${q.name}: $s%.3fs")
          Some(q -> run)
        case Left(e) =>
          failed += q.name
          System.err.println(s"[bench] FAILED ${q.name}: ${e.getMessage}")
          None
      }
    }

    // Targeted re-run of suspects; keeps the faster of the two runs
    // (its time and its compile time), and a failed re-run keeps the
    // first.
    val kept: Seq[(String, (Double, Double))] = pass1.map { case (q, run @ (s, _)) =>
      frozen.get(q.name) match {
        case Some(p) if exceeds(p, s) =>
          runOnce(q) match {
            case Right(run2 @ (s2, _)) =>
              System.err.println(f"[bench] rerun ${q.name}: $s%.3fs -> $s2%.3fs (floor $p%.3fs)")
              q.name -> (if (s2 < s) run2 else run)
            case Left(e) =>
              System.err.println(s"[bench] RERUN FAILED ${q.name}: ${e.getMessage}")
              q.name -> run
          }
        case _ => q.name -> run
      }
    }
    val results = kept.map { case (n, (s, _)) => n -> s }

    val tag = frozenFile.map(_.getName).getOrElse("frozen:none")
    regressions(results, frozen).foreach { case (name, p, s) =>
      System.err.println(f"[bench] WARN REGRESSION($tag) $name: $p%.3fs -> $s%.3fs (${s / p}%.2fx)")
    }
    val (detail, line) = emit(results, kept.map { case (n, (_, c)) => n -> c },
      failed.toSeq, frozen, frozenFile.map(_.getName), sfDir)
    new java.io.File("target").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get("target/bench-detail.json"),
      detail.getBytes("UTF-8"))
    println(line)
    // every result is materialized by now — reclaim the snapshot-family
    // scratch tables so a bench session leaves /tmp as it found it
    Queries.sweepScratch()
    spark.stop()
  }
}
