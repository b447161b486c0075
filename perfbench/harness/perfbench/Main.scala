package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark, driven by [[Main]]'s round loop. */
trait Workload {
  /** Loading that belongs to set-up: runs after the session is built
    * and before the first timed operation.
    */
  def load(): Unit

  /** One timed round: the program's own work and nothing else.
    * Returns the round's phase walls (seconds).
    */
  def round(i: Int): Map[String, Double]

  /** Untimed, right after round `i` and outside the tracer's window:
    * operations a workload keeps out of its rounds and, when `traced`,
    * the per-layer values that take extra work to read.
    */
  def afterRound(i: Int, traced: Boolean): Map[String, Double]

  /** Upper bound on rounds (finite pre-generated input), or MaxValue. */
  def maxRounds: Int = Int.MaxValue

  /** Warm rounds after the cold one that `warm_s` leaves out while
    * the JIT settles.
    */
  def warmupRounds: Int = 0

  /** Rounds a run makes even when `--seconds` has passed: the cold one,
    * the warm-up and the measured ones.
    */
  def minRounds: Int = 1 + warmupRounds + Main.MeasuredRounds

  /** Operations attempted and failed so far, and the failures seen. */
  def attempted: Long
  def failed: Long
  def failures: Seq[String]

  /** After the measured loop, untimed: the raw data the correctness
    * checks (perfbench/checks.py) compare against the generator.
    */
  def observe(): Map[String, Any]
}

/** Runs one workload: builds the session, loads, runs timed rounds
  * for `--seconds`, then writes `<work>/result.json` for run.py.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1
  *          --work DIR --inputs DIR --cpus N
  */
object Main {
  /** Warm rounds after the warm-up that `warm_s` is the median of.
    * A fixed window: on a slow host a run makes fewer rounds, and a
    * median over all of them would come from less settled rounds.
    */
  val MeasuredRounds = 3

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The session Bench builds, with its scratch space inside `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.codegen.maxFields", "512")
      .config(graft.GraftSession.LocalSpreadKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val inputs = opts("inputs")
    val cpus = opts("cpus").toInt

    val sessionT0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = secs(sessionT0)
    val w: Workload = name match {
      case "etl_refresh"  => new Etl(spark, inputs, work)
      case "dedup_curate" => new Curate(spark, inputs)
      case other          => sys.error(s"unknown workload $other")
    }
    val loadT0 = System.nanoTime()
    w.load()
    val loadS = secs(loadT0)

    // -- the measured loop: the clock starts at the first timed op --
    val firstOpNs = epochNs()
    val loopT0 = System.nanoTime()
    Jvm.watchHeap()
    val gc0 = Jvm.gcSeconds
    val tracer = new Tracer(spark)
    // a traced run needs two traced and two untraced warm rounds
    val minRounds = if (trace) 5 else w.minRounds
    val rounds = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    // traced runs alternate after the untraced cold round: odd rounds
    // traced, even rounds untraced. trace.overhead_s compares the two;
    // a traced round runs first, so JIT warm-up inflates it, not hides it
    def tracedRound(i: Int) = trace && i % 2 == 1
    while (rounds.size < w.maxRounds &&
        (rounds.size < minRounds || secs(loopT0) < seconds)) {
      val i = rounds.size
      val traced = tracedRound(i)
      if (traced) tracer.start()
      val c0 = Jvm.compileMs
      val t0 = System.nanoTime()
      val phases = w.round(i)
      val wall = secs(t0)
      val compile = Jvm.compileMs - c0
      // the tracer's totals cover the round alone, not the work below
      val layers = if (traced) tracer.stop(wall, cpus) else Map.empty[String, Double]
      val after = w.afterRound(i, traced)
      rounds += phases ++ layers ++ after ++ Map("wall_s" -> wall, "compile_ms" -> compile,
        "traced" -> (if (traced) 1.0 else 0.0))
    }
    val loopS = secs(loopT0)
    val heapPeak = Jvm.heapPeakMb
    val gcPerRound = (Jvm.gcSeconds - gc0) / rounds.size

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val traced = rounds.filter(_("traced") == 1.0)
        val untracedWarm = rounds.drop(1).filter(_("traced") == 0.0)
        val keys = traced.flatMap(_.keys).distinct
          .filterNot(Set("wall_s", "compile_ms", "traced"))
        keys.map(k => k -> median(traced.flatMap(_.get(k)))).toMap ++ Map(
          "setup.session_s" -> sessionS,
          "setup.load_s" -> loadS,
          "codegen.compile_ms" -> rounds.head("compile_ms"),
          "codegen.warm_compile_ms" -> median(traced.map(_("compile_ms"))),
          "jvm.heap_peak_mb" -> heapPeak,
          "jvm.gc_s" -> gcPerRound,
          "trace.overhead_s" ->
            (median(traced.map(_("wall_s"))) - median(untracedWarm.map(_("wall_s")))))
      }

    val observeT0 = System.nanoTime()
    val observed = w.observe()
    val observeS = secs(observeT0)
    val result = Map(
      "workload" -> name,
      "first_op_epoch_ns" -> firstOpNs,
      "session_s" -> sessionS,
      "load_s" -> loadS,
      "loop_s" -> loopS,
      "observe_s" -> observeS,
      "rounds" -> rounds.toSeq,
      "warmup_rounds" -> w.warmupRounds,
      "measured_rounds" -> MeasuredRounds,
      "attempted" -> w.attempted,
      "failed" -> w.failed,
      "failures" -> w.failures.distinct,
      "layers" -> layers,
      "observed" -> observed)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(work, "result.json"), mapper.writeValueAsString(result))
    spark.stop()
  }
}
