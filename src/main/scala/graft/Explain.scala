package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

/** Plan/timing inspector: `runMain graft.Explain <sfDir> <query> [n]`
  * runs a query n times (default 2: cold + warm), printing wall time
  * per run and the formatted physical plan — the `.explain` audit loop
  * from SURVEY.md §5.
  */
object Explain {

  /** Count distinct hash-shuffle / broadcast exchanges by WALKING the
    * executed plan tree — a regex over the rendered string double-counts
    * cached subplans (AQE renders an InMemoryRelation's plan twice, as
    * `== Final Plan ==` and `== Initial Plan ==`) and counts
    * ReusedExchange as a fresh shuffle.
    */
  private[graft] def countExchanges(root: SparkPlan): (Int, Int) = {
    var sh = 0; var bc = 0
    val seenCaches = scala.collection.mutable.Set[Long]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case _: ReusedExchangeExec    => () // reuse of an already-counted exchange
      case e: ShuffleExchangeExec =>
        e.outputPartitioning match { case _: HashPartitioning => sh += 1; case _ => () }
        walk(e.child)
      case e: BroadcastExchangeExec => bc += 1; walk(e.child)
      case t: InMemoryTableScanExec =>
        // count each cached relation's build plan ONCE per query even
        // when scanned from several places
        if (seenCaches.add(System.identityHashCode(t.relation.cacheBuilder).toLong))
          walk(t.relation.cachedPlan)
      case other => other.children.foreach(walk)
    }
    walk(root)
    (sh, bc)
  }
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args(1).split(",").toSeq else Queries.all.map(_.name)
    val n     = if (args.length > 2) args(2).toInt else 2
    // ad-hoc conf overrides for A/B plan experiments:
    // SPARK_GRAFT_CONF="key=value;key=value"
    // (e.g. spark.graft.localSpread=false for the cluster load path)
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';').toSeq).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
      .toMap
    val spark = GraftSession.local(overrides = overrides)
    // SPARK_GRAFT_JOBS=1: per-job wall time + stage/task counts — the
    // action-overhead decomposition for iterative operators
    if (sys.env.get("SPARK_GRAFT_JOBS").contains("1"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        private val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
        private val stages = new java.util.concurrent.atomic.AtomicInteger(0)
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          starts.put(js.jobId, System.nanoTime())
        }
        // count EXECUTED stages/tasks — JobStart.stageInfos includes
        // stages later skipped via shuffle reuse, which overstates work
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(sc.stageInfo.numTasks)
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = Option(starts.remove(je.jobId))
          t0.foreach { t =>
            println(f"[jobs] job ${je.jobId}%4d: ${(System.nanoTime() - t) / 1e3}%10.0fus  (cum stages=${stages.get()} tasks=${tasks.get()})")
          }
        }
      })
    val byName = Queries.all.map(q => q.name -> q).toMap
    names.foreach { name =>
      val q = byName(name)
      (1 to n).foreach { i =>
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"[explain] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      // plan-shape summary on the AQE-FINAL plan (execute this DF, then
      // inspect it): shuffle exchanges are the scale currency, broadcast
      // exchanges should carry the dims, and wide WholeStageCodegen
      // coverage means the expressions stay compiled
      val df = q.fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      val (shuffles, broadcasts) = countExchanges(df.queryExecution.executedPlan)
      // codegen stages render as `*(id) Node` in the tree string
      val codegen    = """\*\((\d+)\)""".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
      println(s"[explain] $name plan: shuffles=$shuffles broadcasts=$broadcasts codegenStages=$codegen")
      if (sys.env.get("SPARK_GRAFT_PLAN").contains("1"))
        df.explain("formatted")
    }
    spark.stop()
  }
}
