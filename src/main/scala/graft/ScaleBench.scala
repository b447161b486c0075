package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off SCALE spot-bench (VERDICT r12 #3): measure how the heaviest
  * operators scale from sf0.1 to an sf1-sized replica — the cheapest
  * empirical check of the 100×-scale plan-shape claims, catching any
  * super-linear surprise the per-round sf0.1 bench structurally cannot
  * see.
  *
  * Usage: `runMain graft.ScaleBench <srcSfDir> <dstDir> <replicas> <query...>`
  *
  * The sf1 replica is DERIVED from sf0.1 (the driver's generator is
  * not available): each fact table is unioned `replicas`× with every
  * int64 key column shifted by a disjoint 1e8 stride per replica, so
  * join fan-outs, group cardinalities, and key-distribution shapes
  * scale together the way real growth does (10× rows per day/key-space,
  * dims fixed). `documents` text is token-perturbed per replica (~1/7
  * of tokens rewritten) so the near-dup operators see realistic
  * similarity structure instead of every doc duplicated 10×;
  * `embeddings` vectors are rotated per replica so ANN/clustering sees
  * new directions, not 10 copies of the same point set.
  *
  * Protocol: per query, min-of-2 at sf0.1 (warm JIT), then one run at
  * sf1. Emits one JSON line per query with the ratio; data-linear
  * scaling at `replicas`=10 is ratio ≈ 10 (in practice < 10 on the
  * 32-core box while sf0.1 under-utilizes cores). The summary line is
  * last on stdout.
  */
object ScaleBench {

  private val Stride = 100000000L // disjoint key space per replica

  /** Key columns shifted per replica, per table. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def replica(name: String, df: DataFrame, i: Int): DataFrame = {
    val off = Stride * i
    val shifted = keyCols.getOrElse(name, Nil).foldLeft(df)((d, k) =>
      d.withColumn(k, col(k) + lit(off)))
    name match {
      case _ if i == 0 => shifted
      case "documents" =>
        // ~1/7 of tokens rewritten per replica: cross-replica Jaccard
        // lands ~0.75 — mostly below near-dup thresholds, some pairs
        // above, which is the realistic regime (NOT 10× exact dups)
        shifted.withColumn("text", expr(
          s"array_join(transform(split(text, ' '), (t, j) -> " +
            s"CASE WHEN pmod(xxhash64(t, j, $i), 7) = 0 " +
            s"THEN concat(t, '$i') ELSE t END), ' ')"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // rotate the vector i places: same norm, new direction
        shifted.withColumn("embedding", expr(
          s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), " +
            s"slice(embedding, 1, $i))"))
      case _ => shifted
    }
  }

  private def generate(spark: SparkSession, src: String, dst: String,
      replicas: Int): Unit = {
    Tables.names.foreach { name =>
      val base = Tables(spark, src, name)
      val out = name match {
        case "region" | "nation" => base
        case _ => (0 until replicas).map(i => replica(name, base, i))
          .reduce(_ unionByName _)
      }
      val t0 = System.nanoTime()
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(f"[scale] generated $name in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dst/_DONE"),
      Array.emptyByteArray)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ScaleBench <srcSfDir> <dstDir> <replicas> <query...>")
    val (src, dst, replicas) = (args(0), args(1), args(2).toInt)
    val qnames = args.drop(3).toSeq
    val spark = GraftSession.local()

    if (!new java.io.File(s"$dst/_DONE").exists()) generate(spark, src, dst, replicas)

    val byName = Queries.all.map(q => q.name -> q).toMap
    val unknown = qnames.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // pre-spread both dirs so one-time costs never enter a measurement
    Seq(src, dst).foreach(d => Tables.names.foreach(n => Tables(spark, d, n).count()))

    // SCALE_COUNT=1: report result-row counts beside times — separates
    // "the operator scales super-linearly" from "the WORKLOAD (output)
    // grew super-linearly" when adjudicating a ratio
    val countMode = sys.env.get("SCALE_COUNT").contains("1")
    def runOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      if (countMode)
        System.err.println(s"[scale] rows $name@$dir: " +
          byName(name).fn(spark, dir).count())
      else byName(name).fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val rows = qnames.map { name =>
      val small = math.min(runOnce(name, src), runOnce(name, src))
      val big = runOnce(name, dst)
      val ratio = big / small
      System.err.println(f"[scale] $name: sf0.1=${small}%.2fs sf1=${big}%.2fs ratio=${ratio}%.2fx")
      (name, small, big, ratio)
    }
    val qjson = rows.map { case (n, s, b, r) =>
      s""""$n":{"sf01":${fmt(s)},"sf1":${fmt(b)},"ratio":${fmt(r)}}"""
    }.mkString(",")
    println(s"""{"metric":"scale_ratio_x$replicas","replicas":$replicas,""" +
      s""""queries":{$qjson}}""")
    spark.stop()
  }
}
