package graft

import graft.api.{Pipeline, Service}
import graft.operators.Clean
import graft.sources.Writers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  test("extract unions sources and tolerates partial failure (server.js:39-59)") {
    import spark.implicits._
    val p = Pipeline.builder(spark)
      .source("ok1")(s => { import s.implicits._; Seq((1L, "a")).toDF("id", "name") })
      .source("boom")(_ => sys.error("connection refused"))
      .source("ok2")(s => { import s.implicits._; Seq((2L, "b")).toDF("id", "name") })
    val (df, failed) = p.extract()
    assert(df.count() == 2)
    assert(failed == Seq("boom"))
  }

  test("extract requires at least one live source") {
    val p = Pipeline.builder(spark).source("boom")(_ => sys.error("down"))
    intercept[IllegalArgumentException](p.extract())
  }

  test("refresh runs extract → transform → all sinks and reports count") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-pipe").toString
    val res = Pipeline.builder(spark)
      .source("docs")(s => { import s.implicits._
        Seq((1L, " x ", "en"), (2L, null, "en"), (3L, "z", "fr")).toDF("id", "text", "lang") })
      .transform(df => Clean.requireFields(df, Seq("text")))
      .transform(Clean.standardize)
      .sink("parquet")(df => df.write.mode("overwrite").parquet(s"$out/p"))
      .sink("csv")(df => df.write.mode("overwrite").option("header", "true").csv(s"$out/c"))
      .refresh()
    assert(res.recordCount == 2)
    assert(res.failedSources.isEmpty)
    assert(spark.read.parquet(s"$out/p").count() == 2)
    assert(spark.read.option("header", "true").csv(s"$out/c").count() == 2)
  }

  test("refresh skips a source that fails only at execution (corrupt file)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pipe-corrupt")
    val good = dir.resolve("good").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(good)
    val bad = Files.createDirectories(dir.resolve("bad"))
    Files.writeString(bad.resolve("part-0.parquet"), "not a parquet file")
    val schema = spark.read.parquet(good).schema
    val res = Pipeline.builder(spark)
      .source("good")(_.read.schema(schema).parquet(good))
      .source("bad")(_.read.schema(schema).parquet(bad.toString))
      .sink("noop")(_.write.format("noop").mode("overwrite").save())
      .refresh()
    assert(res.recordCount == 2)
    assert(res.failedSources == Seq("bad"))
  }

  test("refresh rethrows an execution failure no single source causes") {
    val p = Pipeline.builder(spark)
      .source("ok")(s => { import s.implicits._; Seq(1L, 2L).toDF("id") })
      .transform(_.withColumn("boom", raise_error(lit("transform failed"))))
    val e = intercept[Exception](p.refresh())
    assert(e.getMessage.contains("transform failed"))
  }

  /** 10,000 ids in 8 partitions; the transform keeps 9,000. */
  private def counted(sinks: (String, DataFrame => Unit)*) =
    sinks.foldLeft(Pipeline.builder(spark)
      .source("ids")(_.range(0, 10000, 1, 8).toDF("id"))
      .transform(_.filter(col("id") % 10 =!= 0))) { case (p, (n, s)) => p.sink(n)(s) }

  test("refresh count is exact when a sink reads part of the frame before writing") {
    val out = Files.createTempDirectory("graft-pipe-count").toString
    val res = counted(
      "probe-then-write" -> { df => if (!df.isEmpty) df.write.mode("overwrite").parquet(s"$out/a") },
      "limit-then-write" -> { df =>
        assert(df.limit(3).collect().length == 3)
        df.write.mode("overwrite").parquet(s"$out/b")
      }).refresh()
    assert(res == Pipeline.RefreshResult(9000L, Nil))
    assert(spark.read.parquet(s"$out/a").count() == 9000)
  }

  test("refresh count is exact when sinks read only part of the frame, or nothing") {
    assert(counted("peek" -> (df => assert(df.limit(3).collect().length == 3)))
      .refresh().recordCount == 9000L)
    assert(counted("idle" -> (_ => ())).refresh().recordCount == 9000L)
    assert(counted().refresh().recordCount == 9000L)
  }

  test("refresh with full-writing sinks runs one job beyond the sinks' own: the fill") {
    val out = Files.createTempDirectory("graft-pipe-jobs").toString
    var sinkJobs = 0
    def writing(name: String) = name -> { (df: DataFrame) =>
      sinkJobs += jobsOf(df.write.mode("overwrite").parquet(s"$out/$name"))
    }
    val p = counted(writing("a"), writing("b"))
    var res: Pipeline.RefreshResult = null
    val all = jobsOf { res = p.refresh() }
    assert(res.recordCount == 9000L)
    assert(sinkJobs > 0 && all == sinkJobs + 1, s"refresh ran $all jobs, its sinks $sinkJobs")
  }

  test("a refresh that fails at execution leaves the previous staged output in place") {
    val stage = Files.createTempDirectory("graft-pipe-stage").toString
    // a range, not a local relation: the optimizer would fold the
    // failing row's raise_error at planning, before any write starts
    def svc(rows: Long, failing: Boolean) = new Service(spark, Pipeline.builder(spark)
      .source("ids")(_.range(1, rows + 1, 1, 2).toDF("id"))
      .transform(df => if (!failing) df
        else df.withColumn("id", when(col("id") > 2, raise_error(lit("bad row"))).otherwise(col("id"))))
      .sink("json")(df => Writers.json(df, s"$stage/json"))
      .sink("csv")(df => Writers.csv(df, s"$stage/csv")), stage)
    assert(svc(2L, failing = false).refresh() == Right(Pipeline.RefreshResult(2L, Nil)))
    val broken = svc(3L, failing = true)
    val r = broken.refresh()
    assert(r.isLeft && r.swap.toOption.get.contains("bad row"))
    assert(broken.json().map(_.count) == Right(2L))
    assert(broken.csv().map(_.count()) == Right(2L))
  }

  test("a failing sink fails the refresh and is never blamed on a source") {
    val p = Pipeline.builder(spark)
      .source("ok1")(s => { import s.implicits._; Seq(1L, 2L).toDF("id") })
      .source("ok2")(s => { import s.implicits._; Seq(3L).toDF("id") })
      .sink("broken")(df => df.select(raise_error(lit("sink down"))).write
        .format("noop").mode("overwrite").save())
    val e = intercept[Exception](p.refresh())
    assert(e.getMessage.contains("sink down"))
    val svc = new Service(spark, p, Files.createTempDirectory("graft-pipe-sink").toString)
    val r = svc.refresh()
    assert(r.isLeft && r.swap.toOption.get.contains("sink down"))
  }

  test("refresh counts 0 rows when every row is filtered out or no source has any") {
    import spark.implicits._
    val filtered = Pipeline.builder(spark)
      .source("ids")(_.range(1, 5, 1, 2).toDF("id"))
      .transform(_.where(col("id") > 10))
    assert(filtered.refresh() == Pipeline.RefreshResult(0L, Nil))
    val none = Pipeline.builder(spark).source("none")(_ => Seq.empty[Long].toDF("id"))
    assert(none.refresh() == Pipeline.RefreshResult(0L, Nil))
  }

  test("report emits count / distinct / freshness") {
    import spark.implicits._
    val df = Seq((1L, "2026-01-01"), (1L, "2026-02-01"), (2L, "2026-01-15"))
      .toDF("id", "d").select(col("id"), to_timestamp(col("d")).as("ts"))
    val r = Pipeline.builder(spark).report(df, "id", "ts").collect().head
    assert(r.getAs[Long]("record_count") == 3L)
    assert(r.getAs[Long]("distinct_ids") == 2L)
    assert(r.getAs[java.sql.Timestamp]("last_updated").toString.startsWith("2026-02-01"))
  }

  test("approxReport matches the exact report within the HLL error bound") {
    val orders = Tables(spark, sf("orders"), "orders")
    val exact = Pipeline.builder(spark)
      .report(orders, "o_custkey", "o_orderdate").collect().head
    val approx = Pipeline.builder(spark)
      .approxReport(orders, "o_custkey", "o_orderdate", rsd = 0.01).collect().head
    assert(approx.getAs[Long]("record_count") == exact.getAs[Long]("record_count"))
    assert(String.valueOf(approx.get(approx.fieldIndex("last_updated"))) ==
      String.valueOf(exact.get(exact.fieldIndex("last_updated"))))
    val ex = exact.getAs[Long]("distinct_ids").toDouble
    val ap = approx.getAs[Long]("distinct_ids").toDouble
    assert(math.abs(ap - ex) / ex <= 0.05,
      s"approx distinct $ap vs exact $ex drifted beyond 5%")
  }

  test("flagship entry returns rows (driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
