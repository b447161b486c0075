package graft

import graft.api.Pipeline
import graft.operators.Clean
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
