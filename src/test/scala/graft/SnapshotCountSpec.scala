package graft

import java.nio.file.{Files, Paths}

import graft.sources.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** `count()` over a Snapshot scan is answered from the manifest's
  * per-file row counts (plans.SnapshotCountRewriteRule). Each case
  * checks the answer against a forced scan: `sum(1)` is not the
  * count shape the rule rewrites.
  */
class SnapshotCountSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-count").toString + "/t"

  private def rows(from: Long, to: Long): DataFrame =
    spark.range(from, to, 1, 4).select(col("id"),
      (col("id") % 7).cast("string").as("name"), (col("id") * 0.5).as("score"))

  private def scanned(df: DataFrame): Long =
    Option(df.agg(sum(lit(1L))).head().get(0)).fold(0L)(_.asInstanceOf[Long])

  private def fromManifest(df: DataFrame): Boolean =
    df.groupBy().count().queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** count() equals the forced scan, and is or is not metadata-only. */
  private def checkCount(df: DataFrame, expected: Long, metadataOnly: Boolean): Unit = {
    assert(fromManifest(df) == metadataOnly)
    assert(df.count() == expected)
    assert(scanned(df) == expected)
  }

  test("count() over a Snapshot read runs no job and equals the scan") {
    val dir = tmp()
    Snapshot.commit(spark, dir, rows(0, 1000))
    Snapshot.append(spark, dir, rows(1000, 1010))
    val df = Snapshot.read(spark, dir)
    var n = -1L
    assert(jobsOf { n = df.count() } == 0)
    assert(n == 1010L)
    checkCount(df, 1010L, metadataOnly = true)
    df.createOrReplaceTempView("graft_snapshot_count")
    assert(jobsOf { n = spark.sql("SELECT count(*) FROM graft_snapshot_count").head().getLong(0) } == 0)
    assert(n == 1010L)
  }

  test("deletion vectors keep the scan") {
    val dir = tmp()
    Snapshot.commit(spark, dir, rows(0, 1000))
    assert(Snapshot.deleteWhere(spark, dir, col("id") % 10 === 0).isDefined)
    checkCount(Snapshot.read(spark, dir), 900L, metadataOnly = false)
  }

  test("a filtered scan keeps the scan") {
    val dir = tmp()
    Snapshot.commit(spark, dir, rows(0, 1000))
    checkCount(Snapshot.read(spark, dir).filter(col("id") < 100), 100L, metadataOnly = false)
  }

  test("legacy entries without a row count keep the scan") {
    val dir = tmp()
    Snapshot.commit(spark, dir, rows(0, 1000))
    val v1 = Paths.get(dir, "_versions", "v000000001.json")
    val legacy = Files.readString(v1).replaceAll("\"rows\":\\d+,", "")
    assert(!legacy.contains("\"rows\""))
    Files.writeString(v1, legacy)
    Files.deleteIfExists(v1.resolveSibling(".v000000001.json.crc"))
    checkCount(Snapshot.read(spark, dir), 1000L, metadataOnly = false)
  }

  test("an empty table counts 0 from the manifest") {
    val dir = tmp()
    Snapshot.commit(spark, dir, rows(0, 0))
    checkCount(Snapshot.read(spark, dir), 0L, metadataOnly = true)
  }

  test("time travel counts each version from its own manifest") {
    import spark.implicits._
    val dir = tmp()
    Snapshot.commit(spark, dir, rows(0, 1000))
    val changes = Seq((5L, "x", 1.0, false), (6L, "y", 2.0, true), (5000L, "z", 3.0, false))
      .toDF("id", "name", "score", "is_deleted")
    val v2 = Snapshot.upsert(spark, dir, changes, Seq("id"), Some("is_deleted"))
    checkCount(Snapshot.readVersion(spark, dir, 1L), 1000L, metadataOnly = true)
    checkCount(Snapshot.readVersion(spark, dir, v2), 1000L, metadataOnly = true)
  }

  test("renamed and added columns keep the count exact") {
    import spark.implicits._
    val dir = tmp()
    Snapshot.commit(spark, dir, rows(0, 1000))
    Snapshot.renameColumn(spark, dir, "name", "label")
    checkCount(Snapshot.read(spark, dir), 1000L, metadataOnly = true)
    // schema evolution: a change carrying a new column extends the table
    val changes = Seq((1L, "l", 1.0, "new"), (2000L, "m", 2.0, "new"))
      .toDF("id", "label", "score", "extra")
    Snapshot.upsert(spark, dir, changes, Seq("id"))
    val evolved = Snapshot.read(spark, dir)
    assert(evolved.columns.toSeq == Seq("id", "label", "score", "extra"))
    checkCount(evolved, 1001L, metadataOnly = true)
    checkCount(evolved.select("extra"), 1001L, metadataOnly = true)
  }
}
