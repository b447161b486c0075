package graft

import java.nio.file.Files

import graft.operators.Merge
import graft.sources.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The row-level writers of the snapshot table layer (deleteWhere,
  * updateWhere, updateWhereMor, replaceWhere) and its other writers:
  * repeated work converges, nothing stays cached, and the job counts
  * of a predicate write stay bounded.
  */
class SnapshotWritersSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-writers").toString + "/t"

  private def base: DataFrame = {
    import spark.implicits._
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0))
      .toDF("id", "name", "score")
  }

  /** A 2-file table without deletion vectors: ids {1, 3} and {2, 4}. */
  private def twoFiles(): String = {
    val dir = tmp()
    Snapshot.commit(spark, dir, base.repartition(2, col("id") % 2))
    assert(Snapshot.filesForTest(spark, dir, 1L).size == 2)
    dir
  }

  private def ids(dir: String): Set[Long] =
    Snapshot.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet

  test("the same deleteWhere run twice mints one version: rows already deleted match nothing") {
    val dir = tmp()
    Snapshot.commit(spark, dir, base.repartition(1))
    assert(Snapshot.deleteWhere(spark, dir, col("id") === 1L).contains(2L))
    assert(Snapshot.deleteWhere(spark, dir, col("id") === 1L).isEmpty,
      "a repeated delete of a dead row minted a version")
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L))
    assert(ids(dir) == Set(2L, 3L, 4L))
    // a delete re-matching the dead row and one live row: the file's
    // dv becomes {1, 2}, and only the live row counts as deleted
    assert(Snapshot.deleteWhere(spark, dir, col("id") <= 2L).contains(3L))
    assert(ids(dir) == Set(3L, 4L))
    assert(Snapshot.filesForTest(spark, dir, 3L).map(_._3) == Seq(2L))
    val met = Snapshot.history(spark, dir).where(col("version") === 3L)
      .select(col("metrics")).collect()(0).getMap[String, Long](0)
    assert(met("rows_deleted") == 1L && met("files_dv") == 1L &&
      met("files_dropped") == 0L, met.toString)
  }

  test("the same SQL DELETE FROM run twice mints one version on a GraftCatalog table") {
    val warehouse = Files.createTempDirectory("graft-writers-wh").toString
    spark.conf.set("spark.sql.catalog.graftw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftw.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftw.db")
    spark.sql("CREATE TABLE graftw.db.twice (id BIGINT, v DOUBLE)")
    // one file: the deleted row shares it with live rows
    spark.sql("INSERT INTO graftw.db.twice SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(1, 4, 1, 1)")                                                // v2
    val dir = s"$warehouse/db/twice"
    spark.sql("DELETE FROM graftw.db.twice WHERE id = 1")                       // v3
    spark.sql("DELETE FROM graftw.db.twice WHERE id = 1")
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(spark.sql("SELECT id FROM graftw.db.twice").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L))
  }

  test("no table writer leaves a cached frame or a persistent RDD behind") {
    import spark.implicits._
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val dir = twoFiles()
    def clean(op: String)(body: => Any): Unit = {
      body
      assert(spark.sharedState.cacheManager.isEmpty, s"$op left a cached frame")
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$op left persistent RDDs $left")
    }
    clean("upsert")(Snapshot.upsert(spark, dir,
      Seq((2L, "b2", 20.0), (5L, "e", 5.0)).toDF("id", "name", "score"), Seq("id")))
    clean("mergeInto")(Snapshot.mergeInto(spark, dir,
      Seq((3L, 30.0)).toDF("id", "v"), Seq("id"),
      Seq(Merge.MatchedUpdate(None, Map("score" -> Merge.src("v"))))))
    clean("deleteWhere")(Snapshot.deleteWhere(spark, dir, col("id") === 1L))
    clean("updateWhere")(Snapshot.updateWhere(spark, dir, col("id") === 4L,
      Map("score" -> lit(40.0))))
    clean("updateWhereMor")(Snapshot.updateWhereMor(spark, dir, col("id") === 5L,
      Map("score" -> lit(50.0))))
    clean("replaceWhere")(Snapshot.replaceWhere(spark, dir, col("id") === 2L,
      Seq((2L, "b9", 9.0)).toDF("id", "name", "score")))
    clean("optimize")(Snapshot.optimize(spark, dir, smallBytes = Long.MaxValue))
    clean("compact")(Snapshot.compact(spark, dir))
    assert(Snapshot.read(spark, dir).select("id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(2L -> 9.0, 3L -> 30.0, 4L -> 40.0, 5L -> 50.0))
  }

  test("a predicate write on a 2-file table without deletion vectors runs a bounded number of jobs") {
    import spark.implicits._
    // measured bounds: one more job here means a writer scans, writes
    // or counts its candidates more often than it must
    val bound = Map("deleteWhere" -> 6, "updateWhere" -> 5, "updateWhereMor" -> 9,
      "replaceWhere" -> 8)
    val dirs = bound.keys.map(_ -> twoFiles()).toMap
    val jobs = Map(
      "deleteWhere" -> jobsOf(Snapshot.deleteWhere(spark, dirs("deleteWhere"), col("id") === 1L)),
      "updateWhere" -> jobsOf(Snapshot.updateWhere(spark, dirs("updateWhere"),
        col("id") === 1L, Map("score" -> lit(10.0)))),
      "updateWhereMor" -> jobsOf(Snapshot.updateWhereMor(spark, dirs("updateWhereMor"),
        col("id") === 1L, Map("score" -> lit(10.0)))),
      "replaceWhere" -> jobsOf(Snapshot.replaceWhere(spark, dirs("replaceWhere"),
        col("id") === 1L, Seq((1L, "z", 10.0)).toDF("id", "name", "score"))))
    info(s"jobs per writer: $jobs")
    bound.foreach { case (op, b) => assert(jobs(op) <= b, s"$op ran ${jobs(op)} jobs, bound $b") }
  }
}
