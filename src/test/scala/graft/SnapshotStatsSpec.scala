package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.functions.BloomProbe
import graft.operators.Merge
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifest stats equal the files. After every write path, each live
  * entry of the latest version is checked against its own parquet
  * file, read on its own: bytes, rows, per-column min/max/null count
  * and bloom membership of every value are recomputed from the file's
  * rows, and the entry's stats and bloom columns must be the ones the
  * table's spec names (under their physical names).
  */
class SnapshotStatsSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-stats").toString

  private val Spec = Snapshot.TableSpec(statsCols = Seq("id", "name"),
    bloomCols = Seq("name"), bloomBits = 1024)

  private def rows(from: Long, to: Long, tag: String): DataFrame = {
    import spark.implicits._
    (from to to).map(i => (i, s"$tag$i", i * 1.5)).toDF("id", "name", "score")
  }

  /** The manifest's encoding of a min/max, recomputed here. */
  private def encoded(v: Any): Option[String] = v match {
    case s: String => if (s.length <= Snapshot.MaxStatsStringLen) Some(s) else None
    case x => Some(x.toString)
  }

  private def assertStatsMatchFiles(dir: String, what: String): Unit = {
    val m = Snapshot.latest(spark, dir)
    val physical = Snapshot.physicalSchema(m.schema, m.mapping)
    def phys(c: String) = m.mapping.getOrElse(c, c)
    val statCols = physical.fields.toSeq.filter(f => m.spec.statsCols.map(phys).contains(f.name))
    val bloomCols = m.spec.bloomCols.map(phys).toSet
    assert(m.files.nonEmpty, s"$what: no files")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    m.files.foreach { e =>
      val path = Snapshot.absPath(dir, e.path)
      val file = spark.read.schema(physical).parquet(path)
      val data = file.collect()
      val at = s"$what: ${e.path}"
      assert(e.bytes == fs.getFileStatus(new Path(path)).getLen, at)
      assert(e.rows == data.length, at)
      assert(e.stats.keySet == statCols.map(_.name).toSet, s"$at stats keys ${e.stats.keySet}")
      statCols.foreach { f =>
        val i = physical.fieldIndex(f.name)
        val vals = data.map(_.get(i)).filter(_ != null).toSeq
        val (mn, mx) = f.dataType match {
          case StringType => val s = vals.map(_.asInstanceOf[String]); (s.minOption, s.maxOption)
          case LongType => val l = vals.map(_.asInstanceOf[Long]); (l.minOption, l.maxOption)
          case other => fail(s"$at: no oracle for $other")
        }
        assert(e.stats(f.name) == Snapshot.ColStats(mn.flatMap(encoded), mx.flatMap(encoded),
          data.length - vals.length), s"$at column ${f.name}")
      }
      assert(e.blooms.keySet == (if (e.rows == 0L) Set.empty[String] else bloomCols),
        s"$at bloom keys ${e.blooms.keySet}")
      e.blooms.foreach { case (c, b64) =>
        val bloom = java.util.Base64.getDecoder.decode(b64)
        assert(BloomProbe.readInt(bloom, 0) == m.spec.bloomBits, at)
        file.select(xxhash64(col(c))).collect().foreach(r =>
          assert(BloomProbe.mightContain(bloom, r.getLong(0)), s"$at: a $c value is not in its bloom"))
      }
    }
  }

  test("library writers: commit, append, upsert, mergeInto, updateWhere, replaceWhere and optimize record the stats of the files they write") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, rows(1, 20, "a").repartition(2), spec = Some(Spec))
    assertStatsMatchFiles(dir, "commit")
    Snapshot.append(spark, dir, rows(21, 30, "b"))
    assertStatsMatchFiles(dir, "append")
    // the rest run on a renamed stats and bloom column
    Snapshot.renameColumn(spark, dir, "name", "label")
    val renamed = rows(5, 35, "c").toDF("id", "label", "score")
    Snapshot.upsert(spark, dir, renamed.where(col("id") % 5 === 0L), Seq("id"))
    assertStatsMatchFiles(dir, "upsert")
    Snapshot.mergeInto(spark, dir, renamed.where(col("id") % 7 === 0L), Seq("id"),
      Seq(Merge.MatchedUpdate(None, Map("label" -> Merge.src("label"))),
        Merge.NotMatchedInsertAll(None)))
    assertStatsMatchFiles(dir, "mergeInto")
    assert(Snapshot.updateWhere(spark, dir, col("id") <= 3L,
      Map("label" -> lit("zz"), "score" -> lit(null))).isDefined)
    assertStatsMatchFiles(dir, "updateWhere")
    assert(Snapshot.replaceWhere(spark, dir, col("id") >= 30L,
      rows(30, 32, "r").toDF("id", "label", "score")).isDefined)
    assertStatsMatchFiles(dir, "replaceWhere")
    Snapshot.optimize(spark, dir, smallBytes = Long.MaxValue)
    assertStatsMatchFiles(dir, "optimize")
  }

  private lazy val warehouse: String = {
    val w = tmp()
    spark.conf.set("spark.sql.catalog.gstats", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gstats.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gstats.db")
    w
  }

  private val Props = "TBLPROPERTIES ('graft.stats_cols' = 'id,name', " +
    "'graft.bloom_cols' = 'name', 'graft.bloom_bits' = '1024')"

  /** A catalog table `t` of 20 rows in 2 files; returns its dir. */
  private def catalogTable(t: String): String = {
    val dir = s"$warehouse/db/$t"
    spark.sql(s"CREATE TABLE gstats.db.$t (id BIGINT, name STRING, score DOUBLE) $Props")
    spark.sql(s"INSERT INTO gstats.db.$t SELECT id, concat('n', id), id * 1.5D " +
      "FROM range(1, 21, 1, 2)")
    dir
  }

  test("CTAS records the stats and blooms of the table's spec") {
    val dir = s"$warehouse/db/c"
    spark.sql(s"CREATE TABLE gstats.db.c $Props AS " +
      "SELECT id, concat('n', id) AS name, id * 1.5D AS score FROM range(1, 21, 1, 2)")
    assertStatsMatchFiles(dir, "CTAS")
  }

  test("files rewritten by SQL UPDATE and MERGE carry the table's stats and blooms") {
    val dir = catalogTable("u")
    spark.sql("UPDATE gstats.db.u SET name = concat(name, '!'), score = NULL WHERE id <= 4")
    assert(Snapshot.latest(spark, dir).op == "update")
    assertStatsMatchFiles(dir, "SQL UPDATE")
    spark.sql("""MERGE INTO gstats.db.u t
      USING (SELECT * FROM VALUES (2L, 'm2', 2.0D), (40L, 'm40', 40.0D) AS s(id, name, score)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(Snapshot.latest(spark, dir).op == "merge")
    assertStatsMatchFiles(dir, "SQL MERGE")
  }

  test("a writeStream.toTable epoch after a rename carries the renamed column's stats and bloom") {
    val dir = catalogTable("s")
    Snapshot.renameColumn(spark, dir, "name", "label")
    val src = s"${tmp()}/src"
    rows(50, 59, "s").toDF("id", "label", "score").write.parquet(src)
    val q = spark.readStream.schema("id BIGINT, label STRING, score DOUBLE").parquet(src)
      .writeStream.option("checkpointLocation", s"${tmp()}/ck")
      .toTable("gstats.db.s")
    try q.processAllAvailable() finally q.stop()
    assert(Snapshot.latest(spark, dir).op == "append")
    assertStatsMatchFiles(dir, "toTable after a rename")
  }
}
