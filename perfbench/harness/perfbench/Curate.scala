package perfbench

import graft.operators.{Clean, Curation, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** dedup_curate: one full curation pass per round over a generated
  * corpus: `Clean.requireFields` → `Dedup.exact` survivors →
  * `Dedup.minhashDedupSurvivors` → `Curation.decontaminate` against an
  * eval set → `Curation.mixtureSample`, materialized through the noop
  * sink.
  */
final class Curate(spark: SparkSession, inputs: String) extends Workload {
  private val docSchema = StructType.fromDDL("doc_id BIGINT, source STRING, text STRING")
  private var docs, evalDocs: DataFrame = _
  private var attempts, failures0 = 0L
  private val failed_ = scala.collection.mutable.ArrayBuffer[String]()

  /** The JIT settles over the first warm passes (measured: 4.7, 4.7 s,
    * then about 3.3 s).
    */
  override def warmupRounds: Int = 2

  def attempted: Long = attempts
  def failed: Long = failures0
  def failures: Seq[String] = failed_.toSeq

  /** Per-source mixture rates; the checks know them too. */
  private val rates = Map("web" -> 0.5, "code" -> 0.8, "books" -> 1.0, "wiki" -> 1.0)

  /** Read and spread the corpus by id (as `Tables` spreads `documents`).
    * An eager local checkpoint, not a cache entry: every pass ends by
    * clearing the session cache, and the input must survive that.
    */
  def load(): Unit = {
    def read(name: String) = spark.read.schema(docSchema).json(s"$inputs/dedup/$name")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint(true)
    docs = read("corpus")
    evalDocs = read("eval")
  }

  private def exactSurvivors(d: DataFrame): DataFrame = {
    val clean = Clean.requireFields(d, Seq("text", "source"))
    clean.join(Dedup.exact(clean, "doc_id", "text").select(col("survivor_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
  }

  private def curated(d: DataFrame): DataFrame =
    Curation.mixtureSample(
      Curation.decontaminate(
        Dedup.minhashDedupSurvivors(exactSurvivors(d), "doc_id", "text"),
        evalDocs, "doc_id", "text"),
      "source", "doc_id", rates)

  private def noop(d: DataFrame): Unit = d.write.format("noop").mode("overwrite").save()

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, Main.secs(t0))
  }

  def round(i: Int): Map[String, Double] = {
    attempts += 1
    try noop(curated(docs))
    catch { case e: Throwable => failures0 += 1; failed_ += s"curation pass: ${e.getMessage}" }
    Map.empty
  }

  def afterRound(i: Int, traced: Boolean): Map[String, Double] = {
    // MinHash dedup leaves its gram frame cached; drop it so every pass
    // is a full pass
    spark.catalog.clearCache()
    if (!traced) Map.empty
    else {
      // named intermediate frames, each materialized from the exact
      // survivors (so each time includes the frames it is built on)
      val ex = exactSurvivors(docs).localCheckpoint(true)
      val (_, exactS) = timed(noop(exactSurvivors(docs)))
      val (_, sigS) = timed(noop(Dedup.minhashSignatures(ex, "doc_id", "text")))
      val (cand, candS) = timed(Dedup.minhashLshCandidates(ex, "doc_id", "text").count())
      val (verified, verS) = timed(
        Dedup.minhashVerifiedPairs(ex, "doc_id", "text").localCheckpoint(true))
      val nVerified = verified.count()
      val (_, ccS) = timed(Dedup.connectedComponents(verified).count())
      spark.catalog.clearCache()
      Map(
        "operators.dedup.exact_s" -> exactS,
        "operators.dedup.signatures_s" -> sigS,
        "operators.dedup.candidates_s" -> candS,
        "operators.dedup.verify_s" -> verS,
        "operators.dedup.components_s" -> ccS,
        "operators.dedup.candidate_pairs" -> cand.toDouble,
        "operators.dedup.verified_pairs" -> nVerified.toDouble,
        "operators.dedup.verified_per_candidate" -> nVerified.toDouble / math.max(cand, 1L))
    }
  }

  def observe(): Map[String, Any] = {
    def ids(d: DataFrame): Seq[Long] = d.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    val clean = Clean.requireFields(docs, Seq("text", "source"))
    val exact = exactSurvivors(docs).localCheckpoint(true)
    val near = Dedup.minhashDedupSurvivors(exact, "doc_id", "text").localCheckpoint(true)
    val decon = Curation.decontaminate(near, evalDocs, "doc_id", "text").localCheckpoint(true)
    val sample = Curation.mixtureSample(decon, "source", "doc_id", rates)
    val out = Map(
      "input" -> docs.count(),
      "clean" -> ids(clean),
      "exact" -> ids(exact),
      "near" -> ids(near),
      "decontaminated" -> ids(decon),
      "sample" -> ids(sample),
      "rates" -> rates,
      // dedup again on its own output must remove nothing: MinHash
      // dedup removes only members of verified pairs, so it must find none
      "pairs_again" -> Dedup.minhashVerifiedPairs(near, "doc_id", "text").count(),
      "exact_again" -> Dedup.exact(near, "doc_id", "text").count())
    spark.catalog.clearCache()
    out
  }
}
