package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", 43L),
      (2L, "the quick brown fox jumps over the lazy dog", "en", 43L),  // exact dup of 1
      (3L, "the quick brown fox jumps over a lazy dog", "en", 41L),    // near dup of 1
      (4L, "completely different text about spark engines", "en", 45L),
      (5L, "THE  QUICK   brown fox jumps over the lazy dog", "en", 46L) // ws/case dup of 1
    ).toDF("doc_id", "text", "lang", "n_chars")
  }

  test("exact dedup groups canonical-equal docs, min-id survivor") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("survivor_id") -> r.getAs[Long]("n_copies")).toMap
    assert(out(1L) == 3L) // docs 1, 2, 5 share a canonical form
    assert(out(3L) == 1L)
    assert(out(4L) == 1L)
  }

  test("shingles yields distinct word n-grams, empty under n tokens") {
    import spark.implicits._
    val g = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "text")
      .select(col("id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("id"), Dedup.shingles(col("toks"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[String]]("g").toSeq).toMap
    assert(g(1L) == Seq("a b c", "b c d"))
    assert(g(2L) == Seq.empty)
  }

  test("ngram Jaccard finds the near pair, honors blocking") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", "n_chars",
      lenBand = 10, n = 3, minJaccard = 0.2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) >= 0.4)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ngramJaccardPairs leaves no cached frame behind") {
    spark.catalog.clearCache()
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", "n_chars", lenBand = 10).count()
    assert(spark.sharedState.cacheManager.isEmpty, "the gram frame stayed cached")
  }

  test("minhash LSH candidates include true near-dups, dedup keeps min-id survivor") {
    val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(cand.contains((1L, 2L)))
    val surv = Dedup.minhashDedupSurvivors(docs, "doc_id", "text", minJaccard = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv.contains(1L) && !surv.contains(2L) && !surv.contains(5L))
    assert(surv.contains(4L))
  }

  test("minhashDedupSurvivors leaves no cached frame behind") {
    spark.catalog.clearCache()
    Dedup.minhashDedupSurvivors(docs, "doc_id", "text").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "the gram frame or the component labels stayed cached")
  }

  test("MinHash signature paths tokenize once per doc, same signatures as the verified path") {
    // a file scan, not a local relation: the optimizer would evaluate
    // the tokenizer of a local relation away
    val dir = java.nio.file.Files.createTempDirectory("graft-minhash").toString
    docs.write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    def splits(df: org.apache.spark.sql.DataFrame): Int =
      "split\\(".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(splits(Dedup.minhashSignatures(in, "doc_id", "text")) === 1)
    assert(splits(Dedup.bandedSignatures(in, "doc_id", "text")) === 1)
    assert(splits(Dedup.minhashLshCandidates(in, "doc_id", "text")) === 1)
    // the verified path signs a persisted gram frame
    val (_, banded) = Dedup.minhashPairsAndBandedSigs(in, "doc_id", "text",
      minJaccard = 0.8, numPerm = 64, bands = 16, n = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(Dedup.bandedSignatures(in, "doc_id", "text")) === rows(banded))
  }

  test("weighted minhash: Σmin/Σmax verified exactly, set-equal ≠ weight-equal") {
    import spark.implicits._
    val wdocs = Seq(
      (1L, "spark spark spark shuffle"),            // {spark:3, shuffle:1}
      (2L, "spark spark spark shuffle join"),       // wj(1,2) = 4/5
      (6L, "spark shuffle"),                        // set-equal to 1, wj = 2/4
      (7L, "flink kafka streams state backend")     // disjoint
    ).toDF("doc_id", "text")
    val pairs = Dedup.wminhashVerifiedPairs(wdocs, "doc_id", "text",
        minWJaccard = 0.3, numPerm = 64, bands = 32)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("wj")).toMap
    assert(math.abs(pairs((1L, 2L)) - 0.8) < 1e-9)
    // plain (set) Jaccard of 1 vs 6 is 1.0; the weighted score is 0.5
    assert(math.abs(pairs((1L, 6L)) - 0.5) < 1e-9)
    assert(!pairs.keys.exists { case (a, b) => a == 7L || b == 7L })
  }

  test("boundary overlap: stitched shard tails match heads, unrelated docs don't") {
    import spark.implicits._
    val w = (1 to 40).map(i => s"w$i")
    val stitched = Seq(
      (1L, w.take(24).mkString(" ")),                 // ends with w17..w24
      (2L, (w.slice(16, 24) ++ w.drop(24)).mkString(" ")), // starts with w17..w24
      (3L, (41 to 80).map(i => s"v$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.boundaryOverlapPairs(stitched, "doc_id", "text", k = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)), s"expected exactly the stitched pair: $pairs")
  }

  test("simhash: identical text → identical hash; near text → small hamming") {
    val sig = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(sig(1L) == sig(2L))
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(3L)) < 16)
    val cand = Dedup.simhashCandidates(Dedup.simhash(docs, "doc_id", "text"), maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(cand.contains((1L, 2L)))
  }

  test("embedding near-dup pairs respect the blocking column and threshold") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "a"),
      (2L, Array(0.999f, 0.01f, 0.0f), "a"),
      (3L, Array(0.0f, 1.0f, 0.0f), "a"),
      (4L, Array(1.0f, 0.0f, 0.001f), "b") // same direction as 1 but other block
    ).toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", "label", 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("stop-gram guard bounds candidates on a hot-gram corpus") {
    import spark.implicits._
    // every doc shares a boilerplate header (hot grams); tails are unique
    val n = 80
    val hotDocs = (1 to n).map { i =>
      val unique = (0 until 6).map(j => s"tok${i}x$j").mkString(" ")
      (i.toLong, s"shared boilerplate header across every document $unique", "en", 60L)
    }.toDF("doc_id", "text", "lang", "n_chars")
    // guard off: each of the n·(n-1)/2 pairs shares the hot grams —
    // the quadratic blowup the guard exists to stop
    val unguarded = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text", "lang", "n_chars",
      lenBand = 1000, n = 3, minJaccard = 0.0, maxGramDf = 0L).count()
    assert(unguarded == n.toLong * (n - 1) / 2)
    // guard on (df > 5 ⇒ the boilerplate grams are stop-grams): the
    // candidate space collapses to the truly-similar pairs — none here
    val guarded = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text", "lang", "n_chars",
      lenBand = 1000, n = 3, minJaccard = 0.0, maxGramDf = 5L).count()
    assert(guarded == 0L)
  }

  test("embedding LSH blocking recalls ≥90% of exact cosine near-dup pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Float]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val base = (1 to 120).map(i => (i.toLong, unit(Array.fill(64)(rnd.nextGaussian().toFloat))))
    // 40 perturbed near-dups at cos ≈ 0.97
    val dups = base.take(40).map { case (i, v) =>
      (i + 1000L, unit(v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding").withColumn("one", lit(1))
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", "one", 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(exact.size >= 30, s"expected a meaningful ground-truth set, got ${exact.size}")
    val lsh = Dedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", dim = 64, minCos = 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(lsh.subsetOf(exact), "cosine verification makes precision exact")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 floor (${lsh.size}/${exact.size})")
  }

  test("semantic (k-means cell) blocking recalls ≥80% of exact cosine near-dup pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    def unit(v: Array[Float]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val base = (1 to 120).map(i => (i.toLong, unit(Array.fill(64)(rnd.nextGaussian().toFloat))))
    val dups = base.take(40).map { case (i, v) =>
      (i + 1000L, unit(v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding").withColumn("one", lit(1))
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", "one", 0.95)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(exact.size >= 30, s"expected a meaningful ground-truth set, got ${exact.size}")
    val sem = Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
      dim = 64, minCos = 0.95, nCells = 8, sampleN = 160)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(sem.subsetOf(exact), "cosine verification makes precision exact")
    val recall = sem.size.toDouble / exact.size
    assert(recall >= 0.8, s"semantic recall $recall below 0.8 floor (${sem.size}/${exact.size})")
  }

  test("connectedComponents: chains collapse to min-id clusters") {
    import spark.implicits._
    // components: {1,2,3,4} via chain, {10,11}, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents and survivorsByCluster are no-ops on a pair-free corpus") {
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(noPairs).collect().isEmpty)
    val out = Dedup.survivorsByCluster(docs, "doc_id", noPairs)
    assert(out.count() == docs.count(), "no pairs => every doc survives")
  }

  test("survivorsByCluster keeps one doc per component, docs without pairs untouched") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 5L)).toDF("id_a", "id_b")
    val surv = Dedup.survivorsByCluster(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 3L, 4L)) // 2 and 5 fold into cluster 1
  }

  test("editDistancePairs: blocked levenshtein with length lower-bound prefilter") {
    import spark.implicits._
    val items = Seq(
      (1L, "red widget", "B1"),
      (2L, "red wadget", "B1"),   // dist 1, same block
      (3L, "red widget", "B2"),   // identical text, DIFFERENT block → no pair
      (4L, "blue widget", "B1"),  // dist 2 from "red widget" ("r"->"b", +"l"... actually 3)
      (5L, "red widgets", "B1"))  // dist 1 (one insert)
      .toDF("id", "name", "blk")
    val pairs = Dedup.editDistancePairs(items, "id", "name", "blk", maxDist = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("dist"))).toSet
    assert(pairs.contains((1L, 2L, 1L)))
    assert(pairs.contains((1L, 5L, 1L)))
    assert(pairs.contains((2L, 5L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "cross-block pairs must not appear")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "dist>maxDist pairs must not appear")
  }

  test("rolling fingerprint is order-sensitive where md5-canonical is not") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("id", "text")
      .select(col("id"),
        TextAnalysis.fingerprintRolling(col("text")).as("roll"),
        TextAnalysis.fingerprintMd5(col("text")).as("m"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val Array(a, b) = rows.sortBy(_._1)
    assert(a._2 != b._2)
    assert(a._3 != b._3)
  }

  test("lineDedup: repeated boilerplate lines survive only at first occurrence, order kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "COOKIE NOTICE\nFirst unique paragraph here.\nShared footer text."),
      (2L, "cookie notice\nSecond unique paragraph here.\nShared footer text."),
      (3L, "Shared footer text.\n\nThird unique paragraph here."),
      (4L, "cookie notice")   // everything a repeat → empty text, row kept
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 4)
    // doc 1 keeps all three (first occurrences), case of the keeper wins
    assert(out(1L) == "COOKIE NOTICE\nFirst unique paragraph here.\nShared footer text.")
    // doc 2 loses the case-insensitive notice repeat and the footer
    assert(out(2L) == "Second unique paragraph here.")
    // doc 3: footer already seen at (1, pos 2); blank line dropped
    assert(out(3L) == "Third unique paragraph here.")
    assert(out(4L) == "")
  }

  test("lineDedup is idempotent on the real corpus (fixed point after one pass)") {
    val docs = Tables(spark, sf("documents"), "documents").select("doc_id", "text")
    val once  = Dedup.lineDedup(docs, "doc_id", "text")
    val twice = Dedup.lineDedup(once, "doc_id", "text")
    assert(once.count() == docs.count())
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty,
      "a second pass must change nothing — every surviving line is already a first occurrence")
  }

  test("lineDedup: a line shared by most docs (hot key) keeps exactly its first occurrence") {
    import spark.implicits._
    // The operator's target workload: one boilerplate line on nearly
    // every page. The partial-agg form must keep it only at the lowest
    // (doc, pos) and leave every doc's unique line untouched.
    val docs = (1L to 200L).map { i =>
      if (i % 2 == 0) (i, s"NAV BAR BOILERPLATE\nunique paragraph $i")
      else (i, s"unique paragraph $i\nNAV BAR BOILERPLATE")
    }.toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 200)
    // doc 1 has the boilerplate at pos 1 (after its unique line); doc 2
    // has it at pos 0 — first occurrence is (1, pos 1), so doc 1 keeps it.
    assert(out(1L) == "unique paragraph 1\nNAV BAR BOILERPLATE")
    (2L to 200L).foreach { i =>
      assert(out(i) == s"unique paragraph $i", s"doc $i should keep only its unique line")
    }
  }

  test("prefixJaccardPairs: exact result equals brute force, blocked, integer threshold") {
    import spark.implicits._
    def wordSet(t: String): Set[String] =
      t.toLowerCase.split("[^a-z]+").filter(_.length >= 2).toSet
    val texts = Seq(
      1L -> ("alpha beta gamma delta epsilon zeta", "b1"),
      2L -> ("alpha beta gamma delta epsilon eta", "b1"),   // 5/7 with doc 1
      3L -> ("alpha beta gamma delta epsilon zeta", "b1"),  // identical to doc 1
      4L -> ("alpha beta gamma delta epsilon zeta", "b2"),  // identical but other block
      5L -> ("totally different words here now", "b1"))
    val docs = texts.map { case (i, (t, b)) => (i, t, b) }.toDF("doc_id", "text", "blk")
    val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", "blk", 4L, 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force within blocks at the same integer threshold
    val expect = (for {
      (a, (ta, ba)) <- texts; (b, (tb, bb)) <- texts
      if a < b && ba == bb
      sa = wordSet(ta); sb = wordSet(tb)
      c = (sa & sb).size; u = sa.size + sb.size - c
      if 5L * c >= 4L * u
    } yield (a, b) -> math.rint(c.toDouble / u * 1e6) / 1e6).toMap
    assert(got === expect)
    assert(got.contains((1L, 3L)) && !got.contains((1L, 4L))) // block respected
  }
}
