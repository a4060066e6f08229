package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measured precision/recall of the near-dup family against PLANTED ground
  * truth — the dedup analog of the retrieval-quality harness: "the method
  * runs" becomes "the method finds X% of real near-dups at Y% precision"
  * on a corpus where truth is known by construction.
  *
  * Fixture: 10 groups of 4 near-duplicate variants (same 60-token base,
  * every 15th token substituted per variant — ~4 token edits, the
  * paraphrase-ish regime LSH dedup is built for) + 160 unrelated word-soup
  * distractors. Truth = the 10 × C(4,2) = 60 within-group pairs.
  */
class DedupQualitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val vocab: IndexedSeq[String] = {
    val syll = IndexedSeq("ka", "ro", "mi", "ta", "lu", "ne", "so", "vi",
      "ze", "pa", "du", "fe")
    for (a <- syll; b <- syll) yield a + b
  }
  private def word(h: Long): String = vocab((h % vocab.size).toInt.abs)
  private def mix(x: Long): Long = {
    var h = x * 0x9e3779b97f4a7c15L
    h ^= (h >>> 32); h * 0xbf58476d1ce4e5b9L
  }

  private lazy val dir: String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dedupq").toString
    val planted = for (g <- 0 until 10; v <- 0 until 4) yield {
      val toks = (0 until 60).map { p =>
        if (p % 15 == v) word(mix(g * 1000L + v * 100L + p))
        else word(mix(g * 77L + p))
      }
      ((g * 4 + v).toLong, toks.mkString(" "))
    }
    val distractors = (40 until 200).map { i =>
      (i.toLong, (0 until 60).map(p => word(mix(i * 7919L + p * 31L)))
        .mkString(" "))
    }
    (planted ++ distractors)
      // source varies per GROUP (not per variant): ngram-Jaccard blocks on
      // (lang, source), and real near-dups live inside a crawl source
      .map { case (id, text) =>
        (id, "en", s"src${(id / 4) % 4}", text, text.length.toLong) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private val truth: Set[(Long, Long)] =
    (for (g <- 0 until 10; a <- 0 until 4; b <- (a + 1) until 4)
      yield ((g * 4 + a).toLong, (g * 4 + b).toLong)).toSet

  private def score(name: String, found: Set[(Long, Long)])
      : (Double, Double) = {
    val tp = (found & truth).size.toDouble
    val recall = tp / truth.size
    val precision = if (found.isEmpty) 0.0 else tp / found.size
    info(f"$name%-14s recall=$recall%.3f precision=$precision%.3f " +
      f"(found ${found.size})")
    (recall, precision)
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash-LSH finds planted near-dups with high precision") {
    val (r, p) = score("minhash-lsh",
      pairsOf(Dedup.minhashLshPairs(spark, dir)))
    assert(r >= 0.9, s"recall $r")
    assert(p >= 0.95, s"precision $p")
  }

  test("ngram-Jaccard: threshold trades recall, never precision") {
    // at the default 0.5 the worst variant pairs (two DIFFERENT edit
    // positions -> ~24 of ~58 shingles differ, J ~ 0.4) legitimately fall
    // under the bar — the honest cost of a strict threshold; loosening to
    // 0.4 recovers them without admitting any distractor pair
    val (r5, p5) = score("ngram@0.5",
      pairsOf(Dedup.ngramJaccardPairs(spark, dir)))
    assert(r5 >= 0.8 && p5 >= 0.95, s"recall $r5 precision $p5")
    val (r4, p4) = score("ngram@0.4",
      pairsOf(Dedup.ngramJaccardPairs(spark, dir, threshold = 0.4)))
    assert(r4 >= 0.95, s"recall $r4")
    assert(p4 >= 0.95, s"precision $p4")
    assert(r4 > r5, "looser threshold must strictly add recall here")
  }

  test("ngram-Jaccard: the hot-shingle split at cutoff 2 returns the " +
    "default cutoff's rows bitwise") {
    // each planted group shares most shingles across its 4 variants, so at
    // cutoff 2 those shingles (df 3-4) take the two-level bucket-pair path
    // that the default cutoff (1024) never reaches at this size
    def rows(df: org.apache.spark.sql.DataFrame) =
      try df.collect().toSeq finally graft.functions.releaseCheckpoint(df)
    val default = rows(Dedup.ngramJaccardPairs(spark, dir))
    val split = rows(Dedup.ngramJaccardPairs(spark, dir, hotShingleCutoff = 2))
    assert(default.nonEmpty)
    assert(split == default)
  }

  test("winnowing finds planted near-dups; distractors stay below minShared") {
    val (r, p) = score("winnowing",
      pairsOf(Dedup.winnowingPairs(spark, dir)))
    assert(r >= 0.9, s"recall $r")
    assert(p >= 0.9, s"precision $p")
  }

  test("containment flags the near-identical variants") {
    val (r, p) = score("containment",
      pairsOf(Dedup.containmentPairs(spark, dir)))
    assert(r >= 0.9, s"recall $r")
    assert(p >= 0.9, s"precision $p")
  }

  test("lsh families: transitive closure merges the chain A~B~C into one " +
    "family even though A and C pair below threshold") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lshcc").toString
    // 40 distinct base tokens; B changes 3 spaced positions from A, C
    // changes 4 MORE from B — so A-B and B-C kill 9 shingles each
    // (J = 29/47 = 0.62) but A-C kills 21 (J = 17/59 = 0.29 < 0.3): the
    // pair detector must link A-B and B-C only, and the family op must
    // place all three in one family via transitivity.
    val a = (0 until 40).map(i => s"w$i")
    val b = a.updated(10, "bxa").updated(20, "bxb").updated(30, "bxc")
    val c = b.updated(5, "cxa").updated(15, "cxb").updated(25, "cxc")
      .updated(35, "cxd")
    val uniq = (0 until 40).map(i => s"zq$i")
    Seq((1L, a), (2L, b), (3L, c), (4L, uniq))
      .map { case (id, ts) =>
        (id, "en", "src0", ts.mkString(" "), ts.mkString(" ").length.toLong) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = pairsOf(Dedup.minhashLshPairs(spark, tmp))
    assert(pairs((1L, 2L)) && pairs((2L, 3L)), s"chain pairs missing: $pairs")
    assert(!pairs((1L, 3L)),
      s"A-C must be below threshold so only transitivity links them: $pairs")
    val fams = Dedup.minhashLshFamilies(spark, tmp).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("family"),
        r.getAs[Long]("family_size"), r.getAs[Boolean]("is_keeper")))
    assert(fams.map(_._1).toSet == Set(1L, 2L, 3L),
      s"unique doc 4 stays out: ${fams.toSeq}")
    assert(fams.forall(f => f._2 == 1L && f._3 == 3L), s"${fams.toSeq}")
    assert(fams.collect { case (id, _, _, true) => id }.toSeq == Seq(1L),
      "keeper = min member only")
  }

  test("lsh families: planted mega-family — groupBy+join family_size is " +
    "bitwise-identical to the window form and sizes the whole component") {
    import spark.implicits._
    // The 100 TB failure shape in miniature: ONE family with 5000 twins
    // (star pair graph around doc 0) plus a detached 3-chain. The shipped
    // groupBy(component).count()+join form must agree bitwise with the
    // count().over(partitionBy(component)) form it replaced; the skew
    // difference at 100k members is measured in PipelineScaleProbe's
    // lshfam arms (the window funnels the family through one task).
    val mega = (1L to 5000L).map(i => (0L, i))
    val chain = Seq((9001L, 9002L), (9002L, 9003L))
    val pairs = (mega ++ chain).toDF("src", "dst")
    val got = Dedup.familiesFromPairs(pairs)
    val window = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
    val vertices = pairs.select(col("src").as("id"))
      .unionByName(pairs.select(col("dst").as("id"))).distinct()
    val old = graft.domain.Consolidation.connectedComponents(vertices, pairs)
      .withColumn("family_size", count(lit(1)).over(window))
      .select(col("id").as("doc_id"), col("component").as("family"),
        col("family_size"), (col("id") === col("component")).as("is_keeper"))
    assert(got.exceptAll(old).isEmpty && old.exceptAll(got).isEmpty,
      "groupBy+join form must be bitwise-identical to the window form")
    val rows = got.collect()
    assert(rows.count(_.getAs[Long]("family") == 0L) == 5001)
    assert(rows.filter(_.getAs[Long]("family") == 0L)
      .forall(_.getAs[Long]("family_size") == 5001L))
    assert(rows.filter(_.getAs[Long]("family") == 9001L)
      .forall(_.getAs[Long]("family_size") == 3L))
    assert(rows.filter(_.getAs[Boolean]("is_keeper"))
      .map(_.getAs[Long]("doc_id")).toSet == Set(0L, 9001L))
  }

  test("exact-substring APPLY: first corpus occurrence keeps its text, " +
    "later twins lose the duplicated run, hashed form is identical (r13)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("xsubap").toString
    // doc 1: unique prefix + a 10-token run; doc 2: different prefix +
    // the SAME run (later -> loses it); doc 3: fully unique (unchanged)
    val run = (0 until 10).map(i => s"dup$i")
    val d1 = (0 until 5).map(i => s"a$i") ++ run
    val d2 = (0 until 5).map(i => s"b$i") ++ run
    val d3 = (0 until 15).map(i => s"c$i")
    Seq((1L, d1), (2L, d2), (3L, d3))
      .map { case (id, ts) =>
        (id, "en", "src0", ts.mkString(" "), ts.mkString(" ").length.toLong) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.substringDedupApply(spark, tmp, n = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("kept_tokens"), r.getAs[String]("text_dedup")))).toMap
    assert(out(1L) == ((15L, d1.mkString(" "))),
      s"first occurrence keeps everything: ${out(1L)}")
    // doc 2's duplicated-gram starts are run positions 0..2 (8-grams fit
    // at offsets 5..7 of a 15-token doc) -> merged span covers the whole
    // 10-token run
    assert(out(2L) == ((5L, (0 until 5).map(i => s"b$i").mkString(" "))),
      s"later twin must lose the duplicated run: ${out(2L)}")
    assert(out(3L) == ((15L, d3.mkString(" "))), s"unique doc: ${out(3L)}")
    // hashed form is result-identical by construction
    val hashed = Dedup.substringDedupApply(spark, tmp, n = 8, hashed = true)
    val strForm = Dedup.substringDedupApply(spark, tmp, n = 8)
    assert(hashed.exceptAll(strForm).isEmpty &&
      strForm.exceptAll(hashed).isEmpty)
  }

  test("softdedup: duplicated content is downweighted, rare content " +
    "upweighted, and the normalized weights conserve mass") {
    import spark.implicits._
    // Doc 1 repeated verbatim 5x (ids 1-5) — its shingles are 5x more
    // common than the two singleton docs' -> higher (less negative)
    // log-commonness, smaller weight. Doc 7 is a 2-token doc: no
    // shingles, neutral weight exactly 1.0 before normalization.
    val dup = "ka ro mi ta lu ne so vi ze pa"
    val uniqA = "du fe kadu rofe mita lune sovi zepa dufe karo"
    val uniqB = "tami nelu viso paze fedu roka mife talu nevi zapa"
    val docs = ((1L to 5L).map(i => (i, dup)) ++
      Seq((6L, uniqA), (7L, "du fe"), (8L, uniqB)))
      .toDF("doc_id", "text")
    val res = Dedup.softDedupWeights(docs, sharpness = 0.25).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(res.size == 8)
    // duplicated docs share identical stats
    val (mDup, logcDup, wDup, _) = res(1L)
    (2L to 5L).foreach(i => assert(res(i) == res(1L), s"twins differ: $res"))
    assert(mDup == 8, "10 tokens -> 8 3-gram occurrences")
    // commonness ordering: dup docs more common than unique docs
    assert(logcDup > res(6L)._2 && logcDup > res(8L)._2,
      s"dup content must be more common: $res")
    assert(wDup < res(6L)._3 && wDup < res(8L)._3,
      s"dup content must weigh less: $res")
    // the shingle-free doc is exactly neutral pre-normalization
    assert(res(7L)._1 == 0L && res(7L)._2 == 0.0 && res(7L)._3 == 1.0,
      s"short doc must be neutral: ${res(7L)}")
    // normalization conserves mass: mean norm_weight ~ 1
    val meanNorm = res.values.map(_._4).sum / res.size
    assert(math.abs(meanNorm - 1.0) < 1e-3, s"mass not conserved: $meanNorm")
  }

  test("dup-rate by source: the two-frame overload composed with the " +
    "span detector equals the one-call oracle form, and accepts the " +
    "paper-point hashed n=50 frame") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val oneCall = graft.operators.Dedup
      .dupRateBySource(spark, "/root/testdata/sf0.001", n = 8)
      .collect().toSeq
    val composed = graft.operators.Dedup.dupRateBySource(
      graft.operators.Dedup.substringDupSpansDf(docs, 8, hashed = false),
      docs).collect().toSeq
    assert(oneCall.nonEmpty && composed == oneCall)
    // the at-scale path: hashed n=50 spans through the same aggregation —
    // all sources present, accounting conserved against the corpus
    val paper = graft.operators.Dedup.dupRateBySource(
      graft.operators.Dedup.substringDupSpansPaper(docs), docs).collect()
    assert(paper.map(_.getAs[String]("source")).toSet ==
      oneCall.map(_.getAs[String]("source")).toSet)
    assert(paper.map(_.getAs[Long]("n_docs")).sum == docs.count())
    paper.foreach { r =>
      assert(r.getAs[Long]("dup_tokens") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("docs_with_dups") <= r.getAs[Long]("n_docs"))
    }
  }
}
