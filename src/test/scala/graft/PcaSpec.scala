package graft

import graft.operators.Pca
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Covariance + Jacobi PCA: hand-computable fixtures, eigen properties,
  * and the no-shuffle projection plan.
  */
class PcaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def df(rows: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.map { case (id, e) => (id, e.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
  }

  test("covariance matches the hand-computed population matrix") {
    // points (0,0),(2,0),(0,2),(2,2): var_x = var_y = 1, cov_xy = 0
    val vecs = df(Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(2.0, 0.0)),
      (2L, Seq(0.0, 2.0)), (3L, Seq(2.0, 2.0))))
    val cov = Pca.covariance(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cov == Map((0L, 0L) -> 1.0, (0L, 1L) -> 0.0, (1L, 1L) -> 1.0),
      s"got $cov")
  }

  test("jacobi eigen recovers a known decomposition") {
    // [[2,1],[1,2]] -> eigenvalues 3 (vector (1,1)/√2) and 1 ((1,-1)/√2)
    val (vals, vecs) = Pca.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 && math.abs(vals(1) - 1.0) < 1e-12,
      s"got ${vals.toSeq}")
    val v0 = vecs(0)
    assert(math.abs(math.abs(v0(0)) - math.sqrt(0.5)) < 1e-12 &&
      math.abs(v0(0) - v0(1)) < 1e-12, s"got ${v0.toSeq}")
  }

  test("fit finds the dominant direction of an anisotropic cloud") {
    // points spread along (1,1): the top component must align with it and
    // carry (nearly) all the variance
    val pts = (-5 to 5).map(t => (t + 5L, Seq(t.toDouble, t.toDouble + 0.01 * t)))
    val (vals, comps) = Pca.fit(df(pts))
    val ratio = Pca.explainedVariance(vals, 1).head
    assert(ratio > 0.99, s"top component should dominate: $ratio")
    val c = comps(0)
    assert(math.abs(math.abs(c(0)) - math.abs(c(1))) < 0.02,
      s"component should be diagonal-ish: ${c.toSeq}")
  }

  test("projection onto all components preserves pairwise distances") {
    val vecs = df((0 until 20).map(i =>
      (i.toLong, graft.domain.PlaceholderEmbedding.embed(s"p $i")
        .map(_.toDouble).toSeq)))
    val (_, comps) = Pca.fit(vecs)
    val proj = Pca.project(vecs, comps.map(_.toSeq).toSeq)
      .select("vec_id", "projected").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val orig = vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (i <- 0L until 5L; j <- (i + 1) until 5L) {
      val before = d2(orig(i), orig(j))
      val after = d2(proj(i), proj(j))
      assert(math.abs(before - after) < 1e-6,
        s"full-rank rotation must be an isometry: ($i,$j) $before vs $after")
    }
  }

  test("fast per-partition covariance is round4-identical to the declarative one") {
    // 130 partitions exceed Pca.CovMergeGroup (64): the grouped pre-merge
    for (parts <- Seq(7, 130)) {
      val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select(col("vec_id"), col("embedding")).repartition(parts)
      val slow = Pca.covariance(vecs).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val fast = Pca.covarianceFast(vecs).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(fast.keySet == slow.keySet, s"$parts partitions")
      val diffs = fast.collect { case (k, v) if v != slow(k) => (k, v, slow(k)) }
      assert(diffs.isEmpty, s"$parts partitions, divergent entries: ${diffs.take(5)}")
    }
  }

  test("projection plan is a single projection — no join, no shuffle") {
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val comps = Seq.fill(4)(Seq.fill(64)(0.1))
    val plan = Pca.project(vecs, comps).queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"projection must be join/shuffle-free:\n$plan")
  }
}
