package graft.domain

import java.sql.Timestamp

import graft.functions.VectorFunctions.{cosineSim, signBucket, signBucketAt}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Consolidation jobs C1-C4 over the real memories/edges relations
  * (SURVEY.md §2.11, `/root/reference/consolidation.py`). Each mode is an
  * independent batch job; the reference's scheduler is external orchestration.
  */
object Consolidation {

  /** C1 decay (`consolidation.py:227-282`, job `:1023-1115`):
    * relevance = min(1, exp(-0.01 * age_days)
    *                  * (0.3 + 0.3 * access_factor)
    *                  * (1 + 0.3 * log1p(rel_count))
    *                  * (0.5 + importance)
    *                  * (0.7 + 0.3 * confidence)),
    * floored at importance * 0.3. access_factor = 1.0 for same-day access,
    * else exp(-0.05 * days_since_access) (`consolidation.py:256-257`); age
    * and access deltas clamp at 0. The per-id relationship count (A9) is one
    * groupBy over edges — the reference's hourly lru_cache disappears in
    * batch.
    */
  def decay(memories: DataFrame, edges: DataFrame, now: Timestamp): DataFrame = {
    val relCounts = edges.select(col("src").as("id"), col("dst"))
      .unionByName(edges.select(col("dst").as("id"), col("src").as("dst")))
      .groupBy(col("id")).agg(countDistinct(col("dst")).as("rel_count"))
    val nowS = unix_timestamp(lit(now))
    val ageDays = greatest(lit(0.0),
      (nowS - unix_timestamp(col("timestamp"))) / 86400.0)
    val accessDays = greatest(lit(0.0), (nowS - unix_timestamp(
      coalesce(col("last_accessed"), col("timestamp")))) / 86400.0)
    // same-day access keeps full reinforcement; otherwise exp decay at 0.05/d
    val accessFactor = when(accessDays < 1, lit(1.0))
      .otherwise(exp(accessDays * -0.05))
    val rel = least(lit(1.0),
      exp(ageDays * -0.01) *
        (lit(0.3) + lit(0.3) * accessFactor) *
        (lit(1.0) + lit(0.3) * log1p(coalesce(col("rel_count"), lit(0L)).cast("double"))) *
        (lit(0.5) + col("importance")) *
        (lit(0.7) + lit(0.3) * col("confidence")))
    memories.join(relCounts, Seq("id"), "left")
      .withColumn("relevance_score", greatest(col("importance") * 0.3, rel))
      .drop("rel_count")
  }

  /** C4 forgetting (`consolidation.py:619-818`; protections `:284-332`):
    * protect if explicitly flagged, importance >= 0.7, younger than the 90-day
    * grace window, or type in {Decision, Insight}; otherwise archive/delete
    * below thresholds. Returns the memories with a `fate` column; callers
    * partition the writes (Delta DELETE / UPDATE archived=true).
    */
  def forget(memories: DataFrame, edges: DataFrame, now: Timestamp,
      deleteBelow: Double = 0.05, archiveBelow: Double = 0.2,
      graceDays: Int = 90): DataFrame = {
    val scored = decay(memories, edges, now)
    val ageDays = (unix_timestamp(lit(now)) - unix_timestamp(col("timestamp"))) / 86400.0
    scored.withColumn("protected_now",
        col("protected_flag") || col("importance") >= 0.7 ||
          ageDays < graceDays || col("type").isin("Decision", "Insight"))
      .withColumn("fate",
        when(col("protected_now"), "keep")
          .when(col("relevance_score") < deleteBelow, "delete")
          .when(col("relevance_score") < archiveBelow, "archive")
          .otherwise("keep"))
      .drop("protected_now")
  }

  /** C2 creative associations (`consolidation.py:334-455`): deterministic
    * FIXED-SIZE sample of relevant memories (the reference samples a
    * constant 20-30 rows at random, `consolidation.py:348`; we take the
    * `sampleSize` smallest hash values for reproducibility), all-pairs
    * cosine within the bounded sample, rule table -> DISCOVERED/CONTRADICTS
    * edges, skipping already-connected pairs.
    *
    * The sample MUST be constant in corpus size: the pair stage is a cross
    * join of the sample with itself, so a proportional sample (hash % k)
    * grows quadratically with the corpus — at 100x data a ~50k-row sample
    * becomes a 1.3B-pair product. `orderBy(hash).limit(n)` plans as
    * TakeOrderedAndProject (per-partition top-n, no global sort) and keeps
    * the cross join O(n^2) with n fixed at ~30 forever.
    */
  def creativeAssociations(memories: DataFrame, edges: DataFrame,
      now: Timestamp, sampleSize: Int = 30): DataFrame = {
    val sample = memories
      .filter(col("relevance_score") > 0.3)
      .orderBy(abs(hash(col("id"))), col("id"))
      .limit(sampleSize)
      .select(col("id"), col("type"), col("embedding"), col("timestamp"))
    val a = sample.select(col("id").as("src"), col("type").as("a_type"),
      col("embedding").as("a_emb"), col("timestamp").as("a_ts"))
    val b = sample.select(col("id").as("dst"), col("type").as("b_type"),
      col("embedding").as("b_emb"), col("timestamp").as("b_ts"))
    val pairs = a.crossJoin(b).filter(col("src") < col("dst"))
      .withColumn("sim", cosineSim(col("a_emb"), col("b_emb")))
      .withColumn("dt_days",
        abs(unix_timestamp(col("a_ts")) - unix_timestamp(col("b_ts"))) / 86400.0)
    // the reference's if/elif chain (`consolidation.py:418-440`) —
    // faithfully including its TERMINAL branches: a Decision-Decision pair
    // either contrasts (sim < 0.3) or produces NOTHING (the branch ends the
    // chain, it never falls through to parallel_context); `explains`
    // requires the pair's type SET to equal {Insight, Pattern} (one of
    // each), not one side merely being one of them
    val bothDecision = col("a_type") === "Decision" && col("b_type") === "Decision"
    val insightPatternPair =
      (col("a_type") === "Insight" && col("b_type") === "Pattern") ||
        (col("a_type") === "Pattern" && col("b_type") === "Insight")
    val classified = pairs.withColumn("kind",
        when(bothDecision, when(col("sim") < 0.3, "contradicts"))
          .when(insightPatternPair && col("sim") > 0.5, "explains")
          .when(col("sim") > 0.7 && col("a_type") =!= col("b_type"), "shares_theme")
          .when(col("dt_days") < 7 && col("sim") < 0.4, "parallel_context"))
      .filter(col("kind").isNotNull)
    val existing = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    classified.join(existing, Seq("src", "dst"), "left_anti")
      .select(col("src"), col("dst"),
        when(col("kind") === "contradicts", "CONTRASTS_WITH")
          .otherwise("DISCOVERED").as("rel_type"),
        when(col("kind") === "contradicts", 0.6)
          .when(col("kind") === "explains", 0.7)
          // `consolidation.py:432`: shares_theme confidence = min(1, sim)
          .when(col("kind") === "shares_theme", least(lit(1.0), col("sim")))
          .otherwise(0.5).as("confidence"),
        col("sim").as("similarity"),
        col("kind"),
        lit("consolidation").as("origin"),
        lit(now).as("updated_at"))
  }

  /** Similarity graph for clustering: pairs with cosine >= threshold.
    * `exact=true` is the reference-parity O(n^2) over the filtered set;
    * `exact=false` is the 100 TB path: FOUR offset 10-bit sign bucketings
    * unioned band-OR style — a pair becomes a candidate if it agrees in ANY
    * band, so only same-band pairs co-shuffle while near-identical vectors
    * (the >= 0.75 regime) are caught even when a few signs flip. Candidate
    * pairs dedup on (src, dst) before the threshold filter.
    */
  def similarityEdges(memories: DataFrame, threshold: Double,
      exact: Boolean, roundSims: Boolean = false): DataFrame = {
    val base = memories.filter(col("relevance_score") > 0.3)
      .select(col("id"), col("embedding"))
    // rounding BEFORE the threshold compare makes the edge set (and so
    // the whole component structure) reproducible by an external engine
    def simCol(sim: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (roundSims) graft.functions.round4(sim) else sim
    def pairsWithin(keyed: DataFrame): DataFrame = {
      val a = keyed.select(col("b"), col("id").as("src"), col("embedding").as("a_emb"))
      val bb = keyed.select(col("b"), col("id").as("dst"), col("embedding").as("b_emb"))
      a.join(bb, Seq("b")).filter(col("src") < col("dst"))
        .withColumn("sim", simCol(cosineSim(col("a_emb"), col("b_emb"))))
        .select(col("src"), col("dst"), col("sim"))
    }
    // exact path pairs via crossJoin, NOT an equi-join on a constant key:
    // a constant join key hash-partitions every row to ONE task, serializing
    // the O(n^2) similarity pass; the nested-loop cross join parallelizes
    // over the left side's partitions
    val candidates =
      if (exact) {
        val a = base.select(col("id").as("src"), col("embedding").as("a_emb"))
        val bb = base.select(col("id").as("dst"), col("embedding").as("b_emb"))
        a.crossJoin(bb).filter(col("src") < col("dst"))
          .withColumn("sim", simCol(cosineSim(col("a_emb"), col("b_emb"))))
          .select(col("src"), col("dst"), col("sim"))
      }
      else
        // r19: the four bands ride ONE exploded relation (the bucket string
        // carries its band prefix) through ONE self-join instead of four
        // independent band pipelines — 8 scans / 4 joins collapse to 2 / 1
        // of the same total bytes (guide §2.4). Rows are identical: a
        // within-bucket pair of the exploded relation is exactly a
        // within-band pair, and the groupBy-max dedup is unchanged.
        pairsWithin(base.select(col("id"), col("embedding"),
          explode(array(Seq(0, 10, 20, 30).map(off =>
            concat_ws(":", lit(off.toString),
              signBucketAt(col("embedding"), 10, off))): _*)).as("b")))
          .groupBy(col("src"), col("dst"))
          .agg(max(col("sim")).as("sim"))
    candidates.filter(col("sim") >= threshold)
      .select(col("src"), col("dst"), col("sim"))
  }

  /** Connected components by iterative min-label propagation WITH pointer
    * jumping: each round (a) takes the min component over neighbors and (b)
    * path-halves (`component := component(component)`), so convergence takes
    * O(log diameter) rounds instead of O(diameter) — at any scale each round
    * is a bounded number of shuffles on the edge list, and the round count is
    * what multiplies job-scheduling + codegen overhead.
    *
    * The propagate step LOCAL-CHECKPOINTS each round (not cache): the
    * pointer-jump self-joins that frame, and a cached self-join was measured
    * recomputing the entire upstream lineage (including the similarity pass)
    * every round — plan canonicalization does not reliably hit the cache for
    * both sides of a self-join, while a checkpoint truncates the lineage so
    * recompute is impossible. (On a multi-node cluster prefer a reliable
    * checkpoint dir; localCheckpoint trades fault-tolerance for speed.)
    *
    * Known skew point, measured (PipelineScaleProbe lshfam arms, 100k-member
    * planted component): the pointer-jump join keys on the CURRENT label, so
    * once a mega-component converges, all its rows hash to one partition of
    * that join each round (32x max/mean task read with AQE off). Because it
    * is a JOIN — not a window — AQE's OptimizeSkewedJoin can split the
    * skewed probe-side partition at scale (the build side for a given label
    * is a single row, so replication is free); keep AQE on for production
    * CC runs. A window over the component key would have the same skew with
    * no runtime remedy, which is why family sizing downstream
    * ([[graft.operators.Dedup.familiesFromPairs]]) is an aggregate + join,
    * never a window.
    */
  def connectedComponents(vertices: DataFrame, simEdges: DataFrame,
      maxIter: Int = 15): DataFrame = {
    val sym = simEdges.select(col("src"), col("dst"))
      .unionByName(simEdges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    var labels = vertices.select(col("id"), col("id").as("component"))
    var prevCached: Option[DataFrame] = None
    var prevCheckpointed: Option[DataFrame] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
      // ONE job per round (r20, VERDICT r19 item 4; was two): the changed
      // count rides the eager checkpoint itself as an `observe` metric, so
      // the dedicated per-round count job disappears. Convergence tests
      // the PROPAGATE step only, which is equivalent to the old
      // propagate-or-jump test: if no neighbor-min lowered any label, then
      // for every symmetric edge (u,v) both component(u) >= component(v)
      // and component(v) >= component(u) hold — labels are CONSTANT on
      // every component and each component's label c carries
      // component(c) = c, so the pointer jump component(component) is the
      // identity and cannot change anything either.
      val obs = org.apache.spark.sql.Observation()
      val propagated = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(labels("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"),
          (coalesce(col("nbr_min"), col("component")) < col("component"))
            .as("_changed"))
        .observe(obs,
          sum(when(col("_changed"), 1L).otherwise(0L)).as("n_changed"))
        .localCheckpoint()
      // the new checkpoint is materialized (localCheckpoint is eager), so the
      // previous round's checkpointed blocks have no live consumer left
      // (its only reader, last round's cached labels frame, is superseded
      // below) — release them or executor storage grows linearly with rounds
      prevCheckpointed.foreach(releaseCheckpoint)
      prevCheckpointed = Some(propagated)
      // the checkpoint's internal materialization is the observed action,
      // but the SQL-execution-end event that carries the metric is posted
      // async on the listener bus — wait briefly on the observation's
      // future, and fall back to a count over the (now lineage-truncated,
      // tiny) checkpoint rather than blocking forever if the event never
      // lands (a null metric means zero rows flowed — the count also
      // returns 0 there, so the two paths agree). A missed wait costs one
      // extra job, so it is logged at WARN.
      val observed = scala.util.Try(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(2, "s"))).toOption
      val changed: Long = observed
        .flatMap(r => Option(r.getAs[Any]("n_changed")))
        .map(_.asInstanceOf[Number].longValue())
        .getOrElse {
          if (observed.isEmpty)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"connected components round ${iter + 1}: the changed-label " +
                "observation did not arrive within 2 s; counting the " +
                "checkpoint instead")
          propagated.filter(col("_changed")).limit(1).count()
        }
      converged = changed == 0
      if (!converged) {
        // pointer jump: labels only ever decrease toward the component min,
        // so component(component) <= component — adopt it unconditionally.
        // The join always matches (a component label is itself a vertex
        // id). The jump is LAZY now: its cache fills as a side effect of
        // the NEXT round's propagate job (its two consumers there share the
        // filled blocks), so no round pays a dedicated materialization job.
        // Lineage stays two joins deep (propagated is checkpointed).
        val ptr = propagated.select(col("id").as("pid"),
          col("component").as("pcomp"))
        val updated = propagated
          .join(ptr, propagated("component") === ptr("pid"), "left")
          .select(propagated("id"),
            coalesce(col("pcomp"), propagated("component")).as("component"))
          .cache()
        prevCached.foreach(_.unpersist())
        prevCached = Some(updated)
        labels = updated
      }
      // on convergence the propagate step changed nothing and the jump is
      // the identity (see above), so `labels` already holds the fixpoint
      iter += 1
    }
    sym.unpersist()
    // the final labels frame is cached and materialized; collapse it away
    // from the last checkpoint's blocks before releasing them
    val result = labels.select(col("id"), col("component")).localCheckpoint()
    prevCheckpointed.foreach(releaseCheckpoint)
    prevCached.foreach(_.unpersist())
    result
  }

  /** See `graft.functions.releaseCheckpoint` (shared with PageRank). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    graft.functions.releaseCheckpoint(df)

  /** C3 clustering (`consolidation.py:457-617`): similarity graph at 0.75 ->
    * connected components -> clusters of >= minSize; clusters >= metaSize
    * spawn a MetaMemory (type MetaPattern, confidence 0.8) summarizing the
    * cluster: dominant type, time span, size.
    */
  def cluster(memories: DataFrame, threshold: Double = 0.75, minSize: Int = 3,
      metaSize: Int = 5, exact: Boolean = true,
      roundSims: Boolean = false): (DataFrame, DataFrame) = {
    val vertices = memories.filter(col("relevance_score") > 0.3).select(col("id"))
    val comps = connectedComponents(vertices,
      similarityEdges(memories, threshold, exact, roundSims))
    val withComp = memories.join(comps, Seq("id"))
    val typeCounts = withComp.groupBy(col("component"), col("type"))
      .agg(count(lit(1)).as("n_type"))
    val wType = Window.partitionBy(col("component"))
      .orderBy(desc("n_type"), asc("type"))
    val dominant = typeCounts.withColumn("_rn", row_number().over(wType))
      .filter(col("_rn") === 1)
      .select(col("component"), col("type").as("dominant_type"))
    val clusters = withComp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"),
        min(col("timestamp")).as("span_start"),
        max(col("timestamp")).as("span_end"),
        min(col("id")).as("exemplar_id"))
      .filter(col("cluster_size") >= minSize)
      .join(dominant, Seq("component"))
    val metas = clusters.filter(col("cluster_size") >= metaSize)
      .select(
        concat(lit("meta-"), col("component")).as("id"),
        concat(lit("Cluster of "), col("cluster_size"),
          lit(" "), col("dominant_type"), lit(" memories")).as("content"),
        lit("MetaPattern").as("type"),
        lit(0.8).as("confidence"),
        col("cluster_size"),
        col("span_end").as("timestamp"),
        lit(0.9).as("relevance_score"))
    (clusters, metas)
  }
}
