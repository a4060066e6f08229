package graft.domain

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.graftshim.GraftShim

/** Plan-reuse serving handle for ad-hoc single recall.
  *
  * A one-off `Recall.recall` call pays a per-query driver constant (~0.45 s
  * measured at any corpus size: eager analysis of every chained
  * transformation while the DataFrame is BUILT, then optimize + physical
  * planning + codegen) that dwarfs execution on a small corpus — the
  * reference's online server answers in 189-204 ms on 10k memories
  * (`benchmarks/EXPERIMENT_LOG.md:126`) because its query plan is a fixed
  * code path, not a re-derived one.
  *
  * This class is the Spark-shaped answer: the [[BatchRecall]] plan — whose
  * results are spec-pinned identical to the single path — is built and
  * ANALYZED once against a marker request relation; each `recall(query)`
  * call then rebuilds only the 1-row request LocalRelation (driver-side
  * string work, no Spark job) and splices it into the cached template.
  * Re-used across calls: the entire analyzed plan (the dominant driver
  * cost), and every generated codegen class (the spliced plan produces
  * byte-identical source, so Spark's codegen cache hits). Re-run per call:
  * optimizer + physical planning (~0.1 s) and execution — fresh every
  * time, so results are always computed against the current request, and
  * broadcast caching cannot serve stale parameters.
  *
  * Thread-safety: template construction is eager; `recall` is stateless
  * over the immutable template and safe to call concurrently.
  */
class PreparedRecall(
    memories: DataFrame,
    edges: DataFrame,
    limit: Int = 10,
    weights: Scoring.Weights = Scoring.Weights(),
    now: Timestamp = Timestamp.valueOf("2026-01-01 00:00:00"),
    roundScores: Boolean = false,
    vocabParallelism: Int = 0,
    prebuildClasses: Boolean = true,
    ivf: Option[BatchRecall.IvfChannel] = None,
    pq: Option[BatchRecall.PqChannel] = None) {

  require(ivf.isEmpty || pq.isEmpty,
    "ivf and pq are alternative vector-channel indexes — supply one")

  private val spark = memories.sparkSession

  private def isRequestRelation(lr: LocalRelation): Boolean =
    lr.output.map(_.name) == BatchRecall.RequestCols

  // ---------------------------------------------------------------------
  // IVF vector channel (r16, VERDICT r15 item 1): when an index is
  // supplied, the template's vector channel consumes a PLANTED candidate
  // relation instead of the corpus x query cosine scan, and each call
  // (a) probes cells driver-side against the quantizer collected here
  // once, (b) runs the partition-pruned top-overfetch candidate scan
  // (BatchRecall.ivfCandidateRows — one bounded job reading
  // ~nprobe/cells of the corpus), and (c) swaps the rows into the
  // template next to the request relation. Serving is REPLANNED-only in
  // this mode: the cached-physical fast path's evidence machinery derives
  // every swappable scan from the request relation, which candidates are
  // not — and at the index scale that justifies an IVF channel, the
  // candidate scan it eliminates dominates the ~100 ms replan constant.
  // ---------------------------------------------------------------------
  // The resolved assignments relation rides in the handle next to the
  // quantizer (r19, VERDICT r18 item 4): `spark.read.parquet` lists files
  // and reads footers EAGERLY at this call — doing it per request was a
  // per-call listing-RPC fan-out that a 100 TB cell-partitioned index
  // turns into real serving latency. The per-call cell `isin` filter
  // still prunes partitions statically. Freshness: the relation (like
  // the quantizer and codebooks) snapshots the index at handle build —
  // serving a REBUILT index requires a new handle.
  private val ivfState: Option[(BatchRecall.IvfChannel,
      graft.operators.IvfIndex.Quantizer, DataFrame)] =
    ivf.map(iv => (iv, graft.operators.IvfIndex.loadQuantizer(spark, iv.path),
      spark.read.parquet(s"${iv.path}/assignments")))

  // PQ twin (r18, VERDICT r17 item 1): same planted-candidate contract as
  // ivfState — the quantizer AND the codebooks are bounded parameters
  // loaded once per handle; each call probes cells + computes its ADC
  // table driver-side and runs the partition-pruned CODE scan
  // (BatchRecall.pqCandidateRows) instead of any fp32 corpus scan, exact-
  // refining only overfetch·refine rows against the cached recall base.
  private val pqState: Option[(BatchRecall.PqChannel,
      graft.operators.IvfIndex.Quantizer, Seq[Seq[Seq[Double]]], DataFrame)] =
    pq.map(p => (p, graft.operators.IvfIndex.loadQuantizer(spark, p.path),
      graft.operators.PqIndex.readCodebooks(spark, p.path),
      spark.read.parquet(s"${p.path}/assignments")))

  /** Either planted-candidate mode — the template consumes a per-call
    * candidate relation instead of the corpus × query cosine scan.
    */
  private def plantedCandidates: Boolean =
    ivfState.isDefined || pqState.isDefined

  private val overfetch =
    math.min(limit * Recall.OverfetchFactor, Recall.OverfetchCap)

  private def isCandidateRelation(lr: LocalRelation): Boolean =
    lr.output.map(_.name) == BatchRecall.VectorCandCols

  private def candidateFrame(query: String, qvec: Option[Array[Float]])
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val qv = qvec.getOrElse(PlaceholderEmbedding.embed(query))
    val rows = (ivfState, pqState) match {
      case (Some((iv, qz, asg)), _) =>
        BatchRecall.ivfCandidateRows(spark, iv, qz, 0, qv,
          overfetch, roundScores, assignments = Some(asg))
      case (_, Some((p, qz, books, asg))) =>
        BatchRecall.pqCandidateRows(spark, p, qz, books, index.base, 0, qv,
          overfetch, roundScores, assignments = Some(asg))
      case _ => throw new IllegalStateException("no candidate channel")
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("qid", IntegerType),
      StructField("id", memories.schema("id").dataType),
      StructField("channel_score", DoubleType))))
  }

  private def candidateData(query: String, qvec: Option[Array[Float]])
      : Seq[InternalRow] =
    GraftShim.analyzed(candidateFrame(query, qvec))
      .collect { case lr: LocalRelation => lr.data }.head

  /** Cached query-independent corpus index (postings + vocabularies),
    * materialized up front so no serving call pays the build.
    */
  val index: BatchRecall.RecallIndex =
    BatchRecall.buildIndex(memories, vocabParallelism)
      .cache().materialize()

  /** An analyzed batch plan over a marker request. Each serving CLASS gets
    * its own template: the optimizer folds the request-side channel gates
    * for the marker's values, so a keyword-class marker's plan has the
    * trending/phrase-only branches pruned out entirely — a plan for one
    * class structurally cannot serve another (the fast path's
    * absent-channel guard is the runtime proof).
    */
  private def templateFor(markerQuery: String): LogicalPlan = {
    import spark.implicits._
    val marker = Seq((0, markerQuery)).toDF("qid", "query")
    val plan = GraftShim.analyzed(BatchRecall.batchRecall(
      memories, edges, marker, limit, weights, now, roundScores,
      index = Some(index), singleRequest = true,
      vectorCandidates =
        if (plantedCandidates) Some(candidateFrame(markerQuery, None))
        else None))
    if (plantedCandidates)
      require(plan.collectFirst {
        case lr: LocalRelation if isCandidateRelation(lr) => lr }.nonEmpty,
        "no vector-candidate relation found in the IVF/PQ template plan")
    // the request relation appears once per join branch (analysis
    // deduplicates each occurrence with fresh expr ids); the swap below
    // rewrites every occurrence, so only existence is asserted here. The
    // (qid, tok) relations are gone from the single-request shape — its
    // keyword channel is the expression-form scan, which reads the token
    // array off the request relation itself.
    require(plan.collectFirst {
      case lr: LocalRelation if isRequestRelation(lr) => lr }.nonEmpty,
      "no request relation found in the template plan")
    plan
  }

  /** The replanned path's template (any class — replanning re-folds).
    * Literal marker: the `Marker` val initializes later in the class body.
    */
  private val template: LogicalPlan = templateFor("__template__")

  private def relationData(query: String, qvec: Option[Array[Float]]) = {
    val fresh = BatchRecall.requestRelationFromSeq(spark,
      org.apache.spark.sql.types.IntegerType,
      Seq((0, query, qvec.map(_.toSeq))))
    GraftShim.analyzed(fresh)
      .collect { case lr: LocalRelation => lr.data }.head
  }

  /** Serve one request: ranked rows (rank, id, final_score, match_type,
    * component scores) — the same output as a 1-row [[BatchRecall]] run,
    * which the parity spec pins to `Recall.recall`'s results.
    *
    * This path re-runs optimizer + physical planning per call (~60-70 ms of
    * a served call; results are provably fresh). An executed-PHYSICAL-plan
    * template that skipped those phases was built and measured in r8/r9 and
    * DELETED: to stay splice-safe it had to exclude the folding rules
    * (ConvertToLocalRelation / OptimizeOneRowPlan / EliminateLimits) and
    * disable exchange reuse while the template was planned, and the
    * resulting less-folded physical plan consistently cost MORE in
    * execution (~+50-90 ms at the 10k anchor) than per-call optimization
    * costs in planning.
    */
  def recall(query: String, qvec: Option[Array[Float]] = None): DataFrame =
    if (qvec.isEmpty) fastRecall(query).getOrElse(recallReplanned(query, qvec))
    else recallReplanned(query, qvec)

  /** The r9-r10 serving path: splice the request into the analyzed
    * template, re-run optimizer + physical planning per call. Always
    * correct for any knob combination; [[recall]] falls back here whenever
    * the fast path is unavailable or declined the request.
    */
  def recallReplanned(query: String, qvec: Option[Array[Float]] = None)
      : DataFrame = {
    val qData = relationData(query, qvec)
    val swapped0 = template.transform {
      // keep the template's output attributes (expr ids are wired through
      // the whole plan); only the rows change
      case lr: LocalRelation if isRequestRelation(lr) => lr.copy(data = qData)
    }
    // IVF/PQ mode: the vector-candidate relation swaps the same way — its
    // rows come from this call's partition-pruned candidate scan
    val swapped =
      if (!plantedCandidates) swapped0
      else {
        val cData = candidateData(query, qvec)
        swapped0.transform {
          case lr: LocalRelation if isCandidateRelation(lr) =>
            lr.copy(data = cData)
        }
      }
    GraftShim.ofRows(spark, swapped).drop("qid")
  }

  // ---------------------------------------------------------------------
  // FAST PATH (r11): cached PHYSICAL plan + per-call request-row swap.
  //
  // The per-call fixed cost of recallReplanned is ~100 ms optimizer +
  // ~25 ms physical planning (r11 per-phase timing). Probing the fully
  // optimized plan (an r11 physical-splice probe) showed the request survives
  // ONLY as LocalTableScanExec rows — ConvertToLocalRelation folds each
  // request-side Project/Filter chain into a LocalRelation, and no request
  // value reaches any other expression — so the physical plan's SHAPE is
  // request-value-independent and the scans' ROWS are the only thing a new
  // request changes. The fast path therefore:
  //
  //  1. at prepare time, plans the marker template ONCE (AQE off) and
  //     captures the maximal request-only SUBTREES of the analyzed plan
  //     (the q.filter(...).select(...) chains — including channel gates
  //     like is_trend, whose folded row COUNT is value-dependent: a
  //     trending query folds the keyword channel's scan to zero rows);
  //  2. per call, replays each subtree through the full optimizer with the
  //     fresh request planted (~1 ms: <10 nodes, 1 row) — reproducing
  //     exactly the rows the full-plan optimization would have folded —
  //     and swaps them into the cached physical plan by schema match
  //     (transformUp copies the spine above each swapped scan, so every
  //     request-dependent exchange/codegen node is fresh per call, while
  //     static corpus-side exchanges stay SHARED across calls and their
  //     broadcasts/shuffle files are legitimately reused);
  //  3. executes the swapped physical plan directly.
  //
  // Safety is EVIDENCE-gated, not assumed: the state is enabled only if
  // (a) the marker appears in no physical expression and no subquery,
  // (b) every derivation subtree folds to a LocalRelation whose schema
  //     matches exactly one scan-schema class with agreeing marker rows,
  // (c) a validation set spanning the query classes (multi-token, single
  //     token, empty, wildcard, stopword-only, sub-3-char, metadata-ish,
  //     unicode/punctuation) produces IDENTICAL results fast vs replanned.
  // Any failure disables the fast path for the life of the handle and
  // recall() silently serves the replanned path — the r8/r9 serveRows
  // lesson (a physical template that needs folding rules excluded is
  // slower than replanning) does not apply here because ALL rules stay on.
  // ---------------------------------------------------------------------

  private val Marker = "__template__"

  /** One physical request-scan schema class and how to feed it: fold
    * subtree `subtreeIdx`, then project its rows to the scan's columns
    * (`indices` into the subtree output — column pruning above a use site
    * can narrow a scan to a subset of its origin subtree's schema).
    */
  private case class ScanFeed(names: Seq[String], subtreeIdx: Int,
      indices: Seq[Int])

  private case class FastState(
      physical: SparkPlan,
      output: Seq[Attribute],
      subtrees: IndexedSeq[LogicalPlan],
      subtreeNames: IndexedSeq[Seq[String]],
      feeds: Seq[ScanFeed],
      // channels the optimizer PRUNED out of the template because their
      // request-side gate folded EMPTY for the marker (PropagateEmptyRelation
      // removes the whole branch — e.g. trending / phrase-only for a
      // keyword-class marker). A query that would activate one of these
      // has no branch to run — runFast declines and the call falls back.
      absent: Seq[Int])

  /** Maximal subtrees of the analyzed template whose only leaves are the
    * request relation — each is one channel's request-side derivation
    * chain; the optimizer folds each to a (possibly empty) LocalRelation.
    */
  private def requestSubtrees(p: LogicalPlan): Seq[LogicalPlan] = {
    val buf = scala.collection.mutable.Buffer[LogicalPlan]()
    def requestOnly(n: LogicalPlan): Boolean = {
      val leaves = n.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case lr: LocalRelation => isRequestRelation(lr)
        case _ => false
      }
    }
    def walk(n: LogicalPlan): Unit =
      if (requestOnly(n)) buf += n else n.children.foreach(walk)
    walk(p)
    buf.toSeq
  }

  /** Canonical text form of one catalyst value — UnsafeRow/ArrayData
    * toString is layout-dependent, so row comparison goes through typed
    * getters instead.
    */
  private def canonValue(dt: org.apache.spark.sql.types.DataType, v: Any)
      : String = v match {
    case null => "∅"
    case a: org.apache.spark.sql.catalyst.util.ArrayData =>
      dt match {
        case org.apache.spark.sql.types.ArrayType(et, _) =>
          a.toObjectArray(et).map(canonValue(et, _)).mkString("[", ",", "]")
        case _ => a.toString
      }
    case other => String.valueOf(other)
  }

  private def canonRows(attrs: Seq[Attribute], rows: Seq[InternalRow])
      : Seq[String] =
    rows.map(r => attrs.zipWithIndex.map { case (a, i) =>
      canonValue(a.dataType, r.get(i, a.dataType)) }.mkString("|"))

  /** Project folded subtree rows to a scan's (possibly narrower) schema. */
  private def projectRows(lr: LocalRelation, indices: Seq[Int])
      : Seq[InternalRow] =
    lr.data.map { r =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        indices.map(i => r.get(i, lr.output(i).dataType)).toArray)
    }

  /** Fold one derivation subtree for fresh request data. */
  private def foldSubtree(sub: LogicalPlan, qData: Seq[InternalRow])
      : Option[LocalRelation] = {
    val swapped = sub.transform {
      case lr: LocalRelation if isRequestRelation(lr) => lr.copy(data = qData)
    }
    GraftShim.optimize(spark, swapped) match {
      case lr: LocalRelation => Some(lr)
      case _ => None
    }
  }

  private def runFast(fs: FastState, query: String): Option[DataFrame] = try {
    def build(): Option[SparkPlan] = {
      val qData = relationData(query, None)
      // a query activating a template-absent channel cannot be served off
      // this physical plan — decline, the caller replans
      if (fs.absent.exists(i =>
        foldSubtree(fs.subtrees(i), qData).exists(_.data.nonEmpty)))
        return None
      val needed = fs.feeds.map(_.subtreeIdx).distinct
      val folds: Map[Int, LocalRelation] = needed.flatMap { i =>
        foldSubtree(fs.subtrees(i), qData) match {
          case Some(lr) if lr.output.map(_.name) == fs.subtreeNames(i) =>
            Some(i -> lr)
          case _ => return None // schema drift — serve the replanned path
        }
      }.toMap
      val freshRows: Map[Seq[String], Seq[InternalRow]] =
        fs.feeds.map(f => f.names -> projectRows(folds(f.subtreeIdx), f.indices))
          .toMap
      // DEEP-CLONE the template before the swap: every call must execute a
      // fully PRIVATE plan tree. Sharing the unchanged (static-side) nodes
      // across concurrent executions measurably cross-served results
      // between threads (r11 concurrency probe: 4-5/40 calls returned
      // another in-flight query's rows; a plan cloned per call was 0/40 over
      // every probe run; PreparedRecallSpec "one handle serves 8 concurrent
      // threads with per-thread parity" pins the contract). ROOT CAUSE (r12,
      // a standalone plain-Spark repro, 17-20/80 divergent): the stateful
      // class is any CodegenSupport node — its mutable `parent` field is
      // written during WholeStageCodegen's produce/consume compilation
      // walk, so two concurrent walks over a SHARED node cross-wire the
      // generated program (bisect: sharing only FilterExec 20/80 divergent,
      // only InputAdapter 27/80, only the non-CodegenSupport
      // InMemoryTableScanExec 0/80). Sharing is per-query-safe in stock
      // Spark only because plans are never shared across executions. The
      // clone is ~1 ms on this ~300-node tree, and re-executing the static
      // broadcasts per call is exactly what the replanned path also pays,
      // so the fast path keeps its full planning-skip win.
      // Note on WHY clone() and nothing weaker: an r11 bisect attempt
      // tried copying only selected node classes via
      // `transformUp { case p => p.makeCopy(...) }` to identify the racy
      // class — but Catalyst's mapChildren/withNewChildren compare
      // children with STRUCTURAL equality (fastEquals = eq || ==), so a
      // makeCopy that yields an ==-equal node is silently DISCARDED and
      // the original stays shared. Partial per-class copies are therefore
      // not expressible through the transform API at all ("copy every
      // class" measured 6-11/40 divergent, identical to no copying);
      // clone() is the one mechanism that forces fresh instances
      // (mapChildren(forceCopy = true) internally). The per-call row swap
      // itself survives only because swapped rows differ structurally.
      Some(fs.physical.clone().asInstanceOf[SparkPlan].transformUp {
        case l: LocalTableScanExec if freshRows.contains(l.output.map(_.name)) =>
          l.copy(rows = freshRows(l.output.map(_.name)))
      })
    }
    def execute(fresh: SparkPlan): DataFrame = {
      val collected = fresh.executeCollect()
      GraftShim.ofRows(spark,
        LocalRelation(fs.output, collected.toIndexedSeq)).drop("qid")
    }
    build().map(execute)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Queries spanning the request-derivation classes; the fast path is
    * enabled only when fast and replanned results agree on ALL of them.
    */
  private val ValidationQueries = Seq(
    "alpha beta deployment pipeline review", // multi-token keyword
    "deployment",                            // single token
    "",                                      // empty -> trending channel
    "*",                                     // wildcard -> trending
    "the of and a",                          // stopword-only -> phrase branch
    "zz",                                    // sub-3-char, non-stopword
    "preference: dark mode theme settings",  // metadata-term carrying
    "café ünïcode-dash_mix 1234") // unicode + punctuation

  /** Which evidence gate decided each class's fate — "enabled[...]" or the
    * first failing gate's name, KEYED BY ServeClass so a later lazy build
    * of another class cannot overwrite the diagnosis the caller asked
    * about (diagnosis surface for specs).
    */
  private val fastGates =
    new java.util.concurrent.ConcurrentHashMap[ServeClass, String]()

  /** A serving class = which request-side channels are ACTIVE (keyword /
    * phrase-only / trending × metadata). The optimizer folds these gates
    * into the template at plan time, so each class needs its own cached
    * physical plan; the FIRST query of a class becomes its template marker
    * (self-representative by construction). Keep in lockstep with
    * `BatchRecall.requestRelationFromSeq`'s derivations.
    */
  private case class ServeClass(isTrend: Boolean, phraseOnly: Boolean,
      hasMd: Boolean)

  private def serveClassOf(query: String): ServeClass = {
    val toks = Recall.keywords(query)
    val qtrim = query.toLowerCase.trim
    val phrase = if (qtrim.length >= 3) qtrim else ""
    val isTrend = toks.isEmpty && phrase.isEmpty
    ServeClass(isTrend, toks.isEmpty && !isTrend,
      MetadataScoring.prefilterTerms(query).nonEmpty)
  }

  private val fastStates =
    new java.util.concurrent.ConcurrentHashMap[ServeClass, Option[FastState]]()

  // the keyword class (the serving hot path) builds EAGERLY so prepare
  // cost is paid up front; trending/phrase-only templates build lazily on
  // the first query of their class (~1-2 s once, then cached)
  private val fastState: Option[FastState] = {
    val s = buildFastStateFor(Marker)
    fastStates.put(serveClassOf(Marker), s)
    s
  }

  // Pre-build EVERY reachable serve class at prepare time (VERDICT r12
  // item 6): a lazy per-class build ran 1-2 s under the ConcurrentHashMap
  // bin lock on the FIRST query of each class — a first-request latency
  // spike the prepare step should absorb. The markers below cover the
  // reachable (isTrend, phraseOnly, hasMd) combinations (6 of 8 — a
  // trending query cannot be phrase-only by definition); classes already
  // built (the Marker's own) no-op via computeIfAbsent. prepare cost grows
  // by ~1-2 s per additional class, pinned honestly in the bench's
  // single_recall_10k_prepare_ms.
  locally {
    if (prebuildClasses) {
      // the six builds are independent (each plans under its own cloned
      // session and lands in its own class key; computeIfAbsent locks
      // the key's HASH BIN, so two builds can transiently serialize on a
      // bin collision — latency-only, never a correctness issue) — build
      // them concurrently, the same concurrency contract serving itself
      // runs under (PreparedRecallSpec's 8-thread test). Await.result rethrows a
      // build-thread failure at prepare time instead of deferring it to
      // first use.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val builds = PreparedRecall.ClassMarkers.map(m => Future {
        fastStates.computeIfAbsent(serveClassOf(m), _ => buildFastStateFor(m))
      })
      Await.result(Future.sequence(builds),
        scala.concurrent.duration.Duration(10, "min"))
    }
  }

  private def buildFastStateFor(markerQuery: String): Option[FastState] = {
    val cls = serveClassOf(markerQuery)
    def fail(reason: String): Option[FastState] = {
      fastGates.put(cls, reason); None
    }
    // IVF/PQ mode serves replanned-only (see ivfState's comment): the
    // candidate relation is not request-derived, so the fast path's
    // fold-and-swap evidence machinery cannot feed it — validation would
    // reject every class with frozen marker candidates. Decline up front.
    if (plantedCandidates)
      return fail("ivf/pq channel: candidates are planted per call — replanned serving")
    // degenerate markers ("", "*") would make the contains-based leak
    // checks vacuous or always-firing — skip those two checks for them
    // (feeds resolution + end-to-end validation still gate)
    val leakCheckable = markerQuery.length >= 3
    // AQE is off for the template build (an AdaptiveSparkPlanExec root
    // would hide the LocalTableScans the per-call swap targets) — via a
    // CLONED session whose own conf carries the override, so the shared
    // session conf never mutates: concurrent queries and concurrent
    // other-class lazy builds plan under their own conf and cannot capture
    // or inherit this override. (A thread-local SQLConf override does not
    // reach InsertAdaptiveSparkPlan — see GraftShim.sessionWithConf.)
    // shuffle.partitions=1 for the template: every exchange in the serving
    // plan sits ABOVE candidate generation and carries at most
    // channels x overfetch rows (~160) regardless of corpus size — the
    // bound comes from the per-channel limits, not the corpus — so the
    // dedup/rank tail is correctly a single task at ANY scale, and each
    // post-shuffle stage drops from a 4-task wave to one task of
    // scheduling. Candidate-generation stages keep the cache's own
    // partitioning (unaffected by this knob).
    val planSession = GraftShim.sessionWithConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1")
    try {
      val classTemplate =
        if (markerQuery == Marker) template else templateFor(markerQuery)
      val phys =
        GraftShim.ofRows(planSession, classTemplate)
          .queryExecution.executedPlan
      // derivation subtrees folded for the marker
      val subtrees = requestSubtrees(classTemplate).toIndexedSeq
      val folded: IndexedSeq[Option[LocalRelation]] =
        subtrees.map(foldSubtree(_, relationData(markerQuery, None)))
      if (subtrees.isEmpty) return fail("no request subtree in the template")
      if (folded.exists(_.isEmpty))
        return fail("a derivation subtree did not fold to LocalRelation")
      val subLrs = folded.map(_.get)
      val subNames = subLrs.map(_.output.map(_.name))
      // resolve every physical LocalTableScan to its origin subtree: exact
      // schema match first, else the UNIQUE subtree whose output covers the
      // scan's columns and whose marker rows project to the scan's rows
      val scans = phys.collectWithSubqueries { case l: LocalTableScanExec => l }
      val mainScans = phys.collect { case l: LocalTableScanExec => l }
      if (scans.size != mainScans.size)
        return fail("LocalTableScan inside a subquery")
      // validation-query folds per subtree, for disambiguating scans that
      // match several subtrees under the marker: two candidates are
      // interchangeable only if their projections agree on EVERY
      // validation class (e.g. (qid,qvec) matches both the full relation
      // and the vector channel's select — identical on all classes)
      val valFolds: IndexedSeq[Seq[LocalRelation]] =
        subtrees.map { s =>
          ValidationQueries.flatMap(v => foldSubtree(s, relationData(v, None)))
        }
      if (valFolds.exists(_.size != ValidationQueries.size))
        return fail("a subtree failed to fold for a validation query")
      def resolve(l: LocalTableScanExec): Either[String, Option[ScanFeed]] = {
        val names = l.output.map(_.name)
        val scanCanon = canonRows(l.output, l.rows)
        def feedOf(i: Int): Option[ScanFeed] = {
          val idx = names.map(subNames(i).indexOf)
          if (idx.contains(-1)) None
          else {
            val projected = projectRows(subLrs(i), idx)
            val attrs = idx.map(subLrs(i).output(_))
            if (canonRows(attrs, projected) == scanCanon)
              Some(ScanFeed(names, i, idx))
            else None
          }
        }
        def projectionSignature(f: ScanFeed): Seq[Seq[String]] =
          valFolds(f.subtreeIdx).map { lr =>
            val attrs = f.indices.map(lr.output(_))
            canonRows(attrs, projectRows(lr, f.indices))
          }
        val exact = subtrees.indices.filter(i => subNames(i) == names)
          .flatMap(feedOf)
        val candidates =
          if (exact.nonEmpty) exact else subtrees.indices.flatMap(feedOf)
        val isRequestScan = candidates.nonEmpty ||
          (leakCheckable && l.rows.exists(_.toString.contains(markerQuery)))
        if (!isRequestScan) Right(None) // a static relation (e.g. edges)
        else if (candidates.isEmpty) Left(
          s"marker scan (${names.mkString(",")}) matches no derivation")
        else if (candidates.map(projectionSignature).distinct.size == 1)
          Right(Some(candidates.head)) // interchangeable on every class
        else Left(s"scan (${names.mkString(",")}) matches ${candidates.size} " +
          "derivations that DISAGREE on a validation class")
      }
      val resolved = scans.map(resolve)
      resolved.collectFirst { case Left(reason) => reason }
        .foreach(r => return fail(r))
      val feeds = resolved.collect { case Right(Some(f)) => f }.distinct
      if (feeds.isEmpty) return fail("no request scan in physical plan")
      // distinct schema classes must map to ONE feed each (the per-call
      // swap matches scans by schema)
      if (feeds.groupBy(_.names).exists(_._2.size > 1))
        return fail("one scan schema resolved to two different feeds")
      val exprMarker = if (!leakCheckable) Nil else phys.collectWithSubqueries {
        case p if p.expressions.exists(_.toString.contains(markerQuery)) => p }
      if (exprMarker.nonEmpty)
        return fail(s"marker in expressions of ${exprMarker.map(_.nodeName).distinct.mkString(",")}")
      // subtrees with no feed: EMPTY marker folds are channels the
      // optimizer pruned from the template (record → per-call decline
      // guard); a NON-empty unfed subtree is only safe if some fed
      // subtree is interchangeable with it on every validation class
      val fed = feeds.map(_.subtreeIdx).toSet
      val unfed = subtrees.indices.filterNot(fed)
      val absent = unfed.filter(i => subLrs(i).data.isEmpty)
      for (i <- unfed if subLrs(i).data.nonEmpty) {
        def signature(j: Int): Seq[Seq[String]] =
          valFolds(j).map(lr => canonRows(lr.output, lr.data))
        val twin = fed.exists(j => subNames(j) == subNames(i) &&
          signature(j) == signature(i))
        if (!twin) return fail(
          s"unfed non-empty subtree (${subNames(i).mkString(",")}) has no interchangeable fed twin")
      }
      // STATIC-EXCHANGE REUSE (r12): a fresh physical instance — cloned
      // fast plan or freshly-replanned plan alike — re-broadcasts every
      // BroadcastExchange and re-runs every shuffle map stage per call
      // (~390 ms measured at the 10k anchor), while re-executing the SAME
      // instance costs ~34 ms because lazy broadcast futures and computed
      // shuffle outputs are reused. The request feeds only a small top
      // region of the plan, so every exchange whose subtree contains no
      // feed scan computes request-INDEPENDENT data: wrap each in
      // ReusedExchangeExec pointing at one shared instance. The wrapper is
      // a LeafExecNode, so the per-call clone() copies the wrapper but
      // SHARES the exchange beneath — static broadcasts/shuffles compute
      // once per template, request-dependent nodes stay privately cloned
      // (the concurrency backstop is untouched: PreparedRecallSpec "one
      // handle serves 8 concurrent threads with per-thread parity" must
      // stay green; identical static data cannot cross-serve requests, and
      // the race MECHANISM — CodegenSupport's mutable parent field, see
      // runFast — cannot fire here because a shared exchange's subtree
      // codegen-compiles exactly once under its lazy-val guard, never
      // concurrently per call).
      // An exchange is static iff its subtree has no scan the per-call
      // swap could target — the SAME schema-match criterion the swap uses.
      val feedSchemas: Set[Seq[String]] = feeds.map(_.names).toSet
      def hasFeedScan(p: SparkPlan): Boolean = p.exists {
        case l: LocalTableScanExec => feedSchemas.contains(l.output.map(_.name))
        case _ => false
      }
      val physShared = phys.transformUp {
        case e: org.apache.spark.sql.execution.exchange.Exchange
            if !hasFeedScan(e) =>
          org.apache.spark.sql.execution.exchange.ReusedExchangeExec(
            e.output, e)
      }
      // DRIVER-LOCAL request broadcasts (r13): a request-side
      // BroadcastExchangeExec whose child is a bare feed LocalTableScan
      // still pays a 1-task collect JOB per call for rows the swap just
      // materialized on the driver. LocalTableBroadcastExec collects via
      // LocalTableScanExec.executeCollect (job-free) and builds the
      // relation driver-side exactly like the stock exchange's future
      // does — removing four jobs (and their submit round-trips) from
      // every fast call.
      val physLocalBc = physShared.transformUp {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
            if b.child.isInstanceOf[LocalTableScanExec] &&
              hasFeedScan(b.child) =>
          org.apache.spark.sql.graftshim.LocalTableBroadcastExec(
            b.mode, b.child)
      }
      val candidate =
        FastState(physLocalBc, physLocalBc.output, subtrees, subNames, feeds,
          absent)
      // end-to-end validation across the query classes: every query the
      // fast path ACCEPTS must match the replanned results exactly; a
      // cross-class query declining is correct by construction (class
      // dispatch routes it to its own template), but a query of the
      // MARKER'S OWN class must never decline — a template that declines
      // its own class is not a fast path
      val markerClass = serveClassOf(markerQuery)
      var served = 0
      (ValidationQueries :+ markerQuery).distinct.foreach { v =>
        runFast(candidate, v) match {
          case Some(df) =>
            served += 1
            val fast = df.collect().map(_.toString).toSeq
            val slow = recallReplanned(v).collect().map(_.toString).toSeq
            if (fast != slow) return fail(
              s"validation mismatch on '$v': fast ${fast.size} rows vs replanned ${slow.size}")
          case None =>
            if (serveClassOf(v) == markerClass) return fail(
              s"fast path declined a same-class validation query '$v'")
        }
      }
      if (served == 0) return fail("fast path declined every validation query")
      fastGates.put(cls,
        s"enabled[${markerQuery.take(16)}] (served $served validation queries," +
          s" ${absent.size} absent channel(s) decline per-call)")
      Some(candidate)
    } catch { case e if scala.util.control.NonFatal(e) =>
      fail(s"exception: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }

  /** Whether the cached-physical fast path survived its evidence gate. */
  def fastPathEnabled: Boolean = fastState.isDefined

  /** "enabled[...]", or the first failing evidence gate — for the EAGER
    * (keyword-marker) class; pass a query to read another class's gate.
    */
  def fastPathDiagnosis: String = fastPathDiagnosis(Marker)

  /** The evidence-gate outcome for `query`'s serve class ("unbuilt" if
    * that class has never been built).
    */
  def fastPathDiagnosis(query: String): String =
    fastGates.getOrDefault(serveClassOf(query), "unbuilt")

  /** Serve one no-qvec request off its CLASS's cached physical plan —
    * trending and phrase-only queries get their own lazily-built template
    * on first use, so every request class serves plan-cached. None when
    * the class's evidence gate failed (caller falls back to
    * [[recallReplanned]]).
    */
  def fastRecall(query: String): Option[DataFrame] = {
    val state = fastStates.computeIfAbsent(serveClassOf(query),
      _ => buildFastStateFor(query))
    state.flatMap(runFast(_, query))
  }

  /** Release the cached index relations. */
  def close(): Unit = index.unpersist()
}

object PreparedRecall {
  /** One representative marker per reachable serve class, for the
    * prepare-time pre-build. Derivations (keep in lockstep with
    * `serveClassOf`): keywords = >=3-char non-Recall.Stopwords tokens;
    * phrase = trimmed query when >=3 chars; metadata terms =
    * >=2-char tokens surviving MetadataScoring's field/stopword filters.
    *
    *  - "template keyword"  -> keyword class, metadata terms present
    *  - "memories"          -> keyword class, NO metadata terms
    *                           ("memories" is a metadata QueryStopword but
    *                           not a keyword stopword)
    *  - "the"               -> phrase-only, no metadata ("the" is both a
    *                           keyword stopword and a metadata stopword,
    *                           but a >=3-char phrase)
    *  - "ai the"            -> phrase-only WITH metadata ("ai" is too
    *                           short for a keyword yet a valid metadata
    *                           term)
    *  - ""                  -> trending
    *  - "ai"                -> trending WITH metadata (2 chars: no
    *                           keyword, no phrase, one metadata term)
    */
  val ClassMarkers: Seq[String] =
    Seq("template keyword", "memories", "the", "ai the", "", "ai")
}
