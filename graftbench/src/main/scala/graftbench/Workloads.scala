package graftbench

import scala.jdk.CollectionConverters._

import graft.domain._
import graft.jobs.{ConsolidationJob, CorpusPipelineJob, MaintenanceJob}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark workload. A run calls [[setup]] (and [[teardown]] between
  * repeated set-ups), [[runCheck]] once, then [[op]] in a closed loop;
  * [[check]] runs after each op, outside its timing.
  */
trait Workload {
  /** Number of set-up rounds; set-up time is their median. */
  def setupRounds: Int
  /** Untimed ops between the once-per-run check and the timed ops. */
  def warmupOps: Int
  /** Ops per round; the timed ops are whole rounds. */
  def roundOps: Int = 1
  def setup(): Unit
  def teardown(): Unit
  /** Run operation `i`; returns the number of items it completed. */
  def op(i: Int): Int
  /** Violations found in the output of the last op. */
  def check(): Seq[String]
  /** Once-per-run check, after set-up and before the timed ops, outside
    * every timing; `dir` is the run's scratch directory.
    */
  def runCheck(dir: String): Seq[String] = Nil
  /** One-off figures for the trace file of a traced run, taken after the
    * timed window.
    */
  def extras(): Map[String, Double] = Map.empty
  /** Figures about the inputs, written to the trace file of every run. */
  def notes(): Map[String, Double] = Map.empty
  /** Per-layer figures of this workload: name -> (value, unit). */
  def layers(setupSpans: Seq[Map[String, Double]],
      ops: Seq[OpRecord]): Seq[(String, Double, String)]
}

object Workload {
  /** Spark runs as `local[Cores]`, with as many shuffle partitions, and
    * every input is repartitioned to as many partitions. Two executor
    * threads, the driver thread, and the JVM's two JIT compiler threads
    * (`run.py`) fit a 4-core box; with `local[4]` the box ran more busy
    * threads than cores, and ops were no faster.
    */
  val Cores = 2

  val Names: Seq[String] = Seq("recall_batch", "build_and_prep")

  def apply(name: String, spark: SparkSession, seed: Long,
      probe: Probe): Workload = name match {
    case "recall_batch" => new RecallBatchWorkload(spark, seed, probe)
    case "build_and_prep" => new SequenceWorkload(Seq(
      new MemoryBuildWorkload(spark, seed, probe),
      new CorpusPrepWorkload(spark, seed, probe)))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Every workload-level layer figure, in the order they are reported. */
  val LayerNames: Seq[String] = Seq(
    "recall_batch.store_load_ms", "recall_batch.index_build_ms",
    "recall_batch.construct_ms", "recall_batch.action_ms",
    "recall_batch.jobs_before_action") ++
    (Seq("ingest", "enrich") ++ ConsolidationJob.Modes ++ Seq("audit"))
      .map(s => s"memory_build.${s}_ms") ++
    Seq("hygiene", "outputs", "selection").map(s => s"corpus_prep.${s}_ms")

  def LayerUnit(name: String): String =
    if (name.endsWith("_ms")) "ms" else "count"

  /** Materialize every column of `df` without collecting it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def spanMean(ops: Seq[OpRecord], name: String): Double =
    Probe.mean(ops.map(_.spans.getOrElse(name, 0.0)))

  def spanMedian(rounds: Seq[Map[String, Double]], name: String): Double =
    Probe.median(rounds.map(_.getOrElse(name, 0.0)))
}

/** Runs its parts one after the other: an op is one op of every part. */
final class SequenceWorkload(parts: Seq[Workload]) extends Workload {
  val setupRounds: Int = parts.map(_.setupRounds).max
  val warmupOps: Int = parts.map(_.warmupOps).max
  def setup(): Unit = parts.foreach(_.setup())
  def teardown(): Unit = parts.foreach(_.teardown())
  def op(i: Int): Int = parts.map(_.op(i)).sum
  def check(): Seq[String] = parts.flatMap(_.check())
  override def runCheck(dir: String): Seq[String] =
    parts.flatMap(_.runCheck(dir))
  override def extras(): Map[String, Double] =
    parts.flatMap(_.extras()).toMap
  override def notes(): Map[String, Double] =
    parts.flatMap(_.notes()).toMap
  def layers(setupSpans: Seq[Map[String, Double]],
      ops: Seq[OpRecord]): Seq[(String, Double, String)] =
    parts.flatMap(_.layers(setupSpans, ops))
}

/** The recall store: generated raw memories through `Ingest.prepare`
  * (default embedding provider), cached.
  */
final class RecallStore(spark: SparkSession, seed: Long, n: Int,
    nQuestions: Int) {
  val corpus: Gen.RecallCorpus = Gen.recallCorpus(seed, n, nQuestions)
  val live: Set[String] = corpus.memories.map(_.id).toSet

  def load(): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("content", StringType),
      StructField("tags", ArrayType(StringType)),
      StructField("importance", DoubleType),
      StructField("timestamp", TimestampType),
      StructField("metadata", StringType)))
    val raw = spark.createDataFrame(corpus.memories.map(m =>
      Row(m.id, m.content, m.tags, m.importance, m.timestamp, m.metadata))
      .asJava, schema)
    val store = Ingest.prepare(raw).repartition(Workload.Cores).cache()
    Workload.noop(store)
    store
  }

  def rows(df: DataFrame): Seq[Checks.RecallRow] =
    df.select(col("qid").cast("long"), col("rank"), col("id"),
      col("final_score")).collect().toSeq
      .map(r => Checks.RecallRow(r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))
}

/** Batches of 100 mixed questions through `BatchRecall.batchRecall` against
  * a cached store with a prebuilt `RecallIndex`.
  */
final class RecallBatchWorkload(spark: SparkSession, seed: Long,
    probe: Probe) extends Workload {
  val StoreSize = 1500
  val Batch = 100
  val Batches = 4
  override val roundOps: Int = Batches
  val Limit = 10
  val setupRounds = 2
  // the check's indexed call and one warm-up op: without the warm-up, the
  // first timed batch ran 30-40% slower than the rest
  val warmupOps = 1

  private var rs: RecallStore = _
  private var store: DataFrame = _
  private var index: BatchRecall.RecallIndex = _
  private var last: (Map[Long, Seq[String]], Seq[Checks.RecallRow]) = _
  private var jobsBeforeAction = Seq.empty[Double]
  private var checkMs = Map.empty[String, Double]

  def setup(): Unit = {
    rs = new RecallStore(spark, seed, StoreSize, Batch * Batches)
    store = probe.span("recall_batch.store_load")(rs.load())
    index = probe.span("recall_batch.index_build")(
      BatchRecall.buildIndex(store).cache().materialize())
  }

  def teardown(): Unit = { index.unpersist(); store.unpersist() }

  /** Batch `b`'s questions, keyed by qid. */
  private def questions(b: Int): Seq[(Long, Gen.Question)] =
    rs.corpus.questions.slice(b * Batch, (b + 1) * Batch)
      .zipWithIndex.map { case (q, k) => (b * Batch + k).toLong -> q }

  /** The recall call of one batch; the index is `None` for the check. */
  private def recall(qs: Seq[(Long, Gen.Question)],
      idx: Option[BatchRecall.RecallIndex]): DataFrame = {
    val queries = spark.createDataFrame(qs.map { case (qid, q) =>
      Row(qid, q.query) }.asJava,
      StructType(Seq(StructField("qid", LongType),
        StructField("query", StringType))))
    BatchRecall.batchRecall(store, spark.emptyDataFrame, queries,
      limit = Limit, now = Gen.RecallNow, index = idx)
  }

  def op(i: Int): Int = {
    val qs = questions(i % Batches)
    val df = probe.span("recall_batch.construct")(recall(qs, Some(index)))
    probe.jobsSoFar().foreach(j => jobsBeforeAction :+= j.toDouble)
    val rows = probe.span("recall_batch.action")(rs.rows(df))
    last = (qs.map { case (qid, q) => qid -> q.evidence }.toMap, rows)
    qs.size
  }

  def check(): Seq[String] =
    Checks.recall(last._2, last._1, Limit, rs.live)

  /** The keyword form `keywordForm = "auto"` picks for each batch, and the
    * estimated index-form pairs per scan row it decides on
    * (`BatchRecall.chooseKeywordForm` over the index's stats; driver
    * arithmetic, no Spark job). Written to the trace file.
    */
  override def notes(): Map[String, Double] = checkMs.map { case (k, v) =>
    s"recall_batch.run_check.${k}_ms" -> v } ++ (index.kwStats match {
    case None => Map("recall_batch.keyword_stats" -> 0.0)
    case Some(st) => (0 until Batches).flatMap { b =>
      val toks = questions(b).map { case (_, q) =>
        val ks = graft.domain.Recall.keywords(q.query)
        (ks, ks.isEmpty && q.query.toLowerCase.trim.length < 3)
      }
      val scanRows = st.corpusRows.toDouble * toks.count(!_._2)
      Seq(s"recall_batch.batch$b.keyword_form_is_scan" ->
        (if (BatchRecall.chooseKeywordForm(st, toks) == "scan") 1.0 else 0.0),
        s"recall_batch.batch$b.est_pairs_per_scan_row" ->
          BatchRecall.estimateKeywordPairs(st, toks) / scanRows)
    }.toMap
  })

  /** Two once-per-run checks, outside every timing, which also warm the
    * timed code path:
    *   - batch 0 without the prebuilt index (an ad-hoc index without
    *     keyword stats, so the `index` keyword form) must give exactly the
    *     rows of the timed call with the index;
    *   - the DuckDB mirror of `q_batch_recall_100q`: the store's first
    *     memories become the `documents` and `embeddings` tables that
    *     `RecallPipeline.batchRecall100` and its mirror SQL read, Spark's
    *     answer is written next to them, and `run.py` runs the mirror SQL
    *     in DuckDB and compares. This checks the oracle query's own
    *     question set and options over the benchmark's memories, not the
    *     timed call.
    */
  override def runCheck(dir: String): Seq[String] = {
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally checkMs += name -> (System.nanoTime() - t0) / 1e6
    }
    val qs = questions(0)
    val withIndex = timed("indexed")(rs.rows(recall(qs, Some(index))))
    val without = timed("unindexed")(rs.rows(recall(qs, None)))
    val sameRows =
      if (withIndex.sortBy(r => (r.qid, r.rank)) ==
          without.sortBy(r => (r.qid, r.rank))) Nil
      else Seq(s"batch 0 without the index differs from the indexed " +
        s"result (${without.size} vs ${withIndex.size} rows)")
    sameRows ++ timed("mirror")(MirrorExport.write(spark, store, dir))
  }

  def layers(setupSpans: Seq[Map[String, Double]],
      ops: Seq[OpRecord]): Seq[(String, Double, String)] = Seq(
    ("recall_batch.store_load_ms",
      Workload.spanMedian(setupSpans, "recall_batch.store_load"), "ms"),
    ("recall_batch.index_build_ms",
      Workload.spanMedian(setupSpans, "recall_batch.index_build"), "ms"),
    ("recall_batch.construct_ms",
      Workload.spanMean(ops, "recall_batch.construct"), "ms"),
    ("recall_batch.action_ms",
      Workload.spanMean(ops, "recall_batch.action"), "ms"),
    ("recall_batch.jobs_before_action",
      Probe.mean(jobsBeforeAction.takeRight(ops.size)), "count"))
}

/** Generated raw memories through `Ingest.prepare`, `Enrichment.enrich`,
  * every `ConsolidationJob` mode and `MaintenanceJob.dedupPlan`.
  */
final class MemoryBuildWorkload(spark: SparkSession, seed: Long,
    probe: Probe) extends Workload {
  val Size = 250
  val setupRounds = 3
  val warmupOps = 0

  private var mems: Seq[Gen.BuildMemory] = _
  private var raw: DataFrame = _
  private var emb: Map[String, Array[Float]] = _
  private var expectedSimTo: Set[(String, String)] = _
  private var last: Map[String, Array[Row]] = Map.empty

  def setup(): Unit = {
    mems = Gen.buildCorpus(seed, Size)
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("content", StringType),
      StructField("tags", ArrayType(StringType)),
      StructField("importance", DoubleType),
      StructField("timestamp", TimestampType)))
    raw = probe.span("memory_build.load") {
      val df = spark.createDataFrame(mems.map(m =>
        Row(m.id, m.content, m.tags, m.importance, m.timestamp)).asJava,
        schema).repartition(Workload.Cores).cache()
      Workload.noop(df)
      df
    }
  }

  def teardown(): Unit = raw.unpersist()

  def op(i: Int): Int = {
    val prepared = probe.span("memory_build.ingest") {
      val p = Ingest.prepare(raw,
        embed = Some(LexicalEmbedding.embedColumn())).cache()
      Workload.noop(p)
      p
    }
    val (enriched, edges, patterns) = probe.span("memory_build.enrich") {
      val (e, ed, p) = Enrichment.enrich(prepared)
      e.cache(); ed.cache()
      Workload.noop(e)
      val edgeRows = ed.collect()
      (e, ed, (edgeRows, p.collect()))
    }
    val outs = ConsolidationJob.Modes.map { mode =>
      mode -> probe.span(s"memory_build.$mode")(
        ConsolidationJob.run(mode, enriched, edges, Gen.BuildNow).collect())
    }.toMap
    val audit = probe.span("memory_build.audit")(
      MaintenanceJob.dedupPlan(
        prepared.select(col("id"), col("content"), col("timestamp")),
        Some(prepared.select(col("id").as("vec_id"), col("embedding"))),
        threshold = 0.9).collect())
    last = outs ++ Map("edges" -> patterns._1, "audit" -> audit)
    edges.unpersist(); enriched.unpersist(); prepared.unpersist()
    mems.size
  }

  def check(): Seq[String] = {
    if (emb == null) {
      emb = mems.map(m => m.id -> LexicalEmbedding.embed(m.content)).toMap
      expectedSimTo = Checks.expectedSimilarTo(emb, 5, 0.8)
    }
    val ids = mems.map(_.id).toSet
    val edges = last("edges")
    val simTo = edges.filter(_.getAs[String]("rel_type") == "SIMILAR_TO")
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst"),
        r.getAs[Double]("score")))
    val families = mems.filter(_.family >= 0).groupBy(_.family).values
      .map(_.map(_.id)).toSeq
    val metas = last("cluster").map(r =>
      (r.getAs[String]("id"), r.getAs[Number]("cluster_size").longValue))
    val forget = last("forget").map(_.getAs[String]("id"))
    val audit = last("audit")
    val verdicts = audit.map(r => r.getString(0) ->
      (r.getString(1), Option(r.getString(2)).getOrElse(""))).toMap
    Checks.similarTo(simTo.toSeq, emb, 0.8) ++
      Checks.similarToComplete(simTo.toSeq.map(e => (e._1, e._2)),
        expectedSimTo) ++
      (if (simTo.isEmpty) Seq("no SIMILAR_TO edges") else Nil) ++
      Checks.families(metas.toSeq, families) ++
      Checks.exactlyOnce("forget fate", forget.toSeq, ids) ++
      Checks.exactlyOnce("audit verdict", audit.map(_.getString(0)).toSeq,
        ids) ++
      Checks.exactDups(verdicts,
        mems.flatMap(m => m.dupOf.map(o => (m.id, o))))
  }

  /** In traced runs, time the two exact all-pairs similarity calls a pass
    * makes inside `Enrichment.enrich` (SIMILAR_TO edges) and the cluster
    * mode (`Consolidation.similarityEdges`), alone on a prepared store, so
    * the trace can give their share of a pass.
    */
  override def extras(): Map[String, Double] = {
    val p = Ingest.prepare(raw,
      embed = Some(LexicalEmbedding.embedColumn())).cache()
    Workload.noop(p)
    def ms(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    try Map(
      "memory_build.exact_similar_to_ms" ->
        ms(Enrichment.similarToEdges(p).collect()),
      "memory_build.exact_cluster_pairs_ms" ->
        ms(Consolidation.similarityEdges(p, 0.75, exact = true).collect()))
    finally p.unpersist()
  }

  def layers(setupSpans: Seq[Map[String, Double]],
      ops: Seq[OpRecord]): Seq[(String, Double, String)] =
    (Seq("ingest", "enrich") ++ ConsolidationJob.Modes ++ Seq("audit")).map(s =>
      (s"memory_build.${s}_ms", Workload.spanMean(ops, s"memory_build.$s"),
        "ms"))
}

/** `CorpusPipelineJob.runWithSelection` over generated multi-source
  * documents; all six outputs are materialized.
  */
final class CorpusPrepWorkload(spark: SparkSession, seed: Long,
    probe: Probe) extends Workload {
  val Size = 320
  val setupRounds = 3
  val warmupOps = 0

  private var docs: Seq[Gen.Doc] = _
  private var input: DataFrame = _
  private var out: CorpusPipelineJob.SelectionOutputs = _
  private var funnel: Seq[(String, Long)] = Nil

  def setup(): Unit = {
    docs = Gen.corpus(seed, Size)
    input = probe.span("corpus_prep.load") {
      val df = spark.createDataFrame(docs.map(d =>
        Row(d.docId, d.source, d.text)).asJava,
        StructType(Seq(StructField("doc_id", LongType),
          StructField("source", StringType),
          StructField("text", StringType)))).repartition(Workload.Cores).cache()
      Workload.noop(df)
      df
    }
  }

  def teardown(): Unit = input.unpersist()

  def op(i: Int): Int = {
    out = probe.span("corpus_prep.hygiene")(
      CorpusPipelineJob.runWithSelection(input,
        CorpusPipelineJob.SelectionConfig(positiveSources = Seq("wiki"))))
    probe.span("corpus_prep.outputs") {
      Workload.noop(out.base.kept)
      out.base.profile.collect()
      out.base.shards.collect()
    }
    probe.span("corpus_prep.selection") {
      Workload.noop(out.selected)
      out.mixture.collect()
      funnel = out.funnel.collect().toSeq
        .map(r => (r.getAs[String]("stage"), r.getAs[Number]("n").longValue))
    }
    docs.size
  }

  def check(): Seq[String] = {
    val kept = out.base.kept.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val keptIds = kept.map(_._1).toSet
    val pii = docs.map(d => d.docId -> d.pii).toMap
    out.release()
    Checks.funnelSums(funnel, docs.size.toLong) ++
      Checks.dupsDropped(keptIds, funnel,
        docs.flatMap(d => d.dupOf.map(o => (d.docId, o)))) ++
      Checks.piiGone(kept, pii) ++
      (if (kept.size < docs.size / 2)
        Seq(s"only ${kept.size} of ${docs.size} documents kept") else Nil)
  }

  def layers(setupSpans: Seq[Map[String, Double]],
      ops: Seq[OpRecord]): Seq[(String, Double, String)] =
    Seq("hygiene", "outputs", "selection").map(s =>
      (s"corpus_prep.${s}_ms", Workload.spanMean(ops, s"corpus_prep.$s"),
        "ms"))
}

/** Writes the DuckDB mirror's inputs and Spark's answer for
  * `RecallPipeline.batchRecall100` over the first memories of the store.
  */
object MirrorExport {
  val Docs = 300

  def write(spark: SparkSession, store: DataFrame, dir: String): Seq[String] = {
    val mems = store.select(col("id"), col("content"), col("tags"),
      col("embedding")).orderBy("id").limit(Docs).collect()
    val docs = mems.zipWithIndex.map { case (r, i) =>
      Row(i.toLong, r.getString(1), r.getString(1).length.toLong, "en",
        r.getSeq[String](2).headOption.getOrElse("none"))
    }
    spark.createDataFrame(docs.toSeq.asJava, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n_chars", LongType), StructField("lang", StringType),
      StructField("source", StringType))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.createDataFrame(mems.zipWithIndex.map { case (r, i) =>
      Row(i.toLong, r.getSeq[Float](3)) }.toSeq.asJava, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)))))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ans = graft.operators.RecallPipeline.batchRecall100(spark, dir)
    ans.coalesce(1).write.mode("overwrite").json(s"$dir/spark_answer.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/mirror.sql"),
      graft.operators.RecallPipeline.batchRecall100Sql)
    Nil
  }
}
