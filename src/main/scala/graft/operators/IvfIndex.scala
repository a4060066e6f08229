package graft.operators

import graft.functions.VectorFunctions._
import graft.functions.round4
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** PERSISTED IVF index: the missing piece of the ANN story — centroids and
  * cell assignments are materialized ONCE at index-build time, so a query
  * job reads a 2^cellBits-row centroid table plus only the probed cells'
  * parquet partitions, instead of recomputing centroids with a full
  * embedding scan per job (the round-2 ivfTopK shape).
  *
  * Layout (Layout.scala conventions): `<path>/centroids` is a tiny parquet
  * relation (cell, centroid); `<path>/assignments` is the vector relation
  * written `partitionBy("cell")` — probing n of 2^cellBits cells becomes
  * STATIC PARTITION PRUNING (`PartitionFilters: cell IN (...)`), so the
  * candidate scan's I/O shrinks by probed/total at any corpus size. The
  * quantizer is the deterministic sign-bucket hyperplane split shared with
  * the ephemeral path (`Similarity.ivfTopK`), so index answers are
  * bit-identical to it at equal nprobe.
  *
  * Reference semantics anchor: Qdrant-side ANN over the memory collection
  * (`/root/reference/automem/search/runtime_recall_helpers.py:940-1030`);
  * Qdrant owns its persisted index — this is the Spark-native equivalent.
  */
object IvfIndex {

  val DefaultCellBits = 6

  /** Per-cell mean centroids of an assignments relation (cell, embedding). */
  private[operators] def cellCentroids(cells: DataFrame): DataFrame =
    cells
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("cx"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("cell"),
        transform(col("pairs"), p => p.getField("cx").cast("float")).as("centroid"))

  /** Per-cell (sum-vector, count) — the sufficient statistic behind a mean
    * centroid, kept in the centroid table so appends can merge exactly
    * instead of rescanning the corpus.
    */
  private def cellSums(cells: DataFrame): DataFrame =
    cells
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sx")))).as("pairs"),
        first(col("cnt")).as("n"))
      .select(col("cell"),
        transform(col("pairs"), p => p.getField("sx")).as("sums"), col("n"))

  private def sumsToCentroids(sums: DataFrame): DataFrame =
    sums.select(col("cell"),
      transform(col("sums"), s => (s / col("n")).cast("float")).as("centroid"),
      col("n"))

  /** Build the index: one pass assigns cells and writes assignments
    * cell-partitioned; the centroid aggregate is tiny (<= 2^cellBits rows)
    * and carries the per-cell count so [[append]] can update means exactly.
    */
  def build(vectors: DataFrame, path: String,
      cellBits: Int = DefaultCellBits): Unit = {
    val cells = vectors.withColumn("cell", signBucket(col("embedding"), cellBits))
    // cluster rows by cell before the partitioned write: each task then owns
    // whole cells and writes one file per cell instead of every task
    // spraying a sliver into all 2^cellBits directories (tasks x cells tiny
    // files — the classic partitioned-write mistake at any scale)
    cells.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assignments")
    sumsToCentroids(cellSums(cells)).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    pinBaselineFit(vectors, path)
  }

  /** Mean squared distance of `vectors` to their nearest FROZEN centroid
    * — the ground-truth-free drift signal IvfDriftProbe established
    * (probe: ~1x for in-distribution appends, ~170x under planted drift).
    * One bounded-centroid-set assign over the batch; the per-stream
    * consumer is [[graft.streaming.StreamingIngest.ivfBatch]], which
    * rates each appended micro-batch against [[baselineFit]].
    */
  def assignmentFit(vectors: DataFrame, path: String): Double =
    KMeans.assign(vectors, storedCentroids(vectors.sparkSession, path))
      .agg(avg(col("dist"))).head.getDouble(0)

  // --- small marker/sidecar IO, through the Hadoop FileSystem API (r15,
  // ADVICE r14): the index path can be hdfs:// or s3a://; java.nio would
  // silently write these next to the DRIVER instead of next to the index.
  private def fsAndPath(spark: SparkSession, p: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  private[graft] def writeSmallFile(spark: SparkSession, p: String,
      content: String): Unit = {
    val (fs, hp) = fsAndPath(spark, p)
    val out = fs.create(hp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readSmallFile(spark: SparkSession, p: String)
      : Option[String] = {
    val (fs, hp) = fsAndPath(spark, p)
    if (!fs.exists(hp)) None
    else {
      val in = fs.open(hp)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** The pinned build-time fit (mean assigned distance of the BUILD set
    * against its own centroids), written by [[build]]/[[buildKMeans]] as
    * `<path>/BASELINE_FIT`. None for indexes built before the marker
    * existed.
    */
  def baselineFit(path: String): Option[Double] =
    baselineFit(SparkSession.active, path)

  def baselineFit(spark: SparkSession, path: String): Option[Double] =
    readSmallFile(spark, s"$path/BASELINE_FIT")
      .map(_.trim.toDouble)

  private def pinBaselineFit(vectors: DataFrame, path: String): Unit =
    writeSmallFile(vectors.sparkSession, s"$path/BASELINE_FIT",
      assignmentFit(vectors, path).toString)

  // --- drift-rebuild policy (r15, VERDICT r14 item 5) -------------------

  /** Advisory threshold on the per-batch assignment-fit ratio. Measured
    * anchors (tools.IvfDriftProbe): in-distribution appends rate ~1x the
    * build baseline, planted drift ~170x — the default sits 4x above the
    * coherent band and >40x under the measured drift signature, so a
    * single noisy batch cannot trip it and real drift cannot hide under
    * it.
    */
  val DefaultFitRatioThreshold = 4.0

  /** How many CONSECUTIVE most-recent applied batches must exceed the
    * ratio threshold before a rebuild is advised — one drifted batch can
    * be an ingest hiccup; three in a row is a distribution.
    */
  val DefaultFitConsecutive = 3

  /** One applied append's drift evidence, written by the streaming ingest
    * as `<path>/_fit/<batchId>.json` (overwrite-idempotent on replay).
    */
  private[graft] def writeFitRow(spark: SparkSession, path: String,
      batchId: Long, fit: Double, base: Double, ratio: Double): Unit =
    writeSmallFile(spark, s"$path/_fit/$batchId.json",
      f"""{"batch_id":$batchId,"fit":$fit,"baseline":$base,"ratio":$ratio}""")

  /** The (batchId, ratio) history the stream has written, batch-ordered.
    * `lastK` bounds the file READS: the directory listing is one RPC, but
    * reading every sidecar would make the per-batch threshold check
    * O(stream-length) — the rule only ever needs the most recent K rows.
    */
  def fitHistory(spark: SparkSession, path: String,
      lastK: Int = Int.MaxValue): Seq[(Long, Double)] = {
    val (fs, hp) = fsAndPath(spark, s"$path/_fit")
    if (!fs.exists(hp)) return Seq.empty
    fs.listStatus(hp).toSeq
      .flatMap(st => Option(st.getPath.getName)
        .filter(_.endsWith(".json"))
        .flatMap(_.stripSuffix(".json").toLongOption)
        .map(_ -> st.getPath))
      .sortBy(_._1).takeRight(lastK)
      .flatMap { case (id, p) =>
        readSmallFile(spark, p.toString).flatMap(txt =>
          "\"ratio\":([-0-9.eE+]+)".r.findFirstMatchIn(txt)
            .map(m => id -> m.group(1).toDouble))
      }
  }

  /** The threshold RULE: true iff at least `consecutive` fit rows exist
    * and the `consecutive` most recent ALL exceed `threshold`.
    */
  def fitTripped(spark: SparkSession, path: String,
      threshold: Double = DefaultFitRatioThreshold,
      consecutive: Int = DefaultFitConsecutive): Boolean = {
    val recent = fitHistory(spark, path, lastK = consecutive)
    recent.size >= consecutive && recent.forall(_._2 > threshold)
  }

  /** True when the stream has tripped the rule and advised a rebuild
    * (`<path>/REBUILD_ADVISED` exists). The marker persists — even if
    * later batches rate coherent again, the index already holds a drifted
    * span the frozen quantizer routes badly — until [[rebuildIndex]]
    * clears it.
    */
  def rebuildAdvised(path: String): Boolean =
    rebuildAdvised(SparkSession.active, path)

  def rebuildAdvised(spark: SparkSession, path: String): Boolean = {
    val (fs, hp) = fsAndPath(spark, s"$path/REBUILD_ADVISED")
    fs.exists(hp)
  }

  private[graft] def adviseRebuild(spark: SparkSession, path: String,
      batchId: Long, ratio: Double, threshold: Double,
      consecutive: Int): Unit =
    writeSmallFile(spark, s"$path/REBUILD_ADVISED",
      f"""{"tripped_at_batch":$batchId,"ratio":$ratio,""" +
        f""""threshold":$threshold,"consecutive":$consecutive}""")

  /** OFFLINE rebuild of a drift-tripped k-means index (r15): re-trains
    * the coarse quantizer on the index's CURRENT full contents and swaps
    * the rebuilt relations in, restoring assignment fit to a fresh
    * baseline (BASELINE_FIT re-pins over the full content, so
    * post-rebuild batches from the formerly-drifted distribution rate ~1
    * again).
    *
    * Replay doctrine preserved: `_stream_commits/` is untouched — every
    * committed batch's vectors are in the rebuilt assignments, so a
    * post-swap replay of a committed batch still no-ops; the _fit/
    * history and the REBUILD_ADVISED marker are cleared because they
    * rated batches against the RETIRED quantizer.
    *
    * Swap honesty: the two relation overwrites are not jointly atomic on
    * a plain filesystem. `_REBUILD_INPROGRESS` brackets the swap; a crash
    * inside the bracket leaves the marker, and recovery is re-running
    * rebuildIndex (idempotent — the staged content is checkpointed off
    * the pre-overwrite files, and re-staging from either mixed state
    * reads the same vector set). On a cluster, stage `assignments` to
    * parquet instead of localCheckpoint (same fault-tolerance trade the
    * pipeline job documents).
    */
  def rebuildIndex(spark: SparkSession, path: String, k: Int = 0,
      iters: Int = 5): Unit = {
    require(exists(spark, path), s"no completed index at $path")
    // k <= 0 → keep the original build's quantizer geometry (ADVICE r15):
    // the stored centroid table IS the persisted record of build-time k,
    // so an operator answering REBUILD_ADVISED without remembering it
    // cannot silently shrink a 256-cell index to a fixed default.
    val kk =
      if (k > 0) k
      else spark.read.parquet(s"$path/centroids").count().toInt
    val current = spark.read.parquet(s"$path/assignments")
      .drop("cell").localCheckpoint()
    require(current.columns.contains("embedding"),
      "rebuildIndex needs full-precision assignments; rebuild a " +
        "quantized index from its source embedding relation instead")
    writeSmallFile(spark, s"$path/_REBUILD_INPROGRESS",
      System.nanoTime().toString)
    buildKMeans(current, path, kk, iters)
    graft.functions.releaseCheckpoint(current)
    val (fs, _) = fsAndPath(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_fit"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/REBUILD_ADVISED"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_REBUILD_INPROGRESS"),
      false)
  }

  /** K-means coarse-quantizer build — the textbook IVF (FAISS
    * `IndexIVFFlat`'s shape): cells are the nearest of `k` Lloyd's
    * centroids ([[KMeans.fitCentroids]]) instead of sign-bucket
    * hyperplanes. On clustered data the centroids TRACK the clusters, so
    * cell residency follows content and fewer probes recover the true
    * neighbors; sign-buckets cut clusters with fixed axis-aligned planes
    * and stay the right default only when nothing is known about the
    * distribution (they need no training pass).
    *
    * The quantizer is FROZEN at build time: routing is BY centroid, so
    * moving centroids would orphan existing assignments. [[append]]
    * therefore routes new vectors through the stored centroids and leaves
    * the centroid table untouched (FAISS likewise never retrains the
    * coarse quantizer on add), and [[compact]] rewrites files without
    * reassigning. A marker file records the quantizer kind so the
    * maintenance entry points dispatch correctly.
    */
  def buildKMeans(vectors: DataFrame, path: String, k: Int = 64,
      iters: Int = 5): Unit = {
    val cents = KMeans.fitCentroids(vectors, k, iters)
    val cells = KMeans.assign(vectors, cents)
      .withColumn("cell", col("cluster").cast("long"))
      .drop("cluster", "dist")
    cells.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assignments")
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val spark = vectors.sparkSession
    import spark.implicits._
    // centroids persist as array<double>: storing float32 here would make
    // storedCentroids round-trip through float and route appended boundary
    // vectors to a DIFFERENT cell than an identical build-time vector
    // (build-time assignment used the round6 doubles)
    cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }
      .toDF("cell", "centroid")
      .join(counts, Seq("cell"), "left")
      .na.fill(0L, Seq("n"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    writeSmallFile(spark, s"$path/QUANTIZER", "kmeans")
    pinBaselineFit(vectors, path)
  }

  /** The index's quantizer kind: "kmeans" when the marker exists, else
    * "sign" (every pre-marker index is sign-bucket).
    *
    * The path-only overloads of the marker readers ([[quantizerOf]],
    * [[baselineFit]], [[rebuildAdvised]], [[filesPerCell]], [[exists]])
    * resolve the Hadoop filesystem through `SparkSession.active` and
    * REQUIRE an active or default session (ADVICE r15: the pre-r15
    * java.nio forms worked sessionless — that contract changed when the
    * sweep moved them onto the index's own filesystem, which only a
    * session's hadoopConfiguration can resolve for hdfs://s3a:// paths).
    * Sessionless callers use the explicit-SparkSession overloads.
    */
  def quantizerOf(path: String): String =
    quantizerOf(SparkSession.active, path)

  def quantizerOf(spark: SparkSession, path: String): String =
    readSmallFile(spark, s"$path/QUANTIZER")
      .map(_.trim).getOrElse("sign")

  /** Stored centroids as the k×dim double set [[KMeans.assign]] takes. */
  private def storedCentroids(spark: SparkSession, path: String)
      : Seq[Seq[Double]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("cell").select(col("centroid").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq

  /** Quantized index build (the ~4x-smaller variant): assignments store
    * each vector as int8 — raw bytes plus the per-vector affine
    * (scale, offset) from `VectorFunctions.quantizeInt8` — instead of
    * ARRAY&lt;FLOAT&gt;. At 100 TB the assignments relation IS the index
    * cost, so int8 cuts both the disk footprint and every probed-cell
    * scan's I/O ~4x; centroids stay full-precision (tiny). Query with
    * [[topKQuantized]]: the quantized scan ranks candidates, exact
    * re-scoring runs only on the top `k * refine`.
    */
  def buildQuantized(vectors: DataFrame, path: String,
      cellBits: Int = DefaultCellBits): Unit = {
    val spark = vectors.sparkSession
    import org.apache.spark.sql.functions.udf
    // array<byte> -> raw binary: parquet then stores 1 byte/dim instead of
    // a 4-byte-physical TINYINT list. One-time build cost, not query path.
    val pack = udf((a: scala.collection.Seq[Byte]) => a.toArray)
    val cells = vectors.withColumn("cell", signBucket(col("embedding"), cellBits))
    val packed = cells
      .withColumn("_q", graft.functions.VectorFunctions.quantizeInt8(col("embedding")))
      .withColumn("qscale", col("_q").getField("scale"))
      .withColumn("qoffset", col("_q").getField("offset"))
      .withColumn("qvec", pack(col("_q").getField("q")))
      .drop("_q", "embedding")
    packed.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assignments")
    // centroids are computed from the ORIGINAL float vectors — quantization
    // error stays out of the routing structure
    sumsToCentroids(cellSums(cells)).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Query a [[buildQuantized]] index with full-precision refinement:
    * (1) centroid probe; (2) partition-pruned scan of the probed cells
    * scoring int8 candidates with the codegen'd dequantizing cosine;
    * (3) exact re-rank of only the top `k * refine` candidates against
    * `fullVectors` (the source embedding relation — FAISS's IVF+refine
    * shape). The candidate-id set is bounded (`k * refine` rows, a
    * parameter lookup), so the refine scan reads the fp32 relation with
    * an `IN` pushdown instead of joining the whole corpus.
    */
  def topKQuantized(spark: SparkSession, path: String,
      fullVectors: DataFrame, qvec: Array[Float], k: Int, nprobe: Int,
      refine: Int = 4): DataFrame = {
    import graft.functions.VectorFunctions.int8CosineSim
    val cells = probeCells(spark, path, qvec, nprobe)
    val candidateIds = spark.read.parquet(s"$path/assignments")
      .filter(col("cell").isin(cells: _*))
      .withColumn("asim",
        int8CosineSim(col("qvec"), col("qscale"), col("qoffset"), typedlit(qvec)))
      .orderBy(desc("asim"), asc("vec_id"))
      .limit(k * refine)
      .select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val passThrough = fullVectors.columns
      .filterNot(_ == "embedding").toSeq.map(col)
    fullVectors
      .filter(col("vec_id").isin(candidateIds: _*))
      .withColumn("sim", round4(cosineSim(col("embedding"), typedlit(qvec))))
      .select(passThrough :+ col("sim"): _*)
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** Append vectors to an existing index WITHOUT a full rebuild — the
    * growing-corpus maintenance path. The quantizer is a FIXED hyperplane
    * split (data-independent), so new vectors route to their cells with no
    * reassignment of existing rows: the write appends files only under the
    * touched cell partitions, and the centroid table merges as a weighted
    * mean of (old sum-statistic, append batch) — exact, no corpus rescan.
    * Cost is O(batch) regardless of index size.
    *
    * Repeated appends accumulate small files per cell; call [[compact]]
    * when [[filesPerCell]] crosses an operational bound (the analogue of a
    * table format's compaction job).
    */
  def append(vectors: DataFrame, path: String,
      cellBits: Int = DefaultCellBits): Unit = {
    require(exists(path), s"no completed index at $path — use build()")
    val spark = vectors.sparkSession
    if (quantizerOf(path) == "kmeans") {
      // frozen-quantizer append: route by the STORED centroids, touch only
      // the landed cell partitions, leave the centroid table alone (it IS
      // the quantizer — updating it would orphan existing assignments)
      val cents = storedCentroids(spark, path)
      KMeans.assign(vectors, cents)
        .withColumn("cell", col("cluster").cast("long"))
        .drop("cluster", "dist")
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell")
        .parquet(s"$path/assignments")
      return
    }
    val cells = vectors.withColumn("cell", signBucket(col("embedding"), cellBits))
    val old = spark.read.parquet(s"$path/centroids")
    val oldSumsPlan =
      if (old.columns.contains("n"))
        old.select(col("cell"),
          transform(col("centroid"), c => c.cast("double") * col("n")).as("sums"),
          col("n"))
      else
        // legacy index without counts: recover the statistic with one
        // full-assignments pass, then future appends stay incremental
        cellSums(spark.read.parquet(s"$path/assignments"))
    // MATERIALIZE the old statistic before the batch write: both branches
    // are lazy plans over the very files mutated below — the legacy branch
    // would re-read assignments WITH the appended batch (double-counting
    // every new vector), and the count branch reads the centroid files the
    // rename replaces. localCheckpoint pins the pre-append state
    // (<= 2^cellBits rows — trivially small).
    val oldSums = oldSumsPlan.localCheckpoint()
    cells.repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$path/assignments")
    val union = oldSums.unionByName(cellSums(cells))
    val nTot = union.groupBy(col("cell")).agg(sum(col("n")).as("n"))
    val merged = union
      .select(col("cell"), posexplode(col("sums")).as(Seq("pos", "sx")))
      .groupBy(col("cell"), col("pos")).agg(sum(col("sx")).as("sx"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sx")))).as("pairs"))
      .select(col("cell"),
        transform(col("pairs"), p => p.getField("sx")).as("sums"))
      .join(nTot, Seq("cell"))
    // write via temp path: the centroid read above is lazy-planned off the
    // same files we are replacing
    val tmp = s"$path/centroids_next"
    sumsToCentroids(merged).coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"$path/centroids")
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** Mean data files per cell partition — the append-induced small-file
    * pressure gauge that decides when [[compact]] is worth running.
    */
  def filesPerCell(path: String): Double =
    filesPerCell(SparkSession.active, path)

  def filesPerCell(spark: SparkSession, path: String): Double = {
    // Hadoop FS, not java.nio (r15 sweep): a non-local index path would
    // read as "no cells" and silently disable compaction pressure
    val (fs, root) = fsAndPath(spark, s"$path/assignments")
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) return 0.0
    val cellDirs = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
    if (cellDirs.isEmpty) return 0.0
    val files = cellDirs.map(d => fs.listStatus(d.getPath)
      .count(_.getPath.getName.endsWith(".parquet")))
    files.sum.toDouble / cellDirs.length
  }

  /** Max per-cell drift between the STORED centroid and the exact mean
    * recomputed from assignments, as cosine distance. With exact
    * weighted-mean appends this stays at float-rounding level; a large
    * value means the table was hand-edited or partially written and
    * [[compact]] should rebuild it.
    */
  def centroidDrift(spark: SparkSession, path: String): Double = {
    val exact = sumsToCentroids(cellSums(spark.read.parquet(s"$path/assignments")))
      .select(col("cell"), col("centroid").as("exact"))
    val stored = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid"))
    val d = stored.join(exact, Seq("cell"))
      .select(max(lit(1.0) - cosineSim(col("centroid"), col("exact"))).as("drift"))
      .head()
    if (d.isNullAt(0)) 0.0 else d.getDouble(0)
  }

  /** Rewrite assignments one-file-per-cell and recompute centroids exactly:
    * run when [[filesPerCell]] or [[centroidDrift]] crosses its bound.
    * Equivalent to build() over the current contents.
    */
  def compact(spark: SparkSession, path: String,
      cellBits: Int = DefaultCellBits): Unit = {
    if (quantizerOf(path) == "kmeans") {
      // the quantizer is frozen: rewrite one-file-per-cell with the cells
      // KEPT (no reassignment), centroid table untouched
      val current = spark.read.parquet(s"$path/assignments")
        .localCheckpoint()
      current.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/assignments")
      return
    }
    val current = spark.read.parquet(s"$path/assignments")
      .drop("cell")
      .localCheckpoint() // materialize before overwriting the source files
    build(current, path, cellBits)
  }

  /** Append, then compact if small-file pressure or centroid drift crossed
    * the bounds — the single entry point a growing-corpus pipeline calls.
    */
  def appendWithMaintenance(vectors: DataFrame, path: String,
      cellBits: Int = DefaultCellBits, maxFilesPerCell: Double = 8.0,
      maxDrift: Double = 1e-3): Boolean = {
    append(vectors, path, cellBits)
    val spark = vectors.sparkSession
    // centroidDrift is a full-assignments rescan (O(corpus)) while append
    // itself is O(batch) — so the drift audit only runs once small-file
    // pressure has built to half the compaction bound, keeping the common
    // small-append call at its advertised cost. Drift after exact
    // weighted-mean appends is float-rounding-level by construction; the
    // audit exists to catch hand-edited or partially written tables, and
    // those are still caught on the next pressured append or direct call.
    val fpc = filesPerCell(path)
    // the drift audit compares stored centroids to member MEANS — only
    // meaningful for the sign-bucket variant (k-means centroids are
    // Lloyd's optima, intentionally not the running member mean)
    val needs = fpc > maxFilesPerCell ||
      (fpc > maxFilesPerCell / 2 && quantizerOf(path) != "kmeans" &&
        centroidDrift(spark, path) > maxDrift)
    if (needs) compact(spark, path, cellBits)
    needs
  }

  /** True when `path` already holds a completed index (both relations have
    * their _SUCCESS markers). Hadoop FS, not java.nio (r15 sweep): on an
    * hdfs:// or s3a:// index a local-FS check would answer false and the
    * streaming ingest would re-BUILD (and re-freeze a new quantizer) on
    * every micro-batch — the worst possible failure of this predicate.
    */
  def exists(path: String): Boolean =
    exists(SparkSession.active, path)

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, _) = fsAndPath(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(s"$path/assignments/_SUCCESS")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids/_SUCCESS"))
  }

  /** The cells a query would probe: score the persisted centroids (tiny
    * scan), keep the top `nprobe`. Collected to literals — this is a
    * parameter lookup (<= 2^cellBits rows), not a data-path collect — so
    * the candidate filter prunes parquet partitions statically.
    *
    * Probe metric MATCHES the quantizer's assignment metric: a k-means
    * index assigned vectors by squared-L2, so its cells rank by L2 too —
    * ranking them by cosine could probe the wrong cells on unnormalized
    * embeddings (a vector's own cell might not even rank first). Sign
    * buckets have no stored geometry to be faithful to, so cosine stays
    * the ranking there. Measured (r15 probe-metric probe, clustered
    * document vectors, nprobe 4/8/16 at sf0.01 AND sf0.1): the two
    * rankings probe identical cells on this data — recall@10 0.80/0.93/
    * 0.99 either way at sf0.1 — so the metric match costs nothing and
    * removes the unnormalized-embedding failure mode.
    */
  def probeCells(spark: SparkSession, path: String, qvec: Array[Float],
      nprobe: Int): Seq[Long] = {
    val cents = spark.read.parquet(s"$path/centroids")
    val scored = quantizerOf(path) match {
      case "kmeans" =>
        val q = typedlit(qvec.map(_.toDouble).toSeq)
        cents.withColumn("cscore",
          -aggregate(
            zip_with(col("centroid").cast("array<double>"), q,
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, v) => acc + v))
      case _ => cents.withColumn("cscore", cosineSim(col("centroid"), typedlit(qvec)))
    }
    scored
      .orderBy(desc("cscore"), asc("cell"))
      .limit(nprobe)
      .select(col("cell"))
      .collect().map(_.getLong(0)).toSeq
  }

  /** Driver-side snapshot of the coarse quantizer: the (cell, centroid)
    * table collected once (a parameter read — <= 2^cellBits rows) plus the
    * cell-ranking metric matching the quantizer kind ([[probeCells]]'s
    * dispatch). A batch/serving path ranks probe cells for MANY query
    * vectors in pure Scala against this snapshot instead of paying one
    * tiny centroid Spark job per query.
    */
  final case class Quantizer(cells: Array[Long],
      centroids: Array[Array[Double]], metric: String)

  def loadQuantizer(spark: SparkSession, path: String): Quantizer = {
    val rows = spark.read.parquet(s"$path/centroids")
      .select(col("cell"), col("centroid").cast("array<double>"))
      .collect().sortBy(_.getLong(0))
    Quantizer(rows.map(_.getLong(0)),
      rows.map(_.getSeq[Double](1).toArray),
      if (quantizerOf(spark, path) == "kmeans") "l2" else "cosine")
  }

  /** The cells one query vector probes, ranked exactly like
    * [[probeCells]] (score desc, cell asc) in driver-local arithmetic:
    * negative squared-L2 for a k-means quantizer, cosine (zero-norm -> 0,
    * the [[graft.functions.VectorFunctions.cosineSim]] convention) for
    * sign buckets.
    */
  def probeCellsLocal(qz: Quantizer, qvec: Array[Float], nprobe: Int)
      : Seq[Long] = {
    val scored = qz.cells.indices.map { i =>
      val c = qz.centroids(i)
      val n = math.min(c.length, qvec.length)
      val s = qz.metric match {
        case "l2" =>
          var acc = 0.0; var j = 0
          while (j < n) { val d = c(j) - qvec(j); acc += d * d; j += 1 }
          -acc
        case _ =>
          var dot = 0.0; var nx = 0.0; var ny = 0.0; var j = 0
          while (j < n) {
            dot += c(j) * qvec(j); nx += c(j) * c(j)
            ny += qvec(j).toDouble * qvec(j); j += 1
          }
          if (nx == 0.0 || ny == 0.0) 0.0
          else dot / (math.sqrt(nx) * math.sqrt(ny))
      }
      (qz.cells(i), s)
    }
    scored.sortBy { case (cell, s) => (-s, cell) }
      .take(nprobe).map(_._1)
  }

  /** Query the persisted index: centroid lookup + partition-pruned exact
    * search over probed cells only. Same TakeOrderedAndProject tail as
    * brute force; `round4` before ranking keeps ordering engine-stable.
    */
  def topK(spark: SparkSession, path: String, qvec: Array[Float], k: Int,
      nprobe: Int): DataFrame = {
    val cells = probeCells(spark, path, qvec, nprobe)
    val assignments = spark.read.parquet(s"$path/assignments")
      .filter(col("cell").isin(cells: _*))
    val passThrough = assignments.columns
      .filter(c => c != "embedding" && c != "cell").toSeq.map(col)
    assignments
      .withColumn("sim", round4(cosineSim(col("embedding"), typedlit(qvec))))
      .select(passThrough :+ col("sim"): _*)
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }
}
