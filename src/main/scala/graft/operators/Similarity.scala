package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import graft.functions.round4
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity search over the embeddings table (`ARRAY<FLOAT>` column).
  * Baseline is brute-force cosine top-k — a narrow codegen'd scan +
  * `TakeOrderedAndProject` (per-partition top-k, then merge on the driver:
  * exactly the 100 TB-safe plan, no global sort). The scale path buckets by a
  * SimHash sign-bit key so candidate pairs join within buckets (LSH-style
  * blocking) instead of a cross join. Reference semantics: Qdrant cosine KNN
  * (`automem/search/runtime_recall_helpers.py:940-1030`), semantic neighbor
  * linking threshold 0.8 (`enrichment/runtime_helpers.py:177-254`).
  */
object Similarity {

  /** Fetch one stored embedding as a literal query vector (parameter lookup,
    * not a data-path collect).
    */
  def queryVector(spark: SparkSession, dir: String, vecId: Long): Array[Float] =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === vecId)
      .select(col("embedding"))
      .head().getSeq[Float](0).toArray

  def litVector(v: Array[Float]): Column = typedlit(v)

  /** Brute-force cosine top-k against a stored query vector; scores rounded
    * to 4 decimals before ranking so ordering is reproducible across engines.
    */
  def bruteForceTopK(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 10): DataFrame = {
    val q = litVector(queryVector(spark, dir, queryId))
    Tables.embeddings(spark, dir)
      .withColumn("sim", round4(cosineSim(col("embedding"), q)))
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** SimHash-bucketed near-duplicate pairs: bucket on the sign bits of the
    * first 8 dimensions, pair-join within bucket, keep cosine >= threshold.
    * At scale the bucket key is the shuffle key — no cross join.
    */
  def bucketedNearDupPairs(spark: SparkSession, dir: String,
      bits: Int = 8, threshold: Double = 0.9): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        signBucket(col("embedding"), bits).as("bucket"))
    val a = e.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = e.select(col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", round4(cosineSim(col("a_emb"), col("b_emb"))))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
      .orderBy("a_id", "b_id")
  }

  /** Band-OR embedding near-dup pairs: FOUR offset sign bucketings unioned
    * (a pair is a candidate if it agrees in ANY band), deduped on (a, b),
    * then the cosine threshold. Same shuffle-by-bucket scale shape as the
    * single-bucket variant but with LSH-band recall — near-identical vectors
    * survive a few sign flips.
    */
  def bandedNearDupPairs(spark: SparkSession, dir: String,
      bits: Int = 8, threshold: Double = 0.9): DataFrame =
    bandedNearDupPairs(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      bits, threshold)

  /** DataFrame-parametric form — the library API; needs (vec_id, embedding).
    *
    * r19: the four bands ride ONE exploded relation (the bucket string
    * carries its band offset prefix, so within-bucket pairing is exactly
    * the old per-band pairing) through ONE self-join, where the previous
    * form ran four independent band pipelines — 8 corpus scans and 4
    * bucket-join shuffles collapse to 2 scans and 1 join of the same total
    * bytes (guide §2.4: two operations keyed the same way share one
    * exchange). Output is identical: per-pair rows per shared band-bucket,
    * then the same groupBy-max + threshold.
    */
  def bandedNearDupPairs(e: DataFrame, bits: Int,
      threshold: Double): DataFrame = {
    val banded = e.select(col("vec_id"), col("embedding"),
      explode(array(Seq(0, 8, 16, 24).map(off =>
        concat_ws(":", lit(off.toString),
          signBucketAt(col("embedding"), bits, off))): _*)).as("bucket"))
    val a = banded.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = banded.select(col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim", round4(cosineSim(col("a_emb"), col("b_emb"))))
      .select(col("a_id"), col("b_id"), col("sim"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(col("sim")).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
      .orderBy("a_id", "b_id")
  }

  /** Band-OR near-dup CANDIDATES with bounded per-bucket pair generation —
    * the mega-bucket fix for CC-based dedup. All-pairs within a bucket is
    * C(k,2): a viral duplicate cluster of 10^5 copies at 100 TB would emit
    * 10^10 candidates from one bucket (PipelineScaleProbe measured the
    * super-linearity: 5.3/12.7/33.7 s at 1x/5x/10x with planted clusters).
    * For CONNECTIVITY — all the connected-components consumer needs — a
    * bucket of k members needs O(k) edges, not C(k,2): each member pairs
    * with its id-order neighbor (chain) and with the bucket's min-id member
    * (star anchor), 2k-2 candidates per bucket, every one still
    * cosine-verified so precision is unchanged. The trade (a mixed bucket
    * whose non-adjacent members are similar but whose chain/star links are
    * not may fragment a component) is the same recall-for-scale cap the
    * MinHash-LSH path takes with maxBucket, and the probe shows the planted
    * clusters stay intact.
    *
    * Mega-bucket bound (r13 VERDICT item 3): a corpus of near-identical
    * embeddings — PRECISELY SemDeDup's target — collapses into ONE sign
    * bucket per band, and a window partitioned by the bare bucket would
    * sort all of it on a single task (windows have no AQE skew remedy).
    * The chain/star window therefore partitions by (bucket, vec_id %
    * salts), bounding every window group at ~1/salts of the bucket.
    * Cross-salt connectivity is restored by ONE extra chain over the
    * per-salt anchors — a combiner aggregate emitting <= `salts` rows per
    * bucket, whose own window groups are <= `salts` rows. If every
    * emitted link verifies (the identical-embedding case), the bucket is
    * exactly as connected as the unsalted form: members chain within
    * their salt, star to their salt anchor, anchors chain to each other.
    * The salt is the id's BIGINT value mod `salts`, else its xxhash64 mod
    * `salts`: integral and digit-string ids salt by value (not a hash), so
    * the DuckDB oracle mirrors it token-for-token, and uuid strings from
    * `Ingest.prepare` (which a bare `pmod` would cast to BIGINT, throwing
    * under ANSI) by hash. `salts = 1` degenerates to the unsalted r12
    * plan (the probe baseline).
    */
  def boundedBandedPairs(e: DataFrame, bits: Int = 8,
      threshold: Double = 0.9, salts: Int = 64): DataFrame = {
    // r19 restructure, rows bitwise-identical (SemanticDedup specs +
    // oracle pin it): (a) the four bands ride ONE exploded relation — the
    // bucket string carries its band prefix, so the (bucket, salt) window
    // partitions exactly as the four per-band windows did — collapsing 8
    // window shuffles + 4 anchor aggregates to 1 + 1 of the same total
    // bytes (guide §2.4); (b) chain and star links are emitted in ONE pass
    // over the windowed rows via a 2-struct explode — the previous
    // chain/star filter-split re-ran the whole window subtree per consumer.
    val banded = e.select(col("vec_id"), col("embedding"),
      explode(array(Seq(0, 8, 16, 24).map(off =>
        concat_ws(":", lit(off.toString),
          signBucketAt(col("embedding"), bits, off))): _*)).as("bucket"))
      .withColumn("salt", pmod(coalesce(col("vec_id").try_cast("bigint"),
        xxhash64(col("vec_id"))), lit(salts.toLong)))
    val w = Window.partitionBy(col("bucket"), col("salt"))
      .orderBy(col("vec_id"))
    val nbrs = banded
      .withColumn("prev_id", lag(col("vec_id"), 1).over(w))
      .withColumn("prev_emb", lag(col("embedding"), 1).over(w))
      .withColumn("anchor_id", first(col("vec_id")).over(w))
      .withColumn("anchor_emb", first(col("embedding")).over(w))
    // chain = id-order neighbor (null prev on the group head drops out);
    // star = salt anchor, with the exact guard of the old filter-split
    // (anchor is not the row itself and not already its chain neighbor —
    // the null-prev head row never star-links, it IS the anchor)
    val cands = nbrs
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        explode(array(
          struct(col("prev_id").as("a_id"), col("prev_emb").as("a_emb")),
          struct(when(col("anchor_id") =!= col("vec_id") &&
              col("anchor_id") =!= col("prev_id"), col("anchor_id"))
            .as("a_id"),
            col("anchor_emb").as("a_emb")))).as("c"))
      .filter(col("c.a_id").isNotNull)
      .select(col("c.a_id").as("a_id"), col("b_id"),
        col("c.a_emb").as("a_emb"), col("b_emb"))
    // per-salt anchors chained in id order across the bucket: the only
    // whole-bucket stage left, over <= `salts` rows per bucket
    val wa = Window.partitionBy(col("bucket")).orderBy(col("anchor_id"))
    val across = banded.groupBy(col("bucket"), col("salt"))
      .agg(min(col("vec_id")).as("anchor_id"),
        min_by(col("embedding"), col("vec_id")).as("anchor_emb"))
      .withColumn("pa_id", lag(col("anchor_id"), 1).over(wa))
      .withColumn("pa_emb", lag(col("anchor_emb"), 1).over(wa))
      .filter(col("pa_id").isNotNull)
      .select(col("pa_id").as("a_id"), col("anchor_id").as("b_id"),
        col("pa_emb").as("a_emb"), col("anchor_emb").as("b_emb"))
    cands.unionByName(across)
      .withColumn("sim", round4(cosineSim(col("a_emb"), col("b_emb"))))
      .select(col("a_id"), col("b_id"), col("sim"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(col("sim")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  def bandedNearDupPairsSql(bits: Int = 8, threshold: Double = 0.9): String = {
    def bucketExpr(off: Int): String =
      (0 until bits).map(i =>
        s"(CASE WHEN embedding[${off + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
    val bands = Seq(0, 8, 16, 24).map(off =>
      s"SELECT vec_id, embedding, '$off:' || (${bucketExpr(off)}) AS bucket FROM embeddings")
      .mkString("\n         UNION ALL\n         ")
    s"""WITH keyed AS ($bands),
       pairs AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id,
           a.embedding AS ae, b.embedding AS be
         FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       px AS (SELECT a_id, b_id, unnest(ae)::DOUBLE AS x, unnest(be)::DOUBLE AS y
         FROM pairs),
       s AS (SELECT a_id, b_id, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
         FROM px GROUP BY 1, 2)
       SELECT a_id, b_id, sim FROM (
         SELECT a_id, b_id, round((CASE WHEN nx = 0 OR ny = 0 THEN 0
           ELSE dot / (sqrt(nx) * sqrt(ny)) END) + 1e-9, 4) + 0.0 AS sim FROM s) t
       WHERE sim >= $threshold ORDER BY a_id, b_id"""
  }

  /** Full IVF probe path. Coarse cells come from a deterministic quantizer
    * (sign-bucket = fixed hyperplane partition, `cellBits` planes -> up to
    * 2^cellBits cells); per-cell mean centroids are a tiny aggregate. A query
    * scores the centroids, probes the top-`nprobe` cells, and exact-searches
    * ONLY those cells' vectors — at 100 TB the scan shrinks by
    * (probed / total cells) while the plan stays scan +
    * TakeOrderedAndProject. `nprobe >= 2^cellBits` probes everything and is
    * bit-identical to brute force (the oracle anchor).
    *
    * `vectors` needs (vec_id, embedding) plus any pass-through columns;
    * output keeps pass-through columns + sim.
    */
  def ivfTopK(vectors: DataFrame, qvec: Array[Float], k: Int, nprobe: Int,
      cellBits: Int = 6): DataFrame = {
    val q = typedlit(qvec)
    val cells = vectors.withColumn("cell", signBucket(col("embedding"), cellBits))
    val probed = IvfIndex.cellCentroids(cells)
      .withColumn("csim", cosineSim(col("centroid"), q))
      .orderBy(desc("csim"), asc("cell"))
      .limit(nprobe)
      .select(col("cell"))
    val passThrough = vectors.columns.filter(_ != "embedding").toSeq.map(col)
    cells.join(broadcast(probed), Seq("cell"))
      .withColumn("sim", round4(cosineSim(col("embedding"), q)))
      .select(passThrough :+ col("sim"): _*)
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** Oracle-gated IVF query, now exercising the PERSISTED index end-to-end:
    * build (assignments cell-partitioned + centroid table) then query via
    * [[IvfIndex.topK]], probing ALL cells (nprobe = 2^cellBits) so the
    * result is hash-identical to brute-force top-k — proving the index path
    * (persisted centroids -> probe -> partition-pruned in-cell search)
    * loses nothing when it probes everything. The recall-at-reduced-nprobe
    * behavior is spec-gated on a clustered corpus (IVF presumes clustered
    * data; the driver's embeddings table is isotropic noise).
    */
  def ivfTopKAll(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 10): DataFrame = {
    // the cache key fingerprints the SOURCE FILES (path + length + mtime +
    // footer crc of every parquet part), not just the dir name: regenerated
    // testdata at the same path gets a fresh index instead of silently
    // serving top-k over deleted vectors — the same freshness contract a
    // table format's snapshot id would provide. mtime alone has 1-second
    // granularity on some filesystems, so the footer-tail crc joins the
    // key — same-size same-second regeneration still flips it.
    val indexPath = indexCachePath(dir, variant = "fp32")
    // index semantics: built once, reused by every query job against the
    // same (unchanged) source files
    if (!IvfIndex.exists(indexPath))
      IvfIndex.build(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), col("embedding")), indexPath)
    IvfIndex.topK(spark, indexPath, queryVector(spark, dir, queryId), k,
      nprobe = 64)
      .select(col("vec_id"), col("label"), col("sim"))
  }

  /** Oracle-gated QUANTIZED IVF query (VERDICT r6 item 4): the int8 index
    * ([[IvfIndex.buildQuantized]]) probed at full nprobe ranks candidates
    * with the dequantizing codegen cosine, then the exact fp32 refine
    * re-ranks the top `k * refine` — output must hash-match the same
    * brute-force top-k oracle as [[ivfTopKAll]], proving the
    * quantize-then-refine path loses nothing. The recall-at-reduced-nprobe
    * curve stays spec-gated (IvfIndexSpec recall@10 >= 0.95).
    */
  def ivfQuantizedTopKAll(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 10): DataFrame = {
    val indexPath = indexCachePath(dir, variant = "int8")
    val vectors = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    if (!IvfIndex.exists(indexPath)) IvfIndex.buildQuantized(vectors, indexPath)
    IvfIndex.topKQuantized(spark, indexPath, vectors,
      queryVector(spark, dir, queryId), k, nprobe = 64)
      .select(col("vec_id"), col("label"), col("sim"))
  }

  /** Reduced-nprobe IVF query over the persisted fp32 index (VERDICT r7
    * item 7): probe `nprobe` of the 64 cells instead of all of them — the
    * operating point where an IVF index actually pays (the scan shrinks by
    * nprobe/cells). Same plan tail as [[ivfTopKAll]]; recall@10 against the
    * full-probe result is the quality price, reported alongside the latency
    * in the bench row. Builds the index if absent (normally the load phase
    * already has).
    */
  def ivfTopKReduced(spark: SparkSession, dir: String, queryId: Long = 0,
      k: Int = 10, nprobe: Int = 8): DataFrame = {
    val indexPath = indexCachePath(dir, variant = "fp32")
    if (!IvfIndex.exists(indexPath))
      IvfIndex.build(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), col("embedding")), indexPath)
    IvfIndex.topK(spark, indexPath, queryVector(spark, dir, queryId), k, nprobe)
      .select(col("vec_id"), col("label"), col("sim"))
  }

  /** Reduced-nprobe twin of [[ivfQuantizedTopKAll]]: the int8 index probed
    * at `nprobe` cells with the dequantizing cosine + exact fp32 refine.
    * The int8 assignments are ~4x smaller than fp32, so this is the shape
    * where quantization's smaller scan can beat fp32 — the bench row pins
    * whether it does at the current scale.
    */
  def ivfQuantizedTopKReduced(spark: SparkSession, dir: String,
      queryId: Long = 0, k: Int = 10, nprobe: Int = 8): DataFrame = {
    val indexPath = indexCachePath(dir, variant = "int8")
    val vectors = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    if (!IvfIndex.exists(indexPath)) IvfIndex.buildQuantized(vectors, indexPath)
    IvfIndex.topKQuantized(spark, indexPath, vectors,
      queryVector(spark, dir, queryId), k, nprobe)
      .select(col("vec_id"), col("label"), col("sim"))
  }

  /** Content-fingerprinted index cache path shared by the IVF query jobs:
    * keyed on the source parquet parts (name, length, mtime, footer crc) so
    * regenerated testdata gets a fresh index, plus a `variant` tag so the
    * fp32 and int8 layouts never collide.
    */
  private def indexCachePath(dir: String, variant: String): String = {
    val src = new java.io.File(s"$dir/embeddings.parquet")
    val listed = if (src.isDirectory) Option(src.listFiles()).fold(Seq.empty[java.io.File])(_.toSeq)
                 else Seq(src)
    val parts = listed
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}:${footerCrc(f)}")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((dir + "|" + variant + "|" + parts.mkString("|")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-ivf-index", key).toString
  }

  /** CRC32 of a file's trailing 64 bytes (covers the parquet footer-length
    * word, magic, and the tail of the serialized metadata) — a cheap content
    * component for index-freshness keys where (length, mtime) alone can
    * collide. 0 for unreadable/short files.
    */
  private def footerCrc(f: java.io.File): Long = {
    try {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val n = math.min(64L, raf.length()).toInt
        raf.seek(raf.length() - n)
        val buf = new Array[Byte](n)
        raf.readFully(buf)
        val crc = new java.util.zip.CRC32()
        crc.update(buf)
        crc.getValue
      } finally raf.close()
    } catch { case _: java.io.IOException => 0L }
  }

  /** Per-label mean centroid, then each vector's cosine to its own label's
    * centroid (IVF-style coarse quantization building block). Centroids are a
    * tiny aggregate -> broadcast back.
    */
  def labelCentroidSim(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val exploded = e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
    val centroids = exploded.groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p.getField("cx").cast("float")).as("centroid"))
    e.join(broadcast(centroids), Seq("label"))
      .withColumn("sim", round4(cosineSim(col("embedding"), col("centroid"))))
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy("vec_id")
  }

  /** E3 semantic neighbor linking (`enrichment/runtime_helpers.py:177-254`):
    * per memory, KNN top-k above the similarity threshold -> bidirectional
    * SIMILAR_TO edges, deduped on (src, dst). Exact pair generation (the
    * reference-parity path — its threshold-0.8 KNN is exact per new memory);
    * the sign-bucketed blocked variant used for full-corpus linking at scale
    * is `q_sim_band_pairs`/DomainSpec. Sims round engine-stably before both
    * the threshold compare and the per-source rank so the edge set is
    * oracle-reproducible.
    */
  def semanticNeighborEdges(spark: SparkSession, dir: String, k: Int = 5,
      threshold: Double = 0.35): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("src"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("dst"), col("embedding").as("b_emb"))
    // cosine is symmetric: evaluate each pair ONCE on the src < dst half,
    // then mirror the surviving (thresholded) rows before the per-source
    // window — halves the O(n^2) similarity work, identical result
    // r19: pin the thresholded half BEFORE mirroring — the mirror union
    // has two consumers of `half`, and each one re-ran the whole O(n^2)
    // crossJoin cosine pass (the query's entire cost) before this. Lazy
    // cache (not an eager checkpoint): the first consumer materializes it
    // inside its own job; the pinned set is bounded (thresholded
    // survivors only).
    val half = a.crossJoin(b).filter(col("src") < col("dst"))
      .withColumn("sim", round4(cosineSim(col("a_emb"), col("b_emb"))))
      .filter(col("sim") >= threshold)
      .select(col("src"), col("dst"), col("sim"))
      .cache()
    val sims = half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst"), col("sim")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      .orderBy(desc("sim"), asc("dst"))
    val knn = sims.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("src"), col("dst"), col("sim"))
    val result = knn
      .unionByName(knn.select(col("dst").as("src"), col("src").as("dst"), col("sim")))
      .groupBy(col("src"), col("dst")).agg(max(col("sim")).as("sim"))
      .orderBy("src", "dst")
      .localCheckpoint() // bounded: <= 2nk edge rows — then release half
    half.unpersist()
    result
  }

  val semanticNeighborEdgesSql: String =
    """WITH px AS (SELECT a.vec_id AS src, b.vec_id AS dst,
           unnest(a.embedding)::DOUBLE AS x, unnest(b.embedding)::DOUBLE AS y
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       s AS (SELECT src, dst, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
         FROM px GROUP BY 1, 2),
       sims AS (SELECT src, dst, sim FROM (
           SELECT src, dst, round((CASE WHEN nx = 0 OR ny = 0 THEN 0
             ELSE dot / (sqrt(nx) * sqrt(ny)) END) + 1e-9, 4) + 0.0 AS sim FROM s) t
         WHERE sim >= 0.35),
       knn AS (SELECT src, dst, sim FROM (
           SELECT src, dst, sim, row_number() OVER (PARTITION BY src
             ORDER BY sim DESC, dst ASC) AS rn FROM sims) r WHERE rn <= 5),
       sym AS (SELECT src, dst, sim FROM knn
         UNION ALL SELECT dst, src, sim FROM knn)
       SELECT src, dst, max(sim) AS sim FROM sym GROUP BY 1, 2 ORDER BY 1, 2"""
}
