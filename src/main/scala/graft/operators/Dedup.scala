package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Document deduplication family for training-data pipelines: exact,
  * fingerprint keep-best (reference R1 dedup, `automem/api/recall.py:310-389`),
  * MinHash, and word-n-gram Jaccard. All scale paths avoid O(n^2): exact and
  * fingerprint are hash groupBys; MinHash groups by signature; Jaccard blocks
  * candidate pairs by (lang, source) before the pair join, so the shuffle key
  * bounds the quadratic term to within-block sizes.
  */
object Dedup {

  /** Exact duplicate groups by md5 of the raw text. */
  def exactDupGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_dup"), min(col("doc_id")).as("keep_id"))
      .orderBy("text_hash")

  /** R1-style fingerprint dedup keep-best: normalize -> first 64 chars, keep
    * the longest doc (tie: smallest id). Emits one row per surviving doc.
    *
    * Keep-best is ONE hash aggregate (`max_by` over the composite sort key),
    * never a `row_number` window partitioned by fingerprint: a boilerplate
    * page duplicated 10^7x is one fingerprint, and a window would sort that
    * whole group on a single task with no AQE remedy, while the aggregate
    * pre-combines per input partition (the [[dedupSources]] /
    * [[exactDupGroups]] idiom).
    */
  def fingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fp", fingerprint(col("text"), 64))
      .groupBy(col("fp"))
      .agg(
        // keep-longest, tie keep-smallest-id: max over (n_chars, -doc_id)
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
          .as("doc_id"),
        max(col("n_chars")).as("n_chars"))
      .select(col("doc_id"), col("fp"), col("n_chars"))
      .orderBy("doc_id")

  /** MinHash bucket dedup: docs sharing a full k-component signature are
    * near-dup candidates. Signature is a groupBy key — linear, no pair join.
    */
  def minhashGroups(spark: SparkSession, dir: String, k: Int = 4): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("sig", minhashSignature(col("text"), k))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)
      .orderBy("sig")

  /** MinHash + LSH banded near-dup pipeline (the canonical shingle ->
    * minhash -> band -> bucket-join chain): k minhash components over
    * distinct tokens, each component is one LSH band; docs sharing ANY band
    * value become candidate pairs (bucket-join per band, union, distinct);
    * candidates are then verified with exact 3-gram Jaccard and kept above
    * `threshold`. Only same-bucket docs ever pair — the corpus never
    * self-joins.
    */
  def minhashLshPairs(spark: SparkSession, dir: String, k: Int = 4,
      threshold: Double = 0.3, maxBucket: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // band rows: (band index, component value, doc)
    val bands = docs.select(col("doc_id"),
        posexplode(array((1 to k).map(s => minhashComponent(col("text"), s)): _*))
          .as(Seq("band", "mh")))
    // mega-buckets carry no near-dup signal (every doc collides) and
    // would explode the pair count quadratically — cap them, the standard
    // frequency-cap in LSH dedup at scale. Mirrored in the oracle.
    val grouped = bands.groupBy(col("band"), col("mh"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
    val candidates = grouped
      .select(explode(col("ds")).as("a_id"), col("ds"))
      .select(col("a_id"), explode(col("ds")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .distinct()
    // Verify candidates with exact 3-gram Jaccard computed ONLY for the
    // candidate pairs, CORPUS-WIDE. Two earlier defects live here: the
    // verification used to reuse the (lang, source)-BLOCKED jaccard table,
    // which silently dropped every cross-block candidate — cross-source
    // duplication is the primary catch of an LSH dedup stage — and it
    // computed jaccard for ALL co-shingled pairs first, making the banded
    // candidate bound pointless. Now the shingle sets semi-join into the
    // bounded candidate set, so the pair work is O(candidates), not
    // O(co-occurring pairs).
    //
    // r19: shingles come from [[shingleKeys]] (explode of a position range
    // + element_at — zero shuffles) instead of a posexplode + lead-window
    // pass that shuffled and sorted the whole token stream first. The
    // distinct shingle table is pinned ONCE (lazy cache, no eager barrier)
    // for its three consumers (per-doc counts + both sides of the
    // intersection join) — it was re-derived per consumer before, a
    // distinct shuffle each time.
    val sh = shingleKeys(docs).cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(sh.select(col("doc_id").as("a_id"), col("shk")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shk")), Seq("b_id", "shk"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
    // r19: for threshold > 0 the spine builds from `inter` directly — a
    // candidate pair sharing ZERO shingles has jaccard 0 and can never
    // pass the threshold, so the old left-join back onto `candidates`
    // (whose second consumption re-ran the whole minhash banding) only
    // ever contributed rows the filter dropped. The threshold <= 0 path
    // keeps the left join for callers that want non-sharing candidates
    // listed. Rows are identical either way (oracle keeps its left join).
    val spine =
      if (threshold > 0) inter
      else candidates.join(inter, Seq("a_id", "b_id"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
    val result = spine
      .join(counts.select(col("doc_id").as("a_id"), col("n_sh").as("a_n")),
        Seq("a_id"))
      .join(counts.select(col("doc_id").as("b_id"), col("n_sh").as("b_n")),
        Seq("b_id"))
      .withColumn("jaccard", graft.functions.round4(
        col("inter").cast("double") /
          (col("a_n") + col("b_n") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy("a_id", "b_id")
      .localCheckpoint() // bounded: verified pairs only — then release sh
    sh.unpersist()
    result
  }

  /** Distinct word-3-gram shingle keys per document, shuffle-free: explode
    * a per-row position range and read the grams with `element_at` — the
    * whole derivation is one codegen'd scan stage. The previous form
    * (posexplode + two `lead` windows) shuffled and SORTED the entire
    * token stream by (doc_id, pos) first, which at 100 TB is a full extra
    * pass over the corpus' heaviest relation (guide §2.4: remove shuffles
    * outright). Emits exactly the complete 3-grams (`i` ranges over
    * 1..len-2, 1-based), so results are identical to the window form.
    * An optional `blockKey` prepends block columns into the hash (the
    * ngram-jaccard (lang, source) blocking).
    */
  private def shingleKeys(docs: DataFrame,
      blockKey: Seq[Column] = Nil): DataFrame = {
    val tk = col("_tk")
    docs
      .select((col("doc_id") +: blockKey) :+
        tokens(col("text")).as("_tk"): _*)
      .filter(size(tk) >= 3)
      .select(((col("doc_id") +: blockKey) :+
        explode(sequence(lit(1), size(tk) - 2)).as("_i")) :+ tk: _*)
      .select(col("doc_id"),
        xxhash64(blockKey :+
          concat_ws(" ", element_at(tk, col("_i")),
            element_at(tk, col("_i") + 1),
            element_at(tk, col("_i") + 2)): _*).as("shk"))
      .distinct()
  }

  /** Shared CTE chain: banded candidates -> exact-Jaccard `jacc` table.
    * Consumed by [[minhashLshPairsSql]] and [[minhashLshFamiliesSql]].
    */
  private def lshPairCtes(k: Int, maxBucket: Int): String = {
    val toksE = raw"regexp_split_to_array(lower(trim(text)), '\s+')"
    val comps = (1 to k).map(s =>
      s"list_aggregate(list_transform(list_distinct($toksE), t -> md5(t || '#$s')), 'min')")
      .mkString(", ")
    s"""bands AS (SELECT doc_id, unnest([$comps]) AS mh,
           unnest(range(1, $k + 1)) AS band FROM documents),
       grouped AS (SELECT band, mh, list(doc_id) AS ds FROM bands
         GROUP BY 1, 2 HAVING count(*) > 1 AND count(*) <= $maxBucket),
       cand AS (SELECT DISTINCT a.a_id, b.b_id FROM
         (SELECT band, mh, unnest(ds) AS a_id FROM grouped) a
         JOIN (SELECT band, mh, unnest(ds) AS b_id FROM grouped) b
         ON a.band = b.band AND a.mh = b.mh AND a.a_id < b.b_id),
       t AS (SELECT doc_id, $toksE AS tk FROM documents),
       pos AS (SELECT doc_id, tk,
           unnest(range(1, len(tk) - 1)) AS i FROM t WHERE len(tk) >= 3),
       shex AS (SELECT DISTINCT doc_id,
           tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh FROM pos),
       counts AS (SELECT doc_id, count(*) AS n_sh FROM shex GROUP BY 1),
       ints AS (SELECT c.a_id, c.b_id, count(*) AS inter
         FROM cand c JOIN shex a ON a.doc_id = c.a_id
         JOIN shex b ON b.doc_id = c.b_id AND b.sh = a.sh
         GROUP BY 1, 2),
       jacc AS (SELECT c.a_id, c.b_id,
           round((coalesce(i.inter, 0) * 1.0 /
             (ca.n_sh + cb.n_sh - coalesce(i.inter, 0))) + 1e-9, 4) + 0.0 AS jaccard
         FROM cand c
         LEFT JOIN ints i ON i.a_id = c.a_id AND i.b_id = c.b_id
         JOIN counts ca ON ca.doc_id = c.a_id
         JOIN counts cb ON cb.doc_id = c.b_id)"""
  }

  def minhashLshPairsSql(k: Int = 4, threshold: Double = 0.3,
      maxBucket: Int = 50): String =
    s"""WITH ${lshPairCtes(k, maxBucket)}
       SELECT a_id, b_id, jaccard FROM jacc
       WHERE jaccard >= $threshold ORDER BY a_id, b_id"""

  /** MinHash-LSH fuzzy-dedup FAMILIES — the transitive closure a
    * production dedup runs on top of the pair detector (the
    * SlimPajama/The-Stack pipeline shape: LSH candidate pairs -> verify ->
    * connected components -> keep one exemplar per family). Pairs come
    * from [[minhashLshPairs]] (banded candidates, exact-Jaccard verified);
    * components from pointer-jumping min-label propagation
    * ([[graft.domain.Consolidation.connectedComponents]]). Transitivity is
    * the point: A~B and B~C place A and C in one family even when A and C
    * share no band — pair-level keep-best would keep both.
    *
    * Scale shape: the pair stage is [[minhashLshPairs]]'s (bucket-join,
    * capped mega-buckets, O(candidates) verification); CC then runs on the
    * PAIR graph only — duplicate mass, not the corpus — in O(log diameter)
    * rounds of bounded shuffles. Emits one row per clustered doc: family
    * label (= min member id), family size, keeper flag; unique docs stay
    * out, so output is bounded by duplicate mass.
    */
  def minhashLshFamilies(spark: SparkSession, dir: String, k: Int = 4,
      threshold: Double = 0.3, maxBucket: Int = 50): DataFrame = {
    val pairs = minhashLshPairs(spark, dir, k, threshold, maxBucket)
      .select(col("a_id").as("src"), col("b_id").as("dst")).cache()
    val out = familiesFromPairs(pairs)
      .localCheckpoint() // materialize before releasing the pair cache
    pairs.unpersist()
    out
  }

  /** Family labeling over a verified near-dup PAIR graph: pointer-jumping
    * connected components, then family size and keeper flag. Extracted so
    * the mega-family skew probe can exercise exactly this stage with a
    * planted 10^5-member component.
    *
    * family_size is a groupBy + join-back, NOT `count().over(partitionBy)`:
    * a window moves every row of a family onto one task, and 100 TB
    * web-crawl boilerplate families run 10^7-10^8 members — a guaranteed
    * straggler. The aggregate pre-combines per map partition (a mega-family
    * collapses to one row per partition before the shuffle), and the
    * join-back reuses the same shuffle key. Output is bitwise-identical to
    * the window form. The final orderBy stays: a range-partitioned global
    * sort spreads a mega-family across tasks at (family, doc_id)
    * boundaries, so it is NOT a skew point.
    */
  def familiesFromPairs(pairs: DataFrame): DataFrame = {
    val vertices = pairs.select(col("src").as("id"))
      .unionByName(pairs.select(col("dst").as("id"))).distinct()
    val cc = graft.domain.Consolidation.connectedComponents(vertices, pairs)
    val sizes = cc.groupBy(col("component"))
      .agg(count(lit(1)).as("family_size"))
    cc.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component").as("family"),
        col("family_size"), (col("id") === col("component")).as("is_keeper"))
      .orderBy("family", "doc_id")
  }

  def minhashLshFamiliesSql(k: Int = 4, threshold: Double = 0.3,
      maxBucket: Int = 50): String =
    s"""WITH ${lshPairCtes(k, maxBucket)},
       np AS (SELECT a_id, b_id FROM jacc WHERE jaccard >= $threshold),
       edges AS (SELECT a_id AS src, b_id AS dst FROM np
         UNION ALL SELECT b_id, a_id FROM np),
       reach AS (
         WITH RECURSIVE r(a, b) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b)
         SELECT a AS doc_id, min(b) AS family FROM r GROUP BY a)
       SELECT doc_id, family,
         CAST(count(*) OVER (PARTITION BY family) AS BIGINT) AS family_size,
         doc_id = family AS is_keeper
       FROM reach ORDER BY family, doc_id"""

  /** SimHash text dedup: 16-bit signature where bit b is set iff the sum of
    * (+1/-1 for bit b of each distinct token's 60-bit md5-derived hash) is
    * positive. Docs sharing a signature are near-dup candidates; the
    * signature is a groupBy key — linear. The token hash is
    * hex(md5)->int, bit-identical across engines.
    */
  def simhashGroups(spark: SparkSession, dir: String, bits: Int = 16): DataFrame = {
    val toksD = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    val bitSums = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val sums = toksD.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    sums.withColumn("sig", sig)
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy("sig")
  }

  def simhashGroupsSql(bits: Int = 16): String = {
    val toks = raw"regexp_split_to_array(lower(trim(text)), '\s+')"
    val bitSums = (0 until bits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(",\n           ")
    val sigExpr = (0 until bits).map(b =>
      s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, unnest(list_distinct($toks)) AS tok FROM documents),
       h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
       bsums AS (SELECT doc_id,
           $bitSums
         FROM h GROUP BY 1),
       sigs AS (SELECT doc_id, CAST($sigExpr AS BIGINT) AS sig FROM bsums)
       SELECT sig, count(*) AS n_docs, min(doc_id) AS keep_id
       FROM sigs GROUP BY 1 ORDER BY 1"""
  }

  /** Word-3-gram Jaccard near-dup pairs within (lang, source) blocks.
    * Jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) over distinct shingles;
    * pairs with jaccard >= threshold, a < b.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5, hotShingleCutoff: Int = 1024): DataFrame = {
    // Shingles via [[shingleKeys]] (r19): explode of a position range +
    // element_at — one codegen'd scan stage, ZERO shuffles, where the
    // previous posexplode + lead-window form shuffled and sorted the whole
    // token stream by (doc_id, pos) first (guide §2.4). (An earlier draft
    // that built per-row shingle ARRAYS with slice/concat higher-order
    // functions measured an order of magnitude slower — the lambdas
    // interpret per element; the range-explode form stays in whole-stage
    // codegen.) The shingle is hashed with its (lang, source) block key
    // into one 64-bit join key: far cheaper to shuffle than 3 string
    // columns; collision probability ~n^2/2^64. The distinct shingle table
    // is materialized once for its two consumers (per-doc sizes + group
    // pairing), and per-doc sizes now attach to the PAIR table (bounded by
    // co-occurrence) via two joins instead of riding every shingle row
    // through a corpus-wide count window (guide §2.3: shuffle fewer bytes).
    val docs = Tables.documents(spark, dir)
    val shk = shingleKeys(docs, Seq(col("lang"), col("source")))
      .cache()
    val n = shk.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // Pair generation inside shingle groups (double explode over the tiny
    // per-shingle doc lists) — the expensive shingle subtree is computed
    // ONCE instead of twice as in a self-join, and only co-occurring docs
    // ever pair up.
    //
    // HOT-SHINGLE SKEW GUARD (r20, VERDICT r19 item 5, guide §2.2): the
    // declared semantics need EVERY co-occurring pair (no df cap like
    // containment's), but a boilerplate shingle shared by k documents used
    // to materialize one k-element list in ONE task and explode k²/2 pairs
    // there — the classic single-giant-key straggler AQE cannot split
    // (it is an aggregation, not a join). Shingles with df above the
    // cutoff now pair TWO-LEVEL: each doc hashes into one of
    // m = ceil(df/cutoff) buckets, each doc row replicates to the m
    // unordered bucket-pair tasks containing its bucket, and task (i, j)
    // emits within-bucket pairs when i = j and strictly cross-bucket pairs
    // when i < j — so every (a, b) pair of the hot shingle is emitted
    // EXACTLY once (in task (min(g_a, g_b), max(g_a, g_b))), the emitted
    // pair multiset is identical (oracle hash unchanged; pinned by
    // DedupQualitySpec "ngram-Jaccard: the hot-shingle split at cutoff 2
    // returns the default cutoff's rows bitwise"), and no task ever holds more than
    // ~2·cutoff docs / ~cutoff² pairs. The bucket key derives
    // deterministically from doc_id (pmod(xxhash64), guide §2.5 — never
    // rand()). The hot-key table is df > cutoff only — bounded and tiny at
    // any scale (it is the boilerplate set) — so it broadcasts; at bench
    // SFs it is empty and the rare path is plan-identical modulo the
    // anti-join.
    val byDf = shk.groupBy(col("shk")).agg(count(lit(1)).as("df"))
    val hotKeys = byDf.filter(col("df") > hotShingleCutoff)
    val rarePairs = shk
      .join(broadcast(hotKeys).select(col("shk")), Seq("shk"), "left_anti")
      .groupBy(col("shk"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("a_id"), col("ds"))
      .select(col("a_id"), explode(col("ds")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    val hotPairs = shk
      .join(broadcast(hotKeys), Seq("shk"))
      .withColumn("m",
        ceil(col("df") / lit(hotShingleCutoff.toDouble)).cast("int"))
      .withColumn("g", pmod(xxhash64(col("doc_id")), col("m")).cast("int"))
      .select(col("shk"), col("doc_id"), col("g"),
        explode(sequence(lit(0), col("m") - 1)).as("p"))
      .select(col("shk"), col("doc_id"), col("g"),
        least(col("g"), col("p")).as("i"),
        greatest(col("g"), col("p")).as("j"))
      .groupBy(col("shk"), col("i"), col("j"))
      .agg(collect_list(struct(col("doc_id").as("d"), col("g").as("gg")))
        .as("ds"))
      .select(col("i"), col("j"), explode(col("ds")).as("a"), col("ds"))
      .select(col("i"), col("j"), col("a"), explode(col("ds")).as("b"))
      .filter(col("a.d") < col("b.d") &&
        (col("i") === col("j") || col("a.gg") =!= col("b.gg")))
      .select(col("a.d").as("a_id"), col("b.d").as("b_id"))
    val result = rarePairs.unionByName(hotPairs)
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(n.select(col("doc_id").as("a_id"), col("n_sh").as("a_n")),
        Seq("a_id"))
      .join(n.select(col("doc_id").as("b_id"), col("n_sh").as("b_n")),
        Seq("b_id"))
      .withColumn("jaccard",
        graft.functions.round4(col("inter").cast("double") /
          (col("a_n") + col("b_n") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy("a_id", "b_id")
      .localCheckpoint() // bounded: flagged pairs only — then release shk
    shk.unpersist()
    result
  }

  /** Asymmetric containment near-dup pairs: C(A,B) = |S(A) ∩ S(B)| /
    * min(|S(A)|, |S(B)|) over distinct word-3-gram shingles — the
    * subset-inclusion complement of [[ngramJaccardPairs]] (a short document
    * quoted wholesale inside a long one has high containment but low
    * Jaccard, so a Jaccard-only dedup pass ships the duplicate).
    *
    * Two-phase, both bounded: candidate pairs come ONLY from shingles with
    * document frequency <= `maxDf` (pairs sharing nothing but
    * corpus-frequent boilerplate shingles are out of scope BY SEMANTICS —
    * the boilerplate filter owns those — and the df cap is what keeps
    * in-group pairing from exploding on a hot shingle at 100 TB); the
    * intersection is then verified EXACTLY over all shingles of each
    * candidate pair. Shingles ride one 64-bit hash key through every
    * join/group (collision odds ~n²/2⁶⁴).
    */
  def containmentPairs(spark: SparkSession, dir: String, maxDf: Int = 20,
      threshold: Double = 0.5): DataFrame = {
    // materialize the distinct shingle table ONCE: four consumers follow
    // (per-doc sizes, df filter, and both sides of the verify join), and
    // recomputing the shingle pass per consumer dominated the runtime
    // (12.9 -> measured below). At 100 TB this table is the pipeline's
    // natural persisted artifact (write parquet once, read 4x);
    // localCheckpoint is the single-job analog. r19: the shingles
    // themselves come from [[shingleKeys]] (range-explode + element_at,
    // zero shuffles) instead of the posexplode + lead-window pass that
    // shuffled and sorted the whole token stream first (guide §2.4).
    val shk = shingleKeys(Tables.documents(spark, dir))
      .localCheckpoint()
    val n = shk.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val byDf = shk.groupBy("shk").agg(count(lit(1)).as("df"))
    // the intersection splits by shingle frequency: rare-shared counts fall
    // out of candidate pairing itself (each shared rare shingle emits
    // exactly one pair row), and only the TINY frequent-shingle set (df >
    // maxDf — boilerplate, a few dozen keys at any corpus size worth having)
    // is joined per candidate pair to complete the exact count. Joining
    // candidates against EVERY shingle of both docs instead was the
    // dominant cost (~|cand| x avg-shingles rows, measured 9.3 s warm at
    // sf0.1 vs 3.9 s for this split).
    val rare = shk.join(byDf.filter(col("df") <= maxDf).select("shk"), Seq("shk"))
    val rarePairs = rare.groupBy(col("shk"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("a_id"), col("ds"))
      .select(col("a_id"), explode(col("ds")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("rare_inter"))
    val freqSh = shk.join(byDf.filter(col("df") > maxDf).select("shk"), Seq("shk"))
    val freqInter = rarePairs.select(col("a_id"), col("b_id"))
      .join(freqSh.select(col("doc_id").as("a_id"), col("shk")), Seq("a_id"))
      .join(freqSh.select(col("doc_id").as("b_id"), col("shk")), Seq("b_id", "shk"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("freq_inter"))
    val result = rarePairs
      .join(freqInter, Seq("a_id", "b_id"), "left")
      .withColumn("n_inter",
        col("rare_inter") + coalesce(col("freq_inter"), lit(0L)))
      .join(n.select(col("doc_id").as("a_id"), col("n_sh").as("a_n")), Seq("a_id"))
      .join(n.select(col("doc_id").as("b_id"), col("n_sh").as("b_n")), Seq("b_id"))
      .withColumn("c_max", graft.functions.round4(
        greatest(col("n_inter") / col("a_n"), col("n_inter") / col("b_n"))))
      .filter(col("c_max") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_inter"), col("c_max"))
      .orderBy("a_id", "b_id")
      .localCheckpoint()
    // result is materialized (bounded: flagged pairs only) — release the
    // shingle-table blocks now instead of when the frame is GC'd
    graft.functions.releaseCheckpoint(shk)
    result
  }

  val containmentPairsSql: String =
    raw"""WITH t AS (SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
       pos AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
         FROM t WHERE len(tk) >= 3),
       sh AS (SELECT DISTINCT doc_id,
           tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh FROM pos),
       n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       dfq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
       rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfq USING (sh)
         WHERE df <= 20),
       cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
       inter AS (SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS n_inter
         FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
         JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh GROUP BY 1, 2)
       SELECT a_id, b_id, n_inter, c_max FROM (
         SELECT i.a_id, i.b_id, i.n_inter,
           round(greatest(i.n_inter * 1.0 / na.n_sh,
             i.n_inter * 1.0 / nb.n_sh) + 1e-9, 4) + 0.0 AS c_max
         FROM inter i JOIN n na ON na.doc_id = i.a_id
         JOIN n nb ON nb.doc_id = i.b_id) v
       WHERE c_max >= 0.5 ORDER BY a_id, b_id"""

  /** Winnowing fingerprint pairs (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * algorithm): per document, hash every word-3-gram, slide a window of
    * `w` consecutive hashes, and select each window's MINIMUM as a
    * fingerprint; documents sharing >= `minShared` selected fingerprints
    * pair up. Winnowing's guarantee — any verbatim run of at least
    * w + n - 1 tokens shares a fingerprint (spec-pinned) — is what MinHash
    * (whole-doc similarity) and containment (whole-set ratio) don't give:
    * LOCAL overlap detection with O(len/w) fingerprints per doc instead of
    * every shingle.
    *
    * Scale shape: gram hashing + window-min are per-doc windows (codegen,
    * one shuffle on doc_id); fingerprints are distinct-compacted; pairing
    * uses the same df-capped in-group explode as the rest of the dedup
    * family. Trailing partial windows are dropped (`lead(h, w-1)` gate) —
    * fingerprints only from complete windows, mirrored in the oracle.
    */
  def winnowingPairs(spark: SparkSession, dir: String, w: Int = 4,
      maxDf: Int = 20, minShared: Int = 2): DataFrame = {
    // r19: gram hashes come from a range-explode + element_at projection
    // (one codegen'd scan stage, no shuffle) instead of a posexplode +
    // lead-window pass — the ONLY remaining window work is the w-window
    // minimum itself, which genuinely needs the (doc_id, pos) sort, and
    // its input is now the narrow (doc_id, pos, h) gram stream rather
    // than the raw token stream with two lead columns (guide §2.3/§2.4).
    val tk = col("_tk")
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("_tk"))
      .filter(size(tk) >= 3)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(tk) - 2)).as("pos"), tk)
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(concat_ws(" ", element_at(tk, col("pos")),
          element_at(tk, col("pos") + 1), element_at(tk, col("pos") + 2))),
          1, 15), 16, 10).cast("long").as("h"))
    // the fingerprint table has TWO consumers (the df filter's build side
    // and the rare join's probe side) — pin it once (r19; lazy cache, not
    // an eager checkpoint: the first consumer materializes it inside its
    // own job, no extra barrier)
    val fp = grams
      .withColumn("wmin", min(col("h")).over(wd.rowsBetween(0, w - 1)))
      .withColumn("h_end", lead(col("h"), w - 1).over(wd))
      .filter(col("h_end").isNotNull)
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
      .cache()
    val rare = fp.join(
      fp.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("fp"), Seq("fp"))
    val result = rare.groupBy(col("fp"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("a_id"), col("ds"))
      .select(col("a_id"), explode(col("ds")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("a_id", "b_id")
      .localCheckpoint() // bounded: flagged pairs only — then release fp
    fp.unpersist()
    result
  }

  val winnowingPairsSql: String =
    raw"""WITH t AS (SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
       pos AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
         FROM t WHERE len(tk) >= 3),
       g AS (SELECT doc_id, i,
           ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT AS h
         FROM pos),
       wm AS (SELECT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
           lead(h, 3) OVER (PARTITION BY doc_id ORDER BY i) AS h_end
         FROM g),
       fp AS (SELECT DISTINCT doc_id, wmin AS fp FROM wm WHERE h_end IS NOT NULL),
       dfq AS (SELECT fp, count(*) AS df FROM fp GROUP BY 1),
       rare AS (SELECT f.doc_id, f.fp FROM fp f JOIN dfq USING (fp)
         WHERE df <= 20)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(count(*) AS BIGINT) AS n_shared
       FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY a_id, b_id"""

  /** U7 entity-dedup candidate pairs (`automem/consolidation/entity_dedup
    * .py:43-322`): block by (nation, segment) as the reference blocks by
    * category/length, then PIGEONHOLE the edit-distance-1 search — two
    * equal-length strings within one substitution must agree EXACTLY on one
    * of the two halves of their variable part, so candidates come from two
    * equi-joins (on the half keys) instead of an in-block cross product.
    * Exact levenshtein verifies the survivors. The quadratic never
    * materializes at any block size.
    */
  def levenshteinPairs(spark: SparkSession, dir: String,
      maxDist: Int = 1): DataFrame = {
    // the two-half pigeonhole is complete ONLY for distance <= 1 (one edit
    // leaves at least one half untouched); distance-2 pairs can differ in
    // BOTH halves, which the half-key equi-joins would silently miss while
    // the oracle's in-block cross product finds them — generalizing needs
    // maxDist+1 chunks
    require(maxDist <= 1,
      s"half-key blocking only guarantees completeness for maxDist <= 1, got $maxDist")
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"),
        // variable part of "Customer#000000001" split into two halves
        substring(col("c_name"), 10, 5).as("h1"),
        substring(col("c_name"), 15, 16).as("h2"))
    def half(h: String): DataFrame = {
      val a = c.select(col("c_nationkey").as("blk1"),
        col("c_mktsegment").as("blk2"), col(h).as("hk"),
        col("c_custkey").as("a_id"), col("c_name").as("a_name"))
      val b = c.select(col("c_nationkey").as("blk1"),
        col("c_mktsegment").as("blk2"), col(h).as("hk"),
        col("c_custkey").as("b_id"), col("c_name").as("b_name"))
      a.join(b, Seq("blk1", "blk2", "hk")).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("a_name"), col("b_name"))
    }
    half("h1").unionByName(half("h2")).distinct()
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
      .orderBy("a_id", "b_id")
  }

  def levenshteinPairsSql(maxDist: Int = 1): String =
    s"""SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
       FROM customer a JOIN customer b
         ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
       WHERE levenshtein(a.c_name, b.c_name) <= $maxDist
       ORDER BY 1, 2"""

  /** A10 dedup-source aggregation (`recall.py:382-387`): keep-best
    * fingerprint dedup that also RECORDS what it merged — per surviving row,
    * the sorted id list (and count) of the rows it absorbed, the reference's
    * `deduped_from`. Same keep-best `max_by` aggregate as
    * [[fingerprintDedup]]; losers aggregate per fingerprint alongside it. The list is
    * joined to a string so the cross-engine compare is on a scalar.
    */
  def dedupSources(spark: SparkSession, dir: String): DataFrame =
    // one hash aggregate, no window, no self-join: the keeper is the
    // max_by over the keep-best sort key (n_chars desc, doc_id asc) and the
    // absorbed ids are the sorted group minus the keeper
    Tables.documents(spark, dir)
      .withColumn("fp", fingerprint(col("text"), 64))
      .groupBy(col("fp"))
      .agg(
        // composite keep-best key (n_chars desc, doc_id asc) as a struct
        // ordering key — overflow-free at any doc_id/n_chars magnitude
        // (the DuckDB twin mirrors it with a row_number window)
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id")))
          .as("keep_id"),
        count(lit(1)).as("n_dup"),
        sort_array(collect_list(col("doc_id"))).as("all_ids"))
      .filter(col("n_dup") > 1)
      .select(col("keep_id"), col("fp"), (col("n_dup") - 1).as("n_merged"),
        array_join(array_remove(col("all_ids"), col("keep_id")), ",")
          .as("deduped_from"))
      .orderBy("keep_id")

  val dedupSourcesSql: String =
    """WITH base AS (SELECT doc_id, n_chars,
           substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 64) AS fp
         FROM documents),
       g AS (SELECT fp, count(*) AS n_dup,
           list_sort(list(doc_id)) AS all_ids
         FROM base GROUP BY 1),
       k AS (SELECT fp, doc_id AS keep_id FROM (
           SELECT fp, doc_id, row_number() OVER (
             PARTITION BY fp ORDER BY n_chars DESC, doc_id ASC) AS rk
           FROM base) WHERE rk = 1)
       SELECT k.keep_id, g.fp, g.n_dup - 1 AS n_merged,
         array_to_string(list_filter(g.all_ids, x -> x <> k.keep_id), ',')
           AS deduped_from
       FROM g JOIN k USING (fp) WHERE g.n_dup > 1 ORDER BY keep_id"""

  /** Semantic (embedding-cosine) dedup keep-best, the SemDeDup-style stage
    * of a pre-training pipeline (Abbas et al. 2023: cluster near-identical
    * embeddings, keep one exemplar per cluster): band-OR blocked near-dup
    * pairs ([[Similarity.bandedNearDupPairs]] — sign-bucket LSH candidates,
    * never O(n^2)) -> pointer-jumping connected components over the pair
    * graph ([[graft.domain.Consolidation.connectedComponents]]) -> keeper =
    * the min-id member (the CC label itself under min-label propagation).
    * Emits one row per clustered vector; vectors with no near-dup neighbor
    * are untouched survivors and stay out of the result, so the output size
    * is bounded by the duplicate mass, not the corpus.
    *
    * Scale shape: the pair generation shuffles on (band, bucket), CC on the
    * pair graph only (duplicate clusters, tiny vs corpus), keep-best is the
    * label compare — every stage linear in corpus size at fixed duplicate
    * density. The DuckDB oracle mirrors the band bucketing and closes the
    * graph with a recursive CTE.
    */
  def semanticDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.9): DataFrame =
    semanticDedup(graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")), threshold)

  /** DataFrame-parametric form — the library API; needs (vec_id, embedding).
    * Uses BOUNDED per-bucket pair generation
    * ([[Similarity.boundedBandedPairs]]): the CC consumer only needs
    * connectivity, so a duplicate mega-bucket contributes O(k) candidates,
    * not C(k,2) (measured super-linear in the all-pairs form: see
    * [[Similarity.boundedBandedPairs]]).
    */
  def semanticDedup(vectors: DataFrame, threshold: Double): DataFrame = {
    // the pair graph feeds BOTH the vertex derivation and the CC edge side
    // — cache it so the 4-band bucket join runs once, not once per consumer
    val pairs = Similarity.boundedBandedPairs(vectors, 8, threshold)
      .select(col("a_id").as("src"), col("b_id").as("dst")).cache()
    val vertices = pairs.select(col("src").as("id"))
      .unionByName(pairs.select(col("dst").as("id"))).distinct()
    val out = graft.domain.Consolidation.connectedComponents(vertices, pairs)
      .select(col("id").as("vec_id"), col("component"),
        (col("id") === col("component")).as("is_keeper"))
      .orderBy("component", "vec_id")
      .localCheckpoint() // materialize before releasing the pair cache
    pairs.unpersist()
    out
  }

  def semanticDedupSql(threshold: Double = 0.9): String = {
    def bucketExpr(off: Int): String =
      (0 until 8).map(i =>
        s"(CASE WHEN embedding[${off + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
    val bands = Seq(0, 8, 16, 24).map(off =>
      s"SELECT vec_id, embedding, '$off:' || (${bucketExpr(off)}) AS bucket FROM embeddings")
      .mkString("\n         UNION ALL\n         ")
    // mirrors boundedBandedPairs: per (band, bucket, vec_id % 64 salt) the
    // chain (id-order neighbor) + star (salt min anchor) candidates, plus
    // the per-salt anchor chain across the bucket, cosine-verified.
    // The salt mirrors Spark's pmod NON-NEGATIVELY (r15, ADVICE r14):
    // SQL % is sign-following, so a negative vec_id would otherwise land
    // the two engines in different salt partitions and diverge.
    s"""WITH keyed0 AS ($bands),
       keyed AS (SELECT vec_id, embedding, bucket,
           ((vec_id % 64) + 64) % 64 AS salt
         FROM keyed0),
       nbr AS (SELECT bucket, salt, vec_id, embedding,
           lag(vec_id) OVER w AS prev_id, lag(embedding) OVER w AS prev_emb,
           first_value(vec_id) OVER w AS anchor_id,
           first_value(embedding) OVER w AS anchor_emb
         FROM keyed WINDOW w AS (PARTITION BY bucket, salt ORDER BY vec_id)),
       anch AS (SELECT bucket, salt, min(vec_id) AS anchor_id,
           arg_min(embedding, vec_id) AS anchor_emb
         FROM keyed GROUP BY 1, 2),
       across AS (SELECT bucket, anchor_id, anchor_emb,
           lag(anchor_id) OVER wa AS pa_id, lag(anchor_emb) OVER wa AS pa_emb
         FROM anch WINDOW wa AS (PARTITION BY bucket ORDER BY anchor_id)),
       cand AS (
         SELECT DISTINCT a_id, b_id, ae, be FROM (
           SELECT prev_id AS a_id, vec_id AS b_id, prev_emb AS ae,
             embedding AS be FROM nbr WHERE prev_id IS NOT NULL
           UNION ALL
           SELECT anchor_id, vec_id, anchor_emb, embedding FROM nbr
           WHERE anchor_id <> vec_id AND (prev_id IS NULL OR anchor_id <> prev_id)
           UNION ALL
           SELECT pa_id, anchor_id, pa_emb, anchor_emb FROM across
           WHERE pa_id IS NOT NULL)),
       px AS (SELECT a_id, b_id, unnest(ae)::DOUBLE AS x, unnest(be)::DOUBLE AS y
         FROM cand),
       s AS (SELECT a_id, b_id, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
         FROM px GROUP BY 1, 2),
       np AS (SELECT a_id, b_id FROM (
           SELECT a_id, b_id, round((CASE WHEN nx = 0 OR ny = 0 THEN 0
             ELSE dot / (sqrt(nx) * sqrt(ny)) END) + 1e-9, 4) + 0.0 AS sim FROM s) t
         WHERE sim >= $threshold),
       edges AS (SELECT a_id AS src, b_id AS dst FROM np
         UNION ALL SELECT b_id, a_id FROM np),
       reach AS (
         WITH RECURSIVE r(a, b) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT r.a, e.dst FROM r JOIN edges e ON e.src = r.b)
         SELECT a AS vec_id, min(b) AS component FROM r GROUP BY a)
       SELECT vec_id, component, vec_id = component AS is_keeper
       FROM reach ORDER BY component, vec_id"""
  }

  /** Exact-substring duplicate SPANS (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * dedup used for the paper's C4/RealNews results): any `n`-token run
    * whose text occurs >= 2 times ANYWHERE in the corpus (other
    * documents or the same one) is a removable duplicate span. Per
    * document this reports the merged maximal spans: how many, how many
    * tokens they cover, and the covered fraction — the accounting a
    * pipeline cuts against. This is the complement of the PAIR detectors
    * (winnowing/containment find which docs overlap; this marks WHICH
    * TOKENS are duplicated, including within-document repetition that no
    * pairwise score can express).
    *
    * Shape, suffix-array-free: the paper builds a corpus suffix array —
    * a global sort Spark would pay a full shuffle for. Equal coverage for
    * fixed n comes from the gram table instead: window `lead`s build each
    * position's n-gram STRING (no hash — the string is the join key in
    * BOTH engines, so the oracle cannot drift on hash choice), one
    * groupBy counts global occurrences, duplicated starts join back, and
    * a per-doc running-max window merges overlapping/touching intervals
    * into maximal spans. Everything shuffles on doc_id or gram — linear,
    * combiner-friendly, no corpus×corpus stage; the gram table is the
    * same persisted artifact the containment detector builds.
    */
  def substringDupSpans(spark: SparkSession, dir: String, n: Int = 8)
      : DataFrame = substringDupSpans(spark, dir, n, hashed = false)

  /** [[substringDupSpans]] with the at-scale gram representation (r12,
    * VERDICT r11 item 3). The paper's operating point is min-length 50
    * tokens (Lee et al. 2022 §4.1: they remove duplicated substrings of
    * >= 50 BPE tokens) — at n = 50 a literal gram STRING is ~50x corpus
    * text, so the n = 8 string-gram form (kept as the cross-engine oracle,
    * where the string key means DuckDB cannot drift on hash choice) does
    * not scale to the paper's semantics. `hashed = true` runs the global
    * occurrence count on `xxhash64(gram)` — the dominant shuffle then
    * carries 8 bytes per position instead of the gram text — and then
    * VERIFIES candidates on the exact string: positions whose hash is
    * duplicated re-group on the literal gram, and only exact-string
    * matches mark duplicate starts. Results are therefore EXACTLY equal
    * to the string form at any n (a 64-bit collision can only send an
    * extra position into verification, where the string compare rejects
    * it) — pinned by DedupQualitySpec at sf0.01. The verification join
    * ships gram text only for hash-duplicated positions; when the
    * duplicated set is small Spark's runtime bloom filter / broadcast
    * keeps that stage narrow too.
    */
  def substringDupSpans(spark: SparkSession, dir: String, n: Int,
      hashed: Boolean): DataFrame =
    substringDupSpansDf(Tables.documents(spark, dir), n, hashed)

  /** DataFrame-parametric form — needs (doc_id, text). */
  def substringDupSpansDf(docs: DataFrame, n: Int,
      hashed: Boolean): DataFrame =
    substringDupSpansFromTokens(
      docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok"))),
      docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens")),
      n, hashed)

  /** [[substringDupSpansDf]] over a PRECOMPUTED (doc_id, pos, tok)
    * position-explode plus a (doc_id, n_tokens) length relation (which
    * must still carry zero-token docs — they exist in `docLens` but not
    * in the explode) — the corpus-report composition point
    * ([[graft.jobs.CorpusReportJob]] shares one tokenize pass across all
    * report relations).
    */
  def substringDupSpansFromTokens(toks: DataFrame, docLens: DataFrame,
      n: Int, hashed: Boolean): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gramCols = (1 until n).map(i => lead(col("tok"), i).over(w))
    // two consumers (occurrence counts + start marking) re-derive the gram
    // table; at corpus scale write it to parquet once instead (the same
    // persisted-artifact note as containmentPairs — a localCheckpoint here
    // would outlive this function's scope, and the RESULT is per-doc, i.e.
    // corpus-sized, so pinning it is not an option either)
    val grams = toks
      .withColumn("g", concat_ws(" ", col("tok") +: gramCols: _*))
      .withColumn("_last", gramCols.last)
      .filter(col("_last").isNotNull)
      .select(col("doc_id"), col("pos"), col("g"))
    val dupStarts =
      if (!hashed) {
        val dupGrams = grams.groupBy(col("g"))
          .agg(count(lit(1)).as("occ"))
          .filter(col("occ") >= 2)
          .select("g")
        grams.join(dupGrams, Seq("g"))
      } else {
        val hGrams = grams.withColumn("h", xxhash64(col("g")))
        // phase 1: global occurrence count on the 8-byte hash — column
        // pruning drops the gram text from this (the dominant) shuffle
        val dupH = hGrams.select("h").groupBy(col("h"))
          .agg(count(lit(1)).as("occ"))
          .filter(col("occ") >= 2)
          .select("h")
        // phase 2: exact-string verification of the hash-duplicated
        // positions only — the decision is ALWAYS by literal gram
        val cand = hGrams.join(dupH, Seq("h"))
        val dupVerified = cand.groupBy(col("g"))
          .agg(count(lit(1)).as("occ"))
          .filter(col("occ") >= 2)
          .select("g")
        cand.join(dupVerified, Seq("g"))
      }
    val starts = dupStarts
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + n - 1).cast("long").as("e"))
    val ws = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val prevEnd = max(col("e"))
      .over(ws.rowsBetween(Window.unboundedPreceding, -1))
    val perDoc = starts
      // a start opens a NEW maximal span iff it is not covered by and not
      // adjacent to everything before it (touching runs are one run)
      .withColumn("new_span",
        when(col("s") > coalesce(prevEnd, lit(-2L)) + 1, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(ws))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("s")).as("ss"), max(col("e")).as("se"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("se") - col("ss") + 1).as("dup_tokens"))
    docLens
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "dup_tokens"))
      .withColumn("dup_frac", graft.functions.round4(
        col("dup_tokens") / greatest(col("n_tokens"), lit(1L))))
      .orderBy("doc_id")
  }

  /** The paper's operating point (Lee et al. 2022 §4.1: duplicated
    * substrings of >= 50 tokens) in the at-scale hashed representation.
    */
  def substringDupSpansPaper(docs: DataFrame): DataFrame =
    substringDupSpansDf(docs, n = 50, hashed = true)

  def substringDedupApply(spark: SparkSession, dir: String, n: Int = 8,
      hashed: Boolean = false): DataFrame =
    substringDedupApplyDf(Tables.documents(spark, dir), n, hashed)

  /** The APPLY step of exact-substring dedup (Lee et al. 2022 §4.1 —
    * their pipeline does not just FIND duplicated substrings, it removes
    * all but one occurrence from the corpus before training): rewrite
    * each document with its duplicated spans cut out, keeping the FIRST
    * corpus occurrence of every duplicated n-gram (first = minimal
    * (doc_id, pos) — deterministic and oracle-checkable, where the
    * paper's tool keeps an arbitrary one). Non-first occurrences become
    * spans, touching/overlapping spans merge per document (same maximal-
    * run logic as [[substringDupSpansDf]]), covered tokens are dropped,
    * and the text is reconstructed from the survivors in position order.
    *
    * Self-repetitive caveat: when a NON-first occurrence inside the
    * keeper document overlaps its own first occurrence (a run of
    * identical tokens longer than n), the merged span covers positions
    * belonging to the kept occurrence too, so the kept occurrence may be
    * truncated rather than survive verbatim — the guarantee is "at most
    * one occurrence survives per duplicated gram", not "the first
    * occurrence survives intact". Cross-document duplication (the mass
    * that matters) is unaffected; the paper's suffix-array tool makes the
    * same arbitrary cut inside self-overlapping runs.
    *
    * Scale shape: first-occurrence detection is `min(struct(doc_id,pos))`
    * grouped by gram — a combiner-friendly aggregate joined back on the
    * same key, NEVER `row_number over (partition by gram)`: a boilerplate
    * gram duplicated 10^8 times would put every occurrence on one window
    * task, while the aggregate collapses it to one row per partition (the
    * oracle uses the window form — fine at oracle SF). `hashed = true`
    * runs the duplicate-gram detection on xxhash64 with exact-string
    * verification, exactly like [[substringDupSpansDf]]. Span explosion
    * is O(duplicate tokens) and reconstruction is one combiner aggregate
    * per doc.
    */
  def substringDedupApplyDf(docs: DataFrame, n: Int,
      hashed: Boolean): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gramCols = (1 until n).map(i => lead(col("tok"), i).over(w))
    val grams = toks
      .withColumn("g", concat_ws(" ", col("tok") +: gramCols: _*))
      .withColumn("_last", gramCols.last)
      .filter(col("_last").isNotNull)
      .select(col("doc_id"), col("pos"), col("g"))
    val gramsForCount =
      if (!hashed) grams
      else {
        // hash phase bounds the string shuffle to hash-duplicated
        // positions, as in substringDupSpansDf
        val hGrams = grams.withColumn("h", xxhash64(col("g")))
        val dupH = hGrams.groupBy(col("h"))
          .agg(count(lit(1)).as("occ")).filter(col("occ") >= 2).select("h")
        hGrams.join(dupH, Seq("h")).drop("h")
      }
    val firsts = gramsForCount.groupBy(col("g"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("occ") >= 2)
      .select(col("g"), col("first"))
    val dupStarts = gramsForCount.join(firsts, Seq("g"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + n - 1).cast("long").as("e"))
    val ws = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val prevEnd = max(col("e"))
      .over(ws.rowsBetween(Window.unboundedPreceding, -1))
    val spans = dupStarts
      .withColumn("new_span",
        when(col("s") > coalesce(prevEnd, lit(-2L)) + 1, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(ws))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("s")).as("ss"), max(col("e")).as("se"))
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("ss"), col("se"))).as("pos"))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("text_dedup"))
    docs
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[substringDedupApply]] at n = 8 (window form for
    * first-occurrence detection — oracle SF only; see the Spark form's
    * scale note).
    */
  val substringDedupApplySql: String =
    raw"""WITH t AS (SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
       g AS (SELECT doc_id, i AS pos,
           tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
           tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS gm
         FROM t, unnest(range(1, len(tk) - 6)) AS r(i)
         WHERE len(tk) >= 8),
       rk AS (SELECT doc_id, pos, gm,
           count(*) OVER (PARTITION BY gm) AS occ,
           row_number() OVER (PARTITION BY gm ORDER BY doc_id, pos) AS rn
         FROM g),
       ds AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM rk
         WHERE occ >= 2 AND rn >= 2),
       m AS (SELECT doc_id, s, e,
           CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
             THEN 1 ELSE 0 END AS new_span FROM ds),
       sp AS (SELECT doc_id, s, e,
           sum(new_span) OVER (PARTITION BY doc_id ORDER BY s) AS span_id
         FROM m),
       spans AS (SELECT doc_id, span_id, min(s) AS ss, max(e) AS se
         FROM sp GROUP BY 1, 2),
       cov AS (SELECT doc_id, unnest(range(ss, se + 1)) AS pos FROM spans),
       tokpos AS (SELECT doc_id, i AS pos, tk[i] AS tok
         FROM t, unnest(range(1, len(tk) + 1)) AS r(i)),
       kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
         LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.pos = tp.pos
         WHERE c.doc_id IS NULL),
       rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
           string_agg(tok, ' ' ORDER BY pos) AS text_dedup
         FROM kept GROUP BY 1)
       SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         coalesce(rb.kept_tokens, 0) AS kept_tokens,
         coalesce(rb.text_dedup, '') AS text_dedup
       FROM t LEFT JOIN rb USING (doc_id) ORDER BY t.doc_id"""

  /** DuckDB mirror of [[substringDupSpans]] at n = 8. */
  val substringDupSpansSql: String =
    raw"""WITH t AS (SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
       g AS (SELECT doc_id, i AS pos,
           tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
           tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS gm
         FROM t, unnest(range(1, len(tk) - 6)) AS r(i)
         WHERE len(tk) >= 8),
       dup AS (SELECT gm FROM g GROUP BY gm HAVING count(*) >= 2),
       ds AS (SELECT gr.doc_id, gr.pos AS s, gr.pos + 7 AS e
         FROM g gr JOIN dup USING (gm)),
       m AS (SELECT doc_id, s, e,
           CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
             THEN 1 ELSE 0 END AS new_span FROM ds),
       sp AS (SELECT doc_id, s, e,
           sum(new_span) OVER (PARTITION BY doc_id ORDER BY s) AS span_id
         FROM m),
       spans AS (SELECT doc_id, span_id, min(s) AS ss, max(e) AS se
         FROM sp GROUP BY 1, 2),
       perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(se - ss + 1) AS BIGINT) AS dup_tokens
         FROM spans GROUP BY 1)
       SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         coalesce(p.n_spans, 0) AS n_spans,
         coalesce(p.dup_tokens, 0) AS dup_tokens,
         round(coalesce(p.dup_tokens, 0) * 1.0 / greatest(len(t.tk), 1)
           + 1e-9, 4) + 0.0 AS dup_frac
       FROM t LEFT JOIN perdoc p USING (doc_id) ORDER BY t.doc_id"""

  /** Per-source duplication profile (r13): the corpus-report row "source
    * X is N% duplicated" — [[substringDupSpansDf]]'s per-document
    * duplicate-span mass aggregated by source. The number a mixture
    * recipe reads next to [[graft.operators.TextAnalysis.sourceOverlap]]:
    * overlap says WHO shares content, this says HOW MUCH of each source
    * is repeated text at all. The oracle form runs the string-gram spans
    * (n = 8, cross-engine checkable); at 100 TB pass the per-doc frame
    * from [[substringDupSpansPaper]] (hashed n = 50) into the two-frame
    * overload — results differ only by the span detector's knobs.
    */
  def dupRateBySource(spark: SparkSession, dir: String,
      n: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dupRateBySource(substringDupSpansDf(docs, n, hashed = false), docs)
  }

  /** At-scale overload (r13 VERDICT item 4): the same per-source
    * aggregation over a PRECOMPUTED per-doc span frame — `spans` is any
    * [[substringDupSpansDf]]-shaped frame (doc_id, n_tokens, n_spans,
    * dup_tokens), so the 100 TB path feeds [[substringDupSpansPaper]]'s
    * hashed n = 50 output (8-byte grams, the paper's operating point)
    * without re-detecting. `sources` needs (doc_id, source). One
    * fingerprint-free join on doc_id + a combiner count/sum aggregate —
    * linear.
    */
  def dupRateBySource(spans: DataFrame, sources: DataFrame): DataFrame =
    spans
      .join(sources.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("dup_tokens")).as("dup_tokens"),
        sum(when(col("n_spans") > 0, 1L).otherwise(0L)).as("docs_with_dups"))
      .withColumn("dup_rate", graft.functions.round4(
        col("dup_tokens") / greatest(col("n_tokens"), lit(1L))))
      .orderBy("source")

  /** DuckDB mirror of [[dupRateBySource]] at n = 8. */
  val dupRateBySourceSql: String =
    raw"""WITH t AS (SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
       g AS (SELECT doc_id, i AS pos,
           tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
           tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS gm
         FROM t, unnest(range(1, len(tk) - 6)) AS r(i)
         WHERE len(tk) >= 8),
       dup AS (SELECT gm FROM g GROUP BY gm HAVING count(*) >= 2),
       ds AS (SELECT gr.doc_id, gr.pos AS s, gr.pos + 7 AS e
         FROM g gr JOIN dup USING (gm)),
       m AS (SELECT doc_id, s, e,
           CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
             THEN 1 ELSE 0 END AS new_span FROM ds),
       sp AS (SELECT doc_id, s, e,
           sum(new_span) OVER (PARTITION BY doc_id ORDER BY s) AS span_id
         FROM m),
       spans AS (SELECT doc_id, span_id, min(s) AS ss, max(e) AS se
         FROM sp GROUP BY 1, 2),
       perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(se - ss + 1) AS BIGINT) AS dup_tokens
         FROM spans GROUP BY 1)
       SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(t.tk)) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
         CAST(sum(CASE WHEN coalesce(p.n_spans, 0) > 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS docs_with_dups,
         round(sum(coalesce(p.dup_tokens, 0)) * 1.0 /
           greatest(sum(len(t.tk)), 1) + 1e-9, 4) + 0.0 AS dup_rate
       FROM t LEFT JOIN perdoc p USING (doc_id)
       GROUP BY 1 ORDER BY 1"""

  /** Soft deduplication by data commonness (Xia et al. 2024, "SoftDedup:
    * an Efficient Data Reweighting Method for Speeding Up Language Model
    * Pre-training"): instead of DROPPING near-duplicates, every document
    * is RE-WEIGHTED by how common its n-gram content is across the corpus
    * — hard dedup's cliff (a document is either in or out) becomes a
    * smooth sampling multiplier, which the paper shows beats MinHash-drop
    * at equal compute. Commonness of a document is the geometric-mean
    * corpus probability of its word-3-gram occurrences (the paper's
    * n-gram-LM formulation): `log_commonness = mean_occurrences
    * ln(c_s / T)` where `c_s` is the shingle's corpus occurrence count
    * and T the total. The sampling weight is `exp(-sharpness *
    * log_commonness)` — common (duplicate-heavy) documents get weight
    * pushed below average, rare content above — reported raw and
    * normalized to mean 1 over the corpus (`norm_weight` is the
    * per-document repeat factor a sampler consumes directly).
    *
    * Determinism: per-shingle `ln` quantizes to micro-longs (exact
    * per-doc integer sums, any merge order); the per-doc weight
    * re-quantizes to micro-longs so the normalizing total is an exact
    * long sum; only then one division (the DSIR idiom, three layers
    * deep like [[graft.operators.TextAnalysis.doremiMix]]).
    *
    * Scale shape: the (doc, shingle) count aggregate is computed once and
    * consumed twice (corpus shingle counts + the scoring join) via
    * ReusedExchange — left joins throughout so the inferred isnotnull
    * cannot un-canonicalize the shared subtree. The scoring join shuffles
    * on the shingle (linear); the normalizing total is a 1-row aggregate
    * broadcast, NOT a global window (corpus-sized frame). Docs under 3
    * tokens have no shingles: commonness 0, weight exp(0) = 1 — neutral
    * by construction, never dropped.
    */
  def softDedupWeights(spark: SparkSession, dir: String,
      sharpness: Double = 0.25): DataFrame =
    softDedupWeights(Tables.documents(spark, dir), sharpness)

  /** DataFrame-parametric form — needs (doc_id, text). */
  def softDedupWeights(documents: DataFrame, sharpness: Double): DataFrame = {
    val toks = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val dsc = toks
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("sh"))
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("cnt"))
    val cs = dsc.groupBy(col("sh")).agg(sum(col("cnt")).as("c_s"))
    val tot = cs.agg(sum(col("c_s")).as("tt"))
    val lnp = cs.crossJoin(broadcast(tot))
      .select(col("sh"),
        round(log((col("c_s") * 1.0) / col("tt")) * 1e6 + 1e-3)
          .cast("long").as("lnp_u"))
    val perDoc = dsc.join(lnp, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("m"), sum(col("cnt") * col("lnp_u")).as("sum_u"))
    val logcRaw = when(col("m").isNull, lit(0.0))
      .otherwise(col("sum_u").cast("double") / 1e6 / col("m"))
    val wu = documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m"), lit(0L)).as("n_shingles"),
        logcRaw.as("logc"),
        round(exp(lit(-sharpness) * logcRaw) * 1e6 + 1e-3)
          .cast("long").as("w_u"))
    val nrm = wu.agg(sum(col("w_u")).as("tw"), count(lit(1)).as("d"))
    wu.crossJoin(broadcast(nrm))
      .select(col("doc_id"), col("n_shingles"),
        graft.functions.round4(col("logc")).as("log_commonness"),
        graft.functions.round4(col("w_u") / 1e6).as("weight"),
        graft.functions.round4((col("w_u") * col("d")) * lit(1.0) / col("tw"))
          .as("norm_weight"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[softDedupWeights]] at sharpness 0.25. */
  val softDedupWeightsSql: String =
    raw"""WITH t AS (SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
       sh AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
         FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
               FROM t WHERE len(tk) >= 3) p),
       dsc AS (SELECT doc_id, sh, count(*) AS cnt FROM sh GROUP BY 1, 2),
       cs AS (SELECT sh, sum(cnt) AS c_s FROM dsc GROUP BY 1),
       tot AS (SELECT sum(c_s) AS tt FROM cs),
       lnp AS (SELECT sh, CAST(round(ln((c_s * 1.0) / tt) * 1e6 + 1e-3)
           AS BIGINT) AS lnp_u FROM cs, tot),
       pd AS (SELECT d.doc_id, CAST(sum(d.cnt) AS BIGINT) AS m,
           CAST(sum(d.cnt * l.lnp_u) AS BIGINT) AS sum_u
         FROM dsc d JOIN lnp l USING (sh) GROUP BY 1),
       wu AS (SELECT doc.doc_id, coalesce(pd.m, 0) AS n_shingles,
           CASE WHEN pd.m IS NULL THEN 0.0
                ELSE CAST(pd.sum_u AS DOUBLE) / 1e6 / pd.m END AS logc,
           CAST(round(exp(-0.25 * (CASE WHEN pd.m IS NULL THEN 0.0
                ELSE CAST(pd.sum_u AS DOUBLE) / 1e6 / pd.m END)) * 1e6 + 1e-3)
             AS BIGINT) AS w_u
         FROM documents doc LEFT JOIN pd USING (doc_id)),
       nrm AS (SELECT sum(w_u) AS tw, count(*) AS d FROM wu)
       SELECT doc_id, n_shingles,
         round(logc + 1e-9, 4) + 0.0 AS log_commonness,
         round(w_u / 1e6 + 1e-9, 4) + 0.0 AS weight,
         round((w_u * d) * 1.0 / tw + 1e-9, 4) + 0.0 AS norm_weight
       FROM wu, nrm ORDER BY doc_id"""
}
