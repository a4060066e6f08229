package graftbench

/** Output checks. Each takes plain values (rows already collected from
  * Spark) and returns the list of violations, empty when the output is
  * right. None of them compares against a stored copy of earlier output:
  * each states a property the output must have, or recomputes the value
  * another way.
  */
object Checks {

  /** One collected recall row. */
  final case class RecallRow(qid: Long, rank: Long, id: String, score: Double)

  /** Per question: at most `limit` rows, ranks 1..n without gaps, scores
    * non-increasing by rank, no id twice, every id a live store row, and
    * one of the planted evidence ids among the rows. No rows for questions
    * outside the request.
    */
  def recall(rows: Seq[RecallRow], evidence: Map[Long, Seq[String]],
      limit: Int,
      live: String => Boolean): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val byQ = rows.groupBy(_.qid)
    byQ.keys.filterNot(evidence.contains).foreach(q =>
      errs += s"rows for qid $q, which was not asked")
    evidence.foreach { case (q, ev) =>
      val rs = byQ.getOrElse(q, Nil).sortBy(_.rank)
      if (rs.size > limit) errs += s"qid $q: ${rs.size} rows > limit $limit"
      if (rs.map(_.rank) != (1L to rs.size.toLong))
        errs += s"qid $q: ranks ${rs.map(_.rank).mkString(",")} not 1..${rs.size}"
      if (rs.zip(rs.drop(1)).exists { case (a, b) => b.score > a.score })
        errs += s"qid $q: scores increase with rank"
      if (rs.map(_.id).distinct.size != rs.size) errs += s"qid $q: duplicate ids"
      rs.filterNot(r => live(r.id)).foreach(r =>
        errs += s"qid $q: id ${r.id} is not a live store row")
      if (!rs.exists(r => ev.contains(r.id)))
        errs += s"qid $q: no evidence of ${ev.mkString(",")} in top $limit"
    }
    errs.result()
  }

  /** Plain-Scala cosine over float vectors, accumulated in double. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i).toDouble * b(i); i += 1
    }
    a.foreach(x => na += x.toDouble * x)
    b.foreach(x => nb += x.toDouble * x)
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Every SIMILAR_TO edge's score equals the cosine of its endpoints'
    * embeddings, recomputed here, and is at least `threshold`.
    */
  def similarTo(edges: Seq[(String, String, Double)],
      emb: String => Array[Float], threshold: Double): Seq[String] =
    edges.flatMap { case (s, d, score) =>
      val c = cosine(emb(s), emb(d))
      if (math.abs(c - score) > 1e-9) Some(f"SIMILAR_TO $s->$d: $score%.9f != cosine $c%.9f")
      else if (score < threshold) Some(f"SIMILAR_TO $s->$d: $score%.4f below $threshold")
      else None
    }

  /** The SIMILAR_TO edge set `Enrichment.similarToEdges` must produce,
    * recomputed over all pairs: per src, the `topK` other ids with the
    * highest cosine at or above `threshold` (ties broken by dst
    * ascending), in both directions.
    */
  def expectedSimilarTo(emb: Map[String, Array[Float]], topK: Int,
      threshold: Double): Set[(String, String)] = {
    val ids = emb.keys.toVector.sorted
    ids.flatMap { s =>
      ids.filter(_ != s).map(d => (d, cosine(emb(s), emb(d))))
        .filter(_._2 >= threshold)
        .sortBy { case (d, c) => (-c, d) }.take(topK)
        .flatMap { case (d, _) => Seq((s, d), (d, s)) }
    }.toSet
  }

  /** The collected SIMILAR_TO edges are exactly the expected set: no pair
    * missing, none extra, none twice.
    */
  def similarToComplete(edges: Seq[(String, String)],
      expected: Set[(String, String)]): Seq[String] = {
    val got = edges.toSet
    (expected -- got).toSeq.sorted.take(10).map { case (s, d) =>
      s"SIMILAR_TO $s->$d missing" } ++
      (got -- expected).toSeq.sorted.take(10).map { case (s, d) =>
        s"SIMILAR_TO $s->$d is not among the top neighbours" } ++
      (if (edges.size != got.size) Seq("duplicate SIMILAR_TO edges") else Nil)
  }

  /** Each planted family is exactly one cluster: the cluster labelled by
    * the family's smallest id, of the family's size, and no other cluster.
    */
  def families(metas: Seq[(String, Long)],
      families: Seq[Seq[String]]): Seq[String] = {
    val want = families.map(f => (s"meta-${f.min}", f.size.toLong)).toSet
    val got = metas.toSet
    (want -- got).toSeq.sorted.map { case (id, n) =>
      s"family cluster $id of size $n missing" } ++
      (got -- want).toSeq.sorted.map { case (id, n) =>
        s"cluster $id of size $n is not a planted family" } ++
      (if (metas.size != got.size) Seq("duplicate cluster rows") else Nil)
  }

  /** Each id of `ids` appears exactly once among `seen`, and nothing else. */
  def exactlyOnce(what: String, seen: Seq[String],
      ids: Set[String]): Seq[String] = {
    val counts = seen.groupBy(identity).map { case (k, v) => k -> v.size }
    ids.toSeq.sorted.flatMap { id =>
      counts.getOrElse(id, 0) match {
        case 1 => None
        case n => Some(s"$what: id $id has $n rows")
      }
    } ++ counts.keys.filterNot(ids.contains).toSeq.sorted
      .map(id => s"$what: unknown id $id")
  }

  /** Each planted exact copy is judged `delete_exact_dup`, kept by its
    * original.
    */
  def exactDups(verdicts: Map[String, (String, String)],
      dups: Seq[(String, String)]): Seq[String] =
    dups.flatMap { case (copy, orig) =>
      verdicts.get(copy) match {
        case Some(("delete_exact_dup", by)) if by == orig => None
        case v => Some(s"exact copy $copy of $orig judged $v")
      }
    }

  /** The funnel's stage counts sum to the input. */
  def funnelSums(funnel: Seq[(String, Long)], total: Long): Seq[String] = {
    val s = funnel.map(_._2).sum
    if (s == total) Nil else Seq(s"funnel sums to $s, input has $total")
  }

  /** A planted copy whose original survives the quality gates (is kept)
    * is dropped, and the funnel's `d_fingerprint_dup` count is exactly the
    * number of such copies.
    */
  def dupsDropped(kept: Set[Long], funnel: Seq[(String, Long)],
      dups: Seq[(Long, Long)]): Seq[String] = {
    val live = dups.filter { case (_, orig) => kept.contains(orig) }
    val leaked = live.filter { case (copy, _) => kept.contains(copy) }
      .map { case (c, o) => s"copy $c of kept $o was kept" }
    val n = funnel.collect { case ("d_fingerprint_dup", k) => k }.sum
    leaked ++ (if (n == live.size) Nil
      else Seq(s"d_fingerprint_dup counts $n, planted copies of kept docs ${live.size}"))
  }

  /** No planted email or phone number survives in a kept text. */
  def piiGone(keptTexts: Seq[(Long, String)],
      piiOf: Long => Seq[String]): Seq[String] =
    keptTexts.flatMap { case (id, t) =>
      piiOf(id).filter(t.contains).map(p => s"kept doc $id still holds $p")
    }
}
