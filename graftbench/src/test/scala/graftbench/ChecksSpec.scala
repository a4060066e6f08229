package graftbench

import org.scalatest.funsuite.AnyFunSuite

import Checks.RecallRow

/** Each output check passes on a well-formed output and trips on a
  * deliberately corrupted copy of it.
  */
class ChecksSpec extends AnyFunSuite {

  // ---- recall
  private val live = Set("a", "b", "c", "d", "e")
  private val good = Seq(
    RecallRow(1, 1, "a", 0.9), RecallRow(1, 2, "b", 0.7),
    RecallRow(1, 3, "c", 0.7), RecallRow(2, 1, "d", 0.5))
  private val evidence = Map(1L -> Seq("b"), 2L -> Seq("d", "e"))
  private def recall(rows: Seq[RecallRow], limit: Int = 3) =
    Checks.recall(rows, evidence, limit, live)

  test("recall: a well-formed answer passes") {
    assert(recall(good).isEmpty)
  }

  test("recall: more rows than the limit trip") {
    assert(recall(good, limit = 2).exists(_.contains("> limit")))
  }

  test("recall: a rank gap trips") {
    val bad = good.updated(2, good(2).copy(rank = 4))
    assert(recall(bad).exists(_.contains("not 1..")))
  }

  test("recall: a score rising with rank trips") {
    val bad = good.updated(2, good(2).copy(score = 0.8))
    assert(recall(bad).exists(_.contains("scores increase")))
  }

  test("recall: a duplicate id trips") {
    val bad = good.updated(2, good(2).copy(id = "a"))
    assert(recall(bad).exists(_.contains("duplicate ids")))
  }

  test("recall: an id outside the store trips") {
    val bad = good.updated(2, good(2).copy(id = "zzz"))
    assert(recall(bad).exists(_.contains("not a live store row")))
  }

  test("recall: missing evidence trips") {
    val bad = good.updated(1, good(1).copy(id = "e"))
    assert(recall(bad).exists(_.contains("no evidence of b in top")))
  }

  test("recall: rows for a question not asked trip") {
    assert(recall(good :+ RecallRow(9, 1, "a", 0.1))
      .exists(_.contains("not asked")))
  }

  // ---- memory build
  private val emb = Map(
    "x" -> Array(1f, 0f, 0f), "y" -> Array(0.9f, 0.1f, 0f),
    "z" -> Array(0f, 1f, 0f))

  test("SIMILAR_TO: recomputed cosines pass, a shifted score trips") {
    val c = Checks.cosine(emb("x"), emb("y"))
    assert(Checks.similarTo(Seq(("x", "y", c)), emb, 0.8).isEmpty)
    assert(Checks.similarTo(Seq(("x", "y", c + 1e-4)), emb, 0.8).nonEmpty)
  }

  test("SIMILAR_TO: an edge below the threshold trips") {
    val c = Checks.cosine(emb("x"), emb("z"))
    assert(Checks.similarTo(Seq(("x", "z", c)), emb, 0.8)
      .exists(_.contains("below")))
  }

  test("SIMILAR_TO: the recomputed top-k edge set passes; a dropped or " +
      "swapped neighbour trips") {
    // "p" lies between "q" and "r"; with top 1, p and q keep each other
    // and r keeps p, so the symmetric set is p-q, p-r; "s" is far from all
    val e3 = Map("p" -> Array(1f, 0.05f, 0f), "q" -> Array(1f, 0.04f, 0f),
      "r" -> Array(1f, 0.3f, 0f), "s" -> Array(0f, 0f, 1f))
    val want = Checks.expectedSimilarTo(e3, 1, 0.8)
    assert(want == Set(("p", "q"), ("q", "p"), ("p", "r"), ("r", "p")))
    val good = want.toSeq
    assert(Checks.similarToComplete(good, want).isEmpty)
    val dropped = good.filterNot(_ == ("p", "r"))
    assert(Checks.similarToComplete(dropped, want)
      .exists(_.contains("p->r missing")))
    val swapped = good.map { case ("p", "q") => ("p", "s"); case e => e }
    val errs = Checks.similarToComplete(swapped, want)
    assert(errs.exists(_.contains("p->q missing")))
    assert(errs.exists(_.contains("p->s is not among")))
    assert(Checks.similarToComplete(good :+ good.head, want)
      .exists(_.contains("duplicate")))
  }

  test("families: one cluster per family passes; split or merged trips") {
    val fams = Seq(Seq("003", "004", "005"), Seq("010", "011", "012"))
    val ok = Seq(("meta-003", 3L), ("meta-010", 3L))
    assert(Checks.families(ok, fams).isEmpty)
    // a family split in two: its cluster is smaller and another appears
    assert(Checks.families(Seq(("meta-003", 2L), ("meta-005", 1L),
      ("meta-010", 3L)), fams).nonEmpty)
    // two families merged into one cluster
    assert(Checks.families(Seq(("meta-003", 6L)), fams).nonEmpty)
  }

  test("exactly once: a missing, doubled or unknown id trips") {
    val ids = Set("1", "2", "3")
    assert(Checks.exactlyOnce("fate", Seq("1", "2", "3"), ids).isEmpty)
    assert(Checks.exactlyOnce("fate", Seq("1", "2"), ids).nonEmpty)
    assert(Checks.exactlyOnce("fate", Seq("1", "2", "3", "3"), ids).nonEmpty)
    assert(Checks.exactlyOnce("fate", Seq("1", "2", "3", "4"), ids).nonEmpty)
  }

  test("exact duplicates: a copy kept or kept by the wrong id trips") {
    val dups = Seq(("002", "001"))
    assert(Checks.exactDups(Map("002" -> ("delete_exact_dup", "001")),
      dups).isEmpty)
    assert(Checks.exactDups(Map("002" -> ("keep", "")), dups).nonEmpty)
    assert(Checks.exactDups(Map("002" -> ("delete_exact_dup", "003")),
      dups).nonEmpty)
  }

  // ---- corpus prep
  test("funnel: counts that do not sum to the input trip") {
    val f = Seq(("kept", 7L), ("b_quality", 2L), ("d_fingerprint_dup", 1L))
    assert(Checks.funnelSums(f, 10).isEmpty)
    assert(Checks.funnelSums(f, 11).nonEmpty)
  }

  test("duplicates: a kept copy or a wrong dup count trips") {
    val dups = Seq((10L, 1L), (11L, 2L), (12L, 3L))
    val f = Seq(("kept", 2L), ("d_fingerprint_dup", 2L))
    // original 3 did not survive the gates, so copy 12 is not counted
    assert(Checks.dupsDropped(Set(1L, 2L), f, dups).isEmpty)
    assert(Checks.dupsDropped(Set(1L, 2L, 10L), f, dups)
      .exists(_.contains("was kept")))
    assert(Checks.dupsDropped(Set(1L, 2L),
      Seq(("d_fingerprint_dup", 1L)), dups).nonEmpty)
  }

  test("PII: a planted email or phone left in a kept text trips") {
    val pii = Map(1L -> Seq("a@example.com", "+1 555-0100"))
    val piiOf = (id: Long) => pii.getOrElse(id, Nil)
    assert(Checks.piiGone(Seq((1L, "write to <EMAIL> or <PHONE>")), piiOf)
      .isEmpty)
    assert(Checks.piiGone(Seq((1L, "write to a@example.com")), piiOf)
      .nonEmpty)
    assert(Checks.piiGone(Seq((1L, "call +1 555-0100 now")), piiOf).nonEmpty)
  }
}
