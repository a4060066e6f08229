package graft

import graft.jobs.MaintenanceJob
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The store near-dup audit job (deduplicate_qdrant twin): exact
  * content|timestamp twins keep the min id, embedding near-dups keep the
  * component keeper, every id gets exactly one verdict, apply is a pure
  * filter, and the plan is idempotent over its own kept output.
  */
class MaintenanceJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mem(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("id", "content", "timestamp")
  }

  // two near-identical embeddings for ids 5 and 6; everything else far apart
  private def emb(ids: Long*) = {
    import spark.implicits._
    ids.map { i =>
      val base = if (i == 5L || i == 6L) 1.0 else i.toDouble * 7 + 1
      (i, Seq.tabulate(32)(d =>
        (math.sin(base * (d + 1)) + (if (i == 6L) 1e-4 else 0.0)).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("exact twins keep min id; near twins keep the component keeper; " +
    "verdicts conserve the store") {
    val m = mem(
      (1L, "the recovery accident", "t0"),
      (2L, "the recovery accident", "t0"),  // exact twin of 1
      (3L, "the recovery accident", "t1"),  // same content, other timestamp
      (5L, "semantically twinned a", "t2"),
      (6L, "semantically twinned b", "t3"), // near twin of 5 by embedding
      (9L, "unique memory", "t4"))
    val plan = MaintenanceJob.dedupPlan(m, Some(emb(1L, 2L, 3L, 5L, 6L, 9L)))
    val byId = plan.collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(byId(1L)._1 == "keep")
    assert(byId(2L) == ("delete_exact_dup", 1L),
      s"content+timestamp twin keeps min id: $byId")
    assert(byId(3L)._1 == "keep",
      "same content at a DIFFERENT timestamp is not a twin (script key)")
    assert(byId(5L)._1 == "keep")
    assert(byId(6L) == ("delete_near_dup", 5L), s"got $byId")
    assert(byId(9L)._1 == "keep")
    // conservation: every id, exactly one verdict
    assert(plan.count() == m.count())
    val summary = MaintenanceJob.summaryOf(plan).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary == Map("keep" -> 4L, "delete_exact_dup" -> 1L,
      "delete_near_dup" -> 1L), s"got $summary")
  }

  test("an exact-deleted twin cannot claim a near-dup keeper slot " +
    "(stage order doctrine)") {
    // 5's exact twin 4 (min id) would be the near-component keeper if the
    // near stage saw pre-exact rows; the near stage must rank SURVIVORS
    val m = mem(
      (4L, "semantically twinned a", "t2"),
      (5L, "semantically twinned a", "t2"), // exact twin of 4
      (6L, "semantically twinned b", "t3"))
    import spark.implicits._
    val e = Seq(4L, 5L, 6L).map { i =>
      (i, Seq.tabulate(32)(d =>
        (math.sin(1.0 * (d + 1)) + (if (i == 6L) 1e-4 else 0.0)).toFloat))
    }.toDF("vec_id", "embedding")
    val byId = MaintenanceJob.dedupPlan(m, Some(e)).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(byId(4L)._1 == "keep")
    assert(byId(5L) == ("delete_exact_dup", 4L))
    assert(byId(6L) == ("delete_near_dup", 4L),
      s"near keeper is the exact SURVIVOR 4: $byId")
  }

  test("the embedding audit runs over Ingest.prepare's own uuid ids") {
    import spark.implicits._
    // the same content at two timestamps: not exact twins (script key), but
    // identical embeddings, so the later-sorting uuid is a near-dup
    val store = graft.domain.Ingest.prepare(Seq(
        ("the recovery accident", "2024-01-01"),
        ("the recovery accident", "2024-02-01"),
        ("an unrelated memory about editors", "2024-03-01"))
      .toDF("content", "timestamp")).localCheckpoint()
    try {
      val ids = store.select("id").as[String].collect().sorted.toSeq
      val twins = store.filter(col("content") === "the recovery accident")
        .select("id").as[String].collect().sorted.toSeq
      val plan = MaintenanceJob.dedupPlan(
        store.select("id", "content", "timestamp"),
        Some(store.select(col("id").as("vec_id"), col("embedding"))))
      val byId = plan.collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      assert(byId.keySet == ids.toSet, s"one verdict per id: $byId")
      assert(byId(twins(0)) == ("keep", null))
      assert(byId(twins(1)) == ("delete_near_dup", twins(0)), s"got $byId")
      assert(byId((ids.toSet -- twins).head)._1 == "keep")
    } finally graft.functions.releaseCheckpoint(store)
  }

  test("main: report mode writes plan+summary only, --apply writes the " +
    "filtered store, and the plan over kept output is a fixed point") {
    val root = java.nio.file.Files.createTempDirectory("graft-maint")
      .toString
    val m = mem(
      (1L, "the recovery accident", "t0"),
      (2L, "the recovery accident", "t0"),
      (9L, "unique memory", "t4"))
    m.write.mode("overwrite").parquet(s"$root/mem")
    emb(1L, 2L, 9L).write.mode("overwrite").parquet(s"$root/emb")
    MaintenanceJob.main(Array(s"$root/mem", s"$root/dry",
      "--embeddings", s"$root/emb"))
    assert(spark.read.parquet(s"$root/dry/plan").count() == 3)
    assert(!new java.io.File(s"$root/dry/kept").exists(),
      "report mode must not write kept/")
    MaintenanceJob.main(Array(s"$root/mem", s"$root/out",
      "--embeddings", s"$root/emb", "--apply"))
    val kept = spark.read.parquet(s"$root/out/kept")
    assert(kept.select("id").collect().map(_.getLong(0)).toSet
      == Set(1L, 9L))
    assert(kept.columns.toSet == Set("id", "content", "timestamp"),
      "apply is a pure filter of the input store")
    // idempotence: auditing the deduplicated store finds nothing
    val again = MaintenanceJob.dedupPlan(kept, None)
    assert(again.filter(col("verdict") =!= "keep").count() == 0)
  }
}
