package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload:
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --dir <scratch dir> --out <result json>
  *
  * Set-up (session, inputs, store, index) is repeated `setupRounds` times;
  * then the once-per-run check, warm-up ops, and whole rounds of ops in a
  * closed loop until their summed wall time reaches `seconds`. Writes the
  * end-to-end figures (`--trace 0`) or the per-layer figures (`--trace 1`)
  * to `--out`, with the op counts and the check verdict, and a per-op
  * trace next to it.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val dir = opts("dir")
    val out = opts("out")
    require(Workload.Names.contains(workload), s"unknown workload $workload")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${Workload.Cores}]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Workload.Cores.toString)
      .config("spark.default.parallelism", Workload.Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val sessionMs = (System.currentTimeMillis() - jvmStart).toDouble
      val probe = new Probe(spark, traced)
      val wl = Workload(workload, spark, seed, probe)

      // ---- set-up, repeated; the last round's state is kept
      val setupSpans = (1 to wl.setupRounds).map { r =>
        if (r > 1) wl.teardown()
        val t0 = System.nanoTime()
        wl.setup()
        val spans = probe.takeSpans()
        spans + ("total" -> (System.nanoTime() - t0) / 1e6)
      }
      val errors = Seq.newBuilder[String]
      val tc = System.nanoTime()
      errors ++= wl.runCheck(dir)
      val runCheckMs = (System.nanoTime() - tc) / 1e6
      val t0 = System.nanoTime()
      (0 until wl.warmupOps).foreach(wl.op)
      probe.takeSpans()
      val warmupMs = (System.nanoTime() - t0) / 1e6
      val setupS = (sessionMs + Workload.spanMedian(setupSpans, "total") +
        warmupMs) / 1000.0

      // ---- timed closed loop; checks run between ops, outside the timing
      val ops = Seq.newBuilder[OpRecord]
      var timed = 0.0
      var attempted = 0
      var failed = 0
      var i = wl.warmupOps
      // whole rounds: every run attempts each op of a round equally often
      while (timed < seconds * 1000.0 ||
          (i - wl.warmupOps) % wl.roundOps != 0) {
        attempted += 1
        try {
          val rec = probe.op(wl.op(i))
          ops += rec
          timed += rec.wallMs
          errors ++= wl.check()
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"op $i failed: $e")
            if (failed > 3) throw e
        }
        i += 1
      }
      val opRecs = ops.result()
      val heapMb = liveHeapMb(spark)
      val extras = if (traced) wl.extras() else Map.empty[String, Double]
      val errs = errors.result()
      errs.take(20).foreach(e => System.err.println(s"CHECK FAILED: $e"))

      val items = opRecs.map(_.items).sum
      val wallMs = opRecs.map(_.wallMs).sum
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("items_per_s", items / (wallMs / 1000.0), "1/s"),
          ("op_p50_ms", Probe.median(opRecs.map(_.wallMs)), "ms"),
          ("cpu_ms_per_item", opRecs.map(_.cpuMs).sum / items, "ms"),
          ("live_heap_mb", heapMb, "MB"))
        else {
          // every traced run reports every layer; a layer this workload
          // never calls reads 0
          val own = wl.layers(setupSpans, opRecs)
          val others = Workload.LayerNames.filterNot(n => own.exists(_._1 == n))
            .map(n => (n, 0.0, Workload.LayerUnit(n)))
          sparkLayers(opRecs) ++ own ++ others
        }

      val json = Json.obj(Seq(
        "correct" -> Json.bool(errs.isEmpty),
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        })))
      Files.writeString(Paths.get(out), json + "\n")
      Files.writeString(Paths.get(out.stripSuffix(".json") + ".trace.json"),
        traceJson(workload, seed, traced, setupSpans, warmupMs, opRecs, errs,
          extras, wl.notes() + ("run_check_ms" -> runCheckMs)))
    } finally spark.stop()
  }

  /** Heap in use after full GCs, once Spark's listener bus and context
    * cleaner (which drop state only after a GC finds it unreachable) have
    * caught up.
    */
  def liveHeapMb(spark: SparkSession): Double = {
    (1 to 3).foreach { _ =>
      org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
      System.gc()
      Thread.sleep(300)
    }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Engine-level figures: means over the timed ops, except the storage
    * still held after the last op.
    */
  def sparkLayers(ops: Seq[OpRecord]): Seq[(String, Double, String)] = {
    val c = ops.flatMap(_.spark)
    def m(f: SparkCounters => Double): Double = Probe.mean(c.map(f))
    val mb = 1048576.0
    Seq(
      ("spark.jobs_per_op", m(_.jobs.toDouble), "count"),
      ("spark.stages_per_op", m(_.stages.toDouble), "count"),
      ("spark.tasks_per_op", m(_.tasks.toDouble), "count"),
      ("spark.planning_ms_per_op", m(_.planningMs), "ms"),
      ("spark.no_job_ms_per_op", Probe.mean(ops.map(_.noJobMs)), "ms"),
      ("spark.exec_run_ms_per_op", m(_.execRunMs.toDouble), "ms"),
      ("spark.exec_cpu_ms_per_op", m(_.execCpuNs / 1e6), "ms"),
      ("spark.shuffle_write_mb_per_op", m(_.shuffleWriteBytes / mb), "MB"),
      ("spark.shuffle_read_mb_per_op", m(_.shuffleReadBytes / mb), "MB"),
      ("spark.spill_mb_per_op", m(_.spillBytes / mb), "MB"),
      ("spark.max_task_ms_per_op", m(_.maxTaskMs.toDouble), "ms"),
      ("spark.storage_mb_after_op", ops.lastOption.map(_.storageMb)
        .getOrElse(0.0), "MB"),
      ("jvm.gc_ms_per_op", Probe.mean(ops.map(_.gcMs)), "ms"))
  }

  private def traceJson(workload: String, seed: Long, traced: Boolean,
      setup: Seq[Map[String, Double]], warmupMs: Double,
      ops: Seq[OpRecord], errs: Seq[String],
      extras: Map[String, Double], notes: Map[String, Double]): String = {
    def spans(m: Map[String, Double]): String =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val opJs = ops.map { o =>
      val base = Seq("wall_ms" -> Json.num(o.wallMs),
        "cpu_ms" -> Json.num(o.cpuMs), "gc_ms" -> Json.num(o.gcMs),
        "items" -> o.items.toString, "spans" -> spans(o.spans))
      val sp = o.spark.toSeq.flatMap { c => Seq(
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString,
        "planning_ms" -> Json.num(c.planningMs),
        "no_job_ms" -> Json.num(o.noJobMs),
        "exec_run_ms" -> c.execRunMs.toString,
        "exec_cpu_ms" -> Json.num(c.execCpuNs / 1e6),
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
        "spill_bytes" -> c.spillBytes.toString,
        "max_task_ms" -> c.maxTaskMs.toString,
        "storage_mb" -> Json.num(o.storageMb))
      }
      Json.obj(base ++ sp)
    }
    Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "traced" -> Json.bool(traced),
      "setup_rounds" -> s"[${setup.map(spans).mkString(",")}]",
      "warmup_ms" -> Json.num(warmupMs),
      "extras" -> spans(extras),
      "notes" -> spans(notes),
      "ops" -> s"[${opJs.mkString(",\n")}]",
      "check_errors" -> s"[${errs.map(Json.str).mkString(",")}]")) + "\n"
  }
}

/** The few JSON shapes the benchmark writes. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
