package etlbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark harness: one JVM, one SparkSession at local[cores] with
  * one shuffle partition per core and the library's own session tuning.
  *
  *   etlbench.Main --workload star_full|star_delta|llm_curate|all
  *                 --seed N --seconds S --trace 0|1 --work DIR
  *
  * Per workload: generate the seeded inputs, set up and run the
  * workload's warm-up jobs untimed, then a closed loop — one client, the
  * next job starts when the previous one and its output checks are
  * done — until S seconds have passed and at least two timed jobs ran;
  * last, generate afresh and set up repeatedly (the median is
  * `setup_s`). With --trace 1 the loop alternates untraced and traced
  * jobs; the traced ones give the per-layer metrics and the difference
  * of the two medians is the tracing overhead.
  *
  * The last stdout line is one JSON object: correct, attempted, failed
  * and metrics (end-to-end without tracing, per-layer with it). The exit
  * code is 1 when any call or output check failed.
  */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors
  /** A run sets up once untimed in the cold JVM, then, after the timed
    * loop, at least [[SetupRuns]] times and until [[SetupSeconds]] have
    * been spent setting up (at most [[SetupRunsMax]] times). The first
    * set-up in a fresh JVM runs its first Spark jobs and takes seconds
    * longer; a fast set-up takes a fraction of a second, so a few samples
    * are mostly noise.
    */
  val SetupRuns = 3
  val SetupSeconds = 3.0
  val SetupRunsMax = 25

  /** The per-layer metric names emitted on every workload (0 where a
    * layer does no work on it); a workload adds its own
    * [[Workload.ownLayerMetrics]].
    */
  val layerMetrics: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.bytes_read" -> "bytes",
    "sources.scan_amplification" -> "ratio",
    "star.build_s" -> "s", "star.write_csv_s" -> "s", "star.fact_write_s" -> "s",
    "star.fact_write_tasks" -> "count", "operators.quality_s" -> "s",
    "operators.exact_dedup_s" -> "s", "operators.minhash_pairs_s" -> "s",
    "operators.components_s" -> "s", "operators.semantic_dedup_s" -> "s",
    "operators.pairs_found" -> "count", "operators.pairs_per_planted" -> "ratio",
    "operators.dedup_recall" -> "ratio", "operators.dedup_precision" -> "ratio",
    "operators.text_near_recall" -> "ratio", "operators.emb_near_recall" -> "ratio",
    "Pipelines.curate_s" -> "s",
    "Blocks.storage_peak_bytes" -> "bytes", "Blocks.blocks_stored" -> "count",
    "spark.jobs" -> "count", "spark.driver_only_s" -> "s", "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s", "spark.cpu_util" -> "ratio", "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "trace.overhead_s" -> "s", "trace.job_s" -> "s")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  final case class Result(workload: String, attempted: Long, failed: Long,
                          metrics: Seq[(String, Double, String)], log: Seq[String])

  def session(workDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.tune(spark)
  }

  /** Run one workload in a started session and measure it. */
  def run(spark: SparkSession, counters: Counters, tracer: Tracer,
          name: String, seed: Long, seconds: Double, traced: Boolean, work: Path): Result = {
    val log = mutable.ArrayBuffer.empty[String]
    val ctx = Ctx(spark, tracer, seed)
    val w = Workloads(name, ctx)
    var attempted, failed = 0L
    def op(what: String)(ok: => Boolean): Boolean = {
      attempted += 1
      val good = try ok catch {
        case scala.util.control.NonFatal(e) => log += s"$what threw: $e"; false
      }
      if (!good) { failed += 1; log += s"FAILED: $what" }
      good
    }

    val input = work.resolve(s"$name-input")
    def generate(): Unit = { Workloads.delete(input); w.generate(input) }
    def setUp(k: Int): Double = {
      if (k > 0) Workloads.delete(work.resolve(s"$name-state${k - 1}"))
      val d = work.resolve(s"$name-state$k")
      Workloads.delete(d)
      val t0 = System.nanoTime()
      w.setup(d)
      (System.nanoTime() - t0) / 1e9
    }
    val setups = mutable.ArrayBuffer.empty[Double]

    val warmupTimes = mutable.ArrayBuffer.empty[Double]
    val jobTimes = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val storedMb = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def iteration(i: Int, timed: Boolean, withTrace: Boolean): Boolean = {
      w.prepare(i)
      tracer.enabled = withTrace
      val peak = counters.window()
      val gc0 = Tracer.gcMs
      val first = tracer.size
      val t0 = System.nanoTime()
      val ok = op(s"$name job $i") { tracer.span("job")(w.job(i)); true }
      val t = (System.nanoTime() - t0) / 1e9
      val gc = (Tracer.gcMs - gc0) / 1e3
      val blocks = peak()
      tracer.enabled = false
      val root = if (withTrace) Some(tracer.all(first)) else None
      if (ok) w.checks(i).foreach { case (what, good) => op(s"$name check '$what' ($i)")(good) }
      if (!timed) warmupTimes += t
      if (timed && ok) {
        (if (withTrace) tracedTimes else jobTimes) += t
        storedMb += blocks.storedBytes / 1e6
        root.foreach { r =>
          val m = layerValues(r, w, t, gc, blocks)
          val profileAt = tracer.size
          tracer.enabled = true
          val extra = tracer.span("profile")(w.profile(i))
          tracer.enabled = false
          val profiled = subtree(tracer.all(profileAt)).filter(_.name.startsWith("operators."))
            .groupMapReduce(_.name + "_s")(_.seconds)(_ + _)
          (m ++ extra ++ profiled ++ qualityOf(w)).foreach { case (k, v) =>
            layers.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
          }
        }
      }
      w.cleanup(i)
      // start every job from the same state: no blocks left over from the
      // last one, and garbage (and the ContextCleaner's queue) collected
      graft.Blocks.sweep(spark.sparkContext)
      System.gc()
      Thread.sleep(200)
      ok
    }

    // A cold set-up and w.warmupJobs jobs on its state, untimed: a fresh
    // JVM's Spark jobs keep getting faster for several iterations (JIT),
    // and timing from the first job moved the medians by a quarter from
    // run to run. Then the timed loop on the same state, for `seconds`
    // and at least two jobs (a traced run: at least one untraced and one
    // traced job). Set-ups are timed last, in the warm JVM: timed right
    // after the cold one they were still getting faster, and timed
    // between the warm-up jobs and the loop they slowed the loop's first
    // jobs by a third
    generate()
    log += f"$name: untimed first set-up ${setUp(0)}%.2f s"
    var i = 0
    var ok = true
    while (ok && i < w.warmupJobs) { i += 1; ok = iteration(i, timed = false, withTrace = false) }
    val start = System.nanoTime()
    while (ok && ((System.nanoTime() - start) / 1e9 < seconds || i < w.warmupJobs + 2 ||
        (traced && (jobTimes.isEmpty || tracedTimes.isEmpty)))) {
      i += 1
      ok = iteration(i, timed = true, withTrace = traced && i % 2 == 1)
    }
    if (ok) {
      generate()
      while (setups.size < SetupRuns || (setups.sum < SetupSeconds && setups.size < SetupRunsMax))
        setups += setUp(setups.size + 1)
    }
    if (traced) tracer.writeJsonLines(work.resolveSibling("traces").resolve(s"$name-seed$seed.jsonl"))

    val metrics =
      if (!traced) Seq(
        ("job_s", median(jobTimes.toSeq), "s"),
        ("setup_s", median(setups.toSeq), "s"),
        ("block_stored_mb", median(storedMb.toSeq), "MB"))
      else {
        val med = layers.map { case (k, v) => k -> median(v.toSeq) }
        val tj = median(tracedTimes.toSeq)
        val all = med ++ Map("trace.job_s" -> tj, "trace.overhead_s" -> (tj - median(jobTimes.toSeq)))
        (layerMetrics ++ w.ownLayerMetrics).map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
      }
    log += s"$name: warm-up jobs " + warmupTimes.map(s => f"$s%.2f").mkString(" ") +
      " s, jobs " + (jobTimes ++ tracedTimes).map(s => f"$s%.2f").mkString(" ") +
      " s, setups " + setups.map(s => f"$s%.2f").mkString(" ") + " s, blocks stored " +
      storedMb.map(s => f"$s%.2f").mkString(" ") + " MB"
    Result(name, attempted, failed, metrics, log.toSeq)
  }

  private def subtree(s: Span): Seq[Span] = s +: s.children.toSeq.flatMap(subtree)

  private def qualityOf(w: Workload): Map[String, Double] = w match {
    case c: LlmCurate => Map("operators.dedup_recall" -> c.recall,
      "operators.dedup_precision" -> c.precision,
      "operators.text_near_recall" -> c.textNearRecall,
      "operators.emb_near_recall" -> c.embNearRecall)
    case _ => Map.empty
  }

  /** Per-layer values of one traced job from its span tree. */
  private def layerValues(root: Span, w: Workload, wall: Double, gcS: Double,
                          blocks: BlockUse): Map[String, Double] = {
    val spans = subtree(root)
    def secs(n: String) = spans.filter(_.name == n).map(_.seconds).sum
    val tasks = spans.flatMap(_.spark.taskIntervals)
    val busy = spans.map(_.spark.taskBusyNs).sum / 1e9
    val bytesRead = spans.map(_.spark.inputBytes).sum.toDouble
    val taskCover = Tracer.unionNs(tasks.map { case (a, b) =>
      (math.max(a * 1000000L, root.startNs), math.min(b * 1000000L, root.endNs)) })
    Map(
      "sources.read_s" -> secs("sources.read"),
      "sources.bytes_read" -> bytesRead,
      "sources.scan_amplification" -> bytesRead / math.max(1L, w.inputBytes),
      "star.build_s" -> secs("star.build"),
      "star.write_csv_s" -> secs("star.write_csv"),
      "star.fact_write_s" -> secs("star.fact_write"),
      "star.fact_write_tasks" -> spans.filter(_.name == "star.fact_write").map(_.spark.tasks).sum,
      "star.scd2_apply_s" -> secs("star.scd2_apply"),
      "star.resolve_fk_s" -> secs("star.resolve_fk"),
      "operators.merge_refresh_s" -> secs("operators.merge_refresh"),
      "operators.semantic_dedup_s" -> secs("operators.semantic_dedup"),
      "Pipelines.curate_s" -> secs("Pipelines.curate"),
      "Blocks.storage_peak_bytes" -> blocks.rddPeakBytes.toDouble,
      "Blocks.blocks_stored" -> blocks.rddBlocks.toDouble,
      "spark.jobs" -> spans.map(_.spark.jobs).sum.toDouble,
      "spark.driver_only_s" -> math.max(0.0, wall - taskCover / 1e9),
      "spark.tasks" -> spans.map(_.spark.tasks).sum.toDouble,
      "spark.task_busy_s" -> busy,
      "spark.cpu_util" -> busy / (wall * cores),
      "spark.shuffle_bytes" -> spans.map(_.spark.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> spans.map(_.spark.spillBytes).sum.toDouble,
      "spark.gc_s" -> gcS)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def arg(k: String): String = opts.getOrElse(k, {
      System.err.println(s"missing --$k; usage: --workload NAME|all --seed N --seconds S " +
        "--trace 0|1 --work DIR")
      sys.exit(2)
    })
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val names = if (workload == "all") Workloads.names else Seq(workload)
    names.foreach(n => require(Workloads.names.contains(n), s"unknown workload '$n'"))
    Files.createDirectories(work)
    val spark = session(work)
    var tracer: Tracer = null
    val counters = new Counters(() => Option(tracer))
    spark.sparkContext.addSparkListener(counters)
    val results = try names.map { n =>
      tracer = new Tracer(spark.sparkContext, enabled = false, runId = s"$n-seed$seed")
      val r = run(spark, counters, tracer, n, seed, seconds, traced, work)
      r.log.foreach(l => System.err.println(l))
      r.metrics.foreach { case (k, v, u) => println(f"$n%-11s $k%-28s ${fmt(v)}%16s $u") }
      r
    } finally spark.stop()

    val attempted = results.map(_.attempted).sum
    val failed = results.map(_.failed).sum
    val metrics = results.flatMap { r =>
      r.metrics.map { case (k, v, u) =>
        (if (names.size == 1) k else s"${r.workload}.$k") -> Map("value" -> v, "unit" -> u)
      }
    }
    println(Json.obj("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(6)).toPlainString
}
