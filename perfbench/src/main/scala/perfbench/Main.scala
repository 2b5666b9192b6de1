package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.Tuning
import graft.plans.CheckpointBlocks

/** One benchmark run: set-up, an untimed checked warm-up pass, then timed
  * passes for `--seconds`, with one client running one op at a time. Prints
  * a summary, then the result as one JSON line, and writes the full run
  * record (and, when traced, the spans) next to it. See README.md. */
object Main {
  val SetupRounds = 3
  val MinPasses = 3
  val TracedMinPasses = 4
  val FloorJobs = 15

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        bench: Path, work: Path, out: Path)

  final case class OpRun(op: Op, pass: Int, traced: Boolean, wallMs: Double,
                         failure: Option[String], num: collection.Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    val workload = Workloads(a.workload, a.seed, a.bench, a.work)
    val rnd = new scala.util.Random(a.seed)

    // ---- set-up: session start, scheduler warm-up, input preparation ----
    var spark: SparkSession = null
    val prepareS = mutable.ArrayBuffer.empty[Double]
    val setupS = (1 to SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, a.work)
      jobFloorMs(spark)
      val t1 = System.nanoTime()
      workload.prepare(spark)
      val t2 = System.nanoTime()
      prepareS += (t2 - t1) / 1e9
      (t2 - t0) / 1e9
    }
    val sc = spark.sparkContext
    val floorPre = jobFloorMs(spark)
    val cpuPre = cpuSentinelS(spark, cpus)
    val tracer = new Tracer(spark)

    val failedOps = mutable.Map.empty[String, String]
    def runOp(op: Op, pass: Int, checked: Boolean): OpRun = {
      val traced = tracer.tracing
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val gcMs0 = gcMs()
      val span = tracer.beginOp(op.name, op.family, pass)
      val phases = new Phases { def apply[A](kind: String)(body: => A): A = tracer.phase(span, kind)(body) }
      val failure =
        try op.run(spark, phases, checked)
        catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      span.end = Clock.now
      span.num("codegen_compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      span.num("codegen_ms") = (CodeGenerator.compileTime - compileNs0) / 1e6
      if (traced) {
        val storage = sc.getRDDStorageInfo
        span.num("blocks_held") = storage.map(_.numCachedPartitions).sum
        span.num("blocks_held_bytes") = storage.map(r => r.memSize + r.diskSize).sum
      }
      tracer.endOp(span)
      // between ops, outside the timed region
      CheckpointBlocks.releaseAll(spark)
      System.gc()
      // the op's collections, including the one that clears what it left behind
      span.num("gc_ms") = gcMs() - gcMs0
      failure.foreach(f => failedOps.getOrElseUpdate(op.name, f))
      OpRun(op, pass, traced, span.dur, failure.orElse(failedOps.get(op.name)), span.num)
    }

    var prevLast: Option[String] = None
    def order(): IndexedSeq[Op] = {
      val o = if (!workload.interleaved) workload.ops else {
        val s = rnd.shuffle(workload.ops)
        // never the same op back to back, also across a pass boundary
        if (s.size > 1 && prevLast.contains(s.head.name)) s(1) +: s.head +: s.drop(2) else s
      }
      prevLast = o.lastOption.map(_.name)
      o
    }
    def runPass(pass: Int, checked: Boolean): Seq[OpRun] = order().map(runOp(_, pass, checked))
    /** Runs the workload's pass-level check on what `runs` left behind. */
    def checkPass(runs: Seq[OpRun]): Seq[OpRun] = workload.checkPass(spark) match {
      case None => runs
      case Some(f) =>
        workload.ops.foreach(o => failedOps.getOrElseUpdate(o.name, f))
        runs.map(r => r.copy(failure = r.failure.orElse(Some(f))))
    }

    // ---- untimed warm-up: a pass that checks every op's output; a traced run
    // adds a plain pass so that its first timed pass is not still warming ----
    val tw = System.nanoTime()
    val warm = checkPass(runPass(0, checked = true)) ++
      (if (a.trace) runPass(0, checked = false) else Nil)
    val warmupS = (System.nanoTime() - tw) / 1e9

    // ---- timed passes; a traced run orders untraced and traced passes
    // U T T U U T ..., so that warming over the run does not bias the overhead ----
    val passes = mutable.ArrayBuffer.empty[Seq[OpRun]]
    val minPasses = if (a.trace) TracedMinPasses else MinPasses
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = a.trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      if (traced) tracer.enable() else tracer.disable()
      passes += runPass(passes.size + 1, checked = false)
    }
    tracer.disable()
    val measureS = (System.nanoTime() - t0) / 1e9
    // every pass writes the same outputs from the same inputs; the last one's are checked
    passes(passes.size - 1) = checkPass(passes.last)

    val floorPost = jobFloorMs(spark)
    val cpuPost = cpuSentinelS(spark, cpus)
    val heapMb = retainedHeapMb()
    val rowsPerPass = workload.rowsPerPass

    // ---- metrics ----
    val untraced = passes.filterNot(_.exists(_.traced))
    val traced = passes.filter(_.exists(_.traced))
    val opMs = untraced.flatten.map(_.wallMs)
    // each op's median over the untraced timed passes; their sum is the median
    // pass, robust to one slow execution of one op
    val opMedianMs = workload.ops.map(o => Stats.median(untraced.flatten.filter(_.op.name == o.name).map(_.wallMs)))
    val passS = opMedianMs.sum / 1000
    val (tailMs, tailPct) = Stats.tail(opMs)
    val allRuns = warm ++ passes.flatten
    val failures = allRuns.filter(_.failure.isDefined)
    val failedRatio = failures.size.toDouble / allRuns.size
    // gated end-to-end metrics, then three that are only reported: the
    // median and the tail of a few dozen samples from a handful of distinct
    // ops jump between ops from run to run, and failed_ratio is 0 whenever
    // the engine is correct
    val endToEnd = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("pass_s", passS, "s"),
      ("op_gmean_ms", math.exp(opMedianMs.map(math.log).sum / opMedianMs.size), "ms"),
      ("rows_per_s", rowsPerPass / passS, "rows/s"),
      ("heap_retained_mb", heapMb, "MB"))
    val reported = Seq(("op_p50_ms", Stats.median(opMs), "ms"), ("op_tail_ms", tailMs, "ms"),
      ("failed_ratio", failedRatio, "ratio"))
    val (metrics, layerDetail) =
      if (a.trace) Layers.metrics(traced.toSeq, untraced.toSeq, cpus, Stats.median(prepareS),
        (floorPre + floorPost) / 2).partition { case (k, _, _) => !Layers.Detail(k) }
      else (endToEnd, Nil)
    def asJson(ms: Seq[(String, Double, String)]) =
      Json.Obj(ms.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) })

    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "closed_loop" -> Json.obj("clients" -> 1, "ops_in_flight" -> 1),
      "nproc" -> cpus, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "config" -> Json.Obj(SessionConf.map(k => k -> spark.conf.getOption(k).orNull) :+
        ("spark.master" -> sc.master)),
      "probes" -> Json.obj(
        "job_floor_ms" -> Json.obj("pre" -> floorPre, "post" -> floorPost, "jobs" -> FloorJobs),
        "cpu_sentinel_s" -> Json.obj("pre" -> cpuPre, "post" -> cpuPost, "rows" -> SentinelRows)),
      "setup_rounds_s" -> setupS, "prepare_rounds_s" -> prepareS, "warmup_s" -> warmupS,
      "measure_s" -> measureS, "rows_per_pass" -> rowsPerPass,
      "metrics" -> asJson(metrics), "layer_detail" -> asJson(layerDetail), "reported" -> asJson(reported),
      "op_tail" -> Json.obj("percentile" -> tailPct, "samples" -> opMs.size,
        "beyond" -> (if (tailPct == 100.0) 0 else 10)),
      "passes" -> passes.map(p => Json.obj("traced" -> p.exists(_.traced), "pass_s" -> p.map(_.wallMs).sum / 1000,
        "codegen_compiles" -> p.map(_.num("codegen_compiles")).sum,
        "ops" -> Json.Obj(p.map(r => r.op.name -> r.wallMs)))),
      "workload_detail" -> Json.Obj(workload.record),
      "write_mb_by_path" -> Json.Obj(traced.lastOption.toSeq.flatten.flatMap(_.num.collect {
        case (k, v) if k.startsWith("write_bytes:") =>
          k.stripPrefix("write_bytes:").split('/').takeRight(2).mkString("/") -> v / 1048576.0
      })),
      "attempted" -> allRuns.size, "failed" -> failures.size,
      "failures" -> failures.map(r => Json.obj("op" -> r.op.name, "pass" -> r.pass, "error" -> r.failure.get)))

    Files.createDirectories(a.out.getParent)
    Files.write(a.out, (Json.render(record) + "\n").getBytes("UTF-8"))
    if (a.trace) tracer.write(Paths.get(a.out.toString.stripSuffix(".json") + ".spans.jsonl"))
    spark.stop()

    println(s"[perfbench] ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} nproc=$cpus " +
      s"passes=${passes.size} attempted=${allRuns.size} failed=${failures.size} record=${a.out}")
    failures.map(_.op.name).distinct.foreach(n => println(s"[perfbench] FAILED $n: ${failedOps(n)}"))
    (metrics ++ layerDetail ++ reported).foreach { case (k, v, u) => println(f"[perfbench] $k%-24s $v%14.4f $u") }
    println(f"[perfbench] op_tail_ms is p$tailPct%.1f of ${opMs.size} untraced op samples")
    println(Json.render(Json.obj(
      "correct" -> failures.isEmpty, "attempted" -> allRuns.size, "failed" -> failures.size,
      "metrics" -> asJson(metrics))))
  }

  /** The session `graft.Bench` builds, with `local[nproc]`, and the
    * scratch directories of the run inside the work directory. */
  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", Tuning.AqeMinPartitionSize)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Total time of the JVM's collections so far. In local mode the
    * executors share the driver's JVM, so this covers both. */
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  /** Heap in use after full GCs, repeated until Spark's ContextCleaner has
    * released what the previous collection made unreachable. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = collect()
    var rounds = 1
    var settled = false
    while (!settled && rounds < 10) {
      Thread.sleep(200)
      val next = collect()
      settled = next >= last * 0.99
      last = math.min(last, next)
      rounds += 1
    }
    last
  }

  val SessionConf: Seq[String] = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone", "spark.ui.enabled", "spark.sql.codegen.wholeStage",
    "spark.sql.ansi.enabled", "spark.sql.autoBroadcastJoinThreshold")

  /** Median wall ms of trivial single-task jobs: the machine's per-job floor. */
  def jobFloorMs(spark: SparkSession): Double = Stats.median((1 to FloorJobs).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 1L, 1L, 1).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  })

  val SentinelRows = 50000000L

  /** A pure-codegen scan with no shuffle or I/O: the machine's CPU throughput. */
  def cpuSentinelS(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, SentinelRows, 1L, cpus).selectExpr("sum(id % 12345) AS s")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    Args(workload, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("bench")), Paths.get(need("work")), Paths.get(need("out")))
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and that
    * percentile. When that percentile would not lie above the median (fewer
    * than twenty samples), the maximum, reported as percentile 100. */
  def tail(xs: collection.Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 20) (s.last, 100.0) else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Per-layer metrics of a traced run: per-pass sums of the op spans'
  * counters, as medians over the traced passes. */
object Layers {
  private val MB = 1048576.0

  /** Layer times that only one workload exercises; on the other they read 0
    * on every run. They go to the summary and the record's `layer_detail`,
    * not to the result line. */
  val Detail: Set[String] = Set("queries.build_ms", "plans.codegen_ms", "sources.bronze_s", "pipelines.silver_s",
    "pipelines.gold_s", "streaming.batch_ms", "mix.warehouse_sql_s", "mix.iterative_s", "mix.corpus_dedup_s")

  def metrics(traced: Seq[Seq[Main.OpRun]], untraced: Seq[Seq[Main.OpRun]], cpus: Int,
              prepareS: Double, jobFloorMs: Double): Seq[(String, Double, String)] = {
    def perPass(f: Seq[Main.OpRun] => Double): Double = Stats.median(traced.map(f))
    def sum(key: String)(p: Seq[Main.OpRun]): Double = p.map(_.num(key)).sum
    def wallOf(names: String*)(p: Seq[Main.OpRun]): Double =
      p.filter(r => names.contains(r.op.name)).map(_.wallMs).sum / 1000
    def family(f: String)(p: Seq[Main.OpRun]): Double =
      p.filter(_.op.family == f).map(_.wallMs).sum / 1000
    val wall = (p: Seq[Main.OpRun]) => p.map(_.wallMs).sum
    Seq(
      ("queries.build_ms", perPass(sum("build_ms")), "ms"),
      ("queries.exec_ms", perPass(sum("exec_ms")), "ms"),
      ("queries.eager_jobs", perPass(sum("eager_jobs")), "count"),
      ("plans.plan_ms", perPass(sum("plan_ms")), "ms"),
      ("plans.executions", perPass(sum("executions")), "count"),
      ("plans.codegen_compiles", perPass(sum("codegen_compiles")), "count"),
      ("plans.codegen_ms", perPass(sum("codegen_ms")), "ms"),
      ("plans.blocks_held", perPass(sum("blocks_held")), "count"),
      ("plans.blocks_held_mb", perPass(sum("blocks_held_bytes")) / MB, "MB"),
      ("spark.jobs", perPass(sum("jobs")), "count"),
      ("spark.stages", perPass(sum("stages")), "count"),
      ("spark.tasks", perPass(sum("tasks")), "count"),
      ("spark.driver_gap_ms", perPass(sum("driver_gap_ms")), "ms"),
      ("spark.job_floor_ms", jobFloorMs, "ms"),
      ("exec.run_ms", perPass(sum("run_ms")), "ms"),
      ("exec.cpu_ms", perPass(sum("cpu_ms")), "ms"),
      ("exec.gc_ms", perPass(sum("gc_ms")), "ms"),
      ("exec.utilization", perPass(p => sum("run_ms")(p) / (wall(p) * cpus)), "ratio"),
      ("shuffle.write_mb", perPass(sum("shuffle_write_bytes")) / MB, "MB"),
      ("shuffle.read_mb", perPass(sum("shuffle_read_bytes")) / MB, "MB"),
      ("shuffle.spill_mb", perPass(sum("spill_bytes")) / MB, "MB"),
      ("sources.gen_s", prepareS, "s"),
      ("sources.bronze_s", perPass(wallOf("bronze")), "s"),
      ("sources.read_mb", perPass(sum("read_bytes")) / MB, "MB"),
      ("sources.write_mb", perPass(sum("write_bytes")) / MB, "MB"),
      ("pipelines.silver_s", perPass(wallOf("silver")), "s"),
      ("pipelines.gold_s", perPass(wallOf("gold")), "s"),
      ("streaming.batches", perPass(sum("batches")), "count"),
      ("streaming.batch_ms", perPass(sum("batch_ms")), "ms"),
      ("mix.warehouse_sql_s", perPass(family("warehouse_sql")), "s"),
      ("mix.iterative_s", perPass(family("iterative")), "s"),
      ("mix.corpus_dedup_s", perPass(family("corpus_dedup")), "s"),
      ("trace.pass_s", perPass(wall) / 1000, "s"),
      ("trace.overhead_s", (perPass(wall) - Stats.median(untraced.map(wall))) / 1000, "s"))
  }
}
