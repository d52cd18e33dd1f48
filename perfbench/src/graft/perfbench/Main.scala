package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * Main --root <checkout> --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * Closed loop: one client runs whole batch jobs back to back on
  * `local[cores]` until `--seconds` of timed work is done. Prints one
  * line per metric and, last, one JSON object (end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`). */
object Main {
  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "run_s" -> "s",
    "rows_per_s" -> "1/s", "mb_per_s" -> "MB/s", "success_rate" -> "ratio",
    "peak_heap_mb" -> "MB", "stored_bytes_ratio" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "pgwire.write_s" -> "s", "pg.server_active_s" -> "s", "pgwire.client_s" -> "s",
    "pg.wal_mb" -> "MB", "pg.xact_commit" -> "count",
    "pgwire.read_s" -> "s", "pgwire.read_rows_per_s" -> "1/s", "pg.tup_returned" -> "count",
    "core.incremental.diff_s" -> "s", "core.incremental.delta_ratio" -> "ratio",
    "vs.requests.scroll" -> "count", "vs.requests.upsert" -> "count", "vs.request_mb" -> "MB",
    "vs.bytes_per_row" -> "B", "vs.server_s" -> "s", "vs.retry_ratio" -> "ratio",
    "ops.quality_s" -> "s", "ops.exact_dedup_s" -> "s", "ops.minhash_pairs_s" -> "s",
    "ops.cc_s" -> "s", "ops.cc_rounds" -> "count", "ops.keep_canonical_s" -> "s",
    "ops.repetition_s" -> "s", "ops.minhash.precision" -> "ratio",
    "core.migrator.probe_s" -> "s", "spark.jobs" -> "count", "spark.driver_gap_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio",
    "time.core_s" -> "s", "time.connectors_s" -> "s", "time.connectors.pgwire_s" -> "s",
    "time.connectors.vectorstore_s" -> "s", "time.ops_s" -> "s", "time.spark_s" -> "s",
    "time.unattributed_s" -> "s", "trace.run_s" -> "s", "trace.overhead_s" -> "s")

  final case class Args(root: Path, workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val seconds = need("seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Args(Paths.get(need("root")).toAbsolutePath, need("workload"), need("seed").toLong, seconds,
      trace == "1")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def peakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--train")) { train(Paths.get(argv(argv.indexOf("--root") + 1))); sys.exit(0) }
    val a = try parse(argv) catch {
      case e: Exception => System.err.println(s"[perfbench] ${e.getMessage}"); sys.exit(2)
    }
    if (!Workloads.Names.contains(a.workload)) {
      System.err.println(s"[perfbench] unknown workload '${a.workload}'; known: ${Workloads.Names.mkString(", ")}")
      sys.exit(2)
    }
    val code = try { run(a); 0 } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] FAILED: $e")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  /** One untimed run of every workload: the class-loading profile the
    * build's class-data archive is recorded from. */
  def train(root: Path): Unit = {
    val work = root.toAbsolutePath.resolve(".bench_build").resolve("perfbench").resolve("work")
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(work, cores)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Bench.calibrateMin3(spark)
    Workloads.Names.foreach { n =>
      val w = Workloads(n, Ctx(spark, work, 0L, cores))
      w.generate(); w.prepare()
      try { w.reset(); w.check(w.run()).foreach(e => throw new IllegalStateException(s"$n: $e")) }
      finally w.teardown()
    }
    spark.stop()
  }

  def session(work: Path, cores: Int): SparkSession =
    graft.GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      // room for every class one run generates: at Spark's default of 100
      // a warm curation run recompiled ~80 of them, single-threaded
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  def run(a: Args): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainAt = (System.currentTimeMillis() - jvmStart) / 1000.0
    val work = a.root.resolve(".bench_build").resolve("perfbench").resolve("work")
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(work, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = Ctx(spark, work, a.seed, cores)
    val w = Workloads(a.workload, ctx)

    def phase(p: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%8.3fs $p")
    phase("generate")
    val g0 = System.nanoTime()
    w.generate()
    val genS = secs(g0)

    // set-up, repeated: boot servers + preload, torn down between reps
    phase("prepare")
    val prepS = (1 to SetupReps).map { i =>
      if (i > 1) w.teardown()
      val t0 = System.nanoTime(); w.prepare(); secs(t0)
    }
    val hook = new Thread(() => w.teardown())
    Runtime.getRuntime.addShutdownHook(hook)
    w.reset()
    phase("cold run")
    val c0 = System.nanoTime()
    val warm = w.run()
    val coldS = secs(c0)
    val warmErr = w.check(warm).map("cold run: " + _).toSeq
    val setupS = sessionS + median(prepS) + coldS

    phase("timed loop")
    var attempted = 1 // the cold run
    var failed = warmErr.size
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val peaks = scala.collection.mutable.ArrayBuffer.empty[Double]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String] ++ warmErr
    val (_, noise) = graft.Bench.bracketed(spark) {
      val wall0 = System.nanoTime()
      while ((times.sum < a.seconds || times.length < w.minRuns) && secs(wall0) < a.seconds * 4 + 30) {
        w.reset()
        System.gc()
        resetPeak()
        attempted += 1
        val t0 = System.nanoTime()
        val res = try Right(w.run()) catch { case e: Exception => Left(e.toString) }
        val dt = secs(t0)
        peaks += peakMb()
        val err = res.fold(Some(_), o => w.check(o))
        err match {
          case Some(e) => failed += 1; errors += s"timed run ${attempted - 1}: $e"
          case None => times += dt
        }
      }
    }
    phase("report")
    val runS = median(times.toSeq)
    val iqr = if (times.length >= 4) {
      val s = times.sorted; s(s.length * 3 / 4) - s(s.length / 4)
    } else 0.0
    val stats = noise.copy(iqrNoisy = iqr > runS)
    val sink = w.sinkBytes()

    val e2e = Map(
      "setup_s" -> setupS, "run_s" -> runS,
      "rows_per_s" -> w.inputRows / runS, "mb_per_s" -> w.logicalBytes / 1e6 / runS,
      "success_rate" -> (1.0 - failed.toDouble / attempted),
      "peak_heap_mb" -> median(peaks.toSeq),
      "stored_bytes_ratio" -> sink.toDouble / w.logicalBytes)

    println(f"[perfbench] workload=${w.name} seed=${a.seed} cores=$cores closed-loop clients=1 " +
      f"max_connections=$cores input_rows=${w.inputRows} input_mb=${w.logicalBytes / 1e6}%.3f")
    println(f"[perfbench] setup: jvm=$mainAt%.3fs session=$sessionS%.3fs prepare(median of $SetupReps)=${median(prepS)}%.3fs " +
      f"cold_run=$coldS%.3fs (input generation $genS%.3fs, excluded)")
    println(f"[perfbench] runs=${times.length} attempted=$attempted failed=$failed " +
      f"run_s median=$runS%.4f all=${times.map(t => f"$t%.3f").mkString(",")}")
    println(f"[perfbench] host_noise=${stats.noisy} calib_pre=${stats.calibPre}%.3fs " +
      f"calib_post=${stats.calibPost}%.3fs drift=${graft.Bench.drift(stats.calibPre, stats.calibPost)}%.2f " +
      f"load_pre=${stats.loadPre} load_post=${stats.loadPost} iqr_noisy=${stats.iqrNoisy}")
    errors.foreach(e => println(s"[perfbench] CHECK FAILED $e"))
    EndToEnd.foreach { case (k, u) => println(f"[perfbench] ${w.name} $k%-20s ${e2e(k)}%14.6f $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      else {
        val (layers, ok) = traced(a, w, ctx, runS)
        attempted += 1
        if (!ok) failed += 1
        PerLayer.map { case (k, u) => (k, layers.getOrElse(k, 0.0), u) }
      }

    w.teardown()
    Runtime.getRuntime.removeShutdownHook(hook)
    val json = metrics.map { case (k, v, u) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$json}""")
    spark.stop()
  }

  /** One extra, separately timed run under the tracer. */
  def traced(a: Args, w: Workload, ctx: Ctx, untracedS: Double): (Map[String, Double], Boolean) = {
    val t = new Tracer(ctx.spark)
    val runId = s"${w.name}-seed${a.seed}-${System.currentTimeMillis()}"
    w.reset()
    t.start()
    var own = Map.empty[String, Double]
    val (_, root) = t.span("run", "run", "", 0) { rid => own = w.traced(t, rid) }
    t.stop()
    val top = t.allSpans.filter(_.parent == root.id)
    val mains = top.filter(_.kind == "main")
    // each span's children: disjoint module segments of its jobs, then
    // explicit `unattributed` spans for the gaps
    val tiled = (mains ++ top.filter(_.kind == "probe")).map { p =>
      val segs = Tracer.segments(t.jobsIn(p), p.start, p.end)
        .map { case (s0, s1, m) => t.add(Span(0, p.id, s"jobs:$m", "segment", m, s0, s1)) }
      p -> (segs, Tracer.tile(t, p, segs))
    }.toMap
    val topGaps = Tracer.tile(t, root, top)
    val sumOk = ((root -> (top ++ topGaps)) +: tiled.toSeq.map { case (p, (s, g)) => p -> (s ++ g) })
      .forall { case (p, cs) => math.abs(cs.map(_.dur).sum - p.dur) < 1e-6 * math.max(1.0, p.dur) }

    val mainJobs = mains.flatMap(t.jobsIn)
    val mainSegs = mains.flatMap(m => tiled(m)._1)
    val mainGaps = mains.flatMap(m => tiled(m)._2)
    val mainS = mains.map(_.dur).sum
    val stages = mainJobs.flatMap(_.stages)
    val longest = stages.sortBy(s => -(s.end - s.start)).headOption
    val skew = longest.map { s =>
      val m = median(s.taskS); if (m > 0) s.taskS.max / m else 1.0
    }.getOrElse(1.0)
    val byModule = mainSegs.groupBy(_.module).map { case (m, ss) => m -> ss.map(_.dur).sum }
    val layers = own ++ Map(
      "core.migrator.probe_s" -> mains.map(m => Workloads.sumJobs(t.jobsIn(m), "core")).sum,
      "spark.jobs" -> mainJobs.size.toDouble,
      "spark.driver_gap_s" -> mainGaps.map(_.dur).sum,
      "spark.executor_cpu_s" -> stages.map(_.cpuS).sum,
      "spark.gc_s" -> stages.map(_.gcS).sum,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleReadB).sum / 1e6,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWriteB).sum / 1e6,
      "spark.spill_mb" -> stages.map(_.spillB).sum / 1e6,
      "spark.task_skew" -> skew,
      "time.unattributed_s" -> (mainGaps ++ topGaps).map(_.dur).sum,
      "trace.run_s" -> mainS,
      "trace.overhead_s" -> (mainS - untracedS)) ++
      Modules.All.map(m => s"time.${m}_s" -> byModule.getOrElse(m, 0.0))

    val dir = a.root.resolve(".bench_build").resolve("perfbench").resolve("trace")
    Files.createDirectories(dir)
    val file = dir.resolve(s"${w.name}-seed${a.seed}.jsonl")
    val jobLines = t.jobs.map { j =>
      s"""{"run_id":"$runId","kind":"job","job_id":${j.id},"module":"${j.module}",""" +
        s""""start_ms":${Json.num(j.start)},"end_ms":${Json.num(j.end)},"sql_exec":${j.execId},""" +
        s""""stages":${j.stages.size},"call_site":${Json.str(Modules.frames(j.callSite).take(4).mkString(" | "))}}"""
    }
    Files.write(file, (t.allSpans.sortBy(s => (s.start, s.id)).map(Tracer.jsonl(_, runId)) ++ jobLines)
      .mkString("", "\n", "\n").getBytes(UTF_8))

    val check = w.check(RunOut()) // sink state after the traced run
    println(s"[perfbench] trace: ${t.allSpans.size} spans, ${t.jobs.size} jobs -> " +
      a.root.relativize(file).toString)
    println(f"[perfbench] trace: wall=${root.dur}%.4fs main=$mainS%.4fs untraced_median=$untracedS%.4fs " +
      f"overhead=${mainS - untracedS}%+.4fs children+unattributed=${if (sumOk) "exact" else "MISMATCH"}")
    val width = 34
    println(s"[perfbench] ${"span".padTo(width, ' ')} ${"module".padTo(22, ' ')}        s")
    val mainIds = mains.map(_.id).toSet
    t.allSpans.filter(s => s.parent == root.id || mainIds(s.parent)).sortBy(_.start).foreach { s =>
      val ind = if (mainIds(s.parent)) "  " else ""
      println(f"[perfbench] ${(ind + s.name).padTo(width, ' ')} ${s.module.padTo(22, ' ')} ${s.dur}%8.4f")
    }
    PerLayer.foreach { case (k, u) => println(f"[perfbench] layer $k%-32s ${layers.getOrElse(k, 0.0)}%14.6f $u") }
    check.foreach(e => println(s"[perfbench] CHECK FAILED traced run: $e"))
    (layers, sumOk && check.isEmpty)
  }
}
