package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark's JVM side. `perfbench/run.py` builds this together with
  * the engine's sources and launches it:
  *
  *   setup    build the session, warm up, report the set-up times, exit;
  *   run      set up, then a cold pass, settling passes and measured warm
  *            passes over a workload's queries for `--seconds`, each output
  *            materialized through Spark's `noop` sink; afterwards
  *            (untimed) write every output once for the correctness check;
  *   selftest check the benchmark's own assumptions and exit non-zero on
  *            the first that fails.
  *
  * Results go to `--out` as JSON; nothing is printed on stdout. */
object Main {
  /** Workload -> the public query builders it calls, in canonical order;
    * `--seed` permutes this order inside every pass. */
  val Workloads: Map[String, Seq[String]] = Map(
    "pandas_ops" -> Seq("q_groupby_agg", "q_groupby_transform",
      "q_rolling_stats", "q_str_ops", "q_value_counts", "q_pivot",
      "q_merge"),
    "rank_ann" -> Seq("q_rank", "q_groupby_corr_spearman", "q_kmeans",
      "q_pq_topk"))

  def builders: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries

  final case class Opts(mode: String, workload: String, seed: Long,
                        seconds: Double, trace: Boolean, data: String,
                        work: String, launchNs: Long, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(get("--mode"), m.getOrElse("--workload", ""),
      m.getOrElse("--seed", "0").toLong, m.getOrElse("--seconds", "0").toDouble,
      m.getOrElse("--trace", "0") == "1", get("--data"), get("--work"),
      get("--launch-ns").toLong, get("--out"))
  }

  def main(args: Array[String]): Unit = {
    val mainNs = Clock.epochNs()
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    val trace = new Trace
    val runSpan = trace.open("run", 0, start = o.launchNs)
    val setupSpan = trace.open("setup", runSpan.id, start = o.launchNs)
    trace.close(trace.open("session.jvm", setupSpan.id, start = o.launchNs), mainNs)
    // The settings of graft.Bench's timing session, with the scratch
    // directories kept inside the benchmark's work directory, and one
    // more: a codegen cache that holds a whole pass's generated classes.
    // A rank_ann pass generates more than Spark's default of 100, so at
    // that default every warm pass recompiled an order-dependent subset
    // of them; graft.Bench and graft.Verify keep the default (NOTES.md).
    val b0 = Clock.epochNs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CodegenFallbacks.install()
    val b1 = Clock.epochNs()
    // One small job, so the scheduler and executor threads are up; the
    // first-use costs of SQL and of the operators belong to the cold pass.
    spark.sparkContext.parallelize(1 to cpus, cpus).map(_ * 2L).sum()
    val b2 = Clock.epochNs()
    trace.close(trace.open("session.build", setupSpan.id, start = b0), b1)
    trace.close(trace.open("session.warmup", setupSpan.id, start = b1), b2)
    trace.close(setupSpan, b2)
    val setup = Map("setup_s" -> (b2 - o.launchNs) / 1e9,
      "session.jvm_s" -> (mainNs - o.launchNs) / 1e9,
      "session.build_s" -> (b1 - b0) / 1e9, "session.warmup_s" -> (b2 - b1) / 1e9)
    val code = o.mode match {
      case "setup" => write(o.out, Emit.json(Map("setup" -> setup))); 0
      case "run" => new Run(spark, o, trace, runSpan, setup).execute(); 0
      case "selftest" => SelfTest.run(spark, o)
      case other => throw new IllegalArgumentException(s"--mode $other")
    }
    spark.stop()
    sys.exit(code)
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** VmHWM of this process, in MB: the peak resident set so far. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** One query call: wall time split at the boundary between the operator
  * building its DataFrame (including its eager probes) and the action. */
final case class Call(query: String, pass: Int, traced: Boolean, ok: Boolean,
                      buildS: Double, actionS: Double, error: String,
                      layers: Map[String, Double]) {
  def seconds: Double = buildS + actionS
}

final class Run(spark: SparkSession, o: Main.Opts, trace: Trace,
                runSpan: Span, setup: Map[String, Double]) {
  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism
  private val queries = Main.Workloads.getOrElse(o.workload,
    throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
  private val fns = queries.map(q => q -> Main.builders.getOrElse(q,
    throw new IllegalArgumentException(s"unknown query $q"))).toMap
  private val meter = new Meter(trace)

  /** The cold pass runs the canonical order on every seed: whichever query
    * comes first pays Spark SQL's one-time start-up, and permuting that
    * moved cold_pass_s by up to 25% between seeds. */
  def order(pass: Int): Seq[String] =
    if (pass == 0) queries
    else new scala.util.Random(o.seed * 1000003L + pass).shuffle(queries)

  /** Runs the passes, then the untimed output dump, and writes the result. */
  def execute(): Unit = {
    val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
    val passWall = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    // the cold pass is traced in a traced run; measured warm passes
    // alternate traced / untraced there, so the run measures its overhead
    def onePass(pass: Int, traced: Boolean): Unit = {
      System.gc()
      if (traced) { sc.addSparkListener(meter); spark.listenerManager.register(meter) }
      val ps = if (traced) Some(trace.open("pass", runSpan.id, Map("pass" -> pass.toString))) else None
      val cs = order(pass).map(q => call(q, pass, traced, ps))
      ps.foreach(trace.close(_))
      if (traced) { sc.removeSparkListener(meter); spark.listenerManager.unregister(meter) }
      calls ++= cs
      passWall += ((pass, traced, cs.map(_.seconds).sum))
    }
    onePass(0, o.trace)
    (1 until Run.FirstMeasured).foreach(onePass(_, false))
    // Measured passes fill --seconds: another starts only if it should end
    // in time. A traced run needs one traced and one untraced pass.
    val warmStart = System.nanoTime()
    val minWarm = if (o.trace) 2 else 1
    var pass = Run.FirstMeasured
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    while (pass < Run.FirstMeasured + minWarm || elapsed + passWall.last._3 <= o.seconds) {
      onePass(pass, o.trace && (pass - Run.FirstMeasured) % 2 == 0)
      pass += 1
    }
    val rss = Main.peakRssMb()
    val cg1 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    trace.close(runSpan)
    val checkDir = s"${o.work}/check-${ProcessHandle.current().pid()}"
    dumpOutputs(checkDir)

    val warm = calls.filter(_.pass >= Run.FirstMeasured)
    val untracedWarm = warm.filter(!_.traced)
    val warmPasses = passWall.filter(_._1 >= Run.FirstMeasured)
    val e2eWarm = warmPasses.filter(!_._2).map(_._3)
    val perQueryMed = queries.map(q =>
      q -> Main.median(untracedWarm.filter(c => c.query == q && c.ok).map(_.seconds).toSeq))
    val geomean = math.exp(perQueryMed.map(x => math.log(x._2)).sum / perQueryMed.size)
    val nWarm = untracedWarm.size
    def metric(v: Double, unit: String, passes: Int, n: Int) =
      Map("value" -> v, "unit" -> unit, "passes" -> passes, "calls" -> n)
    val e2e = Map(
      "cold_pass_s" -> metric(passWall.head._3, "s", 1, queries.size),
      "warm_pass_s" -> metric(Main.median(e2eWarm.toSeq), "s", e2eWarm.size, nWarm),
      "warm_geomean_s" -> metric(geomean, "s", e2eWarm.size, nWarm),
      "peak_rss_mb" -> metric(rss, "MB", passWall.size, calls.size))

    val layerResult: Map[String, Any] = if (!o.trace) Map.empty else {
      val tracedCalls = calls.filter(_.traced)
      val tracedWarm = warm.filter(_.traced)
      val tracedPasses = warmPasses.filter(_._2).map(_._3)
      val names = Layers.PerCall
      def perPass(cs: Seq[Call]): Map[String, Double] = {
        val byPass = cs.groupBy(_.pass).values.map(pc =>
          Layers.derived(names.map(n => n -> pc.map(_.layers(n)).sum).toMap, cores))
        (names ++ Layers.Derived).map(n => n -> Main.median(byPass.map(_(n)).toSeq)).toMap
      }
      // codegen counts are taken over the whole run, cold pass included:
      // that is where compilation happens
      val runScope = Map(
        "codegen.compiles" -> (cg1._1 - cg0._1).toDouble,
        "codegen.compile_s" -> (cg1._2 - cg0._2) / 1e9,
        "codegen.fallbacks" -> CodegenFallbacks.count.toDouble)
      val overhead = Map(
        "trace.warm_pass_s" -> Main.median(tracedPasses.toSeq),
        "trace.overhead_ratio" ->
          (Main.median(tracedPasses.toSeq) / Main.median(e2eWarm.toSeq) - 1.0))
      val nPass = tracedPasses.size
      val layers =
        (perPass(tracedWarm.toSeq) -- runScope.keys).map { case (n, v) =>
          n -> metric(v, Layers.unit(n), nPass, tracedWarm.size) } ++
        setup.collect { case (n, v) if n.startsWith("session.") => n -> metric(v, "s", 0, 0) } ++
        runScope.map { case (n, v) => n -> metric(v, Layers.unit(n), passWall.size, calls.size) } ++
        overhead.map { case (n, v) => n -> metric(v, Layers.unit(n), warmPasses.size, warm.size) }
      Map(
        "layers" -> layers,
        "per_query" -> queries.map(q => q -> perPass(tracedWarm.filter(_.query == q).toSeq)
          .map { case (n, v) => n -> metric(v, Layers.unit(n), nPass, nPass) }).toMap,
        "cold_per_query" -> tracedCalls.filter(_.pass == 0).map(c =>
          c.query -> Map("seconds" -> c.seconds, "codegen.compile_s" -> c.layers("codegen.compile_s"),
            "codegen.compiles" -> c.layers("codegen.compiles"))).toMap,
        "spans" -> trace.summary.map { case (n, (k, tot, self)) =>
          n -> Map("count" -> k, "total_s" -> tot, "self_s" -> self) })
    }
    if (o.trace)
      Main.write(s"${o.work}/trace-${o.workload}-${o.seed}.json", Emit.json(trace.all.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs))))
    Main.write(o.out, Emit.json(Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "queries" -> queries, "setup" -> setup, "end_to_end" -> e2e,
      "calls" -> calls.map(c => Map("query" -> c.query, "pass" -> c.pass,
        "traced" -> c.traced, "ok" -> c.ok, "seconds" -> c.seconds,
        "error" -> c.error)).toSeq,
      "codegen.fallbacks" -> CodegenFallbacks.count,
      "check_dir" -> checkDir) ++ layerResult))
  }

  private def call(q: String, pass: Int, traced: Boolean, ps: Option[Span]): Call = {
    val qs = ps.map(p => trace.open("query", p.id, Map("query" -> q)))
    val bs = qs.map(s => trace.open("operator.build", s.id))
    bs.foreach(s => sc.setLocalProperty(Meter.SpanKey, s.id.toString))
    val cat = new CatalystCounters
    meter.catalyst = cat
    val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val t0 = System.nanoTime(); val e0 = Clock.epochNs()
    var t1 = t0
    var as: Option[Span] = None
    val err = try {
      val df = fns(q)(spark, o.data)
      t1 = System.nanoTime()
      bs.foreach(trace.close(_))
      as = qs.map(s => trace.open("action", s.id))
      as.foreach(s => sc.setLocalProperty(Meter.SpanKey, s.id.toString))
      df.write.format("noop").mode("overwrite").save()
      null
    } catch { case e: Throwable =>
      if (t1 == t0) t1 = System.nanoTime()
      System.err.println(s"[perfbench] $q failed in pass $pass: $e")
      e.toString.take(300)
    }
    val t2 = System.nanoTime(); val e2 = Clock.epochNs()
    sc.setLocalProperty(Meter.SpanKey, null)
    (bs.toSeq ++ as ++ qs).foreach(s => if (s.end == 0) trace.close(s))
    val layers = if (!traced) Map.empty[String, Double] else {
      PerfbenchBus.drain(sc)
      val cg1 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val build = meter.counters(bs.get.id)
      val action = as.map(s => meter.counters(s.id)).getOrElse(new Counters)
      Layers.ofCall(build, action, cat, wallMs = (e2 - e0) / 1e6,
        buildS = (t1 - t0) / 1e9, actionS = (t2 - t1) / 1e9,
        compiles = cg1._1 - cg0._1, compileNs = cg1._2 - cg0._2)
    }
    spark.catalog.clearCache()
    Call(q, pass, traced, err == null, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      if (err == null) "" else err, layers)
  }

  /** Every output written once, outside the timed region, for the
    * launcher's correctness check, with the oracle SQL of the rows that
    * have one. */
  private def dumpOutputs(dir: String): Unit = {
    queries.foreach { q =>
      try fns(q)(spark, o.data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
      catch { case e: Throwable => System.err.println(s"[perfbench] dump $q failed: $e") }
      spark.catalog.clearCache()
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Main.write(s"$dir/oracle_sql.json", Emit.json(oracle))
  }
}

object Run {
  /** Pass 0 is the cold pass; passes 1 and 2 run but are not reported:
    * until then the JIT still sped each pass up by 10% or more. */
  val FirstMeasured = 3
}

/** Per-layer metric names, units and the arithmetic that derives them. */
object Layers {
  /** summed over the calls of a pass */
  val PerCall: Seq[String] = Seq("operator.build_s", "operator.build_jobs", "action.s",
    "catalyst.executions", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.failed_tasks", "scheduler.job_s", "driver.gap_s", "executor.run_s",
    "executor.cpu_s", "executor.gc_s", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_s", "spill.memory_bytes", "spill.disk_bytes", "scan.bytes",
    "scan.records", "codegen.compiles", "codegen.compile_s")
  /** ratios, derived from a pass's sums */
  val Derived: Seq[String] = Seq("executor.busy_ratio")

  def unit(n: String): String =
    if (n.endsWith("_s") || n == "action.s") "s"
    else if (n.endsWith("_bytes") || n == "scan.bytes") "bytes"
    else if (n.endsWith("_ratio")) "ratio"
    else "count"

  def derived(sums: Map[String, Double], cores: Int): Map[String, Double] =
    sums + ("executor.busy_ratio" -> {
      val denom = sums("scheduler.job_s") * cores
      if (denom > 0) sums("executor.run_s") / denom else 0.0
    })

  def ofCall(b: Counters, a: Counters, cat: CatalystCounters, wallMs: Double,
             buildS: Double, actionS: Double, compiles: Long,
             compileNs: Long): Map[String, Double] = {
    def sum(f: Counters => java.util.concurrent.atomic.AtomicLong): Double =
      (f(b).get + f(a).get).toDouble
    val jobMs = Clock.unionNs((b.jobIntervals.values.asScala ++
      a.jobIntervals.values.asScala).toSeq).toDouble
    Map(
      "operator.build_s" -> buildS, "operator.build_jobs" -> b.jobs.get.toDouble,
      "action.s" -> actionS,
      "catalyst.executions" -> cat.executions.get.toDouble,
      "catalyst.analysis_s" -> cat.analysisMs.get / 1e3,
      "catalyst.optimization_s" -> cat.optimizationMs.get / 1e3,
      "catalyst.planning_s" -> cat.planningMs.get / 1e3,
      "scheduler.jobs" -> sum(_.jobs), "scheduler.stages" -> sum(_.stages),
      "scheduler.tasks" -> sum(_.tasks), "scheduler.failed_tasks" -> sum(_.failedTasks),
      "scheduler.job_s" -> jobMs / 1e3,
      "driver.gap_s" -> math.max(0.0, wallMs - jobMs) / 1e3,
      "executor.run_s" -> sum(_.runMs) / 1e3, "executor.cpu_s" -> sum(_.cpuNs) / 1e9,
      "executor.gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle.write_bytes" -> sum(_.shuffleWrite), "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "spill.memory_bytes" -> sum(_.spillMemory), "spill.disk_bytes" -> sum(_.spillDisk),
      "scan.bytes" -> sum(_.scanBytes), "scan.records" -> sum(_.scanRecords),
      "codegen.compiles" -> compiles.toDouble, "codegen.compile_s" -> compileNs / 1e9)
  }
}

/** JSON output. Numbers never go through a locale: doubles print with
  * `java.lang.Double.toString` (every digit, always a '.' separator) and
  * anything fixed-width is formatted with `Locale.ROOT`. */
object Emit {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot emit ${other.getClass}")
  }
}
