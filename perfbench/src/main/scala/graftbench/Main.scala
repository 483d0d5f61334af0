package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files => NFiles, Paths}

import org.apache.spark.sql.SparkSession

import graft.sources.{Scratch, Tables}

/** One measured run of one workload in a fresh JVM. `run.py` generates the
  * inputs, starts this with graft's own JVM options, and turns the report
  * it writes into the benchmark's metrics.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * bench (fixture dir), in (other inputs), run (working dir of this run),
  * out (report path).
  *
  * Set-up, from JVM start to the first timed op: the session; the warm
  * table cache and expression registration, done three times from cold
  * with the median kept; and the untimed warm pass over the workload's
  * own shapes. Then the workload's timed passes over its op sequence, a
  * later one only while `seconds` have not yet elapsed. A traced run
  * makes three passes, the middle one traced, so one JVM yields both the
  * per-layer readings and the tracing overhead; its first two passes run
  * whatever `seconds` says, so there is always a traced pass. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    graft.RunId.ensure()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a("run")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val meter = new Meter(spark, trace)
    if (trace) meter.install()
    val ctx = new Ctx(spark, meter, a("seed").toLong, a("bench"), a("in"),
      a("run"))
    val workload = Workloads(a("workload"))

    val tablesS = (1 to 3).map { _ =>
      Tables.clearWarmCache()
      val s = System.nanoTime()
      val failed =
        if (workload.readsFixtures) Tables.warmCache(spark, ctx.benchDir) else Nil
      graft.functions.SketchExprs.register(spark)
      graft.functions.VecExprs.register(spark)
      graft.functions.VecExprs.registerLshSigs(spark)
      graft.functions.VecExprs.registerL2(spark)
      require(failed.isEmpty, s"warmCache failed: $failed")
      (System.nanoTime() - s) / 1e9
    }
    meter.tableRdds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val w0 = System.nanoTime()
    workload.warm(ctx)
    Scratch.releaseAll()
    val warmS = (System.nanoTime() - w0) / 1e9
    val coldS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setupS = sessionS + tablesS.sorted.apply(1) + warmS
    val tablesMb = meter.cachedMb()._1

    val sentinels = Seq.newBuilder[Double]
    sentinels += Host.sentinelMs(spark)
    val heap = Seq.newBuilder[Double]
    heap += Host.liveHeapMb()
    val passes = Seq.newBuilder[Map[String, Any]]
    meter.recording = true
    // The workload's passes (three when traced: untraced-traced-untraced,
    // so a steady warm-up trend cancels out of the overhead comparison);
    // no pass starts once `seconds` have elapsed.
    def isTraced(p: Int) = trace && p == 1
    val target = if (trace) 3 else workload.passes
    val t0 = System.nanoTime()
    var p = 0
    while (p < target && (p == 0 || isTraced(p) || (System.nanoTime() - t0) / 1e9 < seconds)) {
      meter.pass = p
      meter.traced = isTraced(p)
      val before = (Host.gcMs, Host.compileMs, Seq("cpu", "io", "memory").map(Host.psiMs))
      val s = System.nanoTime()
      meter.span("workload", a("workload"))(workload.pass(ctx, p))
      val wall = (System.nanoTime() - s) / 1e9
      if (meter.traced) {
        meter.add("jvm.gc_pause_ms", Host.gcMs - before._1)
        meter.add("spark.codegen_compile_ms", Host.compileMs - before._2)
        Seq("cpu", "io", "memory").map(Host.psiMs).zip(before._3)
          .zip(Seq("host.psi_cpu_ms", "host.psi_io_ms", "host.psi_mem_ms"))
          .foreach { case ((n, b), k) => meter.add(k, n - b) }
        meter.add("traced_wall_s", wall)
      }
      meter.traced = false
      val live = Host.liveHeapMb()
      heap += live
      passes += Map("pass" -> p, "traced" -> isTraced(p),
        "wall_s" -> wall, "live_heap_mb" -> live)
      p += 1
    }
    meter.recording = false
    sentinels += Host.sentinelMs(spark)
    workload.finish(ctx)

    if (trace) {
      val busy = meter.counter("spark.task_run_ms") /
        (meter.counter("traced_wall_s") * 1000.0 * cores)
      ctx.values("spark.slot_busy_frac") = busy
      if (workload.readsFixtures) {
        ctx.values("tables.warm_ms") = tablesS.sorted.apply(1) * 1000.0
        ctx.values("tables.cached_mb") = tablesMb
      }
    }
    val report = Map(
      "env" -> Host.env(spark),
      "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS,
        "tables_s" -> tablesS, "warm_pass_s" -> warmS, "cold_s" -> coldS),
      "passes" -> passes.result(),
      "ops" -> meter.ops.map(o => Map("pass" -> o.pass, "kind" -> o.kind,
        "name" -> o.name, "module" -> o.module, "ms" -> o.ms, "ok" -> o.ok,
        "err" -> o.err)),
      "checks" -> ctx.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "live_heap_mb" -> heap.result(),
      "sentinel_ms" -> sentinels.result(),
      "workload" -> ctx.report,
      "counters" -> meter.counterMap,
      "values" -> ctx.values,
      "spans" -> meter.spans.map(s =>
        Seq(s.id, s.parent, s.kind, s.name, s.start, s.end)))
    NFiles.writeString(Paths.get(a("out")), Json(report))
    spark.stop()
  }
}
