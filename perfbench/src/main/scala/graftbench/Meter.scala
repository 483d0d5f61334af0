package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation as a user of graft sees it: a query, a micro-batch or a
  * table call, with its latency and outcome. */
final case class Op(pass: Int, kind: String, name: String, module: String,
    ms: Double, ok: Boolean, err: String)

/** A traced interval. Times are nanoseconds since the meter started;
  * `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long)

/** Records ops for every pass and, in traced passes, spans at each layer
  * boundary (workload -> op -> layer call -> Spark job) and per-layer
  * counters. Tracing hooks only the public Spark listener APIs and the
  * benchmark's own calls; nothing inside graft is instrumented.
  *
  * In a traced pass every layer call runs under its own job group, so
  * jobs, stages and tasks are attributed to it exactly, and the listener
  * bus is drained when the call returns, so asynchronous callbacks (the
  * QueryExecution tracker's phases) land on the call that caused them.
  * A streaming query's micro-batches run on its own thread under a job
  * group of its own (the run id); their jobs carry the query id and are
  * attributed to the layer call that started the stream. */
final class Meter(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  def now: Long = System.nanoTime() - t0Ns

  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  def counter(k: String): Double = synchronized(counters.getOrElse(k, 0.0))
  def counterMap: Map[String, Double] = synchronized(counters.toMap)
  def add(k: String, v: Double): Unit =
    synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }

  var pass = 0
  /** Whether the current pass records spans and counters. */
  @volatile var traced = false
  private var nextId = 1L
  private var open: List[Long] = Nil
  @volatile private var layerId = 0L
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** RDD ids of the warm fixture tables, so scratch caches can be told
    * apart from them. */
  @volatile var tableRdds: Set[Int] = Set.empty

  private def openSpan(kind: String, name: String): (Long, Long) = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    (id, parent)
  }

  /** Run `body` as a span when the pass is traced; plain call otherwise. */
  def span[T](kind: String, name: String)(body: => T): T =
    if (!traced) body
    else {
      val (id, parent) = openSpan(kind, name)
      val s = now
      try body finally {
        open = open.tail
        synchronized(spans += Span(id, parent, kind, name, s, now))
      }
    }

  /** Whether ops are recorded (false during the untimed warm pass). */
  var recording = false

  /** Time `body` as one op. A thrown exception is a failed op (its
    * latency then counts as infinite in the summary). Outside recording,
    * a failure is only swallowed. */
  def op[T](kind: String, name: String, module: String = "")(
      body: => T): Option[T] =
    if (!recording) {
      try Some(body) catch { case e: Throwable if NonFatal(e) => None }
    } else {
      val s = System.nanoTime()
      val r = try Right(span("op", name)(body))
        catch { case e: Throwable if NonFatal(e) => Left(e) }
      val err = r.left.toOption.map(e =>
        s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      record(kind, name, module, (System.nanoTime() - s) / 1e6, err)
      r.toOption
    }

  /** An op timed elsewhere (a micro-batch, from the stream's progress). */
  def record(kind: String, name: String, module: String, ms: Double,
      err: Option[String] = None): Unit =
    if (recording) ops += Op(pass, kind, name, module, ms, err.isEmpty, err.getOrElse(""))

  /** A call into one graft layer: see the three-key form. */
  def layer[T](key: String)(body: => T): T =
    layer(key, s"$key.ms", s"$key.calls")(body)

  /** A call into one graft layer. Traced: a span named `key`, a job group
    * for its Spark jobs, the `msKey` and `callsKey` counters (either may
    * be null), and a drained listener bus on return. */
  def layer[T](key: String, msKey: String, callsKey: String)(body: => T): T =
    if (!traced) body
    else {
      val s = System.nanoTime()
      span("layer", key) {
        val id = open.head
        layerId = id
        sc.setJobGroup(s"pbT-$id", key, interruptOnCancel = false)
        try body finally {
          drain()
          sc.clearJobGroup()
          layerId = 0L
          if (msKey != null) add(msKey, (System.nanoTime() - s) / 1e6)
          if (callsKey != null) add(callsKey, 1)
        }
      }
    }

  /** Wait until the listener bus has delivered every posted event. The
    * bus is private to Spark but public in bytecode; failing that, wait
    * a fixed short time. */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case NonFatal(_) => Thread.sleep(50) }

  /** Spark-side attribution, installed only in a traced run. */
  def install(): Unit = {
    sc.addSparkListener(new SparkListener {
      private def owner(props: java.util.Properties): Long = {
        val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (group.exists(_.startsWith("pbT-"))) group.get.drop(4).toLong
        else if (Option(props).exists(_.getProperty("sql.streaming.queryId") != null))
          layerId // the layer call is still open: it drains the bus before closing
        else 0L
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val o = owner(e.properties)
        if (o != 0L) {
          jobStart.put(e.jobId, (o, e.time))
          e.stageIds.foreach(stageOwner.put(_, o))
          add("spark.jobs", 1)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { case (o, t) =>
          val id = Meter.this.synchronized { val i = nextId; nextId += 1; i }
          val toNs = (ms: Long) => (ms - t0Ms) * 1000000L
          Meter.this.synchronized(
            spans += Span(id, o, "job", s"job ${e.jobId}", toNs(t), toNs(e.time)))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageOwner.containsKey(e.stageInfo.stageId)) add("spark.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stageOwner.containsKey(e.stageId) && e.taskMetrics != null) {
          val m = e.taskMetrics
          val mb = 1024.0 * 1024.0
          add("spark.tasks", 1)
          add("spark.task_run_ms", m.executorRunTime.toDouble)
          add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
          add("spark.gc_ms", m.jvmGCTime.toDouble)
          add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
          add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
          add("spark.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
          add("spark.input_mb", m.inputMetrics.bytesRead / mb)
          add("spark.output_mb", m.outputMetrics.bytesWritten / mb)
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (layerId != 0L) {
          val ph = qe.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            ph.get(p).foreach(s => add(s"spark.${p}_ms", s.durationMs.toDouble))
          }
          try add("scratch.inmem_scans", inMemScans(qe.executedPlan).toDouble)
          catch { case NonFatal(_) => }
        }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
  }

  /** In-memory scans of caches other than the warm fixture tables: how
    * often a query reused a cached intermediate. */
  private def inMemScans(p: SparkPlan): Int = {
    def nodes(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    nodes(p).count {
      case s: InMemoryTableScanExec =>
        !tableRdds.contains(s.relation.cacheBuilder.cachedColumnBuffers.id)
      case _ => false
    }
  }

  /** Megabytes held by cached RDDs, split into (warm tables, the rest). */
  def cachedMb(): (Double, Double) = {
    val (t, o) = sc.getRDDStorageInfo.partition(i => tableRdds.contains(i.id))
    def mb(xs: Seq[org.apache.spark.storage.RDDInfo]) =
      xs.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    (mb(t.toSeq), mb(o.toSeq))
  }
}

/** Process-level readings: JVM envelope, GC, heap, host pressure. */
object Host {
  def env(spark: SparkSession): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "cores" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "collectors" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "jdk" -> s"${System.getProperty("java.version")} ${System.getProperty("java.vm.name")}",
      "spark" -> spark.version,
      "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq)
  }

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Old-generation occupancy right after a full collection: the live
    * heap at this point. */
  def liveHeapMb(): Double = {
    // the second collection also frees what Spark's context cleaner
    // released after the first (broadcast and shuffle blocks)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Cumulative "some" stall time from /proc/pressure/<res>, in ms
    * (0 where the kernel does not expose it). */
  def psiMs(res: String): Double =
    try {
      val src = scala.io.Source.fromFile(s"/proc/pressure/$res")
      try src.getLines().find(_.startsWith("some")).flatMap(
        _.split(" ").find(_.startsWith("total=")))
        .map(_.drop(6).toDouble / 1000.0).getOrElse(0.0)
      finally src.close()
    } catch { case NonFatal(_) => 0.0 }

  /** Fixed-work probe (a code-generated range sum): the same work every
    * call, so its time tracks how busy the host is. */
  def sentinelMs(spark: SparkSession): Double = {
    val s = System.nanoTime()
    spark.range(5000000L).selectExpr("sum(id * 7)").collect()
    (System.nanoTime() - s) / 1e6
  }

  def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
}
