package perfbench

import java.io.File
import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId

/** Command-line arguments, as `run.py` passes them. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, data: String, work: String, out: String,
                      queries: Seq[String], rate: Double, drainFiles: Int, openFiles: Int,
                      breakCheck: Boolean) {
  /** Timed passes for a run: enough passes of `passSeconds` to fill the
    * run length, and at least `atLeast`. A fixed count, not a deadline,
    * so every run takes the same samples however fast the host is.
    */
  def passes(passSeconds: Double, atLeast: Int = 2): Int =
    math.max(atLeast, math.ceil(seconds / passSeconds).toInt)
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("data"), m("work"), m("out"),
      m.get("queries").filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil),
      m.get("rate").map(_.toDouble).getOrElse(0.0), m.get("drain-files").map(_.toInt).getOrElse(0),
      m.get("open-files").map(_.toInt).getOrElse(0),
      m.get("break-check").contains("1"))
  }
}

/** JSON output for the result and span files. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Peak resident set of this JVM in MB (`VmHWM`). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** One timed interval. All spans of one operation share `op`; `parent`
  * is the id of the enclosing span, or -1.
  */
final case class Span(op: String, id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span buffer. Spans are only kept when tracing is on; they
  * are written out once, after the run.
  */
final class Tracer(@volatile var enabled: Boolean, val t0: Long) {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)

  def nextId(): Int = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) buf.add(s)

  /** Time `body` as span `name` of operation `op`; returns (result, ns). */
  def span[T](op: String, name: String, parent: Int, id: Int = -1)(body: => T): (T, Long) = {
    val sid = if (id >= 0) id else nextId()
    val s = System.nanoTime()
    val r = body
    val e = System.nanoTime()
    add(Span(op, sid, parent, name, s, e))
    (r, e - s)
  }

  private val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Add a span whose bounds are wall-clock epoch milliseconds. */
  def addEpochMs(op: String, parent: Int, name: String, startMs: Long, endMs: Long): Int = {
    val id = nextId()
    add(Span(op, id, parent, name, startMs * 1000000L + clockOffset, endMs * 1000000L + clockOffset))
    id
  }

  def spans: Seq[Span] = buf.asScala.toSeq

  /** Spans with self time (duration minus the union of child spans). */
  def dump(path: String): Unit = {
    val all = spans
    val kids = all.groupBy(s => (s.op, s.parent))
    def covered(s: Span): Long = {
      val iv = kids.getOrElse((s.op, s.id), Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
      total
    }
    Json.write(path, all.sortBy(_.startNs).map { s =>
      val dur = s.endNs - s.startNs
      Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.startNs - t0) / 1e9, "dur_s" -> dur / 1e9,
        "self_s" -> (dur - covered(s)) / 1e9)
    })
  }
}

/** Scheduler counters of one operation (a job group). */
final class OpCounters {
  val jobsStarted = new AtomicInteger
  val jobsEnded = new AtomicInteger
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  val taskMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val scanRows = new AtomicLong
  val scanBytes = new AtomicLong
  @volatile var worstSkew = 0.0
}

/** Listener that attributes jobs, stages and task metrics to the job
  * group the benchmark sets around each operation, records job and
  * stage spans, and tracks cached RDD bytes. The benchmark waits on its
  * job-end and SQL-execution-end counts instead of sleeping.
  */
final class OpListener(tracer: Tracer) extends SparkListener {
  val ops = new ConcurrentHashMap[String, OpCounters]()
  @volatile var current: String = null
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  private val opSpan = new ConcurrentHashMap[String, Int]()
  private val taskDur = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  val sqlStarted = new AtomicInteger
  val sqlEnded = new AtomicInteger
  private val cached = new ConcurrentHashMap[String, Long]()
  private val cachedTotal = new AtomicLong
  val cachedPeak = new AtomicLong

  // wall clock (ms) -> tracer clock (ns): listener events carry epoch ms
  private val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def counters(op: String): OpCounters = ops.computeIfAbsent(op, _ => new OpCounters)

  def beginOp(op: String, spanId: Int): Unit = { opSpan.put(op, spanId); current = op; counters(op) }

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    if (g == null) return
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.put(_, g))
    counters(g).jobsStarted.incrementAndGet()
    jobSpan.put(e.jobId, (tracer.nextId(), e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.remove(e.jobId)
    if (g == null) return
    Option(jobSpan.remove(e.jobId)).foreach { case (id, start) =>
      tracer.add(Span(g, id, opSpan.getOrDefault(g, -1), s"job ${e.jobId}",
        start * 1000000L + clockOffset, e.time * 1000000L + clockOffset))
    }
    counters(g).jobsEnded.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.successful)
      taskDur.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = stageGroup.remove(info.stageId)
    val durs = Option(taskDur.remove(info.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
    if (g == null) return
    val c = counters(g)
    c.stages.incrementAndGet()
    c.tasks.addAndGet(info.numTasks)
    Option(info.taskMetrics).foreach { m =>
      c.taskMs.addAndGet(m.executorRunTime)
      c.taskCpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.scanRows.addAndGet(m.inputMetrics.recordsRead)
      c.scanBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    if (durs.size >= 2) {
      val med = Stats.median(durs.map(_.toDouble))
      if (med > 0) c.worstSkew = math.max(c.worstSkew, durs.max / med)
    }
    for (s <- info.submissionTime; f <- info.completionTime)
      tracer.add(Span(g, tracer.nextId(), opSpan.getOrDefault(g, -1),
        s"stage ${info.stageId}", s * 1000000L + clockOffset, f * 1000000L + clockOffset))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (!b.blockId.isInstanceOf[RDDBlockId]) return
    val size = b.memSize + b.diskSize
    val prev = if (size > 0) cached.put(b.blockId.name, size) else cached.remove(b.blockId.name)
    val total = cachedTotal.addAndGet(size - (if (prev == 0L) 0L else prev))
    cachedPeak.accumulateAndGet(total, math.max)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => sqlStarted.incrementAndGet()
    case _: SparkListenerSQLExecutionEnd => sqlEnded.incrementAndGet()
    case _ =>
  }

  /** Block until every job of `op` and every SQL execution has reported
    * its end event (bounded, so a lost event cannot hang the run).
    */
  def awaitQuiet(op: String, timeoutMs: Long = 10000): Boolean = {
    val c = counters(op)
    val until = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < until &&
      (c.jobsEnded.get < c.jobsStarted.get || sqlEnded.get < sqlStarted.get))
      Thread.sleep(1)
    c.jobsEnded.get >= c.jobsStarted.get && sqlEnded.get >= sqlStarted.get
  }
}

/** What every workload shares: the session, the tracer and listener,
  * the validity checks and the result record.
  */
final class Harness(val args: Args, val t0: Long) {
  val tracer = new Tracer(args.trace, t0)
  val listener: Option[OpListener] = if (args.trace) Some(new OpListener(tracer)) else None
  /** Raw results for run.py; each workload adds its own keys. */
  val result = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  private var firstTimedNs = 0L
  private var liveHeapPeak = 0L

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    listener.foreach(s.sparkContext.addSparkListener)
    log("session started")
    s
  }

  /** Switch tracing (spans and the listener) on or off; returns `on`. */
  def tracing(on: Boolean): Boolean = {
    listener.foreach { l =>
      if (on && !tracer.enabled) spark.sparkContext.addSparkListener(l)
      if (!on && tracer.enabled) spark.sparkContext.removeSparkListener(l)
    }
    tracer.enabled = on && args.trace
    tracer.enabled
  }

  /** Progress note with elapsed seconds, to the run's log (stderr). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  /** Called once, right before the first timed operation. */
  def markTimed(): Unit = if (firstTimedNs == 0L) { firstTimedNs = System.nanoTime(); log("timed section") }

  /** Collect, then record the heap and direct buffers still in use.
    * Called at quiescent points between timed operations, so the peak is
    * the largest footprint the workload keeps between operations, and
    * does not follow the collector's heap sizing or timing.
    */
  def sampleLiveHeap(): Unit = {
    // the first collection queues the dead RDDs, shuffles and broadcasts
    // for Spark's cleaner, whose block stores hold them until it runs
    System.gc()
    Thread.sleep(100)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val direct = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .filter(_.getName == "direct").map(_.getMemoryUsed).sum
    liveHeapPeak = math.max(liveHeapPeak, heap + direct)
  }

  /** Run `body` as operation `op`: its jobs carry the job group `op`,
    * and when tracing it is a root span whose job and stage spans come
    * from the listener. Returns (result, wall ns).
    */
  def op[T](op: String, name: String)(body: Int => T): (T, Long) = {
    val sc = spark.sparkContext
    val id = tracer.nextId()
    val traced = tracer.enabled
    if (traced) listener.foreach(_.beginOp(op, id))
    sc.setJobGroup(op, name, interruptOnCancel = false)
    try tracer.span(op, name, -1, id)(body(id))
    finally {
      sc.clearJobGroup()
      if (traced) listener.foreach { l => l.awaitQuiet(op); l.current = null }
    }
  }

  /** Scheduler totals over the operations whose id passes `keep`. */
  def schedulerTotals(keep: String => Boolean): Map[String, Double] = listener match {
    case None => Map.empty
    case Some(l) =>
      val cs = l.ops.asScala.collect { case (k, c) if keep(k) => c }.toSeq
      def sum(f: OpCounters => Long): Double = cs.map(f).sum.toDouble
      Map(
        "spark.jobs" -> sum(_.jobsStarted.get),
        "spark.stages" -> sum(_.stages.get),
        "spark.tasks" -> sum(_.tasks.get),
        "operators.task_s" -> sum(_.taskMs.get) / 1e3,
        "operators.task_cpu_s" -> sum(_.taskCpuNs.get) / 1e9,
        "operators.shuffle_write_bytes" -> sum(_.shuffleWrite.get),
        "operators.shuffle_read_bytes" -> sum(_.shuffleRead.get),
        "operators.spill_bytes" -> sum(_.spill.get),
        "operators.gc_s" -> sum(_.gcMs.get) / 1e3,
        "operators.task_skew" -> (if (cs.isEmpty) 0.0 else cs.map(_.worstSkew).max),
        "tables.scan_rows" -> sum(_.scanRows.get),
        "tables.scan_bytes" -> sum(_.scanBytes.get))
  }

  /** Cached RDD partitions still held once every operator cache is
    * released (must be 0).
    */
  def leakedCacheBlocks(): Int = {
    graft.Tables.releaseOperatorCaches(spark)
    val sc = spark.sparkContext
    val until = System.currentTimeMillis() + 10000
    def held = sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
    while (held > 0 && System.currentTimeMillis() < until) Thread.sleep(20)
    held
  }

  /** Stream children of this JVM still alive after the pool is drained
    * (must be 0).
    */
  def orphanChildren(): Int = {
    graft.operators.ChildProcessPool.drain()
    val until = System.currentTimeMillis() + 5000
    def alive = ProcessHandle.current().children().filter(_.isAlive).count().toInt
    while (alive > 0 && System.currentTimeMillis() < until) Thread.sleep(20)
    alive
  }

  def finish(): Unit = {
    log("finish")
    val invalid = mutable.ArrayBuffer.empty[String]
    val orphans = orphanChildren()
    val leaked = leakedCacheBlocks()
    if (orphans != 0) invalid += s"child.orphans_end = $orphans"
    if (leaked != 0) invalid += s"tables.cache_leaked_blocks = $leaked"
    val nproc = Runtime.getRuntime.availableProcessors()
    if (args.cores > nproc) invalid += s"master cores ${args.cores} > nproc $nproc"
    layers("child.orphans_end") = orphans
    layers("tables.cache_leaked_blocks") = leaked
    listener.foreach(l => layers("tables.cache_peak_bytes") = l.cachedPeak.get.toDouble)
    result("invalid") = invalid.toSeq ++ result.get("invalid").toSeq.flatMap(_.asInstanceOf[Seq[String]])
    result("first_timed_epoch_s") =
      (System.currentTimeMillis() - (System.nanoTime() - firstTimedNs) / 1000000L) / 1e3
    result("peak_rss_mb") = Stats.peakRssMb()
    result("peak_live_heap_mb") = liveHeapPeak / 1048576.0
    result("cores") = args.cores
    result("layers") = layers
    if (args.trace) tracer.dump(args.out.stripSuffix(".json") + "-spans.json")
    Json.write(args.out, result)
  }
}

object Plans {
  /** Physical operators in the final (post-AQE) plan. */
  def nodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case o => 1 + o.children.map(nodes).sum
  }
}
