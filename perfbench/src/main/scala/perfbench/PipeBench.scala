package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.arrow.memory.RootAllocator
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import graft.operators.{ArrowProtocol, ChildProcess, ChildProcessPool, RdfProtocol, Stream, TsvProtocol}
import graft.operators.clients.JvmChild
import graft.plans.StreamExec

/** The pipe operator alone, on the generated table `(k long, i int,
  * d double, s string)` written as one parquet file per core.
  *
  * Cases, each timed as the full materialization of its output:
  *  - `bulk.tsv`, `bulk.arrow`, `bulk.rdf`: one partition per core,
  *    large chunks, pooled loop-style echo children (awk, the Arrow and
  *    the R-data.frame JVM echo clients; R-df carries `(i, d, s)`, since
  *    it has no 64-bit integer);
  *  - `fanout.awk`, `fanout.jvm`: many tiny partitions with the API
  *    defaults, so every task forks a fresh child;
  *  - `floor`: an identity `mapPartitions` over the bulk scan.
  *
  * The check (outside the timed section) compares the row count and
  * per-column checksums of every case's output with the input's.
  */
object PipeBench {
  /** Loop-style TSV echo child: the shape of the suite's pipe queries. */
  val AwkEcho: String =
    """awk -W interactive 'BEGIN{n=-1}
      |{ if (n<0) { n=$0+0; if (n==0) { print 0; fflush(); n=-1; next }; print n }
      |  else     { print "ok\t" $0; if (--n==0) { fflush(); n=-1 } } }'"""
      .stripMargin.replace("\n", " ")
  lazy val ArrowEcho: String = JvmChild.command("graft.operators.clients.ArrowEchoChild")
  lazy val RdfEcho: String = JvmChild.command("graft.operators.clients.RdfEchoChild")

  /** Length of one pass over the cases at this commit (4 cores). */
  val PassSeconds = 3.0
  val BulkChunk = 16384
  val FanoutRowsPerPart = 8
  val FanoutParts: Map[String, Int] = Map("fanout.awk" -> 32, "fanout.jvm" -> 4)

  /** Task start times, keyed by task attempt: the driver and executors
    * share one JVM in local mode, so fanout tasks can report their own
    * latency from first input row request to last output row.
    */
  private val taskStart = new ConcurrentHashMap[Long, java.lang.Long]()

  def run(h: Harness): Unit = {
    val a = h.args
    val spark = h.spark
    // one scan partition per file, so the Arrow case keeps the columnar
    // input path (no repartition between scan and pipe)
    spark.conf.set("spark.sql.files.openCostInBytes", (1L << 34).toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (1L << 34).toString)
    val bulk = spark.read.parquet(s"${a.data}/pipe")
    val schema = bulk.schema
    val rdfIn = bulk.select("i", "d", "s")
    val rdfSchema = rdfIn.schema
    val nRows = bulk.count()
    val parts = bulk.rdd.getNumPartitions
    h.log("inputs read")
    val fanRows = bulk.limit(FanoutParts.values.max * FanoutRowsPerPart).collect().toSeq
    def fanout(p: Int): DataFrame = {
      val rows = fanRows.take(p * FanoutRowsPerPart)
      val rdd = spark.sparkContext.parallelize(rows, p).mapPartitions { it =>
        taskStart.put(TaskContext.get().taskAttemptId(), System.nanoTime())
        it
      }
      spark.createDataFrame(rdd, schema)
    }
    val cases: Seq[(String, Long, () => DataFrame)] = Seq(
      ("bulk.tsv", nRows, () => Stream.tsv(bulk, AwkEcho, BulkChunk, reuseChildren = true)),
      ("bulk.arrow", nRows, () => Stream.arrow(bulk, ArrowEcho, schema, BulkChunk, reuseChildren = true)),
      ("bulk.rdf", nRows, () => Stream.df(rdfIn, RdfEcho, rdfSchema, BulkChunk, reuseChildren = true)),
      ("fanout.awk", FanoutParts("fanout.awk") * FanoutRowsPerPart.toLong,
        () => Stream.tsv(fanout(FanoutParts("fanout.awk")), AwkEcho)),
      ("fanout.jvm", FanoutParts("fanout.jvm") * FanoutRowsPerPart.toLong,
        () => Stream.arrow(fanout(FanoutParts("fanout.jvm")), ArrowEcho, schema)))

    // check pass (also the warm pass): every output's checksums must
    // equal the input's, over the columns the case carries
    val want = distributed(bulk, schema.length)(identity)
    val failed = mutable.LinkedHashMap.empty[String, String]
    cases.foreach { case (name, _, df) =>
      try {
        val got = outputChecksum(name, df(), schema)
        val exact = FanoutParts.get(name).map(p =>
          checksum(fanRows.take(p * FanoutRowsPerPart).iterator, schema.length)).getOrElse(want)
        val expect = if (a.breakCheck && name == "bulk.tsv") exact.copy(rows = exact.rows + 1) else exact
        val cols = if (name == "bulk.rdf") Seq(1, 2, 3) else schema.indices
        val ok = got.rows == expect.rows && cols.zipWithIndex.forall { case (c, i) =>
          got.column(if (name == "bulk.rdf") i else c) == expect.column(c) }
        if (!ok) failed(name) = s"checksums differ: got $got want $expect"
      } catch { case e: Throwable => failed(name) = e.toString }
    }
    h.log("checked")
    val protocol = if (a.trace) protocolLayers(h, bulk, rdfIn) else Map.empty[String, Double]
    // a warm pass in the timed form (the check pass decodes differently);
    // it also leaves the pools holding the bulk cases' children
    cases.filterNot(c => failed.contains(c._1)).foreach(_._3().queryExecution.toRdd.count())
    bulk.queryExecution.toRdd.count()

    h.markTimed()
    val rng = new scala.util.Random(a.seed)
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tasks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val forks = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val passes = a.passes(PassSeconds)
    var pass = 0
    while (pass < passes) {
      val traced = h.tracing(a.trace && pass % 2 == 1)
      val order = rng.shuffle(cases.filterNot(c => failed.contains(c._1)).map(c => c._1 -> c) :+
        ("floor" -> null))
      order.foreach { case (name, c) =>
        val opId = s"$name#$pass"
        val (lat, wall) = h.op(opId, name) { _ =>
          if (c == null) { bulk.queryExecution.toRdd.mapPartitions(identity).count(); Nil }
          else {
            val df = c._3()
            val rdd = df.queryExecution.toRdd
            val lat = rdd.mapPartitions { it =>
              val n = it.size
              val id = TaskContext.get().taskAttemptId()
              val t0 = Option(taskStart.remove(id)).map(_.longValue)
              Iterator((n, t0.map(System.nanoTime() - _).getOrElse(-1L)))
            }.collect()
            if (traced) forks(name) += streamExec(df).map(_.metrics("numChildren").value).getOrElse(0L)
            lat.toSeq
          }
        }
        samples += Map("case" -> name, "pass" -> pass, "wall_s" -> wall / 1e9, "traced" -> traced,
          "rows" -> (if (c == null) nRows else c._2))
        if (name.startsWith("fanout"))
          lat.foreach { case (_, ns) => tasks += Map("case" -> name, "pass" -> pass,
            "latency_s" -> ns / 1e9, "traced" -> traced) }
      }
      if (pass == 0 || pass == passes - 1) h.sampleLiveHeap()
      pass += 1
    }
    h.result("passes") = pass
    h.result("failed") = failed
    h.result("samples") = samples.toSeq
    h.result("tasks") = tasks.toSeq
    h.result("parts") = parts
    h.result("rows") = nRows
    if (a.trace) {
      protocol.foreach { case (k, v) => h.layers(k) = v }
      val tracedPasses = (0 until pass).count(_ % 2 == 1).toDouble
      h.layers("child.forks") = forks.values.sum / tracedPasses
      val taskCount = cases.map { case (n, _, _) => if (n.startsWith("bulk")) parts else FanoutParts(n) }.sum
      h.layers("child.pool_hits") = taskCount - forks.values.sum / tracedPasses
      h.schedulerTotals(_ => true).foreach { case (k, v) => h.layers(k) = v / tracedPasses }
    }
  }

  private def streamExec(df: DataFrame): Option[StreamExec] = {
    def find(p: org.apache.spark.sql.execution.SparkPlan): Option[StreamExec] = p match {
      case s: StreamExec => Some(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => find(a.executedPlan)
      case o => o.children.view.flatMap(find).headOption
    }
    find(df.queryExecution.executedPlan)
  }

  /** Row count plus, per column, (non-null count, wrapping sum of value
    * hashes): order-independent, so any partitioning compares equal.
    */
  final case class Checksum(rows: Long, nonNull: Seq[Long], sums: Seq[Long]) {
    def merge(o: Checksum): Checksum = Checksum(rows + o.rows,
      nonNull.zip(o.nonNull).map(p => p._1 + p._2), sums.zip(o.sums).map(p => p._1 + p._2))
    def column(c: Int): (Long, Long) = (nonNull(c), sums(c))
  }

  def checksum(rows: Iterator[Row], width: Int): Checksum = {
    val nonNull = new Array[Long](width)
    val sums = new Array[Long](width)
    var count = 0L
    rows.foreach { r =>
      count += 1
      var c = 0
      while (c < width) {
        if (!r.isNullAt(c)) {
          nonNull(c) += 1
          sums(c) += MurmurHash3.stringHash(canon(r.get(c))).toLong
        }
        c += 1
      }
    }
    Checksum(count, nonNull.toSeq, sums.toSeq)
  }

  private def canon(v: Any): String = v match {
    case d: Double => java.lang.Double.toString(d)
    case o => o.toString
  }

  private def distributed(df: DataFrame, width: Int)(rows: Iterator[Row] => Iterator[Row]): Checksum =
    df.rdd.mapPartitions(it => Iterator(checksum(rows(it), width))).collect()
      .reduceOption(_ merge _).getOrElse(Checksum(0, Seq.fill(width)(0L), Seq.fill(width)(0L)))

  /** Checksums of one case's output, decoded back into the input's
    * columns (TSV responses are parsed and unescaped).
    */
  private def outputChecksum(name: String, df: DataFrame, schema: StructType): Checksum =
    if (name.endsWith("tsv") || name.endsWith("awk")) {
      val types = schema.fields.map(_.dataType)
      distributed(df, schema.length)(_.flatMap(_.getString(2).split("\n", -1)).map { line =>
        val f = line.split("\t", -1)
        require(f.length == types.length + 1 && f(0) == "ok", s"bad echo line: $line")
        Row.fromSeq(types.toSeq.zip(f.tail.toSeq).map { case (t, v) =>
          if (v == "\\N") null else {
            val s = TsvProtocol.unescape(v)
            t match {
              case LongType => s.toLong
              case IntegerType => s.toInt
              case DoubleType => s.toDouble
              case _ => s
            }
          }
        })
      })
    } else {
      val cols = df.columns.filterNot(Set("instance_id", "chunk_no", "value_no"))
      distributed(df.select(cols.head, cols.tail.toSeq: _*), cols.length)(identity)
    }

  /** Per-format codec costs, timed on one bulk chunk by calling the
    * protocol objects directly: encode into memory, and decode a
    * response captured once from the real echo child.
    */
  private def protocolLayers(h: Harness, bulk: DataFrame, rdfIn: DataFrame): Map[String, Double] = {
    val schema = bulk.schema
    val rdfSchema = rdfIn.schema
    def sample(df: DataFrame): IndexedSeq[InternalRow] =
      df.limit(BulkChunk).queryExecution.toRdd.map(_.copy()).collect().toIndexedSeq
    val rows = sample(bulk)
    val rdfRows = sample(rdfIn)
    val allocator = new RootAllocator(Long.MaxValue)
    val out = mutable.LinkedHashMap.empty[String, Double]
    try {
      val encoders: Seq[(String, String, Int, java.io.OutputStream => Unit)] = Seq(
        ("tsv", AwkEcho, rows.size, o => TsvProtocol.writeChunk(o,
          rows.iterator.map(TsvProtocol.formatInternalRow(_, schema)), rows.size)),
        ("arrow", ArrowEcho, rows.size, o => ArrowProtocol.writeBatchInternal(o, allocator, schema, rows)),
        ("rdf", RdfEcho, rdfRows.size, o => RdfProtocol.writeChunk(o, rdfRows, rdfSchema)))
      encoders.foreach { case (fmt, cmd, n, encode) =>
        val buf = new ByteArrayOutputStream(1 << 24)
        val encNs = repeat(h, s"protocol.$fmt", "encode") { buf.reset(); encode(buf) }
        val request = buf.toByteArray
        // capture the echo child's response to this exact request
        val child = new ChildProcess(cmd, None)
        val captured = try {
          // write from another thread: the echo answers while it reads,
          // so a request larger than the pipe buffer would deadlock
          val writer = new Thread(() => { child.stdin.write(request); child.stdin.flush() })
          writer.start()
          val tee = new TeeStream(child.stdout)
          decode(fmt, tee, child, allocator, schema, rdfSchema)
          writer.join()
          tee.bytes
        } finally child.terminate()
        val decNs = repeat(h, s"protocol.$fmt", "decode") {
          decode(fmt, new ByteArrayInputStream(captured), child, allocator, schema, rdfSchema)
        }
        out(s"protocol.$fmt.encode_ns_per_row") = encNs / n
        out(s"protocol.$fmt.decode_ns_per_row") = decNs / n
        out(s"protocol.$fmt.bytes_out_per_row") = request.length.toDouble / n
        out(s"protocol.$fmt.bytes_in_per_row") = captured.length.toDouble / n
      }
      // fork: new ChildProcess to the reply to a one-row frame
      for ((kind, cmd, reps) <- Seq(("awk", AwkEcho, 20), ("jvm", ArrowEcho, 5))) {
        val ms = (1 to reps).map { _ =>
          h.tracer.span("child.fork", "fork", -1) {
            val child = new ChildProcess(cmd, None)
            try {
              if (kind == "awk") {
                TsvProtocol.writeChunk(child.stdin, Iterator(TsvProtocol.formatInternalRow(rows(0), schema)), 1)
                TsvProtocol.readMessage(child.stdout, child)
              } else {
                ArrowProtocol.writeBatchInternal(child.stdin, allocator, schema, rows.take(1))
                ArrowProtocol.readMessageReader(child.stdout, child, allocator, schema).foreach(_.close())
              }
            } finally child.terminate()
          }._2 / 1e6
        }
        out(s"child.fork_ms.$kind") = Stats.median(ms)
      }
      // acquire from a warm pool
      val (first, _) = ChildProcessPool.acquire(AwkEcho, None, reuse = true)
      ChildProcessPool.release(AwkEcho, first, reuse = true)
      val acq = (1 to 200).map { _ =>
        val ((c, fresh), ns) = h.tracer.span("child.acquire", "acquire", -1)(
          ChildProcessPool.acquire(AwkEcho, None, reuse = true))
        require(!fresh, "warm pool forked a child")
        ChildProcessPool.release(AwkEcho, c, reuse = true)
        ns / 1e6
      }
      out("child.acquire_ms") = Stats.median(acq)
    } finally allocator.close()
    out.toMap
  }

  private def decode(fmt: String, in: InputStream, child: ChildProcess, allocator: RootAllocator,
                     schema: StructType, rdfSchema: StructType): Unit = fmt match {
    case "tsv" => TsvProtocol.readMessage(in, child)
    case "arrow" => ArrowProtocol.readMessageReader(in, child, allocator, schema).foreach(_.close())
    case "rdf" => RdfProtocol.readMessage(in, child, rdfSchema)
  }

  /** Median ns of `body` over repetitions, each a child span of `op`. */
  private def repeat(h: Harness, op: String, name: String)(body: => Unit): Double = {
    (1 to 3).foreach(_ => body) // JIT warm-up
    Stats.median((1 to 15).map(_ => h.tracer.span(op, name, -1)(body)._2.toDouble))
  }

  /** Copies every byte read through it. */
  private final class TeeStream(in: InputStream) extends InputStream {
    private val copy = new ByteArrayOutputStream()
    def bytes: Array[Byte] = copy.toByteArray
    override def read(): Int = { val b = in.read(); if (b >= 0) copy.write(b); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); if (n > 0) copy.write(b, off, n); n
    }
  }
}
