package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.operators.{IndexLayout, TextDedup}
import graft.streaming.StreamingOps

/** Open-loop ingest through `StreamingOps.cdcProbePerBatch` with
  * `appendAfterProbe = true`, against a CDC chunk index built in set-up
  * from the generated base documents.
  *
  * Two phases over the generated tick files (one parquet file of new
  * documents each, read with `maxFilesPerTrigger = 1`, so every batch
  * is one file):
  *  - drain: a pre-staged backlog, consumed one file per batch, which
  *    measures capacity;
  *  - open loop: a generator thread publishes one file per tick at a
  *    fixed rate, stamping each with its creation time (the file's
  *    mtime); latency runs from the file's due time to sink receipt,
  *    and the generator's lateness (creation minus due) is reported.
  *
  * The index grows through both phases. The check (after the timed
  * section) replays the same files in order with the batch operators
  * and compares per-batch chunk and hit counts.
  */
object IngestBench {

  /** What the sink saw for one batch. */
  final case class Batch(phase: String, batchId: Long, firstDoc: Long, chunks: Long, hits: Long,
                         entryMs: Long, exitMs: Long)

  def run(h: Harness): Unit = {
    val a = h.args
    val spark = h.spark
    val work = a.work
    val ticks = new File(s"${a.data}/ticks").listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    val drainFiles = a.drainFiles
    val openFiles = a.openFiles
    require(ticks.size >= drainFiles + openFiles,
      s"need ${drainFiles + openFiles} tick files, found ${ticks.size}")
    val docsSchema = spark.read.parquet(ticks.head.getPath).schema
    val index = s"$work/index"
    val base = spark.read.parquet(s"${a.data}/base.parquet").select("doc_id", "text")
    TextDedup.writeChunkIndex(base, index)
    val idxCount = spark.read.parquet(IndexLayout.resolveVersionDir(spark, index)).count()
    h.log("index built")

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    @volatile var phase = "drain"
    val sink: (DataFrame, Long) => Unit = { (probe, id) =>
      val entry = System.currentTimeMillis()
      val r = h.tracer.span(s"batch-$phase-$id", "sink", -1)(probe.agg(min("doc_id"), count(lit(1)),
        count(when(col("n_index_docs") > 0, 1))).head())._1
      batches.add(Batch(phase, id, r.getLong(0), r.getLong(1), r.getLong(2), entry, System.currentTimeMillis()))
    }
    val backlog = new File(s"$work/backlog"); backlog.mkdirs()
    val source = new File(s"$work/source"); source.mkdirs()
    ticks.take(drainFiles).zipWithIndex.foreach { case (f, i) =>
      for (dir <- Seq(backlog, source)) {
        val to = new File(dir, f.getName)
        Files.copy(f.toPath, to.toPath)
        to.setLastModified(1000000000000L + i * 1000L) // file source orders by mtime
      }
    }
    // warm: one batch of the first open file through the batch operators
    // on an index copy, so codegen is not billed to the drain
    warm(spark, ticks(drainFiles).getPath, s"$work/index-warm", index)

    // a traced run drains the backlog untraced as well, once before and
    // once after the traced phases, each on a copy of the initial index,
    // so it can report its own overhead with warm-up bias balanced
    def untracedDrain(copy: String): Double = {
      h.tracing(false)
      val w = drain(spark, backlog.getPath, docsSchema, copy, (_, _) => ())._1
      h.tracing(true)
      w
    }
    val untraced = mutable.ArrayBuffer.empty[Double]
    if (a.trace) {
      copyTree(new File(index), new File(s"$work/index-untraced-2"))
      copyTree(new File(index), new File(s"$work/index-untraced-1"))
      untraced += untracedDrain(s"$work/index-untraced-1")
    }

    val openTicks = ticks.slice(drainFiles, drainFiles + openFiles)
    val due = new Array[Long](openFiles)
    val created = new Array[Long](openFiles)
    val firstOpenDoc = spark.read.parquet(openTicks.head.getPath).agg(min("doc_id")).head().getLong(0)
    val docsPerFile = spark.read.parquet(openTicks.head.getPath).count()

    // One query serves both phases: it drains the pre-staged backlog
    // (older mtimes, so read first), then the generator publishes the
    // open-loop files into the same directory.
    h.markTimed()
    val start = System.nanoTime()
    val q = StreamingOps.cdcProbePerBatch(
      spark.readStream.schema(docsSchema).option("maxFilesPerTrigger", "1").parquet(source.getPath),
      index, appendAfterProbe = true, sink = sink)
    val (drainWall, _) = h.op("drain", "drain") { _ =>
      (awaitBatches(q, drainFiles, stop = false)._1 - start) / 1e9
    }
    val drainProgress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    h.sampleLiveHeap()
    h.log("drained")
    phase = "open"
    val (openProgress, _) = h.op("open", "open") { _ =>
      val period = 1e9 / a.rate
      val genStartNs = System.nanoTime() + 200000000L
      val genStartMs = System.currentTimeMillis() + 200
      val gen = new Thread(() => openTicks.zipWithIndex.foreach { case (f, i) =>
        val dueNs = genStartNs + (i * period).toLong
        var now = System.nanoTime()
        while (now < dueNs) { Thread.sleep(((dueNs - now) / 1000000L).min(50L)); now = System.nanoTime() }
        due(i) = genStartMs + (dueNs - genStartNs) / 1000000L
        // write under a hidden name, stamp, then publish atomically
        val tmp = new File(source, s".${f.getName}.tmp")
        Files.copy(f.toPath, tmp.toPath)
        val stamp = System.currentTimeMillis()
        tmp.setLastModified(stamp)
        Files.move(tmp.toPath, new File(source, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
        created(i) = stamp
      }, "perfbench-generator")
      gen.setDaemon(true)
      gen.start()
      gen.join()
      awaitBatches(q, drainFiles + openFiles, stop = true)._2.drop(drainFiles)
    }

    h.sampleLiveHeap()
    h.log("open loop done")
    if (a.trace) untraced += untracedDrain(s"$work/index-untraced-2")

    // results: one record per batch, joined with its progress report
    val all = batches.asScala.toSeq
    def byId(p: Seq[StreamingQueryProgress], ph: String) = {
      val m = all.filter(_.phase == ph).map(b => b.batchId -> b).toMap
      p.sortBy(_.batchId).flatMap(x => m.get(x.batchId).map(x -> _))
    }
    val drained = byId(drainProgress, "drain")
    val opened = byId(openProgress, "open")
    def ms(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    val lat = opened.map { case (p, b) =>
      val i = ((b.firstDoc - firstOpenDoc) / docsPerFile).toInt
      // timed from the due time, so a late generator cannot hide a stall
      Map("file" -> i, "latency_s" -> (b.entryMs - due(i)) / 1e3,
        "gen_late_s" -> (created(i) - due(i)) / 1e3,
        "done_after_due_s" -> (startMs(p) + ms(p, "triggerExecution") - due(i)) / 1e3)
    }
    h.result("drain_wall_s") = drainWall
    h.result("drain_rows") = drained.size * docsPerFile
    h.result("open_batches") = lat
    h.result("docs_per_file") = docsPerFile
    h.result("index_rows_start") = idxCount
    h.result("gen_late_s") = if (lat.isEmpty) 0.0 else lat.map(_("gen_late_s").asInstanceOf[Double]).max
    if (a.trace) h.result("untraced_drain_wall_s") = untraced.sum / untraced.size

    // check: replay the same files in order with the batch operators.
    // Batch i probes the index holding the base and files 0..i-1, so a
    // chunk of file i is a hit iff its hash occurs in the base or in an
    // earlier file; one job over every file gives all batches' counts.
    // The generator numbers documents consecutively from file to file,
    // so a document's file follows from its doc_id.
    val files = ticks.take(drainFiles + openFiles)
    val firstDoc = spark.read.parquet(files.head.getPath).agg(min("doc_id")).head().getLong(0)
    val chunks = TextDedup.cdcChunks(spark.read.parquet(files.map(_.getPath): _*))
      .select(((col("doc_id") - firstDoc) / docsPerFile).cast("int").as("file"), col("doc_id"), col("chunk_hash"))
    val firstSeen = TextDedup.cdcChunks(base).select(lit(-1).as("file"), col("chunk_hash"))
      .union(chunks.select("file", "chunk_hash"))
      .groupBy("chunk_hash").agg(min("file").as("first"))
    val replay = chunks.join(firstSeen, "chunk_hash").groupBy("file")
      .agg(min("doc_id"), count(lit(1)), count(when(col("first") < col("file"), 1)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    var want = files.indices.map(replay.getOrElse(_, (-1L, 0L, 0L)))
    val got = (drained ++ opened).map { case (_, b) => (b.firstDoc, b.chunks, b.hits) }
    if (a.breakCheck) want = want.updated(0, want(0).copy(_3 = want(0)._3 + 1))
    val failed = mutable.LinkedHashMap.empty[String, String]
    if (got.size != want.size) failed("batches") = s"${got.size} batches, want ${want.size}"
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      if (g != w) failed(s"batch$i") = s"(first doc, chunks, hits) = $g, replay $w"
    }
    h.result("failed") = failed
    h.result("attempted") = want.size
    h.log("checked")

    if (a.trace) {
      val both = drained ++ opened
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def dur(ks: String*): Seq[Double] = both.map { case (p, _) => ks.map(ms(p, _)).sum / 1e3 }
      h.layers("streaming.batches") = both.size
      h.layers("streaming.trigger_s") = med(dur("triggerExecution"))
      h.layers("streaming.add_batch_s") = med(dur("addBatch"))
      h.layers("streaming.plan_s") = med(dur("queryPlanning"))
      h.layers("streaming.commit_s") = med(dur("walCommit", "commitOffsets"))
      h.layers("streaming.gen_late_s") = h.result("gen_late_s").asInstanceOf[Double]
      // The sink runs between probe and append, so its entry and exit
      // split addBatch, which starts after latestOffset, walCommit,
      // getBatch and queryPlanning within the trigger.
      val split = both.map { case (p, b) =>
        val t0 = startMs(p)
        val add0 = t0 + Seq("latestOffset", "walCommit", "getBatch", "queryPlanning").map(ms(p, _)).sum
        val add1 = add0 + ms(p, "addBatch")
        val op = s"batch-${b.phase}-${b.batchId}"
        val id = h.tracer.addEpochMs(op, -1, "micro-batch", t0, t0 + ms(p, "triggerExecution"))
        h.tracer.addEpochMs(op, id, "probe", add0, b.entryMs)
        h.tracer.addEpochMs(op, id, "append", b.exitMs, add1)
        ((b.entryMs - add0) / 1e3, (add1 - b.exitMs) / 1e3)
      }
      val probes = split.map(_._1)
      val quarter = math.max(1, probes.size / 4)
      h.layers("index.probe_s") = med(probes)
      h.layers("index.append_s") = med(split.map(_._2))
      h.layers("index.probe_growth") = med(probes.takeRight(quarter)) / med(probes.take(quarter))
      h.layers("index.files_end") = Files.walk(new File(index).toPath).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
      h.layers("index.bytes_end") = IndexLayout.indexBytes(spark, index).toDouble
      h.layers("index.hit_ratio") = both.map(_._2.hits).sum.toDouble / math.max(1L, both.map(_._2.chunks).sum)
      // streaming jobs carry their query's run id as job group
      h.schedulerTotals(_ => true).foreach { case (k, v) => h.layers(k) = v }
    }
  }

  /** Wait until `n` non-empty batches have completed, then (if `stop`,
    * or on failure) stop `q`.
    * Returns (nanoTime when the last completed, their progress reports).
    */
  private def awaitBatches(q: StreamingQuery, n: Int, stop: Boolean): (Long, Seq[StreamingQueryProgress]) = {
    def done = q.recentProgress.count(_.numInputRows > 0)
    val until = System.currentTimeMillis() + 120000
    while (done < n && q.exception.isEmpty && System.currentTimeMillis() < until) Thread.sleep(2)
    val end = System.nanoTime()
    if (stop || q.exception.nonEmpty || done < n) q.stop()
    q.exception.foreach(e => throw e)
    require(done == n, s"stream completed $done of $n batches")
    (end, q.recentProgress.filter(_.numInputRows > 0).toSeq)
  }

  /** Drain a pre-staged backlog: `cdcProbePerBatch` starts its own
    * query with the default trigger, so the drain runs it until every
    * backlog file is consumed (with `maxFilesPerTrigger = 1` and nothing
    * else arriving, the batches are those of `Trigger.AvailableNow`).
    * Returns (wall seconds, progress of the non-empty batches).
    */
  private def drain(spark: org.apache.spark.sql.SparkSession, dir: String,
                    schema: org.apache.spark.sql.types.StructType, index: String,
                    sink: (DataFrame, Long) => Unit): (Double, Seq[StreamingQueryProgress]) = {
    val files = new File(dir).list().count(_.endsWith(".parquet"))
    val start = System.nanoTime()
    val q = StreamingOps.cdcProbePerBatch(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir),
      index, appendAfterProbe = true, sink = sink)
    val (end, progress) = awaitBatches(q, files, stop = true)
    ((end - start) / 1e9, progress)
  }

  private def warm(spark: org.apache.spark.sql.SparkSession, file: String, scratch: String,
                   index: String): Unit = {
    copyTree(new File(index), new File(scratch))
    val docs = spark.read.parquet(file)
    TextDedup.cdcProbeAgainstChunkIndex(docs, scratch).count()
    TextDedup.appendToChunkIndex(docs, scratch)
  }

  private def copyTree(from: File, to: File): Unit =
    Files.walk(from.toPath).iterator().asScala.foreach { p =>
      val t = to.toPath.resolve(from.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
}
