package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Chunkers
import graft.services.HashingEmbedder

/** One benchmark run of one workload:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --dir RUN_DIR --sf SF_DIR --cores C --out RESULT_JSON
  *
  * Set-up is the Spark session, input generation, the initial indexing of
  * the corpus and the serving deployment; the deployment (IVF-PQ training,
  * graph build, publish) is repeated `SetupReps` times, each into a fresh
  * root, and `setup_s` counts its median. The last root is the one the
  * timed phase drives, one client in a closed loop (see [[Workload]]).
  * The result (metrics, sizes, checks, the span table) is written as JSON
  * to `--out`; `perfbench/run.py` prints it.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val w = Workload(a("workload"), a("seconds").toInt)
    val cores = a("cores").toInt
    val dir = a("dir")
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session up")
    val result =
      try new Main(spark, w, a("seed").toLong, a("trace") == "1", dir, a("sf")).run()
      finally spark.stop()
    mark("session stopped")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(result))
  }

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1e3}%7.2f s  $what")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

final class Main(spark: SparkSession, w: Workload, seed: Long, traced: Boolean,
    dir: String, sfDir: String) {
  import Main.{mark, median}
  import scala.jdk.CollectionConverters._

  private val off = new Trace(spark, enabled = false)
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Run one operation; an exception or a failed output check counts as
    * one failed operation.
    */
  private def op[T](what: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    attempted += 1
    try {
      val out = body
      val errs = check(out)
      if (errs.nonEmpty) failures += s"$what: ${errs.mkString("; ")}"
      Some(out)
    } catch {
      case NonFatal(e) =>
        failures += s"$what: $e"
        e.printStackTrace()
        None
    }
  }

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def expectedSizes: Map[String, Long] = Map(
    "docs" -> w.docs.toLong,
    "doc_chunks" -> w.docs.toLong * Workload.ChunksPerDoc,
    "changed_docs" -> w.hours.toLong * w.changedPerHour,
    // batch 0 and change-set 0 are the warm-up's and are not counted
    "probes" -> w.batches.toLong * w.probesPerBatch,
    "recall_probes" -> Workload.RecallProbes.toLong,
    "arrival_rows" -> w.passes.toLong * w.arrivalRows,
    "arrival_files" -> w.passes.toLong)

  def run(): java.util.Map[String, Any] = {
    // ------------------------------------------------------------ set-up
    // one-time parts: the session, the inputs and the initial indexing;
    // repeated part: the serving deployment, each into a fresh root
    val sessionS = (System.currentTimeMillis() - java.lang.management
      .ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val inputs = s"$dir/inputs"
    val (sizes, generateS) = secondsOf(Inputs.generate(spark, sfDir, inputs, seed, w))
    expectedSizes.foreach { case (k, v) =>
      require(sizes.toMap(k) == v, s"input size $k = ${sizes.toMap(k)}, expected $v")
    }
    mark("inputs generated")
    val h = new Deployment(spark, s"$dir/state", inputs)
    val (chunks, indexS) = secondsOf(h.indexCorpus())
    require(chunks == sizes.chunks, s"indexed $chunks chunks, generated ${sizes.chunks}")
    val deployS = (0 until Main.SetupReps).map { r =>
      val into = if (r == Main.SetupReps - 1) h.root else s"$dir/serving-rep$r"
      val s = secondsOf(h.deployServing(into))._2
      if (into != h.root) deleteTree(into)
      s
    }
    val timed = if (w.hours > 0) new CyclePhase(h) else new StreamPhase(h)
    val warmUpS = secondsOf(timed.warmUp())._2
    val setupS = sessionS + generateS + indexS + median(deployS) + warmUpS
    mark("set up")
    System.gc()

    val tr = new Trace(spark, traced)
    val timedS = secondsOf(timed.run(tr))._2
    mark("timed phase done")
    val retainedMb = retainedMegabytes()
    val recall = timed.recall()
    timed.afterChecks()
    mark("checked")

    // ------------------------------------------------------------ result
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", median(timed.opMs.toSeq), "ms"),
      ("items_per_s", timed.items / timed.itemSeconds, "items/s"),
      ("recall_at_10", recall, "fraction"),
      ("retained_mb", retainedMb, "MB"))
    val layer = if (!traced) Nil else {
      def acc(n: String) = tr.spans.getOrElse(n, new tr.Acc)
      Spans.all.flatMap { name =>
        val a = acc(name)
        Seq(("wall_s", a.wallS, "s"), ("jobs", a.jobs.toDouble, "count"),
          ("tasks", a.tasks.toDouble, "count"),
          ("driver_gap_s", a.driverGapS, "s"), ("exec_cpu_s", a.execCpuS, "s"),
          ("gc_s", a.gcS, "s"), ("shuffle_bytes", a.shuffleBytes.toDouble, "bytes"),
          ("spill_bytes", a.spillBytes.toDouble, "bytes"),
          ("input_bytes", a.inputBytes.toDouble, "bytes"),
          ("output_bytes", a.outputBytes.toDouble, "bytes"))
          .map { case (f, v, u) => (s"$name.$f", v, u) }
      } ++ Seq(
        (s"${Spans.RunOnce}.rows_per_changed_chunk",
          ratio(acc(Spans.RunOnce).recordsWritten, timed.changedChunks), "ratio"),
        (s"${Spans.Search}.scan_fraction",
          ratio(acc(Spans.Search).inputBytes, timed.cellBytesOffered), "ratio"),
        (s"${Spans.Ingest}.kept_ratio", ratio(timed.keptRows, timed.arrivedRows),
          "ratio"),
        ("pipeline.Chunkers.chunkText.ns_per_char", timed.kernels.nsPerChar, "ns"),
        ("services.HashingEmbedder.embedBatch.ns_per_chunk", timed.kernels.nsPerChunk,
          "ns"),
        ("trace_overhead", tr.overheadS / timedS, "ratio"))
    }
    tr.close()

    def metric(v: Double, u: String) = Map("value" -> v, "unit" -> u).asJava
    val metrics = new java.util.LinkedHashMap[String, Any]()
    (if (traced) layer else e2e).foreach { case (n, v, u) => metrics.put(n, metric(v, u)) }
    val spanTable = new java.util.LinkedHashMap[String, Any]()
    tr.spans.foreach { case (n, a) => spanTable.put(n, Map(
      "calls" -> a.calls, "jobs" -> a.jobs, "tasks" -> a.tasks,
      "wall_s" -> a.wallS, "driver_gap_s" -> a.driverGapS).asJava) }
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("correct", failures.isEmpty)
    out.put("attempted", attempted)
    out.put("failed", failures.length.toLong)
    out.put("metrics", metrics)
    out.put("failures", failures.asJava)
    out.put("sizes", (sizes.toMap ++ Map(
      "changed_chunks" -> timed.changedChunks)).asJava)
    out.put("notes", (timed.notes ++ Map(
      "op_ms" -> timed.opMs.toSeq.asJava, "session_s" -> sessionS,
      "generate_s" -> generateS, "index_s" -> indexS, "warm_up_s" -> warmUpS,
      "deploy_serving_s" -> deployS.asJava, "timed_s" -> timedS)).asJava)
    out.put("spans", spanTable)
    out
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** The timed phase of one workload and what it measured. */
  private abstract class Phase(h: Deployment) {
    val opMs = mutable.ArrayBuffer.empty[Double]
    /** Work done, and the seconds of timed operations that did it. */
    var items = 0L
    var itemSeconds = 0.0
    var changedChunks = 0L
    var cellBytesOffered = 0L
    var keptRows = 0L
    var arrivedRows = 0L
    val kernels = new Kernels

    def warmUp(): Unit
    def run(tr: Trace): Unit
    def afterChecks(): Unit = ()
    def notes: Map[String, Any]
    /** The corpus the search reranks from, as the deployment hands it. */
    def searchCorpus: DataFrame
    /** The rows the root should serve after the timed phase. */
    def liveCorpus: DataFrame

    protected def outside(rs: Array[(Long, Long)], live: Set[Long]): Seq[String] = {
      val n = rs.count { case (_, id) => !live(id) }
      if (n > 0) Seq(s"$n served ids outside the live set") else Nil
    }

    /** Recall of the root the timed phase left behind, untimed: the
      * served top-K of the recall batch against brute-force
      * `Similarity.topKPerProbe` over the live corpus. Checked: the root
      * holds each live row once and nothing else, and no result is
      * outside them.
      */
    def recall(): Double = {
      var recall = 0.0
      op("recall batch") {
        val live = liveCorpus.localCheckpoint(true)
        val rs = h.search(h.probeDf(Seq(w.recallBatch)), searchCorpus, off)
        (rs, live, h.idsOf(live))
      } { case (rs, live, liveIds) =>
        val served = rs.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
        val exact = h.exactTopK(Seq(w.recallBatch), live)
        val hits = exact.toSeq.map { case (p, ids) =>
          (ids & served.getOrElse(p, Set.empty)).size }.sum
        recall = hits.toDouble / math.max(1, exact.values.map(_.size).sum)
        h.checkNodes(liveIds) ++ outside(rs, liveIds)
      }
      recall
    }
  }

  /** Indexing hours: a change-set lands, the cycle publishes, one probe
    * batch is answered from the new version. The hour's latency runs from
    * the landing to the batch's results.
    */
  private final class CyclePhase(h: Deployment) extends Phase(h) {
    private val cycleS, batchS = mutable.ArrayBuffer.empty[Double]

    /** Hour 0, untimed: change-set 0 and probe batch 0. */
    def warmUp(): Unit = {
      h.cycle(0, off)
      h.search(h.probeDf(Seq(0)), h.vectors, off)
    }

    def searchCorpus: DataFrame = h.vectors
    def liveCorpus: DataFrame = h.vectors

    def run(tr: Trace): Unit = (1 to w.hours).foreach { hour =>
      var liveIds = Set.empty[Long]
      val cycled = op(s"cycle $hour")(secondsOf(h.cycle(hour, tr))) { case (o, _) =>
        if (traced) kernels.replay(o.landed.upsertTexts)
        liveIds = h.idsOf(h.vectors)
        h.checkCycle(o, liveIds)
      }
      cycled.foreach { case (o, s) =>
        cycleS += s
        changedChunks += o.summary.chunksWritten
        items = changedChunks
        itemSeconds += s
      }
      // checked: no result outside the index the cycle left
      val served = op(s"probe batch $hour")(
        secondsOf(h.search(h.probeDf(Seq(hour)), h.vectors, tr))) {
        case (rs, _) => outside(rs, liveIds)
      }.map(_._2)
      served.foreach(batchS += _)
      for ((_, c) <- cycled; b <- served) opMs += (c + b) * 1e3
      cellBytesOffered += treeBytes(s"${h.root}/${h.current}/cells")
      // the artifact read every cold-start batch pays, on its own
      if (traced) tr.span(Spans.ReadIvfPq) {
        graft.operators.Similarity.readIvfPq(spark, s"${h.root}/${h.current}/artifacts")
      }
    }

    def notes: Map[String, Any] = Map("cycle_s" -> cycleS.toSeq.asJava,
      "batch_s" -> batchS.toSeq.asJava)
  }

  /** Streaming passes, each landing one arrival file; a drifted file's
    * pass is followed by a maintenance tick and a compaction.
    */
  private final class StreamPhase(h: Deployment) extends Phase(h) {
    private val passS = mutable.ArrayBuffer.empty[Double]
    private val tickS = mutable.ArrayBuffer.empty[Double]

    /** Seed the stream index with file 0, so every timed pass upserts. */
    def warmUp(): Unit = {
      h.armMonitor(off)
      h.landArrival(0, "a0000.parquet")
      h.ingest(off)
    }

    /** A replayed arrival file appends nothing. */
    override def afterChecks(): Unit =
      op("replayed arrival file") {
        val before = h.keptRows()
        h.landArrival(1, "replay-a0001.parquet")
        h.ingest(off)
        before -> h.keptRows()
      } { case (before, after) =>
        if (after != before) Seq(s"replay appended ${after - before} rows") else Nil
      }

    def run(tr: Trace): Unit = {
      val kept0 = if (traced) h.keptRows() else 0L
      (1 to w.passes).foreach { f =>
        op(s"stream pass $f")(secondsOf {
          h.landArrival(f, f"a$f%04d.parquet")
          h.ingest(tr)
        }) { case (batches, _) =>
          if (batches != 1) Seq(s"$batches micro-batches, expected 1") else Nil
        }.foreach { case (_, s) => passS += s; opMs += s * 1e3; itemSeconds += s }
        if (w.isDrifted(f))
          op(s"maintenance tick after pass $f")(secondsOf(h.tick(tr))) { case (rep, _) =>
            if (rep.skipped) Seq("tick skipped")
            else if (rep.pendingBatchIds.isEmpty) Seq("drifted pass left nothing pending")
            else Nil
          }.foreach { case (_, s) => tickS += s; itemSeconds += s; h.foldedFiles += f }
      }
      arrivedRows = w.passes.toLong * w.arrivalRows
      items = arrivedRows
      if (traced) keptRows = h.keptRows() - kept0
    }

    def searchCorpus: DataFrame = h.maintenanceCorpus
    def liveCorpus: DataFrame = h.streamLiveCorpus

    def notes: Map[String, Any] = Map("tick_s" -> tickS.toSeq.asJava)
  }

  private def retainedMegabytes(): Double = {
    // two collections: the first lets the ContextCleaner see dead
    // checkpoint and broadcast blocks, the second frees what it released
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    val storage = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    (heap + storage) / 1e6
  }

  private def treeBytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
    finally s.close()
  }

  private def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  /** Driver-side replays of the two per-chunk kernels on each cycle's
    * changed documents: the chunker's cost per input character and the
    * embedder's per chunk, free of Spark overhead.
    */
  private final class Kernels {
    private val params = graft.pipeline.ChunkIndexer.defaultSplit
    private val emb = new HashingEmbedder(Inputs.Dim)
    private var chunkNs, chars, embedNs, chunks = 0L

    def replay(texts: Seq[String]): Unit = {
      val pieces = texts.flatMap(t => Chunkers.chunkText(t, "txt", params))
      // repeat until each kernel has run for >= 20 ms of this cycle
      var n = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 20000000L || n == 0) {
        texts.foreach(t => Chunkers.chunkText(t, "txt", params)); n += 1
      }
      chunkNs += System.nanoTime() - t0
      chars += n * texts.map(_.length.toLong).sum
      n = 0
      val t1 = System.nanoTime()
      while (System.nanoTime() - t1 < 20000000L || n == 0) {
        emb.embedBatch(pieces.iterator).foreach(_ => ()); n += 1
      }
      embedNs += System.nanoTime() - t1
      chunks += n.toLong * pieces.length
    }
    def nsPerChar: Double = chunkNs.toDouble / math.max(1L, chars)
    def nsPerChunk: Double = embedNs.toDouble / math.max(1L, chunks)
  }
}
