package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{GraphAnn, Similarity}
import graft.pipeline.{IncrementalIndexer, VersionedIndex}
import graft.streaming.{Maintenance, StreamingIngest}
import Workload._
import Deployment._

/** The system under test, driven through its public entry points: the
  * reference's hourly indexer cycle, cold-start search over the published
  * root, and the streaming near-duplicate ingest with its drift
  * maintenance. Its state lives under `dir` and its inputs under
  * `inputs`. The benchmark's own glue
  * (landing a change-set, deriving tombstones and the append batch,
  * re-deriving the coded table, landing an arrival file) runs in
  * `bench.glue` spans so its cost stays visible.
  */
final class Deployment(spark: SparkSession, val dir: String, val inputs: String) {
  val index = s"$dir/index"
  val state = s"$dir/state"
  val root = s"$dir/serving"
  val streamIndex = s"$dir/stream_index"
  val streamCkpt = s"$dir/stream_ckpt"
  val streamIn = s"$dir/stream_in"

  /** The live document listing as the source system would list it. */
  val listing = mutable.LinkedHashMap.empty[Long, Row]

  private val cellsSchema = StructType.fromDDL("id BIGINT, codes BINARY, " +
    "level INT, neighbors ARRAY<ARRAY<BIGINT>>, seg INT, part INT")
  private val indexVecSchema = StructType.fromDDL(
    "parent_id BIGINT, chunk_id INT, contentVector ARRAY<FLOAT>")

  def current: String = VersionedIndex.currentVersion(root).getOrElse(
    throw new IllegalStateException(s"nothing published under $root"))

  def listingDf: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(listing.values.toSeq: _*), Inputs.docSchema)

  /** The chunk index as the float vector table the graph tier serves:
    * one graph id per chunk. A fresh frame each call: the index directory
    * is rewritten by every cycle.
    */
  def vectors: DataFrame = spark.read.schema(indexVecSchema).parquet(index)
    .select((col("parent_id") * IdStride + col("chunk_id")).as("id"),
      col("contentVector").as("vec"))

  def cells(version: String): DataFrame =
    spark.read.schema(cellsSchema).parquet(s"$root/$version/cells")

  private def parentOf(id: org.apache.spark.sql.Column) =
    floor(id / IdStride).cast("long")

  // ---------------------------------------------------------------- setup

  /** Initial indexing: the base listing through the indexer. Returns the
    * chunk count.
    */
  def indexCorpus(): Long = {
    Inputs.readRows(s"$inputs/corpus.jsonl", Inputs.docSchema)
      .foreach(r => listing(r.getLong(0)) = r)
    IncrementalIndexer.runOnce(spark, listingDf, index, state, "initial").indexSize
  }

  /** Serving deployment from the chunk index into `into`: train IVF-PQ,
    * build the per-cell graph, measure the drift reference and publish.
    */
  def deployServing(into: String): Unit = {
    val corpus = vectors.localCheckpoint(true)
    val ix = Similarity.buildIvfPq(spark, corpus, "id", "vec", NCells,
      Subspaces, CodesPerSub, ivfIters = 1, pqIters = 1)
    val nodes = GraphAnn.buildGraphPerCellPq(spark, corpus, "id", "vec", ix,
      GraphM, EfConstruction).localCheckpoint(true)
    val ref = Similarity.driftStats(spark, corpus, "vec", ix.centroids,
      unit = true)
    GraphAnn.publishPqServing(nodes, ix, into,
      Some(GraphAnn.pqClumpBound(nodes)), Some(ref))
  }

  // ---------------------------------------------------------------- cycle

  /** Land change-set `c` onto the listing. */
  def land(c: Int): Landed = {
    val rows = Inputs.readRows(s"$inputs/changes/cycle-$c.jsonl", Inputs.changeSchema)
    val (ups, dels) = rows.partition(_.getString(0) == "upsert")
    val modified = ups.map(_.getLong(1)).filter(listing.contains)
    ups.foreach(r => listing(r.getLong(1)) =
      Row(r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
    dels.foreach(r => listing.remove(r.getLong(1)))
    Landed(listingDf, modified ++ dels.map(_.getLong(1)),
      ups.map(_.getLong(1)), ups.map(_.getString(2)))
  }

  /** One hourly cycle, from the change-set landing to the new CURRENT. */
  def cycle(c: Int, tr: Trace): CycleOut = {
    val before = current
    val landed = tr.span(Spans.Glue) { land(c) }
    val summary = tr.span(Spans.RunOnce) {
      IncrementalIndexer.runOnce(spark, landed.docs, index, state, s"cycle-$c")
    }
    val leaked = tr.span(Spans.Leaked) {
      IncrementalIndexer.leakedParents(spark, index, landed.docs.select("doc_id"))
    }
    val art = tr.span(Spans.ReadIvfPq) {
      Similarity.readIvfPq(spark, s"$root/$before/artifacts")
    }
    val (nodes, tombstones, corpus, batch) = tr.span(Spans.Glue) {
      val nodes = cells(before)
      val corpus = vectors
      (nodes,
        nodes.filter(parentOf(col("id")).isin(landed.touched: _*))
          .select("id"),
        corpus,
        corpus.filter(parentOf(col("id")).isin(landed.upserted: _*)))
    }
    // each step's output is materialized inside its own span, so the graph
    // rebuilds it plans are timed where they are planned
    val purged = tr.span(Spans.Purge) {
      GraphAnn.purgeTombstonesPq(nodes, tombstones, corpus, "id", "vec",
        GraphM, EfConstruction).localCheckpoint(true)
    }
    val appended = tr.span(Spans.Append) {
      GraphAnn.appendGraphCellsPq(purged, batch, "id", "vec", art.index,
        GraphM, EfConstruction).localCheckpoint(true)
    }
    // the coded table follows the graph: tombstoned codes out, the
    // appended nodes' codes in
    val (ix, bound) = tr.span(Spans.Glue) {
      val fresh = appended.join(batch.select("id"), Seq("id"), "left_semi")
        .select(col("id"), col("part").as("cell"), col("codes").as("pq_codes"))
      val coded = art.index.coded.join(tombstones, Seq("id"), "left_anti")
        .join(fresh.select("id"), Seq("id"), "left_anti")
        .select("id", "cell", "pq_codes").unionByName(fresh)
      (art.index.copy(coded = coded), GraphAnn.pqClumpBound(appended))
    }
    val after = tr.span(Spans.Publish) {
      GraphAnn.publishPqServing(appended, ix, root, Some(bound), art.driftStats)
    }
    CycleOut(summary, leaked, before, after, landed)
  }

  /** The graph node ids of the CURRENT version, one per node. */
  def nodeIds(): Array[Long] =
    cells(current).select("id").collect().map(_.getLong(0))

  def idsOf(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  /** The served graph against the rows it should hold; each failed check
    * is named.
    */
  def checkNodes(live: Set[Long]): Seq[String] = {
    val nodes = nodeIds()
    val errs = mutable.ArrayBuffer.empty[String]
    if (nodes.length != live.size)
      errs += s"graph nodes ${nodes.length} != live rows ${live.size}"
    val twice = nodes.length - nodes.distinct.length
    if (twice > 0) errs += s"$twice graph ids appear twice"
    val stale = nodes.count(id => !live(id))
    if (stale > 0) errs += s"$stale graph nodes are not live"
    errs.toSeq
  }

  /** The cycle's output checks; each failed one is named. `live` is the
    * chunk index's id set after the cycle, whose parents must be the live
    * documents and whose ids the graph must hold once each.
    */
  def checkCycle(o: CycleOut, live: Set[Long]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (o.leaked.nonEmpty) errs += s"${o.leaked.length} leaked parents"
    val next = f"v${o.before.stripPrefix("v").toInt + 1}%03d"
    if (o.after != next || current != next)
      errs += s"CURRENT went ${o.before} -> $current, expected $next"
    val indexed = live.map(_ / IdStride)
    if (indexed != listing.keySet)
      errs += s"indexed parents ${indexed.size} != live docs ${listing.size}"
    if (live.size != o.summary.indexSize)
      errs += s"index ids ${live.size} != index rows ${o.summary.indexSize}"
    errs ++= checkNodes(live)
    val upserts = o.landed.upserted.length.toLong
    if (o.summary.chunksWritten != upserts * ChunksPerDoc)
      errs += s"${o.summary.chunksWritten} chunks re-embedded for $upserts " +
        s"documents of $ChunksPerDoc chunks"
    errs.toSeq
  }

  // ---------------------------------------------------------------- serve

  lazy val probes: Map[Int, Seq[Row]] =
    Inputs.readRows(s"$inputs/probes.jsonl", Inputs.probeSchema).groupBy(_.getInt(0))

  def probeDf(batches: Seq[Int]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(batches.flatMap(probes).map(r =>
      Row(r.getLong(1), r.get(2))): _*),
    StructType.fromDDL("probe_id BIGINT, vec ARRAY<FLOAT>"))

  /** One probe batch through the cold-start reader: (probe_id, id) pairs. */
  def search(probes: DataFrame, corpus: DataFrame, tr: Trace): Array[(Long, Long)] =
    tr.span(Spans.Search) {
      GraphAnn.searchGraphRoutedPqColdStart(spark, root, corpus, "id", "vec",
        probes, "probe_id", "vec", NProbe, K, Ef)
        .select("probe_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }

  /** Exact top-K over `corpus` for the given batches. */
  def exactTopK(batches: Seq[Int], corpus: DataFrame): Map[Long, Set[Long]] =
    Similarity.topKPerProbe(probeDf(batches), "probe_id", "vec", corpus, "id",
      "vec", K).select("probe_id", "id").collect()
      .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }

  // --------------------------------------------------------------- stream

  private var monitor: Option[StreamingIngest.DriftMonitorConfig] = None

  /** Arm the arrival-point drift monitor from the published root. */
  def armMonitor(tr: Trace): Unit = {
    val art = tr.span(Spans.ReadIvfPq) {
      Similarity.readIvfPq(spark, s"$root/$current/artifacts")
    }
    monitor = Some(StreamingIngest.DriftMonitorConfig(art.index.centroids,
      art.driftStats.getOrElse(throw new IllegalStateException(
        "published root carries no drift reference"))))
  }

  private var landedFiles = 0

  /** Copy arrival file `f` into the watched directory as `name`, as a
    * producer would drop it.
    */
  def landArrival(f: Int, name: String): Unit = {
    val in = Paths.get(streamIn)
    Files.createDirectories(in)
    val dst = in.resolve(name)
    Files.copy(Paths.get(inputs, "arrivals", f"a$f%04d.parquet"), dst,
      StandardCopyOption.REPLACE_EXISTING)
    // ascending mtimes: the file source takes the oldest file first
    landedFiles += 1
    Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
      .fromMillis(1700000000000L + landedFiles * 1000L))
  }

  /** One AvailableNow pass; returns the micro-batch count. */
  def ingest(tr: Trace): Long = tr.span(Spans.Ingest) {
    StreamingIngest.runAvailableNowNearDupEmbeddings(spark, streamIn,
      streamIndex, streamCkpt, "vec_id", "embedding", minCosine = 0.95,
      bands = 8, rowsPerBand = 4, maxFilesPerTrigger = Some(1), buckets = 8,
      driftMonitor = monitor, sourceSchema = Some(Inputs.arrivalSchema))
  }

  private def arrivalRows(files: String): DataFrame =
    spark.read.schema(Inputs.arrivalSchema).parquet(files)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** The float corpus the drift rebuild fetches member vectors from: every
    * chunk vector plus every arrival row.
    */
  def maintenanceCorpus: DataFrame =
    vectors.unionByName(arrivalRows(s"$inputs/arrivals"))

  /** Drifted arrival files whose maintenance tick has run. */
  val foldedFiles = mutable.ArrayBuffer.empty[Int]

  /** The rows the serving root should hold once the stream has run: every
    * chunk vector, and the rows of the drifted files, which the monitor
    * lands and the tick folds in. Clean files only grow the dedup index.
    */
  def streamLiveCorpus: DataFrame = foldedFiles.foldLeft(vectors) { (df, f) =>
    df.unionByName(arrivalRows(s"$inputs/arrivals/${f"a$f%04d.parquet"}"))
  }

  def tick(tr: Trace): Maintenance.MaintenanceReport = {
    val corpus = tr.span(Spans.Glue) { maintenanceCorpus }
    val rep = tr.span(Spans.Maintain) {
      Maintenance.runDriftMaintenance(spark, streamIndex, root, corpus, "id",
        "vec", m = GraphM, efConstruction = EfConstruction)
    }
    tr.span(Spans.Compact) { StreamingIngest.compactIndex(spark, streamIndex) }
    rep
  }

  def keptRows(): Long =
    spark.read.schema("id BIGINT").parquet(s"$streamIndex/sks").count()
}

object Deployment {
  final case class Landed(docs: DataFrame, touched: Seq[Long],
      upserted: Seq[Long], upsertTexts: Seq[String])

  final case class CycleOut(summary: IncrementalIndexer.RunSummary,
      leaked: Array[Long], before: String, after: String,
      landed: Landed)
}

/** Span names: `<module>.<object>.<entry point>`. The near-duplicate
  * ingest's name is cut after `NearDup`, so that its metric names stay
  * within 64 characters.
  */
object Spans {
  val RunOnce = "pipeline.IncrementalIndexer.runOnce"
  val Leaked = "pipeline.IncrementalIndexer.leakedParents"
  val Purge = "operators.GraphAnn.purgeTombstonesPq"
  val Append = "operators.GraphAnn.appendGraphCellsPq"
  val Publish = "operators.GraphAnn.publishPqServing"
  val Search = "operators.GraphAnn.searchGraphRoutedPqColdStart"
  val ReadIvfPq = "operators.Similarity.readIvfPq"
  val Ingest = "streaming.StreamingIngest.runAvailableNowNearDup"
  val Maintain = "streaming.Maintenance.runDriftMaintenance"
  val Compact = "streaming.StreamingIngest.compactIndex"
  val Glue = "bench.glue"
  val all: Seq[String] = Seq(RunOnce, Leaked, Purge, Append, Publish, Search,
    ReadIvfPq, Ingest, Maintain, Compact, Glue)
}
