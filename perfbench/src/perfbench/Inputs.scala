package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.services.HashingEmbedder

/** The seeded input generator. It runs before any call into the program
  * and writes everything a run consumes under `dir`:
  *
  *  - `corpus.jsonl`: the base document listing (doc_id, text, source,
  *    lang). It is the same for every seed: it is the standing state of
  *    the deployment, and the seed draws the traffic on it (change-sets,
  *    probes, arrivals). So the index, its codebooks and with them
  *    recall and set-up time vary between seeds only with that traffic.
  *    Each document is a salted concatenation of source texts, drawn
  *    until the program's chunker cuts it into exactly
  *    `Workload.ChunksPerDoc` chunks, so every seed re-embeds and
  *    tombstones the same number of chunks per change-set.
  *  - `probes.jsonl`: query vectors by batch: perturbed source texts
  *    embedded with the program's own `HashingEmbedder`, so queries look
  *    like documents. Batch 0 is the warm-up's, 1..batches are the timed
  *    hours', and `w.recallBatch` holds the `Workload.RecallProbes`
  *    probes recall is scored on.
  *  - `changes/cycle-N.jsonl` (N = 0..hours): one change-set per hourly cycle,
  *    rows of (op, doc_id, text, source, lang) with op `upsert` (modified
  *    or new document) or `delete`. Change-set 0 is the warm-up hour's.
  *  - `arrivals/aNNNN.parquet` (0..passes): the streaming arrival files
  *    (vec_id, embedding), one per pass: fresh vectors, near-duplicates of
  *    vectors from earlier files, and every `driftEvery`-th file shifted
  *    off the indexed distribution. File 0 seeds the stream index in
  *    set-up.
  *
  * The listing, change-sets and probes are JSON lines the benchmark reads
  * on the driver, as a crawler's listing would arrive; only the arrival
  * files, which the program's stream source reads, are parquet.
  * The same seed and workload give the same bytes. Source texts come from
  * the `documents` table of the sf0.1 test data.
  */
object Inputs {

  final case class Sizes(docs: Long, chars: Long, chunks: Long,
      changedDocs: Long, probes: Long, recallProbes: Long, arrivalRows: Long,
      arrivalFiles: Long) {
    def toMap: Map[String, Long] = Map("docs" -> docs, "chars" -> chars,
      "doc_chunks" -> chunks, "changed_docs" -> changedDocs,
      "probes" -> probes, "recall_probes" -> recallProbes,
      "arrival_rows" -> arrivalRows, "arrival_files" -> arrivalFiles)
  }

  val Dim = 64
  val ArrivalIdBase = 1000000000L
  /** Draws the base corpus, whatever the run's seed. */
  val CorpusSeed = 0L

  val docSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, source STRING, lang STRING")
  val changeSchema: StructType = StructType.fromDDL(
    "op STRING, doc_id BIGINT, text STRING, source STRING, lang STRING")
  val probeSchema: StructType = StructType.fromDDL(
    "batch INT, probe_id BIGINT, vec ARRAY<FLOAT>")
  val arrivalSchema: StructType = StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>")

  def generate(spark: SparkSession, sfDir: String, dir: String, seed: Long,
      w: Workload): Sizes = {
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    require(src.length >= 100, s"too few source texts in $sfDir")
    val vocab = src.iterator.flatMap(_._1.split("\\s+")).filter(_.nonEmpty)
      .toArray.distinct.sorted
    val rng = new scala.util.Random(seed)
    val corpusRng = new scala.util.Random(CorpusSeed)
    val emb = new HashingEmbedder(Dim)
    var version = 0L

    // the chunks the indexer cuts a text into (Chunkers.chunkDocuments)
    val split = graft.pipeline.ChunkIndexer.defaultSplit
    def chunksOf(text: String): Int = graft.pipeline.Chunkers
      .chunkText(text, "txt", split)
      .count(c => split.tokenizer.count(c) >= split.minChunkTokens)

    def compose(docId: Long, r: scala.util.Random, salt: String): Row = {
      version += 1
      val head = s"doc $docId rev $version $salt"
      def textOf(picks: Vector[(String, String)]) =
        (head +: picks.map(_._1)).mkString("\n\n")
      // add texts until the chunk count is reached; a text that overshoots
      // is put back and another one drawn
      var picks = Vector.empty[(String, String)]
      var n = chunksOf(head)
      var draws = 0
      while (n != Workload.ChunksPerDoc) {
        draws += 1
        require(draws < 10000, s"no ${Workload.ChunksPerDoc}-chunk document")
        val next = picks :+ src(r.nextInt(src.length))
        val m = chunksOf(textOf(next))
        if (m <= Workload.ChunksPerDoc) { picks = next; n = m }
        else if (picks.nonEmpty && r.nextInt(4) == 0) {
          picks = picks.init; n = chunksOf(textOf(picks))
        }
      }
      Row(docId, textOf(picks), s"src${docId % 5}", picks.head._2)
    }
    def perturbed(text: String): String =
      text.split("\\s+").map(t =>
        if (rng.nextDouble() < 0.2) vocab(rng.nextInt(vocab.length)) else t)
        .mkString(" ")

    // corpus + change-sets, replaying the listing as it evolves so that
    // every modified or deleted id is live when its change-set lands
    val base = (0 until w.docs).map(i => compose(i.toLong, corpusRng, "base"))
    val live = mutable.ArrayBuffer.from(base.map(_.getLong(0)))
    var nextId = w.docs.toLong
    val perCycle = w.changedPerHour
    val nNew = math.max(1, perCycle / 5)
    val changes = (if (w.hours > 0) 0 to w.hours else Nil).map { c =>
      val picked = rng.shuffle(live.indices.toVector).take(perCycle - nNew)
      val (delIdx, modIdx) = picked.splitAt(nNew)
      val mods = modIdx.map(i => compose(live(i), rng, s"s$seed"))
      val dels = delIdx.map(live)
      val adds = (0 until nNew).map { _ => nextId += 1; compose(nextId, rng, s"s$seed") }
      val gone = dels.toSet
      live.filterInPlace(id => !gone(id))
      live ++= adds.map(_.getLong(0))
      (mods ++ adds).map(r => Row("upsert", r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3))) ++
        dels.map(id => Row("delete", id, null, null, null))
    }

    val batchSizes =
      (if (w.batches > 0) (0 to w.batches).map(_ -> w.probesPerBatch) else Nil) :+
        (w.recallBatch -> Workload.RecallProbes)
    val probes = for ((b, n) <- batchSizes; _ <- 0 until n) yield b
    val probeRows = probes.zipWithIndex.map { case (b, i) =>
      val text = perturbed(src(rng.nextInt(src.length))._1)
      Row(b, i.toLong, emb.embed(text).toSeq)
    }

    // arrivals: fresh rows embed perturbed source texts; near-duplicates
    // copy an earlier file's fresh row with small noise (cosine > 0.99)
    val nFiles = if (w.passes > 0) w.passes + 1 else 0
    val fresh = mutable.ArrayBuffer.empty[Array[Float]]
    val arrivals = (0 until nFiles).map { f =>
      val earlier = fresh.length
      (0 until w.arrivalRows).map { r =>
        val id = ArrivalIdBase + f * 100000L + r
        val v =
          if (earlier > 0 && rng.nextDouble() < w.nearDupShare) {
            val o = fresh(rng.nextInt(earlier))
            o.map(x => x + (rng.nextGaussian() * 0.01).toFloat)
          } else {
            val v = emb.embed(perturbed(src(rng.nextInt(src.length))._1))
            fresh += v
            v
          }
        val out = if (w.isDrifted(f)) v.map(_ + Workload.DriftShift) else v
        Row(id, out.toSeq)
      }
    }

    Files.createDirectories(Paths.get(dir, "changes"))
    writeRows(s"$dir/corpus.jsonl", docSchema, base)
    writeRows(s"$dir/probes.jsonl", probeSchema, probeRows)
    changes.zipWithIndex.foreach { case (rows, c) =>
      writeRows(s"$dir/changes/cycle-$c.jsonl", changeSchema, rows)
    }
    if (w.passes > 0) writeArrivals(spark, dir, arrivals)

    Sizes(docs = base.length, chars = base.map(_.getString(1).length.toLong).sum,
      chunks = base.map(r => chunksOf(r.getString(1)).toLong).sum,
      changedDocs = changes.drop(1).map(_.length.toLong).sum,
      probes = probes.count(b => b > 0 && b <= w.batches),
      recallProbes = probes.count(_ == w.recallBatch),
      arrivalRows = arrivals.drop(1).map(_.length.toLong).sum,
      arrivalFiles = math.max(0, nFiles - 1))
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `rows` of `schema` as JSON lines; fields are BIGINT, INT, STRING or
    * ARRAY<FLOAT>.
    */
  def writeRows(path: String, schema: StructType, rows: Seq[Row]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try rows.foreach { r =>
      val o = json.createObjectNode()
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (r.isNullAt(i)) o.putNull(f.name)
        else f.dataType match {
          case LongType => o.put(f.name, r.getLong(i))
          case IntegerType => o.put(f.name, r.getInt(i))
          case StringType => o.put(f.name, r.getString(i))
          case _ => val a = o.putArray(f.name)
            r.getSeq[Float](i).foreach(x => a.add(x))
        }
      }
      w.write(json.writeValueAsString(o))
      w.newLine()
    } finally w.close()
  }

  def readRows(path: String, schema: StructType): Seq[Row] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.toSeq.map { line =>
      val o = json.readTree(line)
      Row.fromSeq(schema.fields.toSeq.map { f =>
        val v = o.get(f.name)
        if (v == null || v.isNull) null
        else f.dataType match {
          case LongType => v.asLong()
          case IntegerType => v.asInt()
          case StringType => v.asText()
          case _ => v.elements().asScala.map(_.floatValue()).toSeq
        }
      })
    }
  }

  /** One flat parquet file per arrival, as a producer would drop them. */
  private def writeArrivals(spark: SparkSession, dir: String,
      arrivals: Seq[Seq[Row]]): Unit = {
    val rows = arrivals.zipWithIndex.flatMap { case (rs, f) =>
      rs.map(r => Row(f, r.getLong(0), r.get(1)))
    }
    val all = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(StructField("file", IntegerType) +: arrivalSchema.fields))
    all.repartition(1).write.partitionBy("file").parquet(s"$dir/arrivals_parts")
    val staged = Paths.get(dir, "arrivals")
    Files.createDirectories(staged)
    arrivals.indices.foreach { f =>
      val part = Paths.get(dir, "arrivals_parts", s"file=$f")
      val ls = Files.list(part)
      val file =
        try ls.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally ls.close()
      Files.move(file, staged.resolve(f"a$f%04d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    Files.walk(Paths.get(dir, "arrivals_parts")).sorted(
      java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
  }
}
