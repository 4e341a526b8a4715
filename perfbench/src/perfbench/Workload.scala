package perfbench

/** One workload: a closed loop with one client, after set-up.
  *
  *  - `cycle` runs `hours` indexing hours after a warm-up hour in set-up.
  *    Each hour a change-set of
  *    ~`churn` of the documents (modified, new and deleted) lands, the
  *    hourly indexer cycle publishes a new serving version, and one batch
  *    of `probesPerBatch` probes is answered from it through the
  *    cold-start reader.
  *  - `stream` runs `passes` streaming passes. Each lands one arrival file
  *    of `arrivalRows` embedding rows and ingests it through the
  *    near-duplicate gate with the drift monitor on. Every
  *    `driftEvery`-th file is shifted off the indexed distribution and its
  *    pass is followed by a drift-maintenance tick and an index compaction.
  *
  * After the timed phase both score recall on one untimed batch of
  * `RecallProbes` probes against the root the phase left behind.
  *
  * The counts are fixed per run, so every commit does the same work; they
  * scale with `--seconds`.
  *
  * Where the traffic mix comes from. The reference publishes no traffic
  * figures: BASELINE.md records only the hourly cron, and the reference
  * does not serve queries at all. So only the cadence and the drift plant
  * rest on the repository; every other mix parameter below is an
  * assumption, chosen for the reason given with it, and is not verified
  * against a real deployment.
  */
final case class Workload(name: String, docs: Int, churn: Double,
    hours: Int, passes: Int, arrivalRows: Int, nearDupShare: Double,
    driftEvery: Int, probesPerBatch: Int, batches: Int) {
  def isDrifted(file: Int): Boolean = file > 0 && file % driftEvery == 0
  /** Documents modified, added or deleted per change-set. */
  def changedPerHour: Int = math.max(3, math.round(churn * docs).toInt)
  /** The probe batch recall is scored on, after the timed ones. */
  def recallBatch: Int = batches + 1
}

object Workload {
  // Assumed: 200 documents, so that a run (session, set-up, timed phase)
  // takes about a minute and the 4 + 22 x 2 runs of a comparison fit in
  // an hour on four cores. The reference's corpus size is unknown.
  val Docs = 200
  // Assumed: 6 chunks per document, each a salted concatenation of source
  // texts (a starting point of ~5 chunks per document). Fixed, not drawn,
  // so every seed re-embeds the same number of chunks per change-set.
  val ChunksPerDoc = 6
  // Assumed: 1% of the documents change per hourly cycle, the trickle
  // regime where the per-job floors and full rewrites dominate. The cron
  // cadence is the reference's (`0 * * * *`, BASELINE.md); its change rate
  // is not published.
  val Churn = 0.01
  // Assumed: 128 probes per hour, so the beam search and the exact rerank
  // show in an hour's latency while the cycle stays its larger part.
  val ProbesPerBatch = 128
  // Probes in the untimed recall batch. The corpus is the same for every
  // seed, so the probes a seed draws are most of recall's spread between
  // seeds; more probes narrow it.
  val RecallProbes = 1024
  // Assumed: 100 rows per arrival file, so a pass runs the gate's full job
  // sequence (~28 jobs) on a small delta, like the trickle cycle. The
  // repository's streaming gate (st7) stages ~333-row files.
  val ArrivalRows = 100
  // Assumed: 30% of arrival rows re-send an earlier row with small noise,
  // so every pass exercises the gate's band probe and exact-cosine verify
  // and drops rows; with no near-duplicates the gate only sketches.
  val NearDupShare = 0.3
  // Assumed: every 3rd file drifts, so a run has clean passes between
  // ticks and one tick per three passes. The plant itself (+0.5 on every
  // dimension) is the st8 gate's.
  val DriftEvery = 3
  val DriftShift = 0.5f

  // index geometry, scaled down from the graph-tier gates (v36: 16 cells,
  // m = 8, efConstruction = 48) to 200 documents
  val NCells = 8
  val Subspaces = 8
  val CodesPerSub = 16
  val GraphM = 8
  val EfConstruction = 32
  val NProbe = 3
  val Ef = 32
  val K = 10
  val IdStride = 4096L // graph id = parent_id * IdStride + chunk_id

  def apply(name: String, seconds: Int): Workload = {
    def scaled(per15s: Int, min: Int) =
      math.max(min, math.round(per15s * seconds / 15.0).toInt)
    name match {
      case "cycle" =>
        val hours = scaled(2, 2)
        Workload(name, Docs, Churn, hours = hours, passes = 0,
          arrivalRows = 0, nearDupShare = 0.0, driftEvery = 1,
          probesPerBatch = ProbesPerBatch, batches = hours)
      case "stream" => Workload(name, Docs, churn = 0.0, hours = 0,
        passes = scaled(3, 3), arrivalRows = ArrivalRows,
        nearDupShare = NearDupShare, driftEvery = DriftEvery,
        probesPerBatch = ProbesPerBatch, batches = 0)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}
