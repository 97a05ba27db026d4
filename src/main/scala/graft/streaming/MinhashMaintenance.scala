package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.operators.DedupOps

/** Incremental maintenance of the minhash near-dup pair projection
  * under document appends (VERDICT r16 #1 — the [[ProjectionMaintenance]]
  * device generalized to the dedup pair state, the highest-frequency
  * real-user append path: daily crawl shards folding into a sunk
  * signature store instead of rebuilding the LSH pipeline per corpus
  * version). Each micro-batch of `{"doc_id": …, "text": …}` messages
  * folds through the SAME kernels the batch rebuild composes
  * ([[DedupOps.minhashEnriched]] → [[DedupOps.deltaMinhashPairs]] —
  * shingle/signature/band/verify, one code path), so append ≡ rebuild
  * is structural: delta band keys join the accumulated store's band
  * keys, only pairs with ≥ 1 delta member are generated, and the new
  * pairs union into the pairs state. Per append the maintainer pays one
  * map pass over the delta plus band joins of O(|state| + |delta|)
  * two-long rows — never the historical corpus's pair pipeline.
  *
  * State layout: each committed version holds THREE tables —
  * `v{batchId}/store` (the signature store: doc_id, shingle set,
  * signature — the artifact a production LSH dedup service sinks; the
  * shingle sets ride along because verification is EXACT Jaccard),
  * `v{batchId}/bands` (the SUNK banded-key table `(doc_id, bk)` — r18,
  * VERDICT r17 #3: each document's band keys are derived once, when its
  * append lands, so a fold's store side is a SCAN of two-long rows
  * instead of a re-band of the whole signature store — the re-band was
  * the dominant per-append term at corpus scale; legacy two-table
  * versions seed the bands table on their next fold), and
  * `v{batchId}/pairs` (the verified pair projection, the same rows
  * `dedup_near_minhash` rebuilds from scratch). Crash atomicity,
  * retention GC, and the checkpoint-identity guard are the shared
  * [[VersionedStateDir]] protocol; replayed batchIds (crash between
  * state commit and checkpoint) skip at the pointer exactly like the
  * co-purchase maintainer — exactly-once state maintenance over the
  * bus's at-least-once delivery.
  *
  * Append ≡ rebuild is proven twice: MinhashMaintenanceSpec replays
  * document streams (multi-batch, duplicate batchId) against
  * [[DedupOps.nearMinhash]], and the `dedup_minhash_incr` registry slug
  * hash-matches the same fold against the full-pipeline DuckDB rebuild
  * in the driver gate. */
final class MinhashMaintenance(
    spark: SparkSession,
    subscription: String,
    stateDir: String,
    checkpointDir: String,
    bulkLimit: Int = 1000,
    busSpec: String = "memory",
    keepVersions: Int = 2,
    shingleK: Int = 3,
    nHashes: Int = 32,
    rowsPerBand: Int = 4,
    jaccardTau: Double = 0.7) extends Logging {

  /** bytes → {doc_id, text} via the default JSON serde. */
  private val serde = JsonSerde(new StructType()
    .add("doc_id", LongType)
    .add("text", StringType))

  private val state = new VersionedStateDir(stateDir, keepVersions)

  private[streaming] def lastApplied(): Long = state.lastApplied()

  /** The maintained verified-pairs table as of the last committed batch
    * (empty with the right schema before the first append). */
  def currentPairs(): DataFrame = {
    val last = state.lastApplied()
    if (last < 0) {
      import spark.implicits._
      Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "jaccard")
    } else spark.read.parquet(s"${state.versionPath(last)}/pairs")
  }

  /** The signature store as of the last committed batch (None = empty). */
  private def currentStore(): Option[DataFrame] = {
    val last = state.lastApplied()
    if (last < 0) None
    else Some(spark.read.parquet(s"${state.versionPath(last)}/store"))
  }

  /** The SUNK banded-key table `(doc_id, bk)` as of the last committed
    * batch (r18, VERDICT r17 #3): each document's band keys are derived
    * once, when its append lands, and every later fold's store side
    * SCANS them instead of re-banding the whole signature store —
    * the re-band was the dominant per-append term at corpus scale.
    * None when empty OR when the version predates the bands table
    * (legacy state dirs fall back to the re-derive path; the next
    * commit writes bands and upgrades the state in place). */
  private[streaming] def currentBands(): Option[DataFrame] = {
    val last = state.lastApplied()
    val p = s"${state.versionPath(last)}/bands"
    if (last < 0 || !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p)))
      None
    else Some(spark.read.parquet(p))
  }

  /** Fold one append batch (documents) into the state. Exposed for the
    * spec's direct replay test; the streaming query calls it per
    * micro-batch. Skips already-applied batchIds. */
  private[streaming] def applyBatch(docs: DataFrame, batchId: Long): Unit = {
    if (batchId <= state.lastApplied()) return
    // lineage lands before the first commit, not after start() returns
    // (ADVICE r17: the post-start persist left a crash window in which
    // a committed v0 had no identity and the guard passed silently)
    state.persistIdentityFromCheckpoint(checkpointDir)
    val t0 = System.nanoTime()
    // persist the delta across its consumers in THIS batch (store write
    // + candidate join + verify re-attach), then drop the blocks — a
    // long-running maintainer must not accrue one pin per micro-batch
    val delta = DedupOps.minhashEnriched(docs, shingleK, nHashes).persist()
    try {
      val store = currentStore()
      val bands = currentBands()
      // broadcastDelta (r19): this delta is bulk_limit-bounded by
      // admission control, so its banded keys broadcast and the sunk
      // band table streams through the candidate join unshuffled —
      // per-fold shuffle cost stops riding |state| (Next #7 fix)
      val newPairs = DedupOps.deltaMinhashPairs(
        store, delta, nHashes, rowsPerBand, jaccardTau, storeBands = bands,
        broadcastDelta = true)
      val vdir = state.versionPath(batchId)
      // all tables land fully before the pointer moves — the version
      // becomes visible atomically with the commit
      store.map(_.unionAll(delta)).getOrElse(delta)
        .write.mode("overwrite").parquet(s"$vdir/store")
      // the delta's band keys sink alongside (derived once, here; the
      // next fold's store side scans them — r18, VERDICT r17 #3). A
      // legacy version without bands re-bands its store exactly once to
      // seed the table, then stays on the sunk path.
      val bandedDelta =
        DedupOps.minhashBanded(delta, nHashes, rowsPerBand)
      val bandedPrev = bands.orElse(
        store.map(DedupOps.minhashBanded(_, nHashes, rowsPerBand)))
      bandedPrev.map(_.unionAll(bandedDelta)).getOrElse(bandedDelta)
        .write.mode("overwrite").parquet(s"$vdir/bands")
      currentPairs().unionAll(newPairs)
        .write.mode("overwrite").parquet(s"$vdir/pairs")
      // merge-cost stamps from the just-written parquet footers
      // (metadata-only counts — no plan re-execution)
      val storeRows = spark.read.parquet(s"$vdir/store").count()
      val bandRows = spark.read.parquet(s"$vdir/bands").count()
      val pairRows = spark.read.parquet(s"$vdir/pairs").count()
      state.commit(batchId)
      logInfo(
        f"[minhash-maintenance] batch $batchId: store rows $storeRows, " +
          f"band rows $bandRows, pair rows $pairRows " +
          f"(${(System.nanoTime() - t0) / 1e9}%.2f s)")
    } finally delta.unpersist(blocking = false)
  }

  /** Start maintaining. Same trigger/ack contract as
    * [[ProjectionMaintenance.start]]: `availableNow = true` drains the
    * backlog and stops; the subscription's acked prefix advances only
    * after the batch's state version and the checkpoint are durable. */
  def start(availableNow: Boolean = false): StreamingQuery = {
    state.guardIdentity(checkpointDir)
    val src = Pipeline.busStream(spark, subscription, busSpec, serde, "bulkLimit" -> bulkLimit)
      .select(col("payload.doc_id").as("doc_id"),
        col("payload.text").as("text"))
    val q = AckOnCommitListener.run(src, subscription, busSpec, checkpointDir,
      availableNow)(applyBatch)
    state.persistIdentity(q.id.toString)
    q
  }
}
