package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}

import graft.operators.GraphOps

/** Incremental maintenance of the co-purchase pair-support projection
  * under bus appends — the lakehouse "maintain the materialized view"
  * twin of [[graft.plans.ProjectionCache]] (VERDICT r15 #6a). The batch
  * engine builds the projection by scanning the whole corpus
  * ([[GraphOps.coPurchaseEdges]]); a deployment that ingests orders
  * continuously should not rebuild a 100 TB scan per day when each
  * append touches only its own baskets. This runner subscribes to an
  * order-append topic and folds each micro-batch into a versioned
  * parquet STATE table via [[GraphOps.mergePairSupport]]: per append it
  * pays one basket pair fan over the delta plus one O(|state| + |delta|)
  * merge shuffle — never the historical corpus.
  *
  * Message contract: ONE message per complete order —
  * `{"l_orderkey": …, "parts": […]}`. Pair support is additive over
  * disjoint order sets, so whole-order message granularity is exactly
  * what makes append ≡ rebuild hold (an order's pairs enter the state
  * once, with no cross-message basket splits). Publisher duplicates are
  * the producer's contract ([[graft.sources.Bus.publishIdempotent]]);
  * REPLAYED micro-batches (crash between state commit and checkpoint)
  * are absorbed here: Structured Streaming replays a batch under the
  * SAME batchId with the same offset range, and [[applyBatch]] skips any
  * batchId at or below the state pointer — the idempotent-foreachBatch
  * pattern, which upgrades the source's at-least-once to exactly-once
  * state maintenance.
  *
  * State layout, crash atomicity, retention GC, and the
  * checkpoint-identity guard are the shared [[VersionedStateDir]]
  * protocol (r17 — also carried by [[MinhashMaintenance]]); this class
  * owns only the FOLD: what a delta is and how it merges.
  *
  * Append ≡ rebuild is proven twice: ProjectionMaintenanceSpec replays
  * order streams (multi-batch, duplicate batchId) against the batch
  * rebuild, and the `graph_copurchase_incr` registry slug hash-matches
  * the same fold against a DuckDB full rebuild in the driver gate.
  */
final class ProjectionMaintenance(
    spark: SparkSession,
    subscription: String,
    stateDir: String,
    checkpointDir: String,
    bulkLimit: Int = 1000,
    busSpec: String = "memory",
    keepVersions: Int = 2) extends Logging {

  /** bytes → {l_orderkey, parts} via the default JSON serde. */
  private val serde = JsonSerde(new StructType()
    .add("l_orderkey", LongType)
    .add("parts", ArrayType(LongType)))

  private val state = new VersionedStateDir(stateDir, keepVersions)

  /** Largest batchId already folded into the state (-1 = empty). */
  private[streaming] def lastApplied(): Long = state.lastApplied()

  // ---- bucketed state layout (r20, VERDICT r19 Next #3) ----
  // The r19 merge shuffled O(|state| + |delta|) rows per fold: the state
  // parquet came back with UnknownPartitioning, so the union+sum re-hashed
  // EVERY accumulated pair on every append — per-fold cost rode |state|.
  // The state is now written as a BUCKETED table on (a, b) (guide §6:
  // bucketed storage persists a partitioning across jobs — exactly what a
  // between-folds state table is), so the merge reads the old state
  // co-located and shuffles ONLY the delta. Unlike the HITS bucketing
  // experiment (measured and reverted — its layout writes were NEW cost),
  // the state parquet write already existed here; bucketing changes the
  // write's layout, not its volume, and deletes the state's share of the
  // merge exchange. Bucket count is fixed at v0 and persisted in the
  // state dir (`_buckets`) — a conf drift across restarts would otherwise
  // re-declare the on-disk layout and mis-route co-located reads.

  private def bucketsFile = java.nio.file.Paths.get(stateDir, "_buckets")

  private def stateBuckets(): Int = {
    if (java.nio.file.Files.exists(bucketsFile))
      java.nio.file.Files.readString(bucketsFile).trim.toInt
    else {
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(stateDir))
      java.nio.file.Files.writeString(bucketsFile, n.toString)
      n
    }
  }

  private val stateTag = {
    val crc = new java.util.zip.CRC32()
    crc.update(stateDir.getBytes("UTF-8"))
    java.lang.Long.toHexString(crc.getValue)
  }

  private def tableName(batchId: Long) = s"graft_pairstate_${stateTag}_v$batchId"

  /** Catalog entry for a committed version — (re)created on demand: the
    * in-memory catalog dies with the Spark application while the state
    * dir persists, so a restarted maintainer re-registers the external
    * bucketed table over the existing files. */
  private def stateTable(batchId: Long): DataFrame = {
    val t = tableName(batchId)
    if (!spark.catalog.tableExists(t))
      spark.sql(
        s"CREATE TABLE $t (a BIGINT, b BIGINT, support BIGINT) " +
          s"USING parquet CLUSTERED BY (a, b) INTO ${stateBuckets()} " +
          s"BUCKETS LOCATION '${state.versionPath(batchId)}'")
    spark.table(t)
  }

  /** The maintained pair-support table as of the last committed batch
    * (empty with the right schema before the first append). */
  def currentState(): DataFrame = {
    val last = state.lastApplied()
    if (last < 0) {
      import spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("a", "b", "support")
    } else stateTable(last)
  }

  /** Fold one append batch (complete orders) into the state. Exposed
    * for the spec's direct replay test; the streaming query calls it
    * per micro-batch. Skips already-applied batchIds (replay after
    * crash-before-checkpoint re-runs the same id). */
  private[streaming] def applyBatch(orders: DataFrame, batchId: Long): Unit = {
    if (batchId <= state.lastApplied()) return
    // lineage lands before the first commit, not after start() returns
    // (ADVICE r17: the post-start persist left a crash window in which
    // a committed v0 had no identity and the guard passed silently)
    state.persistIdentityFromCheckpoint(checkpointDir)
    // explode the basket messages back to lineitem shape and run the
    // SAME pairSupport the batch rebuild uses — one code path, so the
    // spec's append ≡ rebuild equality is structural, not coincidental
    val t0 = System.nanoTime()
    val delta = GraphOps.pairSupport(
      orders.select(col("l_orderkey"),
        explode(col("parts")).as("l_partkey")))
    // co-located merge: both inputs carry UNIQUE (a, b) rows (the state
    // by construction, the delta as pairSupport's aggregate output), so
    // the union+sum merge is equivalently a full-outer join on the key
    // with coalesced addition — and the join form lets the bucketed
    // state scan satisfy its distribution with NO exchange. The delta
    // side (the only thing shuffled) gets the hash-build hint; a
    // broadcast can never sneak the state shuffle back in because
    // full-outer broadcast joins are unplannable. Equality with
    // mergePairSupport is spec-pinned (ProjectionMaintenanceSpec) and
    // the driver's graph_copurchase_incr oracle hash re-proves
    // append ≡ rebuild every round.
    val merged = currentState().withColumnRenamed("support", "s_state")
      .join(delta.withColumnRenamed("support", "s_delta")
        .hint("shuffle_hash"), Seq("a", "b"), "full_outer")
      .select(col("a"), col("b"),
        (coalesce(col("s_state"), lit(0L)) +
          coalesce(col("s_delta"), lit(0L))).as("support"))
    // per-fold shuffle stamp (VERDICT r19 Next #3 "prove with per-fold
    // shuffle-byte stamps"): job-group-scoped listener totals what this
    // fold's stages actually shuffled — with the bucketed layout it must
    // ride |delta|, never |state| (spec-asserted)
    val group = s"pm-fold-$stateTag-$batchId"
    val shufBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val shufRecs = new java.util.concurrent.atomic.AtomicLong(0)
    val inGroup = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          inGroup.add(e.stageInfo.stageId); ()
        }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (inGroup.contains(e.stageInfo.stageId)) {
          val m = e.stageInfo.taskMetrics.shuffleWriteMetrics
          shufBytes.addAndGet(m.bytesWritten)
          shufRecs.addAndGet(m.recordsWritten)
          ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, s"pair-state fold $batchId",
      interruptOnCancel = false)
    val rows =
      try {
        merged.write.mode("overwrite")
          .bucketBy(stateBuckets(), "a", "b")
          .option("path", state.versionPath(batchId))
          .saveAsTable(tableName(batchId))
        // the merge-cost stamp (VERDICT r16 #3): rows come from the
        // parquet footers of the version just written — a metadata-only
        // count, never a re-execution of the merge plan. Counted through
        // the catalog table, not the path: an EMPTY fold's bucketed
        // write emits no data files, and a bare-path read would then
        // fail schema inference where the catalog schema reads 0 rows.
        spark.table(tableName(batchId)).count()
      } finally {
        spark.sparkContext.clearJobGroup()
        org.apache.spark.sql.graftbridge.ColumnBridge
          .drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    state.commit(batchId)
    // retire catalog entries for versions the commit's retention GC just
    // deleted from disk (the table metadata would otherwise dangle)
    (math.max(0L, batchId - keepVersions - 8) to batchId - keepVersions)
      .foreach(v => spark.sql(s"DROP TABLE IF EXISTS ${tableName(v)}"))
    lastFoldShuffle.set((shufRecs.get, shufBytes.get))
    logInfo(
      f"[projection-maintenance] batch $batchId: merged state rows $rows, " +
        f"fold shuffled ${shufRecs.get} rows / ${shufBytes.get >> 20} MB " +
        f"(${(System.nanoTime() - t0) / 1e9}%.2f s)")
  }

  /** (records, bytes) shuffled by the most recent fold — the spec's
    * handle for asserting per-fold cost rides |delta|, not |state|. */
  private[streaming] val lastFoldShuffle =
    new java.util.concurrent.atomic.AtomicReference[(Long, Long)]((0L, 0L))

  /** Start maintaining. `availableNow = true` drains the backlog and
    * stops — the catch-up/backfill mode; the default keeps consuming.
    * Ack-on-commit mirrors [[Pipeline.start]]: the subscription's acked
    * prefix advances only after the batch's state version and the
    * checkpoint are both durable. */
  def start(availableNow: Boolean = false): StreamingQuery = {
    state.guardIdentity(checkpointDir)
    val src = Pipeline.busStream(spark, subscription, busSpec, serde, "bulkLimit" -> bulkLimit)
      .select(col("payload.l_orderkey").as("l_orderkey"),
        col("payload.parts").as("parts"))
    val q = AckOnCommitListener.run(src, subscription, busSpec, checkpointDir,
      availableNow)(applyBatch)
    // q.id IS the checkpoint's persistent query id (Spark writes it to
    // checkpointDir/metadata at first start and reuses it after)
    state.persistIdentity(q.id.toString)
    q
  }
}

object ProjectionMaintenance {
  private[streaming] val PointerFile = VersionedStateDir.PointerFile
}
