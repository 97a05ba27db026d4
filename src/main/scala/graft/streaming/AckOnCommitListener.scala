package graft.streaming

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sources.{BusRegistry, InMemoryBus}

/** Ack bookkeeping shared by the pipeline runners: on each completed
  * micro-batch (QueryProgress fires after the batch's offset/commit logs
  * are durable and the sink returned), advance the bus subscription's
  * acked prefix to the batch's end offset — the reference's
  * ack-on-publish-success (`pubsub_pipeline.py:82-84`) with a WAL under
  * it. Events arriving before the query's runId is known are buffered and
  * replayed by `bind()`, so no batch commit can be missed. */
private[streaming] final class AckOnCommitListener(
    session: SparkSession, sub: String,
    busSpec: String = "memory") extends StreamingQueryListener with Logging {
  // driver-side: one resolved transport for the listener's lifetime
  private val bus = BusRegistry.resolve(busSpec)
  import StreamingQueryListener._

  @volatile private var runId: java.util.UUID = _
  private val pending = new scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]

  def bind(id: java.util.UUID): Unit = synchronized {
    runId = id
    pending.filter(_.runId == id).foreach(ack)
    pending.clear()
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    if (runId == null) pending += e.progress
    else if (e.progress.runId == runId) ack(e.progress)
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    if (e.runId == runId) session.streams.removeListener(this)

  private def ack(p: StreamingQueryProgress): Unit =
    p.sources.headOption.foreach { s =>
      Option(s.endOffset).map(_.trim).filter(_.nonEmpty)
        .foreach { o =>
          // a lost ack RPC is non-fatal by design: acks are cumulative,
          // so the next batch's ack covers this prefix (the data itself
          // is WAL-protected — no redelivery, no duplicate)
          try bus.commit(sub, o.toLong)
          catch { case e: InMemoryBus.AckRpcError =>
            logWarning(s"[bus] ack lost on $sub (will heal): ${e.getMessage}")
          }
        }
    }
}

private[streaming] object AckOnCommitListener {
  /** Start `src` as a micro-batch query whose batches go to `onBatch` and
    * whose durable batches ack `subscription` — the one acked-query
    * set-up every runner shares. The listener is registered before
    * `start()`, so no batch commit can precede it; it is removed if
    * `start()` throws (an unbound listener would buffer every future
    * query's progress events forever); and it is bound to the run id
    * once the query exists. `availableNow = true` drains the backlog
    * and stops; otherwise the query triggers back to back.
    *
    * Unless the session already names a checkpoint manager, the query
    * writes its checkpoint through [[LocalCheckpointFileManager]]. The
    * conf is set only around `start()`: the query takes its checkpoint
    * manager from the session clone `start()` makes, so the value reaches
    * this query alone. The companion's lock keeps two concurrent starts
    * from seeing each other's value. */
  def run(src: DataFrame, subscription: String, busSpec: String,
          checkpointDir: String, availableNow: Boolean)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = src.sparkSession
    val listener = new AckOnCommitListener(spark, subscription, busSpec)
    spark.streams.addListener(listener)
    val q = try withLocalCheckpoints(spark) {
      src.writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0))
        .foreachBatch(onBatch)
        .start()
    } catch { case e: Throwable => spark.streams.removeListener(listener); throw e }
    listener.bind(q.runId)
    q
  }

  private def withLocalCheckpoints[T](spark: SparkSession)(start: => T): T = synchronized {
    import LocalCheckpointFileManager.ConfKey
    if (spark.conf.getOption(ConfKey).isDefined) start
    else {
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
      try start finally spark.conf.unset(ConfKey)
    }
  }
}
