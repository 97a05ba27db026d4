package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.{SparkEntry, Tables}

/** The operator library (`graft.operators`, `graft.functions`,
  * `graft.plans`): registry queries one at a time, each as a fresh job in
  * its own `newSession()` on the warm SparkContext, evaluated in the
  * forced full-column form. Session-scoped caches such as
  * `ProjectionCache` projections are therefore built inside each query's
  * own time, while JIT and codegen stay warm. */
object Ops {
  /** The queries, with the operator module each exercises. */
  val queries: Seq[(String, String)] = Seq(
    "agg_hash_group" -> "RelationalOps", "q5_local_supplier" -> "ComposedOps",
    "dedup_ngram_containment" -> "DedupOps", "emb_pca_top" -> "VectorOps",
    "pipeline_enrich" -> "TextOps", "pipeline_bpe_apply" -> "CorpusOps",
    "graph_pagerank" -> "GraphOps", "ts_local_extrema" -> "StreamBatchOps",
    "retrieval_bm25" -> "RetrievalOps", "multimodal_resize" -> "MultimodalOps")

  /** The tables those queries read. */
  val tables = Seq("lineitem", "orders", "customer", "supplier", "nation", "region",
    "documents", "embeddings", "events")

  final case class Run(query: String, buildS: Double, execS: Double, fingerprint: String,
                       error: Option[String]) {
    def totalS: Double = buildS + execS
  }

  /** The forced form: xxhash64 over every column, folded order-free. */
  def force(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(expr("count(1)"), expr("bit_xor(h)"), expr("sum(shiftrightunsigned(h, 40))"))
      .head()
    Checks.fingerprint(r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def runOne(spark: SparkSession, data: String, name: String): Run = {
    val s = spark.newSession()
    val fn = SparkEntry.queries(name)
    spark.sparkContext.setLocalProperty("perfbench.query", name)
    Tracer.span("ops.query", name) {
      val t0 = System.nanoTime()
      try {
        val df = Tracer.span("ops.build", name)(fn(s, data))
        val t1 = System.nanoTime()
        try {
          val fp = Tracer.span("ops.exec", name)(force(df))
          Run(name, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, fp, None)
        } finally org.apache.spark.sql.graftbridge.ColumnBridge.releaseAllCheckpoints(df)
      } catch {
        case e: Throwable =>
          Run(name, (System.nanoTime() - t0) / 1e9, 0.0, "", Some(e.toString))
      } finally spark.sparkContext.setLocalProperty("perfbench.query", null)
    }
  }

  def pass(spark: SparkSession, data: String, order: Seq[String]): Seq[Run] =
    order.map(runOne(spark, data, _))

  /** Recorded fingerprints, one `query<TAB>fingerprint` line each. */
  def expected(path: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else java.nio.file.Files.readAllLines(path).asScala
      .map(_.split('\t')).collect { case Array(q, f) => q -> f }.toMap

  /** Per query, the pass whose build + exec time is the median one, so
    * that the reported build and exec times add up to the total. */
  def medianRuns(passes: Seq[Seq[Run]]): Seq[Run] =
    passes.flatten.groupBy(_.query).values.map { rs =>
      rs.sortBy(_.totalS).apply(rs.size / 2)
    }.toSeq.sortBy(_.query)

  /** The probe ends this many seconds after the JVM's launch at the
    * latest, 40 s before the launcher's time limit (`run.py`'s
    * `run_timeout_s`): no pass starts that would end later, judged by the
    * pass before it. */
  def endByS(ctx: Ctx): Double = 100.0 + 3 * ctx.seconds

  private def time(p: Seq[Run]): Double = p.map(_.totalS).sum

  private def fits(ctx: Ctx, last: Seq[Run], passes: Int): Boolean =
    ctx.sinceLaunchS + passes * time(last) < endByS(ctx)

  def measure(spark: SparkSession, ctx: Ctx, order: Seq[String]): Seq[Seq[Run]] = {
    val out = mutable.ArrayBuffer[Seq[Run]]()
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (out.isEmpty || (System.nanoTime() < end && fits(ctx, out.last, 1)))
      out += pass(spark, ctx.data, order)
    out.toSeq
  }

  /** The operator layer, measured from outside during a traced run:
    * footer warm-up, untimed passes until a pass is no longer 5 % faster
    * than the one before (at most four, and while a warm-up pass and a
    * measured one still fit before [[endByS]]), then passes for
    * `ctx.seconds` with the `SparkListener` attached. Reports per-query build and exec time
    * (from the median pass), shuffle bytes and GC time, per-module and
    * total time, and one check per query run. */
  def traced(spark: SparkSession, ctx: Ctx): Outcome = {
    val order = new scala.util.Random(ctx.seed).shuffle(queries.map(_._1))
    tables.foreach { t =>
      (if (t == "events") Tables.events(spark, ctx.data) else Tables(spark, ctx.data, t))
        .limit(1).count()
    }
    val warm = mutable.ArrayBuffer[Seq[Run]]()
    def falling = warm.size < 2 || time(warm.last) < 0.95 * time(warm(warm.size - 2))
    while (warm.isEmpty || (falling && warm.size < 4 && fits(ctx, warm.last, 2)))
      warm += pass(spark, ctx.data, order)
    ctx.log(s"ops warm-up ${if (falling) "CAPPED" else "converged"}: " +
      warm.map(p => f"${time(p)}%.2f s").mkString(" "))
    val exp = expected(ctx.expectedHashes)
    val cap = Traced.capture(spark, ctx)(measure(spark, ctx, order))
    val passes = cap.value
    ctx.log("ops traced passes: " + passes.map(p => f"${time(p)}%.2f s").mkString(" "))
    val checks = (warm.toSeq ++ passes).flatten.map { r =>
      val ok = r.error.isEmpty && Checks.hashOk(exp.get(r.query), r.fingerprint)
      if (!ok) ctx.log(s"ops ${r.query} FAILED: " +
        r.error.getOrElse(s"fingerprint ${r.fingerprint} != recorded ${exp.getOrElse(r.query, "none")}"))
      StreamCheck(1, 0, 0, 0, 0, 0, if (ok) 0 else 1)
    }
    val rs = medianRuns(passes)
    val tasks = cap.stats.tasks
    val perQuery = rs.flatMap { r =>
      val a = tasks.byQuery.getOrElse(r.query, new tasks.Agg)
      Seq(s"ops.${r.query}.build_s" -> r.buildS, s"ops.${r.query}.exec_s" -> r.execS,
        s"ops.${r.query}.shuffle_bytes" -> a.shuffleWrite.toDouble / passes.size,
        s"ops.${r.query}.gc_ms" -> a.gcMs.toDouble / passes.size)
    }
    val module = queries.toMap
    val perModule = rs.groupBy(r => module(r.query)).map { case (m, g) =>
      s"ops.$m.s" -> g.map(_.totalS).sum
    }
    Outcome(checks, Map.empty, perQuery.toMap ++ perModule ++ Map(
      "ops.total_s" -> rs.map(_.totalS).sum,
      "ops.geomean_s" -> Stats.geomean(rs.map(_.totalS))))
  }
}
