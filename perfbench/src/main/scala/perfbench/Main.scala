package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** One run's settings. `work` is the run's private scratch directory. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, data: String, cores: Int, launchedMs: Long,
                     expectedHashes: Path) {
  def dir(sub: String): String = work.resolve(sub).toString
  /** Seconds since the benchmark launched this JVM. */
  def sinceLaunchS: Double = (System.currentTimeMillis() - launchedMs) / 1e3
  def log(s: String): Unit = println(s"[perfbench] $s")
}

/** A workload's result: the correctness checks it ran, its end-to-end
  * metrics and, on a traced run, its per-layer metrics. */
final case class Outcome(checks: Seq[StreamCheck], e2e: Map[String, Double],
                         layers: Map[String, Double])

/** Entry point: `perfbench.Main --workload drain|steady --seed N
  * --seconds S --trace 0|1 --work DIR --data DIR --cores N --launched-ms MS
  * --hashes FILE`. Prints human-readable `[perfbench]` lines and
  * ends with one `RESULT {...}` line for the launcher. */
object Main {
  /** The gated metrics (`end_to_end` of BENCHMARK.json). */
  val endToEnd: Set[String] = Set("setup_s", "pipeline_cpu_ms_per_batch")

  /** A workload's untraced numbers that are reported per layer. */
  def extras(e2e: Map[String, Double]): Map[String, Double] =
    e2e.filter { case (k, _) => !endToEnd(k) }

  def session(ctx: Ctx, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.dir("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":$num"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", Paths.get(a("work")).toAbsolutePath, a("data"),
      a("cores").toInt, a("launched-ms").toLong, Paths.get(a("hashes")))
    TimedBus.register()
    val spark = session(ctx, ctx.cores)
    ctx.log(f"spark session ready after ${ctx.sinceLaunchS}%.1f s")
    val out = ctx.workload match {
      case "drain" => Drain.run(spark, ctx)
      case "steady" => Steady.run(spark, ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val attempted = out.checks.map(_.attempted.toLong).sum
    val failed = out.checks.map(_.failed.toLong).sum
    out.checks.filter(_.failed > 0).foreach(c => ctx.log(s"check failed: ${c.describe}"))
    ctx.log(f"failed_frac=${failed.toDouble / math.max(1L, attempted)}%.6f ($failed of $attempted)")
    val spanSelf =
      if (ctx.trace) Tracer.write(ctx.work.resolve(s"spans-${ctx.workload}-${ctx.seed}.jsonl"))
      else Map.empty[String, Double]
    spanSelf.toSeq.sortBy(-_._2).take(12).foreach { case (n, s) =>
      ctx.log(f"self time $n%-28s $s%10.1f ms") }
    println(s"""RESULT {"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${json(out.e2e)},"layers":${json(out.layers)}}""")
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }
}
