package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What a workload hands back: its end-to-end figures (the gated set), the
  * per-layer figures when traced, and everything else worth printing. */
final case class Outcome(
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    detail: Map[String, Double],
    reps: Seq[Rep])

/** Shared state of one benchmark invocation. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: Path, val data: Path) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val log = new OpLog(timeoutS = 120)
  val tracer: Option[Tracer] =
    if (traced) Some(new Tracer(if (workload == "query_suite") "queries" else "jobs"))
    else None

  /** A fresh session at `local[cpus]`. Validation sessions use the scaling
    * protocol's settings (ScalingBench.session); query sessions use the
    * query bench's (Bench.main). */
  def session(cpus: Int, queries: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (queries) b.config("spark.sql.adaptive.enabled", "true")
    else b.config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.inMemoryColumnarStorage.batchSize", "2500")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tracer.foreach(_.attach(s))
    s
  }

  def close(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Run `body` with a fresh session at `cpus`, closing it afterwards. */
  def withSession[T](cpus: Int, queries: Boolean = false)(body: SparkSession => T): T = {
    val s = session(cpus, queries)
    try body(s) finally close(s)
  }

  /** Time three set-ups (each must leave the same state behind); the
    * median is `setup_s`. The first, in a cold JVM, takes about twice as
    * long as the others, and the median leaves it out. */
  def timeSetups(body: () => Unit): Seq[Double] = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    body()
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop: `seconds / nominalS` rounds (at least 2), where
    * `nominalS` is what one round takes on a 4-vCPU host. The count is
    * fixed by the arguments, not by how fast this run happens to go, so
    * every run's medians are over the same number of samples. */
  def loop(nominalS: Double)(round: () => Unit): Unit =
    (1 to math.max(2, math.round(seconds / nominalS).toInt)).foreach(_ => round())

  /** A measured window: a full GC before it, heap and GC accounting
    * inside it. `body` runs the window's ops; the [[Rep]] spans them. */
  def window(name: String)(body: => Unit): Rep = {
    System.gc()
    val gc0 = HeapPeak.gcMillis
    val first = log.ops.size
    HeapPeak.start()
    body // ops catch their own failures
    val heap = HeapPeak.stop()
    Rep(first, name, log.ops.drop(first).map(o => (o.startMs, o.endMs)).toSeq,
      HeapPeak.gcMillis - gc0, heap)
  }

  /** One timed op as its own window. */
  def timedRep[T](kind: String, cpus: Int, warm: Boolean = false)(body: => T)(
      check: T => Option[String]): (Op, Rep) = {
    val rep = window(s"$kind@local[$cpus]")(log(kind, cpus, warm)(body)(check))
    (log.ops.last, rep)
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "full_scan" -> FullScan.run,
    "append_delta" -> AppendDelta.run,
    "query_suite" -> QuerySuite.run)

  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "heap_peak_mb" -> "MiB")

  def unitOf(name: String): String =
    EndToEndUnits.toMap.getOrElse(name,
      if (name.startsWith("rows_per_s")) "rows/s"
      else if (name.endsWith("_s")) "s"
      else if (name.endsWith("_mb")) "MiB"
      else if (name.endsWith("_kib")) "KiB"
      else if (name.endsWith("_frac") || name.endsWith("_eff")) "ratio"
      else "count")

  private def withUnits(m: Iterable[(String, Double)]): Map[String, Any] =
    scala.collection.immutable.ListMap(m.toSeq.map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> unitOf(k))
    }: _*)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    val ctx = new Ctx(workload, opts("seed").toLong, opts("seconds").toInt,
      opts.get("trace").contains("1"), work, Paths.get(opts("data")).toAbsolutePath)
    HeapPeak.install()
    val t0 = System.currentTimeMillis()
    val outcome = Workloads(workload)(ctx)
    val t1 = System.currentTimeMillis()
    // host-noise context, not a gated metric: the host's pure-CPU time at
    // 1 and nproc threads, measured after the workload (no session open)
    val probeRows = 15000000L
    val probe1 = graft.bench.CpuScaleProbe.time(1, probeRows)
    val probeN = graft.bench.CpuScaleProbe.time(ctx.nproc, probeRows)
    ctx.tracer.foreach(_.writeSpans(work.resolve("trace.jsonl"), (t0, t1), outcome.reps))

    val failed = ctx.log.failed
    val attempted = ctx.log.attempted
    val detail = scala.collection.immutable.ListMap(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> ctx.traced,
      "nproc" -> ctx.nproc,
      "end_to_end" -> withUnits(outcome.endToEnd),
      "detail" -> withUnits(outcome.detail ++ Seq(
        "failed_frac" -> failed.toDouble / math.max(1, attempted))),
      "host" -> Map("cpu_probe_1t_s" -> probe1, "cpu_probe_nproc_s" -> probeN,
        "cpu_probe_eff" -> probe1 / (ctx.nproc * probeN)),
      "jobs_attributed" -> ctx.tracer.map(_.attribution.productIterator.toSeq),
      "failures" -> ctx.log.ops.filterNot(_.ok).map(o => s"${o.kind}@${o.cpus}: ${o.note}"),
      // every timed op's seconds, by kind, in run order
      "samples" -> ctx.log.ops.filter(o => o.ok && !o.warm).groupBy(o => s"${o.kind}@${o.cpus}")
        .map { case (k, os) => k -> os.map(_.seconds) })
    println(Json(detail))

    val metrics = if (ctx.traced) outcome.layers else outcome.endToEnd
    val result = scala.collection.immutable.ListMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> withUnits(metrics))
    Files.write(work.resolve("result.json"), Json(result).getBytes("UTF-8"))
  }
}
