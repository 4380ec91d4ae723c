package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** A window the per-layer numbers are computed over: one timed rep (a
  * validation run) or one query pass. `ops` holds the [start, end] wall
  * clock (ms) of each op in it. */
final case class Rep(id: Int, name: String, ops: Seq[(Long, Long)], gcMs: Long,
    heapMiB: Double) {
  def startMs: Long = ops.head._1
  def endMs: Long = ops.last._2
}

/**
 * The traced run's recorder. It observes the engine from outside: a
 * SparkListener registered on every session the benchmark opens, a log4j
 * appender that counts Spark's "task of very large size" warnings, and
 * spans the benchmark records around its own direct calls into the
 * engine's public functions. Everything stays in memory and is written
 * once, at the end, by [[writeSpans]].
 *
 * A Spark job belongs to the layer of the innermost `graft.<layer>.` frame
 * in its call site (for SQL jobs, the call site of their SQL execution);
 * jobs with no such frame belong to `defaultLayer`.
 */
final class Tracer(defaultLayer: String) {
  import Tracer._

  private final case class Job(id: Int, startMs: Long, var endMs: Long,
      layer: String, attributed: Boolean) {
    // tasks, executor run ms, input bytes, shuffle bytes written, spill bytes
    val agg = new Array[Double](5)
  }
  private final case class Call(name: String, rep: Int, startMs: Long,
      endMs: Long, seconds: Double)

  // keyed by (session number, id): job, stage and execution ids restart
  // with every SparkContext
  private val jobs = mutable.Map.empty[(Int, Int), Job]
  private val stageJob = mutable.Map.empty[(Int, Int), Int]
  private val execLayer = mutable.Map.empty[(Int, Long), String]
  private var sessions = 0
  private val bigTasks = mutable.ArrayBuffer.empty[(Long, Long)] // (ms, KiB)
  private val calls = mutable.ArrayBuffer.empty[Call]
  private val values = mutable.ArrayBuffer.empty[(String, Int, Double)]

  private final class Listener(session: Int) extends SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        layerOf(s.details).foreach(l => Tracer.this.synchronized {
          execLayer((session, s.executionId)) = l
        })
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val own = e.stageInfos.iterator.flatMap(s => layerOf(s.details)).nextOption()
      val viaExec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execLayer.get((session, id.toLong)))
      val layer = own.orElse(viaExec)
      jobs((session, e.jobId)) = Job(e.jobId, e.time, e.time,
        layer.getOrElse(defaultLayer), layer.isDefined)
      e.stageIds.foreach(s => stageJob((session, s)) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get((session, e.jobId)).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      for (jid <- stageJob.get((session, e.stageId)); j <- jobs.get((session, jid))
           if m != null) {
        j.agg(0) += 1
        j.agg(1) += m.executorRunTime
        j.agg(2) += m.inputMetrics.bytesRead
        j.agg(3) += m.shuffleWriteMetrics.bytesWritten
        j.agg(4) += m.diskBytesSpilled
      }
    }
  }

  private val appender = new AbstractAppender(
      "perfbench-task-size", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      LargeTask.findFirstMatchIn(e.getMessage.getFormattedMessage).foreach { m =>
        Tracer.this.synchronized { bigTasks += ((e.getTimeMillis, m.group(1).toLong)) }
      }
  }
  appender.start()

  /** Register the listener on a new session and (re-)attach the appender:
    * a new SparkContext may reconfigure logging. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(synchronized { sessions += 1; new Listener(sessions) })
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(TaskSetManagerLogger, Level.WARN, true)
    lc.addAppender(appender, Level.WARN, null)
    cfg.removeLogger(TaskSetManagerLogger)
    cfg.addLogger(TaskSetManagerLogger, lc)
    ctx.updateLoggers()
  }

  /** Time a direct call into the engine as a span under `rep`. */
  def call[T](name: String, rep: Int)(body: => T): T = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val sec = (System.nanoTime() - t0) / 1e9
    synchronized { calls += Call(name, rep, ms0, System.currentTimeMillis(), sec) }
    out
  }

  /** A counter observed at a direct-call boundary (e.g. bytes returned). */
  def value(name: String, rep: Int, v: Double): Unit = synchronized { values += ((name, rep, v)) }

  /** Per-rep layer figures, reduced to the median over `reps`. Every name
    * in [[Tracer.layerMetricNames]] is present (0 when the workload never
    * reaches that layer). */
  def layerMetrics(reps: Seq[Rep], queryFamilies: Map[String, Double] = Map.empty,
      queryJobsPerRep: Boolean = false): Map[String, Double] = synchronized {
    val perRep: Seq[Map[String, Double]] = reps.map { r =>
      val js = jobs.values.filter(j => j.startMs >= r.startMs && j.startMs <= r.endMs).toSeq
      val m = mutable.Map.empty[String, Double]
      ValidationLayers.foreach { l =>
        val lj = js.filter(_.layer == l)
        def sum(i: Int) = lj.map(_.agg(i)).sum
        m(s"$l.busy_s") = Stats.unionLength(lj.map(j => (j.startMs, j.endMs))) / 1000.0
        m(s"$l.jobs") = lj.size
        m(s"$l.tasks") = sum(0)
        m(s"$l.task_s") = sum(1) / 1000.0
        m(s"$l.read_mb") = sum(2) / 1048576.0
        m(s"$l.shuffle_mb") = sum(3) / 1048576.0
        m(s"$l.spill_mb") = sum(4) / 1048576.0
      }
      // time inside the ops that no job covers; the checks and forced
      // collections between a pass's queries are not the engine's
      val gap = r.ops.map { case (s, e) =>
        e - s - Stats.unionLength(js.map(j => (math.max(j.startMs, s), math.min(j.endMs, e))))
      }.sum
      m("driver.gap_s") = math.max(0L, gap) / 1000.0
      m("driver.gc_s") = r.gcMs / 1000.0
      m("scheduler.large_tasks") =
        bigTasks.count { case (t, _) => t >= r.startMs && t <= r.endMs }
      calls.filter(_.rep == r.id).groupBy(_.name).foreach { case (n, cs) =>
        m(n) = cs.map(_.seconds).sum
      }
      values.filter(_._2 == r.id).groupBy(_._1).foreach { case (n, vs) =>
        m(n) = vs.map(_._3).sum
      }
      if (queryJobsPerRep) {
        m("queries.jobs") = js.size
        m("queries.shuffle_mb") = js.map(_.agg(3)).sum / 1048576.0
      }
      m.toMap
    }
    val maxKib = bigTasks.collect {
      case (t, k) if reps.exists(r => t >= r.startMs && t <= r.endMs) => k.toDouble
    }.maxOption.getOrElse(0.0)
    layerMetricNames.map { n =>
      val v =
        if (n == "scheduler.max_task_kib") maxKib
        else if (n.startsWith("queries.") && n.endsWith("_s"))
          queryFamilies.getOrElse(n, 0.0)
        else {
          val xs = perRep.flatMap(_.get(n))
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
      n -> v
    }.toMap
  }

  /** Jobs whose layer came from a call site or SQL execution, out of all. */
  def attribution: (Int, Int) = synchronized {
    (jobs.values.count(_.attributed), jobs.size)
  }

  /** Write every span as one JSON line: the run, its reps, and under each
    * rep its Spark jobs and direct calls. */
  def writeSpans(path: java.nio.file.Path, run: (Long, Long), reps: Seq[Rep]): Unit = synchronized {
    val lines = mutable.ArrayBuffer.empty[String]
    def span(id: String, name: String, parent: String, rep: Any, s: Long, e: Long,
        extra: Map[String, Any] = Map.empty): Unit =
      lines += Json(Map("id" -> id, "name" -> name, "parent" -> parent, "rep" -> rep,
        "start_ms" -> s, "end_ms" -> e) ++ extra)
    span("run", "run", null, null, run._1, run._2)
    reps.foreach { r =>
      span(s"rep${r.id}", r.name, "run", r.id, r.startMs, r.endMs)
      jobs.values.filter(j => j.startMs >= r.startMs && j.startMs <= r.endMs)
        .toSeq.sortBy(j => (j.startMs, j.id)).zipWithIndex.foreach { case (j, i) =>
          span(s"job${r.id}.$i", s"job:${j.layer}", s"rep${r.id}", r.id, j.startMs, j.endMs,
            Map("tasks" -> j.agg(0).toLong, "task_ms" -> j.agg(1).toLong,
              "read_bytes" -> j.agg(2).toLong, "shuffle_bytes" -> j.agg(3).toLong,
              "spill_bytes" -> j.agg(4).toLong))
        }
      calls.filter(_.rep == r.id).zipWithIndex.foreach { case (c, i) =>
        span(s"call${r.id}.$i", s"call:${c.name}", s"rep${r.id}", r.id, c.startMs, c.endMs,
          Map("seconds" -> c.seconds))
      }
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val ValidationLayers: Seq[String] = Seq("sources", "checkpoint", "rules", "operators", "jobs")
  val QueryFamilies: Seq[String] = Seq("relational", "text", "dedup", "similarity",
    "snapshot", "corpus", "distribution", "clean", "quality")
  private val AllLayers: Set[String] = (ValidationLayers :+ "queries").toSet

  private val TaskSetManagerLogger = "org.apache.spark.scheduler.TaskSetManager"
  private val LargeTask = """very large size \((\d+) KiB\)""".r
  private val Frame = """^\s*(?:at\s+)?graft\.([a-z]+)\.""".r

  /** The innermost engine layer named in a call-site stack. */
  def layerOf(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.split('\n').iterator
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .find(AllLayers)

  /** Every per-layer metric the traced run reports, in BENCHMARK.json order. */
  val layerMetricNames: Seq[String] =
    (for {
      l <- ValidationLayers
      m <- Seq("busy_s", "jobs", "tasks", "task_s", "read_mb", "shuffle_mb", "spill_mb")
    } yield s"$l.$m") ++ Seq(
      "driver.gap_s", "driver.gc_s",
      "scheduler.large_tasks", "scheduler.max_task_kib",
      "sources.list_s", "checkpoint.classify_s",
      "checkpoint.read_sketches_s", "checkpoint.sketch_kib",
      "checkpoint.read_inventory_s", "checkpoint.read_state_s",
      "operators.bloom_merge_s") ++
      QueryFamilies.map(f => s"queries.${f}_s") ++
      Seq("queries.jobs", "queries.shuffle_mb")
}
