package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed operation of a workload's closed loop. `kind` names what ran
  * (e.g. "validate", "resume", or a query key), `cpus` the session's
  * parallelism; `warm` marks warm-up ops, which count as attempted but are
  * never timed. A failed op keeps its record and is never timed either. */
final case class Op(kind: String, cpus: Int, warm: Boolean, seconds: Double,
    ok: Boolean, startMs: Long, endMs: Long, note: String)

/** Runs and records ops. An op fails when it throws, when its output check
  * (run after the clock stops) reports a mismatch, or when it overruns
  * `timeoutS`. Every timed op ends with a full collection, outside its
  * timing: old-generation garbage then builds up over one op at most, so
  * the after-collection heap figures ([[HeapPeak]]) measure what the work
  * kept alive, not how much garbage a window happened to promote. Warm-up
  * ops skip it: they feed no heap figure, and every window starts with a
  * full collection. */
final class OpLog(timeoutS: Double) {
  val ops = ArrayBuffer.empty[Op]

  def apply[T](kind: String, cpus: Int, warm: Boolean = false)(body: => T)(
      check: T => Option[String]): Op = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Right(body)
      catch { case e: Throwable => Left(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    val sec = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val problem = out.fold(Some(_),
      v => try check(v) catch { case e: Throwable => Some(s"check threw $e") })
      .orElse(if (sec > timeoutS) Some(f"timed out ($sec%.1f s > $timeoutS%.0f s)") else None)
    problem.foreach(n => System.err.println(s"[perfbench] FAILED $kind @local[$cpus]: $n"))
    val op = Op(kind, cpus, warm, sec, problem.isEmpty, ms0, ms1, problem.getOrElse(""))
    ops += op
    if (!warm) System.gc()
    op
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)

  /** Seconds of the successful timed ops matching `p`. */
  def times(p: Op => Boolean): Seq[Double] =
    ops.filter(o => o.ok && !o.warm && p(o)).map(_.seconds).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The median, or None when no sample succeeded. */
  def medianOpt(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(median(xs))

  /** Nearest-rank percentile, q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Peak JVM heap in use right after a collection, within a window: the
  * heap pools' after-GC usage reported by every GC notification while the
  * window is open, and the pools' usage after the last collection when it
  * closes (the full collection that ends every op, whose notification may
  * still be on its way). Garbage awaiting collection is not counted. */
object HeapPeak {
  @volatile private var open = false
  @volatile private var peakBytes = 0L
  @volatile private var engineGcMs = 0L
  private val heapBeans = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val heapPools: Set[String] = heapBeans.map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        synchronized {
          if (info.getGcCause != "System.gc()") engineGcMs += info.getGcInfo.getDuration
          if (open) peakBytes = math.max(peakBytes, info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
        }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def start(): Unit = synchronized { peakBytes = 0L; open = true }

  /** Close the window and return its peak in MiB. */
  def stop(): Double = synchronized {
    open = false
    val lastGc = heapBeans.flatMap(b => Option(b.getCollectionUsage)).map(_.getUsed).sum
    math.max(peakBytes, lastGc) / 1048576.0
  }

  /** Time (ms) of the collections so far that the work caused: the forced
    * ones that end each op are left out. */
  def gcMillis: Long = synchronized(engineGcMs)
}

/** JSON rendering for the result, detail and span records. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def apply(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)
}
