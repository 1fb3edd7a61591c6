package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Process-wide counters read at op boundaries. None of them is a
  * listener: they are plain reads of JVM and Spark static counters, so
  * untraced runs read them too (the drift quarters need them). */
object Counters {
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  final case class Snap(jitMs: Long, compiles: Long, codegenNs: Long, gcMs: Long)

  def snap(): Snap = Snap(
    jit.getTotalCompilationTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    gcs.map(_.getCollectionTime.max(0L)).sum)

  /** Highest heap occupancy measured right after a collection since the
    * last [[resetHeapPeak]], from the collectors' GC notifications; the
    * reset starts it at the occupancy after the latest collection. */
  @volatile private var peakAfterGc = 0L
  def resetHeapPeak(): Unit =
    peakAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => heapPools(p.getName)).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  def heapPeakAfterGcBytes: Long = peakAfterGc

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def watchGc(): Unit = gcs.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peakAfterGc) peakAfterGc = used
        }
      }, null, null)
    case _ => ()
  }
}

/** One timed op of the closed loop. Times are epoch-relative
  * milliseconds (as doubles) so driver spans, Spark listener events and
  * Catalyst phase stamps share one clock. */
final case class OpRec(id: Int, kind: String, startMs: Double, endMs: Double,
                       ok: Boolean, error: String, before: Counters.Snap,
                       after: Counters.Snap)

/** A driver-side span around one call into a graft layer. */
final case class SpanRec(op: Int, name: String, startMs: Double, endMs: Double)

/** Clock, op log and driver-side spans of one run. A single client
  * thread calls [[op]] and [[span]]; nothing here is shared with Spark's
  * threads. */
final class Recorder(spark: SparkSession) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[SpanRec]
  private var current = -1
  private var nextId = 0

  /** Run one op: labels its jobs `op<id>:<kind>` (TxTable nests its
    * `tx:<op>:<phase>` labels under this), times it, and records a
    * failure instead of propagating it. Returns whether it succeeded. */
  def op(kind: String)(body: => Unit): Boolean = {
    val id = nextId; nextId += 1
    current = id
    val sc = spark.sparkContext
    sc.setJobDescription(s"op$id:$kind")
    val before = Counters.snap()
    val t0 = nowMs
    val err =
      try { body; "" }
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    val t1 = nowMs
    val after = Counters.snap()
    sc.setJobDescription(null)
    ops += OpRec(id, kind, t0, t1, err.isEmpty, err, before, after)
    current = -1
    err.isEmpty
  }

  def span[T](name: String)(body: => T): T = {
    val t0 = nowMs
    try body finally spans += SpanRec(current, name, t0, nowMs)
  }

  /** Mark the running op failed after the fact (a wrong output found by
    * a check made outside the timed window). */
  def fail(id: Int, why: String): Unit = {
    val i = ops.indexWhere(_.id == id)
    if (i >= 0 && ops(i).ok) ops(i) = ops(i).copy(ok = false, error = why.take(300))
  }
}
