package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One finished task, as the benchmark's listener saw it. */
final case class TaskRec(stage: Int, group: String, mapGroups: Boolean, runMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, recordsRead: Long,
                         spill: Long)

/** Everything the benchmark measures from outside the program: task
  * metrics from a SparkListener (attributed to the job group the
  * harness set around each call) and heap occupancy / GC time from the
  * JVM's collectors. */
final class Probe(spark: SparkSession) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageMapGroups = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageInfos.foreach { si =>
      stageGroup.put(si.stageId, g)
      stageMapGroups.put(si.stageId, BenchAccess.scopeNames(si).contains("MapGroups"))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val rec = TaskRec(e.stageId, Option(stageGroup.get(e.stageId)).getOrElse(""),
        Option(stageMapGroups.get(e.stageId)).exists(_.booleanValue),
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      tasks.synchronized(tasks += rec)
    }
  }

  /** Run `body` with Spark jobs tagged `group`. */
  def phase[A](group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Tasks of every job group accepted by `p`, after the bus drained. */
  def tasksWhere(p: String => Boolean): Seq[TaskRec] = {
    BenchAccess.drain(spark.sparkContext)
    tasks.synchronized(tasks.filter(t => p(t.group)).toSeq)
  }

  // ---- JVM side: heap occupancy right after each collection ----------

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var armed = false
  @volatile private var peakLive = 0L

  private val gcListener: NotificationListener = (n, _) =>
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (live > peakLive) peakLive = live }
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(gcListener, null, null))

  /** Record post-collection heap occupancy only while `armed`. */
  def arm(on: Boolean): Unit = armed = on
  def peakLiveBytes: Long = peakLive

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}
