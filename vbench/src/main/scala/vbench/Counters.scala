package vbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work of one job group (one operation). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
}

/** Engine-wide counters attributed to operations by the job group the
  * benchmark sets per operation id. Listener callbacks arrive on the
  * bus thread; read only after [[org.apache.spark.vbenchshim.Bus.drain]].
  */
final class JobGroupCounters extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Work]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def work(stageId: Int): Option[Work] =
    stageGroup.get(stageId).map(g => byGroup.getOrElseUpdate(g, new Work))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val w = byGroup.getOrElseUpdate(g, new Work)
        w.jobs += 1
        e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    work(e.stageId).foreach { w =>
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.bytesRead += m.inputMetrics.bytesRead
        w.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  def get(group: String): Work = synchronized(byGroup.getOrElse(group, new Work))
}

object Jvm {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Bytes of persisted RDD blocks still held, in memory or on disk. */
  def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
