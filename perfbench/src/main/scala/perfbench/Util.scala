package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Local-filesystem helpers. */
object Fs {
  def delete(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(); ()
  }

  /** Total bytes of the regular files under `f`. */
  def bytesUnder(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def writeFile(f: java.io.File, v: Any): Unit =
    java.nio.file.Files.writeString(f.toPath, write(v) + "\n")
  def readFile(f: java.io.File): Map[String, Any] =
    mapper.readValue(f, classOf[Map[String, Any]])
}

/** Order statistics, matching Python's `statistics` module so the JVM and
  * `run.py` agree on what a median or a quartile is. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least `beyond` samples above it:
    * (percentile, value, samples), or None with too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double, Int)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted; val k = s.size - 1 - beyond
      Some((100.0 * (k + 1) / s.size, s(k), s.size))
    }
}

/** Peak live memory of this JVM: the most heap in use just after any
  * garbage collection, plus the peak use of the non-heap pools (metaspace,
  * code cache). What survives a collection is the data the program holds,
  * so unlike the resident set, which a fixed-size heap fills regardless,
  * the figure moves when the program keeps more or less. */
object LiveMemory {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private lazy val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
  private lazy val heapPools =
    pools.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakHeapAfterGc = new java.util.concurrent.atomic.AtomicLong(0L)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
        peakHeapAfterGc.accumulateAndGet(used, math.max(_, _))
        ()
      }
  }

  /** Start watching collections; call before the work to be measured. */
  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }

  def peakMb(): Double = {
    val nonHeap = pools.filter(_.getType == MemoryType.NON_HEAP)
      .map(_.getPeakUsage.getUsed).sum
    (peakHeapAfterGc.get + nonHeap) / (1024.0 * 1024.0)
  }
}
