package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side work counters; `-` gives the work of one interval. */
final case class SparkWork(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                           taskCpuNs: Long = 0, shuffleWriteBytes: Long = 0,
                           taskGcMs: Long = 0, spillBytes: Long = 0) {
  def -(o: SparkWork): SparkWork = SparkWork(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskCpuNs - o.taskCpuNs,
    shuffleWriteBytes - o.shuffleWriteBytes, taskGcMs - o.taskGcMs,
    spillBytes - o.spillBytes)
}

/** Listener that totals jobs, stages, tasks and task metrics, and tracks the
  * bytes held by cached blocks (memory + disk) with their peak. Operations
  * run one at a time, so the difference of two drained snapshots is the
  * work of the operation between them. */
final class WorkListener extends SparkListener {
  private var work = SparkWork()
  private val blocks = new java.util.HashMap[String, java.lang.Long]()
  private var stored = 0L
  private var storedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    work = work.copy(jobs = work.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work = work.copy(stages = work.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    work = if (m == null) work.copy(tasks = work.tasks + 1)
    else work.copy(tasks = work.tasks + 1,
      taskCpuNs = work.taskCpuNs + m.executorCpuTime,
      shuffleWriteBytes = work.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      taskGcMs = work.taskGcMs + m.jvmGCTime,
      spillBytes = work.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val before = Option(blocks.put(i.blockId.name, now)).map(_.longValue).getOrElse(0L)
      stored += now - before
      storedPeak = math.max(storedPeak, stored)
    }
  }

  def snapshot(sc: SparkContext): SparkWork = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(work)
  }
  /** Peak cached bytes since the last reset; the reset starts from the
    * bytes cached now. */
  def storagePeakBytes(sc: SparkContext): Long = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(storedPeak)
  }
  def resetStoragePeak(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { storedPeak = stored }
  }
}

/** Old-generation occupancy right after each collection, from the GC
  * notifications of the collector MXBeans. */
object GcProbe {
  @volatile private var oldPeak = 0L
  private val oldPools = Set("PS Old Gen", "G1 Old Gen", "Tenured Gen")

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          n.getUserData match {
            case cd: CompositeData =>
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
              info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
                if (oldPools(pool)) oldPeak = math.max(oldPeak, u.getUsed)
              }
            case _ =>
          }
      }, null, null)
    case _ =>
  }

  def resetOldPeak(): Unit = oldPeak = 0L
  def oldPeakBytes: Long = oldPeak
}

/** One span: a timed call into a layer, with the span that caused it and
  * the operation it belongs to. Times are nanoseconds from the JVM's clock. */
final case class Span(id: Int, name: String, parent: Int, op: String,
                      start: Long, end: Long) {
  def secs: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run, written out at the end; when
  * disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = ""

  def inOp[T](opId: String)(body: => T): T = { op = opId; body }

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, op, System.nanoTime(), 0L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = System.nanoTime())
    }
  }

  def all: Seq[Span] = spans.toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""op":${Json.str(s.op)},"start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
