package medbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region around a call into a pipeline layer. `parent` is
  * the enclosing span's id (-1 at the top); `unit` is the closed-loop
  * unit (one round of CDC cycles, or one catalog pass) it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, unit: Int, cycle: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written once when the run ends. When
  * `tag` is on, every Spark job a span issues runs under the span's
  * job group, so [[GroupListener]] can attribute its work.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var sc: Option[SparkContext] = None
  var tag = false
  var unit = -1
  var cycle = -1

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    if (tag) sc.foreach(_.setJobGroup(Tracer.group(id), name))
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, parent, unit, cycle, t0, t1)
      if (parent < 0) System.err.println(f"[medbench] unit $unit cycle $cycle $name ${(t1 - t0) / 1e9}%.3f s")
      if (tag) sc.foreach { c =>
        if (parent < 0) c.clearJobGroup() else c.setJobGroup(Tracer.group(parent), "")
      }
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Duration minus the part of the span's interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val covered = children(s.id).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        val from = a max reach
        (if (b > from) sum + (b - from) else sum, reach max b)
      }._1
    (s.endNs - s.startNs - covered) / 1e9
  }

  def descendants(id: Int): Seq[Span] = children(id).flatMap(c => c +: descendants(c.id))
}

object Tracer {
  def group(id: Int): String = s"medbench-$id"
}

/** Work counters summed per job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, gcMs, shuffleWrite, spill, bytesOut, recordsOut = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    spill += o.spill; bytesOut += o.bytesOut; recordsOut += o.recordsOut
  }
}

/** The one listener of a traced run: sums job, stage and task counters
  * per job group. Jobs outside a group (the benchmark's own checks)
  * are not counted.
  */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def acc(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        acc(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = acc(g)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesOut += m.outputMetrics.bytesWritten
      c.recordsOut += m.outputMetrics.recordsWritten
    }
  }

  def of(group: String): Counters = synchronized(byGroup.getOrElse(group, new Counters))
}

/** Spark storage memory held by cached RDD blocks, and its peak since
  * the last [[reset]]. Unpersisting an RDD drops its blocks without a
  * block update, so the unpersist event releases them here.
  */
final class StorageListener extends SparkListener {
  private val held = mutable.Map.empty[(Int, String), Long]
  private var current = 0L
  private var top = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      val key = (b.rddId, s"${info.blockManagerId}/${b.name}")
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      current += mem - held.getOrElse(key, 0L)
      if (mem > 0) held(key) = mem else held.remove(key)
      top = top max current
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    held.keys.filter(_._1 == e.rddId).toList.foreach(k => current -= held.remove(k).get)
  }

  def reset(): Unit = synchronized { top = current }
  def peak: Long = synchronized(top)
}
