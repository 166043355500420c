package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Spark work attributed to one span: jobs, their intervals, and the task
  * metrics of every stage those jobs ran. */
final class SparkWork {
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]() // (startMs, endMs)
  @volatile var tasks = 0L
  @volatile var taskFailures = 0L
  @volatile var cpuNs = 0L
  @volatile var schedWaitMs = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var outputBytes = 0L
}

/** Attributes Spark jobs, and the tasks of their stages, to the span whose
  * id the submitting thread carried in the [[TraceListener.SpanKey]] local
  * property. Spark copies local properties to the threads it submits
  * adaptive-execution and broadcast jobs from, so those land in the span
  * too. Events arrive on the listener bus thread; read after
  * [[TraceListener.drain]]. */
final class TraceListener extends SparkListener {
  import TraceListener.SpanKey

  private val work = new ConcurrentHashMap[String, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  def workOf(span: String): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { span =>
      jobStart.put(e.jobId, (span, e.time))
      e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
      workOf(span).jobs.add((t0, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val w = workOf(span)
      w.synchronized {
        w.tasks += 1
        if (e.reason != Success) w.taskFailures += 1
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.outputBytes += m.outputMetrics.bytesWritten
          if (info != null && info.finishTime > 0) {
            // the scheduler-delay formula of Spark's own stage page
            val gettingResult =
              if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
            w.schedWaitMs += math.max(0L, (info.finishTime - info.launchTime) -
              m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
              gettingResult)
          }
        }
      }
    }

  def drain(spark: SparkSession): Unit = ListenerBusDrain.drain(spark.sparkContext)
}

/** Peak of the bytes cached RDD blocks hold in memory and on disk above a
  * starting level, from the block manager's update events. A sample taken
  * after an op would miss blocks the op already released; the peak does
  * not. Measuring above the level at the op's start leaves out blocks of
  * earlier ops that are freed only when a garbage collection happens to
  * run, so the figure is the op's own. */
final class StoragePeak extends SparkListener {
  private val held = new ConcurrentHashMap[String, Long]()
  @volatile private var current = 0L
  @volatile private var start = 0L
  @volatile private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      current += now - Option(held.put(key, now)).getOrElse(0L)
      peak = math.max(peak, current)
    }
  }

  /** Restarts the peak from what is held now. */
  def reset(spark: SparkSession): Unit = {
    ListenerBusDrain.drain(spark.sparkContext)
    synchronized { start = current; peak = current }
  }

  /** The peak above the level at the last reset, in MB. */
  def peakMb(spark: SparkSession): Double = {
    ListenerBusDrain.drain(spark.sparkContext)
    synchronized { (peak - start) / 1048576.0 }
  }
}

object TraceListener {
  val SpanKey = "graft.perfbench.span"
}

/** One closed span. Times in ms come from the same wall clock as Spark's
  * job events, so job intervals can be clipped to the span. */
final case class SpanRec(
    id: Long, name: String, parent: Option[Long],
    startMs: Long, endMs: Long, wallS: Double,
    counters: Map[String, Double])

/** Records a span around each layer call. Disabled, it only runs the
  * body: the untraced run measures end-to-end metrics, so tracing must add
  * nothing there. Spans are kept in memory and summarised at the end. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val listener: TraceListener = new TraceListener
  if (enabled) sc.addSparkListener(listener)

  private val closed = mutable.ArrayBuffer[SpanRec]()
  private var stack: List[Long] = Nil
  private var nextId = 0L

  def spans: Seq[SpanRec] = closed.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption
      val prevProp = sc.getLocalProperty(TraceListener.SpanKey)
      sc.setLocalProperty(TraceListener.SpanKey, id.toString)
      stack = id :: stack
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        val t1ms = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(TraceListener.SpanKey, prevProp)
        closed += SpanRec(id, name, parent, t0ms, t1ms, wall, Map.empty)
      }
    }

  /** Adds a counter to the most recently closed span named `name`; the
    * count is taken outside the span, so its jobs are not attributed. */
  def count(name: String, key: String, v: Double): Unit =
    if (enabled) {
      val i = closed.lastIndexWhere(_.name == name)
      require(i >= 0, s"no closed span named $name")
      val s = closed(i)
      closed(i) = s.copy(counters = s.counters + (key -> v))
    }

  /** Wall seconds of the most recently closed span named `name`. */
  def lastWall(name: String): Double = closed.findLast(_.name == name).map(_.wallS).getOrElse(0.0)

  /** Materializes a frame at the span boundary (traced runs only) so lazy
    * work lands in the span that defines it; the caller releases it. */
  def boundary[T](ds: Dataset[T], held: mutable.Buffer[DataFrame]): Dataset[T] =
    if (!enabled) ds
    else {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      held += p.toDF()
      p
    }

  /** Per-op means of every span's metrics, keyed `<span>.<metric>`, over
    * `nOps` traced ops. */
  def summary(nOps: Int): Map[String, Double] = {
    if (!enabled || nOps == 0) return Map.empty
    listener.drain(spark)
    val children: Map[Option[Long], Seq[SpanRec]] = closed.toSeq.groupBy(_.parent)
    def subtree(s: SpanRec): Seq[SpanRec] =
      s +: children.getOrElse(Some(s.id), Nil).flatMap(subtree)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    val occurrences = mutable.Map[String, Int]().withDefaultValue(0)
    closed.foreach { s =>
      val kids = children.getOrElse(Some(s.id), Nil).map(k => (k.startMs, k.endMs))
      val works = subtree(s).map(x => listener.workOf(x.id.toString))
      val jobs = works.flatMap(_.jobs.asScala)
      val wallMs = s.endMs - s.startMs
      val selfFrac = if (wallMs <= 0) 1.0
        else 1.0 - Stats.covered(kids, s.startMs, s.endMs).toDouble / wallMs
      val driverFrac = if (wallMs <= 0) 1.0
        else 1.0 - Stats.covered(jobs.toSeq, s.startMs, s.endMs).toDouble / wallMs
      val p = s.name + "."
      out(p + "wall_s") += s.wallS
      out(p + "self_s") += s.wallS * selfFrac
      out(p + "driver_s") += s.wallS * driverFrac
      out(p + "jobs") += jobs.size
      out(p + "small_jobs") += jobs.count { case (a, b) => b - a < 100 }
      works.foreach { w =>
        out(p + "tasks") += w.tasks
        out(p + "task_failures") += w.taskFailures
        out(p + "cpu_s") += w.cpuNs / 1e9
        out(p + "sched_wait_s") += w.schedWaitMs / 1e3
        out(p + "shuffle_read_mb") += w.shuffleReadBytes / 1048576.0
        out(p + "shuffle_write_mb") += w.shuffleWriteBytes / 1048576.0
        out(p + "spill_mb") += w.spillBytes / 1048576.0
        out(p + "output_mb") += w.outputBytes / 1048576.0
      }
      s.counters.foreach { case (k, v) =>
        out(p + k) += v
        occurrences(p + k) += 1
      }
    }
    out.map { case (k, v) =>
      k -> (if (occurrences.contains(k)) v / occurrences(k) else v / nOps)
    }.toMap
  }
}
