package perfbench

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Task counters of one job group (one layer call of one iteration). */
final class GroupCounters {
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var waitMs = 0L
  val taskMsByStage: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
}

/** SparkListener keyed by job group: every job a layer call starts carries
  * that call's group id, so task metrics land on the layer that caused them.
  */
final class GroupListener extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupCounters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def counters(g: String): GroupCounters = groups.getOrElseUpdate(g, new GroupCounters)

  def get(g: String): GroupCounters = synchronized(groups.getOrElse(g, new GroupCounters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counters(g).jobs += 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      // scheduler delay as the Spark UI defines it, plus shuffle fetch wait
      val info = e.taskInfo
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      c.waitMs += math.max(0L, sched) + m.shuffleReadMetrics.fetchWaitTime
      c.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
}

/** One traced iteration: per-layer metrics, the root span's wall and the
  * part of it no layer's self time covers (the benchmark's own glue). */
final case class TraceSummary(layers: Map[String, Map[String, Double]], wallS: Double, glueS: Double)

final case class Span(id: Int, name: String, parent: Int, group: String, start: Long) {
  var end: Long = start
  var rowsIn: Long = 0L
  var rowsOut: Long = 0L
  /** Job groups Spark assigns itself, e.g. a streaming query's run id. */
  var extraGroups: List[String] = Nil
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls into each layer. Off, it only runs the
  * bodies. On, each span sets a job group for the listener, and `force`
  * materializes a layer's output at its boundary so the work is charged to
  * the layer that planned it rather than to whichever later action pulls it.
  */
final class Tracer(spark: SparkSession, iteration: Int, val on: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        s"it$iteration/$name", System.nanoTime())
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(s.group, name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** Materialize `df` (traced runs only) and record its row count as the
    * current span's output. */
  def force(df: DataFrame): DataFrame =
    if (!on) df
    else {
      val c = df.persist()
      cached += c
      stack.head.rowsOut = c.count()
      c
    }

  def current: Option[Span] = stack.headOption
  def rowsIn(n: => Long): Unit = if (on) stack.head.rowsIn = n
  def rowsOut(n: => Long): Unit = if (on) stack.head.rowsOut = n
  def lastRows(name: String): Long = spans.reverseIterator.find(_.name == name).map(_.rowsOut).getOrElse(0L)

  def release(): Unit = { cached.foreach(_.unpersist(blocking = true)); cached.clear() }

  /** Per-layer metrics of this iteration: span wall and self time plus the
    * listener's counters for the span's job groups. */
  def layerMetrics(listener: GroupListener): TraceSummary = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val childSeconds = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    def self(s: Span) = s.seconds - childSeconds.getOrElse(s.id, 0.0)
    val root = spans.head
    val layerSpans = spans.tail.filter(s => Layers.all.contains(s.name))
    val layers = layerSpans.groupBy(_.name).map { case (name, ss) =>
      val cs = ss.flatMap(s => (s.group :: s.extraGroups).map(listener.get))
      val skew = cs.flatMap(_.taskMsByStage.values).filter(_.size >= 2).map { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).max(1L)
        sorted.last.toDouble / med
      }
      name -> Map(
        "wall_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(self).sum,
        "cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
        "gc_s" -> cs.map(_.gcMs).sum / 1e3,
        "wait_s" -> cs.map(_.waitMs).sum / 1e3,
        "rows_in" -> ss.map(_.rowsIn).sum.toDouble,
        "rows_out" -> ss.map(_.rowsOut).sum.toDouble,
        "shuffle_write_mb" -> cs.map(_.shuffleWriteBytes).sum / 1e6,
        "spill_mb" -> cs.map(_.spillBytes).sum / 1e6,
        "tasks" -> cs.map(_.tasks).sum.toDouble,
        "failed_tasks" -> cs.map(_.failedTasks).sum.toDouble,
        "jobs" -> cs.map(_.jobs).sum.toDouble,
        "task_skew" -> (if (skew.isEmpty) 1.0 else skew.max))
    }
    TraceSummary(layers, root.seconds, root.seconds - layerSpans.map(self).sum)
  }
}

object Layers {
  /** Named after the `src/main/scala/graft` modules; `expr` and `core` run
    * inside `mapper`. */
  val all: Seq[String] = Seq("sources", "model", "mapper", "validate", "link.mentions",
    "link.star_edges", "link.cc", "link.canonicalize", "materialize", "streaming")
}
