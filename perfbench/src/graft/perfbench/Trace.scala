package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Counters of one span: what Spark ran while the span was the active one. */
final class SpanStats {
  var wallNs = 0L
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** executorRunTime of every task, per stage — for the skew figure. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def wallS: Double = wallNs / 1e9
  def taskS: Double = taskMs / 1e3
  def parallelism(cores: Int): Double =
    if (wallNs == 0L) 0.0 else taskS / (wallS * cores)

  /** Worst stage's max/median task time (median floored at 1 ms, so a stage
    * of sub-millisecond tasks does not read as infinitely skewed); 0 when the
    * span ran no tasks. */
  def skew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else stageTaskMs.values.map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(s(s.size / 2), 1L)
    }.max
}

/** Benchmark-owned listener. Jobs carry the active span name as a local
  * property (set on the submitting thread, inherited by Spark's broadcast and
  * subquery threads), so every job, stage and task is attributed to the span
  * that caused it. Also sums file output bytes for write amplification. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, String]
  private val spans = mutable.Map.empty[String, SpanStats]
  private var outputBytes = 0L
  private var jobTotal = 0L
  private var taskTotal = 0L
  private val seenStages = mutable.Set.empty[Int]

  private def stats(name: String): SpanStats = spans.getOrElseUpdate(name, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .getOrElse(Trace.Unattributed)
    stats(span).jobs += 1
    jobTotal += 1
    e.stageInfos.foreach(s => stageSpan.getOrElseUpdate(s.stageId, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stats(stageSpan.getOrElse(e.stageId, Trace.Unattributed))
    st.tasks += 1
    taskTotal += 1
    seenStages += e.stageId
    val m = e.taskMetrics
    if (m != null) {
      st.taskMs += m.executorRunTime
      st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def addWall(span: String, ns: Long): Unit = synchronized { stats(span).wallNs += ns }
  def span(name: String): SpanStats = synchronized { stats(name) }
  def outputBytesTotal: Long = synchronized { outputBytes }
  def jobsTotal: Long = synchronized { jobTotal }
  def tasksTotal: Long = synchronized { taskTotal }
  def stagesSeen: Set[Int] = synchronized { seenStages.toSet }
}

/** Spans around the calls into each layer. A span sets the job property the
  * listener attributes by, and adds its wall time to the span's counters. */
final class Trace(val sc: SparkContext, val cores: Int) {
  val listener = new SpanListener
  sc.addSparkListener(listener)

  def drain(): Unit = org.apache.spark.graftperf.Bus.drain(sc)

  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      listener.addWall(name, System.nanoTime() - t0)
      sc.setLocalProperty(Trace.SpanKey, prev)
    }
  }

  /** Consecutive spans stamped from callbacks (the pipeline's stage hook):
    * `switchTo` closes the open span and opens the next one. */
  final class Relay(first: String) {
    private var cur = first
    private var t0 = System.nanoTime()
    sc.setLocalProperty(Trace.SpanKey, first)
    def switchTo(next: String): Unit = {
      val now = System.nanoTime()
      listener.addWall(cur, now - t0)
      cur = next; t0 = now
      sc.setLocalProperty(Trace.SpanKey, next)
    }
    def close(): Unit = {
      listener.addWall(cur, System.nanoTime() - t0)
      sc.setLocalProperty(Trace.SpanKey, null)
    }
  }

  /** The eight counters of one span, as metric name -> value. */
  def spanMetrics(name: String): Seq[(String, Double)] = {
    drain()
    val s = listener.span(name)
    Seq(
      s"$name.wall_s" -> s.wallS,
      s"$name.jobs" -> s.jobs.toDouble,
      s"$name.tasks" -> s.tasks.toDouble,
      s"$name.task_s" -> s.taskS,
      s"$name.parallelism" -> s.parallelism(cores),
      s"$name.shuffle_bytes" -> s.shuffleBytes.toDouble,
      s"$name.spill_bytes" -> s.spillBytes.toDouble,
      s"$name.skew" -> s.skew)
  }
}

object Trace {
  val SpanKey = "graft.perfbench.span"
  val Unattributed = "unattributed"
}

/** Live heap: old-generation usage right after a collection of that pool
  * (`MemoryPoolMXBean.getCollectionUsage`). `sample()` forces a full
  * collection after each timed invocation, so each reading is the live set the
  * invocation left; the peak is the largest. The second collection follows
  * Spark's ContextCleaner, which releases shuffle and broadcast state only
  * after a collection has found it unreachable. */
object Heap {
  private lazy val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.isCollectionUsageThresholdSupported &&
      Seq("Old", "Tenured").exists(p.getName.contains))

  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    peak = math.max(peak, oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
