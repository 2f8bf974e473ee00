package perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory}
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** What the Spark scheduler and executors spent on the jobs of one tag. */
final class JobStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  /** QueryExecution.tracker phase times, summed over the tag's queries */
  val phaseMs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

/** One traced call into a layer: wall clock, parent, and the job tag
  * under which the Spark jobs it launched were counted.
  */
final case class Span(name: String, parentTag: Option[String], tag: String,
    startNs: Long, endNs: Long, rowsOut: Long, stats: JobStats) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans over layer calls, with a `SparkListener` and a
  * `QueryExecutionListener` attributing every Spark job, task and query
  * plan to the innermost open span through `SparkContext.addJobTag`.
  *
  * Only the innermost span's tag is set on the thread at any time, so a
  * job belongs to exactly one span; a parent's totals are its own plus
  * its children's. The listener bus is drained at each span boundary,
  * outside the timed window, so late events cannot leak into the next
  * span. Spans stay in memory and are written once, by the caller.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val byTag = mutable.Map.empty[String, JobStats]
  private val stageTag = mutable.Map.empty[Int, String]
  @volatile private var current: Option[String] = None
  private var open: List[String] = Nil // tags of the open spans, innermost first
  private var seq = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  private def statsFor(tag: String): JobStats = synchronized(byTag.getOrElseUpdate(tag, new JobStats))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(_.startsWith(Tracer.Prefix))
      tags.headOption.foreach { tag =>
        Tracer.this.synchronized {
          statsFor(tag).jobs += 1
          e.stageIds.foreach(id => stageTag(id) = tag)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageTag.get(e.stageInfo.stageId).foreach(t => statsFor(t).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
        val s = statsFor(tag)
        val info = e.taskInfo
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (info.finishTime > 0)
          s.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = current.foreach { tag =>
      Tracer.this.synchronized {
        val s = statsFor(tag)
        qe.tracker.phases.foreach { case (phase, summary) => s.phaseMs(phase) += summary.durationMs }
      }
    }
  }

  /** Start counting: register both listeners. */
  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Stop counting; spans and their stats stay. */
  def detach(): Unit = {
    BusDrain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Run `body` in a span named `name`; `body` returns its value and
    * the number of rows the layer put out.
    */
  def span[T](name: String)(body: => (T, Long)): T = {
    BusDrain(sc)
    seq += 1
    val tag = s"${Tracer.Prefix}$seq-$name"
    val parent = open.headOption
    parent.foreach(sc.removeJobTag)
    sc.addJobTag(tag)
    current = Some(tag)
    open = tag :: open
    val t0 = System.nanoTime()
    try {
      val (value, rows) = body
      val t1 = System.nanoTime()
      BusDrain(sc)
      spans += Span(name, parent, tag, t0, t1, rows, statsFor(tag))
      value
    } finally {
      open = open.tail
      sc.removeJobTag(tag)
      parent.foreach(sc.addJobTag)
      current = parent
    }
  }

  /** Wall time of `span` minus the time its child spans cover. */
  def selfS(span: Span): Double =
    span.wallS - spans.filter(_.parentTag.contains(span.tag)).map(_.wallS).sum

  /** Stats of `span` plus those of every span nested in it. */
  def inclusive(span: Span): JobStats = {
    val kids = spans.filter(c => c.startNs >= span.startNs && c.endNs <= span.endNs)
    val t = new JobStats
    for (k <- kids; s = k.stats) {
      t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks
      t.runMs += s.runMs; t.cpuNs += s.cpuNs; t.gcMs += s.gcMs; t.delayMs += s.delayMs
      t.shuffleRead += s.shuffleRead; t.shuffleWrite += s.shuffleWrite; t.spill += s.spill
      s.phaseMs.foreach { case (p, ms) => t.phaseMs(p) += ms }
    }
    t
  }

  /** The spans as JSON: name, tag, parent tag, start, end, rows out. */
  def toJson: ArrayNode = {
    val arr = JsonNodeFactory.instance.arrayNode()
    for (s <- spans)
      arr.addObject().put("name", s.name).put("tag", s.tag).put("parent", s.parentTag.orNull)
        .put("start_ns", s.startNs).put("end_ns", s.endNs).put("rows_out", s.rowsOut)
        .put("jobs", s.stats.jobs).put("tasks", s.stats.tasks)
    arr
  }
}

object Tracer {
  val Prefix = "perfbench-"
}
