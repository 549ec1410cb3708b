package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Counters that do not drift with host load, summed over Spark's task
  * and stage events. Read them as differences between two snapshots.
  */
final case class Counts(v: Vector[Long]) {
  def -(o: Counts): Counts = Counts(v.lazyZip(o.v).map(_ - _))
  def +(o: Counts): Counts = Counts(v.lazyZip(o.v).map(_ + _))
  def apply(f: Int): Long = v(f)
}

object Counts {
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskRunMs = 3
  val TaskCpuNs = 4; val GcMs = 5; val ShuffleWriteBytes = 6
  val ShuffleReadBytes = 7; val ShuffleRecords = 8; val SpillBytes = 9
  val OutputBytes = 10
  val size = 11
  val zero: Counts = Counts(Vector.fill(size)(0L))
}

/** A completed stage of a MapReduce job group. */
final case class StageRec(stageId: Int, startMs: Long, endMs: Long,
    shuffleRecords: Long, shuffleBytes: Long)

/** The benchmark's Spark listener: counters for every layer that runs
  * jobs, stage spans for the trace, and per-stage records for the
  * MapReduce jobs (attributed by job group).
  */
final class Probe(trace: Trace) extends SparkListener {
  import Counts._
  private val c = Array.fill(Counts.size)(new AtomicLong)
  private def add(f: Int, n: Long): Unit = if (n != 0) c(f).addAndGet(n)

  // stage id -> owner: ("s", span id) from the submitting thread's local
  // property, or ("g", job group) for MapReduce jobs
  private val owner = new ConcurrentHashMap[Integer, (String, String)]()
  private val groupStages =
    new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[StageRec]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add(Jobs, 1)
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("mr-job-"))
    val o = group.map(g => ("g", g)).orElse(
      props.flatMap(p => Option(p.getProperty(Probe.SpanKey))).map(s => ("s", s)))
    o.foreach(ov => e.stageIds.foreach(id => owner.put(id, ov)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add(Stages, 1)
    val si = e.stageInfo
    val o = Option(owner.remove(si.stageId))
    for (s <- si.submissionTime; t <- si.completionTime) {
      o match {
        case Some(("g", g)) =>
          val m = Option(si.taskMetrics)
          groupStages.computeIfAbsent(g,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[StageRec]())
            .add(StageRec(si.stageId, s, t,
              m.fold(0L)(_.shuffleWriteMetrics.recordsWritten),
              m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)))
          trace.stage(trace.spanOfGroup(g), s"stage ${si.stageId}", s, t)
        case Some((_, span)) =>
          trace.stage(span.toLong, s"stage ${si.stageId}", s, t)
        case None => ()
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(Tasks, 1)
    Option(e.taskMetrics).foreach { m =>
      add(TaskRunMs, m.executorRunTime)
      add(TaskCpuNs, m.executorCpuTime)
      add(GcMs, m.jvmGCTime)
      add(ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
      add(ShuffleRecords, m.shuffleWriteMetrics.recordsWritten)
      add(ShuffleReadBytes, m.shuffleReadMetrics.totalBytesRead)
      add(SpillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(OutputBytes, m.outputMetrics.bytesWritten)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Counts = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Counts(c.iterator.map(_.get).toVector)
  }

  /** Completed stages of a MapReduce job group (after a snapshot). */
  def stagesOf(group: String): Seq[StageRec] =
    Option(groupStages.remove(group)).fold(Seq.empty[StageRec])(_.asScala.toSeq)
}

object Probe {
  /** Local property naming the span that submitted a job. */
  val SpanKey = "perfbench.span"

  /** Names `span` (0: none) as the owner of the jobs this thread submits. */
  def publish(sc: SparkContext, span: Long): Unit =
    sc.setLocalProperty(SpanKey, if (span == 0L) null else span.toString)
}
