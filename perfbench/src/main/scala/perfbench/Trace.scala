package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A call into a layer made from the benchmark's own code, inside op `op`
  * (-1 during set-up), nested in span `parent` (-1 at the top). Times are
  * System.nanoTime. */
final case class Span(op: Int, layer: String, name: String,
                      start: Long, end: Long, parent: Int)

/** Per-job engine counters, summed over the job's completed stages. `op`
  * and `span` are the op and innermost open span of the thread that
  * submitted the job; times are the scheduler's own event times, moved to
  * the System.nanoTime scale of the spans. */
final class JobStats(val id: Int, val layer: String, val op: Int,
                     val span: Int, val start: Long) {
  var end = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  var scanRows = 0L
}

/** In-memory tracer for the traced run: spans are kept in a buffer and
  * written out when the run ends. The driver thread publishes the current
  * op and innermost span as Spark local properties, so each job carries
  * them in `SparkListenerJobStart.properties`. A SparkListener attributes
  * each job to a graft module through the first `graft.` frame of its
  * stages' call site (`StageInfo.details`), the way graft.ProfileQuery
  * labels jobs. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val spans = new ArrayBuffer[Span]()
  val jobs = new ArrayBuffer[JobStats]()
  private val jobById = scala.collection.mutable.HashMap[Int, JobStats]()
  private val jobOfStage = scala.collection.mutable.HashMap[Int, Int]()
  private var stack: List[Int] = Nil
  private var current = -1
  /** Epoch-ms event times to the nanoTime scale. */
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var drainJob = -1
  private var drained = false

  /** The op the driver is running (-1 outside ops). */
  def op: Int = current
  def op_=(i: Int): Unit = {
    current = i
    sc.setLocalProperty(Tracer.OpKey, i.toString)
  }

  /** Time `body` as a span of `layer`, nested under the open span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val idx = synchronized {
      spans += Span(current, layer, name, System.nanoTime(), 0L,
        stack.headOption.getOrElse(-1))
      val i = spans.size - 1
      stack = i :: stack
      i
    }
    sc.setLocalProperty(Tracer.SpanKey, idx.toString)
    try body finally {
      val parent = synchronized {
        spans(idx) = spans(idx).copy(end = System.nanoTime())
        stack = stack.tail
        stack.headOption.getOrElse(-1)
      }
      sc.setLocalProperty(Tracer.SpanKey, parent.toString)
    }
  }

  /** Returns once the listener has seen every event posted before the
    * call: a marker job is submitted last, and the bus delivers a
    * listener's events in order. */
  def drain(): Unit = {
    sc.setLocalProperty(Tracer.DrainKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.DrainKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    synchronized {
      while (!drained && System.nanoTime() < deadline) wait(100)
    }
    require(drained, "listener bus did not drain within 60 s")
  }

  private def prop(e: SparkListenerJobStart, key: String): Int =
    Option(e.properties).flatMap(p => Option(p.getProperty(key)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(Tracer.DrainKey) != null))
      drainJob = e.jobId
    else {
      val site = e.stageInfos.iterator.flatMap(_.details.split('\n'))
        .map(_.trim).find(l => l.startsWith("graft.") ||
          l.contains(" graft.")).getOrElse("")
      val j = new JobStats(e.jobId, Tracer.layerOf(site),
        prop(e, Tracer.OpKey), prop(e, Tracer.SpanKey),
        e.time * 1000000L - offsetNs)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == drainJob) {
      drained = true
      notifyAll()
    } else jobById.get(e.jobId).foreach(_.end = e.time * 1000000L - offsetNs)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      jobOfStage.get(si.stageId).flatMap(jobById.get).foreach { j =>
        val m = si.taskMetrics
        j.tasks += si.numTasks
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          j.scanBytes += m.inputMetrics.bytesRead
          j.scanRows += m.inputMetrics.recordsRead
        }
      }
    }
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val DrainKey = "perfbench.drain"

  /** Module (layer) of a call-site frame such as
    * `graft.sources.SnapshotStore.commitMergeCow(SnapshotStore.scala:4290)`;
    * "" when no graft frame launched the job (the benchmark's own action
    * on a plan a module built), which the report charges to the
    * enclosing span's layer. */
  def layerOf(frame: String): String = {
    val f = frame.substring(math.max(0, frame.indexOf("graft.")))
    val parts = f.takeWhile(_ != '(').split('.')
    if (!f.startsWith("graft.") || parts.length < 3) ""
    else parts(1) match {
      case "flow" | "app" => "flow"
      case "ml" => "ml"
      case "queries" => "queries"
      case "sources" => "sources." + parts(2).takeWhile(_ != '$')
      case "ops" => parts(2).takeWhile(_ != '$') match {
        case m @ ("ChartOps" | "SimilarityOps") => "ops." + m
        case _ => "ops"
      }
      case _ => "graft"
    }
  }
}
