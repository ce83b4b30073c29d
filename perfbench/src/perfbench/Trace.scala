package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-metric sums of one layer over one traced operation. */
final class LayerSums {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer[Long]()

  /** Longest task over the median task; 0 when the layer ran no task. */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      taskMs.max.toDouble / math.max(1L, s(s.length / 2)).toDouble
    }
}

/**
 * Sums `TaskEnd` metrics per layer. A job belongs to the layer named by
 * its job group (set by the benchmark around each layer call), or to
 * `streaming` when Spark tagged it with a micro-batch id. A job from a
 * thread that carries no group (the engine's own futures) belongs to the
 * layer whose span is open on the benchmark's thread (`fallback`).
 */
final class LayerListener extends SparkListener {
  import LayerListener._
  @volatile var fallback: String = Other
  private val stageLayer = mutable.Map[Int, String]()
  private val jobLayer = mutable.Map[Int, String]()
  private var sums = mutable.Map[String, LayerSums]()
  private val batchJobs = mutable.Map[Long, Long]()
  private val markersEnded = new AtomicLong(0L)

  private def layerOf(p: java.util.Properties): String = {
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    if (prop("streaming.sql.batchId").isDefined) "streaming"
    else prop("spark.jobGroup.id").filter(g => g == Marker || Layers.contains(g))
      .getOrElse(fallback)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = layerOf(e.properties)
    jobLayer(e.jobId) = layer
    e.stageIds.foreach(s => stageLayer.getOrElseUpdate(s, layer))
    sums.getOrElseUpdate(layer, new LayerSums).jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach(b => batchJobs(b.toLong) = batchJobs.getOrElse(b.toLong, 0L) + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val layer = synchronized(jobLayer.remove(e.jobId))
    if (layer.contains(Marker)) markersEnded.incrementAndGet(): Unit
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = sums.getOrElseUpdate(stageLayer.getOrElse(e.stageId, Other), new LayerSums)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskMs += m.executorRunTime
    }
  }

  /** Waits until every event posted before this call has reached the
    * listener: runs a one-task marker job and waits for its end event,
    * which the listener bus delivers after all earlier events. */
  def barrier(sc: SparkContext): Unit = {
    val before = markersEnded.get()
    sc.setJobGroup(Marker, Marker, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count(): Unit
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (markersEnded.get() <= before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Per-layer sums and per-micro-batch job counts since the last drain. */
  def drain(sc: SparkContext): (Map[String, LayerSums], Map[Long, Long]) = {
    barrier(sc)
    synchronized {
      val out = (sums.toMap - Marker, batchJobs.toMap)
      sums = mutable.Map[String, LayerSums]()
      batchJobs.clear()
      out
    }
  }
}

object LayerListener {
  val Other = "other"
  val Marker = "perfbench.marker"
  val Layers = Set("corpusgen", "signatures", "lshjoin", "verification", "intradup_profile",
    "tiergate", "cc", "pipeline_ckpt", "streaming", "compact")
}

/** One span: a timed call into a layer, or a group of such calls. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written as JSON when the benchmark ends. */
final class Tracer(sc: SparkContext, val listener: LayerListener, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)

  /** Runs `body` as a span. */
  def span[T](name: String, parent: Int, run: String)(body: Int => T): T =
    if (!enabled) body(0) else {
    val id = nextId.getAndIncrement()
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      spans.synchronized(spans += Span(id, name, parent, run, t0, t1))
    }
    }

  /** A span around a call into a layer: the calling thread's jobs carry
    * the layer's job group for the duration. Unless `concurrent`, the
    * layer also owns jobs that engine-internal threads submit without a
    * group while the span is open. */
  def layer[T](name: String, parent: Int, run: String, group: String = "",
               concurrent: Boolean = false)(body: Int => T): T =
    if (!enabled) body(0) else {
    val g = if (group.isEmpty) name else group
    val prev = listener.fallback
    sc.setJobGroup(g, g, interruptOnCancel = false)
    if (!concurrent) listener.fallback = g
    try span(name, parent, run)(body)
    finally {
      sc.clearJobGroup()
      if (!concurrent) listener.fallback = prev
    }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Duration minus the part of the interval its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = Json.arr(all.sortBy(_.startNs).map { s =>
    Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString, "run" -> Json.str(s.run),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "self_s" -> Json.num(selfSeconds(s))))
  })
}

object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  /** (classes compiled, compile nanoseconds) since JVM start. */
  def snapshot(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
