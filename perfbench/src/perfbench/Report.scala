package perfbench

import scala.collection.mutable

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  /** Full-precision number; non-finite values are not JSON numbers. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/**
 * Everything one run reports. `metric` lines go to stdout as
 * `metric <name> <value> <unit>`; the last stdout line is the result
 * object holding the metrics BENCHMARK.json declares for the run's mode.
 */
final class Report(val workload: String) {
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val seriesByName = mutable.LinkedHashMap[String, Seq[Double]]()
  private var attempted = 0L
  private var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def get(name: String): Option[Double] = metrics.get(name).map(_._1)
  /** A per-step sequence kept for the per-layer file only. */
  def series(name: String, xs: Seq[Double]): Unit = seriesByName(name) = xs
  def all: Seq[(String, Double, String)] = metrics.toSeq.map { case (k, (v, u)) => (k, v, u) }

  /** Runs one operation: a throw or a failed check makes it a failed op. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try {
      val before = failures.length
      val r = body
      if (failures.length > before) { failed += 1; None } else Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        failures += s"$what threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        e.printStackTrace()
        None
    }
  }

  /** A correctness check inside an op; a false condition fails the op. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

  def opsAttempted: Long = attempted
  def opsFailed: Long = failed
  def correct: Boolean = failures.isEmpty && failed == 0

  def printMetricLines(): Unit = all.foreach { case (k, v, u) =>
    println(s"metric $k ${Json.num(v)} $u")
  }

  /** Every metric and series of the run, for the per-layer file. */
  def toJson(seed: Long): String = Json.obj(Seq(
    "workload" -> Json.str(workload), "seed" -> seed.toString,
    "correct" -> correct.toString, "failures" -> Json.arr(failures.toSeq.map(Json.str)),
    "metrics" -> Json.obj(all.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
    "series" -> Json.obj(seriesByName.toSeq.map { case (k, xs) => k -> Json.arr(xs.map(Json.num)) })))

  /** The result object over `names`. A per-layer metric of a layer this
    * workload never ran reads 0 (no work); a metric that should have been
    * measured and was not reads null. */
  def resultLine(names: Seq[String]): String = {
    val ms = names.map { n =>
      val layerRan = all.exists(_._1.startsWith(n.takeWhile(_ != '.') + "."))
      val (v, u) = metrics.getOrElse(n, (if (layerRan || !n.contains('.')) Double.NaN else 0.0, Units.of(n)))
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> math.max(1L, attempted).toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(ms)))
  }
}

/** The metric names BENCHMARK.json declares, per mode. */
object Units {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "convs_per_s" -> "convs/s", "storage_mb" -> "MB")
  /** Measured by every workload's traced run: the set-up and codegen
    * layers in full, and the work counts of every other layer (0 where a
    * workload does not run it). Layer times of the pipeline and stream
    * layers are in the per-layer file. */
  val perLayer: Seq[(String, String)] =
    Seq("corpusgen.wall_s" -> "s", "corpusgen.task_s" -> "s", "corpusgen.tasks" -> "count",
      "corpusgen.rows_out" -> "rows", "codegen.classes" -> "count", "codegen.compile_ms" -> "ms") ++
    Seq("signatures", "lshjoin", "verification", "intradup_profile", "tiergate", "cc",
      "pipeline_ckpt", "streaming", "compact").flatMap(l =>
      Seq(s"$l.tasks" -> "count", s"$l.shuffle_write_mb" -> "MB", s"$l.rows_out" -> "rows")) ++
    Seq("lshjoin.buckets_paired" -> "count", "lshjoin.buckets_salted" -> "count",
      "cc.jobs" -> "count", "pipeline_ckpt.files_written" -> "count",
      "streaming.files_scanned" -> "count", "streaming.jobs_per_batch" -> "count",
      "streaming.files_written" -> "count", "compact.files_after" -> "count")
  def of(name: String): String =
    (endToEnd ++ perLayer).toMap.getOrElse(name, "")
}
