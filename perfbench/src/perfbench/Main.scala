package perfbench

import java.io.File
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.{DedupConfig, Turn}
import graft.sources.ConversationGen
import graft.sources.ConversationGen.CorpusSpec

/** Parsed command line. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      size: String, state: File, out: File, fault: Boolean,
                      spawnMs: Option[Long])

/** A workload's inputs at one size. */
final case class Workload(name: String, spec: CorpusSpec,
                          cfg: DedupConfig = DedupConfig.balanced,
                          delta: Int = 0, compactEvery: Int = 0)

/**
 * Benchmark entry point. Runs one workload (or `all` of them in one
 * driver process), checks the engine's outputs and prints one
 * `metric <name> <value> <unit>` line per measured metric, then the
 * result object as the last stdout line.
 *
 *   perfbench.Main --workload batch_sf01 --seed 42 --seconds 5 --trace 0
 *                  --state DIR --out DIR [--size full|smoke] [--fault]
 */
object Main {
  val Names = Seq("batch_sf01", "batch_dupheavy", "stream_ingest")

  def workload(name: String, size: String, seed: Long): Workload = (name, size) match {
    case ("batch_sf01", "full") => Workload(name, CorpusSpec(1500, 100, 50, seed),
      DedupConfig.balanced.copy(bandBucketCap = 24))
    case ("batch_dupheavy", "full") => Workload(name, CorpusSpec(200, 120, 100, seed))
    case ("stream_ingest", "full") =>
      Workload(name, CorpusSpec(300, 10, 10, seed), delta = 50, compactEvery = 1)
    case ("batch_sf01", "smoke") => Workload(name, CorpusSpec(300, 6, 20, seed))
    case ("batch_dupheavy", "smoke") => Workload(name, CorpusSpec(100, 25, 50, seed))
    case ("stream_ingest", "smoke") =>
      Workload(name, CorpusSpec(80, 3, 5, seed), delta = 25, compactEvery = 1)
    case _ => throw new IllegalArgumentException(s"unknown workload $name at size $size")
  }

  def parse(argv: Array[String]): Args = {
    val m = scala.collection.mutable.Map[String, String]()
    var fault = false
    var i = 0
    while (i < argv.length) {
      if (argv(i) == "--fault") { fault = true; i += 1 }
      else if (argv(i).startsWith("--") && i + 1 < argv.length) { m(argv(i).drop(2)) = argv(i + 1); i += 2 }
      else throw new IllegalArgumentException(s"unexpected argument ${argv(i)}")
    }
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(workload = need("workload"), seed = m.getOrElse("seed", "42").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1", size = m.getOrElse("size", "full"),
      state = new File(need("state")), out = new File(need("out")),
      fault = fault, spawnMs = m.get("spawn-ms").map(_.toLong))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // a run stopped from outside (SIGTERM) must not print a result
    @volatile var stopping = false
    Runtime.getRuntime.addShutdownHook(new Thread(() => stopping = true))
    val names = if (args.workload == "all") Names else Seq(args.workload)
    names.foreach(n => workload(n, args.size, args.seed)) // reject unknown names up front
    args.out.mkdirs()
    val t0Ms = args.spawnMs.getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Bench.session(cpus)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val listener = new LayerListener
    // tracing off: no listener, no job groups, no spans
    if (args.trace) spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext, listener, enabled = args.trace)
    val reports = try {
      names.map { n =>
        val w = workload(n, args.size, args.seed)
        val rep = new Report(n)
        val ctx = Ctx(spark, args, w, rep, tracer, sessionS)
        if (n.startsWith("batch")) Batch.run(ctx) else Stream.run(ctx)
        rep
      }
    } finally spark.stop()
    if (args.trace) {
      def write(name: String, body: String): Unit = {
        val f = new File(args.out, name)
        java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
        System.err.println(s"[perfbench] wrote $f")
      }
      write(s"${args.workload}-seed${args.seed}-spans.json", tracer.toJson)
      reports.foreach(r => write(s"${r.workload}-seed${args.seed}-layers.json", r.toJson(args.seed)))
    }
    val declared = (if (args.trace) Units.perLayer else Units.endToEnd).map(_._1)
    reports.foreach(_.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f")))
    val line = if (reports.length == 1) reports.head.resultLine(declared) else {
      // `all`: one object over every workload, metrics prefixed by workload
      val ms = for (r <- reports; (k, v, u) <- r.all if declared.contains(k))
        yield s"${r.workload}.$k" -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      Json.obj(Seq("correct" -> reports.forall(_.correct).toString,
        "attempted" -> math.max(1L, reports.map(_.opsAttempted).sum).toString,
        "failed" -> reports.map(_.opsFailed).sum.toString, "metrics" -> Json.obj(ms)))
    }
    if (stopping) sys.exit(1)
    println(line)
    System.out.flush()
    if (!reports.forall(_.correct)) sys.exit(1)
  }
}

/** What a workload run needs. */
final case class Ctx(spark: SparkSession, args: Args, w: Workload, rep: Report,
                     tracer: Tracer, sessionS: Double) {
  def runId(tag: String): String = s"${w.name}-$tag"

  /** Generates, persists and counts the corpus `builds` times (each one
    * timed; all but the last released), so setup_s can report a median.
    * Returns the persisted corpus and its turn count. */
  def buildCorpus(builds: Int): (Dataset[Turn], Long) = {
    var last: (Dataset[Turn], Long) = null
    val perBuild = (1 to builds).map { i =>
      val run = runId(s"setup$i")
      val t0 = System.nanoTime()
      val (ds, n) = tracer.layer("corpusgen", 0, run) { _ =>
        val ds = ConversationGen.corpus(spark, w.spec).persist()
        (ds, ds.count())
      }
      val s = Stats.secondsSince(t0)
      if (i < builds) ds.unpersist(blocking = true) else last = (ds, n)
      val layer = if (!args.trace) Nil else {
        val (sums, _) = tracer.listener.drain(spark.sparkContext)
        tracer.all.find(sp => sp.run == run && sp.name == "corpusgen").toSeq.flatMap { sp =>
          Layer.metrics(tracer, sp, sums.get("corpusgen"), 0.0, n.toDouble)
        }
      }
      (s, layer)
    }
    val secs = perBuild.map(_._1)
    perBuild.flatMap(_._2).groupBy(_._1).foreach { case (k, vs) =>
      rep.put(s"corpusgen.$k", Stats.median(vs.map(_._2._1)), vs.head._2._2)
    }
    rep.put("setup_s", sessionS + Stats.median(secs), "s")
    rep.put("setup.session_s", sessionS, "s")
    rep.put("setup.corpus_s", Stats.median(secs), "s")
    rep.put("input_turns", last._2.toDouble, "turns")
    last
  }

  /** Conversations in the corpus: base, eight clones per dup source, two
    * per hard-negative pair. */
  def nConvs: Long = w.spec.nBase + 8L * w.spec.nDupSources + 2L * w.spec.nHardNegPairs

  /** Block-manager memory + disk held by cached and checkpointed blocks. */
  def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}

/** The files under a directory, and its removal. */
object FileTree {
  def files(f: File): Seq[File] =
    Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(k => if (k.isDirectory) files(k) else Seq(k))

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
