package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.Bridge
import graft.SparkEntry
import graft.model.DedupConfig
import graft.operators.{IntraDup, LshJoin, Pipeline, Reassembly, Signatures, TierGate, Verification}
import graft.sources.ConversationGen

/** The one profiling entry point; every result is one JSON line on stdout.
  * Dev-only: graft.Bench stays the official harness. Modes:
  *   pipeline [nBase] [reps]    runPipelined `reps` times over CorpusSpec(nBase, 60, 400),
  *                              rep 0 cold; per rep one line per stage metric + one `tasks` line
  *   queries [planDir] [name…]  fills the pipeline memo, then one cold and two warm noop writes
  *                              per SparkEntry.queries entry over SPARK_GRAFT_SF_DIR, and a
  *                              formatted plan per query into planDir when it is non-empty
  *   plans <outDir> [nBase]     formatted plans of the pipeline-internal stages
  * SPARK_GRAFT_CPUS sets local[n] (default: all cores). */
object Profile {
  type Line = Seq[(String, Any)]

  private def json(l: Line): String = l.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v: Double) => s""""$k":""" + "%.3f".formatLocal(java.util.Locale.ROOT, v)
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  private def emit(l: Line): Line = { println(json(l)); l }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Sums the metrics of every task that ends while it is registered. */
  private class TaskTotals extends SparkListener {
    private var tasks, runMs, cpuNs, readB, writeB, spillB = 0L
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => synchronized {
        tasks += 1; runMs += m.executorRunTime; cpuNs += m.executorCpuTime
        readB += m.shuffleReadMetrics.totalBytesRead
        writeB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      })
    /** Utilisation = task time / (wall × cores). */
    def fields(wallS: Double, cores: Int): Line = synchronized(Seq(
      "tasks" -> tasks, "task_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
      "shuffle_read_mb" -> readB / 1e6, "shuffle_write_mb" -> writeB / 1e6,
      "spill_mb" -> spillB / 1e6, "util" -> runMs / 1e3 / (wallS * cores)))
  }

  def pipeline(spark: SparkSession, nBase: Long, reps: Int): Seq[Line] = {
    val corpus = ConversationGen.corpus(spark,
      ConversationGen.CorpusSpec(nBase, 60, 400)).persist()
    val nTurns = corpus.count()
    graft.Bench.sizeShuffleForCorpus(spark, nTurns): Unit
    val sc = spark.sparkContext
    val lines = (0 until reps).flatMap { rep =>
      // drain first: tasks that ended earlier must not reach these totals
      val totals = new TaskTotals
      Bridge.drainListeners(sc)
      sc.addSparkListener(totals)
      val (r, wallS) = timed(Pipeline.runPipelined(corpus, runId = s"profile$rep"))
      Bridge.drainListeners(sc)
      sc.removeSparkListener(totals)
      // a rep's checkpointed stage blocks would otherwise stay pinned and
      // spill or evict during the later reps
      Seq(r.sigs, r.candidates, r.verified, r.tiered, r.clusters).foreach(_.unpersist())
      val head = Seq("mode" -> "pipeline", "rep" -> rep)
      r.metrics.map(m => emit(head ++ Seq("stage" -> m.stage,
        "input_count" -> m.input_count, "output_count" -> m.output_count,
        "duration_ms" -> m.duration_ms))) :+
        emit(head ++ Seq("stage" -> "tasks", "n_turns" -> nTurns, "wall_s" -> wallS,
          "shuffle_partitions" -> spark.sessionState.conf.numShufflePartitions) ++
          totals.fields(wallS, sc.defaultParallelism))
    }
    corpus.unpersist()
    lines
  }

  def queries(spark: SparkSession, sfDir: String, planDir: Option[String],
              only: Set[String]): Seq[Line] = {
    // the state Bench's battery starts from: corpus materialized, shuffle
    // sized, pipeline memo filled (the flag_* queries read it)
    val n = SparkEntry.corpusFor(spark, sfDir).count()
    graft.Bench.sizeShuffleForCorpus(spark, n): Unit
    val memo = emit(Seq("mode" -> "queries", "query" -> "pipeline_memo",
      "sec" -> timed(SparkEntry.pipelineFor(spark, sfDir).clusters.count())._2))
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val runs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"profile: $name")
        def run() = timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())._2
        val (cold, warm, warm2) = (run(), run(), run())
        planDir.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"),
          fn(spark, sfDir).queryExecution.explainString(FormattedMode)))
        emit(Seq("mode" -> "queries", "query" -> name,
          "cold_s" -> cold, "warm_s" -> warm, "warm2_s" -> warm2))
      }
    spark.sparkContext.setJobDescription(null)
    memo +: runs
  }

  /** Writes one `<outDir>/<name>.txt` formatted plan per pipeline stage. */
  def plans(spark: SparkSession, outDir: String, nBase: Long): Unit = {
    val cfg = DedupConfig.balanced
    Files.createDirectories(Paths.get(outDir))
    def dump(name: String, df: DataFrame): Unit = {
      Files.writeString(Paths.get(outDir, s"$name.txt"),
        df.queryExecution.explainString(FormattedMode))
      emit(Seq("mode" -> "plans", "plan" -> name)): Unit
    }
    val corpus = ConversationGen.corpus(spark,
      ConversationGen.CorpusSpec(nBase, 60, 400)).persist()
    corpus.count(): Unit
    val sigs = Signatures.compute(Reassembly.assemble(corpus), cfg).localCheckpoint(true)
    // candidates() runs its bucket phase and verify() its pass 1 at call
    // time, each behind a checkpoint, so those fragments are dumped from
    // the exposed pre-checkpoint plans. Each dump precedes the checkpoint
    // of its Dataset, so it shows the plan before AQE re-optimises it.
    val candsQ = LshJoin.candidates(sigs, cfg)
    dump("pipeline_candidates", candsQ.toDF())
    dump("pipeline_bucket_phase",
      LshJoin.groupedMembers(LshJoin.itemsFor(sigs), cfg.bandBucketCap, None))
    val cands = candsQ.localCheckpoint(true)
    dump("pipeline_verify_pass1", Verification.pass1PlanFor(cands, sigs, cfg))
    val verQ = Verification.verify(cands, sigs, cfg)
    dump("pipeline_verify", verQ.toDF())
    val verified = verQ.localCheckpoint(true)
    val prof = IntraDup.convProfile(corpus).localCheckpoint(true)
    // the pair-count hint alone picks the tier gate's broadcast or
    // shuffled-hash shape, so this pair of dumps is that branch's plan diff
    Seq("broadcast" -> 1L, "shufflehash" -> Long.MaxValue).foreach { case (shape, hint) =>
      dump(s"pipeline_tiergate_$shape",
        TierGate(verified, cfg, Some(prof), pairCountHint = Some(hint)).toDF())
    }
    corpus.unpersist(): Unit
  }

  def main(args: Array[String]): Unit = {
    val job: SparkSession => Any = args.toList match {
      case "pipeline" :: rest =>
        pipeline(_, rest.headOption.fold(20000L)(_.toLong), rest.lift(1).fold(3)(_.toInt))
      case "queries" :: rest =>
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          sys.error("queries needs SPARK_GRAFT_SF_DIR (an sf testdata dir)"))
        queries(_, sfDir, rest.headOption.filter(_.nonEmpty), rest.drop(1).toSet)
      case "plans" :: outDir :: rest =>
        plans(_, outDir, rest.headOption.fold(2000L)(_.toLong))
      case _ => System.err.println("usage: Profile pipeline [nBase] [reps] | " +
        "queries [planDir] [name...] | plans <outDir> [nBase]"); sys.exit(2)
    }
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString))
    try job(spark) finally spark.stop()
  }
}
