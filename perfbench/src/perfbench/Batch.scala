package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions._
import graft.model.Turn
import graft.operators._
import graft.sources.ConversationGen

/**
 * The batch workloads: `Pipeline.runPipelined` over a persisted corpus,
 * one cold run in the fresh JVM, then warm runs for the measured seconds.
 * The traced run then calls the layers one at a time in runPipelined's
 * order, and on batch_sf01 ends with a checkpointed pipeline and a resume
 * after the verified/tiered stage tables are deleted.
 */
object Batch {
  private def cnt = count(lit(1)).as("n")

  def run(c: Ctx): Unit = {
    val (turns, nTurns) = c.buildCorpus(3)
    graft.Bench.sizeShuffleForCorpus(c.spark, nTurns): Unit
    val storageAfterSetup = c.storageMb()
    val gt = ConversationGen.gtPairs(c.w.spec)

    // cold: the first pipeline in this JVM, codegen and JIT included
    val cg0 = Codegen.snapshot()
    var storageCold = 0.0
    val cold = c.rep.op("cold pipeline") {
      val (s, r) = pipeline(c, turns, "cold", None)
      val fp = fullChecks(c, r, gt, "cold pipeline")
      storageCold = c.storageMb()
      release(r)
      (s, fp)
    }
    val cg1 = Codegen.snapshot()
    c.rep.put("codegen.classes", (cg1._1 - cg0._1).toDouble, "count")
    c.rep.put("codegen.compile_ms", (cg1._2 - cg0._2) / 1e6, "ms")
    val peak = math.max(storageAfterSetup, storageCold)
    c.rep.put("storage_peak_mb", peak, "MB")
    c.rep.put("storage_mb", peak, "MB")
    val refFp = cold.map(_._2)
    cold.foreach { case (s, _) =>
      c.rep.put("cold_op_s", s, "s")
      c.rep.put("cold_pipeline_s", s, "s")
    }

    // warm: untraced runs, at least three (one in the traced run, where
    // they share the time with the traced runs and are the overhead
    // reference; one at smoke size)
    val warmBudget = if (c.args.trace) c.args.seconds / 2 else c.args.seconds
    val minWarm = if (c.args.trace || c.args.size == "smoke") 1 else 3
    val warm = loop(warmBudget, minWarm) { i =>
      c.rep.op(s"warm pipeline $i") {
        val (s, r) = pipeline(c, turns, s"warm$i", None)
        sameClusters(c, r, refFp, s"warm pipeline $i")
        release(r)
        s
      }
    }.flatten
    c.rep.series("pipeline_s", warm)
    System.err.println(s"[perfbench] warm pipeline seconds: ${warm.mkString(" ")}")
    if (warm.nonEmpty) {
      val med = Stats.median(warm)
      c.rep.put("op_s", med, "s")
      c.rep.put("pipeline_s", med, "s")
      c.rep.put("pipeline_min_s", warm.min, "s")
      c.rep.put("pipeline_max_s", warm.max, "s")
      c.rep.put("pipeline_reps", warm.length.toDouble, "count")
      c.rep.put("turns_per_s", nTurns / med, "turns/s")
      c.rep.put("convs_per_s", c.nConvs / med, "convs/s")
    }

    if (c.args.trace) {
      traced(c, turns, nTurns, refFp, c.args.seconds - warmBudget)
      if (c.w.name == "batch_sf01") checkpointAndResume(c, turns, gt, refFp)
    }

    c.rep.put("ops_attempted", c.rep.opsAttempted.toDouble, "count")
    c.rep.put("ops_failed", c.rep.opsFailed.toDouble / math.max(1L, c.rep.opsAttempted), "ratio")
    c.rep.printMetricLines()
    turns.unpersist(): Unit
  }

  /** Runs `body` until `seconds` have passed and at least `min` times. */
  def loop[T](seconds: Double, min: Int)(body: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer[T]()
    while (out.length < min || Stats.secondsSince(t0) < seconds) out += body(out.length + 1)
    out.toSeq
  }

  /** One timed pipeline run, exactly as graft.Bench times it. */
  def pipeline(c: Ctx, turns: Dataset[Turn], tag: String,
               ckpt: Option[String]): (Double, Pipeline.Result) = {
    val t0 = System.nanoTime()
    val r = Pipeline.runPipelined(turns, c.w.cfg, runId = c.runId(tag), checkpointDir = ckpt)
    r.clusters.count(): Unit
    (Stats.secondsSince(t0), r)
  }

  def release(r: Pipeline.Result): Unit =
    Seq(r.sigs, r.candidates, r.verified, r.tiered, r.clusters).foreach(_.unpersist())

  /** Order-independent fingerprint of the cluster assignment. */
  def clusterFp(clusters: Dataset[_]): Long =
    clusters.agg(coalesce(bit_xor(xxhash64(col("conv_id"), col("cluster_id"))), lit(0L)))
      .head().getLong(0)

  def sameClusters(c: Ctx, r: Pipeline.Result, ref: Option[Long], what: String): Long = {
    val fp = clusterFp(r.clusters)
    ref.foreach(x => c.rep.check(fp == x, f"$what: cluster fingerprint $fp%016x != cold run's $x%016x"))
    fp
  }

  /** Detected (tier A/B) pairs, both orientations. Under `--fault` the
    * gate sees none, which must fail it. */
  def detected(c: Ctx, tiered: Dataset[_]): Set[(String, String)] =
    if (c.args.fault) Set.empty
    else tiered.filter(col("tier").isin("A", "B")).select("conv_a", "conv_b").collect()
      .flatMap(r => Seq((r.getString(0), r.getString(1)), (r.getString(1), r.getString(0)))).toSet

  /** The correctness gate on one pipeline result; returns its cluster
    * fingerprint. */
  def fullChecks(c: Ctx, r: Pipeline.Result, gt: Seq[graft.sources.GtPair],
                 what: String): Long = {
    val det = detected(c, r.tiered)
    val pos = gt.filter(_.should_detect)
    val neg = gt.filter(_.category == "hard_negative")
    val recall = pos.count(g => det((g.conv_a, g.conv_b))).toDouble / math.max(1, pos.size)
    val fpr = neg.count(g => det((g.conv_a, g.conv_b))).toDouble / math.max(1, neg.size)
    c.rep.put("recall", recall, "ratio")
    c.rep.put("hardneg_fpr", fpr, "ratio")
    val missed = pos.filterNot(g => det((g.conv_a, g.conv_b)))
    if (missed.nonEmpty) System.err.println(s"[perfbench] $what missed: " +
      missed.map(g => s"${g.conv_a}/${g.conv_b}(${g.transform_type})").mkString(" "))
    c.rep.check(recall >= 0.99, f"$what: recall $recall%.4f < 0.99 over ${pos.size} planted pairs")
    c.rep.check(fpr <= 0.20, f"$what: hard-negative FPR $fpr%.4f > 0.20 over ${neg.size} pairs")
    val stray = r.verified.select("pair_key").except(r.candidates.select("pair_key")).count()
    c.rep.check(stray == 0, s"$what: $stray verified pair keys are not candidate keys")
    clusterFp(r.clusters)
  }

  private def dirsNamed(root: File, names: Set[String]): Seq[File] =
    Option(root.listFiles()).map(_.toSeq).getOrElse(Nil).filter(_.isDirectory).flatMap { d =>
      if (names(d.getName)) Seq(d) else dirsNamed(d, names)
    }

  /** A durable pipeline into an empty checkpoint dir, then a resume after
    * the verified/tiered stage tables are deleted (a kill after the
    * candidates stage). Both must reproduce the cold run's clusters. */
  def checkpointAndResume(c: Ctx, turns: Dataset[Turn], gt: Seq[graft.sources.GtPair],
                          refFp: Option[Long]): Unit = {
    val dir = new File(c.args.state, s"ckpt-${c.w.name}")
    def body(parent: Int): Unit = {
      val written = c.rep.op("checkpointed pipeline") {
        val pre = Option(dir.list()).map(_.length).getOrElse(0)
        c.rep.check(pre == 0, s"checkpoint dir $dir holds $pre entries: the run would resume, not write")
        if (pre == 0) {
          val (s, r) = c.tracer.layer("pipeline_ckpt.write", parent, c.runId("ckpt"),
              group = "pipeline_ckpt") { _ =>
            pipeline(c, turns, "ckpt", Some(dir.getPath))
          }
          val cached = r.metrics.map(_.stage).filter(_.endsWith(":cached"))
          c.rep.check(cached.isEmpty, s"checkpointed pipeline read stages ${cached.mkString(",")} from an earlier run")
          val fp = fullChecks(c, r, gt, "checkpointed pipeline")
          c.rep.put("ckpt_clusters", r.clusters.count().toDouble, "rows")
          refFp.foreach(x => c.rep.check(fp == x, "checkpointed pipeline: cluster fingerprint differs from the cold run"))
          release(r)
          val files = FileTree.files(dir)
          c.rep.put("ckpt_pipeline_s", s, "s")
          c.rep.put("pipeline_ckpt.files_written", files.length.toDouble, "count")
          c.rep.put("pipeline_ckpt.bytes_written", files.map(_.length).sum.toDouble, "bytes")
        }
      }
      if (written.isDefined) c.rep.op("resume") {
        val gone = dirsNamed(dir, Set("verified", "tiered", "lineage_verified", "lineage_tiered"))
        c.rep.check(gone.count(d => Set("verified", "tiered")(d.getName)) == 2,
          s"resume: expected one verified and one tiered stage table, found ${gone.map(_.getName)}")
        gone.foreach(FileTree.delete)
        val (s, r) = c.tracer.layer("pipeline_ckpt.resume", parent, c.runId("ckpt"),
            group = "pipeline_ckpt") { _ =>
          pipeline(c, turns, "resume", Some(dir.getPath))
        }
        val stages = r.metrics.map(_.stage).toSet
        c.rep.check(Set("signatures:cached", "candidates:cached", "verified", "tiered").subsetOf(stages),
          s"resume: expected sigs/candidates read back and verified/tiered recomputed, got ${stages.mkString(",")}")
        val fp = fullChecks(c, r, gt, "resumed pipeline")
        refFp.foreach(x => c.rep.check(fp == x, "resumed pipeline: cluster fingerprint differs from the cold run"))
        release(r)
        c.rep.put("resume_s", s, "s")
      }
    }
    val run = c.runId("ckpt")
    try {
      c.tracer.span("pipeline_ckpt", 0, run)(body)
      if (c.args.trace) {
        val (sums, _) = c.tracer.listener.drain(c.spark.sparkContext)
        val spans = c.tracer.all.filter(_.run == run)
        spans.find(_.name == "pipeline_ckpt").foreach { s =>
          val nTurns = c.rep.get("input_turns").getOrElse(0.0)
          Layer.put(c.rep, "pipeline_ckpt", Layer.metrics(c.tracer, s, sums.get("pipeline_ckpt"),
            nTurns, c.rep.get("ckpt_clusters").getOrElse(0.0)))
        }
        Seq("write", "resume").foreach { k =>
          spans.find(_.name == s"pipeline_ckpt.$k").foreach(s => c.rep.put(s"pipeline_ckpt.${k}_s", s.seconds, "s"))
        }
      }
    } finally FileTree.delete(dir)
  }

  /** Traced runs: each layer called on its own, under its own job group,
    * output checkpointed eagerly as runPipelined's stageCk does. */
  def traced(c: Ctx, turns: Dataset[Turn], nTurns: Long, refFp: Option[Long],
             seconds: Double): Unit = {
    val perRep = loop(seconds, 1)(i => c.rep.op(s"traced pipeline $i")(tracedRep(c, turns, nTurns, refFp, i))).flatten
    if (perRep.nonEmpty) {
      val keys = perRep.flatMap(_.keys).distinct
      keys.foreach { k =>
        val vs = perRep.flatMap(_.get(k))
        c.rep.put(k, Stats.median(vs.map(_._1)), vs.head._2)
      }
      c.rep.get("trace.pipeline_s").zip(c.rep.get("pipeline_s")).foreach { case (t, u) =>
        c.rep.put("trace.overhead_s", t - u, "s")
        c.rep.put("trace.overhead_ratio", (t - u) / u, "ratio")
      }
    }
  }

  private def tracedRep(c: Ctx, turns: Dataset[Turn], nTurns: Long, refFp: Option[Long],
                        i: Int): Map[String, (Double, String)] = {
    val t = c.tracer
    val run = c.runId(s"traced$i")
    val oSig, oCand, oBuck, oVer, oProf, oTier = Observation()
    def n(o: Observation) = o.get("n").asInstanceOf[Long]
    var prof: DataFrame = null
    var profErr: Throwable = null
    var sigs: Dataset[graft.model.DocSig] = null
    var cands: Dataset[graft.model.CandidatePair] = null
    var ver: Dataset[graft.model.VerifiedPair] = null
    var tiered: Dataset[graft.model.TieredPair] = null
    var clusters: Dataset[graft.model.ClusterRow] = null
    var nClusters = 0L
    val t0 = System.nanoTime()
    t.span("pipeline", 0, run) { pid =>
      // the T2 profile runs concurrently with the first stages, as in runPipelined
      val th = new Thread(() =>
        try t.layer("intradup_profile", pid, run, concurrent = true) { _ =>
          prof = IntraDup.convProfile(turns).observe(oProf, cnt).localCheckpoint(true)
        } catch { case e: Throwable => profErr = e })
      th.start()
      sigs = t.layer("signatures", pid, run) { _ =>
        Signatures.compute(Reassembly.assemble(turns, c.w.cfg.maskToolPayloads), c.w.cfg)
          .observe(oSig, cnt).localCheckpoint(true)
      }
      cands = t.layer("lshjoin", pid, run) { _ =>
        LshJoin.candidates(sigs, c.w.cfg, Some(oBuck)).observe(oCand, cnt).localCheckpoint(true)
      }
      ver = t.layer("verification", pid, run) { _ =>
        Verification.verify(cands, sigs, c.w.cfg).observe(oVer, cnt).localCheckpoint(true)
      }
      t.span("wait_profile", pid, run)(_ => th.join())
      if (profErr != null) throw profErr
      tiered = t.layer("tiergate", pid, run) { _ =>
        TierGate(ver, c.w.cfg, Some(prof), pairCountHint = Some(n(oVer)))
          .observe(oTier, cnt).localCheckpoint(true)
      }
      clusters = t.layer("cc", pid, run) { _ =>
        val edges = tiered.filter(col("tier").isin("A", "B")).select("conv_a", "conv_b")
        val cl = ConnectedComponents.cluster(edges, c.w.cfg.ccMaxIters, edgeCountHint = Some(n(oTier)))
        // counted twice, as runPipelined does and then its caller
        cl.count(): Unit
        nClusters = cl.count()
        cl
      }
    }
    val wall = Stats.secondsSince(t0)
    val (sums, _) = t.listener.drain(c.spark.sparkContext)
    sameClusters(c, Pipeline.Result("", sigs, cands, ver, tiered, clusters, Nil), refFp, s"traced pipeline $i")
    val nAb = tiered.filter(col("tier").isin("A", "B")).count()
    val spans = t.all.filter(_.run == run)
    def sp(name: String) = spans.find(_.name == name).get
    val rows = Map(
      "intradup_profile" -> (nTurns, n(oProf)), "signatures" -> (nTurns, n(oSig)),
      "lshjoin" -> (n(oSig), n(oCand)), "verification" -> (n(oCand), n(oVer)),
      "tiergate" -> (n(oVer), n(oTier)), "cc" -> (nAb, nClusters))
    val out = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    rows.foreach { case (layer, (in, o)) =>
      Layer.metrics(t, sp(layer), sums.get(layer), in.toDouble, o.toDouble).foreach { case (k, v) =>
        out(s"$layer.$k") = v
      }
    }
    val buck = oBuck.get
    Seq("total", "paired", "salted").foreach { k =>
      out(s"lshjoin.buckets_$k") = (buck(s"${k}_buckets").asInstanceOf[Long].toDouble, "count")
    }
    out("verification.pass_ratio") = (n(oVer).toDouble / math.max(1L, n(oCand)), "ratio")
    out("tiergate.ab_share") = (nAb.toDouble / math.max(1L, n(oVer)), "ratio")
    out("cc.jobs") = (sums.get("cc").map(_.jobs).getOrElse(0L).toDouble, "count")
    out("trace.pipeline_s") = (wall, "s")
    out("pipeline.self_s") = (t.selfSeconds(sp("pipeline")), "s")
    out("wait_profile.wall_s") = (sp("wait_profile").seconds, "s")
    Seq(sigs, cands, ver, tiered, clusters).foreach(_.unpersist())
    prof.unpersist(): Unit
    out.toMap
  }
}

/** The metrics every layer reports. */
object Layer {
  def metrics(t: Tracer, span: Span, s: Option[LayerSums], rowsIn: Double,
              rowsOut: Double): Seq[(String, (Double, String))] = {
    val z = s.getOrElse(new LayerSums)
    Seq("wall_s" -> (span.seconds, "s"), "self_s" -> (t.selfSeconds(span), "s"),
      "task_s" -> (z.runMs / 1e3, "s"), "cpu_s" -> (z.cpuNs / 1e9, "s"),
      "gc_s" -> (z.gcMs / 1e3, "s"), "shuffle_read_mb" -> (z.shuffleReadBytes / 1e6, "MB"),
      "shuffle_write_mb" -> (z.shuffleWriteBytes / 1e6, "MB"),
      "spill_mb" -> (z.spillBytes / 1e6, "MB"), "tasks" -> (z.tasks.toDouble, "count"),
      "task_skew" -> (z.skew, "ratio"), "rows_in" -> (rowsIn, "rows"), "rows_out" -> (rowsOut, "rows"))
  }

  def put(rep: Report, layer: String, ms: Seq[(String, (Double, String))]): Unit =
    ms.foreach { case (k, (v, u)) => rep.put(s"$layer.$k", v, u) }
}
