package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.Turn
import graft.sources.{ConversationGen, ParquetDirProvider}
import graft.streaming.StreamingDedup

/**
 * The stream_ingest workload: conversations in a seeded order go through
 * `StreamingDedup.incrementalFingerprints` → `startIncremental` on a
 * MemoryStream in fixed-size deltas, closed loop (`addData`, then
 * `processAllAvailable`), with `compactStore` after every
 * `compactEvery`-th delta. One stream and one store per run: the cold first
 * delta, then whole periods (a compaction and `compactEvery` deltas) for the
 * measured seconds.
 */
object Stream {

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (turns, nTurns) = c.buildCorpus(3)
    graft.Bench.sizeShuffleForCorpus(spark, nTurns): Unit
    // the delta plan is part of set-up: every conversation in a seeded
    // order, except that both sides of every exact-duplicate pair land in the
    // first two deltas, which every run ingests
    val t0 = System.nanoTime()
    val byConv = turns.collect().groupBy(_.conv_id)
    val rng = new scala.util.Random(c.args.seed)
    val exact = exactPairs(c).flatMap(g => Seq(g.conv_a, g.conv_b)).toSet
    val rest = rng.shuffle(byConv.keys.toSeq.sorted.filterNot(exact))
    val window = 2 * c.w.delta - exact.size
    val order = rng.shuffle(exact.toSeq.sorted ++ rest.take(window)) ++ rest.drop(window)
    val deltas = order.grouped(c.w.delta).map(_.flatMap(id => byConv(id).sortBy(_.turn_idx))).toIndexedSeq
    c.rep.put("setup_s", c.rep.get("setup_s").get + Stats.secondsSince(t0), "s")
    turns.unpersist(): Unit

    val dir = new File(c.args.state, s"stream-${c.w.name}")
    val pre = Option(dir.list()).map(_.length).getOrElse(0)
    require(pre == 0, s"stream store $dir holds $pre entries from an earlier run")
    val provider = new ParquetDirProvider(dir.getPath, "")
    val t = c.tracer
    val run = c.runId("stream")
    // per period (one compaction, then compactEvery deltas): delta seconds,
    // compaction seconds, turns ingested; period 1 is the cold delta alone
    final case class Period(deltaS: Seq[Double], compactS: Double, turns: Long, traced: Boolean)
    val periods = mutable.ArrayBuffer[Period]()
    val perDelta = mutable.ArrayBuffer[Map[String, (Double, String)]]()
    val perCompact = mutable.ArrayBuffer[Map[String, (Double, String)]]()
    var storage = 0.0
    var next = 0
    val cg0 = Codegen.snapshot()
    val input = MemoryStream[Turn]
    val start0 = System.nanoTime()
    val q = StreamingDedup.startIncremental(
      StreamingDedup.incrementalFingerprints(input.toDS(), None, c.w.cfg),
      provider, "store", "pairs", c.w.cfg)
    val startS = Stats.secondsSince(start0)

    /** One period: a compaction (if `compact`), then `size` deltas; false
      * once an operation failed (the stream is then dead). */
    def period(traced: Boolean, size: Int = c.w.compactEvery, compact: Boolean = true): Boolean = {
      val lat = mutable.ArrayBuffer[Double]()
      var nT = 0L
      var cs = 0.0
      var ok = !compact || c.rep.op(s"compaction after delta $next") {
        val rowsIn = if (traced) provider.read(spark, "store").count() else 0L
        val c0 = System.nanoTime()
        t.layer("compact", 0, run) { _ =>
          StreamingDedup.compactStore(spark, provider, "store", "pairs", c.w.cfg)
        }
        cs = Stats.secondsSince(c0)
        if (traced) perCompact += compactLayer(c, run, provider, dir, rowsIn)
      }.isDefined
      while (ok && lat.length < size && next < deltas.length) {
        val d = deltas(next)
        next += 1
        ok = c.rep.op(s"delta $next") {
          val before = if (traced) FileTree.files(dir).length else 0
          val d0 = System.nanoTime()
          t.layer("streaming", 0, run) { _ =>
            input.addData(d)
            q.processAllAvailable()
          }
          lat += Stats.secondsSince(d0)
          nT += d.length
          storage = math.max(storage, c.storageMb())
          if (traced) perDelta += deltaLayer(c, run, q, d.length, FileTree.files(dir).length - before)
        }.isDefined
      }
      if (ok && lat.length == size) periods += Period(lat.toSeq, cs, nT, traced)
      ok
    }

    try {
      // cold: query start + the first delta, in the fresh JVM
      var alive = period(traced = false, size = 1, compact = false)
      val cg1 = Codegen.snapshot()
      c.rep.put("codegen.classes", (cg1._1 - cg0._1).toDouble, "count")
      c.rep.put("codegen.compile_ms", (cg1._2 - cg0._2) / 1e6, "ms")
      periods.headOption.foreach(p => c.rep.put("cold_op_s", startS + p.deltaS.head, "s"))
      // warm periods for the measured seconds (at least one); in the
      // traced run, untraced periods first, then traced ones
      def measure(traced: Boolean, seconds: Double): Unit = {
        val m0 = System.nanoTime()
        var n = 0
        while (alive && next < deltas.length && (n < 1 || Stats.secondsSince(m0) < seconds)) {
          alive = period(traced); n += 1
        }
        c.rep.check(!alive || n >= 1, s"stream corpus exhausted after $next deltas, before a warm period")
      }
      val warmBudget = if (c.args.trace) c.args.seconds / 2 else c.args.seconds
      measure(traced = false, warmBudget)
      if (c.args.trace) measure(traced = true, c.args.seconds - warmBudget)
    } finally q.stop()
    checks(c, provider, ingestedIds(deltas, next))
    if (c.args.trace) batchlog(c, provider)
    val storeBytes = FileTree.files(dir).map(_.length).sum.toDouble
    FileTree.delete(dir)

    val untraced = periods.filterNot(_.traced)
    val warm = untraced.drop(1)
    val lat = untraced.headOption.toSeq.flatMap(_.deltaS.drop(1)) ++ warm.flatMap(_.deltaS)
    if (warm.nonEmpty) {
      val med = Stats.median(lat)
      c.rep.put("op_s", med, "s")
      c.rep.put("stream_batch_s", med, "s")
      c.rep.put("stream_batch_max_s", lat.max, "s")
      c.rep.put("stream_batches", lat.length.toDouble, "count")
      c.rep.put("compact_s", Stats.median(warm.map(_.compactS).toSeq), "s")
      // ingest wall of the warm periods: every delta plus its compaction
      val wall = warm.map(p => p.deltaS.sum + p.compactS).sum
      c.rep.put("turns_per_s", warm.map(_.turns).sum / wall, "turns/s")
      val convs = warm.length * c.w.compactEvery * c.w.delta / wall
      c.rep.put("stream_convs_per_s", convs, "convs/s")
      c.rep.put("convs_per_s", convs, "convs/s")
      c.rep.put("stream_periods", warm.length.toDouble, "count")
      c.rep.put("storage_peak_mb", storage, "MB")
      c.rep.put("stream_store_mb", storeBytes / 1e6, "MB")
      c.rep.put("storage_mb", storeBytes / 1e6, "MB")
    }
    val traced = periods.filter(_.traced)
    if (traced.nonEmpty && warm.nonEmpty) {
      putMedians(c, perDelta.toSeq)
      putMedians(c, perCompact.toSeq)
      val tm = Stats.median(traced.flatMap(_.deltaS).toSeq)
      c.rep.put("trace.stream_batch_s", tm, "s")
      c.rep.put("trace.overhead_s", tm - c.rep.get("op_s").get, "s")
      c.rep.put("trace.overhead_ratio", tm / c.rep.get("op_s").get - 1, "ratio")
    }
    c.rep.put("ops_attempted", c.rep.opsAttempted.toDouble, "count")
    c.rep.put("ops_failed", c.rep.opsFailed.toDouble / math.max(1L, c.rep.opsAttempted), "ratio")
    c.rep.printMetricLines()
  }

  private def exactPairs(c: Ctx): Seq[graft.sources.GtPair] =
    ConversationGen.gtPairs(c.w.spec).filter(_.category == "exact_duplicate")

  private def ingestedIds(deltas: Seq[Seq[Turn]], n: Int): Set[String] =
    deltas.take(n).flatMap(_.map(_.conv_id)).toSet

  /** Canonical pairs; every exact-duplicate pair found; recall of the
    * planted pairs whose both sides were ingested. */
  private def checks(c: Ctx, provider: ParquetDirProvider, ingested: Set[String]): Unit = {
    val gt = ConversationGen.gtPairs(c.w.spec)
      .filter(g => g.should_detect && ingested(g.conv_a) && ingested(g.conv_b))
    val spark = c.spark
    val pairs = if (c.args.fault) spark.emptyDataFrame.select(lit("").as("conv_a"), lit("").as("conv_b"))
      else provider.read(spark, "pairs").select("conv_a", "conv_b")
    val bad = pairs.filter(col("conv_a") >= col("conv_b")).count()
    c.rep.check(bad == 0, s"$bad stream pairs are not canonical (conv_a < conv_b)")
    val found = pairs.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val hits = gt.count(g => found((g.conv_a, g.conv_b)) || found((g.conv_b, g.conv_a)))
    val recall = hits.toDouble / math.max(1, gt.size)
    c.rep.put("stream_recall", recall, "ratio")
    c.rep.put("stream_recall_pairs", gt.size.toDouble, "count")
    val missed = exactPairs(c).filterNot(g => found((g.conv_a, g.conv_b)) || found((g.conv_b, g.conv_a)))
    c.rep.check(missed.isEmpty, s"${missed.size} exact-duplicate pairs missing from the pairs table: " +
      missed.map(g => s"${g.conv_a}/${g.conv_b}").mkString(" "))
  }

  private def deltaLayer(c: Ctx, run: String, q: org.apache.spark.sql.streaming.StreamingQuery,
                         nTurns: Int, filesWritten: Int): Map[String, (Double, String)] = {
    val (sums, batchJobs) = c.tracer.listener.drain(c.spark.sparkContext)
    val sp = c.tracer.all.filter(s => s.run == run && s.name == "streaming").last
    val p = q.lastProgress
    val state = if (p == null || p.stateOperators.isEmpty) 0L else p.stateOperators.map(_.numRowsTotal).sum
    val addBatchMs = if (p == null) 0L else Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
    val ms = Layer.metrics(c.tracer, sp, sums.get("streaming"), nTurns.toDouble, 0.0)
      .filterNot(_._1 == "rows_out").map { case (k, v) => s"streaming.$k" -> v }
    (ms ++ Seq(
      "streaming.jobs_per_batch" -> (batchJobs.values.sum.toDouble / math.max(1, batchJobs.size), "count"),
      "streaming.files_written" -> (filesWritten.toDouble, "count"),
      "streaming.state_rows" -> (state.toDouble, "rows"),
      "streaming.add_batch_s" -> (addBatchMs / 1e3, "s"))).toMap
  }

  private def compactLayer(c: Ctx, run: String, provider: ParquetDirProvider, dir: File,
                           rowsIn: Long): Map[String, (Double, String)] = {
    val (sums, _) = c.tracer.listener.drain(c.spark.sparkContext)
    val sp = c.tracer.all.filter(s => s.run == run && s.name == "compact").last
    val rowsOut = provider.read(c.spark, "store").count()
    (Layer.metrics(c.tracer, sp, sums.get("compact"), rowsIn.toDouble, rowsOut.toDouble)
      .map { case (k, v) => s"compact.$k" -> v } :+
      ("compact.files_after" -> (FileTree.files(dir).length.toDouble, "count"))).toMap
  }

  /** Per-delta counters the engine itself ledgers in `pairs_batchlog`. */
  private def batchlog(c: Ctx, provider: ParquetDirProvider): Unit = {
    val rows = provider.read(c.spark, "pairs_batchlog")
      .select("batch_id", "n_store_files_scanned", "n_cand_ids", "n_new_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    if (rows.nonEmpty) {
      c.rep.put("streaming.files_scanned", rows.map(_._2).max.toDouble, "count")
      c.rep.put("streaming.cand_ids", Stats.median(rows.map(_._3.toDouble).toSeq), "count")
      c.rep.put("streaming.new_pairs", Stats.median(rows.map(_._4.toDouble).toSeq), "count")
      c.rep.put("streaming.rows_out", Stats.median(rows.map(_._4.toDouble).toSeq), "rows")
      Seq("n_store_files_scanned" -> rows.map(_._2), "n_cand_ids" -> rows.map(_._3),
        "n_new_pairs" -> rows.map(_._4)).foreach { case (k, xs) =>
        c.rep.series(s"streaming.$k", xs.map(_.toDouble).toSeq)
      }
    }
  }

  private def putMedians(c: Ctx, rows: Seq[Map[String, (Double, String)]]): Unit =
    rows.flatMap(_.keys).distinct.foreach { k =>
      val vs = rows.flatMap(_.get(k))
      c.rep.put(k, Stats.median(vs.map(_._1)), vs.head._2)
    }
}
