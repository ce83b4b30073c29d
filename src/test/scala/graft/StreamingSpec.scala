package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.model.Turn
import graft.streaming.StreamingDedup

/** Structured Streaming path: incremental per-conversation fingerprints via
  * mapGroupsWithState over a MemoryStream, two micro-batches. */
class StreamingSpec extends SparkSpec {

  private def turn(c: String, i: Int, text: String) =
    Turn(c, i, if (i % 2 == 0) "user" else "assistant", text, null,
      new Timestamp(1700000000000L + i * 1000L))

  test("incremental fingerprints update across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val result = StreamingDedup.incrementalFingerprints(input.toDS())
    val q = result.writeStream
      .format("memory").queryName("fp_sink")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(turn("c1", 0, "hello world foo bar"), turn("c1", 1, "more text here"))
      q.processAllAvailable()
      val after1 = spark.sql("select * from fp_sink").as[StreamingDedup.ConvFingerprint]
        .collect().filter(_.conv_id == "c1")
      assert(after1.exists(_.n_turns == 2))

      input.addData(turn("c1", 2, "third turn arrives later"), turn("c2", 0, "fresh conv"))
      q.processAllAvailable()
      val after2 = spark.sql("select * from fp_sink").as[StreamingDedup.ConvFingerprint]
        .collect()
      assert(after2.exists(f => f.conv_id == "c1" && f.n_turns == 3))
      assert(after2.exists(f => f.conv_id == "c2" && f.n_turns == 1))
      // simhash evolves as content accrues
      val c1fps = after2.filter(_.conv_id == "c1").map(_.simhash).distinct
      assert(c1fps.length >= 1)
    } finally q.stop()
  }

  test("streaming fingerprint equals batch fingerprint for the same turns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val turns = Seq(turn("cx", 0, "alpha beta gamma"), turn("cx", 1, "delta epsilon"))
    // batch path: one group, single fold
    val batchFp = StreamingDedup.incrementalFingerprints(spark.createDataset(turns))
      .collect().head
    // streaming path: same turns split across two batches
    val input = MemoryStream[Turn]
    val q = StreamingDedup.incrementalFingerprints(input.toDS())
      .writeStream.format("memory").queryName("fp_eq")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(turns.head); q.processAllAvailable()
      input.addData(turns(1)); q.processAllAvailable()
      val streamed = spark.sql("select * from fp_eq")
        .as[StreamingDedup.ConvFingerprint].collect()
        .filter(f => f.conv_id == "cx" && f.n_turns == 2)
      assert(streamed.nonEmpty)
      assert(streamed.last.simhash == batchFp.simhash)
      assert(streamed.last.content_hash == batchFp.content_hash)
    } finally q.stop()
  }

  test("streaming minhash/simhash are bit-equal to the batch signature kernel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.DedupConfig
    def ts(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    val longText = (0 until 30).map(i => graft.sources.ConversationGen.word(i * 13 % 700)).mkString(" ")
    val turnsP = Seq(
      Turn("cp", 0, "system", "alpha beta gamma delta epsilon zeta", null, ts(0)),
      Turn("cp", 1, "user", longText, null, ts(1)),
      Turn("cp", 2, "tool", "this payload body must be MASKED away", "tool_7", ts(2)),
      Turn("cp", 3, "assistant", "eta theta iota kappa lambda", null, ts(3)))
    val turnsS = Seq(Turn("cs", 0, "user", "tiny doc", null, ts(0))) // < k tokens
    val batch = operators.Signatures.compute(
        operators.Reassembly.assemble(spark.createDataset(turnsP ++ turnsS)),
        DedupConfig.balanced)
      .collect().map(s => s.conv_id -> s).toMap
    // streaming: same turns split across two in-order micro-batches — the
    // tailHashes state must produce the turn-boundary-spanning shingles
    val input = MemoryStream[Turn]
    val q = StreamingDedup.incrementalFingerprints(input.toDS())
      .writeStream.format("memory").queryName("fp_mh")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(turnsP(0), turnsP(1), turnsS.head); q.processAllAvailable()
      input.addData(turnsP(2), turnsP(3)); q.processAllAvailable()
      val fps = spark.sql("select * from fp_mh").as[StreamingDedup.ConvFingerprint].collect()
      val fp = fps.filter(f => f.conv_id == "cp" && f.n_turns == 4).head
      assert(fp.simhash == batch("cp").simhash, "simhash must match the batch kernel")
      assert(fp.minhash.sameElements(batch("cp").minhash),
        "incremental minhash must be bit-equal to the batch kernel")
      val fpS = fps.filter(_.conv_id == "cs").head
      assert(fpS.minhash.sameElements(batch("cs").minhash),
        "short-doc (< k tokens) whole-text shingle must match the batch kernel")
    } finally q.stop()
  }

  test("streaming honors maskToolPayloads=false with batch parity (the knob reaches the fold)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.DedupConfig
    def ts(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    val body = (0 until 25).map(i => graft.sources.ConversationGen.word(i * 17 % 700)).mkString(" ")
    val turns = Seq(
      Turn("cm", 0, "user", "alpha beta gamma delta epsilon", null, ts(0)),
      Turn("cm", 1, "tool", body, "tool_9", ts(1)),
      Turn("cm", 2, "assistant", "zeta eta theta iota kappa", null, ts(2)))
    val cfgOff = DedupConfig.balanced.copy(maskToolPayloads = false)
    val batchOff = operators.Signatures.compute(
        operators.Reassembly.assemble(spark.createDataset(turns),
          maskToolPayloads = false), cfgOff)
      .collect().head
    val batchOn = operators.Signatures.compute(
        operators.Reassembly.assemble(spark.createDataset(turns)),
        DedupConfig.balanced).collect().head
    val input = MemoryStream[Turn]
    val q = StreamingDedup.incrementalFingerprints(input.toDS(), cfg = cfgOff)
      .writeStream.format("memory").queryName("fp_mask")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(turns: _*); q.processAllAvailable()
      val fp = spark.sql("select * from fp_mask")
        .as[StreamingDedup.ConvFingerprint].collect()
        .filter(f => f.conv_id == "cm" && f.n_turns == 3).head
      assert(fp.minhash.sameElements(batchOff.minhash),
        "mask-off streaming minhash must be bit-equal to the mask-off batch kernel")
      assert(fp.simhash == batchOff.simhash)
      // and the knob is load-bearing: the unmasked signature differs from
      // the masked one for a payload-bearing conversation
      assert(!fp.minhash.sameElements(batchOn.minhash),
        "mask-off must actually see the tool payload")
    } finally q.stop()
  }

  test("a dup arriving in a later micro-batch pairs against the earlier corpus (LSH handoff)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_")
    val provider = new graft.sources.ParquetDirProvider(dir, "")
    val base = (0 until 40).map(i => graft.sources.ConversationGen.word(i * 7 % 800)).mkString(" ")
    val other = (0 until 40).map(i => graft.sources.ConversationGen.word(2000 + i * 11 % 800)).mkString(" ")
    val input = MemoryStream[Turn]
    val q = StreamingDedup.startIncremental(
      StreamingDedup.incrementalFingerprints(input.toDS()),
      provider, "fp_store", "dup_pairs")
    try {
      // batch 1: the corpus — two distinct conversations
      input.addData(turn("c1", 0, base), turn("c1", 1, other.take(60)),
        turn("c2", 0, other))
      q.processAllAvailable()
      assert(provider.read(spark, "fp_store").count() == 2)
      // batch 2: c3, a duplicate of c1, arrives LATER — must pair against
      // the earlier corpus through the chunk band join
      input.addData(turn("c3", 0, base), turn("c3", 1, other.take(60)))
      q.processAllAvailable()
      val pairs = provider.read(spark, "dup_pairs")
        .select($"conv_a", $"conv_b", $"hamming").as[(String, String, Long)].collect()
      assert(pairs.exists(p => p._1 == "c1" && p._2 == "c3" && p._3 <= 3),
        s"expected (c1,c3) dup pair, got ${pairs.toSeq}")
      assert(!pairs.exists(p => Set(p._1, p._2) == Set("c1", "c2")),
        "distinct conversations must not pair")
      assert(provider.read(spark, "fp_store").count() == 3)
    } finally q.stop()
  }

  test("incremental store: per-batch work is O(|delta|) — append-only band store, no corpus recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.DedupConfig
    val dir = tempDir("graft_inc_")
    val provider = new graft.sources.ParquetDirProvider(dir, "")
    val cfg = DedupConfig.balanced
    val keysPerConv = cfg.bands + 4 // LSH bands + 4 simhash chunks
    def text(seed: Int) =
      (0 until 40).map(i => graft.sources.ConversationGen.word(seed + i * 7 % 800)).mkString(" ")
    // walks bucket=N partition subdirs (the band store's pruning layout)
    def partFiles(tbl: String): Map[String, Long] = {
      def walk(d: java.io.File): Array[java.io.File] = {
        val fs = Option(d.listFiles()).getOrElse(Array.empty)
        fs.filter(_.isFile) ++ fs.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(s"$dir/$tbl"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getParentFile.getName}/${f.getName}" -> f.length()).toMap
    }
    val input = MemoryStream[Turn]
    val q = StreamingDedup.startIncremental(
      StreamingDedup.incrementalFingerprints(input.toDS()),
      provider, "fp_store", "dup_pairs", cfg)
    try {
      // batch 1: corpus seed — three distinct conversations
      input.addData(turn("c1", 0, text(0)), turn("c2", 0, text(5000)),
        turn("c3", 0, text(9000)))
      q.processAllAvailable()
      val files1 = partFiles("fp_store_bands")
      // batch 2: one NEW conv + an UPDATE to c2 (stale band rows exercised)
      input.addData(turn("c4", 0, text(13000)), turn("c2", 1, "extra turn arrives"))
      q.processAllAvailable()
      val files2 = partFiles("fp_store_bands")
      // batch 3: c5 duplicates c1 (batch-1 corpus) — must pair via the store
      input.addData(turn("c5", 0, text(0)))
      q.processAllAvailable()
      val files3 = partFiles("fp_store_bands")

      // per-batch banding work is |delta| × keysPerConv — NOT corpus-sized
      val log = provider.read(spark, "dup_pairs_batchlog")
        .orderBy($"batch_id")
        .select($"n_delta", $"n_delta_band_rows").as[(Long, Long)].collect()
      assert(log.length == 3, s"expected 3 batch rows, got ${log.length}")
      assert(log.map(_._1).toSeq == Seq(3L, 2L, 1L),
        s"delta sizes per batch: ${log.map(_._1).toSeq}")
      log.foreach { case (nDelta, nBands) =>
        assert(nBands == nDelta * keysPerConv,
          s"band rows computed per batch must be |delta|*$keysPerConv, got $nBands for $nDelta convs")
      }
      // the band store grows append-only: every earlier part file survives
      // each batch unchanged, and rows = cumulative sum of per-batch deltas
      files1.foreach { case (n, sz) =>
        assert(files2.get(n).contains(sz) && files3.get(n).contains(sz),
          s"batch-1 band file $n was rewritten") }
      files2.foreach { case (n, sz) =>
        assert(files3.get(n).contains(sz), s"batch-2 band file $n was rewritten") }
      assert(provider.read(spark, "fp_store_bands").count() == log.map(_._2).sum)

      // handoff recall across the store: the batch-3 dup pairs against the
      // batch-1 corpus, and no distinct conversations pair
      val pairs = provider.read(spark, "dup_pairs")
        .select($"conv_a", $"conv_b").as[(String, String)].collect().toSeq
      assert(pairs.contains(("c1", "c5")), s"expected (c1,c5), got $pairs")
      assert(pairs == pairs.distinct, s"pairs table must stay unique: $pairs")
      assert(!pairs.exists(p => Set(p._1, p._2) == Set("c1", "c2")))
      // fingerprint log: latest row per conv reflects the c2 update
      val c2 = provider.read(spark, "fp_store").filter($"conv_id" === "c2")
        .orderBy($"n_turns".desc).select($"n_turns").as[Int].collect()
      assert(c2.toSeq == Seq(2, 1), "fp log keeps both generations, latest first by n_turns")

      // offline compaction: log collapses to latest-per-conv, band table is
      // rebuilt from exactly those fingerprints, pairs stay unique — and the
      // handoff keeps working against the compacted store
      StreamingDedup.compactStore(spark, provider, "fp_store", "dup_pairs", cfg)
      val nConvs = 5L // c1..c5
      assert(provider.read(spark, "fp_store").count() == nConvs)
      assert(provider.read(spark, "fp_store")
        .filter($"conv_id" === "c2").select($"n_turns").as[Int].head() == 2)
      assert(provider.read(spark, "fp_store_bands").count() == nConvs * keysPerConv)
      input.addData(turn("c6", 0, text(5000))) // dup of c2's base turn 0...
      q.processAllAvailable()
      val pairs2 = provider.read(spark, "dup_pairs")
        .select($"conv_a", $"conv_b").as[(String, String)].collect().toSeq
      assert(pairs2.contains(("c2", "c6")),
        s"handoff must keep pairing against the compacted store: $pairs2")
    } finally q.stop()
  }

  test("band-store bucket pruning: per-batch scanned files stay bounded as the store grows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.DedupConfig
    val dir = tempDir("graft_prune_")
    val provider = new graft.sources.ParquetDirProvider(dir, "")
    val cfg = DedupConfig.balanced
    val storeBuckets = 256
    val keysPerConv = cfg.bands + 4
    def text(seed: Int) =
      (0 until 40).map(i => graft.sources.ConversationGen.word(seed + i * 7 % 800)).mkString(" ")
    def totalBandFiles: Long = {
      def walk(d: java.io.File): Array[java.io.File] = {
        val fs = Option(d.listFiles()).getOrElse(Array.empty)
        fs.filter(_.isFile) ++ fs.filter(_.isDirectory).flatMap(walk)
      }
      walk(new java.io.File(s"$dir/fp_store_bands"))
        .count(_.getName.endsWith(".parquet"))
    }
    def scannedFiles(batchIdx: Int): Long =
      provider.read(spark, "dup_pairs_batchlog").orderBy($"batch_id")
        .select($"n_store_files_scanned").as[Long].collect()(batchIdx)
    val input = MemoryStream[Turn]
    val q = StreamingDedup.startIncremental(
      StreamingDedup.incrementalFingerprints(input.toDS()),
      provider, "fp_store", "dup_pairs", cfg, 3, storeBuckets)
    try {
      // phase A: grow the store (2 batches × 4 distinct convs), then compact
      input.addData((0 until 4).map(i => turn(s"a$i", 0, text(100 + 997 * i))): _*)
      q.processAllAvailable()
      input.addData((4 until 8).map(i => turn(s"a$i", 0, text(100 + 997 * i))): _*)
      q.processAllAvailable()
      StreamingDedup.compactStore(spark, provider, "fp_store", "dup_pairs",
        cfg, storeBuckets)
      val rows1 = provider.read(spark, "fp_store_bands").count()
      // probe 1: a single new conv — its pruned scan may open at most one
      // file per band key (compaction left ≤1 file per bucket)
      input.addData(turn("p1", 0, text(50000)))
      q.processAllAvailable()
      val nFiles1 = scannedFiles(2)
      assert(nFiles1 > 0 && nFiles1 <= keysPerConv,
        s"probe-1 scan must be bounded by $keysPerConv probed buckets, got $nFiles1")

      // phase B: DOUBLE the store (2 more batches × 4 convs), compact again
      input.addData((0 until 4).map(i => turn(s"b$i", 0, text(30000 + 997 * i))): _*)
      q.processAllAvailable()
      input.addData((4 until 8).map(i => turn(s"b$i", 0, text(30000 + 997 * i))): _*)
      q.processAllAvailable()
      StreamingDedup.compactStore(spark, provider, "fp_store", "dup_pairs",
        cfg, storeBuckets)
      val rows2 = provider.read(spark, "fp_store_bands").count()
      assert(rows2 >= 2 * rows1 - keysPerConv, s"store must have ~doubled: $rows1 -> $rows2")
      // probe 2: same-sized delta against the ~2x store — scanned files stay
      // within the SAME per-delta bound (bounded, not proportional to store)
      input.addData(turn("p2", 0, text(60000)))
      q.processAllAvailable()
      val nFiles2 = scannedFiles(5)
      assert(nFiles2 > 0 && nFiles2 <= keysPerConv,
        s"probe-2 scan must stay bounded by $keysPerConv while the store doubled, got $nFiles2")
      // pruning engaged: the store holds far more part files than one probe opens
      val total = totalBandFiles
      assert(nFiles2 * 2 < total,
        s"pruned scan ($nFiles2 files) must open well under the store's $total files")

      // recall through the pruned path: a dup of a phase-A conv still pairs
      input.addData(turn("p3", 0, text(100))) // dup of a0
      q.processAllAvailable()
      val pairs = provider.read(spark, "dup_pairs")
        .select($"conv_a", $"conv_b").as[(String, String)].collect().toSeq
      assert(pairs.contains(("a0", "p3")),
        s"dup across the pruned store must still pair: $pairs")
    } finally q.stop()
  }

  test("band store: one part file per touched bucket per batch and per compaction; scanned-file count matches the filesystem") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.DedupConfig
    val cfg = DedupConfig.balanced
    def text(seed: Int) =
      (0 until 40).map(i => graft.sources.ConversationGen.word(seed + i * 7 % 800)).mkString(" ")
    // parquet part files of the band table, per bucket=N dir
    def bucketFiles(dir: String): Map[Int, Set[String]] =
      Option(new java.io.File(s"$dir/fp_store_bands").listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
        .map(d => d.getName.stripPrefix("bucket=").toInt ->
          d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    // one applied batch of fresh convs: at most one new file per bucket dir,
    // and the logged scan count equals the parquet files that the batch's
    // buckets held before it ran; returns that count
    def checkBatch(provider: graft.sources.ParquetDirProvider, dir: String,
                   before: Map[Int, Set[String]], convs: Seq[String], batchId: Long): Long = {
      bucketFiles(dir).foreach { case (b, fs) =>
        val added = fs -- before.getOrElse(b, Set.empty)
        assert(added.size <= 1, s"batch $batchId added ${added.size} files to bucket=$b")
      }
      val probed = provider.read(spark, "fp_store_bands")
        .filter($"conv_id".isin(convs: _*)).select($"bucket").distinct().as[Int].collect()
      val expected = probed.map(b => before.getOrElse(b, Set.empty).size.toLong).sum
      val logged = provider.read(spark, "dup_pairs_batchlog").filter($"batch_id" === batchId)
        .select($"n_store_files_scanned").as[Long].collect().toSeq
      assert(logged == Seq(expected),
        s"batch $batchId logged $logged scanned files, filesystem says $expected")
      expected
    }
    def checkCompacted(provider: graft.sources.ParquetDirProvider, dir: String): Unit = {
      val files = bucketFiles(dir)
      val nonEmpty = provider.read(spark, "fp_store_bands").select($"bucket").distinct()
        .as[Int].collect().toSet
      assert(files.keySet == nonEmpty, "every non-empty bucket has a dir, and only those")
      files.foreach { case (b, fs) =>
        assert(fs.size == 1, s"compaction left ${fs.size} files in bucket=$b") }
    }
    val batches = Seq(0 until 6, 6 until 12, 12 until 18).map(_.map(i => s"s$i"))
    def turns(ids: Seq[String]) =
      ids.map(id => turn(id, 0, text(1000 * id.drop(1).toInt + 17)))

    // through a running stream (its micro-batches run with AQE off)
    val sDir = tempDir("graft_onefile_s_")
    val sProv = new graft.sources.ParquetDirProvider(sDir, "")
    val input = MemoryStream[Turn]
    val q = StreamingDedup.startIncremental(
      StreamingDedup.incrementalFingerprints(input.toDS()),
      sProv, "fp_store", "dup_pairs", cfg)
    val streamScanned = try {
      val scanned = batches.zipWithIndex.map { case (ids, i) =>
        val before = bucketFiles(sDir)
        input.addData(turns(ids): _*)
        q.processAllAvailable()
        checkBatch(sProv, sDir, before, ids, i.toLong)
      }
      StreamingDedup.compactStore(spark, sProv, "fp_store", "dup_pairs", cfg)
      checkCompacted(sProv, sDir)
      val before = bucketFiles(sDir)
      input.addData(turns(Seq("s18", "s19")): _*)
      q.processAllAvailable()
      scanned :+ checkBatch(sProv, sDir, before, Seq("s18", "s19"), batches.length.toLong)
    } finally q.stop()
    assert(streamScanned.count(_ > 0) >= 3, s"scans must open files: $streamScanned")

    // through direct applyBatch calls on the test session (AQE on)
    val dDir = tempDir("graft_onefile_d_")
    val dProv = new graft.sources.ParquetDirProvider(dDir, "")
    val directScanned = batches.zipWithIndex.map { case (ids, i) =>
      val before = bucketFiles(dDir)
      StreamingDedup.applyBatch(
        StreamingDedup.incrementalFingerprints(spark.createDataset(turns(ids))).toDF(),
        i.toLong, dProv, "fp_store", "dup_pairs", cfg, 3, 256)
      checkBatch(dProv, dDir, before, ids, i.toLong)
    }
    assert(directScanned.count(_ > 0) >= 2, s"scans must open files: $directScanned")
    // the batches above find no candidates (AQE turns the plan above the
    // empty stage into an empty relation); a dup of s0 covers the other case
    val before = bucketFiles(dDir)
    StreamingDedup.applyBatch(
      StreamingDedup.incrementalFingerprints(
        spark.createDataset(Seq(turn("d0", 0, text(17))))).toDF(),
      batches.length.toLong, dProv, "fp_store", "dup_pairs", cfg, 3, 256)
    assert(checkBatch(dProv, dDir, before, Seq("d0"), batches.length.toLong) > 0)
    assert(dProv.read(spark, "dup_pairs").select($"conv_a", $"conv_b")
      .as[(String, String)].collect().contains(("d0", "s0")))
    StreamingDedup.compactStore(spark, dProv, "fp_store", "dup_pairs", cfg)
    checkCompacted(dProv, dDir)
  }

  test("bucket-layout guard: mismatched storeBuckets fails loudly, compaction re-layouts") {
    val dir = tempDir("graft_meta_")
    val provider = new graft.sources.ParquetDirProvider(dir, "")
    // first start persists the modulus; a same-value restart is fine
    StreamingDedup.requireBucketLayout(spark, provider, "fp_store_bands", 256)
    StreamingDedup.requireBucketLayout(spark, provider, "fp_store_bands", 256)
    // a restart with a different modulus would silently prune away true
    // matches — it must throw instead
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.requireBucketLayout(spark, provider, "fp_store_bands", 128)
    }
    assert(e.getMessage.contains("storeBuckets=256"))
    // compactStore is the sanctioned re-layout: it rewrites the store under
    // the new modulus and moves the meta with it
    import spark.implicits._
    provider.write(Seq(StreamingDedup.ConvFingerprint("c1", 2, 1L, 5L,
      Array.fill(128)(1L), new java.sql.Timestamp(0L), finalized = false))
      .toDS().toDF(), "fp_store")
    StreamingDedup.compactStore(spark, provider, "fp_store", "dup_pairs",
      graft.model.DedupConfig.balanced, storeBuckets = 128)
    StreamingDedup.requireBucketLayout(spark, provider, "fp_store_bands", 128)
  }

  test("band store at the default bucket count is listed on the driver; above the listing threshold by a job") {
    import spark.implicits._
    import graft.model.DedupConfig
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    val cfg = DedupConfig.balanced
    def text(seed: Int) =
      (0 until 40).map(i => graft.sources.ConversationGen.word(seed + i * 7 % 800)).mkString(" ")
    // parallel partition-listing jobs run by two direct batches of six
    // convs each (408 band keys per batch), the second against the store
    // the first created
    def listingJobs(storeBuckets: Int): Long = {
      val provider = new graft.sources.ParquetDirProvider(tempDir("graft_listing_"), "")
      val before = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
      Seq(0 until 6, 6 until 12).zipWithIndex.foreach { case (ids, b) =>
        StreamingDedup.applyBatch(
          StreamingDedup.incrementalFingerprints(spark.createDataset(
            ids.map(i => turn(s"l$i", 0, text(1000 * i + 17))))).toDF(),
          b.toLong, provider, "fp_store", "dup_pairs", cfg, 3, storeBuckets)
      }
      HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - before
    }
    val atDefault = listingJobs(StreamingDedup.DefaultStoreBuckets)
    assert(atDefault == 0,
      s"a ${StreamingDedup.DefaultStoreBuckets}-bucket store ran $atDefault parallel listing jobs")
    assert(listingJobs(256) > 0, "a 256-bucket store must be listed by a Spark job")
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    assert(StreamingDedup.DefaultStoreBuckets <= threshold,
      s"DefaultStoreBuckets ${StreamingDedup.DefaultStoreBuckets} > listing threshold $threshold")
  }

  test("re-delivered micro-batch is a no-op: the batchlog row is the commit marker (ADVICE r04)") {
    import spark.implicits._
    import graft.model.DedupConfig
    val dir = tempDir("graft_idem_")
    val provider = new graft.sources.ParquetDirProvider(dir, "")
    val cfg = DedupConfig.balanced
    def text(seed: Int) =
      (0 until 40).map(i => graft.sources.ConversationGen.word(seed + i * 7 % 800)).mkString(" ")
    def fps(rows: (String, Int, String)*) =
      StreamingDedup.incrementalFingerprints(
        spark.createDataset(rows.map { case (c, i, t) => turn(c, i, t) })).toDF()
    def counts() = Seq("fp_store", "fp_store_bands", "dup_pairs", "dup_pairs_batchlog")
      .map(t => t -> (if (provider.exists(spark, t)) provider.read(spark, t).count() else 0L))
      .toMap
    val batch1 = fps(("c1", 0, text(0)), ("c2", 0, text(2000)))
    StreamingDedup.applyBatch(batch1, 0L, provider, "fp_store", "dup_pairs", cfg, 3, 256)
    val after1 = counts()
    assert(after1("dup_pairs_batchlog") == 1 && after1("fp_store") == 2)
    // foreachBatch re-delivery of the SAME batch id: nothing may grow —
    // fingerprints, band rows, pairs, and the work ledger all stay put
    StreamingDedup.applyBatch(batch1, 0L, provider, "fp_store", "dup_pairs", cfg, 3, 256)
    assert(counts() == after1, s"re-delivered batch inflated a store: ${counts()} vs $after1")
    // a NEW batch id (c3 = dup of c1) still applies and pairs normally
    StreamingDedup.applyBatch(fps(("c3", 0, text(0))), 1L,
      provider, "fp_store", "dup_pairs", cfg, 3, 256)
    val after2 = counts()
    assert(after2("dup_pairs_batchlog") == 2 && after2("fp_store") == 3)
    val pairs = provider.read(spark, "dup_pairs")
      .select($"conv_a", $"conv_b").as[(String, String)].collect()
    assert(pairs.contains(("c1", "c3")), s"got ${pairs.toSeq}")
    // RESTART semantics: a stream restarted without a durable checkpoint
    // delivers NEW data as batchId 0 again — the commit marker is
    // (batch_id, delta content fingerprint), so this must APPLY, not be
    // silently skipped as "already applied" (which would permanently drop
    // the first batches of every restart)
    StreamingDedup.applyBatch(fps(("c4", 0, text(6000))), 0L,
      provider, "fp_store", "dup_pairs", cfg, 3, 256)
    val after3 = counts()
    assert(after3("fp_store") == 4 && after3("dup_pairs_batchlog") == 3,
      s"restarted batchId 0 with new content was dropped: $after3")
    // and a true re-delivery of THAT batch is still a no-op
    StreamingDedup.applyBatch(fps(("c4", 0, text(6000))), 0L,
      provider, "fp_store", "dup_pairs", cfg, 3, 256)
    assert(counts() == after3,
      s"re-delivered restart batch inflated a store: ${counts()} vs $after3")
  }

  test("a legacy flat band store is refused at stream start (compactStore migrates)") {
    import spark.implicits._
    val dir = tempDir("graft_legacy_")
    val provider = new graft.sources.ParquetDirProvider(dir, "")
    // a pre-bucketing store: flat part files, no bucket column, no meta —
    // appending bucket=N/ subdirectories next to these would corrupt
    // partition discovery on the next read, so the guard must refuse
    provider.write(Seq(("c1", 42L)).toDF("conv_id", "bkey"), "fp_store_bands")
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.requireBucketLayout(spark, provider, "fp_store_bands", 256)
    }
    assert(e.getMessage.contains("without a bucket layout"))
    // compactStore rewrites the store under the bucket layout and stamps
    // the meta; the guard then admits the stream
    provider.write(Seq(StreamingDedup.ConvFingerprint("c1", 2, 1L, 5L,
      Array.fill(128)(1L), new java.sql.Timestamp(0L), finalized = false))
      .toDS().toDF(), "fp_store")
    StreamingDedup.compactStore(spark, provider, "fp_store", "dup_pairs",
      graft.model.DedupConfig.balanced, storeBuckets = 256)
    StreamingDedup.requireBucketLayout(spark, provider, "fp_store_bands", 256)
  }

  test("watermarked window aggregation over a turn stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingDedup.turnRates(input.toDS().toDF())
      .writeStream.format("memory").queryName("rates")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((0 until 20).map(i => turn(s"c$i", 0, "w x y z")): _*)
      q.processAllAvailable()
      // 20 turns, all role 'user' (turn_idx 0), all at ONE instant → the
      // tumbling 5-minute window must produce exactly one (window, role)
      // group with a pinned count — count() > 0 alone would accept any
      // non-empty wrong grouping, width, or rate
      val rows = spark.sql("select * from rates").collect()
      assert(rows.length == 1, s"expected one (window, role) group, got ${rows.toSeq}")
      val r = rows.head
      assert(r.getAs[String]("role") == "user")
      assert(r.getAs[Long]("n_turns") == 20L)
      assert(r.getAs[Long]("n_convs") == 20L) // 20 distinct ids: HLL sparse-exact
      val w = r.getStruct(r.fieldIndex("window"))
      assert(w.getTimestamp(1).getTime - w.getTimestamp(0).getTime == 300000L,
        s"window width != 5 minutes: $w")
    } finally q.stop()
  }
}
