package graft

import java.nio.file.Files
import graft.model._
import graft.operators._
import graft.sources.ConversationGen

/**
 * Checkpoint/resume acceptance (FIXTURES.md §4, BASELINE.md "Resume"):
 * stage tables keyed (cacheVersion, inputHash) mirror the reference's
 * versioned cache with input-hash invalidation
 * (/root/reference/duplicate_detector/core/similarity_engine.py:40-62).
 */
class ResumeSpec extends SparkSpec {

  test("re-run with same input+config resumes from checkpoints, identical output") {
    import spark.implicits._
    val dir = tempDir("graft_ck_")
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val r1 = Pipeline.run(turns, DedupConfig.balanced, Some(dir), runId = "r1")
    val t1 = r1.tiered.select($"pair_key", $"tier").as[(String, String)].collect().sorted.toSeq

    // simulate kill after the candidate stage: later stages' checkpoints removed
    val base = s"$dir/${Pipeline.namespaceFor(DedupConfig.balanced)}/${r1.inputHash}"
    def rm(stage: String): Unit = {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(s"$base/$stage")).deleteRecursively()
    }
    rm("verified"); rm("tiered"); rm("clusters")
    assert(Files.exists(java.nio.file.Paths.get(s"$base/candidates/_SUCCESS")))

    val r2 = Pipeline.run(turns, DedupConfig.balanced, Some(dir), runId = "r2")
    val t2 = r2.tiered.select($"pair_key", $"tier").as[(String, String)].collect().sorted.toSeq
    assert(t1 == t2, "resumed run must produce identical tier assignments")

    // signature/candidate stages were NOT recomputed: 'candidates' metric
    // absent from r2's stage metrics (cache hit skips the timed compute)
    assert(!r2.metrics.exists(_.stage == "candidates"),
      s"expected candidates cache hit; metrics=${r2.metrics.map(_.stage)}")

    // per-partition lineage written next to each fresh stage table
    // (north_rule): files + row counts sum to the stage row count
    val lin = spark.read.parquet(s"$base/lineage_candidates")
    import org.apache.spark.sql.functions._
    val total = lin.agg(sum($"rows")).head().getLong(0)
    assert(total == r1.candidates.count(), s"lineage rows=$total")
    assert(lin.select($"partition_file").distinct().count() == lin.count())
  }

  test("pipelined mode resumes from stage checkpoints after a kill (VERDICT r02 #3)") {
    import spark.implicits._
    val dir = tempDir("graft_ck_")
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val r1 = Pipeline.runPipelined(turns, DedupConfig.balanced,
      runId = "p1", checkpointDir = Some(dir))
    val t1 = r1.tiered.select($"pair_key", $"tier").as[(String, String)].collect().sorted.toSeq

    // simulate a kill after the candidates stage: later stage checkpoints
    // are gone, sigs + candidates survive
    val base = s"$dir/${Pipeline.namespaceFor(DedupConfig.balanced)}/${r1.inputHash}"
    def rm(stage: String): Unit = {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(s"$base/$stage")).deleteRecursively()
    }
    rm("verified"); rm("tiered")
    assert(Files.exists(java.nio.file.Paths.get(s"$base/sigs/_SUCCESS")))
    assert(Files.exists(java.nio.file.Paths.get(s"$base/candidates/_SUCCESS")))

    val r2 = Pipeline.runPipelined(turns, DedupConfig.balanced,
      runId = "p2", checkpointDir = Some(dir))
    val t2 = r2.tiered.select($"pair_key", $"tier").as[(String, String)].collect().sorted.toSeq
    assert(t1 == t2, "resumed pipelined run must produce identical tiers")
    // signatures and candidates came from checkpoints, not recompute
    assert(r2.metrics.exists(_.stage == "signatures:cached"),
      s"expected signatures cache hit; metrics=${r2.metrics.map(_.stage)}")
    assert(r2.metrics.exists(_.stage == "candidates:cached"))
    assert(r2.metrics.exists(_.stage == "verified"), "verified must recompute")
    // per-partition lineage written for the async-checkpointed stages too
    val lin = spark.read.parquet(s"$base/lineage_sigs")
    import org.apache.spark.sql.functions._
    assert(lin.agg(sum($"rows")).head().getLong(0) == r1.sigs.count())
    // eager and pipelined modes share one checkpoint namespace: an eager
    // run over the same input resumes everything
    val r3 = Pipeline.run(turns, DedupConfig.balanced, Some(dir), runId = "e1")
    assert(r3.metrics.exists(_.stage == "tiered:cached"))
  }

  test("hashOverride keys the checkpoint namespace with no content scan") {
    import spark.implicits._
    val dir = tempDir("graft_ck_")
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val cfg = DedupConfig.balanced
    val r1 = Pipeline.runPipelined(turns, cfg, runId = "s1",
      checkpointDir = Some(dir), hashOverride = Some("snap_1"))
    assert(r1.inputHash == "snap_1")
    val base = s"$dir/${Pipeline.namespaceFor(cfg)}/snap_1"
    Seq("sigs", "candidates", "verified", "tiered").foreach { st =>
      assert(Files.exists(java.nio.file.Paths.get(s"$base/$st/_SUCCESS")), s"missing $st")
    }
    // edited text under the SAME snapshot id: the override, not the
    // content, keys the namespace, so every stage resumes
    val edited = turns.map(t => if (t.turn_idx == 0) t.copy(text = t.text + " edited") else t)
    assert(Pipeline.inputFingerprint(edited) != Pipeline.inputFingerprint(turns))
    val r2 = Pipeline.runPipelined(edited, cfg, runId = "s2",
      checkpointDir = Some(dir), hashOverride = Some("snap_1"))
    assert(r2.inputHash == "snap_1")
    Seq("signatures", "candidates", "verified", "tiered").foreach { st =>
      assert(r2.metrics.exists(_.stage == s"$st:cached"),
        s"expected $st cache hit; metrics=${r2.metrics.map(_.stage)}")
    }
  }

  test("different cacheVersion or input invalidates the checkpoint") {
    val dir = tempDir("graft_ck_")
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val cfg = DedupConfig.balanced
    Pipeline.run(turns, cfg, Some(dir), runId = "a")
    // bump version → fresh namespace → recompute happens (metrics present)
    val r2 = Pipeline.run(turns, cfg.copy(cacheVersion = "v2"), Some(dir), runId = "b")
    assert(r2.metrics.exists(_.stage == "candidates"))
    // different input → different hash namespace
    val other = ConversationGen.corpus(spark,
      ConversationGen.CorpusSpec(nBase = 120, nDupSources = 3, nHardNegPairs = 10))
    val h1 = Pipeline.inputFingerprint(turns)
    val h2 = Pipeline.inputFingerprint(other)
    assert(h1 != h2)
  }

  test("changed config knob invalidates stage tables; unchanged config resumes (VERDICT r03 wrong #1)") {
    val dir = tempDir("graft_ck_")
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    val cfg = DedupConfig.balanced
    Pipeline.run(turns, cfg, Some(dir), runId = "a")

    // same config, same cacheVersion → full resume (every stage cached)
    val rSame = Pipeline.run(turns, cfg, Some(dir), runId = "same")
    assert(rSame.metrics.exists(_.stage == "candidates:cached"),
      s"unchanged config must resume; metrics=${rSame.metrics.map(_.stage)}")
    assert(!rSame.metrics.exists(_.stage == "candidates"))

    // changed simThreshold, SAME cacheVersion → stage tables must recompute
    // (the round-3 booby trap: a resume silently serving stale candidates)
    val rThresh = Pipeline.run(turns, cfg.copy(simThreshold = 0.40),
      Some(dir), runId = "thresh")
    assert(rThresh.metrics.exists(_.stage == "candidates"),
      s"changed simThreshold must recompute; metrics=${rThresh.metrics.map(_.stage)}")

    // changed groupGap (suppression active, groups supplied) → recompute;
    // and a different groups TABLE under the same gap → recompute too
    import org.apache.spark.sql.functions.{col, lit}
    val convIds = turns.select(col("conv_id")).distinct()
    val groupsA = convIds.withColumn("group_id",
      (org.apache.spark.sql.functions.xxhash64(col("conv_id")) % 7).cast("long"))
    val gapCfg = cfg.copy(groupGap = Some(0))
    val g1 = Pipeline.run(turns, gapCfg, Some(dir), runId = "g1", groups = Some(groupsA))
    assert(g1.metrics.exists(_.stage == "candidates"), "first gap run computes")
    val g2 = Pipeline.run(turns, gapCfg, Some(dir), runId = "g2", groups = Some(groupsA))
    assert(g2.metrics.exists(_.stage == "candidates:cached"),
      "same gap + same groups resumes")
    val g3 = Pipeline.run(turns, cfg.copy(groupGap = Some(1)), Some(dir),
      runId = "g3", groups = Some(groupsA))
    assert(g3.metrics.exists(_.stage == "candidates"), "changed gap recomputes")
    val groupsB = convIds.withColumn("group_id", lit(0L))
    val g4 = Pipeline.run(turns, gapCfg, Some(dir), runId = "g4", groups = Some(groupsB))
    assert(g4.metrics.exists(_.stage == "candidates"), "changed groups table recomputes")

    // pipelined mode shares the SAME config-aware namespace: a changed
    // threshold must not resume the eager run's tables either
    val p1 = Pipeline.runPipelined(turns, cfg.copy(simThreshold = 0.40),
      runId = "p1", checkpointDir = Some(dir))
    assert(p1.metrics.exists(_.stage == "candidates:cached"),
      "pipelined mode resumes the eager run's tables for the SAME config")
    val p2 = Pipeline.runPipelined(turns, cfg.copy(simThreshold = 0.55),
      runId = "p2", checkpointDir = Some(dir))
    assert(p2.metrics.exists(_.stage == "candidates"),
      "pipelined mode recomputes under a changed config")
  }

  test("empty (but active) groups table keys deterministically, no NPE (ADVICE r04)") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_ck_")
    val turns = ConversationGen.corpus(spark, ConversationGen.smoke)
    // zero-row groups table with suppression ACTIVE: bit_xor over no rows
    // is NULL — groupsFingerprint must coalesce, not throw, and the run
    // must checkpoint under a stable namespace
    val emptyGroups = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("conv_id", StringType),
        StructField("group_id", LongType))))
    val cfg = DedupConfig.balanced.copy(groupGap = Some(0))
    val r1 = Pipeline.run(turns, cfg, Some(dir), runId = "eg1",
      groups = Some(emptyGroups))
    assert(r1.metrics.exists(_.stage == "candidates"), "first run computes")
    // same empty table → same fingerprint → resume, not recompute
    val r2 = Pipeline.run(turns, cfg, Some(dir), runId = "eg2",
      groups = Some(emptyGroups))
    assert(r2.metrics.exists(_.stage == "candidates:cached"),
      s"empty groups must key deterministically; metrics=${r2.metrics.map(_.stage)}")
  }
}
