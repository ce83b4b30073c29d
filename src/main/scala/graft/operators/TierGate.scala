package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.{DedupConfig, TieredPair, TypeGates, VerifiedPair}

/**
 * Evidence z-score + tier gating (SURVEY.md §2.3 X12, §2.9 T1/T2/T3).
 *
 * ZScore: degree-normalized similarity per endpoint — for each conversation,
 * the mean/stddev of its candidate-edge scores; a pair's z is the MIN of its
 * two endpoint z's (exactly the reference's CLIP z-score
 * `min((s_ij−μ_i)/σ_i, (s_ij−μ_j)/σ_j)`,
 * /root/reference/ai_pdf_panel_duplicate_check_AUTO.py:1496-1602). This
 * kills template-lookalike families: a doc whose every neighbor scores
 * similarly (boilerplate hub) yields low z for all its pairs.
 *
 * TierGate: a single Catalyst `when` expression tree over evidence columns —
 * the port of apply_tier_gating's disjunction-of-paths with first-match
 * provenance, an FP veto, and a deep-verify override (ai_...AUTO.py:688-1023
 * and :887-986). Fully codegen'd, constant-foldable per type branch, no UDF.
 *
 * T2 (modality-specific thresholds, tier_classifier.py:233-353): when a
 * content-type profile is supplied, each pair's thresholds are keyed on its
 * routed class (both endpoints same class) with a cross-class fallback to
 * the base thresholds — the exact-fingerprint path stays an unconditional
 * override, like the reference's exact-match override.
 *
 * T3 (deep-verify second pass, ai_...AUTO.py:887-986): a pair vetoed on the
 * relaxed path is NOT dead — it is re-tested against the expensive evidence
 * (substring-span + patchwise top-k, which Verification computes lazily
 * exactly for these inconclusive pairs) and promoted to Tier A with
 * provenance "deep_verified" if that second, independent signal set agrees.
 * Mirrors the reference precedence: the veto is excluded from the Tier-A
 * mask but deep verify can flip it (ai_...AUTO.py:909-912, 988-1021).
 */
object TierGate {

  /** Per-endpoint (mu, sigma) of minhash_est over every incident pair —
    * the ONE stats definition both the fused attachAttrs pass and the
    * separate withZScore baseline build on (sharing it keeps any
    * fused-vs-separate comparison, TierGateSpec's parity test included,
    * honest: same semantics by construction, different join plans).
    * Endpoint stats must see the edge from BOTH sides: explode to
    * (endpoint, score) and aggregate. */
  private def endpointStats(pairs: Dataset[VerifiedPair]): DataFrame = {
    val edges = pairs.select(col("conv_a").as("ep"), col("minhash_est").as("s"))
      .unionAll(pairs.select(col("conv_b").as("ep"), col("minhash_est").as("s")))
    edges.groupBy(col("ep")).agg(
      avg(col("s")).as("mu"), stddev_pop(col("s")).as("sigma"))
  }

  /** z of minhash_est against one endpoint's (mu_<side>, sigma_<side>);
    * degenerate sigma (single/uniform neighborhood) → 10.0 = no veto. */
  private def zExpr(side: String): Column =
    when(col(s"sigma_$side") > 1e-9,
      (col("minhash_est") - col(s"mu_$side")) / col(s"sigma_$side"))
      .otherwise(lit(10.0))

  /** T2 routing from the joined endpoint classes ct_a/ct_b: the shared
    * class when both agree, "default" when either is missing, "cross"
    * otherwise. */
  private val pairTypeExpr: Column =
    when(col("ct_a").isNull || col("ct_b").isNull, "default")
      .when(col("ct_a") === col("ct_b"), col("ct_a"))
      .otherwise("cross")

  /** Attach clip_z_analog via the separate two-join pass (the reference
    * TierGateSpec checks the fused attachAttrs against; Pipeline runs the
    * fused pass). */
  def withZScore(pairs: Dataset[VerifiedPair]): DataFrame = {
    val stats = endpointStats(pairs)
    // SHUFFLE_HASH on the stats side: Catalyst cannot see that the final
    // aggregate is small (the partial-agg exchange bytes overstate it, so
    // AQE never broadcast-converts), and the default sort-merge join SORTS
    // the fat pair table TWICE — measured 15-23 s at local[32] on the
    // 9.1M-turn corpus (the BD/BF tiered anti-scaling) vs ~6 s hashed. The
    // build side is the per-endpoint stats shard — |docs|·~40 B /
    // shuffle-partition, the quantity sizeShuffleForCorpus bounds — and
    // the pair table streams unsorted, same discipline as the candidate
    // scoring and verify payload joins.
    pairs.toDF()
      .join(stats.select(col("ep").as("conv_a"), col("mu").as("mu_a"), col("sigma").as("sigma_a"))
        .hint("shuffle_hash"), Seq("conv_a"), "left")
      .join(stats.select(col("ep").as("conv_b"), col("mu").as("mu_b"), col("sigma").as("sigma_b"))
        .hint("shuffle_hash"), Seq("conv_b"), "left")
      .withColumn("clip_z_analog", least(zExpr("a"), zExpr("b")))
      .drop("mu_a", "sigma_a", "mu_b", "sigma_b")
  }

  /** Attach pair_type from a (conv_id, content_type) profile: the routed
    * class when both endpoints agree, "cross" otherwise (T2 routing). */
  def withPairType(pairsWithZ: DataFrame, profiles: Option[DataFrame]): DataFrame =
    profiles match {
      case Some(p) =>
        val ct = p.select(col("conv_id"), col("content_type"))
        pairsWithZ
          .join(ct.select(col("conv_id").as("conv_a"), col("content_type").as("ct_a")), Seq("conv_a"), "left")
          .join(ct.select(col("conv_id").as("conv_b"), col("content_type").as("ct_b")), Seq("conv_b"), "left")
          .withColumn("pair_type", pairTypeExpr)
          .drop("ct_a", "ct_b")
      case None => pairsWithZ.withColumn("pair_type", lit("default"))
    }

  /** The tier truth table. Input: verified pairs + clip_z_analog and
    * pair_type columns (see withZScore / withPairType). */
  def gate(verifiedWithZ: DataFrame, cfg: DedupConfig): Dataset[TieredPair] = {
    val spark = verifiedWithZ.sparkSession
    import spark.implicits._

    val in = if (verifiedWithZ.columns.contains("pair_type")) verifiedWithZ
             else verifiedWithZ.withColumn("pair_type", lit("default"))

    // T2 threshold lookup: per-class override chain over the base value —
    // a pure when-tree on pair_type, constant-folded by Catalyst per branch
    def thr(pick: TypeGates => Double, base: Double): Column =
      cfg.typeGates.foldLeft(lit(base)) { case (acc, (t, g)) =>
        when(col("pair_type") === t, lit(pick(g))).otherwise(acc)
      }
    val strictJ = thr(_.tierAJaccard, cfg.tierAJaccard)
    val relaxJ  = thr(_.tierARelaxJaccard, cfg.tierARelaxJaccard)
    val relaxS  = thr(_.tierARelaxSum, cfg.tierARelaxSum)
    val bandBJ  = thr(_.tierBJaccard, cfg.tierBJaccard)
    val zVetoT  = thr(_.zVeto, cfg.zVeto)

    // Tier-A paths, first-match priority (≙ tier_path provenance,
    // ai_...AUTO.py:995-1021). The exact-fingerprint path is an
    // unconditional override — immune to type thresholds AND the veto,
    // like the reference's exact-match override.
    val exactPath   = col("bundle_dist") <= cfg.simhashMaxDist           // ① pHash≤3 analog
    val strictPath  = col("jaccard") >= strictJ &&
                      col("jaccard_patch_topk") >= strictJ - 0.05        // ② CLIP≥0.99∧SSIM≥0.95
    val spanPath    = col("max_span_len") >= cfg.spanMinLen &&
                      col("span_frac") >= cfg.spanMinFrac                // ③ ORB-geometry analog
    val relaxedPath = col("jaccard") >= relaxJ &&
                      (col("minhash_est") + col("jaccard")) >= relaxS    // ④ relaxed sum gate

    // FP veto (≙ confocal-FP veto, ai_...AUTO.py:870-885): a low-z template
    // neighborhood without strict or geometric evidence. Guards ONLY the
    // relaxed path — exact/strict/span paths are immune, exactly like the
    // reference's Tier-A mask excluding the veto for geometric evidence.
    val fpVeto = col("clip_z_analog") < zVetoT &&
                 col("jaccard") < strictJ &&
                 col("max_span_len") < cfg.spanMinLen

    // T3 deep-verify override: the expensive second signal set (substring
    // span + patchwise top-k — computed lazily by Verification exactly for
    // inconclusive pairs like these) must agree for a vetoed pair to be
    // rescued. Both sub-signals at half/relax strength TOGETHER ≙ the
    // reference's ECC+SSIM+NCC re-test passing.
    val deepPass = col("max_span_len") >= cfg.spanMinLen / 2 &&
                   col("jaccard_patch_topk") >= relaxJ

    // T4 tile evidence (tile_detection.py:508-573 analog): ≥2 verified
    // sub-blocks promote to Tier A (veto-immune, like the reference's tile
    // promotion); template-heavy classes (tool_heavy ≙ confocal) are
    // DEMOTED off the relaxed path when no block verified — local evidence
    // required exactly where global similarity is least trustworthy.
    val tilePath = col("n_verified_blocks") >= 2 && col("jaccard") >= bandBJ
    val tileDemote = col("pair_type") === "tool_heavy" &&
                     col("n_verified_blocks") < 1

    val tierPath =
      when(exactPath, "exact_fingerprint")
        .when(strictPath, "strict_jaccard")
        .when(spanPath, "substring_span")
        .when(tilePath, "tile_promoted")
        .when(relaxedPath && !fpVeto && !tileDemote, "relaxed_sum")
        .when(relaxedPath && deepPass, "deep_verified")
        .otherwise(lit(null).cast("string"))

    val tierB = col("jaccard") >= bandBJ ||
                col("simhash_dist") <= cfg.simhashMaxDist * 3 ||
                col("max_span_len") >= cfg.spanMinLen / 2

    in
      .withColumn("tier_path", tierPath)
      .withColumn("tier",
        when(col("tier_path").isNotNull, "A")
          // the veto guards only the relaxed Tier-A path (as in the
          // reference, where the FP veto gates Tier A but Tier B bands
          // remain, ai_...AUTO.py:988-1021) — vetoing B would cost recall
          .when(tierB, "B")
          .otherwise("other"))
      .withColumn("tier_path", coalesce(col("tier_path"),
        when(col("tier") === "B", "band_b").otherwise("none")))
      .select($"pair_key", $"conv_a", $"conv_b", $"minhash_est", $"jaccard",
        $"jaccard_patch_topk", $"n_verified_blocks", $"simhash_dist",
        $"bundle_dist", $"max_span_len", $"span_frac", $"clip_z_analog",
        $"pair_type", $"tier", $"tier_path", $"source")
      .as[TieredPair]
  }

  /**
   * Fused z-score + pair-type attachment: ONE per-endpoint attribute table
   * (mu, sigma, content_type — stats left-joined to the profile on the
   * endpoint id) and ONE pair-table join per side, instead of the separate
   * withZScore (2 joins) + withPairType (2 joins) passes. Semantics are
   * identical (stats keys cover every pair endpoint by construction; a
   * missing profile row routes to "default" exactly like the old left
   * join), but the 10⁶–10⁷-row pair table crosses the wire TWICE instead
   * of four times. Motivation: runs BD/BF/BH all read the tiered stage
   * anti-scaled at the 9.1M-turn corpus even after the z-score joins were
   * SHUFFLE_HASH-hinted — the remaining wall was the stage's chain of
   * narrow 142-partition pair-table exchanges, and halving them is a
   * plan-level cut that holds at any scale (at 10¹² turns these are the
   * dominant tiered-stage bytes). The per-endpoint attrs stay SHUFFLE_HASH
   * (|docs|-proportional — too big to broadcast at target scale).
   */
  /** Below this many verified pairs the per-endpoint attrs table (≤ 2
    * rows/pair × ~60 B ≈ 60 MB worst case) BROADCASTS into the pair joins
    * instead of SHUFFLE_HASH — the same adaptive dispatch-by-input-size CC
    * uses for its driver-local path (guide §3.1: broadcast the side that
    * fits; Catalyst never broadcast-converts here on its own because the
    * partial-agg exchange bytes overstate the stats size). Above the
    * threshold — the 100-TB regime, where attrs is |docs|-proportional —
    * the shuffle-hash plan below is unchanged. At the bench corpus this
    * removes both pair-table exchanges from the tiered stage. */
  val BroadcastMaxPairs: Long = 500000L

  private def attachAttrs(pairs: Dataset[VerifiedPair],
                          profiles: Option[DataFrame],
                          small: Boolean): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val stats = endpointStats(pairs)
    val attrs = profiles match {
      case Some(p) =>
        val prof = p.select($"conv_id".as("ep"), $"content_type".as("ct"))
        stats.join(if (small) broadcast(prof) else prof, Seq("ep"), "left")
      case None => stats.withColumn("ct", lit(null).cast("string"))
    }
    def sideHint(df: DataFrame): DataFrame =
      if (small) df.hint("broadcast") else df.hint("shuffle_hash")
    pairs.toDF()
      .join(sideHint(attrs.select($"ep".as("conv_a"), $"mu".as("mu_a"),
          $"sigma".as("sigma_a"), $"ct".as("ct_a"))), Seq("conv_a"), "left")
      .join(sideHint(attrs.select($"ep".as("conv_b"), $"mu".as("mu_b"),
          $"sigma".as("sigma_b"), $"ct".as("ct_b"))), Seq("conv_b"), "left")
      .withColumn("clip_z_analog", least(zExpr("a"), zExpr("b")))
      .withColumn("pair_type", pairTypeExpr)
      .drop("mu_a", "sigma_a", "mu_b", "sigma_b", "ct_a", "ct_b")
  }

  def apply(pairs: Dataset[VerifiedPair], cfg: DedupConfig,
            profiles: Option[DataFrame] = None,
            pairCountHint: Option[Long] = None): Dataset[TieredPair] =
    gate(attachAttrs(pairs, profiles,
      small = pairCountHint.exists(_ <= BroadcastMaxPairs)), cfg)

  /**
   * Optional scored-gate column (SURVEY.md §2.3 X18 — the reference's
   * logistic PairClassifier over [cosine, ssim, hamming],
   * /root/reference/duplicate_detector/utils/classifier.py:15-44; OFF by
   * default like models/config.py:137): a deterministic linear score +
   * sigmoid over the text-domain evidence, pure column arithmetic (no
   * MLlib, fully codegen'd). Weights mirror the reference's signal order —
   * similarity positive, fingerprint distance negative.
   */
  def pairScore(verified: DataFrame,
                wEst: Double = 3.0, wJac: Double = 4.0,
                wDist: Double = -0.25, bias: Double = -3.0): DataFrame =
    verified.withColumn("pair_score",
      lit(1.0) / (lit(1.0) + exp(-(
        lit(wEst) * col("minhash_est") + lit(wJac) * col("jaccard") +
        lit(wDist) * col("simhash_dist") + lit(bias)))))
}
