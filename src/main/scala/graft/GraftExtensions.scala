package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotArr, Hamming64, HyperplaneSig, JaccardSortedExpr, MinHashSig, MinhashEst32Expr, MinhashEst8Expr, MinhashEstExpr, PackLowBytes, SimHash64}

/**
 * SparkSessionExtensions entry point and the ONE list of SQL functions
 * (SURVEY.md §2.11). Cluster deploy: ship the library jar and set
 * `--conf spark.sql.extensions=graft.GraftExtensions`; every session on the
 * cluster then resolves these functions in SQL without per-session calls.
 * graft.functions.GraftFunctions.register applies this same list to one
 * existing session.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit SimHash of normalized tokens"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    ext.injectFunction((FunctionIdentifier("hamming64"),
      info("hamming64", "hamming64(a, b) - popcount(a XOR b)"),
      (es: Seq[Expression]) => Hamming64(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("jaccard_sorted"),
      info("jaccard_sorted", "jaccard_sorted(a, b) - exact Jaccard of sorted long arrays"),
      (es: Seq[Expression]) => JaccardSortedExpr(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(text) - MinHash signature at the fixed engine config"),
      (es: Seq[Expression]) => MinHashSig(es.head, 5, 128, 123L)))
    ext.injectFunction((FunctionIdentifier("dot_arr"),
      info("dot_arr", "dot_arr(a, b) - dot product of two double arrays"),
      (es: Seq[Expression]) => DotArr(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("minhash_est"),
      info("minhash_est", "minhash_est(a, b) - fraction of agreeing MinHash positions"),
      (es: Seq[Expression]) => MinhashEstExpr(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("minhash_est32"),
      info("minhash_est32", "minhash_est32(a, b) - b-bit minwise estimate over 32-bit-truncated signatures"),
      (es: Seq[Expression]) => MinhashEst32Expr(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("pack_low_bytes"),
      info("pack_low_bytes", "pack_low_bytes(array<long>) - low byte of each component as packed binary"),
      (es: Seq[Expression]) => PackLowBytes(es.head)))
    ext.injectFunction((FunctionIdentifier("minhash_est8"),
      info("minhash_est8", "minhash_est8(a, b) - debiased 8-bit b-bit minwise estimate over packed signatures"),
      (es: Seq[Expression]) => MinhashEst8Expr(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("hyperplane_sig"),
      info("hyperplane_sig", "hyperplane_sig(embedding) - sign-random-hyperplane LSH bucket (8 planes, seed 7)"),
      (es: Seq[Expression]) => HyperplaneSig(es.head, 8, 7L)))
  }
}
