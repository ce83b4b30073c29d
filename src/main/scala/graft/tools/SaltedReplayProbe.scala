package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/**
 * Cross-engine proof of the SALTED regime of the `minhash_docs_lsh` SQL
 * replay. The sf0.01/sf0.1 documents tables never push a band bucket past
 * the 256-member cap, so the driver's gate exercises the replay's salted
 * path only on the conversation pipeline (`flag_dedup_candidates` at
 * sf0.1) — this probe plants a 300-member exact-duplicate family (every
 * band bucket AND every bundle-variant bucket of the family sits at 300 >
 * 256 ⇒ n_salts = 2, bridges emitted in both key spaces), runs the engine
 * join, dumps the same oracle surface graft.Verify dumps, and writes an
 * oracle_sql.json holding SparkEntry's own `minhash_docs_lsh` SQL so
 * `tools/oracle_check.py <anydir> <outDir>` can hash-compare the two
 * engines on a corpus where the salted SQL actually fires.
 *
 * Usage: sbt "runMain graft.tools.SaltedReplayProbe /tmp/salted_probe"
 *        python3 tools/oracle_check.py /tmp/salted_probe /tmp/salted_probe
 */
object SaltedReplayProbe {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/salted_probe")
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import spark.implicits._
    new java.io.File(outDir).mkdirs()

    // deterministic corpus, no RNG: 300 exact duplicates (the over-cap
    // family), 40 near-dups of a second template with one token swapped
    // per doc (sub-cap buckets for contrast), 200 distinct background docs
    val famText = (1 to 60).map(i => s"alpha${i % 7} beta${i % 5} " +
      s"gamma${i % 11} delta${i % 3}").mkString(" ")
    val nearBase = (1 to 60).map(i => s"omega${i % 6} sigma${i % 9} " +
      s"kappa${i % 4} theta${i % 8}").mkString(" ")
    val docs =
      (1L to 300L).map(i => (i, famText)) ++
      (301L to 340L).map(i => (i,
        nearBase.replace(s"omega${(i % 6).toInt}", s"swap$i"))) ++
      (341L to 540L).map(i => (i, (1 to 60).map(j =>
        s"uniq${i}w${j % 13}x${(i * 31 + j) % 17}").mkString(" ")))
    val docsDf = docs.toDF("doc_id", "text")

    graft.operators.DocDedup.minhashLshCandidates(spark, docsDf)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/minhash_docs_lsh")
    graft.operators.DocDedup.minhashLshOracleTables(spark, docsDf)
      .foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name") }

    // sanity: salting must actually fire, else this probe proves nothing
    val famBucket = spark.read.parquet(s"$outDir/minhash_doc_bands")
      .groupBy("band_key").count().agg(max("count")).head().getLong(0)
    require(famBucket > 256, s"largest band bucket $famBucket <= cap 256")
    val bridged = spark.read.parquet(s"$outDir/minhash_docs_lsh")
      .filter(col("source").contains("bridge")).count()
    require(bridged > 0, "engine emitted no bridge rows — salting inactive?")
    println(s"[probe] largest bucket $famBucket, $bridged bridge rows")

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val sql = graft.SparkEntry.oracleSql("minhash_docs_lsh")
      .replace("{GRAFT_OUT}", outAbs)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      s"""{${q("minhash_docs_lsh")}: ${q(sql)}}""")
    spark.stop()
  }
}
