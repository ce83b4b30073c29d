package graft

import java.nio.file.Files
import graft.tools.Profile

/** The profiling entry point, driven through its mode functions on the
  * shared session (`Profile.main` stops the session it builds). */
class ProfileSpec extends SparkSpec {

  test("pipeline mode: one line per stage metric and one task-totals line per rep") {
    val lines = Profile.pipeline(spark, 200, 2).map(_.toMap)
    val core = Set("signatures", "candidates", "verified", "tiered", "clusters",
      "pipeline_total")
    val known = core ++ Set("lsh_buckets_paired", "lsh_buckets_salted", "tasks")
    assert(lines.map(_("rep")).distinct == Seq(0, 1))
    (0 to 1).foreach { rep =>
      val mine = lines.filter(_("rep") == rep)
      val stages = mine.map(_("stage").toString)
      assert(stages.distinct == stages, stages)
      assert(core.subsetOf(stages.toSet) && stages.toSet.subsetOf(known), stages)
      val tasks = mine.filter(_("stage") == "tasks")
      assert(tasks.size == 1)
      assert(tasks.head("tasks").asInstanceOf[Long] > 0, tasks.head)
      assert(tasks.head("shuffle_write_mb").asInstanceOf[Double] > 0, tasks.head)
    }
  }

  test("plans mode writes the six pipeline-internal formatted plans") {
    val dir = Files.createTempDirectory("profile_plans")
    try {
      Profile.plans(spark, dir.toString, 200)
      val want = Seq("candidates", "bucket_phase", "verify_pass1", "verify",
        "tiergate_broadcast", "tiergate_shufflehash").map(n => s"pipeline_$n.txt")
      assert(dir.toFile.list().toSeq.sorted == want.sorted)
      want.foreach(f =>
        assert(Files.readString(dir.resolve(f)).contains("== Physical Plan =="), f))
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      dir.toFile.delete(): Unit
    }
  }
}
