package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Round-17 lineage/storage management around the iterative trainers and
  * the checkpoint fan-out guard:
  *
  *  - `ivfCentroids`/`pqCodebooks` now honor `checkpointDir` (verdict
  *    item #6): with the dir set, per-round trainer state persists +
  *    RELIABLY checkpoints (survives executor loss) instead of pinning
  *    lineage-truncated state to executor-local storage. Training is
  *    deterministic, so the dir-set path must produce byte-identical
  *    centroids/codebooks — that parity IS the test, plus the
  *    checkpoint files actually landing in the dir.
  *  - `probeSafePlan` (verdict item #7): the `.rdd` partition probe in
  *    `fanOutCheckpointed` is only legal on exchange-free plans; the
  *    negative cases pin that plans with exchanges/aggregates are
  *    refused rather than silently executed.
  */
class TrainerCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def embFixture = {
    val dims = 8
    def v(cluster: Int, j: Int): Array[Float] = {
      val a = Array.fill(dims)(0.05f * ((cluster + j) % 3))
      a(cluster * 2) = 1.0f + 0.1f * (j % 5)
      a
    }
    (for (j <- 0 until 10; c <- 0 until 4)
      yield ((j * 4 + c).toLong, s"c$c", v(c, j)))
      .toDF("vec_id", "label", "embedding")
  }

  private def withTempDir[A](f: String => A): A = f(tempDir("graft_ckpt_spec").toString)

  test("ivfCentroids with checkpointDir: identical centroids, files written") {
    val emb = embFixture
    val local = Similarity.ivfCentroids(emb, 4, iters = 2).collect()(0).toString
    withTempDir { dir =>
      val reliable = Similarity
        .ivfCentroids(emb, 4, iters = 2, checkpointDir = Some(dir))
        .collect()(0).toString
      assert(reliable == local,
        "reliable-checkpoint training diverged from the local path")
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "no reliable checkpoint files were written")
    }
  }

  test("pqCodebooks with checkpointDir: identical codebooks, files written") {
    val emb = embFixture
    val local = Similarity.pqCodebooks(emb, m = 4, ks = 4, iters = 2, dims = 8)
      .collect()(0).toString
    withTempDir { dir =>
      val reliable = Similarity
        .pqCodebooks(emb, m = 4, ks = 4, iters = 2, dims = 8,
          checkpointDir = Some(dir))
        .collect()(0).toString
      assert(reliable == local,
        "reliable-checkpoint PQ training diverged from the local path")
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "no reliable checkpoint files were written")
    }
  }

  test("probeSafePlan: checkpoint-backed plans pass, exchange-bearing plans fail") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val ckpt = df.localCheckpoint(true)
    assert(Dedup.probeSafePlan(ckpt), "LogicalRDD scan must be probe-safe")
    assert(Dedup.probeSafePlan(ckpt.select(col("doc_id"))),
      "Project over LogicalRDD must be probe-safe")
    assert(Dedup.probeSafePlan(ckpt.filter(col("doc_id") > 0)),
      "Filter over LogicalRDD must be probe-safe")
    // aggregates, repartitions and raw scans would EXECUTE at probe time
    assert(!Dedup.probeSafePlan(ckpt.groupBy(col("doc_id")).count()),
      "an aggregation must not be probe-safe")
    assert(!Dedup.probeSafePlan(ckpt.repartition(8)),
      "a repartition (exchange) must not be probe-safe")
    assert(!Dedup.probeSafePlan(ckpt.join(ckpt.select(col("doc_id")), "doc_id")),
      "a join must not be probe-safe")
  }
}
