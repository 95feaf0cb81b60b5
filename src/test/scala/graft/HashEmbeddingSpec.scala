package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** The feature-hash embedding's engine-side guarantees: the registered
  * oracle query checks the sparse integer sketch against DuckDB; this
  * spec checks what the oracle can't — the dense/normalized variant and
  * the hashing semantics on crafted inputs.
  */
class HashEmbeddingSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("sketch: identical normalized text gives identical sketches") {
    val d = docs(1L -> "Alpha beta GAMMA", 2L -> "alpha  beta gamma",
      3L -> "something else entirely")
    val m = TextAnalysis.hashEmbeddingSketch(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
    assert(m(1L).split(",").forall(_.matches("\\d+:-?\\d+")))
  }

  test("sketch: opposite-sign tokens cancel; fully-cancelled docs are absent") {
    // one token twice vs once: counts differ, dims agree
    val d = docs(1L -> "word", 2L -> "word word", 3L -> "")
    val rows = TextAnalysis.hashEmbeddingSketch(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == Set(1L, 2L), "empty doc must be absent")
    val (dim1, c1) = { val p = rows(1L).split(":"); (p(0), p(1).toLong) }
    val (dim2, c2) = { val p = rows(2L).split(":"); (p(0), p(1).toLong) }
    assert(dim1 == dim2 && c2 == 2 * c1)
  }

  test("dense: L2-normalized, dims slots, consistent with the sketch") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val dense = TextAnalysis.hashEmbedding(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val sketch = TextAnalysis.hashEmbeddingSketch(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dense.nonEmpty && dense.keySet == sketch.keySet)
    dense.foreach { case (id, v) =>
      assert(v.length == 64, s"doc $id dims")
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"doc $id norm $n")
      // nonzero slots match the sketch's sparse entries
      val sparseDims = sketch(id).split(",").map(_.split(":")(0).toInt).toSet
      val denseDims = v.zipWithIndex.collect { case (x, i) if x != 0.0 => i }.toSet
      assert(denseDims == sparseDims, s"doc $id dims mismatch")
    }
  }

  test("fused counts expression: bit-identical sketches, zero exchanges") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val agg = TextAnalysis.hashEmbeddingSketch(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fused = TextAnalysis.hashEmbeddingSketchFused(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fused == agg)
    // the fused plan is a pure scan projection: no data shuffle (the only
    // Exchange is Tables.load's round-robin fan-out of the 1-row-group
    // documents parquet, which carries no key and exists at any query
    // over documents)
    val p = TextAnalysis.hashEmbeddingSketchFused(d)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning")
      && !p.contains("Exchange SinglePartition"),
      "fused embedding must not shuffle")
    assert(p.contains("hash_embed_counts"), "fused expression missing from plan")
  }

  test("fused counts: empty documents keep an all-zero vector (projection semantics)") {
    val d = docs(1L -> "", 2L -> "some words")
    val rows = TextAnalysis.hashEmbeddingCountsFused(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows.keySet == Set(1L, 2L))
    assert(rows(1L).forall(_ == 0L) && rows(1L).length == 64)
    assert(rows(2L).exists(_ != 0L))
  }

  test("dense: near-dup documents have near-1 cosine, unrelated lower") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog again",
      3L -> "completely different vocabulary discussing spark plans")
    val v = TextAnalysis.hashEmbedding(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = a.zip(b).map(t => t._1 * t._2).sum
    assert(cos(v(1L), v(2L)) > 0.9)
    assert(cos(v(1L), v(2L)) > cos(v(1L), v(3L)))
  }

  test("classifier: argmax/tie-break/margin agree with a JVM recomputation") {
    import graft.functions.DetHash
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val counts = TextAnalysis.hashEmbeddingCountsFused(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = TextAnalysis.domainClassify(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    val expected = counts.collect { case (id, v) if v.exists(_ != 0L) =>
      val scores = (0 until 4).map { c =>
        (0 until 64).map(dim => v(dim) * DetHash.classifierWeight(c, dim)).sum
      }
      val best = scores.zipWithIndex.maxBy { case (s, c) => (s, -c) }
      val runnerUp = scores.zipWithIndex.filter(_._2 != best._2).map(_._1).max
      id -> ((best._2, best._1, best._1 - runnerUp))
    }
    assert(got.nonEmpty && got == expected)
    assert(got.values.forall(_._3 >= 0L), "margin is best minus runner-up")
  }

  test("classifier: all-cancelling and empty documents are absent; one scan, no shuffle") {
    val d = docs(1L -> "", 2L -> "real content with several words")
    val rows = TextAnalysis.domainClassify(d).collect().map(_.getLong(0)).toSet
    assert(rows == Set(2L), "empty doc must be dropped like the sparse oracle")
    val p = TextAnalysis.domainClassify(
        Tables.load(spark, "/root/testdata/sf0.001", "documents"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning")
      && !p.contains("Exchange SinglePartition"),
      "classifier inference must not shuffle")
    // the count loop runs ONCE: the fused expression appears only in the
    // generator's child projection, not re-inlined into the filter
    assert(p.sliding("hash_embed_counts".length).count(_ == "hash_embed_counts") <= 2,
      "hash_embed_counts must not be re-inlined per consumer")
  }
}
