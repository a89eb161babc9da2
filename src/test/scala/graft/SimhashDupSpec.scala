package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the collapse-then-band restructure of `LlmExt.dedupSimhash`
  * (round 8): banding runs over DISTINCT fingerprints and member
  * pairs are re-expanded afterwards, so a verbatim-duplicated corpus
  * — the sf1 scale harness, or any crawl snapshot — cannot inflate
  * band buckets past the MaxBucket guard, and the pair set must be
  * EXACTLY the algebraic expansion of the original corpus's pairs:
  *
  *   dup(d) pairs =  { (x_i, x_j), hamming 0 | x ∈ docs, i < j }   (intra-class)
  *               ∪  { (a_i, b_j), h          | (a, b, h) ∈ orig, ∀ i, j }
  *
  * where x_c = x + c·stride. Fingerprints depend only on text, so
  * every copy lands in its source's class; the identical branch must
  * produce all C(d,2) within-class pairs and the cross branch all d²
  * copies of every original pair with its hamming preserved. This is
  * the re-expansion arithmetic (sorted id lists, explode×2,
  * least/greatest normalization) that an end-to-end oracle diff at
  * one SF could mask, asserted per-pair here. */
class SimhashDupSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark

  test("pair set under 5-way verbatim duplication is the exact expansion") {
    val d = 5
    val docs = Tables.documents(s, SparkTestBase.sfDir)
    val n = docs.count()
    val stride = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val dir = Scratch.dir("simdup")
    (0 until d).map(c =>
        docs.withColumn("doc_id", col("doc_id") + lit(c * stride)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val orig = ops.LlmExt.dedupSimhash(s, SparkTestBase.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(orig.nonEmpty, "fixture corpus must contain near-dup pairs")

    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
    val intra = for {
      x <- ids.toSeq; i <- 0 until d; j <- (i + 1) until d
    } yield (x + i * stride, x + j * stride, 0L)
    val cross = for {
      (a, b, h) <- orig.toSeq; i <- 0 until d; j <- 0 until d
      (ai, bj) = (a + i * stride, b + j * stride)
    } yield (math.min(ai, bj), math.max(ai, bj), h)
    val expected = (intra ++ cross).toSet

    // guard must NOT trip: d× duplication, distinct-content geometry
    // unchanged — a doc-level banding would multiply every bucket by d
    val got = ops.LlmExt.dedupSimhash(s, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == got.toSet.size, "no duplicate pairs emitted")
    assert(got.toSet == expected,
      s"pair set must be the exact d²/C(d,2) expansion: " +
        s"got ${got.length}, expected ${expected.size} " +
        s"(n=$n docs, ${orig.length} original pairs)")
  }
}
