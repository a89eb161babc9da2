package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bounded-bucket contract of Llm.bucketPairs: normal buckets
  * expand to unordered pairs; a degenerate bucket (e.g. thousands of
  * exact duplicates landing in one LSH bucket) fails LOUDLY instead of
  * collecting an unbounded array and OOMing an executor. */
class BucketPairsSpec extends AnyFunSuite {
  private lazy val s = SparkTestBase.spark

  test("small buckets expand to all unordered pairs") {
    import s.implicits._
    val df = Seq(("b1", 3L), ("b1", 1L), ("b1", 2L), ("b2", 9L))
      .toDF("k", "m")
    val pairs = Llm.bucketPairs(df, Seq(col("k")), col("m"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L))) // b2 singleton drops
  }

  test("property: gram count is distinct-bounded by n - width + 1") {
    import s.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small alphabet forces repeats, exercising array_distinct
    val word = Gen.oneOf("aa", "bb", "cc")
    val doc = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word))
    val p = Prop.forAll(doc) { words =>
      val text = words.mkString(" ")
      val grams = Seq(text).toDF("text")
        .select(LlmQuality.ngramHashes("text", 4).as("g"))
        .collect()(0).getSeq[Long](0)
      val n = if (text.isEmpty) 1 else words.length // split("") = [""]
      val expectedMax = math.max(0, n - 3)
      grams.length <= expectedMax &&
        grams.distinct.length == grams.length &&
        (expectedMax == 0) == grams.isEmpty
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), p)
      .passed)
  }

  test("ngram prefix blocking prunes the candidate space (AllPairs property)") {
    // the scale claim behind q_llm_dedup_ngram: the prefix-filter
    // buckets generate FAR fewer pairs than the n(n-1)/2 all-pairs
    // join the oracle runs, while the gate proves output equality
    val d = SparkTestBase.sfDir
    val n = Llm.docs(s, d).count()
    val allPairs = n * (n - 1) / 2
    val cands = LlmQuality.ngramCandidates(s, d).count()
    assert(cands > 0, "blocking found no candidates at all")
    assert(cands * 20 < allPairs,
      s"$cands candidates vs $allPairs all-pairs — blocking isn't pruning")
  }

  test("a bucket over MaxBucket members fails loudly, naming the key") {
    import s.implicits._
    // adversarial input: all-identical docs → one bucket (or one exact-
    // content class), n² blow-up
    val df = (1 to Llm.MaxBucket + 1).map(i => ("same", i.toLong))
      .toDF("k", "m")
    val inputs = Seq(
      "bucketPairs" -> (() => Llm.bucketPairs(df, Seq(col("k")), col("m"))),
      "classPairs" -> (() => Llm.classesOf(df, Seq(col("k")), col("m"))
        .select(explode(Llm.classPairs(col("ids"), Seq(col("k")))))))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    for ((name, pairs) <- inputs) {
      val e = intercept[Exception](pairs().count())
      assert(messages(e).exists(m => m.contains("bucket exceeds") &&
          m.contains("at key same")),
        s"$name: unexpected failure: $e")
    }
  }

  test("nearDuplicatePairs on a repeated (id, text) row emits no self-pair") {
    import s.implicits._
    val text = "the quick brown fox jumps over the lazy dog again"
    val df = Seq((1L, text), (1L, text), (2L, text),
        (3L, "unrelated words only here"))
      .toDF("id", "text")
    val got = graft.Graft.nearDuplicatePairs(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)), got.mkString(", "))
  }
}
