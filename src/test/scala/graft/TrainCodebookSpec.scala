package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Det, LlmExt}

/** `LlmExt.trainCodebook` (one driver-merged pass per codebook round)
  * against the distributed aggregate it replaced: posexplode, a
  * per-(key, dimension) `avg` (or q_llm_semdedup's
  * `sum(x * m) / sum(m)`), r6, a per-key sorted reassembly and the
  * key-sorted `collect_list` pack. The two sum the same rows in
  * different orders, and r6 absorbs the last-bit difference: the
  * codebooks must be bit-identical at 1, 4 and 8 input partitions, and
  * the trainer must give the same bits on a second run. */
class TrainCodebookSpec extends AnyFunSuite {
  private def s = SparkTestBase.spark

  /** The replaced aggregate, as it was. */
  private def reference(frame: DataFrame, key: String,
                        dim: Column = Det.r6(avg(col("col")))): Seq[Row] =
    frame.select(frame.columns.filter(_ != "e").map(col) :+
        posexplode(col("e")): _*)
      .groupBy(col(key), col("pos"))
      .agg(dim.as("dv"))
      .groupBy(col(key))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("dv")))),
        _.getField("dv")).as("cv"))
      .coalesce(1)
      .agg(array_sort(collect_list(struct(col(key), col("cv")))).as("cbook"))
      .head().getSeq[Row](0)

  private def trained(frame: DataFrame, key: String,
                      weight: Option[Column]): Seq[Row] =
    s.range(1).select(LlmExt.trainCodebook(frame, key, weight))
      .head().getSeq[Row](0)

  /** Keys and the raw bits of every component (None for NULL). */
  private def bits(cb: Seq[Row]): Seq[(Any, Seq[Option[Long]])] =
    cb.map(r => (r.get(0), r.getSeq[Any](1).map(Option(_)
      .map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])))))

  /** `rows` dealt into exactly `n` partitions, in order. */
  private def frameOf(rows: Seq[Row], schema: StructType, n: Int): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, n), schema)

  private def assertMatches(rows: Seq[Row], schema: StructType,
                            key: String): Unit = {
    val weighted = Det.r6(sum(col("col") * col("m")) / sum(col("m")))
    val byPartitions = for (n <- Seq(1, 4, 8)) yield {
      val f = frameOf(rows, schema, n)
      val avg1 = bits(trained(f, key, None))
      val avg2 = bits(trained(f, key, None))
      val w1 = bits(trained(f, key, Some(col("m"))))
      val w2 = bits(trained(f, key, Some(col("m"))))
      assert(avg1 == avg2 && w1 == w2, s"second run differs at $n partitions")
      assert(avg1 == bits(reference(f.drop("m"), key)),
        s"avg codebook differs from the aggregate at $n partitions")
      assert(w1 == bits(reference(f, key, weighted)),
        s"weighted codebook differs from the aggregate at $n partitions")
      (avg1, w1)
    }
    assert(byPartitions.distinct.size == 1,
      "codebook depends on the partition count")
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("e", ArrayType(DoubleType)),
    StructField("m", LongType)))

  test("edge cases: null vectors and components, an all-NULL dimension, " +
    "ragged vectors, a null key, null weights") {
    val nul: Any = null
    def row(k: Any, e: Seq[Any], m: Any) = Row(k, e, m)
    val edge = Seq(
      row(1L, Seq(0.1, 0.2, nul), 2L),
      row(1L, Seq(0.3, nul, nul), 1L),
      // longer: key 1's cv has 4 components, the third NULL throughout
      row(1L, Seq(1.0 / 3, 0.7, nul, 0.05), 3L),
      row(1L, null, 5L),
      row(2L, Seq(), 1L),
      row(2L, Seq(2.5e-7, -1.25), 4L),
      row(2L, Seq(-0.1, 9.999999), nul),
      row(nul, Seq(0.123456789, 1.0), 2L),
      row(nul, Seq(nul, 2.0), 1L),
      // only a null vector: no entry at all
      row(3L, null, 1L),
      // only a null weight: a weighted entry of NULLs
      row(4L, Seq(0.5, -0.5), nul))
    // enough rows per key that every partition holds several partials
    val rnd = new scala.util.Random(7)
    val bulk = Seq.tabulate(400) { i =>
      row((i % 5).toLong + 5, Seq.fill(8)(
        if (rnd.nextInt(10) == 0) nul else rnd.nextGaussian() / 3), (i % 4 + 1).toLong)
    }
    val cb = trained(frameOf(edge, schema, 1), "k", None)
    assert(cb.map(_.get(0)) == Seq(null, 1L, 2L, 4L), cb)
    assert(cb(1).getSeq[Any](1).map(Option(_).isEmpty) ==
      Seq(false, false, true, false), cb(1))
    assertMatches(edge ++ bulk, schema, "k")
  }

  test("the embeddings: an int label key, weighted by a class count") {
    val f = Tables.embeddings(s, SparkTestBase.sfDir)
      .select(col("label").as("k"), ops.Llm.widen(col("embedding")).as("e"),
        (col("vec_id") % 3 + 1).as("m"))
    val rows = f.collect().toSeq
    assert(rows.nonEmpty)
    assertMatches(rows, f.schema, "k")
  }
}
