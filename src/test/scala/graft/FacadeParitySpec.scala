package graft

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Each facade method that shares its body with a scored query,
  * run on that query's input at sf0.001, returns the query's rows. One
  * row per pair: the scored query's name, the columns both sides
  * report, and the facade call on the query's input. */
class FacadeParitySpec extends AnyFunSuite {
  private def s = SparkTestBase.spark
  private val sf = SparkTestBase.sfDir

  // q_llm_pii's synthesized contact line, appended to every document
  private def contact = concat(col("text"),
    lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
    lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" cc admin"), col("doc_id"), lit("@example.org")))
      .otherwise(lit("")))

  private def trainEval(s: SparkSession) = {
    val docs = T.documents(s, sf)
    Graft.decontaminate(docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
  }

  private val pairs: Seq[(String, Seq[String], SparkSession => DataFrame)] = Seq(
    ("q_llm_sim_search", Seq("query_id", "rank", "match_id", "cos_sim"), s => {
      val e = T.embeddings(s, sf)
      Graft.cosineTopK(e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", 10)
    }),
    ("q_llm_domain_cap", Seq("domain", "doc_id"), s =>
      Graft.capPerDomain(T.documents(s, sf).select(col("doc_id"),
          concat(lit("site"), col("doc_id") % 7, lit(".example.com")).as("domain")),
        "doc_id", "domain", 20)),
    ("q_llm_pack", Seq("lang", "shard", "chunk", "n_docs", "chunk_tokens",
        "first_doc", "last_doc"), s =>
      Graft.packSequences(T.documents(s, sf).select(col("doc_id"), col("lang"),
            pmod(col("doc_id"), lit(8)).cast("long").as("shard"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
          "doc_id", col("n_tokens"), 2048, Seq(col("lang"), col("shard")))
        .groupBy(col("lang"), col("shard"), col("chunk"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("chunk_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))),
    ("q_llm_pii", Seq("doc_id", "n_emails", "n_phones", "n_chars_redacted",
        "tail"), s =>
      Graft.scrubPii(T.documents(s, sf).select(col("doc_id"), contact.as("t")),
          "t", Seq("EMAIL" -> "[a-z0-9]+@[a-z]+\\.[a-z]+",
            "PHONE" -> "\\+1-555-[0-9]{4}"))
        .select(col("doc_id"), col("pii_counts")("EMAIL").as("n_emails"),
          col("pii_counts")("PHONE").as("n_phones"),
          length(col("t")).cast("long").as("n_chars_redacted"),
          expr("right(t, 48)").as("tail"))),
    ("q_llm_decontaminate", Seq("train_id", "eval_id", "n_shared"), trainEval),
    ("q_llm_decontaminate_bloom", Seq("train_id", "eval_id", "n_shared"),
      trainEval),
    ("q_topk_per_group", Seq("o_custkey", "o_orderkey", "price"), s =>
      Graft.topKPerGroup(T.orders(s, sf), Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"),
          ops.Det.r2(col("o_totalprice")).as("price"))))

  test("facade methods return their scored query's rows on its input (sf0.001)") {
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val diffs = pairs.flatMap { case (q, cols, facade) =>
      val want = rows(SparkEntry.queries(q)(s, sf), cols)
      val got = rows(facade(s), cols)
      assert(want.nonEmpty, s"$q returned no rows at $sf")
      if (got == want) None
      else Some(s"$q: ${got.size} facade rows vs ${want.size} scored; " +
        s"first difference ${got.diff(want).take(2)} / ${want.diff(got).take(2)}")
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }
}
