package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Keyword retrieval over a document corpus — the ranked-search primitive a
  * training-data pipeline uses for targeted curation (pull every document
  * about X), decontamination audits (find the docs matching an eval probe)
  * and quality forensics. Extends the reference's query surface (its SQL
  * warehouse exposes full-text LIKE search at best) with a proper
  * relevance ranking built entirely from codegen'd relational ops: one
  * tokenize pass, two partial-agg shuffles, a broadcast of the (tiny)
  * query set, and a per-query top-k window.
  *
  * Scoring is BM25 with two exactness twists so a cross-engine oracle can
  * reproduce every bit:
  *
  *   - the idf factor is the LOG-FREE rational form
  *     `(N - df + 0.5) / (df + 0.5)` — monotone in the classic
  *     `ln((N - df + 0.5)/(df + 0.5) + 1)`, so rankings agree, but free of
  *     the libm transcendentals whose last-ulp behavior differs between
  *     engines;
  *   - per-term contributions are truncated to integer micro-units and
  *     summed as BIGINT, so the per-document score is exact and
  *     independent of float reduction order across partitions.
  *
  * All remaining arithmetic is IEEE-754 double +,*,/ over integer-valued
  * inputs, which every engine rounds identically.
  */
object Retrieval {

  /** k1 = 1.2, b = 0.75 — the standard BM25 constants. K1Plus1 is a
    * LITERAL 2.2, not `K1 + 1.0` computed at build time: 1.2 + 1.0 in
    * binary lands exactly between two doubles, so the computed sum and the
    * oracle's parsed literal could legally disagree by one ulp. Every
    * constant here appears as the same decimal literal in the oracle SQL. */
  val K1 = 1.2
  val K1Plus1 = 2.2
  val B = 0.75
  val OneMinusB = 0.25

  /** Top-`k` documents per query for a literal `(queryId, terms)` set.
    * Matching is OR-semantics over normalized whitespace tokens; score is
    * the BIGINT micro-unit BM25 described on the object. Returns
    * (query_id, doc_id, score_micro, rk). */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, Seq[String])], k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val tokens = docs
      .select(col(idCol), explode(split(TextFunctions.normalizeText(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = tokens.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val lens = tokens.groupBy(col(idCol)).agg(count(lit(1)).as("len"))
    // corpus constants stay IN the plan (one-row frame, broadcast by the
    // planner) — no eager driver-side collect
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_tokens"))

    val qterms = queries.flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("query_id", "term")
    // candidate terms ≤ the query vocabulary, so both the query set and the
    // filtered document frequencies broadcast; only tf (corpus-sized)
    // stays distributed
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
      .join(broadcast(qterms.select(col("term")).distinct()), "term")

    val idf = (lit(2.0) * col("n_docs") - lit(2.0) * col("dfreq") + lit(1.0)) /
      (lit(2.0) * col("dfreq") + lit(1.0))
    val tfNorm = (col("tf") * lit(K1Plus1)) /
      (col("tf") + lit(K1) * (lit(OneMinusB) +
        lit(B) * ((col("len") * col("n_docs")).cast("double") / col("total_tokens").cast("double"))))
    val contrib = floor((idf * tfNorm) * lit(1e6)).cast("long")

    val scored = tf
      .join(broadcast(qterms), "term")
      .join(broadcast(dfreq), "term")
      .join(lens, idCol)
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(contrib).as("score_micro"), count(lit(1)).as("n_hit_terms"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col(idCol))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col(idCol), col("score_micro"), col("n_hit_terms"), col("rk"))
  }

  /** Lexical more-like-this: per query document, the top-`k` corpus
    * documents by n-gram Jaccard. The query side is a broadcast of the
    * (few) query docs' shingles; the corpus side is ONE shingle explode +
    * one aggregation — linear in the corpus, never corpus-quadratic
    * (contrast [[Dedup.ngramJaccardPairs]], the declared-quadratic exact
    * baseline). Zero-overlap documents are absent by construction; ties
    * break by doc id. Returns (query_id, doc_id, jac, rk). */
  def jaccardTopK(docs: DataFrame, isQuery: Column, k: Int,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3): DataFrame = {
    val sh = Dedup.shingles(docs, idCol, textCol, n)
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val qsh = sh.join(
        broadcast(docs.filter(isQuery).select(col(idCol).as("q"))),
        sh("doc") === col("q"))
      .select(col("q"), col("shingle"))
    val inter = qsh.alias("q").join(sh.alias("c"),
        col("q.shingle") === col("c.shingle") && col("c.doc") =!= col("q.q"))
      .groupBy(col("q.q").as("query_id"), col("c.doc").as("doc_id"))
      .agg(count(lit(1)).as("n_inter"))
    val jac = inter
      .join(sizes.select(col("doc").as("query_id"), col("n_sh").as("n_q")), Seq("query_id"))
      .join(sizes.select(col("doc").as("doc_id"), col("n_sh").as("n_c")), Seq("doc_id"))
      .withColumn("jac", round(col("n_inter").cast("double") /
        (col("n_q") + col("n_c") - col("n_inter")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("jac").desc, col("doc_id"))
    jac.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("jac"), col("rk"))
  }

  /** Reciprocal-rank fusion (the standard hybrid-retrieval combiner):
    * each ranking contributes `1e12 div (kRrf + rk)` per (query, doc),
    * summed as BIGINT — the BM25 micro-unit trick applied to RRF, so the
    * fused score is exact and reduction-order free, and a cross-engine
    * oracle reproduces every bit. Inputs need (query_id, doc_id, rk);
    * ties break by doc id.
    *
    * Scale shape: the inputs are already per-query top-k (each ranker
    * bounds its own cost — BM25 broadcasts queries, ANN buckets
    * candidates); fusion itself is one union + one partial-agg shuffle
    * over ≤ |rankers|·k·|queries| rows, trivially small at any corpus
    * size. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val u = rankings.map(_.select(col("query_id"), col("doc_id"), col("rk")))
      .reduce(_ unionByName _)
    val scored = u
      .withColumn("contrib", expr(s"CAST(1000000000000 AS BIGINT) div ($kRrf + rk)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("rrf_micro"), count(lit(1)).as("n_rankers"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf_micro"), col("n_rankers"), col("rk"))
  }
}
