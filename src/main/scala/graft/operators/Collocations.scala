package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus-level term statistics: bigram collocation mining (association
  * lift, the log-free monotone twin of PMI) and inverted-index posting-list
  * construction. Both are curation primitives a training-data pipeline
  * runs corpus-wide — collocations to surface boilerplate phrases and
  * domain vocabulary, posting lists to drive targeted retrieval and
  * decontamination audits (the reference's SQL warehouse offers LIKE
  * search at best; see tb-lakehouse-enhanced README.md:143-161).
  *
  * Exactness discipline matches [[Retrieval]]: association strength is the
  * integer-rational `c_xy * N * 1e6 div (c_x * c_y)` (monotone in PMI
  * `log(p_xy / (p_x p_y))` at fixed N) computed entirely in BIGINT, so the
  * DuckDB oracle reproduces every bit — no libm `log`, no float reduction
  * order. At true 100 TB vocabulary sizes the product `c_xy * N * 1e6`
  * approaches 2^63 for stop-word pairs; the production knob is the same
  * expression over DECIMAL(38,0), which Catalyst codegens just as well.
  *
  * Scale shape (both operators): one tokenize projection (no shuffle),
  * partial-agg groupBys on term keys (map-side combine collapses the
  * per-partition stream to vocabulary size, which is small relative to the
  * corpus), and for lift a vocabulary-keyed join. The vocabulary joins
  * carry NO broadcast hint: vocabulary cardinality is unbounded (Heaps'
  * law puts a web corpus's distinct-token count in the billions — typos,
  * URLs, numbers), so a forced `broadcast()` would OOM the driver at scale
  * instead of degrading. Both vocab frames sit immediately behind an
  * aggregate's shuffle stage, so AQE measures their REAL size at runtime
  * and converts the join to a broadcast hash join exactly when the
  * vocabulary fits (it does at every tested scale — PlanSpec pins that as
  * a fixture-scale reading) and to a shuffled equi-join when it doesn't
  * (ExtensionSpec forces the gate shut and pins identical results). Same
  * remedy as [[Dedup.contaminationReport]]'s size gate, but free: no
  * pre-scan needed when the planner can read the size off a finished
  * stage. The bigram explode is array-local `transform` over each
  * document's own token array — adjacent pairs never cross a row, so no
  * positional self-join and no shuffle to form them.
  */
object Collocations {

  private def tokens(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol), explode(split(TextFunctions.normalizeText(col(textCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)

  /** Top-`k` bigram collocations by integer-micro-unit lift
    * `c_xy * N * 1e6 div (c_x * c_y)` among bigrams seen at least
    * `minCount` times. Returns (w1, w2, c_xy, c_x, c_y, lift_micro)
    * ordered lift desc, count desc, then lexically — a global top-k, so
    * the sort is a TakeOrdered, not a full exchange. */
  def bigramLift(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long, k: Int): DataFrame = {
    val ws = split(TextFunctions.normalizeText(col(textCol)), " ")
    val uni = tokens(docs, idCol, textCol)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    // corpus token total stays IN the plan (one-row frame → broadcast)
    val total = uni.agg(sum(col("c")).cast("long").as("n_tokens"))
    // adjacent pairs are array-local: transform over each doc's own tokens
    val pairs = docs.select(ws.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
    val cxy = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    // no broadcast hint: the unigram vocabulary is corpus-unbounded; AQE
    // reads its true post-agg size and broadcasts only when it fits
    cxy
      .join(uni.select(col("term").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("term").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(total)
      .withColumn("lift_micro", expr("(c_xy * n_tokens * 1000000) div (c_x * c_y)"))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"), col("lift_micro"))
      .orderBy(col("lift_micro").desc, col("c_xy").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Posting-list inverted index: one row per term with document frequency
    * `df`, corpus term frequency `total_tf`, and the posting list itself
    * as a canonical `"docId:tf,docId:tf,…"` string sorted by document id.
    * Terms outside [minDf, maxDf] are dropped — the maxDf cut is the
    * stop-word guard that keeps any single posting row bounded (real
    * engines shard hot postings; a df cap is the relational equivalent).
    * Collect is per-term and df-bounded, never corpus-bounded. */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long, maxDf: Long): DataFrame = {
    val tf = tokens(docs, idCol, textCol)
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
        array_join(
          transform(
            sort_array(collect_list(struct(col(idCol).as("id"), col("tf")))),
            p => concat(p.getField("id").cast("string"), lit(":"), p.getField("tf").cast("string"))),
          ",").as("postings"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
      .select(col("term"), col("df"), col("total_tf"), col("postings"))
      .orderBy(col("term"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the word co-occurrence graph — words are linked when they appear
    * within `window` positions of each other in some document — then the
    * top-`k` words by rank. The unsupervised "what is this corpus about"
    * primitive: centrality in the co-occurrence graph beats raw frequency
    * because a word that co-occurs with many DISTINCT central words
    * outranks a word that merely repeats.
    *
    * Composition of the engine's own parts: pair formation is array-local
    * like [[bigramLift]] (each doc's token array yields its own
    * within-window pairs — no positional self-join), the distinct edge
    * set is keyed by the 60-bit [[Dedup.shingleHash]] so the three
    * PageRank iterations shuffle 8-byte ids instead of word strings, and
    * [[Graph.pageRank]] supplies the exact BIGINT micro-unit iteration.
    * The word↔id dictionary is vocabulary-sized — unbounded at corpus
    * scale, so it carries no broadcast hint; it sits behind its own
    * distinct's shuffle stage, and AQE broadcasts it onto the final ranks
    * only when its measured size fits. The cut is a TakeOrdered.
    */
  def textRank(docs: DataFrame, textCol: String = "text", window: Int = 2,
      iterations: Int = 3, k: Int = 20): DataFrame = {
    require(window >= 1, "window must be at least 1")
    require(k > 0, "k must be positive")
    val ws = split(TextFunctions.normalizeText(col(textCol)), " ")
    val pairs = docs.select(ws.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(1, least($window, size(ws) - 1)),
           |  o -> transform(sequence(0, size(ws) - 1 - o),
           |    i -> struct(ws[i] AS wa, ws[i + o] AS wb))))""".stripMargin)).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .filter(length(col("wa")) > 0 && length(col("wb")) > 0 &&
        col("wa") =!= col("wb"))
    val und = pairs
      .select(least(col("wa"), col("wb")).as("a"),
        greatest(col("wa"), col("wb")).as("b"))
      .distinct()
    val sym = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val ranks = Graph.pageRank(
      sym.select(Dedup.shingleHash(col("a")).as("src"),
        Dedup.shingleHash(col("b")).as("dst")),
      iterations = iterations)
    val dict = und.select(col("a").as("word"))
      .union(und.select(col("b").as("word")))
      .select(col("word"), Dedup.shingleHash(col("word")).as("id"))
      .distinct()
    // no broadcast hint — see scaladoc: AQE sizes the dictionary itself
    ranks.join(dict, "id")
      .select(col("word"), col("pr"))
      .orderBy(col("pr").desc, col("word"))
      .limit(k)
      .withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("pr").desc, col("word"))))
  }
}
