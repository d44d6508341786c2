package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.operators.Similarity
import graft.sources.Tables.t

/** Additional TPC-H-shaped query forms (disjunctive predicates, HAVING,
  * correlated scalar subqueries, country-code anti-join) plus the IVF and
  * LSH-bucketed similarity entries.
  */
object TpchExtraQueries {

  private def dec6(c: Column): Column = c.cast(DecimalType(18, 6))
  private def d(c: Column): Column = c.cast(DoubleType)

  // q27: disjunctive multi-column predicate (TPC-H Q19 shape) — an OR of
  // conjunctive brackets across the join, partially pushable per branch.
  def q27Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("l_quantity") >= 1 && col("l_quantity") <= 15 &&
          col("p_size") >= 1 && col("p_size") <= 10) ||
        (col("p_brand") === "Brand#7" && col("l_quantity") >= 10 && col("l_quantity") <= 25 &&
          col("p_size") >= 5 && col("p_size") <= 20) ||
        (col("p_brand") === "Brand#13" && col("l_quantity") >= 20 && col("l_quantity") <= 35))
      .agg(
        d(round(sum(dec6(col("l_extendedprice")) * dec6(lit(1.0) - col("l_discount"))), 6)).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  // q28: HAVING over grouped aggregation (supplier part-supply value).
  def q28Having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(d(sum(dec6(col("l_quantity")))).as("total_qty"), count(lit(1)).as("n"))
      .filter(col("total_qty") > 7000.0)
      .orderBy(col("l_suppkey"))

  // q29: correlated scalar aggregate (TPC-H Q17 shape) — lines below 50% of
  // their part's average quantity. Spark expresses the correlation as a
  // window average (one pass, no rejoin); DuckDB uses the literal
  // correlated subquery — same semantics.
  def q29AvgQtyFraction(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val w = Window.partitionBy(col("l_partkey"))
    li.withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(
        d(round(sum(dec6(col("l_extendedprice"))) / 7.0, 6)).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  // q30: country-code anti-join with scalar-subquery threshold (Q22 shape):
  // customers in selected code buckets with above-average balance and no
  // orders. The scalar stays IN the plan — a broadcast cross join of the
  // 1-row average — so the whole query is one job and Catalyst sees the
  // full tree (no eager driver-side collect).
  def q30CountryCode(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .withColumn("cntrycode", substring(col("c_name"), 10, 2))
    val codes = Seq("00", "01", "02", "03", "04")
    val inCodes = c.filter(col("cntrycode").isin(codes: _*))
    val avgBal = inCodes.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal")).as("__avg_bal"))
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
    inCodes.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("__avg_bal"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        d(round(sum(dec6(col("c_acctbal"))), 6)).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  // x19: banded range join — orders counted into calendar-week intervals
  // (no equi-key; the band trick turns it into a hash join).
  def x19RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val weeks = graft.operators.Calendar.build(s, "1995-01-01", "2001-12-31")
      .select(col("week_start"), col("week_end")).distinct()
      .select(
        col("week_start"),
        unix_timestamp(col("week_start")).as("ws"),
        // end of week_end day: inclusive BETWEEN over timestamps
        (unix_timestamp(col("week_end")) + 86399L).as("we"))
    val orders = t(s, dir, "orders")
      .select(unix_timestamp(col("o_orderdate")).as("ots"))
    graft.operators.RangeJoin.pointInInterval(
        orders, weeks, "ots", "ws", "we", bandWidth = 7L * 86400L)
      .groupBy(col("week_start"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("week_start"))
  }

  // x17: IVF ANN (probe=1, 8 centroids, 2 deterministic k-means
  // iterations — the DuckDB oracle replays the training bit-for-bit).
  def x17IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5, nCentroids = 8,
        iterations = 2)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  // x60: incrementally-maintained IVF vector index — the ANN twin of
  // x46's incremental dedup index. Centroids train ONCE on the first
  // ingest batch and persist; the second batch is assigned with the
  // frozen centroids and appended to a cluster-ranged vectors table, so
  // ingest cost tracks the batch, never the index history. The query
  // probes its 2 nearest centroids and the candidate scan is point-pruned
  // to index files whose cluster range admits a probed cluster. The
  // DuckDB oracle replays training on batch 1 bit-for-bit (kmeansCtes
  // with a train filter) and the probe exactly.
  def x60IncrementalIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val r = emb.agg(min(col("vec_id")).cast("long"),
      max(col("vec_id")).cast("long")).head()
    val cut = (r.getLong(0) + r.getLong(1)) / 2
    val store = Scratch.store(s, "graft_ext_ivf")
    Scratch.sealing(store) {
      Similarity.incrementalIvfAppend(store, "ivf.centroids", "ivf.vectors",
        emb.filter(col("vec_id") <= cut), nCentroids = 8, iterations = 2)
      Similarity.incrementalIvfAppend(store, "ivf.centroids", "ivf.vectors",
        emb.filter(col("vec_id") > cut), nCentroids = 8, iterations = 2)
      Similarity.incrementalIvfTopK(store, "ivf.centroids", "ivf.vectors",
          emb.filter(col("vec_id") < 10), k = 5, probes = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
        .orderBy(col("query_id"), col("rk"))
    }
  }

  // x18: LSH-bucketed embedding near-dup pairs (16 buckets).
  def x18LshNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairsLsh(t(s, dir, "embeddings"), threshold = 0.4, nBits = 4, dim = 64)
      .orderBy(col("id_a"), col("id_b"))

  // x21: LSH-bucketed ANN top-k (probe=1) — the bucketed counterpart of
  // x5's exact top-k; deterministic buckets make even the approximate
  // result oracle-exact.
  def x21LshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5, nBits = 4, dim = 64)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  // x25: int8-quantized brute-force top-k (x5's shape over 4× smaller
  // vectors). All quantized values are exact small integers, so the DuckDB
  // oracle reproduces the scores bit-for-bit.
  def x25QuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("neighbor_id"), col("qcos_sim"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  // x29: product-quantization ANN (4 subspaces × 8 centroids, ADC
  // scoring). The oracle replays per-subspace k-means training, encoding
  // AND the ADC table lookups exactly — every sum is BIGINT micro-units.
  def x29PqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        m = 4, dim = 64, nCentroids = 8, iterations = 2)
      .select(col("query_id"), col("neighbor_id"), col("pq_sim"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  // x36: semantic (embedding-space) dedup — k-means cluster the corpus
  // (8 centroids, 2 deterministic Lloyd iterations), keep the lowest id
  // per cluster as canonical, flag the rest as redundant. The SemDeDup-
  // style diversity pass of corpus curation; the oracle replays training
  // bit-for-bit like x17.
  def x36SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(s, dir, "embeddings"), nCentroids = 8, iterations = 2)
      .orderBy(col("vec_id"))

  // x68: fixed-iteration PageRank over the part co-purchase graph (parts
  // sharing an order are linked). All arithmetic in BIGINT micro-units
  // (rank×1e6, damping 17/20, integral div) so long sums are exact and
  // order-independent — the DuckDB oracle replays all 3 unrolled
  // iterations bit-for-bit. One shuffle per iteration (the contribution
  // aggregation); the edge list materializes once.
  def x68PageRank(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val e = li.alias("a").join(li.alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    graft.operators.Graph.pageRank(e, iterations = 3)
      .select(col("id").as("part_id"), col("pr"))
      .orderBy(col("pr").desc, col("part_id"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x68_pagerank" -> x68PageRank _,
    "x36_semantic_dedup" -> x36SemanticDedup _,
    "x29_pq_topk" -> x29PqTopK _,
    "x21_lsh_topk" -> x21LshTopK _,
    "x25_quantized_topk" -> x25QuantizedTopK _,
    "q27_disjunctive" -> q27Disjunctive _,
    "q28_having" -> q28Having _,
    "q29_avg_qty_fraction" -> q29AvgQtyFraction _,
    "q30_country_code" -> q30CountryCode _,
    "x17_ivf_topk" -> x17IvfTopK _,
    "x19_range_join" -> x19RangeJoin _,
    "x18_lsh_neardup" -> x18LshNearDup _,
    "x60_incremental_ivf" -> x60IncrementalIvf _)

  private def bucketSql(alias: String): String =
    Similarity.lshComponents(4, 64).zipWithIndex.map { case (comp, b) =>
      s"CASE WHEN $alias.embedding[${comp + 1}] >= 0 THEN ${1L << b} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** DuckDB replay of Similarity.ivfTopK incl. the deterministic k-means
    * training: one (assign → exact scaled-integer sums → float means) CTE
    * trio per Lloyd iteration, then probe-1 search over the final
    * centroids. Sums are BIGINT micro-units, so they are exact and
    * order-independent in both engines. */
  private def dotL(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))""".stripMargin
  private def cnrm(c: String): String = s"sqrt(${dotL(c, c)})"

  /** The shared k-means replay: CTE list (no WITH) ending in an
    * `assigned` CTE of (vec_id, embedding, nrm, cluster) — the training
    * prefix of [[ivfOracle]], also reused by the x36 semantic-dedup
    * oracle. */
  /** `trainWhere` (a SQL predicate over `n`, empty = whole corpus)
    * restricts the k-means TRAINING slice; the final `assigned` CTE always
    * covers the whole corpus with the trained centroids — the shape the
    * incremental index (x60) needs, and a no-op for x17/x36. */
  private def kmeansCtes(nCentroids: Int, iterations: Int,
      trainWhere: String = "TRUE"): String = {
    val iterCtes = (1 to iterations).map { j =>
      val prev = s"cent${j - 1}"
      s"""a$j AS (
         |  SELECT vec_id, embedding, cluster FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id AS cluster,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ROUND(${dotL("e.embedding", "c.cvec")}
         |          / (e.nrm * ${cnrm("c.cvec")}), 6) DESC, c.centroid_id) AS rk
         |    FROM tr e CROSS JOIN $prev c) WHERE rk = 1),
         |s$j AS (
         |  SELECT cluster, u.i AS pos,
         |    SUM(CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1e6) AS BIGINT)) AS s,
         |    COUNT(*) AS cnt
         |  FROM a$j, UNNEST(range(1, len(embedding)+1)) AS u(i)
         |  GROUP BY cluster, u.i),
         |cent$j AS (
         |  SELECT cluster AS centroid_id,
         |    list(CAST(CAST(s AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1e6) AS FLOAT) ORDER BY pos) AS cvec
         |  FROM s$j GROUP BY cluster)""".stripMargin
    }.mkString(",\n")

    s"""n AS (
       |  SELECT vec_id, embedding, ${cnrm("embedding")} AS nrm
       |  FROM embeddings),
       |tr AS (SELECT * FROM n WHERE $trainWhere),
       |cent0 AS (
       |  SELECT vec_id AS centroid_id, embedding AS cvec
       |  FROM tr ORDER BY vec_id LIMIT $nCentroids),
       |$iterCtes,
       |assigned AS (
       |  SELECT vec_id, embedding, nrm, cluster FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, c.centroid_id AS cluster,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ROUND(${dotL("e.embedding", "c.cvec")}
       |          / (e.nrm * ${cnrm("c.cvec")}), 6) DESC, c.centroid_id) AS rk
       |    FROM n e CROSS JOIN cent$iterations c) WHERE rk = 1)""".stripMargin
  }

  private def ivfOracle(nCentroids: Int, iterations: Int, k: Int): String = {
    s"""WITH ${kmeansCtes(nCentroids, iterations)},
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROUND(${dotL("q.embedding", "c.embedding")}
       |      / (q.nrm * c.nrm), 6) AS cos_sim
       |  FROM assigned q JOIN assigned c ON q.cluster = c.cluster
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= $k
       |ORDER BY query_id, rk""".stripMargin
  }

  /** DuckDB replay of the incremental IVF index (x60): train on the
    * id-lower half only, assign the WHOLE corpus with the frozen
    * centroids, then the nprobe-2 probe with exact cosine inside the
    * probed clusters. */
  private def incIvfOracle(nCentroids: Int, iterations: Int, k: Int,
      probes: Int): String = {
    val train = "vec_id <= (SELECT (MIN(vec_id)+MAX(vec_id))//2 FROM embeddings)"
    s"""WITH ${kmeansCtes(nCentroids, iterations, train)},
       |probed AS (
       |  SELECT vec_id AS query_id, embedding AS qemb, nrm AS qnrm, cluster FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, c.centroid_id AS cluster,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ROUND(${dotL("e.embedding", "c.cvec")}
       |          / (e.nrm * ${cnrm("c.cvec")}), 6) DESC, c.centroid_id) AS rk
       |    FROM n e CROSS JOIN cent$iterations c WHERE e.vec_id < 10) WHERE rk <= $probes),
       |scored AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
       |    ROUND(${dotL("p.qemb", "a.embedding")} / (p.qnrm * a.nrm), 6) AS cos_sim
       |  FROM probed p JOIN assigned a ON p.cluster = a.cluster AND a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= $k
       |ORDER BY query_id, rk""".stripMargin
  }

  /** DuckDB replay of Similarity.pqTopK: per subspace, the ivfOracle
    * training trio over the vector SLICE, then first-centroid encoding, a
    * per-query ADC table of BIGINT micro-unit partial dots, and the summed
    * ADC score. Exact in both engines for the same reasons as x17. */
  private def pqOracle(m: Int, dim: Int, nCentroids: Int, iterations: Int, k: Int): String = {
    val sub = dim / m
    def dotL(a: String, b: String): String =
      s"""list_sum(list_transform(range(1, len($a)+1),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))""".stripMargin
    def cnrm(c: String): String = s"sqrt(${dotL(c, c)})"

    val subCtes = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = (s + 1) * sub
      val iterCtes = (1 to iterations).map { j =>
        val prev = if (j == 1) s"c0_$s" else s"c${j - 1}_$s"
        s"""a${j}_$s AS (
           |  SELECT vec_id, sv, cluster FROM (
           |    SELECT e.vec_id, e.sv, c.centroid_id AS cluster,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ROUND(${dotL("e.sv", "c.cvec")} / (e.snrm * ${cnrm("c.cvec")}), 6) DESC,
           |        c.centroid_id) AS rk
           |    FROM n_$s e CROSS JOIN $prev c) WHERE rk = 1),
           |s${j}_$s AS (
           |  SELECT cluster, u.i AS pos,
           |    SUM(CAST(ROUND(CAST(sv[u.i] AS DOUBLE) * 1e6) AS BIGINT)) AS sm,
           |    COUNT(*) AS cnt
           |  FROM a${j}_$s, UNNEST(range(1, len(sv)+1)) AS u(i)
           |  GROUP BY cluster, u.i),
           |c${j}_$s AS (
           |  SELECT cluster AS centroid_id,
           |    list(CAST(CAST(sm AS DOUBLE) / (CAST(cnt AS DOUBLE) * 1e6) AS FLOAT) ORDER BY pos) AS cvec
           |  FROM s${j}_$s GROUP BY cluster)""".stripMargin
      }.mkString(",\n")
      s"""n_$s AS (
         |  SELECT vec_id, embedding[$lo:$hi] AS sv, ${cnrm(s"embedding[$lo:$hi]")} AS snrm
         |  FROM embeddings),
         |c0_$s AS (
         |  SELECT vec_id AS centroid_id, sv AS cvec FROM n_$s ORDER BY vec_id LIMIT $nCentroids),
         |$iterCtes,
         |codes_$s AS (
         |  SELECT vec_id, $s AS subspace, cluster AS code FROM (
         |    SELECT e.vec_id, c.centroid_id AS cluster,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ROUND(${dotL("e.sv", "c.cvec")} / (e.snrm * ${cnrm("c.cvec")}), 6) DESC,
         |        c.centroid_id) AS rk
         |    FROM n_$s e CROSS JOIN c${iterations}_$s c) WHERE rk = 1),
         |tab_$s AS (
         |  SELECT q.vec_id AS query_id, $s AS subspace, c.centroid_id AS code,
         |    CAST(ROUND(${dotL("q.sv", "c.cvec")} * 1e6) AS BIGINT) AS pdot_micro,
         |    CAST(ROUND(${dotL("c.cvec", "c.cvec")} * 1e6) AS BIGINT) AS c2_micro
         |  FROM n_$s q CROSS JOIN c${iterations}_$s c WHERE q.vec_id < 10)""".stripMargin
    }.mkString(",\n")

    s"""WITH $subCtes,
       |codes AS (${(0 until m).map(s => s"SELECT * FROM codes_$s").mkString(" UNION ALL ")}),
       |tabs AS (${(0 until m).map(s => s"SELECT * FROM tab_$s").mkString(" UNION ALL ")}),
       |qn AS (
       |  SELECT vec_id AS query_id, ${cnrm("embedding")} AS qnrm
       |  FROM embeddings WHERE vec_id < 10),
       |summed AS (
       |  SELECT t.query_id, c.vec_id,
       |    CAST(SUM(t.pdot_micro) AS BIGINT) AS pd, CAST(SUM(t.c2_micro) AS BIGINT) AS c2
       |  FROM codes c JOIN tabs t ON c.subspace = t.subspace AND c.code = t.code
       |  GROUP BY t.query_id, c.vec_id),
       |scored AS (
       |  SELECT s.query_id, s.vec_id AS neighbor_id,
       |    ROUND((CAST(pd AS DOUBLE) / 1e6) /
       |      (q.qnrm * sqrt(CAST(c2 AS DOUBLE) / 1e6)), 6) AS pq_sim
       |  FROM summed s JOIN qn q ON s.query_id = q.query_id
       |  WHERE s.query_id <> s.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pq_sim DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, pq_sim, rk FROM ranked WHERE rk <= $k
       |ORDER BY query_id, rk""".stripMargin
  }

  /** One PageRank round in SQL: contributions (rank // outdeg) summed per
    * destination, damped in integer space. HUGEINT sums are cast back to
    * BIGINT so the schema matches Spark's. */
  private def prRound(prev: String, next: String): String =
    s"""s_$next AS (
       |  SELECT e.dst AS id, SUM($prev.pr // deg.outdeg) AS s
       |  FROM e JOIN deg USING (src) JOIN $prev ON $prev.id = e.src
       |  GROUP BY e.dst),
       |$next AS (
       |  SELECT n.id, CAST(150000 + (17 * COALESCE(s_$next.s, 0)) // 20 AS BIGINT) AS pr
       |  FROM nodes n LEFT JOIN s_$next ON s_$next.id = n.id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "x68_pagerank" ->
      s"""WITH e AS (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         |${prRound("r0", "r1")},
         |${prRound("r1", "r2")},
         |${prRound("r2", "r3")}
         |SELECT id AS part_id, pr FROM r3 ORDER BY pr DESC, part_id""".stripMargin,
    "x29_pq_topk" -> pqOracle(m = 4, dim = 64, nCentroids = 8, iterations = 2, k = 5),
    "x21_lsh_topk" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
         |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, embedding, nrm, ${bucketSql("n")} AS bucket FROM n),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROUND(list_sum(list_transform(range(1, len(q.embedding)+1),
         |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
         |      / (q.nrm * c.nrm), 6) AS cos_sim
         |  FROM b q JOIN b c ON q.bucket = c.bucket
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin,
    "q27_disjunctive" ->
      """SELECT
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(CAST(1.0 AS DOUBLE)-l_discount AS DECIMAL(18,6))), 6) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 15 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#7' AND l_quantity BETWEEN 10 AND 25 AND p_size BETWEEN 5 AND 20)
        |   OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 20 AND 35)""".stripMargin,
    "q28_having" ->
      """SELECT l_suppkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_suppkey
        |HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 7000.0
        |ORDER BY l_suppkey""".stripMargin,
    "q29_avg_qty_fraction" ->
      """SELECT
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) / 7.0, 6) AS DOUBLE) AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM lineitem l1
        |WHERE l_quantity < 0.5 * (
        |  SELECT AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    "q30_country_code" ->
      """SELECT cntrycode, COUNT(*) AS numcust,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 6) AS DOUBLE) AS totacctbal
        |FROM (SELECT SUBSTRING(c_name, 10, 2) AS cntrycode, c_acctbal, c_custkey FROM customer) c
        |WHERE cntrycode IN ('00','01','02','03','04')
        |  AND c_acctbal > (
        |    SELECT AVG(c_acctbal) FROM customer
        |    WHERE SUBSTRING(c_name, 10, 2) IN ('00','01','02','03','04') AND c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin,
    "x19_range_join" ->
      """WITH days AS (
        |  SELECT CAST(UNNEST(generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY)) AS DATE) AS d),
        |weeks AS (
        |  SELECT DISTINCT d - CAST(isodow(d) - 1 AS INT) AS week_start,
        |    d - CAST(isodow(d) - 1 AS INT) + 6 AS week_end
        |  FROM days)
        |SELECT week_start, COUNT(*) AS n_orders
        |FROM weeks JOIN orders
        |  ON CAST(o_orderdate AS DATE) BETWEEN week_start AND week_end
        |GROUP BY week_start ORDER BY week_start""".stripMargin,
    "x17_ivf_topk" -> ivfOracle(nCentroids = 8, iterations = 2, k = 5),
    "x60_incremental_ivf" ->
      incIvfOracle(nCentroids = 8, iterations = 2, k = 5, probes = 2),
    "x36_semantic_dedup" ->
      s"""WITH ${kmeansCtes(nCentroids = 8, iterations = 2)},
         |canon AS (
         |  SELECT vec_id, cluster,
         |    MIN(vec_id) OVER (PARTITION BY cluster) AS canonical_id
         |  FROM assigned)
         |SELECT vec_id, cluster, canonical_id,
         |  vec_id = canonical_id AS is_kept
         |FROM canon ORDER BY vec_id""".stripMargin,
    "x25_quantized_topk" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(ROUND(
        |      CAST(x AS DOUBLE) / greatest(
        |        list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30) * 127)
        |      AS INT)) AS qvec
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, qvec,
        |    sqrt(list_sum(list_transform(range(1, len(qvec)+1),
        |      i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)))) AS nrm
        |  FROM q),
        |scored AS (
        |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROUND(list_sum(list_transform(range(1, len(a.qvec)+1),
        |      i -> CAST(a.qvec[i] AS DOUBLE) * CAST(c.qvec[i] AS DOUBLE)))
        |      / (a.nrm * c.nrm), 6) AS qcos_sim
        |  FROM n a JOIN n c ON a.vec_id < 10 AND c.vec_id <> a.vec_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos_sim DESC, neighbor_id) AS rk
        |  FROM scored)
        |SELECT query_id, neighbor_id, qcos_sim, rk FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin,
    "x18_lsh_neardup" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
         |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id, embedding, nrm, ${bucketSql("n")} AS bucket FROM n)
         |SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
         |  ROUND(list_sum(list_transform(range(1, len(a.embedding)+1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(bb.embedding[i] AS DOUBLE)))
         |    / (a.nrm * bb.nrm), 6) AS cos_sim
         |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         |WHERE list_sum(list_transform(range(1, len(a.embedding)+1),
         |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(bb.embedding[i] AS DOUBLE)))
         |    / (a.nrm * bb.nrm) >= 0.3999995
         |ORDER BY id_a, id_b""".stripMargin)
}
