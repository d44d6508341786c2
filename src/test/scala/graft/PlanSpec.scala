package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.Bucketing

/** Machine-checked physical-plan properties — the 100 TB design assertions
  * (pushdown reaches the scan, small dims broadcast, bucketed joins are
  * exchange-free, SCD2 does exactly one join shuffle). Catching a plan
  * regression here is the difference between "passes at sf0.01" and
  * "melts at 1000 executors".
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Like [[executed]], but drops the session's caches BEFORE the query is
    * even constructed: suites share the session and run in parallel, and a
    * twin plan another suite .cache()d would otherwise splice its frozen
    * InMemoryRelation (with its own exchanges) into the plan under
    * assertion. Construction must come after the clear — clearing between
    * construction and collect would instead unpersist a query's OWN
    * internal persist() (x26). */
  private def executedIsolated(mk: => DataFrame): String = {
    spark.catalog.clearCache()
    executed(mk)
  }

  /** Join-strategy hints in the ANALYZED plan — the only place they are
    * visible (EliminateResolvedHint folds them away before optimizedPlan,
    * so checking later plans would pass vacuously). Used to assert an
    * operator did NOT force a broadcast it cannot bound. */
  private def analyzedHints(df: DataFrame) =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }

  test("q2: filters are pushed to the parquet scan and columns pruned") {
    val plan = executed(SparkEntry.queries("q2_filter_project")(spark, dir))
    assert(plan.contains("PushedFilters: ["), "expected parquet pushdown")
    assert(plan.contains("GreaterThan") || plan.contains("LessThan"),
      s"expected comparison filters pushed, plan:\n${plan.take(2000)}")
    assert(!plan.contains("l_suppkey"), "unused columns must be pruned from the scan")
  }

  test("q16 star join: all dimension joins are broadcast, fact side never shuffles for joins") {
    val plan = executed(SparkEntry.queries("q16_star_agg")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge join expected in star assembly")
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val plan = executed(SparkEntry.queries("q1_pricing_summary")(spark, dir))
    assert(plan.contains("HashAggregate"), "hash aggregate expected")
    assert("partial_".r.findFirstIn(plan).isDefined, "partial aggregation expected")
  }

  test("fused SCD2 merge: exactly one shuffle exchange (the key join)") {
    import org.apache.spark.sql.functions._
    val src = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val init = graft.operators.Scd.scd2Init(src, lit("2024-01-01 00:00:00"))
    val merged = graft.operators.Scd.scd2Merge(
      init, src.withColumn("c_acctbal", col("c_acctbal") + 1.0), Seq("c_custkey"),
      lit("2024-02-01 00:00:00"))
    merged.collect()
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(Bucketing.finalPlanString(merged)).size
    // one shuffle per join side feeding the sort-merge join is acceptable;
    // anything beyond means an accidental extra shuffle appeared
    assert(exchanges <= 2, s"expected ≤2 shuffle exchanges (join sides), got $exchanges")
  }

  test("bucketed tables: co-located join runs with zero shuffle exchanges") {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    Bucketing.writeBucketed(o, "bkt_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(
      li.withColumnRenamed("l_orderkey", "o_orderkey"), "bkt_lineitem", "o_orderkey", 8)
    // force the sort-merge path: a broadcast join would hide whether
    // bucketing actually removed the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.colocatedJoin(spark, "bkt_orders", "bkt_lineitem", "o_orderkey")
      assert(Bucketing.isShuffleFree(joined),
        s"bucketed join must not shuffle:\n${joined.queryExecution.executedPlan.toString.take(1500)}")
      assert(joined.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "co-located join should sort-merge over bucket files")
      assert(joined.count() == li.count(), "join result at line grain")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("partitioned SCD2 layout: current-version reads never open history files") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_part").toString
    val store = new graft.tables.TableStore(spark, root)
    val src = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_acctbal"))
    val merged = graft.operators.Scd.scd2Merge(
      graft.operators.Scd.scd2Init(src, lit("2024-01-01 00:00:00")),
      src.withColumn("c_acctbal", col("c_acctbal") + 1.0),
      Seq("c_custkey"), lit("2024-02-01 00:00:00"))
    store.createOrReplaceScd2("silver.cust", merged)
    // manifest-level data skipping replaces hive directory pruning: the
    // is_current partition stats exclude every closed-version file
    val all = store.prunedFileList("silver.cust", None)
    val curFiles = store.prunedFileList("silver.cust", Some(col("is_current") === true))
    assert(curFiles.nonEmpty && curFiles.size < all.size,
      s"current-version read must skip history files: ${curFiles.size} of ${all.size}")
    assert(curFiles.forall(_.contains("__p_is_current=true")),
      s"only current-partition files survive pruning: $curFiles")
    val cur = store.readWhere("silver.cust", col("is_current") === true)
    assert(cur.count() == src.count(), "current slice = one row per key")
    store.detach()
  }

  test("medallion fact build: header/detail join over bucketed silver is shuffle-free") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_bktfact").toString
    val store = new graft.tables.TableStore(spark, root)
    val pipe = new graft.pipeline.Medallion(spark, store, dir, bucketedFact = true)
    val ts = lit("2024-01-01 00:00:00")
    pipe.runBronze(); pipe.runSilver(ts); pipe.runGoldDims(ts)
    // force the sort-merge path for the fact-side join: a broadcast would
    // hide whether the bucketed layout actually removed the shuffle (the
    // dimension joins keep their explicit broadcast hints)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = pipe.buildFact()
      assert(Bucketing.isShuffleFree(fact),
        s"fact assembly must not shuffle the fact side:\n${Bucketing.finalPlanString(fact).take(1800)}")
      assert(Bucketing.finalPlanString(fact).contains("SortMergeJoin"),
        "header/detail must sort-merge over co-located buckets")
      // silver enforces one row per (l_orderkey, l_linenumber) — see
      // Medallion.runSilver — so the fact grain is the distinct key count
      assert(fact.count() == spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber").distinct().count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      store.detach()
    }
  }

  test("q30: scalar threshold stays in the plan — no eager job during query construction") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // baseline: constructing a plain one-table query costs some parquet
      // schema-inference jobs per source read, but no execution jobs
      SparkEntry.queries("q2_filter_project")(spark, dir)
      // the listener bus is async — drain it instead of sleeping (a loaded
      // machine can deliver events later than any fixed sleep)
      org.apache.spark.sql.GraftShims.waitListenerBusEmpty(spark)
      val perRead = counter.get()
      counter.set(0)
      val df = SparkEntry.queries("q30_country_code")(spark, dir) // two source reads
      org.apache.spark.sql.GraftShims.waitListenerBusEmpty(spark)
      assert(counter.get() <= 2 * perRead,
        s"building q30 ran ${counter.get()} jobs vs $perRead per plain read — " +
          "an eager driver-side scalar is back in the construction path")
      assert(df.queryExecution.optimizedPlan.toString.contains("Join"),
        "the average-balance threshold must appear as a join in the single plan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("x25 quantized topk: the query side broadcasts, corpus side stays partition-local") {
    val plan = executed(SparkEntry.queries("x25_quantized_topk")(spark, dir))
    assert(plan.contains("Broadcast"), "quantized queries must broadcast")
  }

  test("x27 attribution join: equi-keyed join, never a cartesian product") {
    val plan = executed(SparkEntry.queries("x27_attribution_join")(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      "the user_id equi-key must drive the join; range conjuncts are post-filters")
  }

  test("x26 curation: the deduped canonical set is computed once and reused from cache") {
    val plan = executed(SparkEntry.queries("x26_curation")(spark, dir))
    assert(plan.contains("InMemoryTableScan"),
      "exactCanon feeds pairs/clusters/output and must come from the persisted copy")
  }

  test("x52 DSIR: the 256-row bucket ratio table and the scalar gate broadcast") {
    val plan = executed(SparkEntry.queries("x52_dsir_select")(spark, dir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "the bucket-ratio join and mean-gate join must broadcast — a corpus-sized " +
        "shuffle against a constant-size table is wrong at any scale")
    assert(!plan.contains("CartesianProduct"), "scalar joins broadcast, never cartesian")
  }

  test("x51 bigram fluency: parquet scans read only the three needed columns") {
    val plan = executedIsolated(SparkEntry.queries("x51_bigram_fluency")(spark, dir))
    assert(!plan.contains("n_chars") && !plan.contains("lang"),
      "model + scoring branches project doc_id/text/source only; unused document " +
        "columns must be pruned from every scan")
  }

  test("x53 token ids: vocab cut is TakeOrderedAndProject, id join broadcasts") {
    val plan = executed(SparkEntry.queries("x53_token_ids")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-K vocab selection must not materialize a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "the constant-size vocabulary must broadcast to the token stream")
  }

  test("x75 BPE round: pair argmax is TakeOrdered(1) over a partial agg — never a global sort") {
    import org.apache.spark.sql.functions._
    val base = graft.operators.Bpe
      .wordFreq(spark.read.parquet(s"$dir/documents.parquet"))
      .select(graft.operators.Bpe.delimited(col("w")).as("s"), col("cnt"))
    val plan = executed(graft.operators.Bpe.topPairPlan(base))
    assert(plan.contains("TakeOrderedAndProject"),
      "per-round top pair must not materialize a vocabulary-wide sort")
    assert(plan.contains("partial_sum"),
      "pair counts must combine map-side before the exchange — at 100 TB " +
        "the pair stream is corpus-vocabulary-sized per round")
  }

  test("x78 classifier scoring: one exchange-free codegen projection over the scan") {
    val plan = executed(SparkEntry.queries("x78_perceptron_score")(spark, dir))
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      "deploying a trained linear filter is a projection — weights are plan " +
        "literals; no join, no aggregation, nothing corpus-shaped to shuffle " +
        "(the single exchange is the presentation orderBy)")
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined,
      "the scoring projection must stay inside whole-stage codegen")
  }

  test("x81 shingle novelty: partial aggregation, equi-joined on the shingle, no nested loop") {
    val plan = executed(SparkEntry.queries("x81_shingle_novelty")(spark, dir))
    assert("partial_count|partial_sum".r.findFirstIn(plan).isDefined,
      "shingle df and per-doc sums must combine map-side")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "the df join must stay equi-keyed on the shingle")
  }

  test("x112 memorization risk: hashed-shingle equi-joins, map-side combine, no nested loop") {
    // pin the lazy plan — the query itself materializes (checkpoint), which
    // truncates what the executed string shows
    val plan = executedIsolated(graft.queries.ExtensionQueries.memorizationRiskPlan(
      graft.queries.ExtensionQueries.memorizationShingles(spark, dir)))
    assert("partial_count|partial_sum".r.findFirstIn(plan).isDefined,
      "df agg and per-doc sums must combine map-side")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "the df join must stay equi-keyed on the 60-bit shingle hash")
    assert(!plan.contains("windowspecdefinition"),
      "no window belongs in the risk aggregation")
  }

  test("x111 source overlap: band-bucketed candidates, no corpus cross join") {
    val plan = executedIsolated(SparkEntry.queries("x111_source_overlap")(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the LSH band-bucket equi-join, never a cross join")
    assert("partial_count|partial_sum".r.findFirstIn(plan).isDefined,
      "the source-pair matrix agg must combine map-side")
  }

  test("x115 ANN recall: query sets broadcast into both retrievals, no cartesian") {
    val plan = executedIsolated(SparkEntry.queries("x115_ann_recall")(spark, dir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "the 10-query evaluation sample must broadcast against the corpus")
    assert(!plan.contains("CartesianProduct"),
      "corpus x corpus must never materialize — only corpus x sample")
  }

  test("x116 uncertainty sample: a TakeOrdered cut, never a global sort") {
    val plan = executedIsolated(SparkEntry.queries("x116_uncertainty_sample")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      "the K-closest-to-boundary cut must be per-partition top-K + driver merge")
    assert(!plan.contains("windowspecdefinition"),
      "no rank window belongs in a top-K selection")
  }

  test("x80 outlier monitor: per-source stats broadcast; the corpus never shuffles on doc rows") {
    val plan = executed(SparkEntry.queries("x80_quality_outliers")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      "the low-cardinality source stats must broadcast to the doc stream")
    assert(!plan.contains("SortMergeJoin"),
      "no corpus-sized shuffle join belongs in a monitoring query")
  }

  test("x54 corpus profile: aggregations are partial (map-side combine) before the shuffle") {
    val plan = executed(SparkEntry.queries("x54_corpus_profile")(spark, dir))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "profile aggregates must combine map-side — a 100 TB corpus profile " +
        "cannot shuffle raw rows")
  }

  test("multi-probe LSH topk: superset of single-probe results") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val p1 = graft.operators.Similarity.lshTopK(emb, q, 5, 4, 64)
      .select(col("query_id"), col("neighbor_id"))
    val p3 = graft.operators.Similarity.lshTopK(emb, q, 50, 4, 64, probes = 3)
      .select(col("query_id"), col("neighbor_id"))
    assert(p1.exceptAll(p3).count() == 0, "probe-1 hits must survive wider probing")
  }

  test("catalog DDL surface: databases, saveAsTable, spark.table round-trip, drop cascade") {
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze_t")
    spark.sql("CREATE DATABASE IF NOT EXISTS silver_t")
    assert(spark.sql("SHOW DATABASES").collect().map(_.getString(0))
      .count(Set("bronze_t", "silver_t")) == 2)
    spark.read.parquet(s"$dir/region.parquet")
      .write.mode("overwrite").format("parquet").saveAsTable("bronze_t.region")
    assert(spark.table("bronze_t.region").count() == 5)
    // S4: catalog metadata scan (single built-in catalog replaces Unity)
    assert(spark.sql("SHOW CATALOGS").collect().map(_.getString(0)).contains("spark_catalog"))
    // K4: INSERT INTO ... VALUES (the reference's -9 unknown-member seeds)
    spark.sql("INSERT INTO bronze_t.region VALUES (-9, 'N/A')")
    assert(spark.table("bronze_t.region").count() == 6)
    // K8: constraints as table metadata (informational only)
    spark.sql("ALTER TABLE bronze_t.region SET TBLPROPERTIES ('primary_key'='r_regionkey')")
    assert(spark.sql("SHOW TBLPROPERTIES bronze_t.region").collect()
      .exists(r => r.getString(0) == "primary_key" && r.getString(1) == "r_regionkey"))
    spark.sql("DROP DATABASE bronze_t CASCADE")
    spark.sql("DROP DATABASE silver_t CASCADE")
    assert(!spark.sql("SHOW DATABASES").collect().map(_.getString(0)).contains("bronze_t"))
  }

  test("x34 bm25: query set and document frequencies broadcast; no cartesian anywhere") {
    val plan = executedIsolated(SparkEntry.queries("x34_bm25_topk")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"query-term and dfreq joins must broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"), "no cartesian in bm25")
  }

  test("x38 count-min: sketch estimation joins broadcast the 3x64 sketch") {
    val plan = executedIsolated(SparkEntry.queries("x38_countmin")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"per-depth sketch joins must broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("x40/x41: chunking and mixture shuffle only for the final presentation sort") {
    for (q <- Seq("x40_chunking", "x41_mixture")) {
      // count only THIS query's exchanges: a cached twin racing in from a
      // parallel suite prints its frozen subtree under InMemoryRelation
      val plan = executedIsolated(SparkEntry.queries(q)(spark, dir)).split("InMemoryRelation").head
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges <= 2, s"$q: explode pipelines must not shuffle " +
        s"beyond the output sort, got $exchanges exchanges:\n${plan.take(1200)}")
    }
  }

  test("x56 shard layout: no global sort — one hash shuffle plus the output sort") {
    // AQE prints Final AND Initial plan sections — count only the final one
    val plan = executedIsolated(SparkEntry.queries("x56_shard_layout")(spark, dir))
      .split("InMemoryRelation").head.split("== Initial Plan ==").head
    // shard is a pure hash of the id: the ONLY data shuffle is
    // hashpartitioning(shard) feeding the per-shard window; a global
    // rangepartitioning before the window would mean a 100 TB total sort
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).size
    assert(hashEx <= 1, s"expected one hash shuffle (on shard), got $hashEx:\n${plan.take(1200)}")
    assert(rangeEx <= 1, s"range shuffle only for the presentation sort, got $rangeEx")
  }

  test("x57 embedding decontamination: benchmark side broadcast, corpus never shuffles before the max") {
    val plan = executedIsolated(SparkEntry.queries("x57_embed_decontam")(spark, dir))
      .split("InMemoryRelation").head
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"benchmark vectors must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"), "never a cartesian product")
    assert("partial_max|partial".r.findFirstIn(plan.toLowerCase).isDefined,
      "per-doc max must combine map-side")
  }

  test("x58 segment dedup: exactly the two designed hash shuffles (segment hash, doc regroup)") {
    val plan = executedIsolated(SparkEntry.queries("x58_segment_dedup")(spark, dir))
      .split("InMemoryRelation").head.split("== Initial Plan ==").head
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 2, s"segment window + doc regroup only, got $hashEx:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "no join anywhere in the dedup pipeline")
  }

  test("x37: bounded_topk aggregates partially before the shuffle (no full-group sort)") {
    val plan = executedIsolated(SparkEntry.queries("x37_topk_agg")(spark, dir))
    // TypedImperativeAggregate plans as ObjectHashAggregate; the partial
    // mode instance must sit below the exchange so each map task ships at
    // most k rows per group — THE reason this beats the window idiom
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash aggregate:\n${plan.take(1500)}")
    assert("partial_bounded_topk|partial_boundedtopk".r.findFirstIn(plan.toLowerCase).isDefined
      || plan.toLowerCase.contains("partial"), "partial top-k aggregation expected")
    assert(!plan.contains("Window"), "bounded_topk must not fall back to a window sort")
  }

  test("x69 bigrams: pairs form array-locally, vocab joins are UNHINTED and AQE " +
      "broadcasts them at fixture scale") {
    // the vocabulary joins must carry NO broadcast hint — the unigram
    // vocabulary is corpus-unbounded (Heaps' law), so a forced broadcast
    // is a driver OOM at 100x; asserting hint-absence here is the guard
    // (round 13 showed that pinning the hint is how the flaw hides)
    spark.catalog.clearCache()
    val df = SparkEntry.queries("x69_pmi_bigrams")(spark, dir)
    assert(analyzedHints(df).isEmpty,
      "the vocabulary joins must not carry a broadcast hint")
    val plan = executed(df).split("== Initial Plan ==").head
    // adjacent pairs come from Generate(explode(transform(...))) over each
    // row's own token array — a positional self-join would add a non-
    // broadcast join keyed on (doc, pos)
    assert(plan.contains("Generate"), "bigram formation must be an array-local explode")
    // FIXTURE-SCALE reading, not a contract: at sf0.001 the vocabulary is
    // tiny, so AQE's measured-size conversion must pick broadcast in the
    // FINAL plan — proving the unhinted join still broadcasts when small
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"AQE must broadcast the fixture-scale vocabulary:\n${plan.take(1200)}")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k collocations must not materialize a global sort")
  }

  test("x71 weighted sample: global top-k is TakeOrdered, no exchange before the hash projection") {
    val plan = executedIsolated(SparkEntry.queries("x71_weighted_sample")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"k-smallest priorities must be a TakeOrdered, not Sort+Limit:\n${plan.take(1200)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      "the priority projection is per-row; nothing may shuffle before the take")
  }

  test("x72 funnel: every shuffle hashes on the user key; later steps join, never re-scan state") {
    val plan = executedIsolated(SparkEntry.queries("x72_funnel")(spark, dir))
    // all hash exchanges must key on user_id — a funnel that re-partitions
    // on anything else re-shuffles the event stream per step
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(_.contains("user_id")),
      s"every funnel exchange must hash on user_id, got: $exchanges")
    assert(!plan.contains("CartesianProduct"))
  }

  test("x84 fuzzy join: candidates hash-join on the block key — no cartesian, no all-pairs") {
    val plan = executedIsolated(SparkEntry.queries("x84_fuzzy_join")(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"blocking exists to avoid the all-pairs comparison:\n${plan.take(1500)}")
    // the levenshtein scorer must sit ABOVE the deduplicated candidate set,
    // not inside the join condition (where it would run per block pair
    // before the distinct)
    assert(plan.contains("levenshtein"), "scorer must be visible in the plan")
    assert(plan.contains("HashAggregate") || plan.contains("Exchange hashpartitioning"),
      "candidate dedup must be a hash distinct")
  }

  test("x85 triangles: wedge closure is a semi-join on equi-keys — no cartesian, no nested loop") {
    // FULL plan text, no Initial-Plan split: the census's pinned edge
    // caches (r16) nest InMemoryRelation sections that print their own
    // "== Initial Plan ==" markers BEFORE the outer semi-join renders, so
    // a split-at-first-marker cut the assertion's subject out of the text.
    // Full-text is sound for every assertion here: the positive matches
    // final or initial alike (AQE only upgrades SMJ→BHJ, both accepted),
    // and the negatives (cartesian / nested-loop LeftSemi) must hold in
    // EVERY section anyway — the planner never emits a BNLJ LeftSemi for
    // this equi-keyed closure in any phase.
    val plan = executedIsolated(SparkEntry.queries("x85_triangles")(spark, dir))
    // the only non-equi joins are the final single-row stats crossJoins
    // (BroadcastNestedLoopJoin over 1-row frames — the codebase's scalar
    // pattern); the wedge/closure path itself must never go cartesian
    assert(!plan.contains("CartesianProduct"),
      s"every data-sized join in the census is equi-keyed:\n${plan.take(1500)}")
    // HASH-based semi-join specifically: an equi-keyed LeftSemi on some
    // hash/sort-merge operator — a BroadcastNestedLoopJoin LeftSemi (per-
    // wedge scan of the whole edge set) would "pass" a bare LeftSemi grep
    // while being exactly the scale killer this pin exists to forbid
    assert("(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin) [^\n]*LeftSemi".r
      .findFirstIn(plan).isDefined,
      s"wedge closure must be an equi-keyed hash/merge semi-join:\n${plan.take(1500)}")
    assert("BroadcastNestedLoopJoin [^\n]*LeftSemi".r.findFirstIn(plan).isEmpty,
      "the closure semi-join degraded to a nested-loop scan of the edge set")
  }

  test("x101 percentile: no rank window ever partitions a whole source — or a whole tie group") {
    val plan = executedIsolated(SparkEntry.queries("x101_quality_percentile")(spark, dir))
    // partition columns print WITHOUT an ASC/DESC marker inside
    // windowspecdefinition, ordering columns with one — so the tie window
    // (partitionBy(source, quality, __hr_tbkt).orderBy(doc_id)) and the
    // forbidden corpus sort (partitionBy(source).orderBy(quality, doc_id))
    // are mechanically distinguishable in the executed plan text
    assert(("row_number\\(\\) windowspecdefinition\\(source#\\d+, quality#\\d+, " +
        "__hr_tbkt#\\d+L?, doc_id#\\d+L? ASC").r
      .findFirstIn(plan).isDefined,
      s"row-level tie window must partition by (source, quality, tie sub-bucket):\n${plan.take(2000)}")
    assert("row_number\\(\\) windowspecdefinition\\(source#\\d+, quality#\\d+ ASC".r
      .findFirstIn(plan).isEmpty,
      "row_number().over(partitionBy(source)) resurfaced — the one-task-per-source sort")
    // a tie window WITHOUT the sub-bucket would re-open the degenerate
    // single-score funnel (a corpus whose quality quantizes to one value)
    assert("row_number\\(\\) windowspecdefinition\\(source#\\d+, quality#\\d+, doc_id#\\d+L? ASC".r
      .findFirstIn(plan).isEmpty,
      "tie window lost its sub-bucket — one score value funnels into one task again")
    // the histogram rank join keys on (source, quality[, tbkt]): equi
    // joins, never a per-row range probe
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "histogram rank must join back on (source, quality) equi-keys")
  }

  test("x119 contamination report: benchmark shingles broadcast, the only non-equi join " +
      "multiplies two agg-bounded tiny frames") {
    val plan = executedIsolated(SparkEntry.queries("x119_contamination_report")(spark, dir))
      .split("== Initial Plan ==").head
    // the corpus-sized join (corpus shingles x benchmark shingles) must be
    // a broadcast hash equi-join — a shuffled shingle join would move the
    // whole corpus's n-gram explosion for a tiny eval suite
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast into the corpus explode:\n${plan.take(1500)}")
    // the benchmark x source completeness frame is the codebase's accepted
    // tiny-frame cross join (both sides agg-bounded); a CartesianProduct
    // over row data is not
    assert(!plan.contains("CartesianProduct"),
      s"no row-data cartesian anywhere:\n${plan.take(1500)}")
    assert(!plan.contains("windowspecdefinition"),
      "the report is pure aggregation — no windows")
  }

  test("x106 best-of-cluster: the per-cluster argmax is one hash agg — no window, no sort") {
    val plan = executedIsolated(SparkEntry.queries("x106_best_of_cluster")(spark, dir))
    // argmax(quality, tie -> smallest id) rides max(struct(...)): it
    // combines map-side and never materializes a per-cluster ordering —
    // a row_number window here would re-introduce the per-group sort
    // x28/x101 already banished
    assert(!plan.contains("windowspecdefinition"),
      s"best-of-cluster must be window-free (one max(struct) agg):\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "cluster labels join back on equi-keys only")
  }

  test("x107 source cap: rank comes from the bucket histogram, never a per-source sort") {
    val plan = executedIsolated(SparkEntry.queries("x107_source_cap")(spark, dir))
    // the tie window partitions by (source, __hr_bkt) — 256 buckets per
    // source — so no single task ever sees a whole source
    assert("row_number\\(\\) windowspecdefinition\\(source#\\d+, __hr_bkt#\\d+L?, hash60#\\d+L? ASC".r
      .findFirstIn(plan).isDefined,
      s"row-level tie window must partition by (source, __hr_bkt):\n${plan.take(2000)}")
    assert("row_number\\(\\) windowspecdefinition\\(source#\\d+, hash60#\\d+L? ASC".r
      .findFirstIn(plan).isEmpty,
      "row_number().over(partitionBy(source)) resurfaced — the one-task-per-source sort")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the cumulative histogram joins back on (source, bkt) equi-keys")
  }

  test("x110 PII scan: a shuffle-free projection — only the final sort exchanges") {
    val plan = executedIsolated(SparkEntry.queries("x110_pii_scan")(spark, dir))
    // detection + redaction are codegen'd regexp expressions riding the
    // scan: no hash shuffle, no join, no window anywhere in the plan —
    // the single exchange is the oracle gate's ORDER BY
    assert(!plan.contains("hashpartitioning"),
      s"PII scan must not hash-shuffle row data:\n${plan.take(1500)}")
    assert(!plan.contains("windowspecdefinition") && !plan.contains("Join"),
      "PII scan is a pure projection — no windows, no joins")
    assert(!plan.contains("n_chars"),
      "unused document columns must be pruned from the scan")
  }

  test("x113 curriculum order: global positions come from the bucket histogram, never a global sort") {
    val plan = executedIsolated(SparkEntry.queries("x113_curriculum_order")(spark, dir))
    // the only row-data window partitions by the hash bucket (~2k groups)
    assert("row_number\\(\\) windowspecdefinition\\(__hr_bkt#\\d+L?, ckey#\\d+L? ASC".r
      .findFirstIn(plan).isDefined,
      s"row-level tie window must partition by __hr_bkt:\n${plan.take(2000)}")
    // the forbidden shape: a row_number over the whole corpus (empty
    // partition spec, ckey as the leading ORDER key)
    assert("row_number\\(\\) windowspecdefinition\\(ckey#\\d+L? ASC".r
      .findFirstIn(plan).isEmpty,
      "a global row_number sort resurfaced — the single-task total order")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the cumulative histogram joins back on the bucket equi-key")
  }

  test("x114 datasheet: no row-data window — every statistic is a partial agg, " +
      "assembly joins run on source-cardinality frames") {
    val plan = executedIsolated(SparkEntry.queries("x114_source_datasheet")(spark, dir))
    assert(!plan.contains("windowspecdefinition"),
      s"the datasheet must not window over row data (argmax is a struct-min agg):\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "assembly joins are equi-joins on source / text-hash keys")
    assert(plan.contains("partial_count") || plan.contains("partial_sum") ||
      "HashAggregate.*partial".r.findFirstIn(plan).isDefined ||
      plan.contains("Partial"),
      "per-source stats must combine map-side")
    // the output column is also CALLED n_chars, so check the scan schemas
    // specifically: no document scan may read the unused n_chars column
    assert("ReadSchema: [^\\n]*n_chars".r.findFirstIn(plan).isEmpty,
      "unused document columns must be pruned from the scans")
  }

  test("x104 salted join: the hot-key set broadcasts and the join keys carry the salt") {
    val plan = executedIsolated(SparkEntry.queries("x104_salted_join")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the threshold-bounded hot-key set must broadcast to both sides:\n${plan.take(1500)}")
    assert(plan.contains("__salt"),
      "the physical join keys must include the salt — that IS the skew fix")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("x92 textrank: dictionary join is UNHINTED (AQE broadcasts it at fixture scale); " +
      "the rank cut is a TakeOrdered, no cartesian") {
    // same contract as x69: the word<->id dictionary is vocabulary-sized
    // and corpus-unbounded, so it must NOT be force-broadcast; AQE reads
    // its post-distinct size and broadcasts only while it fits
    spark.catalog.clearCache()
    val df = SparkEntry.queries("x92_textrank")(spark, dir)
    assert(analyzedHints(df).isEmpty,
      "the dictionary join must not carry a broadcast hint")
    val plan = executed(df).split("== Initial Plan ==").head
    // fixture-scale reading: AQE's measured-size choice is broadcast here
    assert(plan.contains("BroadcastHashJoin"),
      s"AQE must broadcast the fixture-scale dictionary:\n${plan.take(1500)}")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k keywords must not materialize a global sort")
    assert(!plan.contains("CartesianProduct"))
  }

  test("x48 stream-static enrich: the user-keyed dim is UNHINTED; the planner broadcasts " +
      "it at fixture scale from relation statistics") {
    // a user-keyed "dimension" is user-cardinality — unbounded at 100 TB —
    // so enrichedTumblingAgg must not force a broadcast; the static side's
    // file-based size statistics give the planner the real number at every
    // (micro-batch) re-plan
    spark.catalog.clearCache()
    val df = SparkEntry.queries("x48_stream_static")(spark, dir)
    assert(analyzedHints(df).isEmpty,
      "the dim join must not carry a broadcast hint")
    val plan = executed(df).split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the planner must broadcast the fixture-scale dim:\n${plan.take(1200)}")
  }

  test("x94 drift: corpus tokenizes once per slice, vocab join only, totals broadcast") {
    val plan = executedIsolated(SparkEntry.queries("x94_drift")(spark, dir))
      .split("== Initial Plan ==").head
    // the only non-broadcast join is the vocabulary-sized full-outer —
    // doc rows must never join
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top movers must be a TakeOrdered:\n${plan.take(1200)}")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      "slice counts must combine map-side")
  }

  test("x103 skew report: per-key counts combine map-side, hot-key cut is a TakeOrdered") {
    val plan = executedIsolated(SparkEntry.queries("x103_skew_report")(spark, dir))
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"the per-key histogram must combine map-side:\n${plan.take(1200)}")
    assert(plan.contains("TakeOrderedAndProject"),
      "the top-10 hot keys must not materialize a global sort")
    assert(!plan.contains("CartesianProduct"))
  }

  test("x86 length buckets: one map-side-combined aggregation, no window, no sort before output") {
    // AQE prints Final AND Initial plan sections — count only the final one
    val plan = executedIsolated(SparkEntry.queries("x86_length_buckets")(spark, dir))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), "rung assignment is a per-row CASE, never a window")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"exactly ONE shuffle (the rung-key aggregation):\n${plan.take(1500)}")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      "the rung histogram must combine map-side")
  }

  test("x87 transitions: one user-keyed window shuffle; totals join broadcasts") {
    val plan = executedIsolated(SparkEntry.queries("x87_transitions")(spark, dir))
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-source totals (|types| rows) must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"),
      "a types-cardinality frame must never sort-merge")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(userExchanges == 1,
      s"the event stream shuffles ONCE on user_id, got $userExchanges")
  }
}
