package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One-shot ~10x scale smoke for the heaviest operators: does the plan
  * still complete — and do the pruning claims still bite — when the data
  * is an order of magnitude past the bench scale? The inputs are a
  * deterministic 10x replication of the driver's sf0.1 parquet (fact keys
  * shifted per replica so uniqueness/FKs hold; document words suffixed
  * per replica so replicas don't read as artificial near-duplicates and
  * the corpus keeps a realistic dup rate). Assertions are completion +
  * invariants, not timings — timing lives in the bench. */
class ScaleSmokeSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {

  /** Self-cancel unless explicitly requested: a 10x scale-up has no place
    * in the fast default gate. Run with
    * `GRAFT_SCALE_SMOKE=1 sbt 'testOnly graft.ScaleSmokeSpec'`. */
  private def requested(): Unit =
    assume(sys.env.get("GRAFT_SCALE_SMOKE").contains("1"),
      "set GRAFT_SCALE_SMOKE=1 to run the 10x scale smoke")

  /** Per-test wall times, written as a JSON artifact at suite end so the
    * per-round routine commits a `SCALE_r{N}.json` — the 10x claims are
    * then verified by a committed record, not by whether the builder
    * remembered to run the suite. Floors in SCALE_FLOOR.json (min over
    * prior rounds) make drift visible: each row carries its floor and the
    * wall/floor ratio; ratios are informational (the smoke asserts
    * completion + invariants, the bench owns timing enforcement). */
  private val walls = scala.collection.mutable.LinkedHashMap
    .empty[String, (Long, Double, Option[String], String)]

  /** `input` = the directory the measurement actually ran against. The
    * recheck MUST re-run against this exact path: round 13's x121 recheck
    * re-ran a test that had deliberately built a PLAIN-replicated corpus
    * (BPE charset) against the shared word-suffixed dir — a different
    * workload whose "10x speedup" adjudicated nothing. */
  private def record(name: String, rows: Long, wall: Double,
      note: Option[String] = None, input: String = dir): Unit =
    synchronized { walls(name) = (rows, wall, note, input) }

  /** Heavy-by-design rows carry the reason IN the artifact, so their
    * large floors are not misread as regressions in a later round. */
  private val notes = Map(
    "x115_ann_recall" ->
      "runs brute-force ground truth over the full corpus by design",
    "x116_uncertainty_sample" ->
      "re-trains the perceptron (5 full-corpus iterations) inside the smoke",
    "x117_threshold_sweep" ->
      "scores the band-candidate set once, then fans out 5 thresholds",
    "x118_incremental_datasheet" ->
      "3 ingest batches x store merge commits dominate at toy scale",
    "x121_incremental_fertility" ->
      "learns the frozen 12-round merge table up front (one-time), then 3 batch encodes + store merges",
    "x122_incremental_contamination" ->
      "3 per-batch gated contamination reports + store merge commits dominate at toy scale")

  /** Bound cross-test JVM state the way the bench bounds cross-query
    * state: drop cached frames + checkpointed RDDs and nudge a GC after
    * each test, so one test's pressure isn't billed to the next (r11's
    * 23-s x101 batch reading vs its ~7-s solo cost was exactly this). */
  private def clearState(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
  }

  override def afterAll(): Unit = {
    if (walls.nonEmpty) {
      val out = sys.env.getOrElse("GRAFT_SCALE_JSON", "SCALE.json")
      val floors: Map[String, Double] = {
        val f = new java.io.File("SCALE_FLOOR.json")
        if (!f.exists()) Map.empty
        else {
          val txt = new String(Files.readAllBytes(f.toPath), "UTF-8")
          """"([^"_][^"]*)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
      // Fresh-session recheck of >2x-floor outliers (the bench's
      // mechanism): a ~20-test shared-JVM suite accumulates old-gen/JIT
      // pressure that inflates late tests several-fold; re-measuring in a
      // NEW SparkSession after stopping the batch one is the only way to
      // tell "this operator got slower at 10x" from "the JVM was hot".
      // Both numbers land in the artifact, so a phantom regression reads
      // batch-high/recheck-at-floor. Recycling the shared session here is
      // safe under sbt's sequential suite execution: any LATER suite's
      // lazy session initializes after this afterAll, and getOrCreate
      // replaces a stopped session with a fresh one.
      val flagged = walls.collect {
        case (n, (_, w, _, _)) if SparkEntry.queries.contains(n) &&
          floors.get(n).exists(fl => w > 2 * fl && w - fl > 1.0) => n
      }.toSeq
      val rechecked: Map[String, Double] =
        if (flagged.isEmpty) Map.empty
        else {
          spark.stop()
          System.gc()
          val fresh = graft.core.GraftSession.local(16)
          val res = flagged.map { n =>
            // recheck against the test's RECORDED input path — not the
            // shared dir — so tests that built their own corpus (plain
            // replication for the BPE family) re-measure the same workload
            val d = walls(n)._4
            // two runs, min — the bench's recheck recipe: the first run in
            // a fresh session carries ~10 s of codegen/classloading that
            // would otherwise read as the operator's own cost
            def once(): Double = {
              val t0 = System.nanoTime()
              SparkEntry.queries(n)(fresh, d).count()
              (System.nanoTime() - t0) / 1e9
            }
            val w = math.min(once(), once())
            // clear per-query state INSIDE the recheck session too (the
            // bench does the same): without it the first rechecked
            // query's persisted frames poison the later readings — the
            // exact pressure the recheck exists to remove
            fresh.catalog.clearCache()
            fresh.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
            System.gc()
            n -> w
          }.toMap
          fresh.stop()
          res
        }
      val rows = walls.map { case (n, (r, w, note, input)) =>
        val fl = floors.get(n)
        val extra = fl.map(f =>
          f""","floor":$f,"ratio":${math.round(w / f * 100) / 100.0}""")
          .getOrElse("")
        val re = rechecked.get(n)
          .map(v => f""","recheck_sec":$v%.1f""").getOrElse("")
        // which corpus this row (and its recheck) actually measured —
        // the artifact's self-adjudication field
        val corpus = if (input == dir) "suffixed10x" else "plain10x"
        val nt = note.map(t => s""","_note":"$t"""").getOrElse("")
        f"""  "$n": {"rows": $r, "wall_sec": $w%.1f$extra$re,"input":"$corpus"$nt}"""
      }.mkString(",\n")
      Files.write(java.nio.file.Paths.get(out),
        s"""{\n  "_sf": "sf0.1 x$R",\n$rows\n}\n""".getBytes("UTF-8"))
      info(s"[scale] wrote ${walls.size} rows to $out" +
        (if (rechecked.nonEmpty) s" (rechecked: ${rechecked.keys.mkString(", ")})" else ""))
      plainDirBuilt.foreach(p =>
        graft.queries.Scratch.deleteRecursively(java.nio.file.Paths.get(p)))
    }
    super.afterAll()
  }

  lazy val spark = graft.core.GraftSession.local(16)
  private val src = "/root/testdata/sf0.1"
  private val R = 10 // replication factor

  /** Scaled dataset built once per JVM in a temp dir with the driver's
    * file layout, so SparkEntry.queries run on it unchanged. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_scale10").toString
    val keyShift = 10_000_000L // beyond any sf0.1 orderkey/doc_id/event_id
    def replicate(table: String, shiftCols: Seq[String],
        rewrite: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame =
          (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val reps = (0 until R).map { i =>
        val shifted = shiftCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i * keyShift)))
        rewrite(shifted, i)
      }
      reps.reduce(_ unionAll _).write.parquet(s"$d/$table.parquet")
    }
    replicate("lineitem", Seq("l_orderkey"))
    replicate("orders", Seq("o_orderkey"))
    replicate("events", Seq("event_id"))
    // suffix every word with the replica ordinal: within-replica shingle
    // relations (the real dup structure) are preserved, cross-replica
    // jaccard drops to zero — no artificial 10-way duplicate groups
    replicate("documents", Seq("doc_id"),
      (df, i) => df.withColumn("text",
        regexp_replace(col("text"), "(\\w+)", "$1" + i.toString)))
    Seq("region", "nation", "customer", "supplier", "part", "embeddings")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet").write.parquet(s"$d/$t.parquet")
      }
    info(s"scaled inputs at $d: lineitem=${spark.read.parquet(s"$d/lineitem.parquet").count()}")
    d
  }

  /** PLAIN 10x replication of `documents` (ids shifted, text untouched),
    * shared by the BPE-family tests: the suffixed corpus's replica digits
    * fall outside BPE's ^[a-z]+$ training charset and would empty the
    * word-frequency table. Materialized (not in-memory) so the afterAll
    * recheck can re-run the SAME inputs by path; deleted after the
    * artifact is written. */
  private var plainDirBuilt: Option[String] = None
  private lazy val plainDir: String = {
    val d = Files.createTempDirectory("graft_scale10_plain").toString
    (0 until R).map(i =>
        spark.read.parquet(s"$src/documents.parquet")
          .withColumn("doc_id", col("doc_id") + lit(i * 10_000_000L)))
      .reduce(_ unionAll _)
      .write.parquet(s"$d/documents.parquet")
    plainDirBuilt = Some(d)
    d
  }

  private def run(name: String): Unit = {
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, dir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    record(name, n, wall, notes.get(name))
    info(f"[scale] $name rows=$n wall=$wall%.1fs")
    clearState()
    assert(n > 0, s"$name returned no rows at 10x scale")
  }

  test("q23 medallion pipeline completes at 10x") { requested(); run("q23_pipeline_fact") }
  test("q58 MoR merge completes at 10x") { requested(); run("q58_mor_merge") }
  test("q44 zorder read completes at 10x") { requested(); run("q44_zorder_read") }
  test("x22 dup clusters completes at 10x") { requested(); run("x22_dup_clusters") }
  test("x46 incremental dedup completes at 10x") { requested(); run("x46_incremental_dedup") }
  test("x3 minhash LSH completes at 10x") { requested(); run("x3_minhash_lsh") }
  test("x42 incremental streaming medallion completes at 10x") {
    requested(); run("x42_incremental_medallion")
  }
  test("x51 bigram-LM fluency completes at 10x") { requested(); run("x51_bigram_fluency") }
  test("x52 DSIR selection completes at 10x") { requested(); run("x52_dsir_select") }
  test("x56 shard layout completes at 10x") { requested(); run("x56_shard_layout") }
  test("x58 segment dedup completes at 10x") { requested(); run("x58_segment_dedup") }
  test("x64 incremental segment dedup completes at 10x") {
    requested(); run("x64_incremental_segments")
  }
  test("x75 BPE merge learning completes at 10x") {
    requested()
    // plain replication via the shared plainDir: BPE only sees the
    // word-frequency table, so dup structure is irrelevant
    val docs = spark.read.parquet(s"$plainDir/documents.parquet")
    val t0 = System.nanoTime()
    val merges = graft.operators.Bpe.learnMerges(docs, rounds = 12)
    val wall = (System.nanoTime() - t0) / 1e9
    record("x75_bpe_merges", merges.length.toLong, wall, input = plainDir)
    info(f"[scale] x75 merges=${merges.length} wall=$wall%.1fs")
    clearState()
    assert(merges.length == 12)
  }
  test("x77 perceptron training completes at 10x") { requested(); run("x77_perceptron_train") }
  test("x81 shingle novelty completes at 10x") { requested(); run("x81_shingle_novelty") }
  test("x82 classifier eval completes at 10x") { requested(); run("x82_classifier_eval") }
  test("x83 incremental novelty completes at 10x") { requested(); run("x83_incremental_novelty") }

  test("x84 blocked fuzzy join completes at 10x (replica-suffixed titles keep blocks bounded)") {
    requested(); run("x84_fuzzy_join")
  }

  test("x85 triangle census completes at 10x (orientation bounds the densified graph)") {
    // the replicated lineitem densifies the co-purchase graph 10x over the
    // SAME 20k parts — the exact shape (more orders, fixed catalog) where
    // a raw-degree wedge join melts and the degree-ordered one must not
    requested(); run("x85_triangles")
  }

  test("x92 textrank completes at 10x (replica-suffixed vocab grows the graph 10x)") {
    requested(); run("x92_textrank")
  }

  test("x93 label propagation completes at 10x (LSH graph + 2 voting rounds)") {
    requested(); run("x93_label_prop")
  }

  test("x96 cluster-balanced weights complete at 10x and cover every doc once") {
    requested()
    val t0 = System.nanoTime()
    val r = SparkEntry.queries("x96_cluster_weights")(spark, dir)
    val n = r.count()
    record("x96_cluster_weights", n, (System.nanoTime() - t0) / 1e9)
    clearState()
    assert(n == spark.read.parquet(s"$dir/documents.parquet").count(),
      "every doc needs exactly one weight at 10x")
  }

  test("x97 fuzzy dictionary lookup completes at 10x (capped blocks bound the candidate set)") {
    requested(); run("x97_fuzzy_lookup")
  }

  test("x98 streaming top paths completes at 10x (state = depth-1 types per user)") {
    requested(); run("x98_paths_stream")
  }

  test("x99 mixed-language detection completes at 10x (pure projection)") {
    requested(); run("x99_mixed_lang")
  }

  test("x100 dedup audit completes at 10x (cost tracks the dropped set)") {
    requested(); run("x100_dedup_audit")
  }

  test("x101 histogram-rank percentile completes at 10x (no per-source sort)") {
    requested(); run("x101_quality_percentile")
  }

  test("x102 incremental drift monitor completes at 10x (vocab-sized merges)") {
    requested(); run("x102_incremental_drift")
  }

  test("x103 skew report completes at 10x (map-side per-key counts)") {
    requested(); run("x103_skew_report")
  }

  test("x104 auto-salted join completes at 10x (only hot keys replicate)") {
    requested(); run("x104_salted_join")
  }

  test("x105 epoch plan completes at 10x (window only over the source frame)") {
    requested(); run("x105_epoch_plan")
  }

  test("x106 best-of-cluster completes at 10x (one max(struct) agg, no window)") {
    requested(); run("x106_best_of_cluster")
  }

  test("x107 source cap completes at 10x (bucket-histogram rank, no per-source sort)") {
    requested(); run("x107_source_cap")
  }

  test("x108 streaming drift monitor completes at 10x (vocab-sized merges per commit)") {
    requested(); run("x108_drift_stream")
  }

  test("x109 incremental quota completes at 10x (kept table stays cap-bounded)") {
    requested(); run("x109_incremental_quota")
  }

  test("x110 PII scan completes at 10x (pure projection)") {
    requested(); run("x110_pii_scan")
  }

  test("x111 source overlap completes at 10x (band-bounded candidates, source^2 matrix)") {
    requested(); run("x111_source_overlap")
  }

  test("x112 memorization risk completes at 10x (hashed shingles, two compact-key shuffles)") {
    requested(); run("x112_memorization_risk")
  }

  test("x113 curriculum order completes at 10x (bucket-histogram rank, no global sort)") {
    requested(); run("x113_curriculum_order")
  }

  test("x114 datasheet completes at 10x (three scans, source-cardinality joins)") {
    requested(); run("x114_source_datasheet")
  }

  test("x115 ANN recall report completes at 10x (retrieval-bounded, sample-sized joins)") {
    requested(); run("x115_ann_recall")
  }

  test("x116 uncertainty sample completes at 10x (TakeOrdered cut over the scoring scan)") {
    requested(); run("x116_uncertainty_sample")
  }

  test("x117 threshold sweep completes at 10x (one LSH pass, 5x candidate fan-out)") {
    requested(); run("x117_threshold_sweep")
  }

  test("x118 incremental datasheet completes at 10x (batch-sized aggs, point-probed dup delta)") {
    requested(); run("x118_incremental_datasheet")
  }

  test("x119 contamination report completes at 10x (size-gated benchmark shingles: " +
      "~210k tokens stays broadcast)") {
    requested(); run("x119_contamination_report")
  }

  test("x122 incremental contamination completes at 10x (per-batch gated reports, " +
      "merged accumulator)") {
    requested(); run("x122_incremental_contamination")
  }

  test("x120 tokenizer fertility completes at 10x (vocabulary-sized encode, source rollup)") {
    requested()
    // plain replication via the shared plainDir (BPE charset)
    val docs = spark.read.parquet(s"$plainDir/documents.parquet")
    val t0 = System.nanoTime()
    val merges = graft.operators.Bpe.learnMerges(docs, rounds = 12)
    val n = graft.operators.Bpe.subwordStats(docs, merges)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .count()
    record("x120_tokenizer_fertility", n, (System.nanoTime() - t0) / 1e9,
      input = plainDir)
    info(f"[scale] x120 sources=$n")
    clearState()
    assert(n > 0, "x120 returned no rows at 10x scale")
  }

  test("x121 incremental fertility completes at 10x (frozen merges, batch-cost batches)") {
    requested()
    // plain replication via the shared plainDir (BPE charset); the
    // incremental twin drives the real query (store merges included)
    // rather than its pieces, and the recorded input path makes any
    // afterAll recheck re-run THIS corpus, not the suffixed one
    val t0 = System.nanoTime()
    val n = SparkEntry.queries("x121_incremental_fertility")(spark, plainDir).count()
    record("x121_incremental_fertility", n, (System.nanoTime() - t0) / 1e9,
      note = notes.get("x121_incremental_fertility"), input = plainDir)
    info(f"[scale] x121 sources=$n")
    clearState()
    assert(n > 0, "x121 returned no rows at 10x scale")
  }

  test("merge discovery stays file-pruned at 10x (6M-row clustered target)") {
    requested()
    import graft.operators.MergeInto
    val store = new graft.tables.TableStore(spark,
      Files.createTempDirectory("graft_scale_merge").toString)
    try {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      store.createOrReplace("db.big",
        li.repartitionByRange(64, col("l_orderkey")),
        sortWithin = Seq("l_orderkey"), statsFor = Seq("l_orderkey"))
      val total = store.prunedFileList("db.big", None).size
      // a daily-batch-shaped source: keys confined to one band, deduped —
      // the synthetic lineitem has duplicate (orderkey, linenumber) pairs
      // and MERGE correctly rejects ambiguous sources
      val batch = li.filter(col("l_orderkey").between(1000, 5000))
        .dropDuplicates("l_orderkey", "l_linenumber")
        .withColumn("l_quantity", col("l_quantity") + 1)
      val t0 = System.nanoTime()
      val (cand, tot) = store.merge("db.big", batch, Seq("l_orderkey", "l_linenumber"),
        matched = Seq(MergeInto.MatchedUpdate(None,
          Map("l_quantity" -> col("s.l_quantity")))))
      record("merge_discovery_pruned", cand.toLong,
        (System.nanoTime() - t0) / 1e9)
      info(s"[scale] merge discovery candidates=$cand of $tot files")
      assert(tot == total && cand < tot,
        s"merge discovery must stay pruned at scale ($cand/$tot)")
    } finally store.detach()
  }
}
