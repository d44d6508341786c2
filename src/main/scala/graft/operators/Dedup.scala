package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.normalizeText
import graft.core.Materialize.MatOps

/** Document deduplication for training-data pipelines: exact, word-shingle
  * Jaccard, MinHash+LSH, and SimHash. All are pure DataFrame programs
  * (shuffle-aware, no driver loops, no UDFs), designed so the only O(n²)
  * work ever done is *within candidate buckets*, never across the corpus.
  *
  * Determinism: every hash is built from `md5` of the content (never a
  * seeded RNG), so results are reproducible across runs, partitionings and
  * engines — which is also what makes the DuckDB oracles possible.
  *
  * Scale notes per operator are on the methods; the corpus-wide patterns:
  *  - shingling explodes ~L rows per doc → distinct → shuffle on shingle;
  *    skew from ultra-common shingles is the known hazard — the LSH path
  *    never joins on raw shingles, and the raw-Jaccard path is quadratic by
  *    nature (kept for small corpora / oracle duty).
  *  - MinHash agg is a single groupBy(doc) with k min() columns —
  *    map-side partial aggregation collapses each partition to one row per
  *    doc before the shuffle.
  */
object Dedup {

  /** Test/tooling observability for [[incrementalDedup]]'s index pruning:
    * (candidate files scanned, manifest total) of the most recent call
    * that probed an existing index. */
  @volatile var lastIndexScan: Option[(Int, Int)] = None

  /** Same observability for [[incrementalNovelty]]'s shingle-index probe. */
  @volatile var lastNoveltyScan: Option[(Int, Int)] = None

  /** Corpus-scale caches pinned by the one-shot dedup calls
    * (ngramJaccardPairs / minhashLsh / firstSeenDedup / simhashPairs):
    * the returned frames are lazy over them, so this module cannot
    * unpersist eagerly — lifecycle is delegated to the INPUT-KEYED
    * [[graft.core.PinnedGenerations]] LRU: a repeated call on the same
    * corpus reuses the live generation (no eviction, no re-registration),
    * only a genuinely new input releases the least-recently-used one, and
    * concurrent callers (the parallel verify harness) no longer evict
    * each other mid-flight. The round-15 single-slot variant released the
    * PREVIOUS generation on every call, which on a repeated plan evicted
    * the entry the call itself had just registered — every warm dedup
    * query rebuilt its shingle/signature caches from lineage AND lost its
    * own intra-query reuse. */
  private def pinPersist(df: DataFrame): DataFrame =
    graft.core.PinnedGenerations.persistPinned(df)
  private def pinGeneration(frames: DataFrame*): Unit =
    graft.core.PinnedGenerations.pin(frames: _*)

  /** Exact dedup on normalized text: canonical row = min(id) per digest.
    * One shuffle on the 128-bit digest; at 100 TB this is the cheapest
    * possible dedup (digest is 16 bytes/row regardless of doc size). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), md5(normalizeText(col(textCol))).as("text_md5"))
      .groupBy(col("text_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** (doc, shingle) pairs: distinct word n-grams of the normalized text.
    * `words` is materialized as a column BEFORE the higher-order transform:
    * HOF lambdas are interpreted, and an unbound `split(regexp_replace(…))`
    * subtree inside the lambda would re-run the regex once per position
    * (O(L) regex evaluations per document — measured 10× slower). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // n = 0 would make every position's slice empty: every document gets
    // the "" shingle, every band collides, and first-seen dedup silently
    // deletes the whole corpus as duplicates — fail loudly instead (the
    // one shingle entry point that lacked the segments()/threshold guards)
    require(n > 0, s"shingles: n-gram size must be positive, got $n")
    val words = col("__words")
    // guard: sequence(1, x) with x<1 would generate a *descending* sequence
    val positions = when(size(words) >= n, sequence(lit(1), size(words) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    // NOT fanned out (§2.5): r17 A/B'd a fanOut here — the dedup family's
    // shingle consumers (x3/x106/x111/x100/x83/x46) got SLOWER (+0.3-0.9 s
    // warm each): their per-call frames are small or per-batch, so the
    // extra exchange + changed pinned-cache plan keys cost more than the
    // parallelism won. The spots where shingle-shaped explodes DO pay off
    // fan out at their own call sites (duplicatedSpans, shingleNovelty).
    docs.select(col(idCol).as("doc"), split(normalizeText(col(textCol)), " ").as("__words"))
      .select(
        col("doc"),
        explode(
          transform(positions, i => concat_ws(" ", slice(words, i, lit(n))))).as("shingle"))
      .distinct()
  }

  /** Exact pairwise n-gram Jaccard ≥ threshold. Self-join on shingle →
    * intersection counts → join per-doc sizes. Quadratic in bucket size by
    * construction — the exact baseline the approximate paths are verified
    * against; at corpus scale use [[minhashLsh]] instead. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    // the shingle relation feeds sizes + both join sides: persist it once
    // instead of recomputing the explode+distinct pipeline three times
    val sh = pinPersist(shingles(docs, idCol, textCol, n))
    pinGeneration(sh)
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.alias("a").join(sh.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The bands×rows min-hash aggregation list — ONE definition shared by
    * [[minhashSignatures]] and [[minhashLsh]]'s fused signature+count agg
    * so the permutation seeds cannot drift between them. */
  private def signatureAggs(bands: Int, rows: Int): Seq[Column] =
    (0 until bands * rows).map(i =>
      min(md5(concat(lit(s"graft$i|"), col("shingle")))).as(s"mh_$i"))

  /** The (band, key) struct list over a signature row — THE band-key
    * format every consumer shares ([[minhashLsh]] candidate generation,
    * [[bandKeys]] and through it [[firstSeenDedup]], the persisted
    * incremental index, and the streaming sink). One definition: an edit
    * to the separator or row order here changes ALL of them together,
    * instead of silently desynchronizing candidate generation from the
    * indexes built in the other format. */
  private def bandStructs(bands: Int, rows: Int): Seq[Column] =
    (0 until bands).map(b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rows).map(r => col(s"mh_${b * rows + r}")): _*).as("key")))

  /** MinHash signatures: k = bands×rows min-hash values per doc, one
    * groupBy. The "permutation" is the lexicographic order of
    * `md5(seed ∥ shingle)` — deterministic and engine-portable. */
  def minhashSignatures(sh: DataFrame, bands: Int, rows: Int): DataFrame = {
    val aggs = signatureAggs(bands, rows)
    sh.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding: docs whose signatures collide in ≥1 band become
    * candidate pairs, then candidates are verified with exact Jaccard.
    * Corpus-wide cost: one shingle shuffle + one signature groupBy + a
    * bucket self-join that only multiplies *within* colliding buckets —
    * the standard near-dup design for trillion-token corpora. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rows: Int = 2, threshold: Double = 0.0): DataFrame = {
    val sh = pinPersist(shingles(docs, idCol, textCol, n))
    // one pass: signatures AND per-doc shingle counts (saves a second
    // groupBy over the shingle relation); tiny → persisted for its 3 uses
    val sigAggs = signatureAggs(bands, rows) :+ count(lit(1)).as("n_sh")
    val sig = pinPersist(sh.groupBy(col("doc")).agg(sigAggs.head, sigAggs.tail: _*))
    pinGeneration(sh, sig)
    val buckets = sig.select(col("doc"), explode(array(bandStructs(bands, rows): _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.key").as("key"))
    val candidates = buckets.alias("a").join(buckets.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // exact-Jaccard verification of candidates only: the intersection join
    // is driven BY the candidate pairs (explode each pair by doc_a's
    // shingles, equi-join doc_b's) — never the full corpus-quadratic
    // shingle self-join, which is the entire point of LSH
    val sizes = sig.select(col("doc"), col("n_sh"))
    val inter = candidates.alias("c")
      .join(sh.alias("a"), col("c.doc_a") === col("a.doc"))
      .join(sh.alias("b"),
        col("c.doc_b") === col("b.doc") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("c.doc_a").as("doc_a"), col("c.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    candidates.join(inter, Seq("doc_a", "doc_b"), "left_outer")
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        round(coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** LSH band keys per document: (doc, band, key) where key concatenates
    * the band's MinHash rows — the bucket identity two near-duplicate
    * documents collide on. Shared by [[minhashLsh]], [[firstSeenDedup]]
    * and the streaming dedup sink. */
  def bandKeys(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rows: Int = 2): DataFrame = {
    val sig = minhashSignatures(shingles(docs, idCol, textCol, n), bands, rows)
    sig.select(col("doc"), explode(array(bandStructs(bands, rows): _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** First-seen near-dup dedup: keep a document iff NO document with a
    * smaller id shares any LSH band key — the batch twin of the streaming
    * dedup sink (a dropped document still blocks later collisions, which
    * is what makes the result independent of batch boundaries). Documents
    * too short to shingle never collide and are always kept. */
  def firstSeenDedup(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rows: Int = 2): DataFrame = {
    // both sides of the smaller-id semi-join scan the band keys — persist
    // so the shingle→signature pipeline runs once, not twice
    val bk = pinPersist(bandKeys(docs, idCol, textCol, n, bands, rows))
    pinGeneration(bk)
    val dropped = bk.alias("a").join(bk.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("b.doc") < col("a.doc"), "left_semi")
      .select(col("a.doc")).distinct()
    docs.join(dropped, docs(idCol) === dropped("doc"), "left_anti")
  }

  /** Incremental first-seen dedup against a PERSISTED band index — the
    * form a production ingest actually runs: each arriving batch is
    * deduped against everything ever seen (not just the current corpus
    * snapshot), then its band keys are appended to the index table.
    *
    * Equivalence contract: processing a corpus in id-ordered batches
    * through this operator yields EXACTLY [[firstSeenDedup]] of the whole
    * corpus (oracle x46 == x28's SQL). That requires the index to record
    * every seen document's bands — survivors AND dropped docs — because a
    * dropped document still blocks later collisions (same rule that makes
    * firstSeenDedup batch-boundary independent).
    *
    * Scale shape: the per-batch cost is the batch's shingle→signature
    * pipeline plus two band-key joins (vs. index, vs. self); the index
    * side is a store table whose (band, key) join columns are recorded as
    * stats layout, so file skipping bounds the index scan as it grows —
    * the corpus-sized side never reshuffles. A new batch against a 100 TB
    * history costs the batch, not the history. */
  def incrementalDedup(store: graft.tables.TableStore, indexTable: String,
      batch: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rows: Int = 2): DataFrame = {
    val bk = bandKeys(batch, idCol, textCol, n, bands, rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hasIndex = store.exists(indexTable)
    lastIndexScan = None
    // the read plan resolves the manifest NOW — appending this batch's
    // bands below cannot leak into the dedup decision. The index side is
    // point-pruned by the batch's (band, key) set against per-file stats
    // boxes (dynamic file pruning): on an index kept clustered by
    // (band, key), a batch probes only the files its keys can live in —
    // the scan is bounded by the batch, not the index's history
    val dupVsIndex =
      if (!hasIndex) bk.filter(lit(false)).select(col("doc"))
      else {
        val (idx, counts) = store.readPointPruned(indexTable, bk, Seq("band", "key"))
        lastIndexScan = Some(counts)
        bk.alias("a").join(idx.alias("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key"),
          "left_semi")
        .select(col("a.doc"))
      }
    val dupInBatch = bk.alias("a").join(bk.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("b.doc") < col("a.doc"), "left_semi")
      .select(col("a.doc"))
    val dropped = dupVsIndex.union(dupInBatch).distinct()
    val kept = batch.join(dropped, batch(idCol) === dropped("doc"), "left_anti")
      // materialize the (batch-bounded) result before the index append
      // below re-triggers the pipeline, then release the band cache
      .materialized
    val bands3 = bk.select(col("band"), col("key"), col("doc"))
    // (band, key) are the index's join columns — recorded as stats layout
    // so file skipping bounds the index-side scan as it grows; `key` also
    // carries a per-file parquet bloom, so between clusterIndex
    // maintenance passes (when append files have full-range boxes) the
    // probe still skips files holding none of the batch's keys
    if (!hasIndex) {
      store.createOrReplace(indexTable, bands3.limit(0),
        statsFor = Seq("band", "key"))
      store.setBloomFilterIndex(indexTable, Seq("key"), ndv = 1000000L)
      store.append(indexTable, bands3)
    } else store.append(indexTable, bands3)
    bk.unpersist(false)
    kept
  }

  /** Periodic maintenance for [[incrementalDedup]]'s band index: rewrite
    * it range-partitioned and sorted on (band, key) so every file carries
    * a NARROW stats box — the precondition that lets the per-batch probe's
    * dynamic file pruning skip most of the index (same contract as
    * merge-discovery pruning: correct on any layout, fast on a clustered
    * one). Run on a maintenance cadence, not per batch; cost is one index
    * rewrite. */
  def clusterIndex(store: graft.tables.TableStore, indexTable: String,
      files: Int = 32): Unit =
    store.createOrReplace(indexTable,
      store.read(indexTable).repartitionByRange(files, col("band"), col("key")),
      sortWithin = Seq("band", "key"), statsFor = Seq("band", "key"))

  /** 60-bit engine-portable shingle hash: the first 15 hex chars of md5,
    * parsed base-16 — DuckDB replays it exactly as
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`. Shuffles and persisted
    * indexes carry an 8-byte key instead of a ~30+ byte shingle string
    * (~10x fewer shuffle/index bytes at 100 TB); 60 bits keeps the
    * birthday-collision odds negligible at corpus shingle cardinalities
    * while staying inside a signed BIGINT for both engines. */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Novelty-AT-ARRIVAL boilerplate scoring against a persisted shingle
    * index — the continuously-ingesting twin of the one-shot shingle-
    * novelty audit (x81): a batch doc's distinct 5-gram shingle counts as
    * shared when the INDEX already holds it (any earlier batch) or a
    * second doc of the SAME batch carries it. The index is a presence set
    * of [[shingleHash]]es with `shh` recorded as stats layout, so the
    * per-batch probe is point-pruned by the batch's shingle set — a batch
    * against a 100 TB shingle history costs the batch, never the history
    * (same contract as [[incrementalDedup]]'s band index) — and the index
    * grows by NOVELTY only: each batch appends the shingles the index has
    * not seen (anti-join against the already-point-pruned probe frame), so
    * a hot boilerplate shingle occupies ONE index row no matter how many
    * batches carry it. Because batches partition docs, the FINAL batch's
    * rows coincide with the one-shot x81 values (it sees everyone), and
    * earlier batches are ≤ them — both pinned by the spec. */
  def incrementalNovelty(store: graft.tables.TableStore, indexTable: String,
      batch: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sh = batch.select(col(idCol).as("doc"),
        filter(split(col(textCol), " "), w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(col("doc"), explode(expr(
        "transform(sequence(1, size(ws) - 4), i -> array_join(slice(ws, i, 5), ' '))"))
        .as("s"))
      .select(col("doc"), shingleHash(col("s")).as("shh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hasIndex = store.exists(indexTable)
    // index format guard: the v1 index stored raw shingle STRINGS in `sh`;
    // v2 stores 60-bit hashes in `shh`. Probing a v1 table would throw an
    // opaque AnalysisException mid-plan on a continuously-ingesting
    // pipeline's first post-upgrade batch — fail at open with the remedy
    // instead (metadata-only check; no file is read).
    if (hasIndex) {
      val fields = store.read(indexTable).schema.fieldNames.map(_.toLowerCase)
      if (!fields.contains("shh"))
        throw new IllegalStateException(
          s"$indexTable is a v1 shingle index (raw-string '${fields.mkString(",")}' " +
            "layout); this build probes the v2 60-bit-hash format ('shh'). Either " +
            "drop the index and re-seed it by replaying batches through " +
            "incrementalNovelty, or migrate it once: createOrReplace the table " +
            "from SELECT doc, shingleHash(sh) AS shh with statsFor + " +
            "setBloomFilterIndex on 'shh' so the point-pruned probe keeps " +
            "its file skipping.")
    }
    // point-pruned probe frame: files whose [min,max] stats exclude every
    // batch shingle are skipped — and a skipped file by construction holds
    // NO batch shingle, so the same frame is valid for both the semi-join
    // (seen) and the anti-join (novel) below
    if (!hasIndex) lastNoveltyScan = None // no-index batch: no stale reading
    val idx =
      if (!hasIndex) None
      else {
        val (pruned, counts) = store.readPointPruned(indexTable, sh, Seq("shh"))
        lastNoveltyScan = Some(counts)
        Some(pruned)
      }
    val seen = idx match {
      case None => sh.filter(lit(false))
      case Some(i) =>
        sh.alias("a").join(i.alias("b"), col("a.shh") === col("b.shh"), "left_semi")
          .select(col("a.doc"), col("a.shh"))
    }
    val inBatch = sh.alias("a").join(sh.alias("b"),
        col("a.shh") === col("b.shh") && col("a.doc") =!= col("b.doc"), "left_semi")
      .select(col("a.doc"), col("a.shh"))
    val shared = seen.union(inBatch).distinct()
      .groupBy(col("doc")).agg(count(lit(1)).as("shared_shingles"))
    // materialize the (batch-bounded) result before the index append
    // below re-triggers the pipeline, then release the shingle cache
    val result = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_shingles"))
      .join(shared, Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_shingles"),
        coalesce(col("shared_shingles"), lit(0L)).as("shared_shingles"))
      .withColumn("boilerplate_micro",
        expr("(1000000 * shared_shingles) div n_shingles"))
      .materialized
    val batchShingles = sh.select(col("shh")).distinct()
    val novel = idx match {
      case None => batchShingles
      case Some(i) => batchShingles.join(i, Seq("shh"), "left_anti")
    }
    if (!hasIndex) {
      // declare the bloom index BEFORE the first data write so every file
      // carries a bloom on shh — that is what keeps the per-batch probe's
      // candidate set flat as the index grows (novelty-only appends mean
      // each shingle lives in exactly one file; the bloom stage of
      // readPointPruned skips the files holding none of the batch's keys)
      store.createOrReplace(indexTable, novel.limit(0), statsFor = Seq("shh"))
      store.setBloomFilterIndex(indexTable, Seq("shh"), ndv = 1000000L)
      store.append(indexTable, novel)
    } else store.append(indexTable, novel)
    sh.unpersist(false)
    result
  }

  /** Duplicated-SPAN detection (the "Deduplicating Training Data Makes
    * Language Models Better" substring-dedup shape, Lee et al. 2022): for
    * every document, the merged token intervals covered by some `w`-token
    * window that also occurs in ANOTHER document. Training pipelines cut
    * these spans (or drop the doc) — verbatim boilerplate repeated across
    * a corpus is what LLMs memorize first.
    *
    * Returns one row per affected document: (doc, n_dup_spans,
    * dup_tokens) where n_dup_spans counts maximal merged intervals and
    * dup_tokens their total token length.
    *
    * Scale shape: one positional window explode (corpus-linear), one
    * span-frequency aggregation with map-side combine, a semi-join back,
    * and a per-doc interval merge (window functions over each doc's hit
    * positions — partitioned by doc, never global). The quadratic suffix
    * array of the paper is replaced by the fixed-window hash join, the
    * standard distributed approximation: any duplicated substring of
    * length ≥ w is found (windows tile it), shorter ones are ignored by
    * declared contract. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 15): DataFrame = {
    val positions = when(size(col("__w")) >= w,
      sequence(lit(1), size(col("__w")) - (w - 1)))
      .otherwise(array().cast("array<int>"))
    // fanOut before the normalize + positional window explode (§2.5, see
    // shingles): the low-split bench scan otherwise serializes it
    val spans = graft.sources.Tables.fanOut(
        docs.select(col(idCol).as("doc"), col(textCol).as("__t")), col("doc"))
      .select(col("doc"), split(normalizeText(col("__t")), " ").as("__w"))
      .select(col("doc"), explode(transform(positions,
        i => struct(i.as("pos"), concat_ws(" ", slice(col("__w"), i, lit(w))).as("span")))).as("s"))
      .select(col("doc"), col("s.pos").as("pos"), col("s.span").as("span"))
    val dupSpans = spans.groupBy(col("span"))
      .agg(countDistinct(col("doc")).as("__nd"))
      .filter(col("__nd") > 1)
      .select(col("span"))
    val hits = spans.join(dupSpans, Seq("span"), "left_semi")
      .select(col("doc"), col("pos"))
    // merge overlapping/adjacent windows into maximal islands: a window
    // starts a new island iff it begins past every previous window's end
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
    val prevEnd = max(col("end")).over(win.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    val islands = hits
      .withColumn("end", col("pos") + (w - 1))
      .withColumn("__new", when(prevEnd.isNull || col("pos") > prevEnd + 1, 1)
        .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(win))
      .groupBy(col("doc"), col("__isl"))
      .agg(min(col("pos")).as("s"), max(col("end")).as("e"))
    islands.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
  }

  /** Cross-corpus contamination check: for every corpus document, how
    * many of its n-grams appear ANYWHERE in `benchmark` — the
    * train/eval decontamination pass every serious training pipeline runs
    * (a benchmark document leaking into the training set inflates evals).
    *
    * Scale shape: the benchmark's distinct-shingle set is the join's
    * build side, SIZE-GATED like [[contaminationReport]] (one cheap
    * token-mass scan of the benchmark — an upper bound on its
    * distinct-shingle count — decides): under the gate it broadcasts
    * (eval suites are normally tiny next to a training corpus, and after
    * the explode+distinct the optimizer has no size statistics to decide
    * with), above it the probe degrades to a shuffled equi-join instead
    * of OOMing the driver. Corpus-side cost is one shingle explode —
    * linear, no corpus self-join. Corpus documents with zero overlap are
    * kept with `n_overlap` 0 (left join), so the output is a complete
    * per-document audit, not just the hits. */
  def crossCorpusOverlap(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      broadcastMaxTokens: Long = DefaultBroadcastMaxTokens): DataFrame = {
    val cs = shingles(corpus, idCol, textCol, n)
    val benchTokens = benchmark
      .agg(coalesce(sum(size(split(
        normalizeText(coalesce(col(textCol), lit(""))), " "))), lit(0L)))
      .head().getLong(0)
    val bs0 = shingles(benchmark, idCol, textCol, n).select(col("shingle")).distinct()
    val bs = if (benchTokens <= broadcastMaxTokens) broadcast(bs0) else bs0
    val hits = cs.join(bs, Seq("shingle"), "left_semi")
      .groupBy(col("doc")).agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(idCol))
      .join(hits, corpus(idCol) === hits("doc"), "left_outer")
      .select(corpus(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
  }

  /** Per-(benchmark, corpus-group) contamination REPORT — the aggregate
    * twin of [[crossCorpusOverlap]]: that pass says WHICH corpus docs
    * overlap the held-out set; the eval-integrity audit every training
    * run publishes wants it per benchmark and per corpus source — how
    * many training docs carry at least `threshold` of benchmark B's
    * n-grams, what fraction of source S that is, and the total leaked
    * n-gram mass. Zero-contamination (benchmark, group) pairs appear
    * with zeros: an audit that omits clean rows can't prove it checked.
    *
    * Scale shape: benchmark shingles travel TAGGED by their benchmark;
    * the corpus pays one shingle explode; per-(doc, benchmark) counts
    * combine map-side; the report frame is benchmark × group cardinality
    * — the one cross join in the plan multiplies two agg-bounded tiny
    * frames, never row data. The corpus-sized shingle probe is
    * SIZE-GATED: the benchmark's token mass (an upper bound on its
    * distinct-shingle count, measured with one cheap scan — no explode)
    * decides between a broadcast hash join (eval suites are normally tiny
    * next to a training corpus) and a plain shuffled equi-join — an
    * unconditional broadcast hint would grow linearly with a
    * caller-supplied benchmark and OOM the driver at scale instead of
    * degrading to a shuffle. */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, groupCol: String, benchCol: String,
      n: Int = 3, threshold: Long = 3L,
      broadcastMaxTokens: Long = DefaultBroadcastMaxTokens): DataFrame =
    contaminationReportWithStats(corpus, benchmark, idCol, textCol,
      groupCol, benchCol, n, threshold, broadcastMaxTokens)._1

  /** Broadcast gate for [[contaminationReport]]: benchmark token masses up
    * to this broadcast the tagged shingle set; above it the probe becomes
    * a shuffled equi-join that degrades instead of OOMing. Sizing: token
    * mass bounds the distinct-shingle row count, and a (tag, 3-gram) row
    * is ~60-70 bytes as an unsafe row, so 512Ki tokens caps the broadcast
    * at ~35 MB — comfortably inside executor/driver memory while still
    * covering every realistic eval suite. */
  val DefaultBroadcastMaxTokens: Long = 512L << 10

  /** Observability reading for the [[contaminationReport]] size gate,
    * returned WITH the frame it describes (run-scoped, same pattern as
    * [[graft.operators.Fuzzy.fuzzySelfJoinWithStats]]): the measured
    * benchmark token mass and which probe path the gate chose. */
  final case class ContaminationStats(benchTokens: Long, broadcastProbe: Boolean)

  /** A FROZEN benchmark suite prepared once for repeated
    * [[contaminationProbe]] calls — the incremental-audit shape (x122):
    * batches arrive continuously while the suite never changes, so the
    * size-gate aggregate (a blocking benchmark scan) and the tagged
    * distinct (benchmark, shingle) relation (an explode + distinct
    * shuffle) are paid ONCE here instead of once per batch. Caching: a
    * BROADCAST-sized suite's shingle relation is one small scan+explode
    * to rebuild, measurably cheaper per probe than re-reading cached
    * blocks — so by default only a suite too big to broadcast (whose
    * rebuild is a real shuffle) is MEMORY_AND_DISK-persisted; pass
    * `persist = Some(…)` to override. Call [[release]] when the last
    * probe is done (a no-op when nothing was persisted). */
  final case class PreparedBenchmark private[operators] (
      benchShingles: DataFrame, benches: DataFrame,
      stats: ContaminationStats, n: Int, benchCol: String,
      persisted: Boolean) {
    def release(): Unit = if (persisted) {
      benchShingles.unpersist(); benches.unpersist(); ()
    }
  }

  /** Build a [[PreparedBenchmark]]: one gate aggregate + one tagged
    * shingle relation, shared by every subsequent probe. */
  def prepareBenchmark(benchmark: DataFrame, textCol: String,
      benchCol: String, n: Int = 3,
      broadcastMaxTokens: Long = DefaultBroadcastMaxTokens,
      persist: Option[Boolean] = None): PreparedBenchmark = {
    val benchTokens = benchmark
      .agg(coalesce(sum(size(split(
        normalizeText(coalesce(col(textCol), lit(""))), " "))), lit(0L)))
      .head().getLong(0)
    val broadcastProbe = benchTokens <= broadcastMaxTokens
    val doPersist = persist.getOrElse(!broadcastProbe)
    // shingles() keys by its id column — passing the benchmark tag AS the
    // id yields exactly the distinct (benchmark, shingle) relation
    val bsh = shingles(benchmark, benchCol, textCol, n)
      .select(col("doc").as("__bench"), col("shingle"))
    val benches = benchmark.select(col(benchCol).as("__bench")).distinct()
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    PreparedBenchmark(
      if (doPersist) bsh.persist(lvl) else bsh,
      if (doPersist) benches.persist(lvl) else benches,
      ContaminationStats(benchTokens, broadcastProbe), n, benchCol, doPersist)
  }

  /** [[contaminationReport]] returning the size-gate reading with the
    * report frame. The gate costs one aggregate scan of the benchmark
    * frame (token counts, no explode/shuffle) — negligible next to the
    * corpus-side shingle explode it protects. */
  def contaminationReportWithStats(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, groupCol: String, benchCol: String,
      n: Int = 3, threshold: Long = 3L,
      broadcastMaxTokens: Long = DefaultBroadcastMaxTokens): (DataFrame, ContaminationStats) = {
    val prep = prepareBenchmark(benchmark, textCol, benchCol, n,
      broadcastMaxTokens, persist = Some(false))
    (contaminationProbe(prep, corpus, idCol, textCol, groupCol, threshold),
      prep.stats)
  }

  /** One corpus batch probed against a [[PreparedBenchmark]]: the
    * batch-sized half of [[contaminationReport]] — corpus shingles,
    * gate-chosen join, per-(benchmark, group) rollup. Identical output
    * to the one-shot report on the same inputs. */
  def contaminationProbe(prep: PreparedBenchmark, corpus: DataFrame,
      idCol: String, textCol: String, groupCol: String,
      threshold: Long = 3L): DataFrame = {
    require(threshold >= 1, "threshold must be at least 1")
    val cs = shingles(corpus, idCol, textCol, prep.n)
    val bsh =
      if (prep.stats.broadcastProbe) broadcast(prep.benchShingles)
      else prep.benchShingles
    val perDoc = cs.join(bsh, Seq("shingle"))
      .groupBy(col("doc"), col("__bench"))
      .agg(count(lit(1)).as("overlap_ngrams"))
    val src = corpus.select(col(idCol).as("doc"), col(groupCol).as("__grp"))
    val totals = src.groupBy(col("__grp")).agg(count(lit(1)).as("n_docs"))
    val hits = perDoc.join(src, "doc")
      .groupBy(col("__bench"), col("__grp"))
      .agg(sum(col("overlap_ngrams")).as("overlap_ngrams"),
        sum(when(col("overlap_ngrams") >= threshold, lit(1L)).otherwise(lit(0L)))
          .as("n_contaminated"))
    prep.benches.crossJoin(totals)
      .join(hits, Seq("__bench", "__grp"), "left_outer")
      .na.fill(0L, Seq("overlap_ngrams", "n_contaminated"))
      .select(col("__bench").as(prep.benchCol), col("__grp").as(groupCol),
        col("n_docs"), col("n_contaminated"),
        expr("(1000000 * n_contaminated) div n_docs").as("contaminated_micro"),
        col("overlap_ngrams"))
  }

  /** 32-bit SimHash per doc: token hash bits vote ±1, fingerprint = sign
    * vector. One groupBy(doc) with 32 conditional sums. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(
        col(idCol).as("doc"),
        explode(split(normalizeText(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      // explicit-width repartition on the dedup keys: it satisfies the
      // distinct's distribution requirement (no second shuffle) and is
      // exempt from AQE coalescing, so the md5 hashing and the 32-way
      // vote partial-agg below stay parallel even inside a cached plan
      // (input bytes are tiny, output work is not — AQE would fold the
      // whole pipeline into one task)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc"), col("tok"))
      .distinct()
      // first 8 hex chars of md5 → 32-bit token hash (engine-portable)
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    val votes = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$b"))
    val voted = toks.groupBy(col("doc")).agg(votes.head, votes.tail: _*)
    val fp = (0 until 32).map(b =>
      when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    voted.select(col("doc"), fp.as("simhash"))
  }

  /** Near-duplicate CLUSTERS: connected components over a pair list, by
    * min-label propagation with pointer doubling — each round propagates
    * labels one hop along the edges AND jumps each label to its label's
    * label (the hash-to-min shape), so long chains converge in
    * O(log diameter) rounds instead of O(diameter). Every doc appears in
    * the output: singletons label themselves. The driver loop only
    * sequences Spark jobs — per-round work is fully distributed, the same
    * shape GraphX/GraphFrames connected components uses.
    *
    * Per round there is exactly ONE materializing job (the localCheckpoint
    * of the new labels); the convergence signal is a change flag computed
    * inside the same plan and counted with a trivial scan of the
    * checkpointed blocks — not a second join (that doubled the per-round
    * job overhead and made this operator a third of the whole bench).
    * If `maxIter` rounds don't converge the result would be silently
    * wrong, so the loop throws instead of returning partial labels.
    *
    * cluster_id = min doc id of the component — the canonical document a
    * curation pipeline keeps (pair generators: [[ngramJaccardPairs]],
    * [[minhashLsh]], [[simhashPairs]], or embedding near-dup pairs). */
  def dupClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "doc_a", bCol: String = "doc_b", maxIter: Int = 20): DataFrame = {
    // Only docs that appear in a pair can ever change label — iterate over
    // that (much smaller) vertex set and left-join the full corpus once at
    // the end; singletons self-label through the coalesce.
    // Pinned persist (not localCheckpoint): pair GENERATION is the
    // expensive half of every dupClusters consumer (an LSH banding +
    // candidate verification), and the cache manager's plan matching lets
    // a repeated call on the same pair derivation reuse the symmetrized
    // edge blocks instead of re-running it; the input-keyed LRU bounds
    // what a long session keeps pinned (the r15 dedup-cache lesson).
    // Loop state below stays localCheckpoints — run-local by nature.
    val edges0 = pinPersist(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    pinGeneration(edges0)
    // The iterate set is usually TINY relative to the corpus (only paired
    // docs), but each round would still shuffle it across the session's
    // full shuffle-partition count — at 32+ partitions the loop's cost is
    // pure task/stage scheduling. Size the loop's partitioning to the
    // data: ~64k edges per partition, capped at the session setting (a
    // billion-edge pair set still spreads over the full cluster).
    val loopParts = {
      val n = edges0.count() // materializes (cold) or reads (warm) the cache
      val cap = pairs.sparkSession.sessionState.conf.numShufflePartitions
      math.max(1, math.min(cap, ((n + 65535) / 65536).toInt))
    }
    val edges = edges0.repartition(loopParts, col("dst")).materialized
    // localCheckpoint (not persist): iterative algorithms re-optimize the
    // whole lineage each round otherwise — plan analysis cost grows
    // superlinearly with iteration count while the data stays tiny
    var labels = edges.select(col("src")).distinct()
      .select(col("src").as("id"), col("src").as("label"))
      .materialized
    // superseded per-round checkpoints are released as soon as the next
    // round's is materialized; only the FINAL one stays (the returned
    // plan reads it)
    var lastCkpt = labels
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // 1-hop propagation: each vertex takes the min over its own label and
      // its neighbors' labels; the previous label rides along as `old` so
      // the change flag needs no join back against the previous state
      val neighborLabels = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"),
          lit(null).cast(labels.schema("label").dataType).as("old"))
      // every shuffle in the round is pinned to loopParts via explicit
      // repartition on the consumer's key — the following groupBy/join
      // then reuse that partitioning instead of adding an exchange at the
      // session's (data-oblivious) partition count
      val hop = labels.select(col("id"), col("label"), col("label").as("old"))
        .union(neighborLabels)
        .repartition(loopParts, col("id"))
        .groupBy(col("id")).agg(min(col("label")).as("l1"), max(col("old")).as("old"))
      // pointer doubling: jump to the label's own (already-propagated)
      // label — labels only decrease, so least() keeps monotonicity
      // self-join: the b side reuses the groupBy's (id, loopParts)
      // partitioning, so only the a side shuffles — and it co-partitions
      // to loopParts to match
      val next = hop.alias("a")
        .join(hop.alias("b"), col("a.l1") === col("b.id"), "left_outer")
        .select(col("a.id").as("id"),
          least(col("a.l1"), coalesce(col("b.l1"), col("a.l1"))).as("label"),
          col("a.old").as("old"))
        .materialized
      // tiny scan over the materialized blocks — no recompute, no join
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("id"), col("label"))
      org.apache.spark.sql.GraftShims.unpersistCheckpoint(lastCkpt, deleteFiles = true)
      lastCkpt = next
      i += 1
    }
    org.apache.spark.sql.GraftShims.unpersistCheckpoint(edges, deleteFiles = true) // final join reads only labels
    if (changed > 0) throw new IllegalStateException(
      s"dupClusters did not converge in $maxIter rounds ($changed labels still changing) — " +
        "raise maxIter; returning partial labels would split components silently")
    docs.select(col(idCol))
      .join(labels, docs(idCol) === labels("id"), "left_outer")
      .select(docs(idCol), coalesce(col("label"), docs(idCol)).as("cluster_id"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, banded: split
    * the 32 bits into (maxDist+1) bands — pigeonhole guarantees any pair
    * within distance shares ≥1 exact band, so the join is bucketed, not
    * quadratic. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    // maxDist >= 32 makes the band width 0: every non-last band keys to 0
    // and the "banded" self-join degenerates to a full corpus cross join
    // that hangs/OOMs instead of erroring — and a Hamming bound >= 32
    // over a 32-bit fingerprint is always a caller mistake
    require(maxDist >= 0 && maxDist < 32,
      s"simhashPairs: maxDist must be in [0, 31] (32-bit fingerprint), got $maxDist")
    // both sides of the banded self-join reference the fingerprints —
    // persist so the 32-vote aggregation runs once, not twice
    val s = pinPersist(simhash(docs, idCol, textCol))
    pinGeneration(s)
    val nBands = maxDist + 1
    val width = 32 / nBands
    val bandCols = (0 until nBands).map { b =>
      val bits = shiftright(col("simhash"), b * width)
        .bitwiseAND((1L << (if (b == nBands - 1) 32 - b * width else width)) - 1L)
      struct(lit(b).as("band"), bits.as("key"))
    }
    val buckets = s.select(col("doc"), col("simhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    // The join INPUT is tiny (one row per doc per band) but its OUTPUT is
    // the candidate-pair explosion — AQE sizes partitions by input and
    // would run the whole Hamming filter in one task. Pin the probe side
    // to full width (explicit N is exempt from AQE coalescing); the
    // planner still broadcasts the build side when small.
    val probe = buckets.repartition(
      docs.sparkSession.sessionState.conf.numShufflePartitions,
      col("band"), col("key"))
    probe.alias("a").join(buckets.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // filter BEFORE the dedup so the distinct shuffle only carries pairs
      // that survive the Hamming bound, not every banded candidate
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** C4-style cross-corpus segment dedup: cut each document into
    * non-overlapping `segTokens`-token segments, keep only the globally
    * FIRST occurrence of every repeated segment (first = lowest
    * (doc_id, seg_id)), and reassemble each document from its surviving
    * segments. This is the *removal* counterpart of [[duplicatedSpans]]
    * (which flags overlapping spans but rewrites nothing) — the dedup
    * pass C4/RefinedWeb run on raw web text before training.
    *
    * Scale shape: one corpus-linear explode (≤ len/segTokens rows per
    * doc); the duplicate decision is a window over `md5(segment)` — a
    * single hash shuffle on a fixed-width key whose groups are occurrence
    * counts (tiny, skew-free: even a segment repeated a million times is
    * one group of a million 40-byte rows, and the heavy tail of unique
    * segments collapses map-side); reassembly is a second hash shuffle
    * back to doc_id. Two shuffles total, both on compact keys, no
    * quadratic stage anywhere — this is why the windowed-hash design
    * replaces the paper's suffix array at 100 TB.
    */
  def segmentDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", segTokens: Int = 4): DataFrame =
    assembleKept(flagFirstSegments(segments(docs, idCol, textCol, segTokens)))

  /** Explode a corpus into its non-overlapping `segTokens`-token segments:
    * (doc_id, seg_id, n_segs, seg_text, h = md5(seg_text)). */
  private def segments(docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    docs
      .select(col(idCol).as("doc_id"),
        filter(split(normalizeText(col(textCol)), " "), t => length(t) > 0).as("toks"))
      .withColumn("len", size(col("toks")))
      .filter(col("len") > 0)
      .withColumn("n_segs", ceil(col("len").cast("double") / segTokens).cast("long"))
      .select(col("doc_id"), col("toks"), col("n_segs"),
        explode(sequence(lit(0L), col("n_segs") - 1)).as("seg_id"))
      .select(col("doc_id"), col("seg_id"), col("n_segs"),
        array_join(slice(col("toks"),
          (col("seg_id") * segTokens + 1).cast("int"), lit(segTokens)), " ").as("seg_text"))
      // fixed-width shuffle key: downstream grouping keys on the segment's
      // md5, not the segment text itself
      .withColumn("h", md5(col("seg_text")))
  }

  /** Mark each segment row `kept` iff it is the first occurrence of its
    * hash within `segs` — first = lowest (doc_id, seg_id). */
  private def flagFirstSegments(segs: DataFrame): DataFrame =
    segs.withColumn("kept",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"), col("seg_id"))) === 1)

  /** Per-doc reassembly of flagged segments:
    * (doc_id, n_segs, kept_segs, kept_text). */
  private def assembleKept(flagged: DataFrame): DataFrame =
    flagged.groupBy(col("doc_id"))
      .agg(max(col("n_segs")).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_segs"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("seg_id"), col("seg_text"))))),
            s => s.getField("seg_text")),
          " ").as("kept_text"))

  /** Incremental [[segmentDedup]] against a PERSISTED segment-hash index —
    * the third member of the incremental-dedup family (exact band index:
    * [[incrementalDedup]]; here: segments). A batch's segment is kept iff
    * its hash is absent from the index AND it is the batch's own first
    * occurrence; the batch then appends exactly its NEW distinct hashes,
    * so the index grows by novelty, not volume, and for id-ordered batches
    * the union of batch outputs equals the single-pass [[segmentDedup]]
    * verbatim (which is what the x64 oracle checks).
    *
    * Scale: batch cost is the batch's two hash shuffles plus one
    * semi-join against the index, point-pruned by per-file hash ranges
    * (bounded by the batch, not the index, on a hash-clustered layout);
    * the history is never rescanned. */
  def incrementalSegmentDedup(store: graft.tables.TableStore, indexTable: String,
      batch: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      segTokens: Int = 4): DataFrame = {
    val segs = segments(batch, idCol, textCol, segTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // resolve the index read NOW — this batch's append below must not
    // leak into its own dedup decision
    val hasIndex = store.exists(indexTable)
    val inIndex =
      if (!hasIndex) segs.filter(lit(false)).select(col("h"))
      else {
        val (idx, _) = store.readPointPruned(indexTable, segs, Seq("h"))
        segs.join(idx, Seq("h"), "left_semi").select(col("h"))
      }
    val flagged = flagFirstSegments(segs)
      .join(inIndex.distinct().withColumn("__old", lit(true)), Seq("h"), "left_outer")
      .withColumn("kept", col("kept") && col("__old").isNull)
    val out = assembleKept(flagged).materialized
    val newHashes = flagged.filter(col("kept")).select(col("h"))
    if (!hasIndex) {
      // per-file bloom on the segment hash: kept-only growth means each
      // hash lives in ONE file, so the per-batch probe stays flat (the
      // bloom stage of readPointPruned skips files with none of the
      // batch's hashes — md5 strings defeat [min,max] boxes)
      store.createOrReplace(indexTable, newHashes.limit(0), statsFor = Seq("h"))
      store.setBloomFilterIndex(indexTable, Seq("h"), ndv = 1000000L)
      store.append(indexTable, newHashes)
    } else store.append(indexTable, newHashes)
    segs.unpersist(false)
    out
  }
}
