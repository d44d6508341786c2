package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.RollingHash.rolling_hash
import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}

/** Extension-operator semantics at sf0.001: recall/containment relations
  * between the approximate and exact paths, native-expression parity with a
  * Scala reference implementation, and multimodal plumbing shape. */
class ExtensionSpec extends AnyFunSuite {

  lazy val spark = graft.core.GraftSession.local(4)
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("query-harness scratch stores are reclaimed: a sealed query leaves no temp dirs " +
      "behind and its result stays readable after deletion") {
    // x33 creates the full scratch surface — a store, a file-sink output
    // dir and a streaming checkpoint dir; Scratch.sealing must delete all
    // three once the result is materialized (before this helper ~25 call
    // sites leaked a small store per bench/correctness invocation)
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    import scala.jdk.CollectionConverters._
    def scratchDirs = java.nio.file.Files.list(tmp).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft_x33_")).toSet
    val before = scratchDirs
    val r = graft.queries.ExtensionQueries.x33TableStream(spark, dir)
    assert(scratchDirs == before,
      s"sealing must delete the query's scratch dirs, left: ${scratchDirs -- before}")
    assert(r.count() > 0, "the sealed result must stay readable after deletion")
  }

  test("x105 epoch plan: the budget is exactly exhausted and epochs are monotone in quality") {
    val plan = graft.queries.ExtensionQueries.x105EpochPlan(spark, dir).collect()
    val total = plan.map(_.getAs[Long]("tokens")).sum
    // budget = 2x corpus < 3x corpus available -> allocation must spend it all
    assert(plan.map(_.getAs[Long]("alloc_tokens")).sum == 2 * total,
      "the 2x token budget must be exactly exhausted")
    assert(plan.forall(r => r.getAs[Long]("epochs_micro") <= 3000000L),
      "no source may exceed the 3-epoch repetition cap")
    // better sources never repeat less: epochs are non-increasing down the
    // (quality desc, source asc) order the allocator walks
    val ordered = plan.sortBy(r =>
      (-r.getAs[Long]("quality_micro"), r.getAs[String]("source")))
    val epochs = ordered.map(_.getAs[Long]("epochs_micro"))
    assert(epochs.zip(epochs.tail).forall { case (a, b) => a >= b },
      s"epoch allocation must be monotone in quality order: ${epochs.mkString(",")}")
  }

  test("x106 representative carries its cluster's max quality (min id among ties), " +
      "one representative per cluster") {
    val reps = graft.queries.ExtensionQueries.x106BestOfCluster(spark, dir)
    // independent argmax formulation: x22's cluster labels + a window rank
    val clusters = graft.queries.ExtensionQueries.x22DupClusters(spark, dir)
    val scored = docs.select(col("doc_id"),
      round(TextFunctions.qualityScore(col("text")) * 1000000).cast("long").as("qm"))
    val expected = clusters.join(scored, "doc_id")
      .withColumn("rk", row_number().over(Window.partitionBy(col("cluster_id"))
        .orderBy(col("qm").desc, col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_doc"),
        col("qm").as("rep_quality_micro"))
    assert(reps.select("cluster_id").distinct().count() == reps.count(),
      "one representative per cluster")
    assert(reps.select("cluster_id", "rep_doc", "rep_quality_micro")
      .exceptAll(expected).isEmpty, "max(struct) argmax must equal the window argmax")
  }

  test("minhash LSH candidates contain every true pair with jaccard ≥ 0.8 (recall)") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select($"doc_a", $"doc_b")
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", 3, 4, 2, 0.8)
      .select($"doc_a", $"doc_b")
    assert(exact.exceptAll(lsh).count() == 0, "LSH must not miss near-exact dups")
  }

  test("incremental dedup over batches + persisted index == single-pass firstSeenDedup") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_incdedup").toString)
    try {
      val single = Dedup.firstSeenDedup(docs, "doc_id", "text", 3, 4, 2)
        .select($"doc_id").as[Long].collect().sorted
      val r = docs.agg(min($"doc_id").cast("long"), max($"doc_id").cast("long")).head()
      val cut = (r.getLong(0) + r.getLong(1)) / 2
      // three uneven batches, id-ordered — boundaries must be invisible
      val b1 = Dedup.incrementalDedup(store, "idx.bands",
        docs.filter($"doc_id" <= cut / 2), "doc_id", "text", 3, 4, 2)
      val b2 = Dedup.incrementalDedup(store, "idx.bands",
        docs.filter($"doc_id" > cut / 2 && $"doc_id" <= cut), "doc_id", "text", 3, 4, 2)
      val b3 = Dedup.incrementalDedup(store, "idx.bands",
        docs.filter($"doc_id" > cut), "doc_id", "text", 3, 4, 2)
      val inc = (b1.select($"doc_id").as[Long].collect() ++
        b2.select($"doc_id").as[Long].collect() ++
        b3.select($"doc_id").as[Long].collect()).sorted
      assert(inc.sameElements(single),
        "batch boundaries changed the dedup decision")
      // the index records EVERY seen doc's bands (dropped docs included):
      // that is what makes a dropped doc still block later collisions
      val indexed = store.read("idx.bands").select($"doc").distinct().count()
      assert(indexed == docs.count(), "index must record all seen docs")
    } finally store.detach()
  }

  test("incremental dedup index pruning: a clustered index scans fewer files than the manifest") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_incprune").toString)
    try {
      // grow the index over three batches, then cluster it on the join
      // keys so files carry narrow (band, key) stats boxes — the
      // maintenance a production index runs (same precondition as
      // merge-discovery pruning)
      val r = docs.agg(min($"doc_id").cast("long"), max($"doc_id").cast("long")).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * (hi - lo) / 3
      Dedup.incrementalDedup(store, "idx.pb",
        docs.filter($"doc_id" <= cut1), "doc_id", "text", 3, 4, 2)
      Dedup.incrementalDedup(store, "idx.pb",
        docs.filter($"doc_id" > cut1 && $"doc_id" <= cut2), "doc_id", "text", 3, 4, 2)
      Dedup.incrementalDedup(store, "idx.pb",
        docs.filter($"doc_id" > cut2), "doc_id", "text", 3, 4, 2)
      Dedup.clusterIndex(store, "idx.pb", files = 16)
      val total = store.prunedFileList("idx.pb", None).size
      assert(total >= 8, s"clustering should leave a multi-file index, got $total")
      // a tiny probe batch (2 docs ≈ 8 band keys) must scan only the files
      // whose stats boxes admit its keys — the batch bounds the scan, not
      // the index's history
      val probe = docs.orderBy($"doc_id").limit(2)
      Dedup.incrementalDedup(store, "idx.pb", probe, "doc_id", "text", 3, 4, 2)
      val Some((cand, tot)) = Dedup.lastIndexScan: @unchecked
      assert(tot == total, s"probe saw a different manifest ($tot vs $total)")
      assert(cand < tot, s"index probe scanned every file ($cand/$tot)")
    } finally store.detach()
  }

  test("incremental dedup: an UNclustered (append-only) index still prunes via key blooms") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_incbloom").toString)
    try {
      // 12 appends, never clustered — between maintenance passes every
      // file's (band, key) box spans the full range, so only the bloom
      // stage can skip anything
      def batch(i: Int) = (0 until 4).map(j =>
        (i * 100L + j, s"w${i}a$j w${i}b$j w${i}c$j w${i}d$j w${i}e$j"))
        .toSeq.toDF("doc_id", "text")
      (1 to 12).foreach(i =>
        Dedup.incrementalDedup(store, "idx.bloom", batch(i), "doc_id", "text", 3, 4, 2))
      val total = store.prunedFileList("idx.bloom", None).size
      assert(total > 8, s"need a many-file manifest, got $total")
      // probe with batch 1's docs: their band keys live in the EARLIEST
      // file(s); the bloom stage must skip the later files wholesale
      Dedup.incrementalDedup(store, "idx.bloom", batch(1), "doc_id", "text", 3, 4, 2)
      val Some((cand, tot)) = Dedup.lastIndexScan: @unchecked
      assert(cand < tot / 2,
        s"append-only index probe must stay bloom-bounded ($cand/$tot)")
    } finally store.detach()
  }

  test("x50 quality buckets: per-language thirds, score-monotone") {
    val out = graft.queries.ExtensionQueries.x50QualityBuckets(spark, dir)
      .select($"lang", $"score_micro".as[Long], $"bucket".as[Long]).cache()
    // ntile balance: bucket sizes within a language differ by at most 1
    val sizes = out.groupBy($"lang", $"bucket").count()
      .groupBy($"lang").agg((max($"count") - min($"count")).as("spread"))
      .select($"spread".as[Long]).collect()
    assert(sizes.forall(_ <= 1), s"ntile thirds must balance, spreads=${sizes.toSeq}")
    // monotone: within a language every head score >= every middle score
    // >= every tail score (ties can straddle, hence >=)
    val bounds = out.groupBy($"lang", $"bucket")
      .agg(min($"score_micro").as("lo"), max($"score_micro").as("hi"))
    val cross = bounds.alias("a").join(bounds.alias("b"),
      col("a.lang") === col("b.lang") && col("a.bucket") < col("b.bucket") &&
        col("a.lo") < col("b.hi"))
    assert(cross.count() == 0, "lower-numbered buckets must hold higher scores")
    out.unpersist()
  }

  test("x51 bigram fluency: Laplace-smoothed micro-probabilities, hand-checked") {
    // train doc "a b a c": bigrams (a,b),(b,a),(a,c); c1: a=2, b=1; V=3
    val df = Seq((1L, "a b a c", "t"), (2L, "a b", "x"), (3L, "z z", "x"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.LangModel.bigramFluency(df, $"source" === "t")
      .orderBy($"doc_id")
      .select($"doc_id".as[Long], $"n_bigrams".as[Long], $"fluency_micro".as[Long])
      .collect().toSeq
    // doc1: (400000 + 500000 + 400000) div 3 = 433333
    // doc2: (1+1)*1e6 div (2+3) = 400000
    // doc3 (all-OOV): 1e6 div (0+3) = 333333
    assert(out == Seq((1L, 3L, 433333L), (2L, 1L, 400000L), (3L, 1L, 333333L)))
  }

  test("x51 over the corpus: one row per doc, n_bigrams = tokens - 1, scores in (0, 1e6]") {
    val out = graft.queries.ExtensionQueries.x51BigramFluency(spark, dir).cache()
    val nTok = docs.select($"doc_id",
      size(filter(split($"text", " "), w => length(w) > 0)).as("n"))
    assert(out.count() == docs.count(), "every testdata doc has >= 2 tokens")
    val bad = out.join(nTok, "doc_id")
      .filter($"n_bigrams" =!= $"n" - 1 ||
        $"fluency_micro" <= 0 || $"fluency_micro" > 1000000L)
    assert(bad.count() == 0, "bigram count and probability bounds")
    out.unpersist()
  }

  test("x52 DSIR: disjoint-vocabulary target docs are exactly the selected set") {
    val df = Seq(
      (1L, "aa bb aa", "tgt"), (2L, "bb aa bb", "tgt"),
      (3L, "cc dd cc dd", "raw"), (4L, "dd cc", "raw"), (5L, "ee ff", "raw"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.LangModel.dsirSelect(df, $"source" === "tgt")
    val sel = out.filter($"selected" === 1).select($"doc_id".as[Long]).collect().toSet
    assert(sel == Set(1L, 2L), s"target-vocab docs outrank the corpus mean, got $sel")
  }

  test("x52 over the corpus: mean-weight gate splits the corpus, selected = above-mean") {
    val out = graft.queries.ExtensionQueries.x52DsirSelect(spark, dir).cache()
    val n = out.count()
    val nSel = out.filter($"selected" === 1).count()
    assert(nSel > 0 && nSel < n, s"gate must split the corpus ($nSel/$n)")
    // the selected flag is exactly "dsir_micro > floor-mean", recomputed here
    val thr = out.agg(expr(
      "CAST(sum(CAST(dsir_micro AS decimal(38,0))) div count(1) AS BIGINT)"))
      .head().getLong(0)
    val mism = out.filter(($"dsir_micro" > thr).cast("int") =!= $"selected")
    assert(mism.count() == 0, "selected flag must equal the above-mean predicate")
    out.unpersist()
  }

  test("x53 token ids: rank-ordered vocab, UNK=0, order-preserving — hand-checked") {
    // counts: a=2, b=2, c=1; vocabSize=2 keeps {a, b} (count desc, token
    // asc breaks the tie): a→1, b→2; c is out-of-vocab → 0
    val df = Seq((1L, "b a b"), (2L, "c a")).toDF("doc_id", "text")
    val out = graft.operators.Packing.encodeTokenIds(df, vocabSize = 2)
      .orderBy($"doc_id")
      .select($"doc_id".as[Long], $"n_tokens".as[Long], $"ids".as[String])
      .collect().toSeq
    assert(out == Seq((1L, 3L, "2 1 2"), (2L, 2L, "0 1")))
  }

  test("x53 over the corpus: id sequence length = token count, ids within [0, 512]") {
    val out = graft.queries.ExtensionQueries.x53TokenIds(spark, dir).cache()
    assert(out.count() == docs.count())
    val bad = out.filter(size(split($"ids", " ")) =!= $"n_tokens" ||
      exists(transform(split($"ids", " "), _.cast("int")),
        id => id < 0 || id > 512 || id.isNull))
    assert(bad.count() == 0, "every token encodes to exactly one id in [0, 512]")
    out.unpersist()
  }

  test("x54 corpus profile: totals reconcile with the corpus and the exact-dup mass") {
    val out = graft.queries.ExtensionQueries.x54CorpusProfile(spark, dir).cache()
    val totals = out.agg(sum($"n_docs"), sum($"dup_docs")).head()
    assert(totals.getLong(0) == docs.count(), "every doc lands in exactly one source row")
    val dupMass = docs
      .select(md5(TextFunctions.normalizeText($"text")).as("h"))
      .groupBy($"h").count().filter($"count" > 1)
      .agg(coalesce(sum($"count"), lit(0L))).head().getLong(0)
    assert(totals.getLong(1) == dupMass,
      "per-source dup_docs must sum to the corpus-wide duplicate mass")
    out.unpersist()
  }

  test("x55 incremental profile: every refresh takes the incremental path and " +
      "matches the batch profile") {
    val docsF = docs.select($"doc_id", $"source", $"n_chars",
      size(filter(split($"text", " "), w => length(w) > 0)).cast("long").as("n_tok"))
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_incprof").toString)
    try {
      store.createOrReplace("cur.docs", docsF.filter($"doc_id" % 2 === 0))
      store.createMaterializedView("cur.profile", "cur.docs", Seq("source"),
        Seq(("n_docs", "count", "*"), ("n_tokens", "sum", "n_tok")))
      store.append("cur.docs", docsF.filter($"doc_id" % 2 === 1))
      store.refreshMaterializedView("cur.profile")
      store.delete("cur.docs", $"doc_id" % 11 === 0)
      store.refreshMaterializedView("cur.profile")
      // both refreshes must ride the signed-delta merge, never a rebuild —
      // the rebuild fallback rescans the source, which is the 100 TB failure
      val ops = store.history("cur.profile").map(_._3)
      assert(ops.count(_.startsWith("mv_refresh:")) == 2,
        s"expected 2 incremental refreshes in $ops")
      val got = store.read("cur.profile")
        .select($"source", $"n_docs", $"n_tokens").orderBy($"source")
        .as[(String, Long, Long)].collect().toSeq
      val want = docsF.filter($"doc_id" % 11 =!= 0)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
        .orderBy($"source").as[(String, Long, Long)].collect().toSeq
      assert(got == want, "incrementally maintained profile must equal recompute")
    } finally store.detach()
  }

  test("banded simhash pairs equal brute-force hamming ≤ 3 pairs (pigeonhole completeness)") {
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", 3).select($"doc_a", $"doc_b")
    val s = Dedup.simhash(docs, "doc_id", "text")
    val brute = s.alias("a").join(s.alias("b"), col("a.doc") < col("b.doc"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
    assert(banded.exceptAll(brute).count() == 0 && brute.exceptAll(banded).count() == 0)
  }

  test("rolling_hash matches a Scala reference fold, interpreted and codegen'd") {
    val texts = docs.select(TextFunctions.normalizeText($"text").as("t")).as[String].take(20)
    def ref(s: String): Long = s.foldLeft(0L)((h, c) => h * 1000003L + c)
    val got = docs.limit(20)
      .select(TextFunctions.normalizeText($"text").as("t"))
      .withColumn("h", rolling_hash($"t"))
      .as[(String, Long)].collect().toMap
    texts.foreach(t => assert(got(t) == ref(t), s"hash mismatch for: ${t.take(40)}"))
  }

  test("lsh topk neighbors are a subset of brute-force scored space and self-excluded") {
    val queries = emb.filter($"vec_id" < 5)
    val out = Similarity.lshTopK(emb, queries, k = 5, nBits = 4, dim = 64)
    assert(out.filter($"query_id" === $"neighbor_id").count() == 0)
    assert(out.groupBy($"query_id").count().filter($"count" > 5).count() == 0)
  }

  test("ivf: k-means training raises the clustering objective; recall holds and nprobe raises it") {
    // Lloyd's guarantee is on the objective (within-cluster cohesion), not
    // per-query recall — so pin the objective monotonically improving, and
    // recall staying in a band + responding to the nprobe dial.
    def objective(iterations: Int): Double = {
      val cents = Similarity.trainCentroids(emb, nCentroids = 8, iterations = iterations)
      Similarity.nearestCentroids(emb, cents, probes = 1, "vec_id", "embedding")
        .join(cents, col("cluster") === col("centroid_id"))
        .select(Similarity.cosine($"embedding", $"cvec").as("c"))
        .agg(avg($"c")).head.getDouble(0)
    }
    val obj0 = objective(0); val obj2 = objective(2)
    assert(obj2 > obj0, s"training did not improve the k-means objective: $obj2 <= $obj0")

    val queries = emb.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select($"query_id", $"neighbor_id")
    val nTruth = truth.count().toDouble
    def recall(iterations: Int, probes: Int): Double =
      Similarity.ivfTopK(emb, queries, k = 5, nCentroids = 8,
          iterations = iterations, probes = probes)
        .select($"query_id", $"neighbor_id")
        .intersect(truth).count() / nTruth
    val untrained = recall(0, 1)
    val trained = recall(2, 1)
    val probed = recall(2, 2)
    assert(trained >= untrained - 0.1, s"training collapsed recall: $trained vs $untrained")
    assert(probed > trained, s"nprobe=2 did not raise recall: $probed <= $trained")
    assert(trained >= 0.3, s"trained probe-1 recall collapsed: $trained")
  }

  test("int8 quantization: values bounded, recall vs full precision stays high") {
    val q = Similarity.quantize(emb)
    val bounds = q.select(array_max($"qvec").as("mx"), array_min($"qvec").as("mn"))
      .agg(max($"mx"), min($"mn")).as[(Float, Float)].head()
    assert(bounds._1 <= 127f && bounds._2 >= -127f)
    val queries = emb.filter($"vec_id" < 10)
    val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select($"query_id", $"neighbor_id")
    val got = Similarity.quantizedTopK(emb, queries, k = 5)
      .select($"query_id", $"neighbor_id")
    val recall = got.intersect(truth).count().toDouble / truth.count()
    assert(recall >= 0.8, s"int8 recall collapsed: $recall")
  }

  test("multimodal: PNG encode→imageio decode round-trips pixels exactly") {
    val payload = Array.tabulate[Byte](16)(i => ((i * 17 + 3) % 256).toByte)
    val png = Multimodal.encodePng(payload)
    // real PNG container: magic bytes, larger than the raw payload
    assert(png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 4 && img.getHeight == 4 && img.getRaster.getNumBands == 1)
    val decoded = for (y <- 0 until 4; x <- 0 until 4)
      yield img.getRaster.getSample(x, y, 0).toByte
    assert(decoded == payload.toSeq, "grayscale PNG round trip is lossless")
  }

  test("multimodal: WAV encode→javax.sound decode round-trips samples exactly") {
    val payload = Array.tabulate[Byte](16)(i => ((i * 29 + 11) % 256).toByte)
    val wav = Multimodal.encodeWav(payload)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE", "real RIFF container")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    assert(fmt.getChannels == 1 && fmt.getSampleRate == 8000f &&
      fmt.getSampleSizeInBits == 16 && ais.getFrameLength == 16)
    val data = ais.readAllBytes()
    val decoded = (0 until 16).map(i =>
      ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff)).toShort.toInt)
    assert(decoded == payload.map(b => ((b & 0xff) - 128) * 256).toSeq,
      "PCM round trip is lossless")
  }

  test("multimodal: AVI encode -> RIFF chunk walk -> DIB decode round trip is lossless") {
    import graft.operators.Multimodal
    val payload = Array.tabulate[Byte](16)(i => ((i * 37 + 5) % 256).toByte)
    val avi = Multimodal.encodeAvi(payload)
    assert(new String(avi.take(4), "US-ASCII") == "RIFF" &&
      new String(avi.slice(8, 12), "US-ASCII") == "AVI ", "real RIFF container")
    val clip = Multimodal.decodeAvi(avi)
    assert(clip.width == 2 && clip.height == 2 && clip.channels == 3 &&
      clip.nFrames == 4, s"geometry must come from the parsed headers: $clip")
    assert(clip.samples == Multimodal.aviSamples(payload),
      "DIB wire format (bottom-up, BGR, stride) must reverse exactly")
    // a frame-count lie in avih is an error, not a silent truncation
    val lied = avi.clone()
    val avihOff = { // locate dwTotalFrames: RIFF(12) LIST(8) 'hdrl'(4) avih-hdr(8) + 16
      12 + 8 + 4 + 8 + 16
    }
    lied(avihOff) = 9
    val e = intercept[IllegalArgumentException] { Multimodal.decodeAvi(lied) }
    assert(e.getMessage.contains("frames"), s"got: ${e.getMessage}")
    // a negative chunk length must FAIL the decode, never hang the walk
    // (len <= -8 would otherwise stop the position advancing)
    val corrupt = avi.clone()
    val firstChunkLen = 12 + 4 // RIFF header + LIST id -> its length dword
    corrupt(firstChunkLen) = 0xF8.toByte; corrupt(firstChunkLen + 1) = 0xFF.toByte
    corrupt(firstChunkLen + 2) = 0xFF.toByte; corrupt(firstChunkLen + 3) = 0xFF.toByte
    val e2 = intercept[IllegalArgumentException] { Multimodal.decodeAvi(corrupt) }
    assert(e2.getMessage.contains("corrupt RIFF chunk"), s"got: ${e2.getMessage}")
    // a length near Int.MaxValue must not wrap the bounds check negative
    // and slip past it into a ~2GB allocation (the guard compares in Long)
    val wrap = avi.clone()
    wrap(firstChunkLen) = 0xF0.toByte; wrap(firstChunkLen + 1) = 0xFF.toByte
    wrap(firstChunkLen + 2) = 0xFF.toByte; wrap(firstChunkLen + 3) = 0x7F.toByte
    val e3 = intercept[IllegalArgumentException] { Multimodal.decodeAvi(wrap) }
    assert(e3.getMessage.contains("corrupt RIFF chunk"), s"got: ${e3.getMessage}")
    // a LIST too short for its own 4-byte list type must fail, not read
    // past the buffer's end
    val shortList = avi.clone()
    shortList(firstChunkLen) = 0; shortList(firstChunkLen + 1) = 0
    shortList(firstChunkLen + 2) = 0; shortList(firstChunkLen + 3) = 0
    val eL = intercept[IllegalArgumentException] { Multimodal.decodeAvi(shortList) }
    assert(eL.getMessage.contains("truncated LIST"), s"got: ${eL.getMessage}")
    // a truncated avih must fail instead of silently parsing the sibling
    // chunk's bytes as a frame count (avih len dword sits at offset 28)
    val shortHdr = avi.clone()
    shortHdr(28) = 4; shortHdr(29) = 0; shortHdr(30) = 0; shortHdr(31) = 0
    val e4 = intercept[IllegalArgumentException] { Multimodal.decodeAvi(shortHdr) }
    assert(e4.getMessage.contains("truncated avih"), s"got: ${e4.getMessage}")
    // frame chunks that disagree with the strf geometry are an error, not
    // a bare IndexOutOfBounds from the pixel walk (biWidth dword at 176)
    val thin = avi.clone()
    thin(176) = 1 // biWidth 2 -> 1: stride*h expects 8 bytes, frames carry 16
    val e5 = intercept[IllegalArgumentException] { Multimodal.decodeAvi(thin) }
    assert(e5.getMessage.contains("frame 0 carries"), s"got: ${e5.getMessage}")
  }

  test("multimodal: image rows decode via imageio, audio via javax.sound, video via the AVI parse") {
    val media = Multimodal.syntheticMedia(docs)
    val feats = Multimodal.extractFeatures(media).cache()
    assert(feats.count() == docs.count())
    val images = feats.filter($"media_type" === "image")
    assert(images.filter($"width" =!= 4 || $"height" =!= 4 || $"channels" =!= 1).count() == 0)
    assert(images.filter($"n_bytes" <= 16).count() == 0, "PNG container adds bytes over the payload")
    val audio = feats.filter($"media_type" === "audio")
    assert(audio.filter($"channels" =!= 1 || $"sample_rate" =!= 8000 ||
      $"n_frames" =!= 16).count() == 0, "audio format comes from the real RIFF parse")
    assert(audio.filter($"n_bytes" =!= 44 + 32).count() == 0,
      "WAV container = 44-byte header + 32 PCM bytes")
    val video = feats.filter($"media_type" === "video")
    assert(video.filter($"width" =!= 2 || $"height" =!= 2 || $"channels" =!= 3 ||
      $"n_frames" =!= 4).count() == 0, "video geometry comes from the real AVI parse")
    assert(video.filter($"n_bytes" <= 16).count() == 0,
      "AVI container adds bytes over the payload")
    val twice = Multimodal.extractFeatures(media)
    assert(feats.exceptAll(twice).count() == 0, "decode is deterministic")
    // metadata-only access never touches the binary column
    val metaOnly = media.select($"media_id", $"meta.declared_bytes")
    assert(metaOnly.count() == docs.count())
    feats.unpersist()
  }

  test("product quantization: valid codes, better-than-random neighbors, deterministic recall") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val m = 4; val dim = 64; val nC = 8

    // encoding shape: m codes per vector, all drawn from the codebook ids
    val books = Similarity.pqTrain(emb, m, dim, nC, iterations = 2)
    val codes = Similarity.pqEncode(emb, books, m, dim).cache()
    assert(codes.count() == emb.count() * m)
    assert(codes.groupBy($"subspace").agg(countDistinct($"code").as("k"))
      .filter($"k" > nC).count() == 0, s"codes bounded by $nC per subspace")

    val exact = Similarity.bruteForceTopK(emb, q, 5)
      .select($"query_id", $"neighbor_id", $"cos_sim")
    val pq = Similarity.pqTopK(emb, q, 5, m, dim, nC, iterations = 2)
      .select($"query_id", $"neighbor_id")

    // recall vs exact top-5: deterministic (no RNG anywhere), far above the
    // 5/n ≈ 0.01 random baseline; synthetic near-uniform vectors cap PQ
    // recall — on clustered real embeddings this rises with nCentroids
    val recall = exact.select($"query_id", $"neighbor_id")
      .intersect(pq).count() / 50.0
    assert(recall >= 0.15, s"PQ recall@5 $recall below floor")

    // the neighbors PQ picks are genuinely good: their true cosine beats
    // the corpus-wide mean similarity by a wide margin
    val cn = emb.select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val truePq = pq.join(cn.select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qn")), "query_id")
      .join(cn.select($"vec_id".as("neighbor_id"), $"embedding".as("nv"), $"nrm".as("nn")), "neighbor_id")
      .select((Similarity.dot($"qv", $"nv") / ($"qn" * $"nn")).as("cs"))
      .agg(avg($"cs")).as[Double].head()
    val corpusMean = Similarity.bruteForceTopK(emb, q, emb.count().toInt)
      .agg(avg($"cos_sim")).as[Double].head()
    assert(truePq > corpusMean + 0.1,
      s"PQ top-5 mean true cosine $truePq must clearly beat corpus mean $corpusMean")
    codes.unpersist()
  }

  test("dup clusters: pairs land in one component, labels are component minima, singletons self-label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ids = spark.range(1, 15).toDF("doc_id")
    val out = Dedup.dupClusters(ids, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    // chain 1-2-3 collapses transitively; 10-11 is its own component
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(10L) == 10L && out(11L) == 10L)
    // untouched docs are their own cluster
    assert((4L to 9L).forall(d => out(d) == d) && (12L to 14L).forall(d => out(d) == d))
  }

  test("dup clusters: pointer doubling converges a long chain well within maxIter") {
    // a 48-hop chain needs 48 rounds under plain 1-hop propagation — far
    // past the default maxIter of 20; the doubling rounds collapse it
    val chain = (1L until 49L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ids = spark.range(1, 50).toDF("doc_id")
    val out = Dedup.dupClusters(ids, chain, "doc_id").as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L), "entire chain joins component 1")
  }

  test("dup clusters: exhausting maxIter throws instead of returning split components") {
    val chain = (1L until 49L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ids = spark.range(1, 50).toDF("doc_id")
    val e = intercept[IllegalStateException] {
      Dedup.dupClusters(ids, chain, "doc_id", maxIter = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("exact dedup canonicalizes duplicated normalized text") {
    val withDups = docs.select($"doc_id", $"text")
      .unionByName(docs.select(($"doc_id" + 100000).as("doc_id"), upper($"text").as("text")))
    val out = Dedup.exactDedup(withDups, "doc_id", "text")
    // normalization lowercases, so every group has exactly 2 members
    assert(out.filter($"n_dups" =!= 2).count() == 0)
    assert(out.filter($"canonical_id" >= 100000).count() == 0, "canonical id is the min")
  }

  test("bm25: every hit contains a query term; ranks are dense and ordered by score") {
    val qs = Seq(0 -> Seq("spark", "join"), 1 -> Seq("vector", "stream"))
    val out = graft.operators.Retrieval.bm25TopK(docs, qs, k = 5).cache()
    val hits = out.join(docs, "doc_id")
      .withColumn("norm", TextFunctions.normalizeText($"text"))
    val termMiss = hits.filter($"query_id" === 0)
      .filter(!($"norm".contains("spark") || $"norm".contains("join")))
    assert(termMiss.count() == 0, "a retrieved doc must contain a query term")
    // within a query, rk is 1..n and score_micro is non-increasing in rk
    val bad = out.alias("a").join(out.alias("b"),
        col("a.query_id") === col("b.query_id") && col("a.rk") === col("b.rk") - 1)
      .filter(col("a.score_micro") < col("b.score_micro"))
    assert(bad.count() == 0, "scores must be non-increasing in rank")
    // a doc with MORE matched terms at similar tf should outrank: the top
    // hit for a 2-term query matches at least as many terms as the last
    val perQ = out.groupBy($"query_id").agg(
      max(when($"rk" === 1, $"n_hit_terms")).as("first_terms"))
    assert(perQ.filter($"first_terms" < 1).count() == 0)
  }

  test("packing: offsets stay under budget, packs tile the bucket token stream exactly") {
    val out = graft.operators.Packing.packSequences(
      docs, TextFunctions.tokenCount($"text"), budget = 256L, bucketRows = 50L).cache()
    assert(out.filter($"pack_offset" < 0 || $"pack_offset" >= 256).count() == 0)
    assert(out.filter($"n_tokens" > 0 && $"n_packs" < 1).count() == 0)
    // reconstruction: within a bucket, doc starts (pack*budget+offset) are
    // the exclusive running sum of token counts in id order — i.e. the
    // packed stream has no gaps and no overlaps
    val w = Window.partitionBy($"bucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val recon = out.withColumn("expected_start",
        coalesce(sum($"n_tokens").over(w), lit(0L)))
      .filter($"pack" * 256 + $"pack_offset" =!= $"expected_start")
    assert(recon.count() == 0, "packed stream must tile the bucket exactly")
    // a document never touches more packs than its token count allows
    val span = out.filter($"n_packs" > ($"n_tokens" / 256) + 2)
    assert(span.count() == 0)
  }

  test("bounded_topk equals the window idiom and works from SQL") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val viaAgg = li.groupBy($"l_returnflag")
      .agg(graft.functions.TopK.bounded_topk(4,
        struct($"l_extendedprice", $"l_orderkey", $"l_linenumber")).as("top"))
      .select($"l_returnflag", explode($"top").as("t"))
      .select($"l_returnflag", $"t.l_extendedprice", $"t.l_orderkey", $"t.l_linenumber")
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey".desc, $"l_linenumber".desc)
    val viaWindow = li.withColumn("rk", row_number().over(w)).filter($"rk" <= 4)
      .select($"l_returnflag", $"l_extendedprice", $"l_orderkey", $"l_linenumber")
    assert(viaAgg.exceptAll(viaWindow).count() == 0 &&
      viaWindow.exceptAll(viaAgg).count() == 0)
    // SQL registration via GraftExtensions
    li.createOrReplaceTempView("li_topk")
    val viaSql = spark.sql(
      """SELECT l_returnflag, size(bounded_topk(4,
        |  struct(l_extendedprice, l_orderkey, l_linenumber))) AS n
        |FROM li_topk GROUP BY l_returnflag""".stripMargin)
    assert(viaSql.filter($"n" =!= 4).count() == 0)
  }

  test("count-min estimates never undercount and are exact for unique-bucket terms") {
    val out = graft.queries.ExtensionQueries.x38CountMin(spark, dir).cache()
    assert(out.filter($"est_count" < $"true_count").count() == 0,
      "count-min must overestimate, never under")
    assert(out.count() > 0 && out.count() <= 15)
  }

  test("gap fill: spine is contiguous per user, observed days keep their value") {
    val out = graft.queries.ExtensionQueries.x39GapFill(spark, dir).cache()
    val spans = out.groupBy($"user_id").agg(
      count(lit(1)).as("n"),
      (datediff(max($"day"), min($"day")) + 1).as("expected"))
    assert(spans.filter($"n" =!= $"expected").count() == 0, "daily spine must be gapless")
    assert(out.filter($"gap_filled" && $"value".isNull).count() == 0,
      "filled rows carry the last observation")
  }

  test("chunking: windows tile every document with the declared stride and cover all tokens") {
    val out = graft.queries.ExtensionQueries.x40Chunking(spark, dir).cache()
    // starts advance by exactly the stride within a doc
    assert(out.filter($"start" =!= $"chunk_id" * 48).count() == 0)
    // every chunk is non-empty and at most the window size
    assert(out.filter($"chunk_len" < 1 || $"chunk_len" > 64).count() == 0)
    // the last chunk of each doc reaches the document's end
    val last = out.groupBy($"doc_id").agg(
      max($"start" + $"chunk_len").as("covered"),
      max($"chunk_id").as("mx"), count(lit(1)).as("n"))
    assert(last.filter($"n" =!= $"mx" + 1).count() == 0, "chunk ids dense from 0")
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", size(filter(split(TextFunctions.normalizeText($"text"), " "),
        t => length(t) > 0)).as("len")).filter($"len" > 0)
    assert(last.join(toks, "doc_id").filter($"covered" =!= $"len").count() == 0,
      "chunks must cover the full token stream")
  }

  test("mixture: per-language copy counts follow floor(w) + md5-fraction") {
    val out = graft.queries.ExtensionQueries.x41Mixture(spark, dir).cache()
    val perDoc = out.groupBy($"doc_id", $"lang").agg(count(lit(1)).as("n"),
      max($"n_copies").as("declared"))
    assert(perDoc.filter($"n" =!= $"declared").count() == 0)
    assert(perDoc.filter($"lang" === "en" && ($"n" < 2 || $"n" > 3)).count() == 0)
    assert(perDoc.filter($"lang" === "fr" && $"n" > 1).count() == 0)
    assert(perDoc.filter(!$"lang".isin("en", "fr") && $"n" =!= 1).count() == 0)
  }

  test("negative sampling: k negatives per anchor, never self, deterministic across runs") {
    val a = graft.queries.ExtensionQueries.x43NegativeSampling(spark, dir)
    val b = graft.queries.ExtensionQueries.x43NegativeSampling(spark, dir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, "must be replayable")
    val perAnchor = a.groupBy($"doc_id").count()
    assert(perAnchor.filter($"count" =!= 4).count() == 0, "exactly k negatives per anchor")
    assert(a.filter($"doc_id" === $"neg_doc_id").count() == 0, "never pair a doc with itself")
  }

  test("shard layout: dense positions, exact running offsets, full coverage, replayable") {
    val out = graft.queries.ExtensionQueries.x56ShardLayout(spark, dir).cache()
    assert(out.count() == docs.count(), "every document lands in exactly one shard")
    assert(out.select($"doc_id").distinct().count() == docs.count())
    // positions are dense 0..n-1 within every shard
    val perShard = out.groupBy($"shard").agg(
      count(lit(1)).as("n"), max($"pos").as("mx"), min($"pos").as("mn"))
    assert(perShard.filter($"mn" =!= 0 || $"mx" =!= $"n" - 1).count() == 0)
    // tok_offset is the exact running sum of earlier docs' token counts
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"shard").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val recomputed = out.withColumn("expect", coalesce(sum($"n_tok").over(w), lit(0L)))
    assert(recomputed.filter($"tok_offset" =!= $"expect").count() == 0)
    // deterministic: a second run reproduces the layout bit-for-bit
    val again = graft.queries.ExtensionQueries.x56ShardLayout(spark, dir)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
  }

  test("embedding decontamination: benchmark excluded, flags agree with brute-force recompute") {
    val out = graft.queries.ExtensionQueries.x57EmbedDecontam(spark, dir).cache()
    assert(out.filter($"vec_id" % 25 === 0).count() == 0, "benchmark rows never scored")
    assert(out.count() == emb.filter($"vec_id" % 25 =!= 0).count())
    // recompute the per-doc max via an independent non-broadcast join
    val bench = emb.filter($"vec_id" % 25 === 0).select($"embedding".as("b_emb"))
    val brute = emb.filter($"vec_id" % 25 =!= 0).crossJoin(bench)
      .groupBy($"vec_id")
      .agg(max(Similarity.cosine($"embedding", $"b_emb")).as("mc"))
    assert(out.join(brute, "vec_id").filter($"max_cos" =!= $"mc").count() == 0)
    assert(out.filter($"contaminated" =!= ($"max_cos" >= 0.4499995)).count() == 0)
  }

  test("segment dedup: keeps exactly the distinct segments, clean docs reassemble verbatim") {
    val out = graft.queries.ExtensionQueries.x58SegmentDedup(spark, dir).cache()
    val norm = docs.select($"doc_id",
      TextFunctions.normalizeText($"text").as("t"))
      .filter(length($"t") > 0)
    assert(out.count() == norm.count(), "one row per non-empty document")
    assert(out.filter($"kept_segs" > $"n_segs" || $"kept_segs" < 0).count() == 0)
    // global first-occurrence keeps each distinct segment exactly once
    val segs = docs.select($"doc_id",
        filter(split(TextFunctions.normalizeText($"text"), " "),
          t => length(t) > 0).as("toks"))
      .withColumn("n", ceil(size($"toks") / 4.0).cast("long"))
      .select(explode(sequence(lit(0L), $"n" - 1)).as("i"), $"toks")
      .select(array_join(slice($"toks", ($"i" * 4 + 1).cast("int"), lit(4)), " ").as("seg"))
    val distinctSegs = segs.distinct().count()
    val keptTotal = out.agg(sum($"kept_segs")).head().getLong(0)
    assert(keptTotal == distinctSegs,
      s"kept $keptTotal segments but corpus has $distinctSegs distinct ones")
    // a document that lost nothing reassembles to its normalized text
    val clean = out.filter($"kept_segs" === $"n_segs").join(norm, "doc_id")
    assert(clean.count() > 0, "testdata should contain undamaged docs")
    assert(clean.filter($"kept_text" =!= $"t").count() == 0)
  }

  test("export manifest: checksums match a direct recompute, shard reads prune to shard files") {
    val layout = graft.operators.Sharding.shardLayout(
      docs, $"doc_id",
      size(filter(split(TextFunctions.normalizeText($"text"), " "),
        t => length(t) > 0)),
      nShards = 8).cache()
    val manifest = graft.queries.ExtensionQueries.x59ExportManifest(spark, dir).cache()
    assert(manifest.count() == 8, "one manifest row per shard")
    // totals reconcile with the layout the manifest claims to describe
    val direct = layout.groupBy($"shard").agg(
      count(lit(1)).as("d_docs"), sum($"n_tok").as("d_tokens"))
    assert(manifest.join(direct, "shard")
      .filter($"n_docs" =!= $"d_docs" || $"n_tokens" =!= $"d_tokens").count() == 0)
    // the persisted export table prunes a single-shard read to that
    // shard's files — the property a per-worker data loader depends on
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_ext_export_spec").toString)
    try {
      store.createOrReplace("export.shards", layout,
        partitionBy = Seq("shard"), sortWithin = Seq("pos"))
      val total = store.prunedFileList("export.shards", None).size
      val one = store.prunedFileList("export.shards", Some($"shard" === 3)).size
      assert(one < total, s"shard read must prune: $one of $total files")
      assert(store.readWhere("export.shards", $"shard" === 3).count() ==
        layout.filter($"shard" === 3).count())
    } finally store.detach()
  }

  test("expectations: kept/quarantine partition the corpus, reasons name every violated gate") {
    import graft.operators.Expectations
    import graft.operators.Expectations.{Expectation => E}
    val exps = Seq(
      E("known_lang", $"lang".isin("en", "de", "fr"), "drop"),
      E("short_doc", $"n_chars" <= 400, "drop"),
      E("nonempty", length($"text") > 0, "warn"))
    val (kept, quarantine) = Expectations.enforce(docs, exps)
    assert(kept.count() + quarantine.count() == docs.count(), "exact partition")
    // kept rows violate no drop gate; quarantine rows violate at least one
    assert(kept.filter(!$"lang".isin("en", "de", "fr") || $"n_chars" > 400).count() == 0)
    assert(quarantine.filter(size($"_violations") === 0).count() == 0)
    // reasons are exactly the violated gates
    assert(quarantine.filter(
      array_contains($"_violations", "known_lang") =!= !$"lang".isin("en", "de", "fr")).count() == 0)
    assert(quarantine.filter(
      array_contains($"_violations", "short_doc") =!= ($"n_chars" > 400)).count() == 0)
    // warn never drops: corpus with only the warn gate passes through whole
    val (w, wq) = Expectations.enforce(docs, exps.filter(_.action == "warn"))
    assert(w.count() == docs.count() && wq.count() == 0)
    // fail aborts on a violated gate, passes on a satisfied one
    intercept[IllegalStateException] {
      Expectations.enforce(docs, Seq(E("all_en", $"lang" === "en", "fail")))
    }
    val (ok, _) = Expectations.enforce(docs, Seq(E("has_id", $"doc_id".isNotNull, "fail")))
    assert(ok.count() == docs.count())
  }

  test("incremental segment dedup: uneven batches == single pass, index grows by novelty only") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_ext_segidx").toString)
    try {
      // three uneven id-ordered batches must reproduce the one-shot result
      val cuts = Seq(Long.MinValue, 120L, 180L, Long.MaxValue)
      val parts = cuts.sliding(2).map { case Seq(lo, hi) =>
        graft.operators.Dedup.incrementalSegmentDedup(store, "idx.segs",
          docs.filter($"doc_id" > lo && $"doc_id" <= hi), segTokens = 4)
      }.toSeq
      val inc = parts.reduce(_ unionByName _)
      val once = graft.operators.Dedup.segmentDedup(docs, segTokens = 4)
      assert(inc.exceptAll(once).count() == 0 && once.exceptAll(inc).count() == 0,
        "incremental union must equal the single pass verbatim")
      // the index holds each distinct segment hash exactly once
      val idx = store.read("idx.segs")
      assert(idx.count() == idx.select($"h").distinct().count())
      val distinctSegs = once.agg(sum($"kept_segs")).head().getLong(0)
      assert(idx.count() == distinctSegs,
        "index rows == corpus distinct segments (novelty growth)")
    } finally store.detach()
  }

  test("incremental IVF: frozen centroids, batch-count independent, probe prunes index files") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_ext_ivf_spec").toString)
    try {
      // ingest in FOUR uneven batches (vs x60's two)
      val cuts = Seq(Long.MinValue, 100L, 150L, 320L, Long.MaxValue)
      cuts.sliding(2).foreach { case Seq(lo, hi) =>
        Similarity.incrementalIvfAppend(store, "ivf.centroids", "ivf.vectors",
          emb.filter($"vec_id" > lo && $"vec_id" <= hi), nCentroids = 8, iterations = 2)
      }
      // centroids froze after batch 1: identical to a direct train on it
      val direct = Similarity.trainCentroids(
        emb.filter($"vec_id" <= 100), nCentroids = 8, iterations = 2)
      val stored = store.read("ivf.centroids")
      assert(stored.exceptAll(direct).count() == 0 && direct.exceptAll(stored).count() == 0)
      // assignments are per-row with frozen centroids, so the index equals
      // a single-pass assignment of the whole corpus — batch boundaries
      // never leak into the index contents
      val single = Similarity.nearestCentroids(emb, direct, probes = 1,
          "vec_id", "embedding")
        .select($"vec_id", $"cluster")
      val idx = store.read("ivf.vectors").select($"vec_id", $"cluster")
      assert(idx.exceptAll(single).count() == 0 && single.exceptAll(idx).count() == 0)
      // the probe scans only files whose cluster range admits a probed
      // cluster — bounded per batch, regardless of index history
      val res = Similarity.incrementalIvfTopK(store, "ivf.centroids", "ivf.vectors",
        emb.filter($"vec_id" < 5), k = 3, probes = 1)
      assert(res.count() > 0)
      val (cand, total) = Similarity.lastIvfScan.get
      assert(cand < total, s"probe must skip files: scanned $cand of $total")
    } finally store.detach()
  }

  test("semantic dedup: one canonical per cluster, canonicals are cluster minima, corpus preserved") {
    val out = Similarity.semanticDedup(emb, nCentroids = 4, iterations = 2).cache()
    assert(out.count() == emb.count(), "one row per vector")
    val perCluster = out.groupBy($"cluster").agg(
      sum(when($"is_kept", 1).otherwise(0)).as("kept"),
      min($"vec_id").as("min_id"),
      max(when($"is_kept", $"vec_id")).as("kept_id"))
    assert(perCluster.filter($"kept" =!= 1).count() == 0, "exactly one canonical per cluster")
    assert(perCluster.filter($"min_id" =!= $"kept_id").count() == 0, "canonical is the min id")
    assert(out.filter($"canonical_id" > $"vec_id").count() == 0)
  }

  test("hard negatives: cross-label only, exactly k per anchor, and no easier negative skipped") {
    val anchors = emb.filter($"vec_id" % 25 === 0)
    val out = Similarity.hardNegatives(emb, anchors, k = 3).cache()
    // every negative carries a different label than its anchor
    val joined = out.join(anchors.select($"vec_id".as("anchor_id"), $"label".as("al")), "anchor_id")
    assert(joined.filter($"neg_label" === $"al").count() == 0, "negatives must be cross-label")
    // k per anchor (corpus has >k cross-label vectors for every anchor here)
    val counts = out.groupBy($"anchor_id").count()
    assert(counts.filter($"count" =!= 3).count() == 0)
    // hardness: the worst kept similarity per anchor dominates every
    // non-kept cross-label candidate (top-k really is top-k)
    val kept = out.groupBy($"anchor_id").agg(min($"cos_sim").as("floor"))
    val all = Similarity.hardNegatives(emb, anchors, k = Int.MaxValue)
      .join(out.select($"anchor_id", $"neg_id", lit(true).as("kept_row")),
        Seq("anchor_id", "neg_id"), "left_outer")
      .filter($"kept_row".isNull)
      .join(kept, "anchor_id")
    assert(all.filter($"cos_sim" > $"floor").count() == 0, "a skipped candidate beat a kept one")
  }

  test("leakage-safe split: near-dup pairs never straddle a split boundary") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 3, 4, 2, 0.6)
      .select($"doc_a", $"doc_b").cache()
    val clusters = Dedup.dupClusters(docs.select($"doc_id"), pairs, "doc_id")
    val bucket = conv(substring(md5(concat(lit("cl|"), $"cluster_id".cast("string"))), 1, 8), 16, 10)
      .cast("long") % 100
    val split = clusters.select($"doc_id",
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split")).cache()
    val straddling = pairs
      .join(split.select($"doc_id".as("doc_a"), $"split".as("sa")), "doc_a")
      .join(split.select($"doc_id".as("doc_b"), $"split".as("sb")), "doc_b")
      .filter($"sa" =!= $"sb")
    assert(straddling.count() == 0, "a near-dup pair crossed a split boundary")
    // and the split is non-degenerate: all three splits are populated
    assert(split.select($"split").distinct().count() == 3)
  }

  test("token budget: per-source cap respected and selection is maximal in priority order") {
    val budget = 300L
    val w = Window.partitionBy($"source").orderBy($"prio", $"doc_id")
    val ranked = docs.select($"doc_id", $"source",
        TextFunctions.wordCount($"text").cast("long").as("n_tokens"),
        md5(concat(lit("prio|"), $"doc_id".cast("string"))).as("prio"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w)).cache()
    val kept = ranked.filter($"cum_tokens" <= budget)
    // cap respected per source
    assert(kept.groupBy($"source").agg(max($"cum_tokens").as("m"))
      .filter($"m" > budget).count() == 0)
    // maximality: the first dropped doc of every source would blow the cap
    val firstDropped = ranked.filter($"cum_tokens" > budget)
      .withColumn("rk", row_number().over(w.orderBy($"cum_tokens")))
      .filter($"rk" === 1)
    assert(firstDropped.filter($"cum_tokens" <= budget).count() == 0)
  }

  test("pageRank: hand-computed 3-node chain, exact micro-unit arithmetic") {
    // graph: 1 -> 2, 2 -> 3, 3 -> 1 (a directed cycle: every node has
    // outdeg 1, so ranks stay uniform at scale forever)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cr = graft.operators.Graph.pageRank(cycle, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cr == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    // star: 1->3, 2->3 plus 3->1 — replay the integer recurrence by hand
    val star = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    def step(r: Map[Long, Long]): Map[Long, Long] = {
      val in = Map(3L -> Seq((1L, 1L), (2L, 1L)), 1L -> Seq((3L, 1L)), 2L -> Seq.empty[(Long, Long)])
      in.map { case (v, srcs) =>
        v -> (150000L + (17L * srcs.map { case (u, d) => r(u) / d }.sum) / 20L)
      }
    }
    val expected = Iterator.iterate(Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))(step)
      .drop(3).next()
    val sr = graft.operators.Graph.pageRank(star, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sr == expected, s"got $sr expected $expected")
  }

  test("MMR: first pick is the relevance argmax; diversity flips the second pick") {
    // ids 1 and 2 are a tight near-duplicate pair close to the query; id 3
    // is moderately relevant but angularly separated from id 1. Pure
    // relevance ranks [1, 2, 3]; MMR must rank [1, 3, 2]: id 2's penalty
    // (~0.9999) sinks its score to ≈ −0.022 while id 3 keeps
    // 0.7071 − 0.6934 ≈ +0.014.
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0.2f, 0f)),
      (2L, Array(0.99f, 0.21f, 0f)),
      (3L, Array(0.7f, 0f, 0.7f))).toDF("vec_id", "embedding")
    val picks = Similarity.mmrSelect(vecs, queryId = 0L, k = 3)
    assert(picks.map(_.vecId) == Seq(1L, 3L, 2L))
    assert(picks.map(_.rank) == Seq(1, 2, 3))
    assert(picks.head.penalty == 0.0 && picks.head.score == picks.head.relevance)
    // every later score must already be penalty-discounted
    assert(picks.tail.forall(p => p.score == p.relevance - p.penalty))
  }

  test("MMR degenerate inputs: missing query throws descriptively; k past the pool returns what exists") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)), (2L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrSelect(vecs, queryId = 99L, k = 2)
    }
    assert(e.getMessage.contains("99"))
    // k = 5 against a 2-candidate pool: both candidates picked, no crash
    val picks = Similarity.mmrSelect(vecs, queryId = 0L, k = 5)
    assert(picks.map(_.vecId).sorted == Seq(1L, 2L))
    assert(picks.map(_.rank) == Seq(1, 2))
  }

  test("MMR zero-norm contract: undefined cosines score 0.0, never a driver NPE") {
    // id 2 is the all-zero vector: its cosine with anything is undefined
    // (Spark divide-by-zero -> NULL), which used to NPE getDouble on the
    // driver. Contract: zero-norm sides score 0 relevance/0 similarity,
    // so the pool drains gracefully and the zero vector ranks LAST.
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val picks = Similarity.mmrSelect(vecs, queryId = 0L, k = 3)
    assert(picks.map(_.vecId) == Seq(1L, 2L), s"got $picks")
    assert(picks.last.relevance == 0.0 && picks.last.penalty == 0.0)
    // and a zero-norm QUERY: every relevance is 0, selection proceeds by id
    val picksZq = Similarity.mmrSelect(vecs, queryId = 2L, k = 2)
    assert(picksZq.map(_.vecId) == Seq(0L, 1L), s"got $picksZq")
  }

  test("k-means empty clusters keep their previous centroid (codebook never shrinks)") {
    // duplicate seed vectors: every assignment ties between centroids 0/1
    // and breaks to the lower id, starving cluster 1 — its centroid must
    // survive the round, keeping the codebook at the requested size
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(emb, nCentroids = 2, iterations = 2)
    assert(cents.count() == 2,
      s"codebook must stay at nCentroids, got ${cents.collect().toSeq}")
  }

  test("hard negatives treat NULL as its own label: unlabeled rows are cross-label negatives") {
    val corpus = Seq(
      (0L, Array(1f, 0f), Some("a")),
      (1L, Array(0.95f, 0.05f), Some("b")),
      (2L, Array(0.9f, 0.1f), None),      // unlabeled: negative for "a"
      (3L, Array(0.99f, 0.01f), Some("a")) // same label: never a negative
    ).toDF("vec_id", "embedding", "label")
    val anchors = corpus.filter($"vec_id" === 0L)
    val negs = Similarity.hardNegatives(corpus, anchors, k = 10)
      .select($"neg_id").as[Long].collect().toSet
    assert(negs == Set(1L, 2L),
      s"NULL-labeled row must be a negative, same-label must not: got $negs")
    // and a NULL-labeled anchor gets every labeled row as a negative
    val nullAnchor = Seq((9L, Array(1f, 0f), Option.empty[String]))
      .toDF("vec_id", "embedding", "label")
    val negs2 = Similarity.hardNegatives(corpus, nullAnchor, k = 10)
      .select($"neg_id").as[Long].collect().toSet
    assert(negs2 == Set(0L, 1L, 3L),
      s"labeled rows are negatives for a NULL anchor, NULL-NULL is same-label: got $negs2")
  }

  test("MMR on the real corpus: k distinct picks, query excluded, pick 1 = brute-force top-1") {
    val picks = Similarity.mmrSelect(emb, queryId = 0L, k = 5)
    assert(picks.map(_.vecId).distinct.length == 5)
    assert(!picks.map(_.vecId).contains(0L))
    val bf = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), k = 1)
      .select($"neighbor_id").as[Long].head()
    assert(picks.head.vecId == bf,
      "with no selected set yet, MMR's first pick IS the nearest neighbor")
  }

  test("robust outliers: median/MAD flags the spike; MAD=0 flags every deviation") {
    // src A: [10,10,10,10,100] → med 10, MAD 0: only the 100 deviates (and
    // 0 > 3·0 is false for the 10s). src B: [10,20,30,40,1000] → med 30,
    // MAD 10: only 1000 clears |x−30| > 30.
    val d = Seq(
      (1L, "A", 10), (2L, "A", 10), (3L, "A", 10), (4L, "A", 10), (5L, "A", 100),
      (6L, "B", 10), (7L, "B", 20), (8L, "B", 30), (9L, "B", 40), (10L, "B", 1000))
      .toDF("doc_id", "source", "n_chars")
    val out = graft.queries.ExtensionQueries.robustOutliers(d)
      .select($"doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(5L, 10L))
  }

  test("incremental novelty: final batch equals the one-shot audit; earlier batches never exceed it") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_incnov").toString)
    try {
      val r = docs.agg(min($"doc_id").cast("long"), max($"doc_id").cast("long")).head()
      val cut = (r.getLong(0) + r.getLong(1)) / 2
      val b1 = graft.operators.Dedup.incrementalNovelty(store, "idx.sh",
        docs.filter($"doc_id" <= cut))
      val b2 = graft.operators.Dedup.incrementalNovelty(store, "idx.sh",
        docs.filter($"doc_id" > cut))
      val oneShot = graft.queries.ExtensionQueries.shingleNovelty(docs)
        .select($"doc_id".as[Long], $"shared_shingles".as[Long]).collect().toMap
      // the LAST batch has seen every other doc (index ∪ same batch) — its
      // rows must coincide with the one-shot x81 values
      b2.select($"doc_id".as[Long], $"shared_shingles".as[Long]).collect()
        .foreach { case (id, s) => assert(s == oneShot(id), s"doc $id final-batch mismatch") }
      // an EARLier batch sees a subset of the corpus — never more shares
      b1.select($"doc_id".as[Long], $"shared_shingles".as[Long]).collect()
        .foreach { case (id, s) => assert(s <= oneShot(id), s"doc $id early-batch excess") }
    } finally store.detach()
  }

  test("incremental novelty index grows by novelty only: a hot shingle stays ONE row") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_incnov_hot").toString)
    try {
      // every batch carries the same hot boilerplate shingle "h1 h2 h3 h4
      // h5" plus one batch-unique shingle
      def batch(i: Int) = Seq(
        (i * 10L, "h1 h2 h3 h4 h5"),
        (i * 10L + 1, s"u$i a b c d")).toDF("doc_id", "text")
      (1 to 4).foreach(i =>
        graft.operators.Dedup.incrementalNovelty(store, "idx.hot", batch(i)))
      val hot = graft.operators.Dedup.shingleHash(lit("h1 h2 h3 h4 h5"))
      val idx = store.read("idx.hot")
      assert(idx.filter($"shh" === hot).count() == 1L,
        "a shingle seen by every batch must occupy exactly one index row")
      // 1 hot + 4 batch-unique shingles — the index holds the distinct
      // shingle universe, nothing more
      assert(idx.count() == 5L)
      assert(idx.select($"shh").distinct().count() == idx.count())
    } finally store.detach()
  }

  test("novelty probe candidates stay FLAT as the index grows (bloom stage)") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_incnov_flat").toString)
    try {
      // every batch: the same hot boilerplate doc + 3 batch-unique docs —
      // the web-crawl shape (shared template mass + novel content)
      def batch(i: Int) = (Seq((i * 10L, "h1 h2 h3 h4 h5")) ++
        (1 to 3).map(j => (i * 10L + j, s"u${i}x$j a$i b$i c$i d$i e$i")))
        .toDF("doc_id", "text")
      val scans = (1 to 14).map { i =>
        graft.operators.Dedup.incrementalNovelty(store, "idx.flat", batch(i))
          .count()
        graft.operators.Dedup.lastNoveltyScan
      }
      val Some((cand, total)) = scans.last: @unchecked
      assert(total > 8, s"need a many-file manifest to exercise pruning ($total)")
      // the batch's keys live in: the hot shingle's ONE original file +
      // nowhere (its novel shingles are new) — candidates must not track
      // the manifest as it grows (bloom false positives allow slack)
      assert(cand < total / 2,
        s"novelty probe must stay flat: $cand of $total files scanned")
    } finally store.detach()
  }

  test("shingle novelty: cross-doc shares count, within-doc repeats don't, short docs drop") {
    val d = Seq(
      (1L, "a b c d e f"),   // shingles {a b c d e, b c d e f}: first shared
      (2L, "a b c d e"),     // {a b c d e}: shared
      (3L, "x y z w v"),     // unique
      (4L, "a a a a a a"),   // one DISTINCT shingle, only in this doc
      (5L, "a b"))           // too short — no shingles, no row
      .toDF("doc_id", "text")
    val r = graft.queries.ExtensionQueries.shingleNovelty(d)
      .orderBy($"doc_id").as[(Long, Long, Long, Long)].collect()
    assert(r.toSeq == Seq(
      (1L, 2L, 1L, 500000L),
      (2L, 1L, 1L, 1000000L),
      (3L, 1L, 0L, 0L),
      (4L, 1L, 0L, 0L)))
  }

  test("fuzzy self-join: prefix-edit pairs via suffix block, suffix-edit via prefix block, once each") {
    val d = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumpy"),  // suffix edit -> shares PREFIX block
      (3L, "THE quick brown fox jumps"),  // prefix edit -> shares SUFFIX block
      (4L, "completely different string"),
      (5L, "the quick brown fox jumps"))  // exact dup of 1 (both blocks agree)
      .toDF("id", "k")
    val r = graft.operators.Fuzzy.fuzzySelfJoin(d, "id", "k", maxDist = 3, blockLen = 8)
      .orderBy($"id_a", $"id_b").as[(Long, Long, Int)].collect().toSeq
    // (1,3) found ONLY by the suffix pass; (1,2) only by the prefix pass;
    // the exact dup (1,5) lands in both blocks but is emitted once;
    // (2,3) is 4 edits apart — over maxDist, absent
    assert(r == Seq((1L, 2L, 1), (1L, 3L, 3), (1L, 5L, 0), (2L, 5L, 1), (3L, 5L, 3)),
      s"got $r")
  }

  test("fuzzy self-join on the corpus: finds every exact-title duplicate pair") {
    val titled = docs.select($"doc_id", substring($"text", 1, 60).as("title"))
    val exactPairs = titled.as("a").join(titled.as("b"),
        $"a.title" === $"b.title" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
    val fuzzy = graft.operators.Fuzzy.fuzzySelfJoin(titled, "doc_id", "title",
      maxDist = 8, blockLen = 8)
    assert(exactPairs.exceptAll(fuzzy.select($"id_a", $"id_b")).count() == 0,
      "identical titles share both blocks — fuzzy join must find all of them")
    // and every reported pair really is within the threshold
    assert(fuzzy.filter($"dist" > 8 || $"dist" < 0).count() == 0)
  }

  test("x84 run-scoped stats reading matches a direct block-size recompute, " +
      "cap on and off the hot path") {
    // direct recompute of the pass-0 blocking (same prefix/suffix algebra
    // as Fuzzy) and the mid reroute, entirely outside the operator
    def expected(maxBlock: Int) = {
      val keyed = docs.select($"doc_id".cast("long").as("id"),
        substring($"text", 1, 60).cast("string").as("k"))
      val pre = keyed.select($"id", $"k", substring($"k", 1, 8).as("blk"))
      val blocked = pre.unionAll(
        keyed.select($"id", $"k",
            expr("substring(k, greatest(length(k) - 7, 1), 8)").as("blk"))
          .filter($"blk" =!= substring($"k", 1, 8)))
      val sizes = blocked.groupBy($"blk").agg(count(lit(1)).as("bn")).cache()
      val hotRows = blocked.join(sizes.filter($"bn" > maxBlock), "blk")
      val mid = hotRows.select($"id", $"k",
        concat(lit("m:"), $"blk", lit("|"),
          expr("substring(k, greatest((length(k) - 8) div 2 + 1, 1), 8)")).as("blk"))
      val midSizes = mid.groupBy($"blk").agg(count(lit(1)).as("bn"))
      val r = (sizes.count() + midSizes.count(),
        sizes.select($"bn").unionAll(midSizes.select($"bn"))
          .agg(coalesce(max($"bn"), lit(0L))).as[Long].head(),
        sizes.filter($"bn" > maxBlock).count(),
        midSizes.agg(coalesce(sum($"bn"), lit(0L))).as[Long].head())
      sizes.unpersist(false)
      r
    }
    // default cap: the sf0.001 corpus has no hot block — the reading must
    // say so explicitly (that IS the alerting contract)
    val (_, cold) = graft.queries.ExtensionQueries.x84FuzzyJoinWithStats(spark, dir)
    assert((cold.blocks, cold.maxBlockRows, cold.hotBlocks, cold.reroutedRows) ==
      expected(4096), s"cold reading disagrees with recompute: $cold")
    assert(cold.hotBlocks == 0 && cold.reroutedRows == 0 && cold.droppedRows == 0)
    // forced-hot cap: blocks/hot/rerouted all move, and still reconcile
    val (hotFrame, hot) = graft.queries.ExtensionQueries
      .x84FuzzyJoinWithStats(spark, dir, maxBlock = 8)
    assert((hot.blocks, hot.maxBlockRows, hot.hotBlocks, hot.reroutedRows) ==
      expected(8), s"hot reading disagrees with recompute: $hot")
    assert(hot.hotBlocks > 0 && hot.reroutedRows > 0,
      "maxBlock=8 must trip the cap on this corpus")
    assert(hotFrame.filter($"dist" > 8 || $"dist" < 0).count() == 0)
  }

  test("fuzzy lookup: best match wins, ties break low, out-of-range and unmatched drop") {
    val left = Seq((1L, "the quick brown fox"), (2L, "zzzz unmatched zzzz")).toDF("id", "k")
    val dict = Seq(
      (10L, "the quick brown fax"),  // dist 1
      (11L, "the quick brown fix"),  // dist 1 — tie, higher id loses
      (12L, "the quick brown foxes"), // dist 2
      (13L, "totally different dict entry"))
      .toDF("id", "k")
    val r = graft.operators.Fuzzy.fuzzyLookup(left, dict, "id", "k", "id", "k",
        maxDist = 3, blockLen = 8)
      .select($"l_id", $"r_id", $"dist")
      .as[(Long, Long, Int)].collect().toSeq
    assert(r == Seq((1L, 10L, 1)), s"got $r")
  }

  test("fuzzy hot-block cap: boilerplate prefix+suffix corpus stays under the candidate " +
      "budget, the mid-string pass still finds the planted pair, drops are reported") {
    import graft.operators.Fuzzy
    // 300 keys share the first 8 AND last 8 chars (boilerplate head/tail)
    // but diverge mid-string — the exact shape that melts uncapped
    // blocking (300·299/2 ≈ 45k candidate pairs from ONE block)
    val boiler = (1 to 300).map(i =>
      (i.toLong, f"COPYRIGHT id$i%06d ALL RIGHTS RESERVED"))
    // planted near-dup pair: differs ONLY at a char outside the centered
    // mid window, so the third pass must recover it after the reroute
    val planted = Seq(
      (1000L, "COPYRIGHT aa000999 ALL RIGHTS RESERVED"),
      (1001L, "COPYRIGHT ab000999 ALL RIGHTS RESERVED"))
    val d = (boiler ++ planted).toDF("id", "k")
    val capped = Fuzzy.fuzzySelfJoin(d, "id", "k", maxDist = 3,
      blockLen = 8, maxBlock = 64)
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Int)].collect().toSeq
    assert(capped.contains((1000L, 1001L, 1)),
      s"mid-string pass must recover the planted pair, got $capped")
    val st = Fuzzy.lastBlockStats.get
    assert(st.hotBlocks >= 2, s"prefix and suffix blocks are both hot: $st")
    assert(st.reroutedRows == 604L,
      s"every row sits in BOTH hot blocks -> 2 memberships each: $st")
    assert(st.droppedRows == 0L, s"mid windows are cold here: $st")
    // the whole point: candidate generation stays bounded — far below the
    // ~45k pairs the uncapped hot block would have emitted
    assert(st.candidatePairBound < 2000L,
      s"capped candidate bound must stay small, got ${st.candidatePairBound}")
    // capped results are a subset of the uncapped ground truth
    val uncapped = Fuzzy.fuzzySelfJoin(d, "id", "k", maxDist = 3,
      blockLen = 8, maxBlock = 1000000)
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Int)].collect().toSet
    assert(capped.toSet.subsetOf(uncapped), "cap may reduce recall, never invent pairs")
  }

  test("fuzzy cap: a short key (prefix==suffix block) counts each row once, not twice") {
    import graft.operators.Fuzzy
    // 300 rows sharing one whole-key block, cap 400: the old double-counted
    // sizing saw 600 rows and declared the block hot on a corpus with none
    val rows = (1L to 300L).map(i => (i, "abc")).toDF("id", "k")
    val r = Fuzzy.fuzzySelfJoin(rows, "id", "k", maxDist = 1,
      blockLen = 8, maxBlock = 400)
    val st = Fuzzy.lastBlockStats.get
    assert(st.maxBlockRows == 300,
      s"a short key's block must count each row once, got ${st.maxBlockRows}")
    assert(st.hotBlocks == 0 && st.reroutedRows == 0,
      "300 true rows under a 400 cap must not trigger the cap")
    assert(st.candidatePairBound == 300L * 299 / 2)
    assert(r.count() == 300L * 299 / 2, "identical keys all pair")
    // stats opt-out: no eager job, and ANOTHER run's reading survives — a
    // stats-off run measured nothing, so it must not clobber the hook
    // (concurrent-query safety; run-scoped consumers use the WithStats
    // variant, whose reading travels with the frame it describes)
    val before = Fuzzy.lastBlockStats
    val (offFrame, offStats) = Fuzzy.fuzzySelfJoinWithStats(
      rows, "id", "k", 1, 8, 400, collectStats = false)
    assert(offStats.isEmpty, "collectStats=false must not run the stats job")
    assert(offFrame.count() == 300L * 299 / 2, "opt-out changes stats only, not results")
    assert(Fuzzy.lastBlockStats == before,
      "a stats-off run must leave another run's reading untouched")
    // the WithStats variant returns the same reading the hook records
    val (_, onStats) = Fuzzy.fuzzySelfJoinWithStats(rows, "id", "k", 1, 8, 400)
    assert(onStats.exists(_.maxBlockRows == 300),
      s"WithStats must carry the run's own reading, got $onStats")
  }

  test("fuzzy cap: mid-pass pairs stay within their hot block — cross-family rows " +
      "sharing only a mid window never pair") {
    import graft.operators.Fuzzy
    // two hot families (distinct prefix AND suffix blocks) with one
    // cross-family row pair at distance 2 that agrees ONLY mid-string:
    // the uncapped two-pass plan never compares it, so the capped plan
    // must not invent it — an unscoped mid window would
    def fam(tag: Char, n: Int) = (1 to n).map { i =>
      val id = (if (tag == 'A') 0L else 10000L) + i
      val mid = if (i == n) "SHAREDMI" else f"m$i%06d$tag"
      (id, s"AAAAAAA$tag$mid" + (if (tag == 'A') "XXXXXXXX" else "XXXXXXXY"))
    }
    val d = (fam('A', 80) ++ fam('B', 80)).toDF("id", "k")
    val crossPair = (80L, 10080L)
    val capped = Fuzzy.fuzzySelfJoin(d, "id", "k", maxDist = 3,
      blockLen = 8, maxBlock = 64)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val uncapped = Fuzzy.fuzzySelfJoin(d, "id", "k", maxDist = 3,
      blockLen = 8, maxBlock = 1 << 30)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(!uncapped.contains(crossPair),
      "sanity: the cross-family pair shares no prefix/suffix block")
    assert(!capped.contains(crossPair),
      "the mid pass must not pair rows from different hot blocks")
    assert(capped.subsetOf(uncapped), s"invented pairs: ${capped -- uncapped}")
  }

  test("fuzzy hot-block cap: a block hot even mid-string is dropped AND reported") {
    import graft.operators.Fuzzy
    // 40 IDENTICAL keys: prefix, suffix and mid-string blocks all carry
    // 40 rows — over a cap of 10 everywhere, so the operator must refuse
    // the quadratic comparison and say so, not silently return nothing
    val d = (1 to 40).map(i => (i.toLong, "exactly the same boilerplate key"))
      .toDF("id", "k")
    val r = Fuzzy.fuzzySelfJoin(d, "id", "k", maxDist = 3,
      blockLen = 8, maxBlock = 10)
    assert(r.count() == 0, "all blocks over cap -> no candidates generated")
    val st = Fuzzy.lastBlockStats.get
    assert(st.reroutedRows == 80L && st.droppedRows == 80L,
      s"the dropped population (2 hot-block memberships per row) must be " +
        s"visible in the stats: $st")
    assert(st.candidatePairBound == 0L, s"nothing may enter the scorer: $st")
  }

  test("fuzzy lookup hot-block cap counts a block across BOTH sides") {
    import graft.operators.Fuzzy
    // 6 left rows + 30 dict rows share one block: per-side counts (6, 30)
    // would pass a cap of 31, but the 6x30 candidate product is the cost —
    // the shared-frame cap sees 36 rows and reroutes
    val left = (1 to 6).map(i => (i.toLong, f"SHAREDPF l$i%03d x SHAREDSF")).toDF("id", "k")
    val dict = (1 to 30).map(i => (100L + i, f"SHAREDPF d$i%03d y SHAREDSF")).toDF("id", "k")
    Fuzzy.fuzzyLookup(left, dict, "id", "k", "id", "k",
      maxDist = 3, blockLen = 8, maxBlock = 31).count()
    val st = Fuzzy.lastBlockStats.get
    assert(st.hotBlocks >= 2 && st.reroutedRows == 72L,
      s"both blocks hold 36 > 31 rows; every row reroutes once per hot block: $st")
  }

  test("auto-salted join == plain join on a skewed frame; only the hot key replicates; " +
      "left join keeps unmatched rows exactly once") {
    import graft.operators.Salting
    // 2000 rows on key 7 (hot), 1000 singleton keys (cold), one key
    // missing from the small side entirely
    val big = spark.range(0, 3000).select(
      when($"id" < 2000, lit(7L)).otherwise($"id" + 10000L).as("k"), $"id".as("v"))
      .unionAll(Seq((99999L, -1L)).toDF("k", "v"))
    val small = spark.range(0, 13000).select($"id".as("k"), ($"id" * 10).as("w"))
    val plain = big.join(small, Seq("k"), "inner")
    val (salted, st) = Salting.autoSaltedJoinWithStats(big, small, Seq("k"),
      hotThreshold = 500L, buckets = 4)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salting must never change the joined relation")
    assert(st.hotKeys == 1L && st.hotRows == 2000L && st.buckets == 4,
      s"exactly key 7's 2000 rows are hot: $st")
    val lplain = big.join(small, Seq("k"), "left_outer")
    val lsalted = Salting.autoSaltedJoin(big, small, Seq("k"),
      hotThreshold = 500L, buckets = 4, joinType = "left_outer")
    assert(lsalted.exceptAll(lplain).isEmpty && lplain.exceptAll(lsalted).isEmpty,
      "an unmatched big-side row must survive a left join exactly once per salt-free row")
    intercept[IllegalArgumentException] {
      Salting.autoSaltedJoin(big, small, Seq("k"), 500L, 4, joinType = "full_outer")
    }
  }

  test("incremental novelty refuses a v1 (raw-string) shingle index with a clear remedy") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_v1_idx").toString)
    try {
      // a legacy index written by the previous build: raw `sh` strings
      store.createOrReplace("idx.shingles",
        Seq((1L, "the quick brown fox jumps")).toDF("doc", "sh"))
      val e = intercept[IllegalStateException] {
        graft.operators.Dedup.incrementalNovelty(store, "idx.shingles",
          docs.limit(5))
      }
      // the remedy must name a migration path that actually works on THIS
      // index shape: re-seed via incrementalNovelty replays, or a one-time
      // shh-keyed rewrite keeping stats + bloom (NOT clusterIndex, which
      // maintains the (band, key) dedup index and would throw here)
      assert(e.getMessage.contains("v1 shingle index") &&
        e.getMessage.contains("incrementalNovelty") &&
        e.getMessage.contains("setBloomFilterIndex") &&
        !e.getMessage.contains("clusterIndex"),
        s"guard must name the format and a WORKING remedy, got: ${e.getMessage}")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(
        java.nio.file.Paths.get(store.rootDir))
    }
  }

  test("mixed-language: en head + es tail flags, uniform docs don't, short docs drop") {
    val d = Seq(
      (1L, "the and is with from el la que por de"), // en head, es tail -> mixed
      (2L, "the and is with from the and is"),       // uniformly en
      (3L, "el la"))                                  // 2 tokens -> dropped
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val r = graft.queries.ExtensionQueries.x99MixedLang(spark, "/root/testdata/sf0.001")
    // fixture path: call the halving + langId logic directly
    import graft.functions.TextFunctions
    val ws = filter(split(TextFunctions.normalizeText($"text"), " "), w => length(w) > 0)
    val halves = d.select($"doc_id", ws.as("ws"))
      .filter(size($"ws") >= 4)
      .select($"doc_id",
        TextFunctions.langId(concat_ws(" ", expr("slice(ws, 1, size(ws) div 2)"))).as("h"),
        TextFunctions.langId(concat_ws(" ",
          expr("slice(ws, size(ws) div 2 + 1, size(ws) - size(ws) div 2)"))).as("t"))
      .orderBy($"doc_id").as[(Long, String, String)].collect().toSeq
    assert(halves == Seq((1L, "en", "es"), (2L, "en", "en")), s"got $halves")
    assert(r.columns.toSeq ==
      Seq("doc_id", "lang", "head_lang", "tail_lang", "mixed"))
  }

  test("quality percentile: per-source endpoints hit 0 and 1e6, ranks follow the score order") {
    val r = graft.queries.ExtensionQueries.x101QualityPercentile(spark, dir)
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val ends = r.groupBy($"source")
      .agg(fmin($"pct_micro").as("lo"), fmax($"pct_micro").as("hi"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter(($"n" > 1) && ($"lo" =!= 0L || $"hi" =!= 1000000L)).count()
    assert(ends == 0, "each multi-doc source must span the full percentile range")
    // monotone: within a source, a strictly higher quality never gets a
    // lower percentile
    val viol = r.as("a").join(r.as("b"),
        $"a.source" === $"b.source" && $"a.quality" > $"b.quality" &&
          $"a.pct_micro" < $"b.pct_micro").count()
    assert(viol == 0, "percentile must be monotone in the quality score")
  }

  test("incremental drift: top movers ordered, probabilities bounded, both sides populated") {
    val r = graft.queries.ExtensionQueries.x102IncrementalDrift(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r.size == 10 && r.map(_._1).distinct.size == 10)
    assert(r.map(_._6) == r.map(_._6).sorted.reverse, "movers must order by delta desc")
    assert(r.forall { case (_, cp, cb, pp, pb, d) =>
      cp >= 0 && cb >= 0 && pp >= 0 && pp <= 1000000L && pb >= 0 && pb <= 1000000L &&
        d == math.abs(pp - pb) })
  }

  test("dedup audit covers exactly the first-seen drops, shadower precedes, jaccard bounded") {
    val audit = graft.queries.ExtensionQueries.x100DedupAudit(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val kept = graft.operators.Dedup.firstSeenDedup(docs, "doc_id", "text", 3, 4, 2)
      .select($"doc_id").as[Long].collect().toSet
    val allIds = docs.select($"doc_id").as[Long].collect().toSet
    assert(audit.map(_._1).toSet == allIds -- kept,
      "the audit must explain exactly the docs first-seen dedup drops")
    assert(audit.forall { case (d, s, j) => s < d && j >= 0 && j <= 1000000L },
      "shadower must precede its dropped doc; jaccard in [0, 1e6]")
  }

  test("triangles: K4 counts 4, square counts 0, micro-unit gcc exact") {
    // K4 (complete graph on 4 nodes): C(4,3)=4 triangles, 12 wedges
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b))
      .toDF("src", "dst")
    val r = graft.operators.Graph.triangles(k4)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r == ((4L, 6L, 12L, 4L, 1000000L)), s"K4 gave $r")
    // 4-cycle: 4 wedges, no triangles
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r2 = graft.operators.Graph.triangles(sq)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r2 == ((4L, 4L, 4L, 0L, 0L)), s"square gave $r2")
  }

  test("triangles: orientation bounds the wedge stage on a hub (star graph stays linear)") {
    // star: hub 0 connected to 100 leaves. Raw wedge count at the hub is
    // C(100,2); DEGREE-ORIENTED wedges are 0 (every edge points INTO the
    // hub), so the join-side cardinality collapses. The result must still
    // report the analytic wedge count (for gcc) while counting 0 triangles.
    val star = (1L to 100L).map(i => (0L, i)).toDF("src", "dst")
    val r = graft.operators.Graph.triangles(star)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r == ((101L, 100L, 4950L, 0L, 0L)), s"star gave $r")
  }

  test("length buckets: rung assignment, truncation at the top rung, batch rounding") {
    val d = Seq(
      (1L, Seq.fill(10)("w").mkString(" ")),   // 10 tokens  -> rung 16
      (2L, Seq.fill(16)("w").mkString(" ")),   // boundary   -> rung 16
      (3L, Seq.fill(17)("w").mkString(" ")),   // just over  -> rung 32
      (4L, Seq.fill(100)("w").mkString(" ")),  // oversize   -> top rung 64, truncated
      (5L, ""))                                // empty      -> 0 tokens, rung 16
      .toDF("doc_id", "text")
    val r = graft.operators.Packing.lengthBuckets(d, Seq(16L, 32L, 64L), batchSize = 2L)
      .orderBy($"rung").as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq(
      // rung 16: docs {1,2,5}, 26 kept tokens, 2 batches, 64 slots
      (16L, 3L, 26L, 2L, 64L, ((64L - 26L) * 1000L) / 64L),
      (32L, 1L, 17L, 1L, 64L, ((64L - 17L) * 1000L) / 64L),
      // oversize doc truncates to the 64-token rung
      (64L, 1L, 64L, 1L, 128L, 500L)), s"got $r")
  }

  test("top paths: trigrams respect the total order, truncated journeys drop, rank total") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    val ev = Seq(
      (1L, at(0), 7L, "a"), (2L, at(1), 7L, "b"), (3L, at(2), 7L, "c"), (4L, at(3), 7L, "d"),
      // user 8 contributes the SAME a>b>c once; their 2-event tail is no path
      (5L, at(0), 8L, "a"), (6L, at(1), 8L, "b"), (7L, at(2), 8L, "c"),
      // user 9 has only 2 events — no trigram at all
      (8L, at(0), 9L, "a"), (9L, at(1), 9L, "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = graft.operators.Funnel.topPaths(ev, depth = 3, k = 5)
      .orderBy($"rk").as[(String, Long, Int)].collect().toSeq
    assert(r == Seq(("a > b > c", 2L, 1), ("b > c > d", 1L, 2)), s"got $r")
  }

  test("k-core peeling: the cascade removes a node whose support itself peeled") {
    // K4 {1,2,3,4}; node 5 hangs on {1,2,6}; node 6 hangs on 5 alone.
    // k=3: round 1 drops 6 (deg 1) — 5 SURVIVES round 1 (deg 3) but its
    // support is gone, so round 2 drops 5; round 3 repeats round 2
    // (converged). A single-pass degree filter would wrongly keep 5.
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L), (5L, 6L))).toDF("src", "dst")
    val r = graft.operators.Graph.kCore(edges, k = 3, rounds = 3)
      .orderBy($"round").as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 5L, 8L), (2L, 4L, 6L), (3L, 4L, 6L)), s"got $r")
  }

  test("calibration: equal-width bins over the score range, degenerate one-score corpus -> bin 0") {
    // weights (0,1,0,0,0) make the score exactly the char length
    val w = Seq(0L, 1L, 0L, 0L, 0L)
    val d = Seq(
      (1L, "aaaa", true),        // len 4  -> wx 4
      (2L, "aaaaaaaa", false),   // len 8
      (3L, "a" * 24, true),      // len 24 = max
      (4L, "aaaa", false))       // len 4 = min
      .toDF("doc_id", "text", "lab")
    val r = graft.operators.Classifier.calibration(d, $"lab", w, nBuckets = 2)
      .orderBy($"bin").as[(Long, Long, Long, Long, Long)].collect().toSeq
    // span+1 = 21: bin = (wx-4)*2/21 -> len4->0, len8->0, len24->1
    assert(r == Seq(
      (0L, 3L, 1L, 333333L, (4L + 8L + 4L) / 3L),
      (1L, 1L, 1L, 1000000L, 24L)), s"got $r")
    val one = Seq((1L, "aa", true), (2L, "aa", false)).toDF("doc_id", "text", "lab")
    val r2 = graft.operators.Classifier.calibration(one, $"lab", w, nBuckets = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(r2 == Seq((0L, 2L, 1L, 500000L, 2L)), s"degenerate gave $r2")
  }

  test("textrank: a hub co-occurring with many distinct words outranks its satellites") {
    // 'hub' sits mid-window of 8 distinct (a_i, b_i) pairs -> degree 16;
    // every satellite touches only hub and its line partner (degree 2)
    val d = (0 until 8).map(i => (i.toLong, s"a$i hub b$i")).toDF("doc_id", "text")
    val r = graft.operators.Collocations.textRank(d, window = 2, iterations = 3, k = 5)
      .orderBy($"rk").as[(String, Long, Int)].collect().toSeq
    assert(r.head._1 == "hub", s"hub must rank first, got $r")
    assert(r.map(_._3) == Seq(1, 2, 3, 4, 5), "ranks must be dense from 1")
    assert(r.map(_._2) == r.map(_._2).sorted.reverse, "pr must be non-increasing in rank")
  }

  test("label propagation: majority + tie-break, round-2 cascade, labeled nodes never relabel") {
    // seeds: 1 -> 'a', 2 -> 'b'. Node 3 sees {a, b} (tie -> 'a').
    // Node 4 sees only node 3 -> cascades 'a' in round 2.
    // Node 1 also neighbors 2 but keeps its seed label.
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (1L, 2L)).toDF("src", "dst")
    val seeds = Seq((1L, "a"), (2L, "b")).toDF("id", "lab")
    val r = graft.operators.Graph.labelPropagation(edges, seeds, rounds = 2,
        idCol = "id", labelCol = "lab")
      .orderBy($"id").as[(Long, String, Long)].collect().toSeq
    assert(r == Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "a", 1L), (4L, "a", 2L)),
      s"got $r")
  }

  test("label propagation: a NULL label is not a label — null seeds neither occupy nor vote") {
    // Node 2's seed label is NULL: it must not block node 2 from adopting
    // a real label, and it must not cast a NULL vote at node 3. Pins the
    // r15 contract (mode() ignores NULL votes; the entry filter makes the
    // occupancy side match).
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq((1L, Some("a")), (2L, None)).toDF("id", "lab")
    val r = graft.operators.Graph.labelPropagation(edges, seeds, rounds = 2,
        idCol = "id", labelCol = "lab")
      .orderBy($"id").as[(Long, String, Long)].collect().toSeq
    assert(r == Seq((1L, "a", 0L), (2L, "a", 1L), (3L, "a", 2L)), s"got $r")
  }

  test("water-fill: round-1 exhaustion redistributes, cascading a second exhaustion in round 2") {
    // budget = 100 (whole corpus). a wants 50 but has 30 (exhausts r1,
    // surplus 20); b wants 30, +surplus*30/50=12 -> 42 > 40 (exhausts r2);
    // c absorbs the rest, never exhausted
    val avail = Seq(("a", 30L), ("b", 40L), ("c", 100L)).toDF("grp", "avail")
    val r = graft.operators.Sampling.waterFill(avail,
        Map("a" -> 500000L, "b" -> 300000L, "c" -> 200000L),
        budgetNum = 10L, budgetDen = 17L, rounds = 3) // 170 total -> budget 100
      .orderBy($"grp")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSeq
    // r1: a=30(exh), b=30, c=20 (alloc 80, surplus 20, rem_share .5)
    // r2: b=30+12=42>40 -> 40(exh), c=20+8=28 (alloc 98, surplus 2, rem .2)
    // r3: c=28+2=30
    assert(r == Seq(
      ("a", 30L, 500000L, 100L, 30L, true),
      ("b", 40L, 300000L, 100L, 40L, true),
      ("c", 100L, 200000L, 100L, 30L, false)), s"got $r")
    // allocation never exceeds the budget and exhausted groups cap at avail
    assert(r.map(_._5).sum <= 100L)
  }

  test("cluster weights: each near-dup family carries ~1e6 total mass, singletons exactly 1e6") {
    val r = graft.queries.ExtensionQueries.x96ClusterWeights(spark, dir)
    import org.apache.spark.sql.functions.{sum => fsum, countDistinct, min => fmin, max => fmax}
    // per-cluster mass: csize * (1e6 div csize) ∈ (1e6 - csize, 1e6]
    val bad = r.groupBy($"cluster_id")
      .agg(fsum($"weight_micro").as("mass"), fmax($"csize").as("cs"))
      .filter($"mass" > 1000000L || $"mass" <= org.apache.spark.sql.functions.lit(1000000L) - $"cs").count()
    assert(bad == 0, "per-cluster sampling mass must be ~1e6")
    assert(r.filter($"csize" === 1 && $"weight_micro" =!= 1000000L).count() == 0)
    // every document appears exactly once
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(r.count() == docs && r.select(countDistinct($"doc_id")).as[Long].head() == docs)
  }

  test("transition matrix: deterministic tie-break, per-source probabilities sum to ≤ 1e6") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(ts0.getTime + s * 1000)
    val ev = Seq(
      (1L, at(0), 7L, "view"), (2L, at(1), 7L, "click"), (3L, at(2), 7L, "buy"),
      // user 8: two events at the SAME timestamp — event_id breaks the tie
      (4L, at(0), 8L, "view"), (5L, at(0), 8L, "click"), (6L, at(5), 8L, "buy"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = graft.operators.Funnel.transitionMatrix(ev)
      .orderBy($"prev_type", $"next_type")
      .select($"prev_type", $"next_type", $"n", $"p_micro")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(r == Seq(
      ("click", "buy", 2L, 1000000L),
      ("view", "click", 2L, 1000000L)), s"got $r")
    // probability mass per source never exceeds 1e6 on the real corpus
    val bad = graft.operators.Funnel.transitionMatrix(
        spark.read.parquet(s"$dir/events.parquet"))
      .groupBy($"prev_type").agg(sum($"p_micro").as("m"))
      .filter($"m" > 1000000L).count()
    assert(bad == 0)
  }

  test("PII: redaction is a fixed point, counts match hand-placed tokens, clean text untouched") {
    import graft.operators.Pii
    val rows = Seq(
      (1L, "mail me at alice.b-1@corp.example.org or Bob.QA@Example.COM thanks"),
      (2L, "server 192.168.0.1 and 10.0.300.7 call 415-555-0199"),
      (3L, "no pii here at all"),
      // a dotted quad inside a longer dotted run still redacts (policy:
      // loose match preferred over a leak) and the phone shape with an
      // extra digit block does NOT match
      (4L, "v 1.2.3.4.5 and 1234-555-0199x"),
      (5L, "ssn 123-45-6789 filed"),
      // dash-grouped 16-digit card + bare 15-digit Amex run
      (6L, "pay 4111-1111-1111-1111 or 378282246310005 now"),
      // a REAL IBAN's account body is a >12-digit run, so the card rule
      // counts it too (counts are independent over the original text);
      // redaction runs IBAN first, so the digits redact as ONE [IBAN]
      (7L, "acct GB82WEST12345698765432 ok"),
      // SSN (3-2-4) and phone (3-3-4) shapes stay disjoint side by side
      (8L, "phone 415-555-0100 ssn 415-55-0100"),
      // Amex in its conventional 4-6-5 separator grouping: no 4-digit
      // middle group, so only the rule's 4-6-5 alternative matches it —
      // and its 3-digit runs around the dashes must NOT leak a phone/SSN
      // false positive
      (9L, "amex 3782-822463-10005 and spaced 3714 496353 98431 billed"))
      .toDF("id", "text")
    val r = Pii.scan(rows, "id", "text").orderBy($"id")
      .select($"id", $"n_email", $"n_ipv4", $"n_phone", $"n_ssn", $"n_cc",
        $"n_iban", $"redacted")
      .as[(Long, Long, Long, Long, Long, Long, Long, String)].collect().toSeq
    assert(r.map(t => (t._1, t._2, t._3, t._4, t._5, t._6, t._7)) ==
      Seq((1L, 2L, 0L, 0L, 0L, 0L, 0L), (2L, 0L, 2L, 1L, 0L, 0L, 0L),
        (3L, 0L, 0L, 0L, 0L, 0L, 0L), (4L, 0L, 1L, 1L, 0L, 0L, 0L),
        (5L, 0L, 0L, 0L, 1L, 0L, 0L), (6L, 0L, 0L, 0L, 0L, 2L, 0L),
        (7L, 0L, 0L, 0L, 0L, 1L, 1L), (8L, 0L, 0L, 1L, 1L, 0L, 0L),
        (9L, 0L, 0L, 0L, 0L, 2L, 0L)),
      s"got $r")
    assert(r(0)._8 == "mail me at [EMAIL] or [EMAIL] thanks")
    assert(r(2)._8 == "no pii here at all", "clean text must pass through unchanged")
    assert(r(4)._8 == "ssn [SSN] filed")
    assert(r(5)._8 == "pay [CC] or [CC] now")
    assert(r(6)._8 == "acct [IBAN] ok",
      "IBAN-before-card order must redact the account as one token")
    assert(r(7)._8 == "phone [PHONE] ssn [SSN]")
    assert(r(8)._8 == "amex [CC] and spaced [CC] billed",
      "the 4-6-5 Amex grouping must redact as one [CC] per card")
    // fixed point: scanning the redacted text finds nothing
    val again = Pii.scan(r.map(t => (t._1, t._8)).toDF("id", "text"), "id", "text")
      .agg(sum($"n_pii")).as[Long].head()
    assert(again == 0, "redacted text must scan clean")
  }

  test("memorization risk: a verbatim-duplicated doc scores 0, a unique doc 1e6") {
    // x112 on sf0.001: every doc's risk is n_unique/n_sh in micro-units;
    // cross-check two extremes against a direct shingle recount
    val r = graft.queries.ExtensionQueries.x112MemorizationRisk(spark, dir)
    val bad = r.filter($"risk_micro" =!= expr("n_unique * 1000000L div n_sh")).count()
    assert(bad == 0, "risk must be exactly n_unique/n_sh")
    assert(r.filter($"n_unique" > $"n_sh").count() == 0)
    // docs whose every 5-gram is shared (exact dup pairs) must score 0
    val dupDocs = Dedup.exactDedup(docs, "doc_id", "text").filter($"n_dups" >= 2)
    if (dupDocs.count() > 0) {
      val sample = dupDocs.select($"canonical_id").as[Long].head()
      val risk = r.filter($"doc_id" === sample).select($"risk_micro").as[Long].head()
      assert(risk == 0L, s"a verbatim-duplicated doc must have zero unique 5-grams, got $risk")
    }
  }

  test("curriculum order: positions are a dense permutation, monotone in quality bucket, " +
      "and equal the naive global sort") {
    val r = graft.queries.ExtensionQueries.x113CurriculumOrder(spark, dir)
      .select($"doc_id", $"qb", $"pos").cache()
    val n = r.count()
    assert(r.select(countDistinct($"pos")).as[Long].head() == n)
    assert(r.agg(min($"pos"), max($"pos")).as[(Long, Long)].head() == ((1L, n)))
    // walking the sequence in position order never decreases the bucket
    val seq = r.orderBy($"pos").select($"qb").as[Long].collect().toSeq
    assert(seq == seq.sorted, "curriculum must be easy-to-hard by bucket")
    // bit-identical to the single-task reference: row_number over the
    // same composite order (fine at sf0.001; the operator exists so this
    // window never runs at corpus scale)
    val naive = graft.queries.ExtensionQueries.x113CurriculumOrder(spark, dir)
      .withColumn("h52", conv(substring(md5(concat(lit("curr|"),
        $"doc_id".cast("string"))), 1, 13), 16, 10).cast("long"))
      .withColumn("ref", row_number().over(
        Window.orderBy($"qb", $"h52", $"doc_id")).cast("long"))
    r.unpersist(false)
    assert(naive.filter($"pos" =!= $"ref").count() == 0,
      "histogram-rank positions must equal the global-sort row_number")
  }

  test("datasheet: totals reconcile with the corpus, the modal language is the argmax, " +
      "dup mass matches a direct recount") {
    val r = graft.queries.ExtensionQueries.x114SourceDatasheet(spark, dir).cache()
    assert(r.agg(sum($"n_docs")).as[Long].head() == docs.count())
    assert(r.agg(sum($"n_chars")).as[Long].head() ==
      docs.agg(sum(length($"text"))).as[Long].head())
    // share bounds: the mode's share is in (0, 1e6]
    assert(r.filter($"top_lang_share_micro" <= 0 ||
      $"top_lang_share_micro" > 1000000L).count() == 0)
    // modal language recomputed independently via a window argmax
    val modes = docs.groupBy($"source", $"lang").agg(count(lit(1)).as("lc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"lc".desc, $"lang")))
      .filter($"rn" === 1).select($"source", $"lang".as("ref_lang"))
    assert(r.join(modes, "source").filter($"top_lang" =!= $"ref_lang").count() == 0)
    // dup mass: docs whose exact text occurs >= 2 times, recounted directly
    val dupTotal = docs.groupBy($"text").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).agg(coalesce(sum($"c"), lit(0L))).as[Long].head()
    val got = r.agg(sum($"dup_docs")).as[Long].head()
    r.unpersist(false)
    assert(got == dupTotal, s"datasheet dup mass $got != direct recount $dupTotal")
  }

  test("ANN recall report: invariants hold and hits match a direct set intersection") {
    val r = graft.queries.ExtensionQueries.x115AnnRecall(spark, dir).cache()
    assert(r.count() == 10)
    assert(r.filter($"n_exact" =!= 5L).count() == 0, "ground truth is always k=5")
    assert(r.filter($"hits" > least($"n_exact", $"n_lsh")).count() == 0)
    assert(r.filter($"recall_micro" =!= expr("hits * 1000000 div n_exact")).count() == 0)
    // hits for every query recomputed as the literal set intersection of
    // the two public operators' neighbor sets
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    val ex = Similarity.bruteForceTopK(emb, q, k = 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val ap = Similarity.lshTopK(emb, q, k = 5, nBits = 4, dim = 64)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val want = (ex intersect ap).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = r.select($"query_id", $"hits").as[(Long, Long)].collect().toMap
    r.unpersist(false)
    assert((0L until 10L).forall(i => got(i) == want.getOrElse(i, 0L)),
      s"hits mismatch: got $got want $want")
  }

  test("threshold sweep: monotone in the rung, and the 0.6 rung equals the x3 pair count") {
    val r = graft.queries.ExtensionQueries.x117ThresholdSweep(spark, dir)
      .select($"thr_micro", $"n_pairs", $"jaccard_mass_micro", $"n_docs_involved")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(r.map(_._1) == (5 to 9).map(_ * 100000L))
    // raising the threshold can only shrink every column
    assert(r.sliding(2).forall { case Seq(a, b) =>
      b._2 <= a._2 && b._3 <= a._3 && b._4 <= a._4 }, s"not monotone: $r")
    val at06 = Dedup.minhashLsh(docs, "doc_id", "text", 3, 4, 2, 0.6).count()
    assert(r.find(_._1 == 600000L).get._2 == at06,
      "the sweep's 0.6 rung must equal the single-threshold run")
  }

  test("incremental datasheet: equals the one-shot bit-for-bit; a dup arriving in a later " +
      "batch flips its OLD singleton (the non-associative crossing case)") {
    val inc = graft.queries.ExtensionQueries.x118IncrementalDatasheet(spark, dir).collect().toSeq
    val one = graft.queries.ExtensionQueries.x114SourceDatasheet(spark, dir).collect().toSeq
    assert(inc == one, "the incremental store tables must converge to the one-shot datasheet")
    // hand-driven crossing case: doc 1 (s1) is a singleton after batch 1;
    // its verbatim copy arrives in batch 3 under ANOTHER source — both
    // docs must count as dups, including the doc whose batch is long gone
    val root = java.nio.file.Files.createTempDirectory("graft_x118_spec").toString
    val store = new graft.tables.TableStore(spark, root)
    try {
      def batch(rows: (Long, String, String, String)*) =
        rows.toSeq.toDF("doc_id", "text", "lang", "source")
      val ingest = graft.queries.ExtensionQueries.datasheetIngest _
      ingest(store, batch((1L, "same text body", "en", "s1")))
      assert(store.read("ds.dup").count() == 0, "a singleton is not a dup yet")
      ingest(store, batch((2L, "something else", "en", "s2")))
      ingest(store, batch((3L, "same text body", "en", "s2")))
      val dup = store.read("ds.dup").as[(String, Long)].collect().toMap
      assert(dup == Map("s1" -> 1L, "s2" -> 1L),
        s"the old s1 singleton must flip when its copy lands in s2: $dup")
      // and a third copy only adds ONE more dup doc
      ingest(store, batch((4L, "same text body", "en", "s1")))
      val dup2 = store.read("ds.dup").as[(String, Long)].collect().toMap
      assert(dup2 == Map("s1" -> 2L, "s2" -> 1L), s"third copy adds one: $dup2")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("incremental datasheet batch is atomic: a failure between index merges publishes " +
      "NOTHING, and each batch is one transaction per table in the history") {
    val root = java.nio.file.Files.createTempDirectory("graft_x118_atomic").toString
    val store = new graft.tables.TableStore(spark, root)
    try {
      def batch(rows: (Long, String, String, String)*) =
        rows.toSeq.toDF("doc_id", "text", "lang", "source")
      val ingest = graft.queries.ExtensionQueries.datasheetIngest _
      ingest(store, batch((1L, "alpha beta gamma", "en", "s1")))
      val statsBefore = store.read("ds.stats").collect().toSeq
      val versBefore = store.history("ds.stats").size
      // poison ONLY the lang column: the stats merge (which never reads
      // lang) stages successfully, then the langs merge throws mid-
      // transaction — the crash-between-merges shape. Before the
      // transactional ingest, this left stats absorbed but langs/dup not,
      // silently diverging the twin from x114 until a re-run.
      val poisoned = batch((2L, "delta epsilon", "en", "s2"))
        .withColumn("lang", when($"doc_id" < 0L, lit("en"))
          .otherwise(raise_error(lit("boom between merges")).cast("string")))
      val e = intercept[Exception] { ingest(store, poisoned) }
      assert(e.getMessage != null, "the poisoned batch must fail loudly")
      assert(store.read("ds.stats").collect().toSeq == statsBefore,
        "an aborted batch must not leave ANY index absorbed (stats rolled back)")
      assert(store.history("ds.stats").size == versBefore,
        "the aborted stage may not appear as a committed version")
      assert(store.read("ds.dup").count() == 0 &&
        store.read("ds.hashes").count() == 1 && store.read("ds.langs").count() == 1,
        "the other indexes hold exactly batch 1")
      // the batch retries clean and converges
      ingest(store, batch((2L, "delta epsilon", "en", "s2")))
      assert(store.read("ds.stats").count() == 2)
      // one transaction per batch per table, visible in DESCRIBE HISTORY:
      // create + one txn_merge per successful batch, nothing else
      val ops = store.history("ds.stats").map(_._3)
      assert(ops.count(_ == "txn_merge") == 2 && ops.size == versBefore + 1,
        s"history must show exactly one transactional merge per batch: $ops")
    } finally {
      store.detach()
      graft.queries.Scratch.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("contamination report: complete benchmark x source frame, bounded rates, and one " +
      "cell reconciles with a direct single-benchmark overlap recount") {
    val r = graft.queries.ExtensionQueries.x119ContaminationReport(spark, dir).cache()
    val corpus = docs.filter($"doc_id" % 13 =!= 0)
    val benches = docs.filter($"doc_id" % 13 === 0).select($"lang").distinct().count()
    val sources = corpus.select($"source").distinct().count()
    assert(r.count() == benches * sources,
      "the audit must emit EVERY (benchmark, source) cell, zeros included")
    assert(r.filter($"n_contaminated" > $"n_docs" || $"contaminated_micro" > 1000000L ||
      $"contaminated_micro" < 0L).count() == 0, "rates must be bounded")
    // every doc counted as contaminated crossed the >= 3 n-gram threshold,
    // so the cell's total overlap mass is at least 3x its contaminated
    // count (sub-threshold docs only ADD mass on top)
    assert(r.filter($"overlap_ngrams" < $"n_contaminated" * 3).count() == 0,
      "mass must be consistent with counts: each contaminated doc carries >= 3 n-grams")
    // direct recount of the heaviest cell via the per-doc overlap operator
    // restricted to that one benchmark and source
    val top = r.orderBy($"n_contaminated".desc).head()
    val (bench, source) = (top.getString(0), top.getString(1))
    val direct = Dedup.crossCorpusOverlap(
        corpus.filter($"source" === source),
        docs.filter($"doc_id" % 13 === 0 && $"lang" === bench), "doc_id", "text", n = 3)
      .filter($"n_overlap" >= 3).count()
    r.unpersist(false)
    assert(top.getLong(3) == direct,
      s"cell ($bench, $source) must equal the direct recount: ${top.getLong(3)} vs $direct")
  }

  test("incremental contamination (x122) converges bit-for-bit to the one-shot x119") {
    // the twin's contract: 3 corpus batches merged under the frozen
    // benchmark suite accumulate to EXACTLY the one-shot audit — every
    // cell, every sum, the derived micro-rate
    val inc = graft.queries.ExtensionQueries
      .x122IncrementalContamination(spark, dir).collect().toSeq
    val one = graft.queries.ExtensionQueries
      .x119ContaminationReport(spark, dir).collect().toSeq
    assert(inc == one, s"incremental != one-shot:\n$inc\nvs\n$one")
  }

  test("prepared-benchmark probe: equals the one-shot report, pays the gate once, " +
      "persists only past the broadcast gate") {
    // the frozen-suite pattern x122 rides on: prepareBenchmark runs the
    // size gate ONCE and builds the tagged shingle relation for every
    // probe. A broadcast-sized suite rebuilds cheaper than it re-reads
    // cached blocks, so auto-persist engages only on the shuffle path.
    val corpus = docs.filter($"doc_id" % 13 =!= 0)
    val bench = docs.filter($"doc_id" % 13 === 0)
      .select($"lang".as("benchmark"), $"text")
    val prep = Dedup.prepareBenchmark(bench, "text", "benchmark", n = 3)
    try {
      assert(prep.stats.broadcastProbe, "fixture suite must be gate-sized")
      assert(prep.benchShingles.storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE,
        "a broadcast-sized suite must NOT auto-persist")
      val probe = Dedup.contaminationProbe(
        prep, corpus, "doc_id", "text", "source", threshold = 3L)
      val one = Dedup.contaminationReport(corpus, bench,
        "doc_id", "text", "source", "benchmark", n = 3, threshold = 3L)
      val key = Seq("benchmark", "source").map(col)
      assert(probe.orderBy(key: _*).collect().toSeq ==
        one.orderBy(key: _*).collect().toSeq,
        "a prepared probe must equal the one-shot report on the same inputs")
    } finally prep.release()
    // an over-gate suite auto-persists (its rebuild is a real shuffle)
    val big = Dedup.prepareBenchmark(bench, "text", "benchmark", n = 3,
      broadcastMaxTokens = 1L)
    try {
      assert(!big.stats.broadcastProbe, "forced-shut gate must shuffle")
      val lvl = big.benchShingles.storageLevel
      assert(lvl.useMemory || lvl.useDisk,
        s"a shuffle-path suite must auto-persist, got $lvl")
    } finally big.release()
    assert(big.benchShingles.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "release must unpersist the prepared suite")
  }

  test("contamination report: an oversized benchmark drops the broadcast hint and completes " +
      "via the shuffle path with identical results") {
    val corpus = docs.filter($"doc_id" % 13 =!= 0)
    val bench = docs.filter($"doc_id" % 13 === 0)
      .select($"lang".as("benchmark"), $"text")
    def run(maxTokens: Long) = Dedup.contaminationReportWithStats(
      corpus, bench, "doc_id", "text", "source", "benchmark",
      n = 3, threshold = 3L, broadcastMaxTokens = maxTokens)
    // default gate: the fixture benchmark is tiny -> broadcast path
    val (viaBroadcast, sb) = run(Dedup.DefaultBroadcastMaxTokens)
    assert(sb.broadcastProbe && sb.benchTokens > 0,
      s"fixture benchmark must take the broadcast path: $sb")
    // gate forced shut: the "oversized benchmark" case — the probe must
    // complete WITHOUT the hint (shuffle equi-join; the planner may still
    // choose broadcast at runtime from real sizes, which is the point:
    // degrade by its choice, never OOM by ours)
    val (viaShuffle, ss) = run(maxTokens = 1L)
    assert(!ss.broadcastProbe && ss.benchTokens == sb.benchTokens,
      s"an over-threshold benchmark must shuffle: $ss")
    // hint presence is only visible in the ANALYZED plan (the optimizer's
    // EliminateResolvedHint folds hints away before optimizedPlan, which
    // would make this assert vacuously pass on both paths)
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    assert(hints(viaShuffle).isEmpty,
      "the shuffle path must carry NO broadcast hint")
    assert(hints(viaBroadcast).nonEmpty,
      "sanity: the under-threshold path DOES carry the hint (otherwise " +
        "this test could not distinguish the gate's two branches)")
    val key = Seq("benchmark", "source").map(col)
    assert(viaBroadcast.orderBy(key: _*).collect().toSeq ==
      viaShuffle.orderBy(key: _*).collect().toSeq,
      "both probe paths must produce the identical report")
  }

  test("source overlap: canonical pair order, pair mass reconciles with the LSH pair list") {
    val r = graft.queries.ExtensionQueries.x111SourceOverlap(spark, dir).cache()
    assert(r.filter($"source_lo" >= $"source_hi").count() == 0,
      "matrix rows must be canonical (lo < hi)")
    // total cross-source pair count reconciles with x3's pair list joined
    // to sources directly
    val src = docs.select($"doc_id", $"source")
    val expected = Dedup.minhashLsh(docs, "doc_id", "text", 3, 4, 2, 0.6)
      .join(src.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
      .filter($"sa" =!= $"sb").count()
    val got = r.agg(coalesce(sum($"n_pairs"), lit(0L))).as[Long].head()
    r.unpersist(false)
    assert(got == expected, s"matrix mass $got != pair list $expected")
  }

  test("collocations: with broadcast disabled the vocabulary joins complete via the " +
      "shuffle path with identical results (x69 bigrams, x92 textrank)") {
    // the 100x contract behind dropping Collocations' forced broadcast()
    // hints: an over-threshold vocabulary must degrade to a shuffled
    // equi-join, never OOM the driver. Simulate "vocabulary too big to
    // broadcast" by shutting the planner's gate in a sibling session
    // (runtime confs are session-scoped; the shared SparkContext and the
    // parquet-by-path reads carry over).
    val shuffled = spark.newSession()
    shuffled.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for (q <- Seq("x69_pmi_bigrams", "x92_textrank")) {
      val expect = SparkEntry.queries(q)(spark, dir).collect().toSeq
      val got = SparkEntry.queries(q)(shuffled, dir)
      val rows = got.collect().toSeq
      val plan = got.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("BroadcastHashJoin"),
        s"$q: gate forced shut, the vocab join must take the shuffle path:\n${plan.take(1200)}")
      assert(rows == expect,
        s"$q: shuffle and broadcast paths must produce identical rows")
    }
  }
}
