package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators._
import graft.functions.GraftFunctions

/** Operator-level behavior tests over small in-memory fixtures. */
class OperatorSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._

  // ---- change compaction ---------------------------------------------------

  test("latestByKey keeps exactly the max-ordered row per key") {
    import spark.implicits._
    val changes = Seq(
      ("acct1", 10L, 1L, "v1"), ("acct1", 10L, 2L, "v2"), ("acct1", 11L, 1L, "v3"),
      ("acct2", 9L, 1L, "w1")).toDF("key", "seq", "ord", "state")
    val out = ChangeCompaction.latestByKey(changes, Seq("key"), Seq("seq", "ord"))
      .orderBy("key").collect()
    assert(out.map(r => (r.getString(0), r.getString(3))).toSeq ==
      Seq(("acct1", "v3"), ("acct2", "w1")))
  }

  test("compactBatches compacts within each batch independently") {
    import spark.implicits._
    val changes = Seq(
      ("k", 1L, "a"), ("k", 63L, "b"),   // batch 0
      ("k", 64L, "c"), ("k", 100L, "d")  // batch 1
    ).toDF("key", "seq", "state")
    val out = ChangeCompaction.compactBatches(changes, Seq("key"), "seq", Seq("seq"))
      .orderBy("batch_id").collect()
    assert(out.map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("state"))).toSeq ==
      Seq((0L, "b"), (1L, "d")))
  }

  test("snapshot drops keys whose final state is deleted") {
    import spark.implicits._
    val changes = Seq(
      ("k1", 1L, false), ("k1", 2L, true),  // ends deleted
      ("k2", 1L, true), ("k2", 2L, false)   // resurrected
    ).toDF("key", "seq", "deleted")
    val out = ChangeCompaction.snapshot(changes, Seq("key"), Seq("seq")).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("k2"))
  }

  // ---- dedup ---------------------------------------------------------------

  test("exact dedup groups identical text, keeps lowest id") {
    import spark.implicits._
    val docs = Seq((3L, "hello world"), (1L, "hello world"), (2L, "unique"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, "text", "doc_id").orderBy("doc_id").collect()
    assert(out.length == 2)
    val kept = out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("duplicate_count")))
    assert(kept.toSet == Set((1L, 2L), (2L, 1L)))
  }

  test("minhash LSH finds near-duplicates but not unrelated docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val near = base.replace("today", "tonight")
    val far = "completely different content about spark catalyst optimizer internals and codegen"
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
      shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("simhash: similar texts have small hamming distance, dissimilar large") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "totally unrelated words about query optimization engines")
    ).toDF("id", "text").select(col("id"), Dedup.simHash64(col("text")).as("h"))
    val h = df.orderBy("id").collect().map(_.getLong(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0), h(1)) < ham(h(0), h(2)))
  }

  test("ngram jaccard pairs: identical docs score 1.0") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.9)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 1.0)))
  }

  test("df-cut jaccard: planted stopword gram is blacklisted, rest matches uncut") {
    import spark.implicits._
    // "zz" appears in every doc (a stopword-grade gram); the discriminative
    // grams are untouched. With the stopword present the UNCUT variant links
    // docs 1-3 to doc 4 spuriously; the cut must remove exactly that.
    val docs = Seq(
      (1L, "zz alpha beta gamma"), (2L, "zz alpha beta gamma"),
      (3L, "zz alpha beta delta"), (4L, "zz unrelated words here"))
      .toDF("doc_id", "text")
    // absolute cut: df > 3 kills "zz" (df=4) only
    val cut = Dedup.ngramJaccardPairsWithDfCut(docs, "text", "doc_id",
        n = 1, threshold = 0.5, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // uncut over the same corpus with "zz" stripped must agree exactly
    val stripped = docs.withColumn("text", regexp_replace(col("text"), "zz ", ""))
    val uncut = Dedup.ngramJaccardPairs(stripped, "text", "doc_id",
        n = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cut == uncut)
    assert(cut.map(t => (t._1, t._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // relative cut (>25% of 4 docs = df>1) blacklists every gram shared by
    // two or more docs, so no candidate pair can survive at all
    val rel = Dedup.ngramJaccardPairsWithDfCut(docs, "text", "doc_id",
        n = 1, threshold = 0.5, maxDfFraction = Some(0.25))
      .collect()
    assert(rel.isEmpty)
  }

  test("substring spans: shared phrase yields one merged span per doc, cross-doc only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "u1 u2 p1 p2 p3 p4 p5 p6 p7 u3"),           // phrase at word 2..8
      (2L, "p1 p2 p3 p4 p5 p6 p7 z1 z2"),              // same phrase at 0..6
      (3L, "completely different words here entirely unrelated content"),
      (30L, "r1 r2 r3 r4 r5 x r1 r2 r3 r4 r5")         // WITHIN-doc repeat only
    ).toDF("doc_id", "text")
    val out = Dedup.substringSpans(docs, "text", "doc_id", k = 5)
      .orderBy("doc_id").collect()
    // doc 30's repeated 5-gram never crosses a document boundary — the law
    // is cross-document duplication, so it must not surface
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val byId = out.map(r => r.getLong(0) ->
      (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens"),
        r.getAs[Long]("total_tokens"), r.getAs[String]("spans"))).toMap
    // three overlapping duplicated windows merge into one 7-token span
    assert(byId(1L) == ((1L, 7L, 10L, "2-9")))
    assert(byId(2L) == ((1L, 7L, 9L, "0-7")))
    assert(out.head.getAs[Double]("dup_ratio") == 0.7)
  }

  test("substring spans: distant shared phrases stay separate spans; short docs clamp") {
    import spark.implicits._
    val docs = Seq(
      (10L, "s1 s2 s3 s4 s5 m1 m2 m3 m4 m5 m6 t1 t2 t3 t4 t5"),
      (11L, "s1 s2 s3 s4 s5 q1 q2 q3 q4 q5 q6 t1 t2 t3 t4 t5"),
      (20L, "tiny shared doc"),                         // < k words: whole-doc window
      (21L, "tiny shared doc")
    ).toDF("doc_id", "text")
    val out = Dedup.substringSpans(docs, "text", "doc_id", k = 5)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens"),
        r.getAs[String]("spans"), r.getAs[Double]("dup_ratio"))).toMap
    // head and tail phrases are 11 words apart (> k) — two islands
    assert(byId(10L) == ((2L, 10L, "0-5,11-16", 10.0 / 16.0)))
    assert(byId(11L) == ((2L, 10L, "0-5,11-16", 10.0 / 16.0)))
    // whole-doc fallback window: span end clamps to the 3-token doc length
    assert(byId(20L) == ((1L, 3L, "0-3", 1.0)))
    assert(byId(21L) == ((1L, 3L, "0-3", 1.0)))
  }

  test("bloom decontamination: planted overlap counted, output bit-identical to exact path") {
    import spark.implicits._
    val bench = Seq((100L, "held out eval question one"), (101L, "secret test answer two here"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words held out eval question one suffix"), // contains a bench 4-gram
      (2L, "completely clean document with no overlap at all"),
      (3L, "secret test answer two here verbatim leak")
    ).toDF("doc_id", "text")
    val viaBloom = Dedup.decontaminateBloom(corpus, "text", "doc_id",
        bench, "text", n = 4).orderBy("doc_id").collect()
    val exact = Dedup.decontaminate(corpus, "text", "doc_id",
        bench, "text", n = 4).orderBy("doc_id").collect()
    // bloom false positives must be pruned by the verify join: same rows,
    // same counts, same ratios as the exact broadcast-set path
    assert(viaBloom.map(_.toSeq).toSeq == exact.map(_.toSeq).toSeq)
    val byId = viaBloom.map(r => r.getLong(0) -> r.getAs[Long]("overlap_grams")).toMap
    assert(byId(1L) > 0 && byId(3L) > 0 && byId(2L) == 0L)
  }

  test("bloom decontamination survives a 1-in-2 fpp filter (verify join prunes)") {
    import spark.implicits._
    // an absurdly lossy bloom (fpp 0.5) floods the candidate set with false
    // positives; the exact verify join must still produce the exact answer
    val bench = Seq((9L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = (1L to 40L).map(i => (i, s"filler w$i x$i y$i z$i q$i end"))
      .toDF("doc_id", "text")
      .union(Seq((50L, "alpha beta gamma delta trailing")).toDF("doc_id", "text"))
    val out = Dedup.decontaminateBloom(corpus, "text", "doc_id",
        bench, "text", n = 4, fpp = 0.5)
      .where(col("overlap_grams") > 0).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(50L))
  }

  test("positional ngram windows keep duplicates and true offsets") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a")).toDF("id", "text")
      .select(GraftFunctions.ngramWindows(col("text"), 2).as("w"))
    // windows: [a b, b a, a b, b a] — duplicates preserved, offset = index
    assert(df.head.getSeq[String](0) == Seq("a b", "b a", "a b", "b a"))
  }

  // ---- similarity ----------------------------------------------------------

  test("brute-force cosine top-k ranks an identical vector first") {
    import spark.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.9f, 0.1f, 0.0f)),
      (12L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "qvec")
    val out = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", k = 2).orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(10L, 11L))
    assert(math.abs(out.head.getAs[Double]("cosine") - 1.0) < 1e-9)
  }


  test("PQ ADC: codeword twin ranks first at distance zero; codes bounded") {
    import spark.implicits._
    // 16-dim vectors, m=4 subspaces of 4 dims. Corpus ids 0..15 seed the
    // codebooks; id 100 is a byte-exact twin of codeword vector 3, so its
    // encode hits d=0 in every subspace and the ADC distance of query 3
    // (itself a codeword) to the twin is exactly 0.
    val mk = (seed: Long) => Array.tabulate(16)(d => ((seed * 31 + d * 7) % 13 - 6) / 10.0f)
    val corpus = ((0L to 15L).map(i => (i, mk(i))) :+ (100L, mk(3L)))
      .toDF("vec_id", "embedding")
    val queries = Seq((3L, mk(3L))).toDF("qid", "qvec")
    val out = Similarity.pqTopKExact(corpus, "vec_id", "embedding",
        queries, "qid", "qvec", k = 3, m = 4, codewords = 16)
      .orderBy("rank").collect()
    assert(out.head.getAs[Long]("neighbor_id") == 100L)
    assert(out.head.getAs[Long]("adc_dist") == 0L)
    // every code must address a real codeword
    val idx = Similarity.buildPqIndexExact(corpus, "vec_id", "embedding",
      m = 4, codewords = 16)
    val codes = idx.codes.collect().map(_.getSeq[Int](1))
    assert(codes.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 16)))
  }

  test("PQ ADC distance equals the driver-recomputed LUT sum; ties pick lowest code") {
    import spark.implicits._
    val mk = (seed: Long) => Array.tabulate(16)(d => ((seed * 17 + d * 5) % 11 - 5) / 10.0f)
    val corpus = (0L to 25L).map(i => (i, mk(i))).toDF("vec_id", "embedding")
    val queries = (0L to 2L).map(i => (i, mk(i))).toDF("qid", "qvec")
    val idx = Similarity.buildPqIndexExact(corpus, "vec_id", "embedding",
      m = 4, codewords = 16)
    val codeOf = idx.codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def quant(v: Array[Float]): Array[Long] = v.map(x => math.round(x.toDouble * 10000))
    def subDist(a: Array[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // driver-side reference: encode + LUT sum recomputed from first principles
    val out = Similarity.searchPqIndexExact(idx, queries, "qid", "qvec", k = 25)
      .collect()
    out.foreach { r =>
      val q = quant(mk(r.getAs[Long]("query_id")))
      val n = codeOf(r.getAs[Long]("neighbor_id"))
      val expect = (0 until 4).map { s =>
        subDist(q.slice(s * 4, s * 4 + 4), idx.codebooks(s)(n(s)).map(_ + 0L))
      }.sum
      assert(r.getAs[Long]("adc_dist") == expect,
        s"adc mismatch for ${r.getAs[Long]("query_id")}→${r.getAs[Long]("neighbor_id")}")
    }
    // tie law: a corpus where two codewords are identical — the encoder
    // must deterministically keep the EARLIER codeword index
    val dup = Seq((0L, mk(7L)), (1L, mk(7L)), (2L, mk(9L)), (50L, mk(7L)))
      .toDF("vec_id", "embedding")
    val didx = Similarity.buildPqIndexExact(dup, "vec_id", "embedding",
      m = 4, codewords = 3)
    val c50 = didx.codes.where(col("neighbor_id") === 50L)
      .head.getSeq[Int](1)
    assert(c50.forall(_ == 0), s"tie must pick codeword 0, got $c50")
  }

  test("PQ recall: full-probe ADC finds the exact L2 top-1 in its top-5 on real embeddings") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pq = Similarity.pqTopKExact(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // 16-codeword codebooks are coarse; require top-1 recall@5 of at least
    // 2/5 — a broken LUT or encode law collapses this to ~0
    val hits = exact.count { case (q, n) => pq.getOrElse(q, Set.empty).contains(n) }
    assert(hits >= 2, s"recall@5 too low: $hits/5")
  }

  test("PQ Lloyd refinement: quantization distortion strictly decreases " +
      "on real embeddings; recall recovers from an adversarial seed") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val quant = transform(col("embedding"),
      x => round(x.cast("double") * 10000).cast("long"))
    def distortion(iters: Int): Long = {
      val idx = Similarity.buildPqIndexExact(emb, "vec_id", "embedding",
        m = 8, codewords = 16, lloydIters = iters)
      val cbFlat = idx.codebooks.flatMap(_.flatten).toArray
      val cw = idx.codebooks.head.size
      emb.select(GraftFunctions.pqAdcDist(
          GraftFunctions.pqEncode(quant, cbFlat, 8, cw),
          GraftFunctions.pqLut(quant, cbFlat, 8, cw)).as("d"))
        .agg(sum("d")).head().getLong(0)
    }
    // Lloyd's guarantee, integer-exact: Σ ADC(v, own codeword) is
    // non-increasing per iteration (measured: 37.6e9 → 29.9e9 → 28.1e9 →
    // 27.5e9, a 27% cut by iteration 5); strict decrease here because the
    // 16-lowest-id seed is far from a fixed point on this corpus
    val d0 = distortion(0); val d1 = distortion(1)
    val d3 = distortion(3); val d5 = distortion(5)
    assert(d1 < d0, s"iteration 1 must cut distortion: $d1 !< $d0")
    assert(d3 < d1, s"iteration 3 must keep cutting: $d3 !< $d1")
    assert(d5 < d3, s"iteration 5 must keep cutting: $d5 !< $d3")
    assert(d5 <= (d0 * 3) / 4, s"5 iterations must cut ≥25%: $d5 vs $d0")

    // recall on the real corpus: refined-5 must not lose to the seed (both
    // deterministic: 7/20 seed → 9/20 refined on this corpus)
    val queries = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recall(iters: Int): Int = {
      val pq = Similarity.pqTopKExact(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 5, m = 8, codewords = 16,
          lloydIters = iters)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      exact.count { case (q, n) => pq.getOrElse(q, Set.empty).contains(n) }
    }
    val seedHits = recall(0); val refinedHits = recall(5)
    assert(refinedHits >= seedHits,
      s"refined recall $refinedHits lost to seed $seedHits")
    assert(refinedHits >= 8, s"refined recall@5 too low: $refinedHits/20")

    // adversarial seed: the codeword-seed rows (8 lowest ids) are one tight
    // clump while the true structure is 8 separated clusters — the
    // collapsed seed books MUST be recoverable by refinement
    def center(c: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == c * 2) 1.0f else 0.0f)
    def jitter(v: Array[Float], j: Int): Array[Float] =
      v.zipWithIndex.map { case (x, d) => x + ((j * 7 + d * 3) % 5) * 0.002f }
    val clump = (0L to 7L).map(i => (i, jitter(center(0), i.toInt + 60)))
    val clusters = for (c <- 0 until 8; j <- 0 until 10)
      yield (100L + c * 10 + j, jitter(center(c), j))
    val adv = (clump ++ clusters).toDF("vec_id", "embedding")
    val aq = clusters.filter(_._1 % 10 == 5).map(t => (t._1, t._2))
      .toDF("qid", "qvec")
    val aExact = Similarity.bruteForceTopK(adv, "vec_id", "embedding",
        aq, "qid", "qvec", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def aRecall(iters: Int): Int = {
      val pq = Similarity.pqTopKExact(adv, "vec_id", "embedding",
          aq, "qid", "qvec", k = 5, m = 4, codewords = 8, lloydIters = iters)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      aExact.count { case (q, n) => pq.getOrElse(q, Set.empty).contains(n) }
    }
    val aSeed = aRecall(0); val aRefined = aRecall(2)
    assert(aRefined == aExact.size,
      s"refined books must hit every cluster: $aRefined/${aExact.size}")
    assert(aRefined >= aSeed, s"refinement lost recall: $aRefined < $aSeed")
  }

  test("semantic dedup (SemDeDup): planted neighborhoods keep their lowest " +
      "id, cells bound the pair work, nCells=1 equals the all-pairs law") {
    import spark.implicits._
    // 6 tight semantic neighborhoods of 5 (ids interleaved so cell ids and
    // doc ids do not accidentally align) + 4 singletons far from everything
    def center(c: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == c * 2) 1.0f else 0.0f)
    def jitter(v: Array[Float], j: Int): Array[Float] =
      v.zipWithIndex.map { case (x, d) => x + ((j * 7 + d * 3) % 5) * 0.002f }
    val groups = for (c <- 0 until 6; j <- 0 until 5)
      yield (c + 10L * j, jitter(center(c), j)) // lowest member of group c = c
    val singles = (0 until 4).map(i =>
      (100L + i, Array.tabulate(16)(d =>
        if (d == (2 * i + 1) % 16) -1.0f else if (d == i) 0.6f else 0.0f)))
    val emb = (groups ++ singles).toDF("vec_id", "embedding")
    // nCells = 6: the 6 lowest ids ARE the neighborhood representatives,
    // so each neighborhood routes whole into its rep's cell (with more
    // cells than neighborhoods the surplus centroids SPLIT a neighborhood
    // — the documented SemDeDup cluster-split miss, exercised below by the
    // nCells=1 degenerate instead)
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
        nCells = 6, cosNum = 81, cosDen = 100) // cos ≥ 0.9
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    // each neighborhood keeps EXACTLY its lowest id; every other member is
    // a dup of that representative (greedy-by-id law)
    for (c <- 0 until 6; j <- 0 until 5) {
      val id = c + 10L * j
      if (j == 0) assert(out(id) == (false, None), s"rep $id dropped")
      else assert(out(id)._1 && out(id)._2.contains(c.toLong),
        s"member $id: ${out(id)}")
    }
    singles.foreach { case (id, _) =>
      assert(out(id) == (false, None), s"singleton $id dropped") }

    // the cells bound the pair work: Σ|cell|·(|cell|−1)/2 ≪ N·(N−1)/2
    val cells = Dedup.semanticDedup(emb, "vec_id", "embedding",
        nCells = 6, cosNum = 81, cosDen = 100)
      .groupBy("cell").count().collect().map(_.getLong(1))
    val workCells = cells.map(s => s * (s - 1) / 2).sum
    val n = emb.count()
    assert(workCells < n * (n - 1) / 2 / 2,
      s"cells did not bound the pair work: $workCells vs all-pairs " +
        s"${n * (n - 1) / 2}")

    // hot-cell cap: a degenerate corpus that is ONE semantic neighborhood
    // must not re-quadratize — with cellCap=16 a 200-doc cell shards into
    // ceil(200/16)=13 id-modulus groups, the join work is bounded by
    // Σ|shard|², and each shard keeps exactly one representative (its
    // lowest id) — bounded work for bounded over-retention
    locally {
      val degenerate = (0L until 200L).map(i => (i, jitter(center(0), 0)))
        .toDF("vec_id", "embedding")
      val capped = Dedup.semanticDedup(degenerate, "vec_id", "embedding",
        nCells = 4, cosNum = 81, cosDen = 100, cellCap = 16)
      val survivors = capped.where(!col("is_dup"))
        .collect().map(_.getLong(0)).toSet
      val nsh = math.ceil(200.0 / 16).toInt
      assert(survivors == (0L until nsh.toLong).toSet,
        s"each shard keeps its lowest id: $survivors")
      // every dropped doc's representative is its own-shard minimum
      capped.where(col("is_dup")).collect().foreach { r =>
        assert(r.getLong(3) == r.getLong(0) % nsh, r.toString)
      }
    }

    // nCells = 1 degenerates to the unrestricted all-pairs law: verdicts
    // must equal cosineDupPairs' greedy keep-lowest resolution
    val one = Dedup.semanticDedup(emb, "vec_id", "embedding",
        nCells = 1, cosNum = 81, cosDen = 100)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    val allPairs = Dedup.cosineDupPairs(emb, "vec_id", "embedding",
        cosNum = 81, cosDen = 100)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = emb.select("vec_id").collect().map(_.getLong(0)).map { id =>
      val dups = allPairs.filter(_._2 == id).map(_._1)
      id -> (if (dups.isEmpty) (false, None) else (true, Some(dups.min)))
    }.toMap
    assert(one == expect)
  }

  test("IVF Lloyd refinement: routing distortion decreases; full probe " +
      "stays exhaustive-exact; adversarial clustered seed recovers recall") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def quantArr(v: Seq[Float]): Seq[Long] =
      v.map(x => math.round(x.toDouble * 10000))
    val vecs = emb.select(col("embedding")).collect()
      .map(r => quantArr(r.getSeq[Float](0)))
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def distortion(iters: Int): Double = {
      val cent = Similarity.buildIvfIndexExact(emb, "vec_id", "embedding",
        nCells = 8, lloydIters = iters).centroids.map(_._2)
      vecs.map(v => cent.map(c => d2(v, c)).min.toDouble).sum
    }
    val d0 = distortion(0); val d3 = distortion(3)
    assert(d3 < d0, s"3 Lloyd iterations must cut routing distortion: $d3 !< $d0")

    // full probe is exhaustive regardless of centroids: refined and seed
    // indexes return the IDENTICAL exact top-k when every cell is probed
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def fullProbe(iters: Int) = Similarity.searchIvfIndexExact(
        Similarity.buildIvfIndexExact(emb, "vec_id", "embedding",
          nCells = 8, lloydIters = iters),
        queries, "qid", "qvec", k = 5, nprobe = 8)
      .orderBy("query_id", "rank").collect().toSeq
    assert(fullProbe(0) == fullProbe(2))

    // adversarial: the 8 lowest ids (the centroid seed) are one tight
    // clump while the true structure is 8 separated clusters — pruned
    // probing with the collapsed seed misroutes; refinement must recover
    def center(c: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == c * 2) 1.0f else 0.0f)
    def jitter(v: Array[Float], j: Int): Array[Float] =
      v.zipWithIndex.map { case (x, d) => x + ((j * 7 + d * 3) % 5) * 0.002f }
    val clump = (0L to 7L).map(i => (i, jitter(center(0), i.toInt + 60)))
    val clusters = for (c <- 0 until 8; j <- 0 until 10)
      yield (100L + c * 10 + j, jitter(center(c), j))
    val adv = (clump ++ clusters).toDF("vec_id", "embedding")
    val aq = clusters.filter(_._1 % 10 == 5).map(t => (t._1, t._2))
      .toDF("qid", "qvec")
    val aExact = Similarity.bruteForceTopK(adv, "vec_id", "embedding",
        aq, "qid", "qvec", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def aRecall(iters: Int): Int = {
      val got = Similarity.searchIvfIndexExact(
          Similarity.buildIvfIndexExact(adv, "vec_id", "embedding",
            nCells = 8, lloydIters = iters),
          aq, "qid", "qvec", k = 5, nprobe = 2)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      aExact.count { case (q, n) => got.getOrElse(q, Set.empty).contains(n) }
    }
    val aSeed = aRecall(0); val aRefined = aRecall(3)
    assert(aRefined == aExact.size,
      s"refined routing must hit every cluster: $aRefined/${aExact.size}")
    assert(aRefined >= aSeed, s"refinement lost recall: $aRefined < $aSeed")

    // IVF×PQ accepts the same knob: refined composed search stays a valid
    // subset of the refined ADC relation (both books + centroids move)
    val refined = Similarity.ivfPqTopKExact(adv, "vec_id", "embedding",
      aq, "qid", "qvec", k = 3, nCells = 8, nprobe = 2, m = 4, codewords = 8)
    assert(refined.count() > 0)
  }

  test("IVF×PQ: full probe equals plain PQ ADC; pruned probes are a " +
      "subset of the ADC relation with identical distances") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "adc_dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    // same codebook seed law (lowest-id rows) ⇒ probing ALL cells must
    // reproduce the un-routed PQ ADC top-k EXACTLY, rank for rank
    val pq = tuples(Similarity.pqTopKExact(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, m = 8, codewords = 16))
    val full = tuples(Similarity.ivfPqTopKExact(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, nCells = 16, nprobe = 16,
      m = 8, codewords = 16))
    assert(full == pq, "full-probe IVF×PQ must equal plain PQ ADC")
    // pruning: every returned pair must exist in the complete ADC relation
    // with the SAME distance (the router prunes candidates, never rescores)
    val complete = Similarity.pqTopKExact(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 100000, m = 8, codewords = 16)
      .select("query_id", "neighbor_id", "adc_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pruned = Similarity.ivfPqTopKExact(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, nCells = 16, nprobe = 2,
      m = 8, codewords = 16)
    val prunedRows = pruned.select("query_id", "neighbor_id", "adc_dist")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(prunedRows.nonEmpty)
    prunedRows.foreach { case (k2, adc) =>
      assert(complete.get(k2).contains(adc), s"pair $k2 adc drifted")
    }
  }

  test("IVF top-k: probing more cells recovers the brute-force top-1") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfAll = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 1, nCells = 8, nprobe = 8) // probe all cells
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivfAll == exact) // full probe == exhaustive search
    val ivfPruned = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 1, nCells = 8, nprobe = 2)
    assert(ivfPruned.count() > 0) // pruned search still returns hits
  }

  test("IVF k-means centroids: recall at least matches the sampled seed") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recall(iters: Int): Double = {
      val got = Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "qid", "qvec", k = 1, nCells = 8, nprobe = 2,
          kMeansIters = iters)
        .select("query_id", "neighbor_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.count { case (q, n) => got.get(q).contains(n) }.toDouble / exact.size
    }
    val sampled = recall(0)
    val kmeans = recall(2)
    assert(kmeans >= sampled, s"k-means recall $kmeans < sampled $sampled")
    // the Lloyd update must actually move the centroids off the seed sample
    val seed = emb.select(col("vec_id").cast("long"), col("embedding"))
      .orderBy("vec_id").limit(8).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val refined = Similarity.kMeansCentroids(emb, "embedding", seed, 1)
    assert(refined.map(_._1) == seed.map(_._1)) // stable cell ids
    assert(refined.exists { case (cid, v) =>
      v != seed.find(_._1 == cid).get._2 })
  }

  test("IVF seeding is a distributed top-k sample, not a global sort") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cands = Similarity.seedCandidates(emb, "vec_id", "embedding", 8)
    val plan = cands.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(500))
    // deterministic across invocations
    val a = cands.collect().map(_.getLong(0)).toSeq
    val b = Similarity.seedCandidates(emb, "vec_id", "embedding", 8)
      .collect().map(_.getLong(0)).toSeq
    assert(a == b && a.size == 32)
  }

  test("exact ANN variants: planted duplicate ranks first, IVF ⊆ brute force") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.where(col("vec_id") === 7)
      .select(col("embedding")).head().getSeq[Float](0)
    // a copy of vector 7 planted under a fresh id must be its rank-1 hit
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionAll(Seq((999999L, base)).toDF("vec_id", "embedding"))
    val q7 = planted.where(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def rank1(df: org.apache.spark.sql.DataFrame): Long =
      df.where(col("rank") === 1).head().getAs[Long]("neighbor_id")
    assert(rank1(Similarity.bruteForceTopKExact(
      planted, "vec_id", "embedding", q7, "qid", "qvec", k = 3)) == 999999L)
    assert(rank1(Similarity.lshTopKExact(
      planted, "vec_id", "embedding", q7, "qid", "qvec", k = 3)) == 999999L)
    assert(rank1(Similarity.ivfTopKExact(
      planted, "vec_id", "embedding", q7, "qid", "qvec", k = 3)) == 999999L)
    // IVF with pruning returns a subset of the exhaustive candidates; at
    // full probe it IS exhaustive — same neighbor set as brute force
    val bf = Similarity.bruteForceTopKExact(
        emb, "vec_id", "embedding", q7, "qid", "qvec", k = 5)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val ivfFull = Similarity.ivfTopKExact(
        emb, "vec_id", "embedding", q7, "qid", "qvec", k = 5,
        nCells = 16, nprobe = 16)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(ivfFull == bf)
  }

  test("dup clusters: min-label components over a chain + isolated vertex") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 1-2-3 (diameter 2, needs propagation), pair 4-5, isolated 9
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(docs, "doc_id", pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("dup clusters: pairsDistinct elision is label-identical; default path absorbs duplicates") {
    import spark.implicits._
    val docs = (1L to 30L).toDF("doc_id")
    // distinct strict-orientation pairs — the generator contract
    val rnd = new scala.util.Random(7)
    val clean = (1 to 40)
      .map(_ => (rnd.nextInt(30) + 1L, rnd.nextInt(30) + 1L))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct.toDF("id_a", "id_b")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = m(Dedup.dupClusters(docs, "doc_id", clean, "id_a", "id_b"))
    // elided-distinct label propagation and alternating variants agree
    assert(m(Dedup.dupClusters(docs, "doc_id", clean, "id_a", "id_b",
      pairsDistinct = true)) == base)
    assert(m(Dedup.dupClustersAlternating(docs, "doc_id", clean,
      "id_a", "id_b", pairsDistinct = true)) == base)
    // the DEFAULT (guarded) path still absorbs duplicated + mirrored input
    val dirty = clean.unionAll(clean)
      .unionAll(clean.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    assert(m(Dedup.dupClusters(docs, "doc_id", dirty, "id_a", "id_b")) == base)
    assert(m(Dedup.dupClustersAlternating(docs, "doc_id", dirty,
      "id_a", "id_b")) == base)
  }

  test("dup clusters raise on non-convergence instead of returning split labels") {
    import spark.implicits._
    // a 12-vertex path has diameter 11 > maxIter=3: propagation can't finish
    val n = 12L
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dupClusters(docs, "doc_id", pairs, "id_a", "id_b", maxIter = 3)
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same chain converges to one component
    val ok = Dedup.dupClusters(docs, "doc_id", pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(1)).distinct
    assert(ok.toSeq == Seq(1L))
  }

  test("alternating components: parity with label propagation, O(log n) rounds on chains") {
    import spark.implicits._
    // adversarial shape: one 64-node path (diameter 63) + a pair + isolates
    val n = 64L
    val docs = ((1L to n) ++ Seq(100L, 101L, 200L)).toDF("doc_id")
    val pairs = ((1L until n).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      .toDF("id_a", "id_b")
    val (alt, rounds) = graft.operators.Dedup.alternatingComponents(
      docs, "doc_id", pairs, "id_a", "id_b", maxIter = 25)
    val got = alt.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Dedup.dupClusters(docs, "doc_id", pairs, "id_a", "id_b",
      maxIter = 40).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // the whole point: far fewer rounds than the ~diameter/2 the
    // propagation loop needs on a 63-diameter path
    assert(rounds <= 10, s"expected O(log n) rounds, took $rounds")

    // random graph parity (fixed seed): many components, varied shapes
    val rnd = new scala.util.Random(11)
    val rdocs = (1L to 300L).toDF("doc_id")
    val rpairs = (1 to 250)
      .map(_ => (rnd.nextInt(300) + 1L, rnd.nextInt(300) + 1L))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val ra = graft.operators.Dedup.dupClustersAlternating(
        rdocs, "doc_id", rpairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rb = Dedup.dupClusters(rdocs, "doc_id", rpairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ra == rb)

    // empty pair set: every doc is its own singleton, zero rounds
    val (single, r0) = graft.operators.Dedup.alternatingComponents(
      rdocs, "doc_id", rpairs.limit(0), "id_a", "id_b", maxIter = 5)
    assert(r0 == 0 &&
      single.collect().forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("CC crossover: label-prop wins rounds on bushy graphs, alternating on chains") {
    import spark.implicits._
    // bushy shape — what MinHash/SimHash candidate pairs actually produce:
    // near-cliques around a hub, diameter 2. Label propagation converges
    // within ONE materialized round (two hops), so the per-round-cheaper
    // default is the right pick...
    val bushyDocs = (1L to 40L).toDF("doc_id")
    val bushyPairs = ((2L to 20L).map(h => (1L, h)) ++
      (22L to 40L).map(h => (21L, h))).toDF("id_a", "id_b")
    val bushy = Dedup.dupClusters(bushyDocs, "doc_id",
        bushyPairs, "id_a", "id_b", maxIter = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 20L).forall(bushy(_) == 1L) &&
      (21L to 40L).forall(bushy(_) == 21L))

    // ...while on a 63-diameter chain label-prop needs 32 rounds — at
    // maxIter=25 (50 hops) it must refuse rather than return split labels
    val chainDocs = (1L to 64L).toDF("doc_id")
    val chainPairs = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.dupClusters(chainDocs, "doc_id", chainPairs, "id_a", "id_b",
        maxIter = 25)
    }
    // the alternating variant closes the same chain in ≤ 10 rounds
    val (alt, altRounds) = graft.operators.Dedup.alternatingComponents(
      chainDocs, "doc_id", chainPairs, "id_a", "id_b", maxIter = 10)
    assert(altRounds <= 10 &&
      alt.collect().forall(_.getLong(1) == 1L))
  }

  test("embedding-cosine near-dup: identical and near vectors cluster") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9999f, 0.001f, 0.0f)), // ~identical to 1
      (3L, Array(0.0f, 1.0f, 0.0f)),      // orthogonal
      (4L, Array(-1.0f, 0.0f, 0.0f)))     // negative dot → never a dup
      .toDF("vec_id", "embedding")
    val pairs = Dedup.cosineDupPairs(emb, "vec_id", "embedding",
      cosNum = 9801, cosDen = 10000) // cos ≥ 0.99
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)))
    val clusters = Dedup.dupClusters(emb.select("vec_id"), "vec_id",
        pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("LSH embedding dedup: full recall on planted dups, no BNLJ, subset of all-pairs") {
    import spark.implicits._
    val dim = 64
    def vec(f: Int => Double): Array[Float] = Array.tabulate(dim)(i => f(i).toFloat)
    val base = vec(i => math.sin(i * 1.7) * 0.3)
    val near = vec(i => math.sin(i * 1.7) * 0.3 + (if (i == 0) 0.002 else 0.0))
    val planted = Seq(
      (1L, base), (2L, base),                       // identical — must collide
      (3L, near),                                   // near-identical
      (4L, vec(i => math.cos(i * 2.3) * 0.4)),      // unrelated
      (5L, vec(i => -math.sin(i * 1.7) * 0.3)))     // antipodal — never a dup
      .toDF("vec_id", "embedding")
    val all = Dedup.cosineDupPairs(planted, "vec_id", "embedding",
        cosNum = 9801, cosDen = 10000)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.cosineDupPairsLsh(planted, "vec_id", "embedding",
      cosNum = 9801, cosDen = 10000, dim = dim, bits = 6, tables = 4)
    val got = lsh.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // precision 1.0 by construction (threshold re-verified on candidates);
    // recall 1.0 on the planted near-identical cluster (identical vectors
    // share every bucket; the near vector's projections are deterministic)
    assert(got == all, s"lsh=$got allpairs=$all")
    // the candidate join must be a bucket equi-join, never all-pairs
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("LSH embedding dedup on the real corpus: subset of all-pairs, clusters feedable") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 200)
    val all = Dedup.cosineDupPairs(emb, "vec_id", "embedding", 4, 25)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.cosineDupPairsLsh(emb, "vec_id", "embedding", 4, 25)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(all), s"${lsh -- all} not in all-pairs")
    assert(lsh.nonEmpty) // collisions exist at this scale (deterministic planes)
    val clusters = Dedup.dupClusters(emb.select("vec_id"), "vec_id",
        Dedup.cosineDupPairsLsh(emb, "vec_id", "embedding", 4, 25),
        "id_a", "id_b")
    assert(clusters.count() == 200)
  }

  test("capPerKey keeps the k lowest sampling keys per key; WindowGroupLimit plan") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"grp${i % 4}"))
      .toDF("doc_id", "source")
    val out = Sampling.capPerKey(docs, "doc_id", "source", k = 5)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 20)
    // per group: exactly the 5 ids with the lowest sha-prefix keys — the
    // deterministic law, independently recomputed here
    val byGroup = (0L until 100L).groupBy(i => s"grp${i % 4}")
    def key(i: Long): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
    byGroup.foreach { case (g, ids) =>
      val expect = ids.sortBy(i => (key(i), i)).take(5).toSet
      assert(rows.filter(_._2 == g).map(_._1).toSet == expect, g)
    }
    // the rank filter must push down as WindowGroupLimit so no group is
    // ever fully buffered or fully shuffled
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(600))
  }

  test("bm25TopK ranks by the integer-exact law; broadcast + top-k plan") {
    import spark.implicits._
    // hand-computed law: N=3, Σdl=6, idf(x)=idf(y)=(3·100) div 2=150;
    // part = (idf·tf·22·Σdl) div (10·Σdl·tf + 3·Σdl + 9·dl·N)
    //   doc1 "x x y": x → 39600 div 219 = 180, y → 19800 div 159 = 124
    //   doc2 "y z":   y → 19800 div 132 = 150
    //   doc3 "x":     x → 19800 div 105 = 188
    val docs = Seq((1L, "x x y"), (2L, "y z"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq("x", "y"), k = 3)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 304L), (3L, 188L), (2L, 150L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
    assert(plan.contains("BroadcastExchange"), plan.take(600))
    assert(!plan.contains("SortMergeJoin"), plan.take(600))
  }

  test("LSH hot-bucket cap bounds the candidate set at O(n·cap) on a degenerate corpus") {
    import spark.implicits._
    // adversarial fixture: EVERY vector identical → without the cap, each of
    // the 4 tables holds one bucket of all n rows and the self-join emits
    // the full C(n,2) — quadratic in the hottest bucket, the exact failure
    // mode that regressed 3× on the round-10 embeddings and that kills the
    // plan at 100 TB
    val n = 400; val cap = 16
    val vecs = (0 until n).map(i => (i.toLong, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val capped = Dedup.cosineDupPairsLsh(vecs, "vec_id", "embedding",
      cosNum = 4, cosDen = 25, bits = 6, tables = 4, bucketCap = cap)
    val pairs = capped.count()
    // identical vectors all pass the cosine test, so output = candidate set
    val uncappedPairs = n.toLong * (n - 1) / 2
    assert(pairs > 0)
    assert(pairs <= n.toLong * cap * 4,
      s"candidate set $pairs exceeds O(n·cap·tables) bound")
    assert(pairs < uncappedPairs / 2,
      s"cap did not bite: $pairs of $uncappedPairs uncapped pairs")
    val plan = capped.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("hyperplane buckets expression matches the per-plane HOF formulation") {
    import spark.implicits._
    val dim = 64; val bits = 6; val tables = 4
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(dim)(d => (math.sin(i * 3.1 + d * 1.3) * 0.5).toFloat))
    }.toDF("id", "embedding")
    val quant = transform(col("embedding"),
      x => round(x.cast("double") * 10000).cast("long"))
    val base = vecs.select(col("id"), quant.as("v"))
    // the replaced formulation: one interpreted aggregate(zip_with) per plane
    val hofBuckets = (0 until tables).map { t =>
      (0 until bits).map { p =>
        val w = array((0 until dim).map(d =>
          lit(graft.codec.Hyperplane.planeSign(t, p, d))): _*)
        val proj = aggregate(zip_with(col("v"), w, (x, wc) => x * wc),
          lit(0L), (a, x) => a + x)
        when(proj > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce((a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) => a + b)
    }
    val got = base.select(col("id"),
        graft.functions.GraftFunctions.hyperplaneBuckets(col("v"), bits, tables).as("nb"),
        array(hofBuckets: _*).as("hb"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
  }

  test("shingle expression matches the chained-zip_with formulation (property)") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val alphabet = Seq("the", "Quick", "BROWN", "fox", "蓝色", "Straße",
      "ÅNGSTRÖM", "a1", "b-2", "")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ")
    val texts = (0 until 120).map { i =>
      val n = r.nextInt(8)
      (i.toLong, (0 until n).map(_ => alphabet(r.nextInt(alphabet.size)))
        .mkString(seps(r.nextInt(seps.size))))
    }.toDF("id", "text")
    for (n <- Seq(1, 2, 3)) {
      // the replaced column formulation, verbatim
      val words = split(Dedup.normalized(col("text")), " ")
      val old =
        if (n == 1) array_distinct(words)
        else {
          val chained = (1 until n).foldLeft(words) { (acc, k) =>
            zip_with(acc, slice(words, lit(k + 1), size(words)),
              (a, b) => concat(a, lit(" "), b))
          }
          array_distinct(
            when(size(words) < n, array(array_join(words, " ")))
              .otherwise(filter(chained, x => x.isNotNull)))
        }
      texts.select(col("id"), col("text"),
          Dedup.shingles(col("text"), n).as("nw"), old.as("ow"))
        .collect().foreach { row =>
          assert(row.getSeq[String](2) == row.getSeq[String](3),
            s"n=$n id=${row.getLong(0)} text=${row.getString(1).take(60)}")
        }
    }
  }

  test("hyperplane expression matches the HOF formulation on random vectors (property)") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    for (dim <- Seq(1, 3, 17, 64)) {
      val vecs = (0 until 40).map { i =>
        (i.toLong, Array.tabulate(dim) { _ =>
          r.nextInt(5) match {
            case 0 => 0L
            case 1 => -r.nextInt(20000).toLong
            case _ => r.nextInt(20000).toLong
          }
        })
      }.toDF("id", "v")
      val bits = 5; val tables = 3
      val hof = (0 until tables).map { t =>
        (0 until bits).map { p =>
          val w = array((0 until dim).map(d =>
            lit(graft.codec.Hyperplane.planeSign(t, p, d))): _*)
          val proj = aggregate(zip_with(col("v"), w, (x, wc) => x * wc),
            lit(0L), (a, x) => a + x)
          when(proj > 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce((a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) => a + b)
      }
      vecs.select(col("id"),
          graft.functions.GraftFunctions.hyperplaneBuckets(col("v"), bits, tables).as("nb"),
          array(hof: _*).as("hb"))
        .collect().foreach { row =>
          assert(row.getSeq[Long](1) == row.getSeq[Long](2),
            s"dim=$dim id=${row.getLong(0)}")
        }
    }
  }

  test("PII redaction: each pattern replaced, order keeps email intact from IP pass") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to a.b+c@mail-host.org today"),
      (2L, "server at 192.168.0.1 port 80"),
      (3L, "call +44-202-5550 now"),
      (4L, "u1@ex.co or 10.0.0.7 or +1-555-1234"),
      (5L, "clean text, nothing to scrub")).toDF("doc_id", "text")
    val got = TextAnalysis.piiCounts(df, "text")
      .select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("r"),
        col("n_email"), col("n_ip"), col("n_phone"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(got(1L) == (("write to <EMAIL> today", 1, 0, 0)))
    assert(got(2L) == (("server at <IP> port 80", 0, 1, 0)))
    assert(got(3L) == (("call <PHONE> now", 0, 0, 1)))
    assert(got(4L) == (("<EMAIL> or <IP> or <PHONE>", 1, 1, 1)))
    assert(got(5L) == (("clean text, nothing to scrub", 0, 0, 0)))
  }

  test("repetition ratio: looped text scores high, unique text zero, short text zero") {
    import spark.implicits._
    val df = Seq(
      (1L, "buy now " * 50),               // 2-word loop: few distinct trigrams
      (2L, (1 to 60).mkString(" ")),       // all-unique words: ratio 0
      (3L, "too short")                    // < n words: whole-doc window, 0
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), 3).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) > 0.9, s"looped doc scored ${got(1L)}")
    assert(got(2L) == 0.0)
    assert(got(3L) == 0.0)
  }

  test("decontamination: planted benchmark overlap, clean docs zero") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a quick brown fox appears"),     // shares 'quick brown fox'
      (2L, "entirely different words here"), // no overlap
      (3L, "the quick brown fox jumps over the lazy dog")) // full copy
      .toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, "text", "doc_id", bench, "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L)._2 == 1L) // exactly the shared trigram
    assert(got(2L)._2 == 0L && got(2L)._3 == 0.0)
    assert(got(3L)._2 == got(3L)._1 && got(3L)._3 == 1.0) // fully contaminated
  }

  test("sequence packing: pack sums bounded by budget + one straddler, deterministic") {
    import spark.implicits._
    val r = new scala.util.Random(5)
    val docs = (0 until 800).map(i => (i.toLong, (r.nextInt(200) + 1).toLong))
      .toDF("doc_id", "n_tok")
    val packed = TextAnalysis.packSequences(docs, "doc_id", "n_tok",
      budget = 512L, shards = 8)
    val sums = packed.groupBy("pack_id")
      .agg(sum("n_tokens").as("s"), max("n_tokens").as("m")).collect()
    sums.foreach { row =>
      assert(row.getLong(1) <= 512L + row.getLong(2),
        s"pack ${row.get(0)} overflows: ${row.getLong(1)}")
    }
    // every doc lands in exactly one pack; assignment is deterministic
    assert(packed.count() == 800)
    assert(packed.collect().toSet ==
      TextAnalysis.packSequences(docs, "doc_id", "n_tok", 512L, 8).collect().toSet)
  }

  test("as-of join: inclusive boundary, null before first right row, interleaving") {
    import spark.implicits._
    val left = Seq((1L, 5L, "l5"), (1L, 10L, "l10"), (1L, 20L, "l20"),
      (2L, 100L, "l100")).toDF("k", "lt", "lpay")
    val right = Seq((1L, 10L, "r10"), (1L, 15L, "r15"),
      (3L, 1L, "r1")).toDF("k", "rt", "rpay")
    val got = Temporal.asofJoin(left, right, Seq("k"), "lt", "rt")
      .select("k", "lt", "lpay", "rt", "rpay")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        r.getString(4))).toSet
    assert(got == Set(
      (1L, 5L, "l5", null, null),        // before any right row
      (1L, 10L, "l10", 10L, "r10"),      // equal timestamp IS visible
      (1L, 20L, "l20", 15L, "r15"),      // latest preceding
      (2L, 100L, "l100", null, null)))   // key with no right rows at all
  }

  test("as-of join: TimestampType orders on microseconds, not whole seconds") {
    import spark.implicits._
    // all events inside the same second — a seconds-granularity cast would
    // tie them and let the 10.6s right row leak into the 10.5s left row
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10.5"), "l"))
      .toDF("k", "lt", "lpay")
    val right = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10.2"), "r102"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10.6"), "r106"))
      .toDF("k", "rt", "rpay")
    val got = Temporal.asofJoin(left, right, Seq("k"), "lt", "rt")
      .select("rpay").collect().map(_.getString(0)).toSeq
    assert(got == Seq("r102"))
  }

  test("range join: boundary inclusivity, multi-bucket intervals, no nested-loop join") {
    import spark.implicits._
    val points = Seq((1L, 0L), (1L, 50L), (1L, 100L), (1L, 101L), (1L, 250L))
      .toDF("k", "t")
    val intervals = Seq((1L, 50L, 100L, "i1"), (1L, 0L, 240L, "wide"))
      .toDF("k", "s", "e", "tag")
    val got = Temporal.rangeJoinBucketed(points, intervals, Seq("k"),
      "t", "s", "e", bucketWidth = 7) // tiny buckets: 'wide' spans ~35
    val pairs = got.select("t", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pairs == Set(
      (50L, "i1"), (100L, "i1"),                    // both ends inclusive
      (0L, "wide"), (50L, "wide"), (100L, "wide"), (101L, "wide")))
    // exactly one match per (point, interval) even across many buckets
    assert(got.count() == pairs.size)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(600))
  }

  test("winnowing fingerprints: shared-run guarantee, window-min law vs " +
      "independent recomputation, hot-fp cut") {
    import spark.implicits._
    val run = (0 until 8).map(i => s"shared_r$i").mkString(" ") // 8 >= w+n-1=6
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"zeta eta $run theta iota kappa lambda"),
      (3L, "completely unrelated vocabulary with no overlap at all here"))
      .toDF("doc_id", "text")

    // independent recomputation of the fingerprint law: normalize, 3-gram
    // windows, sha63, 4-window minima, distinct — no engine involved
    def sha63(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest((s + ":0").getBytes("UTF-8"))
      def hex(off: Int) = (0 until 4).map(i =>
        f"${d(off + i) & 0xff}%02x").mkString
      ((java.lang.Long.parseLong(hex(0), 16) & 0x7fffffffL) << 32) |
        java.lang.Long.parseLong(hex(4), 16)
    }
    def fpsOf(text: String): Set[Long] = {
      val words = text.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
      val grams =
        if (words.length < 3) Seq(words.mkString(" "))
        else words.sliding(3).map(_.mkString(" ")).toSeq
      val hs = grams.map(sha63)
      (if (hs.length < 4) Seq(hs.min)
       else hs.sliding(4).map(_.min).toSeq).toSet
    }
    val got = TextAnalysis.winnowFingerprints(docs, "text", "doc_id")
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    Seq(1L, 2L, 3L).foreach { i =>
      val text = docs.where(col("doc_id") === i)
        .head().getString(1)
      assert(got(i) == fpsOf(text), s"doc $i")
    }
    // the paper's guarantee: an 8-token shared run (>= w+n-1) forces at
    // least one SHARED fingerprint between 1 and 2; doc 3 shares none
    assert(got(1L).intersect(got(2L)).nonEmpty)
    assert(got(1L).intersect(got(3L)).isEmpty)
    val pairs = TextAnalysis.winnowPairs(docs, "text", "doc_id",
        minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"pairs=$pairs")
    // hot-fp cut: a fingerprint present in EVERY doc of a flood is a
    // stopword-run minimum — with maxDf below the flood size the pair
    // generator emits nothing (bounded fan-out), with a high cut it
    // quadratically pairs; the cut is the documented trade
    val flood = (1 to 30).map(i => (i.toLong, "same same same same same x"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.winnowPairs(flood, "text", "doc_id",
      minShared = 1, maxDf = 10).count() == 0)
    assert(TextAnalysis.winnowPairs(flood, "text", "doc_id",
      minShared = 1, maxDf = 100).count() == 30L * 29 / 2)
  }

  test("html extract: block strip, entity order, density and min-length " +
      "boundaries exact, malformed markup rides the error channel") {
    import spark.implicits._
    import graft.operators.Web
    val docs = Seq(
      // kept prose + script/style/comment stripped + entity law: the
      // &amp;lt; arm must decode to the LITERAL "&lt;" (amp is replaced
      // last), &#39;/&nbsp; decode in place
      (1L, "<html><head><style>p{color:red}</style>" +
        "<script>var x = 1 < 2;</script></head><body>" +
        "<!-- header --><p>plain prose line with enough characters</p>" +
        "<p>Fish &amp; chips &amp;lt; &lt;b&gt; &#39;s&nbsp;done here</p>" +
        "</body></html>"),
      // density boundary EXACT: nt=20 nl=8 -> 8*5 = 20*2 -> dropped;
      // nt=20 nl=7 -> 35 < 40 -> kept
      (2L, "<p>aaaa <a href=\"/x\">abcdefgh</a> bbbbbb</p>" +
        "<p>aaaa <a href=\"/y\">abcdefg</a> bbbbbbb</p>"),
      // min-length boundary: 9 chars dropped, 10 kept
      (3L, "<p>12345678x</p><p>123456789x</p>"),
      // unterminated script -> error channel
      (4L, "<p>fine text line here</p><script>var broken = "),
      // unterminated comment -> error channel
      (5L, "<p>fine text line here</p><!-- trailing"),
      // closer inside a JS string literal: the non-greedy strip ends at
      // the false closer, the tail '";</script>' survives -> the stray-
      // closer mirror of the opener check routes it to the error channel
      (6L, "<p>fine text line here</p>" +
        "<script>var s = \"</script>\";</script>")
    ).toDF("doc_id", "html")
    val out = Web.htmlExtract(docs, "doc_id", "html").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(1))
    assert(out(1L).getString(3) ==
      "plain prose line with enough characters\n" +
        "Fish & chips &lt; <b> 's done here",
      out(1L).getString(3))
    assert(out(2L).getBoolean(1) &&
      out(2L).getString(3) == "aaaa abcdefg bbbbbbb")
    assert(out(3L).getBoolean(1) && out(3L).getString(3) == "123456789x" &&
      out(3L).getLong(4) == 2 && out(3L).getLong(5) == 1)
    Seq(4L, 5L, 6L).foreach { id =>
      assert(!out(id).getBoolean(1) &&
        out(id).getString(2).contains("unterminated") && out(id).isNullAt(3))
    }
    // map-only: no exchange, no join anywhere in the extraction plan
    val plan = Web.htmlExtract(docs, "doc_id", "html")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan.take(600))
  }

  test("c4 line dedup: lowest-doc ownership, in-doc first-position tie, " +
      "order-preserving rebuild, all-dup docs survive empty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a\nshared\nb"),
      (2L, "shared\nc\nshared"),   // both occurrences lose to doc 1
      (3L, "unique only"),
      (4L, "x\nx"),                 // in-doc repeat: first position wins
      (5L, "shared")                // ALL lines dup -> rebuilds empty
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a\nshared\nb", 3L, 0L)), out(1L))
    assert(out(2L) == (("c", 1L, 2L)), out(2L))
    assert(out(3L) == (("unique only", 1L, 0L)))
    assert(out(4L) == (("x", 1L, 1L)))
    assert(out(5L) == (("", 0L, 1L)))
  }

  test("bpe training: hand-derived merges on the classic corpus, greedy " +
      "overlap law, apply face segments new text") {
    import spark.implicits._
    // the canonical Sennrich-style corpus: low x5, lower x2, newest x6,
    // widest x3. Hand-derived first four merges:
    //   r1: (e,s) c=9  (ties (s,t) at 9, pair-asc tie-break)
    //   r2: (es,t) c=9
    //   r3: (l,o) c=7  (ties (o,w) at 7)
    //   r4: (lo,w) c=7
    val corpus = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val t = Bpe.train(corpus, "text", merges = 4)
    assert(t.rules == Seq(
      Bpe.MergeRule(0, "e s", 9L), Bpe.MergeRule(1, "es t", 9L),
      Bpe.MergeRule(2, "l o", 7L), Bpe.MergeRule(3, "lo w", 7L)), t.rules)
    val seg = t.vocab.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).toSeq).toMap
    assert(seg("low") == Seq("low"))
    assert(seg("lower") == Seq("low", "e", "r"))
    assert(seg("newest") == Seq("n", "e", "w", "est"))
    assert(seg("widest") == Seq("w", "i", "d", "est"))
    // apply face: a word NEVER SEEN in training segments with the learned
    // rules in rank order — "lowest" = low + est
    val applied = Bpe.segment(Seq((1L, "lowest")).toDF("doc_id", "text"),
        "text", t.rules).select("syms").head().getSeq[String](0).toSeq
    assert(applied == Seq("low", "est"), applied)
    // greedy left-to-right overlap law: merging (a,a) in "aaa" gives
    // [aa, a], never the overlapping [a, aa] or [aa, aa]
    val tiny = Seq((1L, "aa aa aaa")).toDF("doc_id", "text")
    val t2 = Bpe.train(tiny, "text", merges = 1)
    assert(t2.rules.head.pair == "a a" && t2.rules.head.pair_count == 4L)
    val seg2 = t2.vocab.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).toSeq).toMap
    assert(seg2("aaa") == Seq("aa", "a"))
    // vocabulary exhaustion fails loudly, never silently under-trains
    intercept[IllegalArgumentException] {
      Bpe.train(Seq((1L, "a b c")).toDF("doc_id", "text"), "text", 1)
    }
  }

  test("bpe alphabet-complete law: unicode/punctuation symbols train, the " +
      "escaped render survives its own special chars, case is preserved") {
    import spark.implicits._
    // words the old [a-z0-9] gate silently dropped: CJK merges FIRST
    // (highest count), then the apostrophe pair wins the c=2 tie by
    // pair-asc binary order ("' t" < "d o" < "n '" < "o n")
    val corpus = Seq((1L, "你好 你好 你好 don't don't"))
      .toDF("doc_id", "text")
    val t = Bpe.train(corpus, "text", merges = 2)
    assert(t.rules == Seq(
      Bpe.MergeRule(0, "你 好", 3L), Bpe.MergeRule(1, "' t", 2L)), t.rules)
    // the render law's OWN special chars as symbol content: merging
    // across '<', '>' and the escape char '~' must neither collide with
    // the separators nor corrupt neighbours
    def seg(word: String, rules: Seq[Bpe.MergeRule]): Seq[String] =
      Bpe.segment(Seq((1L, word)).toDF("doc_id", "text"), "text", rules)
        .select("syms").head().getSeq[String](0).toSeq
    assert(seg("a<b", Seq(Bpe.MergeRule(0, "a <", 1L))) == Seq("a<", "b"))
    assert(seg("~x~", Seq(Bpe.MergeRule(0, "~ x", 1L),
      Bpe.MergeRule(1, "~x ~", 1L))) == Seq("~x~"))
    assert(seg(">>", Seq(Bpe.MergeRule(0, "> >", 1L))) == Seq(">>"))
    // case preserved: "Low" and "low" are distinct vocabulary entries
    val cased = Bpe.train(Seq((1L, "Low low Low")).toDF("doc_id", "text"),
      "text", merges = 1)
    val words = cased.vocab.select("word").collect().map(_.getString(0)).toSet
    assert(words == Set("Low", "low"), words)
    // emoji (astral plane) is ONE symbol, not two surrogate halves
    assert(seg("😀ab", Seq(Bpe.MergeRule(0, "a b", 1L))) ==
      Seq("😀", "ab"))
  }

  test("bpe fused apply: bit-identical to the chained-projection law, " +
      "and K=1000 rules stay one plan node with bounded compile time") {
    import spark.implicits._
    // differential: the fused native expression vs the render/replace law
    // it replaces, over text exercising overlap, punctuation, the escape
    // chars and unicode
    val corpus = Seq((1L, "low lower lowest aaa don't a<b ~x~ 你好 😀ab"),
      (2L, "newest widest wide east aaa aa a"))
      .toDF("doc_id", "text")
    val trained = Bpe.train(
      Seq((1L, "low low low low low lower lower newest newest " +
        "newest newest newest newest widest widest widest aaa aaa don't"))
        .toDF("doc_id", "text"), "text", merges = 8)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[String])] =
      df.select(col("doc_id"), col("syms")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toSeq
    val fused = rows(Bpe.segment(corpus, "text", trained.rules))
    val chained = rows(Bpe.segmentChained(corpus, "text", trained.rules))
    assert(fused == chained, s"fused=$fused\nchained=$chained")
    // K=1000 stress (the r16 PQ-lesson methodology): a chained plan at
    // this depth is the Catalyst analysis blowup; the fused expression is
    // ONE node — plan + execute must complete in interactive time and the
    // rule cascade must apply fully (rule i merges the growing prefix
    // with the next 'x', so the word collapses to ONE symbol only if all
    // 1000 rules fired in rank order)
    val k = 1000
    val stressRules = (0 until k).map { i =>
      Bpe.MergeRule(i, ("a" + "x" * i) + " x", 1L)
    }
    val word = "a" + "x" * k
    val t0 = System.nanoTime()
    val out = Bpe.segment(Seq((1L, word)).toDF("doc_id", "text"),
      "text", stressRules)
    val segd = out.select("syms").head().getSeq[String](0).toSeq
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(segd == Seq(word), s"got ${segd.size} symbols")
    assert(elapsed < 30.0, s"K=$k fused apply took ${elapsed}s")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && plan.length < 20000,
      s"plan size ${plan.length}")
  }

  test("warc extract: record walk, case-insensitive field law, http strip, " +
      "and every error arm stops the parse with earlier records intact") {
    import spark.implicits._
    import graft.operators.Web
    val CRLF = "\r\n"
    def rec(hdrs: Seq[String], payload: String): String =
      "WARC/1.0" + CRLF + hdrs.map(_ + CRLF).mkString + CRLF +
        payload + CRLF + CRLF
    val http = "HTTP/1.1 200 OK" + CRLF + "Content-Type: text/html" +
      CRLF + CRLF + "<p>hello</p>"
    val good =
      rec(Seq("WARC-Type: warcinfo", "Content-Length: 4"), "info") +
        rec(Seq("WARC-Type: response",
          "WARC-Target-URI:   https://x.io/a  ",   // padded value trims
          "content-LENGTH: " + http.length),       // case-insensitive key
          http)
    val docs = Seq(
      (1L, good),
      (2L, "not a warc"),
      (3L, "WARC/1.0" + CRLF + "WARC-Type: x" + CRLF + "never ends"),
      (4L, rec(Seq("WARC-Type: metadata"), "x")),             // no CL
      (5L, rec(Seq("Content-Length: 12x"), "y")),             // bad CL
      (6L, "WARC/1.0" + CRLF + "Content-Length: 100" + CRLF + CRLF + "short"),
      (7L, good + "WARC/1.0" + CRLF + "Content-Length: 999" + CRLF + CRLF)
    ).toDF("doc_id", "warc")
    val out = Web.warcExtract(docs, "doc_id", "warc")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    val r10 = out((1L, 0))
    assert(r10.getAs[Boolean]("rec_ok") &&
      r10.getAs[String]("warc_type") == "warcinfo" &&
      r10.getAs[Long]("content_length") == 4L &&
      r10.getAs[String]("body") == "info")           // non-http passthrough
    val r11 = out((1L, 1))
    assert(r11.getAs[String]("target_uri") == "https://x.io/a" &&
      r11.getAs[Long]("http_status") == 200L &&
      r11.getAs[String]("body") == "<p>hello</p>", r11.toString)
    assert(out((2L, 0)).getAs[String]("error") == "missing WARC/1.0 header")
    assert(out((3L, 0)).getAs[String]("error") == "missing header terminator")
    assert(out((4L, 0)).getAs[String]("error") == "missing content-length")
    assert(out((5L, 0)).getAs[String]("error") == "missing content-length")
    assert(out((6L, 0)).getAs[String]("error") == "truncated record")
    // good records survive in front of a bad tail
    assert(out((7L, 1)).getAs[Boolean]("rec_ok") &&
      out((7L, 2)).getAs[String]("error") == "truncated record")
    // record cap: bounded loop, labeled — never a silent drop
    val capped = Web.warcExtract(docs.where(col("doc_id") === 1),
      "doc_id", "warc", maxRecords = 1).collect()
    assert(capped.length == 2 &&
      capped(1).getAs[String]("error") == "record cap exceeded")
    // map-only: one generator projection, no exchange, no join
    val plan = Web.warcExtract(docs, "doc_id", "warc")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan.take(400))
  }

  test("trigram back-off surprisal separates novel trigram structure the " +
      "bigram law scores identically") {
    import spark.implicits._
    // corpus engineered so EVERY bigram lands in the same flog2 bucket:
    // ab=ba=aa=bb=37, prefixes a.=b.=74 — so the bigram law charges every
    // doc exactly 1 bit/bigram and cannot tell R from D. R's trigrams are
    // corpus-common (aba/bab); D recombines the SAME common bigrams into
    // trigrams the corpus never repeats — only the trigram law sees it
    val bg = (1L to 8L).map(i => (i, "a b a b a b a b a")) ++
      (9L to 15L).map(i => (i, "a a a a a a")) ++
      (16L to 22L).map(i => (i, "b b b b b b"))
    val docs = (bg ++ Seq((100L, "a b a b a b a"),
      (101L, "a a b b a a b b a"))).toDF("doc_id", "text")
    val m2 = TextAnalysis.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("mean_millibits")).toMap
    val t3 = TextAnalysis.trigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("mean_millibits"), r.getAs[Long]("n_backoff")))).toMap
    // bigram law: blind — identical means
    assert(m2(100L) == 1000L && m2(101L) == 1000L, (m2(100L), m2(101L)))
    // trigram law: R is pure boilerplate (0 bits), D pays 3+ bits/trigram
    // with exactly one singleton riding the back-off arm
    assert(t3(100L) == ((0L, 0L)), t3(100L))
    assert(t3(101L) == ((3142L, 1L)), t3(101L))
  }

  test("gopher rules: each rule catches exactly its planted violator, " +
      "clean prose passes all seven") {
    import spark.implicits._
    val good = Array.fill(6)(
      "the quick brown fox jumps to be of and that have with")
      .mkString(" ") // 72 words, mean 3500 milli, 8 stopword hits
    val docs = Seq(
      (0L, good, "keep"),
      (1L, "short doc with the be", "r_words"),           // 5 words < 50
      (2L, (Array.fill(30)("a b c").mkString(" ") + " the be"),
        "r_mean_len"),                                    // mean 978 < 3000
      (3L, good + " # # # # # # # # #", "r_symbol"),      // 9/81 = 111 > 100
      (4L, Array.fill(10)(
        "• the quick brown fox jumps to be of and that have with")
        .mkString("\n"), "r_bullet"),                     // 1000 > 900
      (5L, Array.fill(10)(
        "the quick brown fox jumps to be of and that have with...")
        .mkString("\n"), "r_ellipsis"),                   // 1000 > 300
      (6L, (Array.fill(40)("123").mkString(" ") + " " + good.split(" ")
        .take(12).mkString(" ")), "r_alpha"),             // 230 < 800
      (7L, Array.fill(7)("quick brown fox jumps over lazy dog again")
        .mkString(" "), "r_stop")                         // 0 hits < 2
    ).toDF("doc_id", "text", "expect")
    val rules = Seq("r_words", "r_mean_len", "r_symbol", "r_bullet",
      "r_ellipsis", "r_alpha", "r_stop")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .join(docs.select("doc_id", "expect"), "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Boolean]("gopher_keep"),
      out(0L).toString)
    (1L to 7L).foreach { id =>
      val r = out(id)
      val expect = r.getAs[String]("expect")
      assert(!r.getAs[Boolean]("gopher_keep"), s"doc $id kept")
      rules.foreach { rule =>
        val v = r.getAs[Boolean](rule)
        assert(v == (rule != expect),
          s"doc $id: $rule=$v (violator is $expect): $r")
      }
    }
    // map-only: the whole family is column algebra over the scan
    val plan = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan.take(400))
  }

  test("gopher repetition: planted dup lines/paragraphs/ngrams trip their " +
      "rules, coverage is a position union, chars are codepoints") {
    import spark.implicits._
    val clean = (1 to 30).map(i => s"w$i").grouped(6)
      .map(_.mkString(" ")).mkString("\n")
    val dupLine = Seq("ax bx cx dx", "e1 f1 g1 h1", "ax bx cx dx",
      "i2 j2 k2 l2", "ax bx cx dx", "m3 n3 o3 p3", "ax bx cx dx",
      "q4 r4 s4 t4").mkString("\n") // 4/8 dup occurrences = 500 > 300
    val dupPara = (Seq.fill(2)("pa qa ra sa\nta ua va wa") ++
      Seq("xb yb zb ab\nbb cb db eb")).mkString("\n\n") // 2/3 = 666 > 300
    val top2 = ((1 to 12).map(i => s"u$i") ++
      Seq.fill(8)(Seq("foo", "bar")).flatten).mkString(" ")
    val dup5 = ("s1 s2 s3 s4 s5 s6 " + (1 to 18).map(i => s"z$i")
      .mkString(" ") + " s1 s2 s3 s4 s5 s6").split(" ").mkString(" ")
    // 𝄞a is 2 CODEPOINTS (3 UTF-16 units); line chars include the inner
    // space: dup lines carry 2·4 = 8 of 13 total cp -> 615; a
    // UTF-16-unit law would read 10/15 -> 666
    val uni = "𝄞a b\n𝄞a b\ncc dd"
    val docs = Seq((0L, clean), (1L, dupLine), (2L, dupPara), (3L, top2),
      (4L, dup5), (5L, uni), (6L, "one two three"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Boolean]("rep_keep"), out(0L).toString)
    assert(out(1L).getAs[Long]("dup_line_frac") == 500L &&
      !out(1L).getAs[Boolean]("r_dup_line_frac"))
    assert(out(2L).getAs[Long]("dup_para_frac") == 666L &&
      !out(2L).getAs[Boolean]("r_dup_para_frac"))
    assert(!out(3L).getAs[Boolean]("r_top2_char_frac"),
      out(3L).getAs[Long]("top2_char_frac").toString)
    // position union: the repeated 6-word phrase covers exactly its 12
    // word slots (2 occurrences x 6 words, overlapping 5/6-grams counted
    // once) = 24 chars of 24+45 = 347 mill
    assert(out(4L).getAs[Long]("dup5_char_frac") == 347L &&
      !out(4L).getAs[Boolean]("r_dup5_char_frac"))
    // codepoint law: the surrogate-pair word counts 2 chars, not 3
    assert(out(5L).getAs[Long]("dup_line_char_frac") == 615L,
      out(5L).toString)
    // fewer words than k: the k-gram slots stay 0 and pass
    assert(out(6L).getAs[Long]("dup10_char_frac") == 0L &&
      out(6L).getAs[Boolean]("rep_keep") ==
        (out(6L).getAs[Long]("top2_char_frac") <= 200L))
    // map-only: one fused projection, no exchange, no join
    val plan = TextAnalysis.gopherRepetition(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      plan.take(400))
  }

  test("paragraph dedup: corpus-wide first-seen owner at \\n\\n grain, " +
      "order-preserving rebuild, line grain unaffected") {
    import spark.implicits._
    val footer = "all rights reserved"
    val docs = Seq(
      (2L, s"unique two\n\nshared para\n\n$footer"),
      (1L, s"shared para\n\nunique one\n\n$footer"),
      (3L, s"$footer\n\nunique three")).toDF("doc_id", "text")
    val out = Dedup.dedupSegments(docs, "doc_id", "text", "\n\n")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_segments_dropped"))))
      .toMap
    // owners: 'shared para' and the footer both first-seen in doc 1
    assert(out(1L) == ((s"shared para\n\nunique one\n\n$footer", 0L)), out)
    assert(out(2L) == (("unique two", 2L)), out)
    assert(out(3L) == (("unique three", 1L)), out)
    // the same corpus at LINE grain dedups single lines instead
    val lines = Dedup.dedupLines(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_lines_dropped")).toMap
    assert(lines(1L) == 0L && lines(2L) == 2L && lines(3L) == 1L, lines)
  }

  test("chunk documents: window/stride boundaries, overlap, short and " +
      "empty docs, stable ids") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks -> 2 chunks
      (2L, (1 to 8).map(i => s"u$i").mkString(" ")),  // exactly window -> 1
      (3L, "a b c"),                                   // short -> 1
      (4L, "   ")).toDF("doc_id", "text")              // empty -> 1 empty
    val out = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
      window = 8, stride = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"))
        -> ((r.getAs[String]("chunk_text"), r.getAs[Long]("chunk_id"),
          r.getAs[Long]("n_chunk_tokens")))).toMap
    assert(out.size == 5, out.keys)
    assert(out((1L, 0))._1 == (1 to 8).map(i => s"t$i").mkString(" "))
    // overlap: chunk 1 starts at stride+1 = token 5
    assert(out((1L, 1))._1 == (5 to 10).map(i => s"t$i").mkString(" ") &&
      out((1L, 1))._3 == 6L)
    assert(out((1L, 1))._2 == 1000001L) // doc_id*1e6 + idx
    assert(out((2L, 0))._3 == 8L && !out.contains((2L, 1)))
    assert(out((3L, 0))._3 == 3L)
    assert(out((4L, 0))._1 == "" && out((4L, 0))._3 == 0L)
    // intra-row: explode only — no exchange, no join
    val plan = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 8, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      plan.take(400))
  }

  test("robots filter: group selection, merge, wildcard/anchor rules, " +
      "longest-match with allow tie-break, defaults") {
    import spark.implicits._
    val policy = Seq(
      "User-agent: GraftBot   # case-insensitive, comment stripped",
      "Disallow: /a",
      "Allow: /a/b",
      "",
      "User-agent: other",
      "Disallow: /",
      "",
      "User-agent: graftbot   # same agent again: groups MERGE",
      "Disallow: /c$",
      "Allow: /d*e").mkString("\n")
    val starOnly = "User-agent: *\nDisallow: /x\nAllow: /x # tie: allow wins"
    val noGroups = "# nothing here\nSitemap: https://e.com/s.xml"
    val cases = Seq(
      (0L, policy, "/a/q"),      // D|/a (first group)
      (1L, policy, "/a/b/c"),    // A|/a/b (longer allow)
      (2L, policy, "/c"),        // D|/c$ (merged group, anchored)
      (3L, policy, "/c2"),       // A| ($ anchor does NOT prefix-match)
      (4L, policy, "/dXXe/f"),   // A|/d*e (wildcard, prefix)
      (5L, starOnly, "/x/y"),    // A|/x (equal length: allow wins)
      (6L, starOnly, "/z"),      // A| (no rule matches)
      (7L, noGroups, "/any"),    // A| (no groups at all)
      (8L, policy, "/e"))        // A| (matched group, no matching rule)
      .toDF("doc_id", "robots", "path")
    val out = Web.robotsFilter(cases, "robots", "path", "graftbot")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("robots_verdict")).toMap
    assert(out(0L) == "D|/a" && out(1L) == "A|/a/b", out)
    assert(out(2L) == "D|/c$" && out(3L) == "A|", out)
    assert(out(4L) == "A|/d*e", out)
    assert(out(5L) == "A|/x" && out(6L) == "A|", out)
    assert(out(7L) == "A|" && out(8L) == "A|", out)
    // the exact group must SHADOW the * group, not merge with it
    val shadow = "User-agent: graftbot\nAllow: /\nUser-agent: *\nDisallow: /"
    val s2 = Web.robotsFilter(Seq((0L, shadow, "/p")).toDF(
      "doc_id", "robots", "path"), "robots", "path", "graftbot")
      .head().getAs[String]("robots_verdict")
    assert(s2 == "A|/", s2)
    // map-only: one fused projection, no exchange, no join
    val plan = Web.robotsFilter(cases, "robots", "path", "graftbot")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      plan.take(400))
  }

  test("psl registrable domain: wildcard, exception, longest-match, " +
      "default rule, bare suffix and IPv4 arms; rules ride as a literal map") {
    import spark.implicits._
    val rules = Seq("com", "co.uk", "uk", "ck", "*.ck", "!www.ck")
    val hosts = Seq(
      (0L, "a.example.com"),        // exact 'com' -> example.com
      (1L, "b.x.example.co.uk"),    // 'co.uk' beats 'uk' (most labels)
      (2L, "any.thing.ck"),         // '*.ck' beats 'ck' -> suffix thing.ck
      (3L, "www.ck"),               // exception beats '*.ck' -> www.ck
      (4L, "deep.host.unlisted"),   // implicit '*' -> host.unlisted
      (5L, "192.168.0.1"),          // IPv4 literal -> itself, null suffix
      (6L, "co.uk"),                // bare suffix -> itself
      (7L, "singlelabel"),          // 1 label, default rule -> itself
      (8L, "A.Example.COM")         // case-insensitive match, lc output
    ).toDF("doc_id", "host")
    val out = Web.registrableDomainPsl(hosts, "doc_id", "host", rules)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("psl_suffix"), r.getAs[String]("registrable_domain"))))
      .toMap
    assert(out(0L) == (("com", "example.com")))
    assert(out(1L) == (("co.uk", "example.co.uk")))
    assert(out(2L) == (("thing.ck", "any.thing.ck")))
    assert(out(3L) == (("ck", "www.ck")))
    assert(out(4L) == (("unlisted", "host.unlisted")))
    assert(out(5L) == ((null, "192.168.0.1")))
    assert(out(6L) == (("co.uk", "co.uk")))
    assert(out(7L) == (("singlelabel", "singlelabel")))
    assert(out(8L) == (("com", "example.com")))
    // scale shape (r21): the bounded rule table rides as a LITERAL map
    // and the prevailing-rule argmax is an intra-row array_max — the
    // whole law is map-only column algebra: no join of any kind, no
    // probe explode, no (id, host) aggregation exchange
    val plan = Web.registrableDomainPsl(hosts, "doc_id", "host", rules)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange")
      && !plan.contains("Generate"), plan.take(600))
  }

  test("dsir importance: target-vocab raw docs outrank off-domain docs, " +
      "mean cut keeps exactly the above-mean set, weights ride a broadcast") {
    import spark.implicits._
    // target stratum speaks {alpha..echo}; raw pool has one doc sharing
    // that vocabulary and two off-domain docs — the importance ratio law
    // must rank the in-domain raw doc strictly above both
    val docs = Seq(
      (0L, "alpha bravo charlie delta echo alpha bravo", true),
      (1L, "bravo charlie delta echo alpha charlie", true),
      (2L, "alpha bravo charlie delta echo", false),     // in-domain raw
      (3L, "omega zulu yankee xray whiskey victor", false),
      (4L, "quebec papa oscar november mike lima", false))
      .toDF("doc_id", "text", "is_target")
    val out = Classifier.dsirImportance(docs, "doc_id", "text",
      col("is_target"), dims = 1024)
    val byId = out.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("mean_millibits"), r.getAs[Boolean]("keep")))).toMap
    assert(byId(2L)._1 > byId(3L)._1 && byId(2L)._1 > byId(4L)._1, byId)
    // keep = mean cut, exactly: recompute the threshold by hand
    val ms = byId.values.map(_._1).toSeq
    val (sm, cnt) = (ms.sum, ms.size.toLong)
    byId.foreach { case (id, (m, keep)) =>
      assert(keep == (m * cnt >= sm), s"doc $id: m=$m keep=$keep")
    }
    // off-domain docs fall below the mean, in-domain raw doc above it
    assert(byId(2L)._2 && !byId(3L)._2 && !byId(4L)._2, byId)
    // scale shape (r21): the dims-bounded weight table rides as a dense
    // driver array over vector-form features — intra-row sparse dots, no
    // join anywhere in the selector (over this LocalRelation corpus
    // Catalyst may fold the dots away; the parquet-scan shape is pinned
    // by ExplainAudit's x_dsir_importance entry)
    val plan = Classifier.dsirImportance(docs, "doc_id", "text",
      col("is_target"), dims = 1024).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(500))
  }

  test("surprisal buckets: exact tercile cuts on the score domain, " +
      "boundary ties share a bucket, heavy mass collapses into head") {
    import spark.implicits._
    // even split: 3/3/3 distinct scores -> one score per bucket
    val even = (1L to 9L).map(i => (i, (i - 1) / 3 + 1)).toDF("id", "s")
    val be = TextAnalysis.surprisalBuckets(even, "id", "s")
      .collect().map(r => r.getAs[Long]("s") -> r.getAs[String]("ppl_bucket"))
    assert(be.toSet == Set(1L -> "head", 2L -> "middle", 3L -> "tail"), be.toSeq)
    // all-equal scores: everything is head (3·cum ≥ n at the only score)
    val flat = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)).toDF("id", "s")
    assert(TextAnalysis.surprisalBuckets(flat, "id", "s")
      .where(col("ppl_bucket") =!= "head").count() == 0)
    // mass at one score: the 5/7 block at s=7 crosses BOTH cuts, so 7 is
    // head and middle is empty — a score cut, not a row-rank cut (ntile
    // would have torn the tied block apart nondeterministically)
    val skew = (Seq((0L, 1L), (6L, 9L)) ++ (1L to 5L).map(i => (i, 7L)))
      .toDF("id", "s")
    val bs = TextAnalysis.surprisalBuckets(skew, "id", "s")
      .collect().map(r => r.getAs[Long]("s") -> r.getAs[String]("ppl_bucket"))
      .toSet
    assert(bs == Set(1L -> "head", 7L -> "head", 9L -> "tail"), bs)
    // scale shape (r21): the tercile cuts resolve on the driver from the
    // bounded score-domain histogram and reach the docs as plan LITERALS
    // — the assignment pass is map-only: no join, no window, no sort of
    // the doc frame anywhere
    val plan = TextAnalysis.surprisalBuckets(even, "id", "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"),
      plan.take(500))
  }

  test("batch perceptron: converges to zero mistakes on a separable " +
      "corpus, fixpoint is stable across extra rounds, ties predict -1") {
    import spark.implicits._
    // disjoint class vocabularies => linearly separable => w_1 = Σ y·x
    // already classifies everything (each bucket carries one sign),
    // provided no cross-class sha-bucket collision; dims=256 over 10
    // distinct words — verified by the all-correct assertion itself
    val pos = Seq("alpha bravo charlie delta echo",
      "bravo charlie alpha alpha", "echo delta delta bravo")
    val neg = Seq("omega zulu yankee xray whiskey",
      "zulu zulu omega yankee", "whiskey xray omega omega zulu")
    val docs = (pos.zipWithIndex.map { case (t, i) => (i.toLong, t, 1L) } ++
      neg.zipWithIndex.map { case (t, i) => (100L + i, t, -1L) })
      .toDF("doc_id", "text", "y")
    val (w3, feats) = Classifier.trainPerceptron(docs, "doc_id", "text",
      "y", dims = 256, rounds = 3)
    val scored = Classifier.scoreFeatures(feats, w3)
    assert(scored.where(!col("correct")).count() == 0)
    // fixpoint: once mistakes hit zero the update mass is zero, so more
    // rounds leave the weights bit-identical
    val (w1, _) = Classifier.trainPerceptron(docs, "doc_id", "text",
      "y", dims = 256, rounds = 1)
    val diff = w3.withColumnRenamed("w", "w3")
      .join(w1.withColumnRenamed("w", "w1"), Seq("bucket"), "full")
      .where(col("w3") =!= col("w1") || col("w3").isNull || col("w1").isNull)
    assert(diff.count() == 0, "weights moved after convergence")
    // tie convention: margin 0 predicts -1 (the margin-test side)
    val zeroFeats = Seq((7L, 1L, 3L, 2L), (7L, 1L, 5L, 1L))
      .toDF("doc_id", "y", "bucket", "tf")
    val zeroW = Seq((3L, 1L), (5L, -2L)).toDF("bucket", "w")
    val tie = Classifier.scoreFeatures(zeroFeats, zeroW).collect().head
    assert(tie.getAs[Long]("margin") == 0L &&
      tie.getAs[Long]("predicted") == -1L && !tie.getAs[Boolean]("correct"))
    // scale shape (r21): driver-trained weights are a dense driver array
    // and the features vector-form, so the margin is an intra-row
    // sparse_dot — MAP-ONLY: no weight join, no doc-grain aggregate, no
    // exchange at all (any of those would shuffle the corpus for a
    // <= dims-long vector)
    val plan = Classifier.scoreFeatures(feats, w3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("sparse_dot") && !plan.contains("Join") &&
      !plan.contains("Exchange"), plan.take(500))
  }

  test("vector-form perceptron rounds and scoring equal the exploded " +
      "row-form laws weight-for-weight and row-for-row (empty-doc arm)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie alpha", 1L),
      (2L, "omega zulu zulu", -1L),
      (3L, "alpha omega bravo zulu", 1L),
      (4L, "", -1L),                       // zero tokens: absent from scores
      (5L, "charlie charlie zulu", -1L),
      (6L, "   \t ", 1L))                  // whitespace only: absent too
      .toDF("doc_id", "text", "y")
    for (rounds <- Seq(1, 2, 3)) {
      // row-form: the pre-r21 exploded literal loop, kept as the pin
      val featsRow = Classifier.docFeatures(docs, "doc_id", "text", "y", 64)
        .localCheckpoint(true)
      val wRow = Classifier.perceptronRounds(featsRow, rounds, 64)
      val (wVec, featsVec) = Classifier.trainPerceptron(
        docs, "doc_id", "text", "y", dims = 64, rounds = rounds)
      assert(wVec.except(wRow).count() + wRow.except(wVec).count() == 0,
        s"weights diverged at rounds=$rounds")
      val sRow = Classifier.scoreFeatures(featsRow, wRow)
      val sVec = Classifier.scoreFeatures(featsVec, wVec)
      assert(sVec.except(sRow).count() + sRow.except(sVec).count() == 0,
        s"scores diverged at rounds=$rounds")
      // the empty/whitespace docs are absent from BOTH faces
      assert(sVec.where(col("doc_id").isin(4L, 6L)).count() == 0)
    }
  }

  test("nfc normalization: canonical composition laws, idempotence, and " +
      "composition-equal docs dedup identically after it") {
    import spark.implicits._
    val decomposed = "caf" + "é"     // e + combining acute
    val precomposed = "café"          // é
    val docs = Seq((1L, decomposed), (2L, precomposed),
      (3L, "가"), (4L, "ﬁ"), (5L, "plain ascii"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.nfcNormalize(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == precomposed && out(2L) == precomposed)
    assert(out(3L) == "가")            // jamo compose to 가
    assert(out(4L) == "ﬁ")            // ligature is NFC-stable
    assert(out(5L) == "plain ascii")
    // idempotence
    val twice = docs.select(TextAnalysis.nfcNormalize(
      TextAnalysis.nfcNormalize(col("text"))).as("n")).collect().map(_.getString(0))
    assert(twice.toSet == out.values.toSet)
    // the PURPOSE: byte-grain dedup is blind to composition differences
    // until the corpus normalizes — the same two texts are two "distinct"
    // docs raw, one doc after NFC
    assert(Dedup.exact(docs.where(col("doc_id") <= 2), "text", "doc_id")
      .count() == 2)
    val normed = docs.where(col("doc_id") <= 2)
      .select(col("doc_id"), TextAnalysis.nfcNormalize(col("text")).as("text"))
    val dd = Dedup.exact(normed, "text", "doc_id").collect()
    assert(dd.length == 1 &&
      dd.head.getLong(dd.head.fieldIndex("duplicate_count")) == 2)
  }

  test("url canonicalization: case/port/userinfo/fragment/tracking laws, " +
      "registrable domain longest-suffix match, invalid arm") {
    import spark.implicits._
    import graft.operators.Web
    val urls = Seq(
      (1L, "HTTPS://User:pw@WWW.Example.CO.UK:443/Path/Item?utm_source=x&id=7&REF=z#frag"),
      (2L, "http://a.b.example.com:8080"),
      (3L, "example.com/no-scheme"),
      (4L, "http://Example.com:80/?utm_campaign=only"),
      (5L, "https://intranet-host/x?a=1&a=2")).toDF("doc_id", "url")
    val out = Web.urlCanonicalize(urls, "url").collect()
      .map(r => r.getLong(0) -> r).toMap
    def canon(id: Long) = out(id).getString(out(id).fieldIndex("canonical_url"))
    def dom(id: Long) = out(id).getString(out(id).fieldIndex("registrable_domain"))
    def valid(id: Long) = out(id).getBoolean(out(id).fieldIndex("url_valid"))
    // scheme+host lowercase, userinfo gone, default 443 stripped, path
    // case preserved, utm_/ref params gone (key match is lowercase),
    // fragment gone
    assert(valid(1L) && canon(1L) == "https://www.example.co.uk/Path/Item?id=7")
    assert(dom(1L) == "example.co.uk") // longest suffix: co.uk beats uk
    // empty path becomes "/", non-default port survives
    assert(canon(2L) == "http://a.b.example.com:8080/")
    assert(dom(2L) == "example.com")
    assert(!valid(3L) && out(3L).isNullAt(out(3L).fieldIndex("canonical_url")))
    // default http port stripped; fully-tracked query drops its '?'
    assert(canon(4L) == "http://example.com/")
    // no matching suffix: host is its own registrable domain; repeated
    // non-tracking params keep order
    assert(canon(5L) == "https://intranet-host/x?a=1&a=2")
    assert(dom(5L) == "intranet-host")
  }

  test("linear quality classifier separates from the heuristic score on " +
      "planted docs; weights arrive as data") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and it was a good day for all of them to rest"),
      // stopword-free gibberish: the HEURISTIC passes it (no punct/digit
      // penalty fires), the linear model rejects it (the stopword feature
      // is decisive) — the separation a trained-shape classifier adds
      (2L, "zxqv wvut kjhg poiu mnbv qwer asdf zxcv tyui ghjk bnml eeee rrrr tttt"),
      (3L, "$$$ 111 222 333 444 %%% ### 555 666 777 888 999 000 @@@"))
      .toDF("doc_id", "text")
    val lin = TextAnalysis.qualityScoreLinear(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def keep(id: Long) = lin(id).getBoolean(lin(id).fieldIndex("keep"))
    val heur = TextAnalysis.qualityScore(docs, "text").collect()
      .map(r => r.getLong(0) ->
        r.getDouble(r.fieldIndex("quality_score"))).toMap
    assert(keep(1L) && heur(1L) >= 0.5)
    assert(!keep(2L) && heur(2L) >= 0.5,
      s"separation case: lin=${lin(2L)} heur=${heur(2L)}")
    assert(!keep(3L))
    // scaled-integer features are exact
    assert(lin(2L).getLong(lin(2L).fieldIndex("stop_mill")) == 0L)
    // custom weights are honored (flip the threshold: everything keeps)
    val loose = TextAnalysis.qualityScoreLinear(docs, "doc_id", "text",
      TextAnalysis.DefaultQualityWeights.updated("threshold", -100000L))
      .collect()
    assert(loose.forall(_.getBoolean(loose.head.fieldIndex("keep"))))
    // malformed weight maps fail loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.qualityScoreLinear(docs, "doc_id", "text",
        Map("w_bias" -> 1L))
    }
  }

  test("simhash pair join: pigeonhole recall equals brute force at ham<=3, " +
      "exact verify, hot-band shards bounded") {
    import spark.implicits._
    // a dup-rich planted corpus: identical pairs, near pairs (few swapped
    // tokens), and unrelated docs
    val docs = ((1 to 40).map { i =>
      val base = (0 until 30).map(t => s"g${i / 4}_w$t")
      // variant 1 clones variant 0 (an identical pair per group); variants
      // 2 and 3 swap a few tokens (near pairs); groups are unrelated
      val v = if (i % 4 == 1) 0 else i % 4
      val tweak = (0 until v).map(t => s"d${i}_x$t")
      (i.toLong, (base.drop(v) ++ tweak).mkString(" "))
    }).toDF("doc_id", "text")
    val got = Dedup.simHashDupPairs(docs, "text", "doc_id", maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force ground truth off the same fingerprints
    val fps = docs.select(col("doc_id"),
        Dedup.simHash64(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib, h)).toSet
    // pigeonhole: with every (band, key) group under the cap the recall is
    // EXACT, and the popcount verify admits no false positives
    assert(got == truth, s"got ${got.size} truth ${truth.size}")
    assert(truth.nonEmpty && truth.exists(_._3 == 0) && truth.exists(_._3 > 0))
    // a flood of identical docs exercises the hot-band shard law: work
    // stays bounded and the verify still reports hamming 0 pairs
    val flood = (1 to 300).map(i => (i.toLong, "same same same text"))
      .toDF("doc_id", "text")
    val floodPairs = Dedup.simHashDupPairs(flood, "text", "doc_id",
      maxHam = 3, bucketCap = 16)
    assert(floodPairs.where(col("hamming") === 0).count() > 0)
    // CLUSTER-level recall under the flood (the documented trade): with
    // every band hot and sharded, a specific pair may split in all four
    // id partitions — but each doc still pairs with its same-shard
    // co-members, so every doc appears in the pair set and the transitive
    // closure re-merges the flood into ONE component
    val touched = floodPairs.select(col("id_a").as("id"))
      .unionAll(floodPairs.select(col("id_b").as("id")))
      .distinct().count()
    assert(touched == 300, s"only $touched of 300 flood docs paired")
    val floodClusters = Dedup.dupClusters(flood, "doc_id",
      floodPairs, "id_a", "id_b")
    assert(floodClusters.select("cluster_id").distinct().count() == 1)
    // shard law caps the per-key join width: no (band, key, shard) group
    // may exceed ~3x the cap (id-modulus shards of a striped id space)
    val fp0 = Dedup.simHash64(lit("same same same text"))
    val maxShard = flood.select(col("doc_id").as("id"), fp0.as("fp"))
      .select(col("id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          call_function("shiftrightunsigned", col("fp"), lit(b * 16))
            .bitwiseAND(lit(65535L)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"),
        pmod(expr("id div (band + 1)"),
          greatest(lit(1L), ceil(lit(300) / 16.0).cast("long"))).as("shard"))
      .groupBy("band", "key", "shard").count()
      .agg(max("count")).head().getLong(0)
    assert(maxShard <= 48, s"hot-band shard of $maxShard exceeds 3x cap")
    // the pigeonhole precondition is enforced
    intercept[IllegalArgumentException] {
      Dedup.simHashDupPairs(docs, "text", "doc_id", maxHam = 4)
    }
  }

  test("multimodal resize + feature extraction: real pixels, error channel, ANN-composable") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image/png", MultimodalFixtures.patternPng(1)),
      Multimodal.MediaRow(2L, "image/png", MultimodalFixtures.patternPng(2)),
      Multimodal.MediaRow(3L, "image/png", Array.empty[Byte]),
      Multimodal.MediaRow(4L, "audio/wav", MultimodalFixtures.wavBytes(4))).toDS()
    val resized = Multimodal.resize(media, 64, 48).collect()
      .map(r => r.media_id -> r).toMap
    assert(resized(1L).resize_ok)
    assert(!resized(3L).resize_ok && resized(3L).error == "empty payload")
    // non-image payloads ride the error channel at the resize gate
    assert(!resized(4L).resize_ok && resized(4L).error.contains("wav"))
    // the resized payload is a REAL 64x48 PNG whose pixels obey the exact
    // nearest-neighbor law over the planted pattern
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized(1L).resized_bytes))
    assert(img.getWidth == 64 && img.getHeight == 48)
    val (sw, sh) = (MultimodalFixtures.patternWidth(1), MultimodalFixtures.patternHeight(1))
    for (y <- 0 until 48; x <- 0 until 64) {
      val (sx, sy) = (x * sw / 64, y * sh / 48)
      val expected = ((((sx * 7 + sy * 13 + 31) % 256) << 16) |
        (((sx * 11 + sy * 3 + 17) % 256) << 8) | ((sx * 5 + sy * 19 + 41) % 256))
      assert((img.getRGB(x, y) & 0xFFFFFF) == expected, s"pixel ($x,$y)")
    }
    // deterministic: same payload on rerun
    assert(Multimodal.resize(media, 64, 48).collect()
      .find(_.media_id == 1L).get.resized_bytes
      .sameElements(resized(1L).resized_bytes))

    val feats = Multimodal.extractFeatures(media, dim = 16).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).feature_ok && feats(1L).embedding.length == 16)
    assert(!feats(3L).feature_ok) // empty payload: error channel
    // WAV rides the AUDIO feature arm: 16 time windows of Σ sample² over
    // the planted PCM formula, L2-normalized — verified against a scalar
    // replay of the law (frames=1040, 1 channel for id 4)
    assert(feats(4L).feature_ok && feats(4L).embedding.length == 16)
    locally {
      val frames = MultimodalFixtures.wavFrames(4)
      val channels = MultimodalFixtures.wavChannels(4)
      val sums = new Array[Long](16)
      for (f <- 0 until frames; c <- 0 until channels) {
        val s = MultimodalFixtures.wavSample(4L, f, c).toLong
        sums(f * 16 / frames) += s * s
      }
      val norm = math.sqrt(sums.map(s => s.toDouble * s).sum)
      val expected = sums.map(s => (s / norm).toFloat)
      assert(feats(4L).embedding.sameElements(expected),
        s"audio embedding drifted: ${feats(4L).embedding.toSeq} vs " +
          s"${expected.toSeq}")
    }
    // unit norm (grid-luminance embedding lands on the sphere)
    val n1 = math.sqrt(feats(1L).embedding.map(x => x.toDouble * x).sum)
    assert(math.abs(n1 - 1.0) < 1e-5)
    // first cell = sum of r+g+b over the top-left grid cell of the REAL image
    val src = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(MultimodalFixtures.patternPng(1)))
    var cell0 = 0L
    for (y <- 0 until sh if y * 4 / sh == 0; x <- 0 until sw if x * 4 / sw == 0) {
      val rgb = src.getRGB(x, y)
      cell0 += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
    }
    val sums = Multimodal.gridLuminance(src, 4)
    assert(sums(0) == cell0)
    // composes with the ANN operator: two images + one WAV embed into the
    // same space, k=1 self-excluded
    val fdf = Multimodal.extractFeatures(media, dim = 16).toDF()
      .where(col("feature_ok"))
    val topk = Similarity.bruteForceTopK(fdf, "media_id", "embedding",
      fdf.select(col("media_id").as("qid"), col("embedding").as("qvec")),
      "qid", "qvec", k = 1)
    assert(topk.where(col("rank") === 1).count() == 3)
  }

  test("video frame features: lossless indexed-GIF roundtrip, planted " +
      "frame-law sums at the frame grain, stride sampling, error channel") {
    import spark.implicits._
    val i = 8L // w=16, h=32, frames=5 under the video fixture laws
    val w = MultimodalFixtures.videoWidth(i)
    val h = MultimodalFixtures.videoHeight(i)
    val nf = MultimodalFixtures.videoFrameCount(i)
    assert((w, h, nf) == (16, 32, 5))
    // planted ground truth: per-frame 4x4 grid-luminance sums straight off
    // the palette + index laws, no codec involved
    def expectedSums(f: Int): Array[Long] = {
      val sums = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w) {
        val p = MultimodalFixtures.videoPixelIndex(i, f, x, y)
        val lum = MultimodalFixtures.videoPaletteR(i, p) +
          MultimodalFixtures.videoPaletteG(i, p) +
          MultimodalFixtures.videoPaletteB(i, p)
        sums((y * 4 / h) * 4 + (x * 4 / w)) += lum
      }
      sums
    }
    val media = Seq(
      Multimodal.MediaRow(i, "video/gif", MultimodalFixtures.videoGif(i)),
      Multimodal.MediaRow(99L, "application/octet-stream",
        "junk-bytes".getBytes("UTF-8"))).toDS()
    // frame grain: stride 2 samples frames 0, 2, 4 of the 5
    val rows = Multimodal.videoFrameFeatures(media, dim = 16, stride = 2)
      .collect().groupBy(_.media_id)
    val ok = rows(i).sortBy(_.frame_idx)
    assert(ok.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(ok.forall(r => r.feature_ok && r.n_frames == nf))
    // the GIF roundtrip is LOSSLESS for indexed frames: decoded sums equal
    // the planted law exactly
    ok.foreach(r =>
      assert(r.cell_sums.toSeq == expectedSums(r.frame_idx).toSeq,
        s"frame ${r.frame_idx}"))
    val bad = rows(99L)
    assert(bad.length == 1 && !bad.head.feature_ok &&
      bad.head.error.contains("no JDK reader"))
    // an offset/disposal animation stores SUB-canvas delta frames: grid
    // sums over the delta region would be silently wrong embeddings, so
    // the payload must ride the error channel, never feature_ok
    val subMedia = Seq(Multimodal.MediaRow(7L, "video/gif",
      MultimodalFixtures.subCanvasGif(7))).toDS()
    val subRows = Multimodal.videoFrameFeatures(subMedia, dim = 16, stride = 1)
      .collect()
    assert(subRows.length == 1 && !subRows.head.feature_ok &&
      subRows.head.error.contains("sub-canvas"), subRows.head.error)
    val subFeats = Multimodal.videoFeatures(subMedia, dim = 16, stride = 1)
      .collect()
    assert(subFeats.length == 1 && !subFeats.head.feature_ok &&
      subFeats.head.error.contains("sub-canvas"))
    // the guard inspects EVERY frame, not just sampled ones: with
    // stride 2 the 2-frame fixture samples only frame 0, but the delta
    // frame between strides still proves compositing is needed — the
    // sampled frames are wrong too, so the payload must still error
    val subStride2 = Multimodal.videoFeatures(subMedia, dim = 16, stride = 2)
      .collect()
    assert(subStride2.length == 1 && !subStride2.head.feature_ok &&
      subStride2.head.error.contains("sub-canvas"))
    // the dimension check is NOT enough: encoders commonly emit delta
    // frames that are FULL-canvas with transparent holes + doNotDispose —
    // the metadata guard (GraphicControlExtension transparent flag on a
    // frame after 0) must route the payload to the error channel
    val transMedia = Seq(Multimodal.MediaRow(8L, "video/gif",
      MultimodalFixtures.transparentDeltaGif(8))).toDS()
    val transRows = Multimodal.videoFrameFeatures(transMedia,
      dim = 16, stride = 1).collect()
    assert(transRows.length == 1 && !transRows.head.feature_ok &&
      transRows.head.error.contains("transparent"), transRows.head.error)
    // media grain: the embedding is normalize(sum of the SAMPLED frames)
    val feats = Multimodal.videoFeatures(media, dim = 16, stride = 2)
      .collect().map(r => r.media_id -> r).toMap
    val total = Seq(0, 2, 4).map(expectedSums)
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    val norm = math.sqrt(total.map(s => s.toDouble * s.toDouble).sum)
    assert(feats(i).feature_ok &&
      feats(i).embedding.toSeq == total.map(s => (s / norm).toFloat).toSeq)
    assert(!feats(99L).feature_ok)
  }

  test("multimodal checked-in fixtures decode pixel-exact via the real JDK codecs") {
    import spark.implicits._
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/media/$name")
      try in.readAllBytes() finally in.close()
    }
    // the committed PNG decodes to EXACTLY the planted pixel formula
    val png = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(fixture("pattern_0.png")))
    assert(png.getWidth == 16 && png.getHeight == 16)
    for (y <- 0 until 16; x <- 0 until 16) {
      val expected = (((x * 7 + y * 13) % 256) << 16) |
        (((x * 11 + y * 3) % 256) << 8) | ((x * 5 + y * 19) % 256)
      assert((png.getRGB(x, y) & 0xFFFFFF) == expected, s"pixel ($x,$y)")
    }
    // every container class through the Spark decode path
    val media = Seq(
      Multimodal.MediaRow(0L, "image/png", fixture("pattern_0.png")),
      Multimodal.MediaRow(1L, "image/jpeg", fixture("solid_1.jpg")),
      Multimodal.MediaRow(2L, "image/gif", fixture("anim_2.gif")),
      Multimodal.MediaRow(3L, "audio/wav", fixture("tone_3.wav")),
      Multimodal.MediaRow(5L, "image/png", fixture("truncated_5.png"))).toDS()
    val out = Multimodal.decode(media).collect().map(d => d.media_id -> d).toMap
    assert(out(0L).decode_ok && out(0L).width == 16 && out(0L).height == 16 &&
      out(0L).n_frames == 1)
    assert(out(1L).decode_ok && out(1L).width == 24 && out(1L).height == 24)
    assert(out(2L).decode_ok && out(2L).width == 32 && out(2L).height == 32 &&
      out(2L).n_frames == 4) // animated: 2 + (2 % 4) planted frames
    assert(out(3L).decode_ok && out(3L).n_frames == 1030 &&
      out(3L).sample_rate == 8000 && out(3L).channels == 2)
    assert(!out(5L).decode_ok && out(5L).error == "corrupt png: IIOException")

    // the committed WAV's SAMPLES obey the planted tone formula: the audio
    // feature arm (real javax.sound PCM decode) reproduces the scalar
    // energy-law replay exactly
    val wavFeat = Multimodal.extractFeatures(
        Seq(Multimodal.MediaRow(3L, "audio/wav", fixture("tone_3.wav"))).toDS(),
        dim = 16).collect().head
    assert(wavFeat.feature_ok)
    val sums = new Array[Long](16)
    for (f <- 0 until 1030; c <- 0 until 2) {
      val s = MultimodalFixtures.wavSample(3L, f, c).toLong
      sums(f * 16 / 1030) += s * s
    }
    val norm = math.sqrt(sums.map(s => s.toDouble * s).sum)
    assert(wavFeat.embedding.sameElements(sums.map(s => (s / norm).toFloat)))
  }

  test("inverse mixture: smallest stratum kept whole, others flattened, deterministic") {
    import spark.implicits._
    val df = ((0 until 3200).map(i => (i.toLong, "big")) ++
      (3200 until 3600).map(i => (i.toLong, "mid")) ++
      (3600 until 3700).map(i => (i.toLong, "small")))
      .toDF("doc_id", "lang")
    val kept = Sampling.inverseMixture(df, "doc_id", "lang")
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest stratum survives whole; the rest converge to ~its size
    assert(byLang("small") == 100L)
    assert(math.abs(byLang("big") - 100L) < 40, byLang.toString)
    assert(math.abs(byLang("mid") - 100L) < 40, byLang.toString)
    // deterministic: same rows on a rerun
    assert(kept.collect().toSet ==
      Sampling.inverseMixture(df, "doc_id", "lang").collect().toSet)
  }

  test("temperature mixture (α = 1/2): kept mass ∝ √(natural mass) — " +
      "between natural and uniform; smallest stratum whole; deterministic") {
    import spark.implicits._
    // counts 100 / 400 / 2500 → k = 10 / 20 / 50 → rates 1 / 0.5 / 0.2 →
    // expected kept 100 / 200 / 500 (∝ √c × k_min, the α = 1/2 law)
    val df = ((0 until 100).map(i => (i.toLong, "small")) ++
      (1000 until 1400).map(i => (i.toLong, "mid")) ++
      (10000 until 12500).map(i => (i.toLong, "big")))
      .toDF("doc_id", "lang")
    val kept = Sampling.temperatureMixture(df, "doc_id", "lang")
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("small") == 100L, byLang.toString)
    assert(math.abs(byLang("mid") - 200L) < 50, byLang.toString)
    assert(math.abs(byLang("big") - 500L) < 80, byLang.toString)
    // strictly BETWEEN the two neighboring laws: big keeps more than the
    // uniform inverse mixture (~100) and less than natural (2500)
    val inv = Sampling.inverseMixture(df, "doc_id", "lang")
      .where(col("lang") === "big").count()
    assert(inv < byLang("big") && byLang("big") < 2500L,
      s"flattening order broken: inverse $inv, temperature ${byLang("big")}")
    // deterministic: same rows on a rerun
    assert(kept.collect().toSet ==
      Sampling.temperatureMixture(df, "doc_id", "lang").collect().toSet)
    // over-bound stratum fails loudly (the exact-isqrt license)
    intercept[IllegalArgumentException] {
      Sampling.temperatureMixture(df, "doc_id", "lang", maxCount = 1000L)
        .collect()
    }
  }

  test("inverse mixture: over-bound stratum fails loudly; sharded variant scales the law") {
    import spark.implicits._
    val df = ((0 until 3200).map(i => (i.toLong, "big")) ++
      (3200 until 3600).map(i => (i.toLong, "mid")) ++
      (3600 until 3700).map(i => (i.toLong, "small")))
      .toDF("doc_id", "lang")
    // the documented error pathway, exercised via the testable bound (the
    // real one is 2^31 — not plantable): 'big' exceeds maxCount
    val ex = intercept[IllegalArgumentException] {
      Sampling.inverseMixture(df, "doc_id", "lang", maxCount = 1000L).collect()
    }
    assert(ex.getMessage.contains("inverseMixtureSharded"))

    // the sharded variant runs where the global law would overflow: each
    // per-(shard, stratum) count is under the bound, the mixture still
    // flattens, and the smallest stratum survives whole in every shard
    val kept = Sampling.inverseMixtureSharded(df, "doc_id", "lang",
      shards = 4, maxCount = 1000L)
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("small") == 100L, byLang.toString)
    assert(math.abs(byLang("big") - 100L) < 48, byLang.toString)
    assert(math.abs(byLang("mid") - 100L) < 48, byLang.toString)
    // deterministic and shard-stable: same rows on a rerun
    assert(kept.collect().toSet == Sampling.inverseMixtureSharded(
      df, "doc_id", "lang", shards = 4, maxCount = 1000L).collect().toSet)
    // a shard count too small to duck the bound still fails loudly
    intercept[IllegalArgumentException] {
      Sampling.inverseMixtureSharded(df, "doc_id", "lang",
        shards = 2, maxCount = 1000L).collect()
    }
  }

  test("IVF index: build once, search many, survives a parquet roundtrip") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q1 = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val q2 = emb.where(col("vec_id").between(5, 9))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val fused = Similarity.ivfTopKExact(emb, "vec_id", "embedding",
      q1, "qid", "qvec", k = 5).collect().toSet

    val idx = Similarity.buildIvfIndexExact(emb, "vec_id", "embedding")
    val viaIndex = Similarity.searchIvfIndexExact(idx, q1, "qid", "qvec", k = 5)
    assert(viaIndex.collect().toSet == fused)
    // second query batch over the SAME index
    assert(Similarity.searchIvfIndexExact(idx, q2, "qid", "qvec", k = 5)
      .select("query_id").distinct().count() == 5)

    // the inverted file is plain tabular state: persist + reload + search
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    idx.assigned.write.mode("overwrite").parquet(dir)
    val reloaded = Similarity.IvfIndexExact(idx.centroids,
      spark.read.parquet(dir))
    assert(Similarity.searchIvfIndexExact(reloaded, q1, "qid", "qvec", k = 5)
      .collect().toSet == fused)
  }

  test("sessionize: gap merge, exact-gap boundary starts a new session") {
    import spark.implicits._
    val t0 = 1700000000000000L // µs
    val gapUs = 30L * 60 * 1000000
    val events = Seq(
      (1L, t0),                 // session A
      (1L, t0 + gapUs - 1),     // still A (just inside)
      (1L, t0 + 2 * gapUs - 1), // still A (chained: < gap after previous)
      (1L, t0 + 3 * gapUs - 1 + gapUs), // exactly gap after last → NEW session B
      (2L, t0))                 // other user, own session
      .toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("event_time"))
    val got = Sessionize.sessions(events, "user_id", col("event_time"), "30 minutes")
      .select("user_id", "n_events", "session_start_us", "session_end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._3))
    assert(got.toSeq == Seq(
      (1L, 3L, t0, t0 + 2 * gapUs - 1),
      (1L, 1L, t0 + 4 * gapUs - 1, t0 + 4 * gapUs - 1),
      (2L, 1L, t0, t0)))
  }

  test("salted join: identical rows to the plain join, shuffle keyed on (key, salt)") {
    import spark.implicits._
    // 900 of 1000 probe rows hit one hot key
    val probe = (0 until 1000).map { i =>
      (i.toLong, if (i < 900) 7L else (i % 5).toLong, s"p$i")
    }.toDF("row_id", "k", "payload")
    val build = Seq((7L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
      (3L, "d"), (4L, "e")).toDF("k", "dim")
    val plain = probe.join(build, Seq("k"))
      .select("row_id", "k", "payload", "dim").collect().toSet
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val salted = Skew.saltedJoin(probe, build, Seq("k"), "row_id", salts = 8)
        .select("row_id", "k", "payload", "dim")
      assert(salted.collect().toSet == plain)
      // the exchange must partition on BOTH the key and the salt — that is
      // the whole point: the hot key's rows spread over `salts` reducers
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), plan.take(600))
      assert(!plan.contains("BroadcastHashJoin"), plan.take(600))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("salted distinct count: exact under value sharding, any salt count") {
    import spark.implicits._
    val df = (0 until 2000).map { i =>
      (if (i % 10 < 9) "hot" else "cold", s"v${i % 137}")
    }.toDF("key", "value")
    val expected = df.groupBy("key")
      .agg(count_distinct(col("value")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (salts <- Seq(1, 3, 8)) {
      val got = Skew.saltedDistinctCount(df, Seq("key"), "value", salts)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected, s"salts=$salts")
    }
  }

  test("stratified sampling: deterministic, rate-accurate, map-only plan") {
    import spark.implicits._
    val df = (0 until 4000).map(i => (i.toLong, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    val kept = Sampling.stratified(df, "doc_id", "lang",
      Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.0)
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("zh") == 2000L) // rate 1.0 keeps everything
    assert(math.abs(byLang("en") - 500L) < 120, byLang.toString) // ~25% of 2000
    // reproducible: identical key set on re-evaluation
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.stratified(df, "doc_id", "lang",
        Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // map-only: no exchange anywhere in the filter plan
    assert(!kept.queryExecution.executedPlan.toString.contains("Exchange"))
    // uniform variant: a rate-0.5 sample is a strict superset of rate-0.25
    // (hash thresholds nest), and rate 0 keeps nothing
    val u25 = Sampling.uniform(df, "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val u50 = Sampling.uniform(df, "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(u25.subsetOf(u50) && u25.nonEmpty && u50.size > u25.size)
    assert(Sampling.uniform(df, "doc_id", 0.0).count() == 0)
  }

  test("lsh bucket is deterministic and identical vectors collide") {
    import spark.implicits._
    val df = Seq((1L, Array(0.5f, -0.25f, 0.75f)), (2L, Array(0.5f, -0.25f, 0.75f)))
      .toDF("id", "v").select(Similarity.lshBucket(col("v"), 8).as("b"))
    val buckets = df.collect().map(_.getLong(0))
    assert(buckets(0) == buckets(1))
  }

  // ---- text analysis -------------------------------------------------------

  test("langId picks the dominant stopword language") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "der Hund ist mit der Katze im Garten und das ist gut"),
      (3L, "le chat est sur le tapis et il est content")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs, "text").orderBy("doc_id")
      .select("predicted_lang").collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "de", "fr"))
  }

  test("trained langId separates a same-script pair the stopword law " +
      "confuses; featureless docs take the smallest class at margin 0") {
    import spark.implicits._
    // every doc's ONLY stopword hit is 'la' — present in BOTH the es and
    // fr tables — so the heuristic scores es = fr on every doc and its
    // lexicographic tie-break labels the whole corpus 'es': the French
    // half is systematically misassigned (the premise is asserted)
    val esDocs = (0 until 8).map(i => (i.toLong,
      s"la casa bonita trabajo ciudad junto palabra$i", "es"))
    val frDocs = (0 until 8).map(i => (100L + i,
      s"la maison jolie bonjour aujourd hui voiture mot$i", "fr"))
    val docs = (esDocs ++ frDocs).toDF("doc_id", "text", "lang")
    val heur = TextAnalysis.langId(docs, "text")
    assert(heur.where(col("predicted_lang") === "es").count() == 16,
      "premise broken: the stopword heuristic no longer ties this pair")
    // one-vs-rest char-trigram perceptrons see the class-specific
    // trigram mass ('cas','bon','mai','jou', …) the stopword table
    // cannot, and separate the pair exactly
    val classes = Seq("es", "fr")
    val w = Classifier.trainLangId(docs, "doc_id", "text", "lang",
      classes, n = 3, dims = 2048, rounds = 3)
    val pred = Classifier.langIdTrained(docs, "doc_id", "text", w,
      classes, n = 3, dims = 2048)
    assert(pred.join(docs.select("doc_id", "lang"), "doc_id")
      .where(col("predicted_lang") =!= col("lang")).count() == 0,
      "trained langId failed to separate es/fr")
    // sub-n-gram doc: no features -> all-zero margins -> smallest class
    val tiny = Classifier.langIdTrained(Seq((999L, "ab"))
      .toDF("doc_id", "text"), "doc_id", "text", w, classes,
      n = 3, dims = 2048).collect().head
    assert(tiny.getAs[String]("predicted_lang") == "es" &&
      tiny.getAs[Long]("margin") == 0L)
    // scale shape (r21): driver-trained K·dims weights are dense driver
    // arrays and the features vector-form, so the scorer is MAP-ONLY
    // intra-row sparse dots (here over a LocalRelation corpus Catalyst
    // folds them away entirely) — the only join left is the doc-grain
    // universe stitch, never a bucket-grain weight join. The parquet-scan
    // shape (sparse_dot in-plan) is pinned by ExplainAudit's
    // x_text_langid_trained entry.
    val plan = pred.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin(bucket") &&
      !plan.contains("BroadcastHashJoin [bucket"), plan.take(800))
  }

  test("quality score penalizes junk, rewards clean prose") {
    import spark.implicits._
    val docs = Seq(
      (1L, "This is a perfectly normal sentence with the usual words in it."),
      (2L, "@@@@!!!! ### $$$ %%% 12345 67890 !!!")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityScore(docs, "text").orderBy("doc_id")
      .select("quality_score").collect().map(_.getDouble(0))
    assert(out(0) > out(1))
  }

  test("token counting") {
    import spark.implicits._
    val df = Seq((1L, "one two  three\tfour\nfive")).toDF("id", "text")
    assert(df.select(TextAnalysis.tokenCount(col("text"))).head.getInt(0) == 5)
  }

  test("KMV distinct sketch: exact below k, partition-invariant merge, " +
      "sane estimate at 25x k, partial-aggregate plan") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    def sketch(df: org.apache.spark.sql.DataFrame, k: Int) = df
      .select(col("g"), Dedup.sha63(col("t"), lit(0)).as("h"))
      .groupBy("g")
      .agg(GraftFunctions.kmvMinHashes(col("h"), k).as("m"))
      .withColumn("est", graft.operators.Stats.kmvEstimate(col("m"), k))

    // below k the sketch holds EVERY distinct hash: minima are the full
    // sorted distinct hash set and the estimate is the exact count —
    // duplicates (5 copies each) must collapse in the buffer
    val small = (1 to 200).map(i => ("g", s"tok${i % 40}")).toDF("g", "t")
    val r = sketch(small, 64).head()
    val minima = r.getSeq[Long](1)
    assert(minima.size == 40 && minima == minima.sorted &&
      minima.distinct.size == 40)
    assert(r.getLong(2) == 40L)

    // merge law: the minima are a pure function of the input SET — any
    // partitioning (different partial buffers to merge) yields identical
    // output
    val big = (1 to 25000).map(i => ("g", s"item-${i % 5000}")).toDF("g", "t")
    val one = sketch(big.coalesce(1), 256).head()
    val many = sketch(big.repartition(17), 256).head()
    assert(one.getSeq[Long](1) == many.getSeq[Long](1))
    assert(one.getLong(2) == many.getLong(2))
    // estimator sanity at 5000 distinct with k=256: within ±30%
    val est = one.getLong(2)
    assert(est > 3500 && est < 6500, s"estimate off: $est for 5000")

    // the plan is a real partial aggregate (ObjectHashAggregate partial →
    // merge): the shuffle moves k-long buffers, never the value set
    val plan = sketch(big, 256).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(600))
    assert(plan.contains("partial_kmv_min_hashes"), plan.take(600))
  }

  test("bigram LM surprisal: exact floor-log2 law on a hand corpus; rare " +
      "transitions score high, boilerplate scores zero") {
    import spark.implicits._
    // model: c("x y")=3, c("y z")=1, c("y w")=1; prefixes c(x·)=3, c(y·)=2
    // flog2: 3→1, 2→1, 1→0
    val docs = Seq(
      (1L, "x y z"),  // (1−1) + (1−0) = 1 over 2 bigrams → mean 500
      (2L, "x y w"),  // same law → 1 over 2
      (3L, "x y"),    // the corpus's boilerplate transition → 0
      (4L, "q")       // no bigram → all zeros
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (2L, 1L, 500L), got.toString)
    assert(got(2L) == (2L, 1L, 500L))
    assert(got(3L) == (1L, 0L, 0L))
    assert(got(4L) == (0L, 0L, 0L))

    // conditional-LM behavior: a COMMON prefix taking a RARE continuation
    // is what scores (c("the ·")=21, c("the zebra")=1 → flog2 21 − flog2 1
    // = 4 bits); deterministic transitions — boilerplate ("the quick"
    // 20/21) and singleton-prefix chains ("zebra runs") — score 0, exactly
    // like −log₂P(w₂|w₁)
    val corpus = ((1L to 20L).map(i => (i, "the quick brown fox jumps")) :+
      (99L, "the zebra runs away")).toDF("doc_id", "text")
    val scores = TextAnalysis.bigramSurprisal(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(scores(99L) == (4L, 1333L), scores.toString)
    assert((1L to 20L).forall(i => scores(i) == (0L, 0L)), scores.toString)
  }

  // ---- history ops over an in-memory nested fixture ------------------------

  test("historyLedgers counts from nested arrays without shuffle") {
    import spark.implicits._
    val ledgers = Seq(
      (100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Seq(
        (1L, 10L, 20L, 5.0, 100L, true, 1),
        (2L, 11L, 21L, 6.0, 200L, false, 2)))
    ).toDF("ledger_sequence", "closed_at", "txs")
      .select(col("ledger_sequence"), col("closed_at"),
        transform(col("txs"), t => struct(
          t.getField("_1").as("line_no"), t.getField("_2").as("part_key"),
          t.getField("_3").as("supp_key"), t.getField("_4").as("amount"),
          t.getField("_5").as("fee_charged"), t.getField("_6").as("successful"),
          t.getField("_7").as("op_type"))).as("transactions"))
    val out = HistoryOps.historyLedgers(ledgers).head()
    assert(out.getAs[Long]("transaction_count") == 1L) // excludes the failed tx
    assert(out.getAs[Long]("successful_transaction_count") == 1L)
    assert(out.getAs[Long]("failed_transaction_count") == 1L)
    assert(out.getAs[String]("tx_set_operation_count") == "2")
    assert(out.getAs[Long]("total_fee_charged") == 300L)
    assert(out.getAs[Long]("ledger_id") == (100L << 32))
    // plan must contain no exchange: counts are intra-row
    val plan = HistoryOps.historyLedgers(ledgers).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("orderbook star dims: both asset orderings map to one market") {
    import spark.implicits._
    val offers = Seq(
      (1L, "acct1", "credit_alphanum4", "AST1", "ISS1",
        "credit_alphanum4", "AST2", "ISS2", 10.0, 0.5, 5L, false),
      (2L, "acct2", "credit_alphanum4", "AST2", "ISS2",
        "credit_alphanum4", "AST1", "ISS1", 20.0, 2.0, 6L, false),
      (3L, "acct3", "native", null, null,
        "credit_alphanum4", "AST4", "ISS4", 30.0, 1.0, 7L, true) // deleted
    ).toDF("offer_id", "seller_id",
      "selling_asset_type", "selling_asset_code", "selling_asset_issuer",
      "buying_asset_type", "buying_asset_code", "buying_asset_issuer",
      "amount", "price", "ledger_sequence", "deleted")
    val markets = OrderbookStar.dimMarket(offers).collect()
    assert(markets.length == 1)
    assert(markets.head.getAs[String]("base_code") == "AST1")
    assert(markets.head.getAs[String]("base_issuer") == "ISS1")
    assert(markets.head.getAs[String]("counter_code") == "AST2")
    assert(markets.head.getAs[String]("counter_issuer") == "ISS2")
    assert(OrderbookStar.dimAccount(offers).count() == 2)
    // both sides agree on market_id; action flips with the sort order
    val dimOffers = OrderbookStar.dimOffer(offers).collect()
    assert(dimOffers.map(_.getAs[Long]("market_id")).distinct.length == 1)
    assert(dimOffers.sortBy(_.getAs[Long]("horizon_offer_id"))
      .map(_.getAs[String]("action")).toSeq == Seq("s", "b"))
    // fact FK joins back to dim_offers
    val fact = OrderbookStar.factOfferEvents(offers).collect()
    val dimIds = dimOffers.map(_.getAs[Long]("dim_offer_id")).toSet
    assert(fact.forall(r => dimIds.contains(r.getAs[Long]("offer_instance_id"))))
  }

  // ---- multimodal ----------------------------------------------------------

  test("multimodal decode: real JDK header parse, error channel works") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image/jpeg", MultimodalFixtures.solidJpeg(1)),
      Multimodal.MediaRow(2L, "video/mp4", "fake-video-bytes".getBytes),
      Multimodal.MediaRow(3L, "image/png", Array.emptyByteArray),
      Multimodal.MediaRow(4L, "audio/wav", MultimodalFixtures.wavBytes(4))
    ).toDS()
    val out = Multimodal.decode(media).collect().sortBy(_.media_id)
    assert(out(0).decode_ok && out(0).width == 24 && out(0).height == 24 &&
      out(0).n_frames == 1)
    // no JDK video codec: unrecognized container, loud on the error channel
    assert(!out(1).decode_ok && out(1).error.contains("unrecognized container"))
    assert(!out(2).decode_ok && out(2).error == "empty payload")
    assert(out(3).decode_ok && out(3).n_frames == 1040 &&
      out(3).sample_rate == 8000 && out(3).channels == 1)
    // determinism
    val again = Multimodal.decode(media).collect().sortBy(_.media_id)
    assert(out.toSeq == again.toSeq)
  }

  test("mp4 video metadata: planted box tree round-trips, v1 boxes decode, " +
      "truncation rides the error channel") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(0L, "video/mp4", MultimodalFixtures.mp4Bytes(0)),
      Multimodal.MediaRow(7L, "video/mp4", MultimodalFixtures.mp4Bytes(7)),
      Multimodal.MediaRow(1L, "video/mp4", MultimodalFixtures.truncatedMp4(1)),
      Multimodal.MediaRow(2L, "video/mp4", "fakeftypnot-a-real-tree".getBytes)
    ).toDS()
    val out = Multimodal.decode(media).collect().map(d => d.media_id -> d).toMap
    for (i <- Seq(0L, 7L)) {
      assert(out(i).decode_ok, out(i).toString)
      assert(out(i).width == MultimodalFixtures.mp4Width(i))
      assert(out(i).height == MultimodalFixtures.mp4Height(i))
      assert(out(i).n_frames == MultimodalFixtures.mp4Duration(i))
      assert(out(i).sample_rate == MultimodalFixtures.mp4Timescale(i))
    }
    assert(!out(1L).decode_ok && out(1L).error.startsWith("corrupt mp4"))
    // sniffs as mp4 ("ftyp" at offset 4) but the tree is garbage
    assert(!out(2L).decode_ok && out(2L).error.startsWith("corrupt mp4"))

    // v1 (64-bit times) mvhd/tkhd: hand-build the variant the v0 fixture
    // never emits — timescale at +20, duration u64 at +24; tkhd dims at +88
    def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(tpe.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    val mvhd1 = {
      val b = java.nio.ByteBuffer.allocate(112)
      b.putInt(0x01000000)            // version 1
      b.putLong(0L).putLong(0L)       // 64-bit ctime, mtime
      b.putInt(48000)                 // timescale
      b.putLong(123456L)              // 64-bit duration
      box("mvhd", b.array())
    }
    val tkhd1 = {
      val b = java.nio.ByteBuffer.allocate(96)
      b.putInt(0x01000007)
      b.putLong(0L).putLong(0L)       // 64-bit ctime, mtime
      b.putInt(1).putInt(0)           // track id, reserved
      b.putLong(123456L)              // 64-bit duration
      b.position(88)
      b.putInt(1920 << 16).putInt(1080 << 16)
      box("tkhd", b.array())
    }
    val ftyp = box("ftyp", "isomxxxxisom".getBytes("US-ASCII"))
    val v1 = ftyp ++ box("moov", mvhd1 ++ box("trak", tkhd1))
    val d1 = Multimodal.decode(
      Seq(Multimodal.MediaRow(9L, "video/mp4", v1)).toDS()).collect().head
    assert(d1.decode_ok, d1.toString)
    assert(d1.sample_rate == 48000 && d1.n_frames == 123456)
    assert(d1.width == 1920 && d1.height == 1080)

    // durations beyond the 32-bit n_frames column error-channel instead of
    // silently wrapping — both the too-large and the sign-bit-set (negative
    // Long) v1 arms
    def mvhd1WithDuration(d: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(112)
      b.putInt(0x01000000)
      b.putLong(0L).putLong(0L)
      b.putInt(48000)
      b.putLong(d)
      box("mvhd", b.array())
    }
    for (bad <- Seq(Int.MaxValue.toLong + 1, -1L, Long.MinValue)) {
      val payload = ftyp ++ box("moov", mvhd1WithDuration(bad))
      val d = Multimodal.decode(
        Seq(Multimodal.MediaRow(10L, "video/mp4", payload)).toDS())
        .collect().head
      assert(!d.decode_ok && d.error.contains("exceeds 32-bit range"),
        s"duration $bad: $d")
    }
    // a 64-bit largesize box is rejected loudly, never walked as offset 1
    val large = ftyp ++ java.nio.ByteBuffer.allocate(16).putInt(1)
      .put("moov".getBytes("US-ASCII")).putLong(16L).array()
    val dl = Multimodal.decode(
      Seq(Multimodal.MediaRow(11L, "video/mp4", large)).toDS()).collect().head
    assert(!dl.decode_ok && dl.error.startsWith("corrupt mp4"))
  }

  test("multimodal truncation fuzz: every prefix of every planted container " +
      "lands on a verdict through decode AND features — never a throw") {
    import spark.implicits._
    val payloads: Seq[(String, Array[Byte])] = Seq(
      "png" -> MultimodalFixtures.patternPng(3),
      "jpeg" -> MultimodalFixtures.solidJpeg(3),
      "gif" -> MultimodalFixtures.animatedGif(3),
      "wav" -> MultimodalFixtures.wavBytes(3),
      "mp4" -> MultimodalFixtures.mp4Bytes(3),
      "videogif" -> MultimodalFixtures.videoGif(3))
    // all short prefixes (where header parsing is most fragile) plus a
    // stride through the body and the full payload — one Spark pass each
    val rows = payloads.zipWithIndex.flatMap { case ((kind, bytes), pi) =>
      val cuts = (0 to math.min(bytes.length, 64)) ++
        (64 until bytes.length by 13) :+ bytes.length
      cuts.distinct.map(k =>
        Multimodal.MediaRow(pi * 100000L + k, s"fuzz/$kind", bytes.take(k)))
    }
    val ds = rows.toDS()
    val decoded = Multimodal.decode(ds).collect()
    assert(decoded.length == rows.size)
    decoded.foreach { d =>
      assert(d.decode_ok || (d.error != null && d.error.nonEmpty),
        s"no verdict for ${d.media_id} (${d.mime})")
    }
    val feats = Multimodal.extractFeatures(ds, dim = 16).collect()
    assert(feats.length == rows.size)
    feats.foreach { f =>
      assert(f.feature_ok || (f.error != null && f.error.nonEmpty),
        s"no feature verdict for ${f.media_id} (${f.mime})")
      if (f.feature_ok) assert(f.embedding.length == 16)
    }
    // the video paths land verdicts on every prefix too — frame grain and
    // media grain both
    val vfeats = Multimodal.videoFeatures(ds, dim = 16, stride = 2).collect()
    assert(vfeats.length == rows.size)
    vfeats.foreach(f => assert(f.feature_ok ||
      (f.error != null && f.error.nonEmpty),
      s"no video verdict for ${f.media_id} (${f.mime})"))
    val vframes = Multimodal.videoFrameFeatures(ds, dim = 16, stride = 2)
      .collect()
    vframes.foreach(f => assert(f.feature_ok ||
      (f.error != null && f.error.nonEmpty),
      s"no frame verdict for ${f.media_id} (${f.mime})"))
    // NO payload may vanish from the frame grain: every input id lands at
    // least one row (feature rows or the single error/no-frames row)
    assert(vframes.map(_.media_id).toSet == rows.map(_.media_id).toSet)
    // the FULL payloads must decode ok (the fuzz must not hide a broken
    // happy path)
    val fullIds = payloads.zipWithIndex
      .map { case ((_, b), pi) => pi * 100000L + b.length }.toSet
    assert(decoded.filter(d => fullIds.contains(d.media_id))
      .forall(_.decode_ok))
  }

  test("binary metadata sniffs magic bytes") {
    import spark.implicits._
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0x00)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G')
    val df = Seq((1L, jpeg), (2L, png)).toDF("id", "payload")
    val out = Multimodal.binaryMetadata(df, "payload").orderBy("id")
      .select("sniffed_mime").collect().map(_.getString(0))
    assert(out.toSeq == Seq("image/jpeg", "image/png"))
  }

  // ---- functions -----------------------------------------------------------

  test("toid column expressions match scalar codec") {
    import spark.implicits._
    val df = Seq((7L, 3L, 2L)).toDF("l", "t", "o")
      .select(GraftFunctions.toid(col("l"), col("t"), col("o")).as("toid"))
    assert(df.head.getLong(0) == graft.codec.Toid.pack(7, 3, 2))
  }

  test("farmhash/fnv UDFs match scalar codecs") {
    import spark.implicits._
    val df = Seq("some-asset-string").toDF("s").select(
      GraftFunctions.farmHash64(col("s")).as("f"),
      GraftFunctions.fnv64a(col("s")).as("v"))
    val r = df.head
    assert(r.getLong(0) == graft.codec.Hashes.farmHash64("some-asset-string"))
    assert(r.getLong(1) == graft.codec.Hashes.fnv64a("some-asset-string"))
  }
}
