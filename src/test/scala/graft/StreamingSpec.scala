package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.streaming.ChangeStream

/** End-to-end Structured Streaming test of the unbounded change-export path:
  * parquet files land → streaming read → per-batch compaction → partitioned
  * parquet sink, exactly-once via AvailableNow + checkpoint. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-streaming-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft-streaming-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("change stream compacts each batch and appends partitioned output") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-landing").toString
    val out = Files.createTempDirectory("graft-out").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    // two "ledger file" drops: overlapping keys within and across batches
    Seq(("k1", 1L, "a"), ("k1", 5L, "b"), ("k2", 3L, "x"))
      .toDF("key", "seq", "state").write.mode("append").parquet(landing)
    Seq(("k1", 70L, "c"), ("k3", 65L, "y"))
      .toDF("key", "seq", "state").write.mode("append").parquet(landing)

    val schemaSource = spark.read.parquet(landing)
    val stream = ChangeStream.readChanges(spark, landing, schemaSource)
    assert(stream.isStreaming)

    ChangeStream.writeCompactedBatches(
      stream, keyCols = Seq("key"), seqCol = "seq", orderCols = Seq("seq"),
      outDir = out, checkpointDir = ckpt)
      .start().awaitTermination(120000)

    val result = spark.read.parquet(out)
      // partition-dir type inference yields int; normalize for the assert
      .select(col("key"), col("batch_id").cast("long").as("batch_id"),
        col("seq"), col("state"))
      .orderBy("key", "batch_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))

    // batch 0 (seq<64): k1 compacts to seq=5 "b"; batch 1: k1→"c", k3→"y"
    assert(result.toSet == Set(
      ("k1", 0L, 5L, "b"), ("k2", 0L, 3L, "x"),
      ("k1", 1L, 70L, "c"), ("k3", 1L, 65L, "y")))

    // restart with same checkpoint + no new files → no duplicate output,
    // and the micro-batch progress proves no committed file is re-scanned
    // (zero input rows across every trigger of the restarted query)
    val q2 = ChangeStream.writeCompactedBatches(
      ChangeStream.readChanges(spark, landing, schemaSource),
      Seq("key"), "seq", Seq("seq"), out, ckpt)
      .start()
    q2.awaitTermination(60000)
    assert(q2.recentProgress.map(_.numInputRows).sum == 0,
      q2.recentProgress.map(_.numInputRows).mkString(","))
    assert(spark.read.parquet(out).count() == 4)
  }

  test("streaming exact dedup suppresses duplicates ACROSS micro-batches") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-dedup-landing").toString
    val out = Files.createTempDirectory("graft-dedup-out").toString
    val ckpt = Files.createTempDirectory("graft-dedup-ckpt").toString

    // batch 1: two distinct docs + an intra-batch duplicate
    Seq((1L, "the quick fox"), (2L, "lazy dog"), (3L, "the quick fox"))
      .toDF("doc_id", "text").write.mode("append").parquet(landing)
    val schemaSource = spark.read.parquet(landing)

    def run(): Unit = {
      val q = graft.operators.Dedup.streamingExact(
          spark.readStream.schema(schemaSource.schema).parquet(landing),
          "text")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    // batch 2: a cross-batch duplicate of doc 1 plus one new doc — the
    // state store must remember batch 1's hashes across a query RESTART
    Seq((4L, "the quick fox"), (5L, "brand new doc"))
      .toDF("doc_id", "text").write.mode("append").parquet(landing)
    run()

    val rows = spark.read.parquet(out)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // exactly one row per distinct content, first arrival wins: doc 3's
    // intra-batch dup and doc 4's cross-batch dup are both suppressed
    assert(rows.map(_._2).sorted.toSeq ==
      Seq("brand new doc", "lazy dog", "the quick fox"))
    assert(!rows.map(_._1).toSet.contains(4L))
  }

  test("sessionize runs incrementally: closed sessions emit, open state held back") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-sess-landing").toString
    val ckpt = Files.createTempDirectory("graft-sess-ckpt").toString
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

    // user 1: a two-event session, then a far-future anchor event that
    // pushes the watermark past the session's close (start+gap)
    Seq((1L, ts(0)), (1L, ts(10))).toDF("user_id", "event_time")
      .write.mode("append").parquet(landing)
    Seq((1L, ts(600))).toDF("user_id", "event_time")
      .write.mode("append").parquet(landing)

    val schemaSource = spark.read.parquet(landing)
    val stream = spark.readStream.schema(schemaSource.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
      .withWatermark("event_time", "1 minute")
    val sessions = graft.operators.Sessionize.sessions(
      stream, "user_id", col("event_time"), "30 minutes")
    assert(sessions.isStreaming)

    val q = sessions.writeStream
      .format("memory").queryName("sess_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val rows = spark.table("sess_out")
      .select("user_id", "n_events", "session_start_us", "session_end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the closed first session emitted; the anchor's own session is still
    // open (watermark = max event − 1 min < its close) and held in state
    assert(rows.toSeq == Seq((1L, 2L,
      1700000000000000L, 1700000000000000L + 10L * 60 * 1000000)))
  }

  test("streaming exact dedup drops in-horizon duplicates across micro-batches") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-dedup-landing").toString
    val ckpt = Files.createTempDirectory("graft-dedup-ckpt").toString
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

    // batch 1: two distinct docs (one with whitespace-variant duplicate);
    // batch 2: an in-horizon duplicate of doc a (must be dropped) and a
    // fresh doc c (must pass)
    Seq((1L, "alpha  beta", ts(0)), (2L, "alpha beta", ts(1)),
        (3L, "gamma delta", ts(1)))
      .toDF("doc_id", "text", "event_ts").write.mode("append").parquet(landing)
    Seq((4L, "ALPHA BETA", ts(2)), (5L, "epsilon zeta", ts(3)))
      .toDF("doc_id", "text", "event_ts").write.mode("append").parquet(landing)

    val schemaSource = spark.read.parquet(landing)
    val stream = spark.readStream.schema(schemaSource.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val deduped = graft.streaming.DedupStream.dedupExact(
      stream, "text", "event_ts", horizon = "10 minutes")
    assert(deduped.isStreaming)

    val q = deduped.writeStream
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val kept = spark.table("dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // one survivor per content class: {1,2,4} are the same normalized text
    assert(kept.intersect(Set(1L, 2L, 4L)).size == 1, s"kept=$kept")
    assert(kept.contains(3L) && kept.contains(5L))
    assert(kept.size == 3)
  }

  test("streaming near-dup: MinHash band state flags later near-copies, " +
      "distinct docs pass, batch-law parity") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-neardup-landing").toString
    val ckpt = Files.createTempDirectory("graft-neardup-ckpt").toString
    val resolved = Files.createTempDirectory("graft-neardup-out").toString
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest tonight"
    val nearCopy = base + " extra"                  // tiny edit: near-dup
    val distinct = "completely different content about liquidity pools " +
      "and claimable balances on a distributed ledger system"

    // batch 1: the original + a distinct doc; batch 2: a near-copy of the
    // original (must be flagged against doc 1) + another distinct doc
    Seq((1L, base, ts(0)), (2L, distinct, ts(1)))
      .toDF("doc_id", "text", "event_ts").write.mode("append").parquet(landing)
    Seq((3L, nearCopy, ts(2)),
        (4L, "unrelated corpus line with entirely fresh vocabulary inside",
          ts(3)))
      .toDF("doc_id", "text", "event_ts").write.mode("append").parquet(landing)

    val schemaSource = spark.read.parquet(landing)
    val stream = spark.readStream.schema(schemaSource.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val cands = graft.streaming.DedupStream.nearDupCandidates(
      stream, "text", "doc_id", "event_ts", horizon = "10 minutes")
    assert(cands.isStreaming)

    // per-micro-batch resolution (the foreachBatch idiom): append each
    // batch's per-doc verdicts
    val q = cands.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.streaming.DedupStream.resolveNearDups(df, threshold = 0.5)
          .write.mode("append").parquet(resolved)
      }
      .start()
    q.awaitTermination(120000)

    val out = spark.read.parquet(resolved)
      .select("doc_id", "is_dup", "dup_of").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // the original and the distinct docs pass; the near-copy is flagged
    // against the original
    assert(out(1L) == (false, None), s"out=$out")
    assert(out(2L) == (false, None))
    assert(out(4L) == (false, None))
    assert(out(3L)._1 && out(3L)._2.contains(1L), s"out=$out")

    // batch-law parity: the batch MinHash-LSH pass finds exactly the same
    // near-dup pair on the same corpus
    val batchPairs = graft.operators.Dedup.minHashLsh(
        Seq((1L, base), (2L, distinct), (3L, nearCopy),
          (4L, "unrelated corpus line with entirely fresh vocabulary inside"))
          .toDF("doc_id", "text"), "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs == Set((1L, 3L)), s"batch=$batchPairs")
  }

  test("streaming near-dup multi-owner state: a B/C pair in a bucket " +
      "opened by A is still found (A-then-B-then-C)") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-abc-landing").toString
    val ckpt = Files.createTempDirectory("graft-abc-ckpt").toString
    val outDir = Files.createTempDirectory("graft-abc-out").toString
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

    // three MUTUAL near-dups arriving in order: A opens every shared
    // bucket, so a single-owner state would only ever report B and C
    // against A — the pair (B, C) the batch pass finds would be invisible
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest tonight"
    val a = base + " alpha"
    val b = base + " beta"
    val c = base + " gamma"
    Seq((1L, a, ts(0))).toDF("doc_id", "text", "event_ts")
      .write.mode("append").parquet(landing)
    Thread.sleep(60)
    Seq((2L, b, ts(1))).toDF("doc_id", "text", "event_ts")
      .write.mode("append").parquet(landing)
    Thread.sleep(60)
    Seq((3L, c, ts(2))).toDF("doc_id", "text", "event_ts")
      .write.mode("append").parquet(landing)

    // precondition: the BATCH pass finds (2,3) as a pair on this corpus
    val batchPairs = graft.operators.Dedup.minHashLsh(
        Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.contains((2L, 3L)), s"planted corpus drifted: $batchPairs")

    val schemaSource = spark.read.parquet(landing)
    val stream = spark.readStream.schema(schemaSource.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val cands = graft.streaming.DedupStream.nearDupCandidates(
      stream, "text", "doc_id", "event_ts", horizon = "10 minutes")
    cands.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(outDir)
      }
      .start().awaitTermination(120000)

    val got = spark.read.parquet(outDir)
      .where(col("owner_id").isNotNull)
      .select(col("doc_id"), col("owner_id"),
        col("sig_agree").cast("double") / col("sig_len"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // C must have been verified against owner B (not only against A) with
    // a near-dup-grade agreement — the multi-owner fix
    assert(got.exists { case (d, o, est) => d == 3L && o == 2L && est >= 0.5 },
      s"missing (3 vs owner 2): ${got.mkString(", ")}")
    // and the single-owner behavior is still there too: B and C vs A
    assert(got.exists { case (d, o, est) => d == 2L && o == 1L && est >= 0.5 })
    assert(got.exists { case (d, o, est) => d == 3L && o == 1L && est >= 0.5 })
  }

  test("streaming semantic dedup: cell owners flag arriving embedding " +
      "near-dups against offline centroids; batch semanticDedup parity") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-sem-landing").toString
    val ckpt = Files.createTempDirectory("graft-sem-ckpt").toString
    val outDir = Files.createTempDirectory("graft-sem-out").toString
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def center(c: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == c * 2) 1.0f else 0.0f)
    def jitter(v: Array[Float], j: Int): Array[Float] =
      v.zipWithIndex.map { case (x, d) => x + ((j * 7 + d * 3) % 5) * 0.002f }

    // ids 1..4 are four distinct cluster reps (they become the offline
    // centroid constants); 11 and 12 are later near-copies of rep 1
    val reps = Seq(
      (1L, jitter(center(0), 0)), (2L, jitter(center(3), 0)),
      (3L, jitter(center(5), 0)), (4L, jitter(center(7), 0)))
    val copies = Seq((11L, jitter(center(0), 1)), (12L, jitter(center(0), 2)))
    val full = (reps ++ copies).toDF("vec_id", "embedding")
    // offline model constants: the batch operator's own centroid law
    val centroids = graft.operators.Similarity
      .buildIvfIndexExact(full, "vec_id", "embedding", nCells = 4).centroids

    reps.map { case (i, v) => (i, v, ts(0)) }
      .toDF("vec_id", "embedding", "event_ts")
      .write.mode("append").parquet(landing)
    Thread.sleep(60)
    Seq((11L, copies(0)._2, ts(1))).toDF("vec_id", "embedding", "event_ts")
      .write.mode("append").parquet(landing)
    Thread.sleep(60)
    Seq((12L, copies(1)._2, ts(2))).toDF("vec_id", "embedding", "event_ts")
      .write.mode("append").parquet(landing)

    val schemaSource = spark.read.parquet(landing)
    val stream = spark.readStream.schema(schemaSource.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    graft.streaming.DedupStream.semanticDupCandidates(
        stream, "embedding", "vec_id", "event_ts", centroids,
        cosNum = 81, cosDen = 100, horizon = "10 minutes")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(outDir)
      }
      .start().awaitTermination(120000)

    val got = spark.read.parquet(outDir)
      .select("doc_id", "dup_of", "is_dup").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 11L, 12L), got.toString)
    Seq(1L, 2L, 3L, 4L).foreach(i => assert(got(i).isEmpty, s"$i: $got"))
    assert(got(11L).contains(1L), got.toString)
    // 12 verifies against owners {1, 11} — the LOWEST qualifying wins,
    // the batch operator's greedy-by-id law
    assert(got(12L).contains(1L), got.toString)

    // batch parity: semanticDedup over the same corpus with the same
    // centroid law produces the identical verdict map
    val batch = graft.operators.Dedup.semanticDedup(full,
        "vec_id", "embedding", nCells = 4, cosNum = 81, cosDen = 100)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(batch == got, s"batch=$batch stream=$got")
  }

  test("streaming near-dup survives the watermark passing an owner's " +
      "horizon in a batch that also delivers bucket data (timeout clamp)") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-clamp-landing").toString
    val ckpt = Files.createTempDirectory("graft-clamp-ckpt").toString
    val outDir = Files.createTempDirectory("graft-clamp-out").toString
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

    val base = "some repeated corpus text that lands in stable minhash " +
      "buckets across identical copies of itself tonight"
    // batch 1: A opens its buckets at t=0 (timeout armed ~ t=10m)
    Seq((1L, base, ts(0))).toDF("doc_id", "text", "event_ts")
      .write.mode("append").parquet(landing)
    Thread.sleep(60)
    // batch 2: unrelated F at t=40m → watermark after the batch = 30m,
    // far past A's owner_ts + horizon, WITHOUT touching A's buckets
    Seq((2L, "entirely unrelated filler vocabulary advancing the clock",
        ts(40))).toDF("doc_id", "text", "event_ts")
      .write.mode("append").parquet(landing)
    Thread.sleep(60)
    // batch 3: R is a byte-identical twin of A (same buckets) at t=41m —
    // A's bucket group gets DATA while its stored owner ts is below the
    // watermark; the un-clamped re-arm threw
    // "Timeout timestamp cannot be earlier than the current watermark"
    // and wedged the stream
    Seq((3L, base, ts(41))).toDF("doc_id", "text", "event_ts")
      .write.mode("append").parquet(landing)

    val schemaSource = spark.read.parquet(landing)
    val stream = spark.readStream.schema(schemaSource.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    val cands = graft.streaming.DedupStream.nearDupCandidates(
      stream, "text", "doc_id", "event_ts", horizon = "10 minutes")
    val q = cands.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")

    // A aged past the horizon before R arrived ⇒ R re-opens the buckets
    // fresh (the documented dedup-visibility contract): no owner pairing
    val rRows = spark.read.parquet(outDir).where(col("doc_id") === 3L)
    assert(rRows.count() > 0)
    assert(rRows.where(col("owner_id").isNotNull).count() == 0,
      "R must not pair against an owner older than the horizon")
  }

  test("streaming sessionize -> pack pipeline: incremental cohorts match the batch path") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-train-landing").toString
    val out = Files.createTempDirectory("graft-train-out").toString
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)

    // four file drops -> four micro-batches (maxFilesPerTrigger = 1).
    // Sessions finalize when the watermark passes end + gap, so each later
    // file flushes the earlier ones' sessions; the last file's own session
    // stays open by design.
    Seq(("u1", ts(0)), ("u1", ts(30)), ("u2", ts(0)))
      .toDF("user", "event_ts").write.mode("append").parquet(landing)
    Seq(("u1", ts(600)), ("u2", ts(610)))
      .toDF("user", "event_ts").write.mode("append").parquet(landing)
    Seq(("u3", ts(3600))).toDF("user", "event_ts")
      .write.mode("append").parquet(landing)
    Seq(("u4", ts(7200))).toDF("user", "event_ts")
      .write.mode("append").parquet(landing)

    def runOnce(outDir: String): Unit = {
      val ckpt = Files.createTempDirectory("graft-train-ckpt").toString
      val schemaSource = spark.read.parquet(landing)
      val stream = spark.readStream.schema(schemaSource.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      graft.streaming.TrainingStream.sessionPacking(
          stream, "user", "event_ts", gap = "1 minute", horizon = "10 seconds",
          budget = 2L, shards = 2, outDir = outDir, checkpointDir = ckpt)
        .start().awaitTermination(120000)
    }
    runOnce(out)

    val packed = spark.read.parquet(out)
    // u3 (flushed by u4's file) and the four u1/u2 sessions emit; u4's own
    // session never finalizes. At least two distinct emitting micro-batches.
    assert(packed.select("cohort_id").distinct().count() >= 2)

    // session parity vs the batch path over the same (emitted) horizon
    val batchSessions = graft.operators.Sessionize.sessions(
        spark.read.parquet(landing).where(col("user") =!= "u4"),
        "user", col("event_ts"), "1 minute")
      .select("user", "n_events", "session_start_us", "session_end_us")
      .collect().map(_.toSeq).toSet
    val streamSessions = packed
      .select("user", "n_events", "session_start_us", "session_end_us")
      .collect().map(_.toSeq).toSet
    assert(streamSessions == batchSessions)

    // pack law holds inside every cohort: token sums within budget + straddle
    val sums = packed.groupBy("cohort_id", "pack_id")
      .agg(sum("n_events").as("s"), max("n_events").as("m")).collect()
    sums.foreach(r => assert(r.getLong(2) <= 2L + r.getLong(3), r.toString))

    // deterministic: a full replay (fresh checkpoint) emits identical rows,
    // pack and cohort ids included
    val out2 = Files.createTempDirectory("graft-train-out2").toString
    runOnce(out2)
    assert(spark.read.parquet(out2).collect().map(_.toSeq).toSet ==
      packed.collect().map(_.toSeq).toSet)
  }

  test("streaming KMV distinct sketch: windowed estimates are bit-identical " +
      "to the batch law across micro-batch state round-trips, closed " +
      "windows emit, open windows hold") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft-kmv-landing").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt").toString
    val out = Files.createTempDirectory("graft-kmv-out").toString
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def words(tag: String, a: Int, b: Int) =
      (a until b).map(i => s"${tag}_w${i % 37}").mkString(" ")

    // window A [0,10): two strata, split ACROSS two file drops so the
    // k-min buffers must survive a state-store round-trip and merge;
    // window B [20,30): arrives last, stays open (watermark = 25-10 = 15)
    val batch1 = Seq(
      (1L, "en", words("en", 0, 60), ts(1)),
      (2L, "de", words("de", 0, 25), ts(2)))
    val batch2 = Seq(
      (3L, "en", words("en", 20, 90), ts(6)),   // extends window A's vocab
      (4L, "de", words("de", 10, 30), ts(7)),
      (5L, "en", words("late", 0, 40), ts(25))) // window B, advances watermark
    batch1.toDF("doc_id", "lang", "text", "event_ts")
      .write.mode("append").parquet(landing)
    batch2.toDF("doc_id", "lang", "text", "event_ts")
      .write.mode("append").parquet(landing)

    val schemaSource = spark.read.parquet(landing)
    val stream = spark.readStream.schema(schemaSource.schema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
    // k = 8 < per-(window, stratum) distinct counts, so the ESTIMATOR arm
    // (not the exact below-k arm) is what must survive the state store
    val est = graft.streaming.StatsStream.windowedDistinctEstimate(
      stream, "event_ts", "lang", "text",
      windowLen = "10 minutes", horizon = "10 minutes", k = 8)
    assert(est.isStreaming)
    val q = est.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out)
      .start()
    q.awaitTermination(120000)

    val got = spark.read.parquet(out)
      .select("window_start", "stratum", "distinct_est").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // parity twin: the SAME law over the same rows in batch — the sketch's
    // minima are a pure set function, so micro-batch boundaries and the
    // state round-trip must not move the estimate by even one unit
    val batchTwin = graft.streaming.StatsStream.batchDistinctEstimate(
        (batch1 ++ batch2).toDF("doc_id", "lang", "text", "event_ts"),
        "event_ts", "lang", "text", windowLen = "10 minutes", k = 8)
      .select("window_start", "stratum", "distinct_est").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // only window A (the earliest grid window, both strata) emitted;
    // window B is still open
    val windowA = batchTwin.keys.map(_._1).minBy(_.getTime)
    assert(got.keySet == Set((windowA, "en"), (windowA, "de")), s"got=$got")
    got.foreach { case (key, v) =>
      assert(batchTwin(key) == v, s"window $key: stream $v vs batch ${batchTwin(key)}")
    }
    // the estimator arm really fired (estimates, not exact small counts)
    assert(got.values.forall(_ > 8), s"got=$got")
  }

  test("windowed counts produce an event-time tumbling aggregation (batch mode)") {
    import spark.implicits._
    val df = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "account"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "account"),
      (java.sql.Timestamp.valueOf("2024-01-01 00:07:00"), "offer")
    ).toDF("closed_at", "entry_type")
    val out = ChangeStream.windowedCounts(df, "closed_at").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("n_changes")).sum == 3)
  }

  test("stateless near-dup gate against the persisted corpus index: " +
      "stream-static probe, zero state operators, re-crawl ids excluded") {
    import spark.implicits._
    def txt(i: Int): String = (0 until 30).map(t => s"ix${i}_w$t").mkString(" ")
    val corpus = (0 until 20).map(i => (i.toLong, txt(i)))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeMinHashIndex(corpus, "text", "doc_id",
      "stream_probe_idx", buckets = 4)
    val landing = Files.createTempDirectory("graft-probe-landing").toString
    val ckpt = Files.createTempDirectory("graft-probe-ckpt").toString
    val outDir = Files.createTempDirectory("graft-probe-out").toString
    // arriving docs: 100 = exact dup of corpus 7; 101 = fresh content;
    // 7 = RE-CRAWL of corpus 7 (same id — identity, not duplication)
    Seq((100L, txt(7)), (101L, txt(999)), (7L, txt(7)))
      .toDF("doc_id", "text").write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(spark.read.parquet(landing).schema).parquet(landing)
    val hits = graft.streaming.DedupStream.nearDupAgainstIndex(
      stream, "text", "doc_id", "stream_probe_idx", corpus)
    assert(hits.isStreaming)
    val q = hits.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // pair repeats from multiple shared bands dedupe at the sink —
        // the documented stateless-stream contract
        df.dropDuplicates("doc_id", "dup_of")
          .write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set((100L, 7L, 1.0)), out.toString)
    // ZERO STATE: a stream-static join keeps no state store at all — the
    // historical corpus lives in the bucketed index, not in state
    assert(q.recentProgress.forall(_.stateOperators.isEmpty))
  }

  test("streaming classifier scoring: offline-trained weights score " +
      "arrivals statelessly, margins bit-equal to the batch scorer") {
    import spark.implicits._
    val train = (Seq("alpha bravo charlie", "bravo alpha alpha",
      "charlie bravo delta").zipWithIndex.map { case (t, i) =>
        (i.toLong, t, 1L) } ++
      Seq("omega zulu yankee", "zulu omega omega",
        "yankee zulu xray").zipWithIndex.map { case (t, i) =>
        (100L + i, t, -1L) }).toDF("doc_id", "text", "y")
    val (w, _) = graft.operators.Classifier.trainPerceptron(
      train, "doc_id", "text", "y", dims = 256, rounds = 2)
    // the DEPLOYMENT corpus includes empty, whitespace-only and NULL
    // docs — the arrival classes the batch/stream parity contract must
    // cover (both sides: margin 0, predicted −1, no dropped rows)
    val corpus = train.select("doc_id", "text").unionAll(
      Seq((200L, Some("")), (201L, Some("  \t ")),
        (202L, Option.empty[String])).toDF("doc_id", "text"))
    val batchScored = graft.operators.Classifier.scoreDocuments(
      corpus, "doc_id", "text", w, dims = 256).collect()
    val batchMargins = batchScored.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("margin")).toMap
    assert(batchMargins(200L) == 0L && batchMargins(201L) == 0L &&
      batchMargins(202L) == 0L)
    assert(batchScored.filter(r => r.getAs[Long]("doc_id") >= 200L)
      .forall(_.getAs[Long]("predicted") == -1L))
    val landing = Files.createTempDirectory("graft-qs-landing").toString
    val ckpt = Files.createTempDirectory("graft-qs-ckpt").toString
    val outDir = Files.createTempDirectory("graft-qs-out").toString
    corpus.write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(spark.read.parquet(landing).schema).parquet(landing)
    val scored = graft.streaming.QualityStream.scoreStream(
      stream, "text", w, dims = 256)
    assert(scored.isStreaming)
    val q = scored.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(outDir); ()
      }
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("margin")).toMap
    assert(streamed == batchMargins, s"$streamed vs $batchMargins")
    // stateless: no aggregation, no state store — restart-safe for free
    assert(q.recentProgress.forall(_.stateOperators.isEmpty))
    // the literal-weight cap is LOUD (r21, VERDICT r20 #5): above 2^16
    // buckets the dense literal vector would be a multi-MB plan string
    // serialized per micro-batch, so the scorer refuses and points at the
    // foreachBatch + broadcast-join face instead of degrading silently
    val big = intercept[IllegalArgumentException] {
      graft.streaming.QualityStream.scoreStream(stream, "text", w,
        dims = 1 << 20)
    }
    assert(big.getMessage.contains("literal-weight cap") &&
      big.getMessage.contains("foreachBatch"), big.getMessage)
  }

  test("streaming rule stack: robots + gopher + repetition gate arrivals " +
      "statelessly, verdicts bit-equal to the batch operators") {
    import spark.implicits._
    val policy = Seq(
      "User-agent: graftbot",
      "Disallow: /private",
      "",
      "User-agent: *",
      "Disallow: /").mkString("\n")
    // long enough that the top-k-gram mass caps (tuned for ≥50-word docs)
    // don't trip on inherent short-doc gram fractions; all words distinct
    val good = "the data of and that pipeline runs with care to be " +
      "sure every stage holds from start until finish here now " +
      (1 to 50).map(i => s"item$i").mkString(" ")
    val corpus = Seq(
      (1L, good, "/index.html"),                     // passes everything
      (2L, good, "/private/x"),                      // robots-blocked
      (3L, "# # ## ### # ## # # ### ## " + good,     // gopher symbol rule
        "/index.html"),
      (4L, (("dup line here ok now then " * 1) + "\n") * 6 + good,
        "/index.html"),                              // repetition dup-line
      (5L, "", "/index.html"),                       // empty: gopher fails
      (6L, null.asInstanceOf[String], "/index.html") // NULL text: NULL law
    ).toDF("doc_id", "text", "path")
      .withColumn("robots", lit(policy))
    // batch verdicts from the REAL batch operators — Option-valued so the
    // NULL-text row's NULL verdicts are pinned, not silently unboxed
    def optBool(r: org.apache.spark.sql.Row, i: Int): Option[Boolean] =
      if (r.isNullAt(i)) None else Some(r.getBoolean(i))
    val bRobots = graft.operators.Web.robotsFilter(corpus,
        "robots", "path", "graftbot")
      .select("doc_id", "robots_allowed").collect()
      .map(r => r.getLong(0) -> optBool(r, 1)).toMap
    val bGopher = graft.operators.TextAnalysis.gopherRules(corpus,
        "doc_id", "text", minWords = 5)
      .select("doc_id", "gopher_keep").collect()
      .map(r => r.getLong(0) -> optBool(r, 1)).toMap
    val bRep = graft.operators.TextAnalysis.gopherRepetition(corpus,
        "doc_id", "text")
      .select("doc_id", "rep_keep").collect()
      .map(r => r.getLong(0) -> optBool(r, 1)).toMap
    // the planted corpus must exercise every arm
    assert(bRobots(2L) == Some(false) && bRobots(1L) == Some(true))
    assert(bGopher(3L) == Some(false) && bGopher(5L) == Some(false) &&
      bGopher(1L) == Some(true))
    assert(bRep(4L) == Some(false) && bRep(1L) == Some(true))
    // the documented NULL law: text-derived verdicts NULL, robots real
    assert(bRobots(6L) == Some(true) && bGopher(6L).isEmpty &&
      bRep(6L).isEmpty)
    val landing = Files.createTempDirectory("graft-rs-landing").toString
    val ckpt = Files.createTempDirectory("graft-rs-ckpt").toString
    val outDir = Files.createTempDirectory("graft-rs-out").toString
    corpus.write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(spark.read.parquet(landing).schema).parquet(landing)
    val gated = graft.streaming.QualityStream.ruleStackStream(
      stream, "text", "robots", "path", agent = "graftbot", minWords = 5)
    assert(gated.isStreaming)
    val q = gated.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(outDir); ()
      }
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "robots_allowed", "gopher_keep", "rep_keep", "keep")
      .collect()
      .map(r => r.getLong(0) -> (optBool(r, 1), optBool(r, 2),
        optBool(r, 3), optBool(r, 4))).toMap
    assert(streamed.keySet == bRobots.keySet)
    // SQL three-valued AND over Option verdicts (what the stream's
    // `keep` column computes): false dominates, then NULL, then true
    def and3(xs: Option[Boolean]*): Option[Boolean] =
      if (xs.contains(Some(false))) Some(false)
      else if (xs.contains(None)) None
      else Some(true)
    streamed.foreach { case (id, (ra, gk, rk, keep)) =>
      assert(ra == bRobots(id) && gk == bGopher(id) && rk == bRep(id),
        s"doc $id verdict drift: stream ($ra,$gk,$rk) vs batch " +
          s"(${bRobots(id)},${bGopher(id)},${bRep(id)})")
      assert(keep == and3(ra, gk, rk))
    }
    // the NULL-text arrival carries NULL verdicts (and NULL keep — its
    // robots verdict is true), exactly the batch operators' outputs
    assert(streamed(6L) == ((Some(true), None, None, None)))
    // all original columns survive the gate (the batch operators project)
    assert(spark.read.parquet(outDir).columns.toSet
      .contains("text"))
    assert(q.recentProgress.forall(_.stateOperators.isEmpty))
  }

  test("streaming DSIR scoring: offline count-ratio weights score " +
      "arrivals statelessly, importance bit-equal to the batch selector") {
    import spark.implicits._
    val corpus = (Seq("alpha data pipeline scale spark", "data spark data",
      "alpha pipeline alpha alpha").zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en") } ++
      Seq("omega zulu foxtrot", "zulu omega zulu tango",
        "foxtrot tango omega").zipWithIndex.map { case (t, i) =>
        (100L + i, t, "zz") }).toDF("doc_id", "text", "lang")
    val batch = graft.operators.Classifier.dsirImportance(corpus,
        "doc_id", "text", isTarget = col("lang") === "en", dims = 128)
      .select("doc_id", "n_feats", "importance_bits", "mean_millibits",
        "keep")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toMap
    val (_, w) = graft.operators.Classifier.dsirFeatsAndWeights(corpus,
      "doc_id", "text", isTarget = col("lang") === "en", dims = 128)
    // the offline selection stats (sm, cnt) replayed into the stream gate
    val scoredMeans = batch.values.map(_._3).toSeq
    val sm = scoredMeans.sum
    val cnt = scoredMeans.size.toLong
    val landing = Files.createTempDirectory("graft-ds-landing").toString
    val ckpt = Files.createTempDirectory("graft-ds-ckpt").toString
    val outDir = Files.createTempDirectory("graft-ds-out").toString
    corpus.select("doc_id", "text").write.mode("append").parquet(landing)
    val stream = spark.readStream
      .schema(spark.read.parquet(landing).schema).parquet(landing)
    val scored = graft.streaming.QualityStream.dsirScoreStream(
      stream, "text", w, dims = 128, sm = sm, cnt = cnt)
    assert(scored.isStreaming)
    val q = scored.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(outDir); ()
      }
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "n_feats", "importance_bits", "mean_millibits",
        "keep")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toMap
    assert(streamed == batch, s"$streamed vs $batch")
    assert(q.recentProgress.forall(_.stateOperators.isEmpty))
  }
}
