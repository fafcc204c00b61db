package graft.tools

import org.apache.spark.sql.SparkSession
import graft.QueryCatalog

/** Prints formatted physical plans for the load-bearing queries plus
  * automated plan-property checks (pushdown reached the scan, dims were
  * broadcast, aggregates are partial+final, intra-row ops have no exchange).
  * Run: sbt "runMain graft.tools.ExplainAudit [sfDir]" */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "false") // print final (non-AQE) plans
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-audit-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // (query, must-contain, must-NOT-contain)
    val interesting = Seq(
      ("s1_range_scan", Seq("PushedFilters: [IsNotNull(o_orderkey), GreaterThanOrEqual(o_orderkey", "*(1)"), Seq()),
      ("a1_tpch_q1", Seq("partial_sum", "*(1)"), Seq()),
      ("j5_equi_join_revenue", Seq("BroadcastHashJoin", "partial_sum"), Seq()),
      ("s6_change_compaction", Seq("partial_max_by", "*(1)"), Seq()),
      ("p1_history_ledgers", Seq("*(1)"), Seq()),
      ("x_dedup_exact", Seq("partial_min_by"), Seq()),
      ("x_sim_dot_topk", Seq("BroadcastNestedLoopJoin", "WindowGroupLimit"), Seq()),
      // PQ ADC sweep: the bounded query-LUT side must ride a broadcast
      // (the code-table scan is the linear pass PQ exists to cheapen) and
      // the top-k must plan as WindowGroupLimit; the corpus/code side must
      // never be shuffled or sorted before the rank filter
      ("x_sim_pq_topk", Seq("BroadcastNestedLoopJoin", "WindowGroupLimit"),
        Seq("SortMergeJoin", "ShuffledHashJoin")),
      // IVF×PQ: the probe must be a broadcast EQUI-join on cell — a BNLJ
      // or cartesian here means the router stopped pruning and the sweep
      // reads the whole code table again; the native ADC sweep and the
      // code/cell build must stay map-only on the corpus side
      ("x_sim_ivf_pq_topk", Seq("BroadcastHashJoin [cell", "WindowGroupLimit",
        "pq_adc_dist"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin")),
      // SemDeDup: the pair generator must be an EQUI-join on cell (the
      // whole point is Σ|cell|² work, never N²) and the cell assignment a
      // map-only native argmin — a BNLJ/cartesian here is the all-pairs
      // blowup the cells exist to prevent
      ("x_dedup_semantic", Seq("long_l2_argmin"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // bigram-LM surprisal: the model aggregations must partial-combine
      // map-side and the doc-vs-model joins stay equi — never a cartesian
      ("x_text_lm_surprisal", Seq("partial_count"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // trigram back-off LM: four map-side-combinable count aggregates +
      // narrow equi-joins of the per-doc trigram rows against the count
      // tables — both score arms are column algebra, never a cartesian
      ("x_text_lm_surprisal3", Seq("partial_count"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // Winnowing: fingerprint selection is intra-row (positional-window
      // expression + slice/array_min), the pair generator an fp equi-join
      // behind the hot-fp broadcast blacklist — never a cartesian, and no
      // per-fp window sort anywhere
      ("x_winnow_pairs", Seq("partial_count", "BroadcastExchange"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct", "Window ")),
      // SimHash pair join: the candidate generator must be the pigeonhole
      // (band, key, shard) EQUI-join — a BNLJ/cartesian here is the
      // all-pairs hamming scan the bands exist to avoid
      ("x_simhash_pairs", Seq("partial_count"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // KMV sketch: a REAL partial aggregate — the shuffle moves k-long
      // buffers (partial_kmv under ObjectHashAggregate), never the token
      // set (a collect_set/sort of the values here is the blowup the
      // sketch exists to avoid)
      // (the terminal ORDER BY lang sorts 5 result rows — only the value
      // set must never be collected or sorted)
      ("x_sketch_kmv_vocab", Seq("ObjectHashAggregate",
        "partial_kmv_min_hashes"),
        Seq("collect_set")),
      // KMV composed into the mixture sampler: the ≤ #langs threshold
      // rows ride as LITERAL maps (r21 — the sketch aggregate runs in the
      // bounded thr.collect() job, so the returned plan is the map-only
      // try_element_at filter over the corpus scan: no join at all), and
      // nothing may collect or sort the bigram values
      ("x_sketch_kmv_mixture", Seq("element_at(map(keys:"),
        Seq("collect_set", "SortMergeJoin", "BroadcastHashJoin",
          "CartesianProduct")),
      // curation v2: the scalar gate threshold rides a broadcast (its
      // cross join against the scored frame is ONE row), the reused
      // gate/kept frames are LOCALCHECKPOINTED (RDD scans — r18: beats
      // the cached form 4.09 -> 2.2-2.6 s at sf0.1 because the checkpoint
      // truncates the model tree out of every consumer's analysis), and
      // the cell pair generator must never be a BNLJ over the corpus
      // (the model-training partial aggregates now run INSIDE the eager
      // checkpoint materialization, so the returned plan is the packing
      // window + joins over the RDD leaves)
      ("x_curation_pipeline_v2",
        Seq("Scan ExistingRDD", "Window "),
        Seq("CartesianProduct")),
      // curation v3: the kept-set cache feeds both the sketch agg and the
      // sample filter (InMemory scan); the per-lang thresholds ride as
      // LITERAL maps (r21 — the KMV partial aggregate runs in the bounded
      // thr.collect() job, so the returned plan is the map-only
      // try_element_at filter over the cached kept set); the winnow dedup
      // gate is an anti-join — no cartesian anywhere in the chain
      ("x_curation_pipeline_v3",
        Seq("InMemoryTableScan", "element_at(map(keys:"),
        Seq("CartesianProduct", "collect_set")),
      // three-modality pipeline: the ANN tail is the documented bounded
      // brute-force baseline (≤8 query rows ride the broadcast side) with
      // the top-k as WindowGroupLimit heaps — never a raw cartesian
      ("x_multimodal_pipeline_v2",
        Seq("BroadcastNestedLoopJoin", "WindowGroupLimit"),
        Seq("CartesianProduct")),
      ("p4_effects_flatmap", Seq("Generate posexplode"), Seq()),
      // BPE segmented vocabulary: the returned frame reads the final
      // round's checkpointed RDD (constant-size plan after K merge rounds
      // — the CC-loop machinery) and the top-30 slice is per-partition
      // heaps, never a full sort
      ("x_bpe_vocab", Seq("Scan ExistingRDD", "TakeOrderedAndProject"),
        Seq("Exchange hashpartitioning", "Sort ")),
      // curation v5 (web -> training batch): extraction and deduped-text
      // frames cached at their composition points (InMemory scans), the
      // BPE segmentation rides a broadcast lookup, packing is the one
      // window — never a cartesian anywhere in the six-stage chain
      ("x_curation_pipeline_v5",
        Seq("InMemoryTableScan", "BroadcastHashJoin", "Window "),
        Seq("CartesianProduct")),
      // WARC record split: ONE fused generator projection per crawl file
      // (the offset walk is a native expression, the http strip column
      // algebra) — map-only, no exchange, no join
      ("x_warc_extract", Seq(),
        Seq("Exchange hashpartitioning", "Join", "BatchEvalPython")),
      // curation v6 (crawl container -> training batch): same shape laws
      // as v5 plus the WARC walk and the URL-dedup min_by aggregate in
      // front — composition points cached, BPE rides the broadcast
      // lookup, packing the one window, never a cartesian
      ("x_curation_pipeline_v6",
        Seq("InMemoryTableScan", "BroadcastHashJoin", "Window "),
        Seq("CartesianProduct")),
      // C4 line dedup: owner election is a partial-combinable min-struct
      // hash aggregate over NARROW (sha63, doc, pos) rows — line text
      // never rides a line-keyed exchange; the kept positions regroup per
      // doc (partial collect_list) and the rebuild is intra-row array
      // indexing — no cartesian, no window sort
      ("x_dedup_lines", Seq("partial_min", "partial_collect_list"),
        Seq("CartesianProduct", "Window ")),
      // paragraph grain of the same law: identical shape pins
      ("x_dedup_paragraphs", Seq("partial_min", "partial_collect_list"),
        Seq("CartesianProduct", "Window ")),
      // BPE corpus tokenization: apply = broadcast LOOKUP against the
      // trained segmentation + one partial-combinable count agg — never a
      // corpus-side shuffle join or per-occurrence re-merging
      ("x_bpe_token_count", Seq("BroadcastHashJoin", "partial_count"),
        Seq("SortMergeJoin", "CartesianProduct")),
      // NFC normalization: the native expression stays inside whole-stage
      // codegen (a UDF would fence the scan→normalize→hash pipeline) and
      // the pass is map-only
      ("x_text_nfc", Seq("*(1)"),
        Seq("Exchange hashpartitioning", "Join", "BatchEvalPython")),
      // HTML extraction: map-only — one projection carries the whole
      // strip/line/density law; no exchange (beyond the terminal order-by
      // range partition), no join of any kind
      ("x_text_html_extract", Seq(),
        Seq("Exchange hashpartitioning", "Join")),
      // Gopher rule family: pure column algebra over the scan — all seven
      // millifraction rules in one map-only projection, no exchange, no
      // join, no UDF fence
      ("x_text_gopher_rules", Seq(),
        Seq("Exchange hashpartitioning", "Join", "BatchEvalPython")),
      // linear quality gate: the 1-row weights frame rides a broadcast
      // nested-loop (bounded build side BY CONSTRUCTION); featurization is
      // map-only — no hash exchange, no cartesian
      ("x_text_quality_lm", Seq("BroadcastNestedLoopJoin"),
        Seq("Exchange hashpartitioning", "CartesianProduct")),
      // curation v4 (web front door): the extracted-text frame is cached
      // (InMemory scan — uncached, every feature reference re-inlines the
      // whole extraction tree: 44 copies of the script-strip regex,
      // measured 2.85 s -> 0.64 s at sf0.1) and the per-source cap plans
      // as WindowGroupLimit
      ("x_curation_pipeline_v4",
        Seq("InMemoryTableScan", "WindowGroupLimit"),
        Seq("CartesianProduct")),
      // URL curation: canonical dedup is a partial-combinable min_by hash
      // aggregate, the domain blocklist an anti-join on a broadcast
      // (never a corpus-side shuffle), the per-domain cap WindowGroupLimit
      ("x_url_curation",
        Seq("partial_min_by", "WindowGroupLimit", "LeftAnti"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // incremental dedup: verdict aggregation partial-combines; no
      // cartesian anywhere (the STRONG exchange-free index-probe pin —
      // zero index-side exchange under forced shuffle mode — lives in
      // BucketingSpec, which controls the broadcast threshold)
      ("x_dedup_incremental", Seq("partial_min"),
        Seq("CartesianProduct")),
      // perceptron scoring (r21): vector-form features + the driver-held
      // dense weight array make the margin an intra-row sparse_dot — the
      // scoring face is MAP-ONLY over the feature checkpoint: no weight
      // join, no doc-grain aggregate (either would shuffle the corpus
      // for a <= dims-long vector)
      ("x_classifier_scores", Seq("sparse_dot"),
        Seq("SortMergeJoin", "CartesianProduct", "BroadcastHashJoin")),
      // trained language ID (r21): the K·dims one-vs-rest weights are
      // driver-held dense arrays and the features vector-form — all K
      // margins are intra-row sparse dots and the argmax a K-way
      // greatest, MAP-ONLY (no weight join, no (doc, lang) fan-out, no
      // doc-grain aggregate). The terminal universe-stitch join is
      // doc-grain ⋈ doc-grain — a sort-merge THERE is the correct 100 TB
      // shape (AQE broadcasts it when the argmax side is small), so only
      // the never-correct shapes are forbidden
      ("x_text_langid_trained", Seq("sparse_dot"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // chunking: intra-row transform + posexplode riding the scan — the
      // only cost is the explode fan, no exchange, no join
      ("x_text_chunk", Seq("Generate posexplode"),
        Seq("Exchange hashpartitioning", "Join", "BatchEvalPython")),
      // robots.txt gate: the whole parse/group/match law is one fused
      // native projection riding the scan — no exchange, no join
      ("x_robots_filter", Seq("robots_decision"),
        Seq("Exchange hashpartitioning", "Join", "BatchEvalPython")),
      // Gopher repetition family: 13 rules from ONE fused native pass —
      // map-only over the scan, no exchange, no join, no UDF fence
      ("x_text_gopher_repetition", Seq("gopher_repetition"),
        Seq("Exchange hashpartitioning", "Join", "BatchEvalPython")),
      // PSL domain (r21): the rule table (9k lines at full scale —
      // structurally bounded by the public list itself) rides as a
      // LITERAL map and the prevailing-rule argmax is an intra-row
      // array_max over the fixed probe set — the whole law is map-only:
      // no join of any kind, no probe explode, no (id, host) exchange
      ("x_psl_domain", Seq("array_max"),
        Seq("SortMergeJoin", "CartesianProduct", "BroadcastHashJoin",
          "Generate explode")),
      // DSIR importance (r21): the dims-bounded wbits table and the
      // 2-value mean cut are driver-fetched dense arrays/literals and the
      // features vector-form — n_feats and importance_bits are intra-row
      // sparse dots, so the whole selector is MAP-ONLY over the feature
      // checkpoint (any join or doc-grain aggregate here would shuffle
      // the corpus for a <= dims build side)
      ("x_dsir_importance", Seq("sparse_dot"),
        Seq("SortMergeJoin", "CartesianProduct", "BroadcastHashJoin")),
      // perplexity terciles (r21): the tercile cuts resolve on the driver
      // from the bounded score-domain histogram (its partial-combining
      // aggregate runs inside the scored frame's checkpoint
      // materialization) and reach the docs as plan LITERALS — the
      // returned plan is a map-only projection over the checkpoint RDD:
      // no join, no window, no sort of the doc frame (CCNet's global
      // perplexity sort is the shape this law exists to avoid)
      ("x_text_ppl_buckets", Seq("Scan ExistingRDD"),
        Seq("SortMergeJoin", "CartesianProduct", "Window ",
          "BroadcastNestedLoopJoin")),
      // curation v7 (CCNet chain): gate verdicts AND survivor scores come
      // off checkpoint RDDs (the broadcast weight join runs inside the
      // first checkpoint's materialization — x_classifier_scores pins it
      // in-plan); never a cartesian across the five composed stages
      ("x_curation_pipeline_v7",
        Seq("Scan ExistingRDD"),
        Seq("CartesianProduct")),
      // chunk->ANN (the RAG composition): the IVF router must prune the
      // ADC sweep via the broadcast EQUI-join on cell and rank with
      // WindowGroupLimit heaps — a BNLJ/cartesian would re-scan the whole
      // chunk code table per query; the native ADC expression must be
      // in-plan
      ("x_chunk_ann", Seq("BroadcastHashJoin [cell", "WindowGroupLimit",
        "pq_adc_dist"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin")),
      // curation v8 (the full modern recipe): gate survivors and LM scores
      // come off checkpoint RDDs (composition points), and none of the
      // thirteen composed stages may plan a cartesian
      ("x_curation_pipeline_v8", Seq("Scan ExistingRDD"),
        Seq("CartesianProduct")),
      // df-cut: hot grams via partial agg + broadcast, pruning intra-row —
      // no per-gram window sort anywhere in the plan
      ("x_jaccard_dfcut", Seq("partial_count", "BroadcastExchange", "array_except"),
        Seq("RunningWindowFunction", "Window ")),
      // SAC storage walk: single scan, no exchange before the project
      ("p13_sac_storage", Seq("*(1)"), Seq("Exchange hashpartitioning")),
      // state table off the datastore decode: map-only up to the sort, no
      // shuffle on a key
      ("stellar_config_setting_real_xdr", Seq("*(1)"),
        Seq("Exchange hashpartitioning")),
      // token-transfer gate: the event frame must be checkpointed so its
      // huge expression tree is evaluated once — every consumer reads the
      // materialized RDD, not a re-expansion of the projection
      ("stellar_token_transfers", Seq("Scan ExistingRDD"), Seq()),
      // LSH embedding dedup (catalog query): ends in the clusters RDD scan;
      // the join shape is asserted separately on the pair generator below
      ("x_dedup_embedding_lsh", Seq("Scan ExistingRDD"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // iterative connected components: the returned frame must read the
      // materialized per-round RDD (constant-size plan), not a 2^rounds
      // composed join tree. The final corpus-stitch join may plan as
      // SortMergeJoin statically (label-frame size is unknown before the
      // loop runs); AQE converts it to broadcast at runtime when the
      // touched set is small, and a hint would instead force an OOM when
      // it is not — so only the never-correct shapes are forbidden here
      ("x_dedup_clusters", Seq("Scan ExistingRDD"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // vocab build: partial-agg + per-partition top-k heaps, never a
      // global sort of the full term table
      ("x_vocab_topk", Seq("partial_count", "TakeOrderedAndProject"),
        Seq("Sort ", "Window ")),
      // temperature mixing: a literal-map threshold filter riding the
      // scan — map-only like every hash-threshold sampler, no join, no
      // hash exchange (the terminal order-by range partition aside)
      ("x_sample_temperature", Seq(),
        Seq("Exchange hashpartitioning", "Join", "BatchEvalPython")),
      // per-key cap: the rank filter must plan as WindowGroupLimit (rank
      // pushdown keeps <= k rows per group on BOTH sides of the single
      // key exchange — the property that bounds a mega-domain's traffic)
      ("x_sample_capped", Seq("WindowGroupLimit", "Window "), Seq()),
      // BM25 retrieval: literal term filter before the one tf shuffle
      // (partial agg), df + corpus stats broadcast back, top-k heaps —
      // never a corpus-side shuffle join or global sort
      ("x_bm25_topk",
        Seq("partial_count", "TakeOrderedAndProject", "BroadcastExchange"),
        Seq("SortMergeJoin", "ShuffledHashJoin")),
      // substring-duplication spans: pure window relation — the cross-doc
      // test is min≠max over the gram partition and the island merge is a
      // doc-partition running sum; NO join of any kind may appear (a
      // positions⋈dup-grams join would re-shuffle the full corpus)
      ("x_dedup_substring", Seq("ngram_windows", "Window [sum(brk"),
        Seq("Join", "CartesianProduct")),
      // decontamination: the benchmark grams ride in as ONE broadcast row
      // (the corpus pass is map-only) — a corpus-side shuffle join is the
      // shape this operator exists to avoid
      ("x_decontaminate", Seq("BroadcastExchange"),
        Seq("SortMergeJoin", "ShuffledHashJoin")),
      // bloom-pruned decontamination: the corpus gram pass is gated by the
      // codegen'd bloom probe BEFORE any join — only candidates reach the
      // exact verify semi-join, so no shape that shuffles corpus text may
      // appear (the semi-join and count-back join ride broadcasts/AQE)
      ("x_decontaminate_bloom", Seq("bloom_might_contain"),
        Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
      // range join: interval bucketization makes it an equi-join — the
      // BNLJ Spark plans for raw inequality joins must never appear
      ("x_range_join", Seq(),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // as-of join: union + ONE windowed fill — no join operator at all
      // between the two sides (the purchase compaction's partial_max_by is
      // the only aggregate)
      ("x_asof_join", Seq("Window ", "partial_max_by"),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // sessionization: the built-in session-window aggregate — never a
      // self-join or a per-row window sort over the full log
      ("x_sessionize", Seq("session_window", "partial_count"),
        Seq("SortMergeJoin", "Window ")),
      // sequence packing: one shuffle on the shard + per-shard running sum
      ("x_pack_sequences", Seq("Window "),
        Seq("SortMergeJoin", "BroadcastNestedLoopJoin")),
      // composed curation pipeline: dedup survivor via partial min (map-side
      // combinable), the sample is a filter (no extra shuffle), packing's
      // window is the only sort — never a nested-loop join anywhere
      ("x_curation_pipeline", Seq("partial_min", "Window "),
        Seq("BroadcastNestedLoopJoin", "CartesianProduct")),
      // real-XDR soroban fee decomposition off the datastore batch files:
      // the connector scan, executor-side decode (SerializeFromObject over
      // the flatMap) and NO shuffle anywhere — the backfill is
      // embarrassingly parallel. Every *_real_xdr plan reads through the
      // graft-lcm-datastore connector, its only datastore reader.
      ("stellar_soroban_real_xdr",
        Seq("SerializeFromObject", "BatchScan graft-lcm-datastore"),
        Seq("Exchange hashpartitioning", "BroadcastNestedLoopJoin")),
      // the contract-events fan-out off decoded rows: two explodes +
      // codegen'd renderers, map-only
      ("stellar_contract_events_real_xdr",
        Seq("Generate", "BatchScan graft-lcm-datastore"),
        Seq("Exchange hashpartitioning", "BroadcastNestedLoopJoin")),
      // the soroban state tables off the datastore tree: executor-side
      // decode + flatMap projection, shuffle-free map-only backfill shape
      ("stellar_contract_data_real_xdr",
        Seq("SerializeFromObject", "BatchScan graft-lcm-datastore"),
        Seq("Exchange hashpartitioning", "BroadcastNestedLoopJoin")),
      ("stellar_contract_code_real_xdr",
        Seq("SerializeFromObject", "BatchScan graft-lcm-datastore"),
        Seq("Exchange hashpartitioning", "BroadcastNestedLoopJoin")),
      ("stellar_config_setting_real_xdr",
        Seq("SerializeFromObject", "BatchScan graft-lcm-datastore"),
        Seq("Exchange hashpartitioning", "BroadcastNestedLoopJoin")),
      // SAC transfer legs off decoded rows: explode + codegen'd event
      // parse, map-only (the fee/transfer union adds no shuffle)
      ("stellar_transfers_real_xdr",
        Seq("Generate", "BatchScan graft-lcm-datastore"),
        Seq("Exchange hashpartitioning", "BroadcastNestedLoopJoin")),
      // effects fan-out off decoded rows: one typed flatMap (the column
      // tree cost ~4s of fixed Catalyst latency per job — see the
      // historyEffects scaladoc), still map-only
      ("stellar_effects_real_xdr",
        Seq("SerializeFromObject", "BatchScan graft-lcm-datastore"),
        Seq("Exchange hashpartitioning", "BroadcastNestedLoopJoin")),
      // the datastore DSv2 connector: range pushdown reaches the scan
      // (key-law pruning) and the object grain stays metadata-only
      ("src_datastore_range_scan",
        Seq("BatchScan graft-lcm-datastore", "PushedFilters"),
        Seq("Exchange hashpartitioning", "BroadcastNestedLoopJoin")),
      // classic LP/CB effects off the datastore connector: connector scan →
      // executor decode → one typed flatMap, map-only like every wire plan
      ("stellar_lp_cb_real_xdr",
        Seq("BatchScan graft-lcm-datastore", "SerializeFromObject"),
        Seq("Exchange hashpartitioning", "BroadcastNestedLoopJoin"))
    )
    val byName = (QueryCatalog.all ++ QueryCatalog.entryOps).map(q => q.name -> q).toMap
    var bad = 0
    def check(name: String, df: org.apache.spark.sql.DataFrame,
        expects: Seq[String], rejects: Seq[String]): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      println(s"\n======== $name ========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(4000))
      expects.foreach { e =>
        val ok = plan.contains(e)
        if (!ok) bad += 1
        println(s"  CHECK ${if (ok) "PASS" else "MISS"}: $e")
      }
      rejects.foreach { e =>
        val ok = !plan.contains(e)
        if (!ok) bad += 1
        println(s"  CHECK ${if (ok) "PASS" else "MISS"}: absent $e")
      }
    }
    interesting.foreach { case (name, expects, rejects) =>
      check(name, byName(name).fn(spark, sfDir), expects, rejects)
    }
    // history_operations: one compiled kernel per op renders `details` and
    // `details_json`; the Column law's to_json → regexp_replace →
    // parse_json chain over the details struct must not come back. Only
    // stellar_soroban_real_ops keeps the op frame in its returned plan (the
    // narrow consumers read a checkpoint of it).
    locally {
      import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, StructsToJson}
      import graft.plans.{OperationDetailsExpression, OperationDetailsKernel}
      Seq("stellar_soroban_real_ops").foreach { name =>
        val exprs = byName(name).fn(spark, sfDir).queryExecution.optimizedPlan
          .flatMap(_.expressions.flatMap(_.collect { case e => e }))
        val kernels = exprs.count(_.isInstanceOf[OperationDetailsExpression])
        val chain = exprs.count {
          case j: StructsToJson =>
            j.child.dataType == OperationDetailsKernel.DetailsType
          case _: RegExpReplace => true
          case _ => false
        }
        println(s"\n======== $name (details kernel) ========")
        Seq(("one operation_details kernel", kernels == 1),
            ("absent to_json(details) / regexp_replace", chain == 0))
          .foreach { case (what, ok) =>
            if (!ok) bad += 1
            println(s"  CHECK ${if (ok) "PASS" else "MISS"}: $what " +
              s"(kernels $kernels, json chain $chain)")
          }
      }
    }
    // the LSH pair generator's own plan (the catalog query ends in the
    // clusters RDD scan, which hides the join): candidates MUST come from a
    // bucket equi-join — a BroadcastNestedLoopJoin/CartesianProduct here is
    // the O(n²) regression this path exists to avoid
    check("x_dedup_embedding_lsh (pair generator)",
      graft.operators.Dedup.cosineDupPairsLsh(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        "vec_id", "embedding", cosNum = 99, cosDen = 100),
      Seq("HashJoin"),
      Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
    // persisted IVF index: the probe join over the bucketed-by-cell
    // inverted file must be exchange-free on the INDEX side — in
    // large-batch (non-broadcast) mode the only cell-hash exchange left
    // in the plan is the query batch's
    locally {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val built = graft.operators.Similarity.buildIvfIndexExact(
        emb, "vec_id", "embedding", nCells = 8)
      graft.operators.Similarity.writeIvfIndex(built, "audit_ivf", buckets = 8)
      val idx = graft.operators.Similarity.readIvfIndex(spark, "audit_ivf")
      // force the large-batch (sort-merge) shape: at real scale the query
      // batch exceeds the broadcast threshold
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val res = graft.operators.Similarity.searchIvfIndexExact(
        idx, emb.limit(16), "vec_id", "embedding",
        k = 3, nprobe = 2, broadcastQueries = false)
      check("ivf bucketed search", res,
        Seq("Bucketed: true", "SelectedBucketsCount: 8 out of 8"), Seq())
      val cellExchanges = "Exchange hashpartitioning\\(cell".r
        .findAllIn(res.queryExecution.executedPlan.toString).length
      val ok = cellExchanges == 1
      if (!ok) bad += 1
      println(s"  CHECK ${if (ok) "PASS" else "MISS"}: " +
        s"one cell-hash exchange (query side only), got $cellExchanges")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    println(s"\nplan-property misses: $bad")
    spark.stop()
  }
}
