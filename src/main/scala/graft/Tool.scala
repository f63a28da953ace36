package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, GenerateExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

import graft.util.PlanNodes

/** Query-iteration tool over the registered queries, on one
  * [[GraftSession]]:
  * {{{
  *   sbt "runMain graft.Tool time <query> <sfDir>"
  *   sbt "runMain graft.Tool explain <sfDir> <outDir> <suffix> <q1,q2|all>"
  *   sbt "runMain graft.Tool reuse <sfDir> <q1,q2,...>"
  *   sbt "runMain graft.Tool plans <sfDir>" > PLANS.md
  * }}}
  *  - `time` warms the query once, then times 3 passes and their min. Each
  *    pass builds the DataFrame and writes it to the `noop` sink, which
  *    runs the full plan (a `count()` lets Catalyst prune sorts, windows,
  *    joins and codec calls).
  *  - `explain` writes `.explain("formatted")` of each query to
  *    `<outDir>/<query>_<suffix>.txt`: the evidence trail of an
  *    optimization (`before` / `after`).
  *  - `reuse` runs each query and prints the live shuffle-exchange,
  *    reused-exchange, generate and scan counts of its FINAL adaptive plan,
  *    which static `.explain` cannot show (reuse is a runtime stage-cache
  *    effect). Distinct by id: a subtree materialized once counts once.
  *  - `plans` prints the PLANS.md audit: the executedPlan of each headline
  *    query whose plan SHAPE is a design claim, so the audit can be
  *    refreshed after any operator change instead of drifting.
  */
object Tool {

  /** (query, one-line claim being audited). */
  val audited: Seq[(String, String)] = Seq(
    "scan_project_filter" -> "pushdown: PushedFilters + pruned ReadSchema",
    "q1_sales_per_month" -> "star join: broadcast dims, partial_count/partial_sum before exchange",
    "q2_top_parts" -> "top-k: TakeOrderedAndProject, no global sort",
    "bucketed_join" -> "co-located join: no Exchange below the join",
    "window_rank_per_group" -> "ranking shares ONE exchange with its aggregation",
    "scalar_subquery" -> "correlated scalar subquery decorrelated to an aggregate + join",
    "dedup_cosine" -> "block-pair cross product: one hash shuffle on the block key, no broadcast/local relation",
    "salted_distinct" -> "two-phase distinct: partial per (key, value-salt), final re-aggregation per key",
    "sk_scalable_fact" -> "fact-scale SK: range exchange + in-partition sort, no single-task window",
    "ntile_deciles" -> "exact ntile WITHOUT the per-group window: range exchange + zipWithIndex rank + closed-form tiles - no single-task-per-status stage (18.5 -> 7.7 s at sf10)",
    "ann_topk_lsh" -> "LSH probe join: corpus stays map-side, query side broadcast",
    "dedup_minhash_lsh" -> "banded candidates: equi-join on (band, value), exact verify on candidates only",
    "dedup_ngram_jaccard" -> "count shape at t=0.5 (r17 threshold-adaptive): gram self-join aggregated straight to pair counts, no per-pair arrays across any exchange; corpus scale runs it as sequential gram shards",
    "topk_per_group_agg" -> "bounded top-K: partial_topkagg before the group shuffle, no Window sort",
    "timeseries_gapfill" -> "gap-fill: broadcast type dim onto the generated calendar, left join of the pre-agg",
    "dedup_cosine_lsh" -> "bucketed near-dup: candidates from (tbl, bucket) equi-joins, no cartesian",
    "range_join_islands" -> "custom IntervalJoinExec: probe side streamed, no BroadcastNestedLoopJoin",
    "tfidf_top_terms" -> "explode linear ONCE (r17): df as a count window over tf partitioned by tok - no second distinct pipeline, no vocab join; per-doc ranking window",
    "text_top_bigrams" -> "fan-out exchange before the explode, partial count, TakeOrderedAndProject",
    "salted_join" -> "salted exchange on (key, salt) both sides, build side replicated, no broadcast",
    "knn_graph" -> "LSH candidates from (tbl, bucket) equi-joins, per-vector ranking window, no cartesian",
    "contamination_ngrams" -> "codegen gram build (lead windows, no HOF); single per-doc pass (r17): benchmark grams broadcast LEFT join mark hits, n_grams + n_hit in ONE aggregate",
    "sequence_pack" -> "one hash exchange on the shard key + in-partition sort, then a linear stateful scan",
    "dedup_keep_best" -> "argmax as packed struct max: partial_max before the group-hash exchange, no window",
    "gen_source_scan" -> "DSv2 pushdown: scan description shows the pruned range and projected cols, no post-scan Filter on id",
    "graph_pagerank" -> "3 unrolled power-iteration rounds: per-round one hash exchange on the destination key",
    "interval_coverage" -> "binned sweep-line: windows partitioned by (prio, bin) - distributed mini-sweeps, no single-task sort",
    "embedding_covariance" -> "outer-product reduction: pipelined generators, partial_sum before one dim^2-sized exchange",
    "window_range_frame" -> "value-based RANGE frame: one exchange on the partition key, linear per-partition sweep",
    "lm_score" -> "bigram LM: hash-aggs on the bigram key, model joined back by key - never collected",
    "forget_keys" -> "deletion cascade: broadcast key-list anti-join on orders, keyed anti-join on the fact",
    "ngram_udtf" -> "custom Generate node feeds partial count, TakeOrderedAndProject cut",
    "dpp_star_scan" -> "dynamic partition pruning: fact scan carries dynamicpruningexpression(sale_year), only matching year dirs listed",
    "snapshot_star_read" -> "snapshot-consistent star: fact + dims all resolved from ONE _SNAPSHOT manifest, dims broadcast, partial aggs before the exchange",
    "pmi_bigrams" -> "codegen gram build via word_ngrams Generate (no interpreted HOF); N_uni/N_big folded from the count tables (r17, one scan), vocab joins, TakeOrderedAndProject",
    "dq_checks" -> "column rules + uniqueness in ONE combined aggregate pass: exactly two lineitem scans total (rules + FK probe)",
    "paginated_keyset" -> "keyset cursor: the Or-predicate lands in PushedFilters on the part scan, O(page) at any depth",
    "span_prune_firstwins" -> "first-wins span prune: fingerprint min-agg, one join back, per-doc sorted rebuild - no all-pairs",
    "sketch_union_distinct" -> "mergeable HLL rollup: partial hll_sketch_agg map-side, union-agg over stored sketches, no raw re-pass",
    "dedup_substring" -> "anchor-gram LCS: O(n) rolling_hash_windows Generate, digest-keyed self-join after the DF-cap anti-join, diagonal windows on matches only, no cartesian",
    "boilerplate_strip" -> "template strip: per-(source, digest) distinct count, one digest-keyed join back, per-doc ordered reassembly",
    "weighted_sample" -> "priority sample: TakeOrderedAndProject merges per-partition top-m heaps, the corpus never sorts or shuffles",
    "recursive_subtree_rollup" -> "WITH RECURSIVE closure: UnionLoop iterates a per-level parent-key hash join, rollup aggregates the closure once",
    "corr_matrix" -> "single-scan moment profile: 15 partial aggregates off ONE lineitem FileScan, stack() fans the 1-row moments out",
    "pit_join" -> "point-in-time join: interval predicate rides the equi-key hash join (no nested loop), dim side broadcast",
    "aqe_skew_join" -> "AQE skew split: planted 80%-hot key, SMJ regime; AqeSkewSpec asserts isSkewJoin in the FINAL adaptive plan (explain here shows the pre-execution shape)",
    "ann_topk_pq" -> "PQ ADC: pq_encode/pq_table/pq_adc codegen kernels, codes cached, seeded 64-query budget broadcast, topk_min partial aggregation instead of a window sort",
    "multimodal_decode_ppm" -> "image decode: per-row PpmCodec.decode inside one mapPartitions, zero shuffle before the tiny feature rows",
    "ann_topk_ivfpq" -> "IVF-PQ: cell-equi-join prunes the scan to nprobe cells, cached (cell, codes) index side, pq_adc + topk_min partial aggregation",
    "runtime_bloom_join" -> "InjectRuntimeFilter: fact side carries might_contain(bloom_agg(selective dim keys)) before its shuffle, no query rewrite",
    "multimodal_decode_jpeg" -> "jpeg decode: per-row Huffman+IDCT inside one mapPartitions behind a fanout exchange of doc ids (r17: 32-way codec stage); only id ints shuffle before the tiny feature rows",
    "multimodal_decode_jpeg_420" -> "subsampled-jpeg decode: per-row 6-block-MCU entropy decode + replication upsample + BT.601 inside one mapPartitions behind a fanout exchange of doc ids (r17: 32-way codec stage); only id ints shuffle before the tiny feature rows",
    "multimodal_decode_jpeg_progressive" -> "progressive-jpeg decode: per-row 9-scan coefficient accumulation (spectral bands + bit refinements) + one assembly IDCT inside one mapPartitions behind a fanout exchange of doc ids (r17: 32-way codec stage); only id ints shuffle before the tiny feature rows",
    "ann_recall_eval" -> "sampled recall gate: seeded 64-query sample broadcast-semi-joins both rankings - O(corpus x budget), the exact interior never goes all-queries",
    "ann_topk_bruteforce" -> "sampled exact anchor: seeded 64-query budget broadcast-semi-joined into the query set, corpus never shuffles - O(corpus x budget), never O(n x q)",
    "ann_topk_int8" -> "sampled int8 anchor: same seeded budget, codegen ArrayDot over the integer codes, query side broadcast",
    "multimodal_decode_png16" -> "16-bit + Adam7 png decode: per-row byte-level unfilter + 7-pass scatter inside one mapPartitions, zero shuffle before the tiny feature rows",
    "multimodal_decode_png_sub8" -> "sub-byte png decode: per-row MSB-first bit unpack over byte-padded pass rows inside one mapPartitions, zero shuffle before the tiny feature rows",
    "multimodal_decode_jpeg_lossless" -> "lossless jpeg decode: per-row predictor+Huffman difference decode at native precision inside one mapPartitions, zero shuffle before the tiny feature rows",
    "multimodal_decode_jpeg_arith" -> "arithmetic-jpeg decode: per-row QM-coder (Table D.3 state machine) entropy decode + one assembly IDCT inside one mapPartitions behind a fanout exchange of doc ids (r17: 32-way codec stage); only id ints shuffle before the tiny feature rows",
    "multimodal_decode_jpeg_lossless_rgb" -> "RGB lossless jpeg decode: per-row 3-plane interleaved predictor decode inside one mapPartitions, zero shuffle before the tiny feature rows",
    "multimodal_phash_dedup" -> "perceptual near-dup (r17): 32-way codec stage runs ONCE behind a fingerprint-proxy exchange (ReusedExchange on all 4 consumers), banded equi-join candidates, bit_count exact verify only, no cartesian",
    "multimodal_decode_gif" -> "gif decode: per-row LZW + palette + de-interlace inside one mapPartitions, zero shuffle before the tiny feature rows",
    "order_status_dwell" -> "time-in-status percentiles: ONE hash exchange on user_id feeds the lead window, percentile aggregates over the status-sized residue",
    "data_skipping_read" -> "zone-map file pruning: the FileScan's InMemoryFileIndex lists ONLY the surviving files (paths count < total staged files), date filter still applied on the residue",
    "tpch_small_quantity" -> "Q17 decorrelation: both correlated scalar subqueries merged into ONE grouped aggregate joined back by part key, no nested-loop execution",
    "merge_upsert_mor" -> "merge-on-read read path: DV applied as a broadcast anti-join on the physical position, data + _mor scan union never shuffles",
    "dsir_importance_sample" -> "DSIR (r17/r18): ONE explode pre-aggregated to (doc, lang, bucket, cnt) shared by histogram + scoring branches; 256-row bucket stats broadcast back; top-100 kept flag via broadcast topk_min threshold (r18) - no partition-less window, only count-weighted ints move",
    "graph_bfs_distances" -> "BFS: 4 unrolled levels, each one frontier-edge hash join + reached anti-join, frontier-sized exchanges only",
    "phrase_search" -> "positional inverted index: each phrase term reads its own PushedFilters-pruned sliver of the stored term-sorted index, adjacency joins carry candidate positions only - the corpus is never scanned at query time",
    "analyze_table_stats" -> "ANALYZE stats: ONE aggregate pass - multi-distinct planned via Expand, no join, min/max/null counts ride the same shuffle",
    "merge_full" -> "full MERGE matrix read path: same DV broadcast anti-join + data+_mor union as merge_upsert_mor; the merge WRITE classified matched/not-matched-by-source in one broadcast-source pass",
    "table_changes" -> "change-data-feed read: one FileScan over batch-sized _changes files with a hash-agg on top - the table itself is never scanned; the feed was an O(batch) by-product of the MERGE's own classification",
    "table_changes_range" -> "CDF range read: the FileScan lists ONLY the in-range commit files (c2-*) - a consumer of recent changes never pays for the history it skipped",
    "mv_join_from_changes" -> "join-MV maintenance: the delta side is one scan of batch-sized _changes files joined to the BROADCAST dim, folded into the seed by a full-outer on the MV key - refresh cost is |changes| + |MV|, never |fact|",
    "table_rename_column" -> "column-mapped read: plain FileScan of the live version with an alias-only Project on top - the rename/drop were _COLMAP metadata; no file was rewritten and the scan schema is unchanged",
    "text_nfc_normalize" -> "NFC canonicalization: one codegen'd projection over the corpus scan (native Expression, no UDF) - zero shuffle before the presentation sort",
    "table_clone" -> "shallow clone read: plain FileScan of the clone's version dir - the clone is hardlinks, so plan and cost are identical to reading the source version; no copy ever happened",
    "table_clone_merged" -> "merged-clone read: same DV broadcast anti-join + data+_mor union as the source table - filename-keyed positions survived the relocation, so the plan is byte-for-byte the merged read, just over linked inodes",
    "constrained_write" -> "CHECK-enforced write: violation counts ride the write job as observe metrics (CollectMetrics node over the scan) - zero extra passes; the refused commit never moves the pointer",
    "merge_schema_evolution" -> "evolved merge read: footer-level mergeSchema + union with NULL backfill for pre-evolution rows - the widened projection is the only plan change, no data was ever rewritten",
    "generated_columns" -> "generated-column read: plain scan of the stored table - generation ran once at write time (computed or observe-verified), queries pay nothing",
    "bm25_rank" -> "inverted-index probe: the query-term Filter sits directly on the postings before any exchange, df + corpus scalars broadcast, TakeOrderedAndProject top-20",
    "assoc_rules" -> "basket expansion over the stored basket artifact (r18: collect_set finalized once per corpus version; r17: codegen two-explode pair fan-out, no interpreted HOF) feeds the pair hash-agg, item-count side broadcast twice, scalar basket count broadcast - no all-pairs self-join",
    "gini_pareto" -> "inequality rollup: fact partial-agg on custkey, nation-partitioned ranking window, 25-row count/nation dims broadcast",
    "auto_preagg_join" -> "AUTOMATIC partial-agg pushdown: PushAggThroughUniqueJoin pre-aggregates the fact on the join key below the join (naive query form, rewritten plan)",
    "auto_preagg_multikey" -> "multi-key pushdown: uniqueness proven from the (partkey, suppkey) conjunction, AVG split into pushed sum+count partials, fact collapses per composite key below the join",
    "sparse_retrieval" -> "inverted-index probe: weight table read from the stored silver artifact (cached), query-side builds pre-filtered to the %100 candidate slice (r18), query postings broadcast, per-pair partial_sum before the exchange, partitioned rank; ranked top-k memoized per session (r18)",
    "rrf_fusion" -> "rank fusion: both rankers' candidate lists (each a memoized session artifact - knn edges, sparse top-k) meet in a full-outer join, no corpus-sized input reaches the fusion and neither ranker re-runs (r18)",
    "dv_file_prune" -> "DV x skipping composition: fully-deleted files leave the FileScan path list (metadata-only DV-vs-sidecar join decides), partial files keep the broadcast positional anti-join"
  )

  private val usage = """usage: graft.Tool time <query> <sfDir>
    |       graft.Tool explain <sfDir> <outDir> <suffix> <q1,q2|all>
    |       graft.Tool reuse <sfDir> <q1,q2,...>
    |       graft.Tool plans <sfDir>""".stripMargin

  /** The one name lookup: an unknown name fails with the known ones. */
  def lookup(name: String): QuerySpec =
    SparkEntry.specs.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name'; known: ${SparkEntry.specs.keys.toSeq.sorted.mkString(", ")}"))

  private def lookupAll(list: String): Seq[QuerySpec] =
    (if (list == "all") SparkEntry.specs.keys.toSeq.sorted else list.split(",").toSeq).map(lookup)

  def main(args: Array[String]): Unit = {
    // resolve every name before the session starts: a typo fails fast
    val command: SparkSession => Unit = try args.toSeq match {
      case Seq("time", name, sfDir) =>
        val q = lookup(name)
        time(_, q, sfDir)
      case Seq("explain", sfDir, outDir, suffix, list) =>
        val qs = lookupAll(list)
        explain(_, qs, sfDir, outDir, suffix)
      case Seq("reuse", sfDir, list) =>
        val qs = lookupAll(list)
        reuse(_, qs, sfDir)
      case Seq("plans", sfDir) =>
        val qs = audited.map { case (n, claim) => lookup(n) -> claim }
        plans(_, qs, sfDir)
      case _ => throw new IllegalArgumentException(usage)
    } catch { case e: IllegalArgumentException =>
      System.err.println(s"[tool] ${e.getMessage}")
      sys.exit(2)
    }
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try command(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, q: QuerySpec, sfDir: String): Unit = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    pass() // warm: plan, caches, JIT
    val times = (1 to 3).map { i =>
      val t = pass()
      println(f"[time] ${q.name} pass $i: $t%.3f s")
      t
    }
    println(f"[time] ${q.name} min: ${times.min}%.3f s")
  }

  private def explain(spark: SparkSession, qs: Seq[QuerySpec],
      sfDir: String, outDir: String, suffix: String): Unit = {
    val dir = Files.createDirectories(Paths.get(outDir))
    qs.foreach { q =>
      val txt = q.build(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.writeString(dir.resolve(s"${q.name}_$suffix.txt"), txt)
      System.err.println(s"[explain] ${q.name} -> ${q.name}_$suffix.txt (${txt.length} chars)")
    }
  }

  private def reuse(spark: SparkSession, qs: Seq[QuerySpec], sfDir: String): Unit =
    qs.foreach { q =>
      val nodes = PlanNodes.executedNodes(q.build(spark, sfDir))
      val live = nodes.collect { case e: ShuffleExchangeExec => e.id }.distinct.size
      val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
      val gens = nodes.collect { case g: GenerateExec => g.id }.distinct.size
      val scans = nodes.collect { case s: FileSourceScanExec => s.id }.distinct.size
      println(s"[reuse] ${q.name}: liveShuffles=$live reusedExchanges=$reused " +
        s"liveGenerates=$gens liveScans=$scans")
    }

  private def plans(spark: SparkSession, qs: Seq[(QuerySpec, String)], sfDir: String): Unit = {
    println(s"# PLANS - physical-plan audit (generated by graft.Tool plans at ${Paths.get(sfDir).getFileName})")
    println()
    println("""Evidence that the headline plans are the plans we want: filters and
projections reach the parquet scan, dims broadcast, aggregates are
partial before the shuffle, top-k plans as TakeOrderedAndProject, the
bucketed join has no Exchange, ranking shares one exchange with its
aggregation, the correlated scalar subquery is decorrelated, the cosine
block product shuffles once on the block key, and the salted distinct
aggregates partially per salt. Regenerate with:
`sbt "runMain graft.Tool plans <sfDir>" > PLANS.md`""")
    qs.foreach { case (q, claim) =>
      val df = q.build(spark, sfDir)
      println()
      println(s"## ${q.name} - $claim")
      println()
      println("```")
      // executedPlan, truncated per line to keep the audit reviewable
      println(df.queryExecution.executedPlan.toString.linesIterator
        .map(l => if (l.length > 400) l.take(397) + "..." else l)
        .mkString("\n").trim)
      println("```")
    }
  }
}
