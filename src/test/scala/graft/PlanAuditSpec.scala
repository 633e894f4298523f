package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupOps
import graft.sources.Tables

/** Plan-shape audits: assert the SCALE properties the engine is designed
  * around, not just result correctness — filters and projections reach
  * the parquet scan, dimension joins broadcast, sketch computation stays
  * map-side. A plan regression here is a 100 TB problem that sf0.01
  * results would never show.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = TestSpark.session

  // Audit the plan under the query's declared execution settings — the
  // same path Bench and Verify run — so the asserted shape is the shape
  // that actually executes (e.g. q101 pins AQE off, making static
  // exchange reuse visible).
  private def plan(name: String): String =
    SparkEntry.withQueryConfs(spark, name) {
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    }

  test("q02: filter is pushed to the parquet scan and columns are pruned") {
    val p = plan("q02_filter_project")
    // the plan string truncates long filter lists; the leading pushed
    // filters are stable evidence that pushdown reached the scan
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity)"),
      "filters not pushed to the parquet scan")
    // projection pruning: the 16-column lineitem scan must read only the
    // 5 referenced columns — l_comment/l_tax etc. absent from ReadSchema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q03: all three dimension joins broadcast; no dim-side shuffle") {
    val p = plan("q03_join_revenue_by_nation")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3,
      s"expected customer/nation/region to broadcast, found $broadcasts")
  }

  test("minhash signatures are map-side: only the fan-out exchange") {
    val docs = Tables.load(spark, dir, "documents")
    val p = DedupOps.minhashSignatures(docs)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1,
      s"signature computation should shuffle ONLY for the initial spread, found $exchanges exchanges:\n$p")
  }

  test("LSH pair generation adds exactly one aggregation exchange") {
    val docs = Tables.load(spark, dir, "documents")
    val sig = DedupOps.setsWithSignatures(docs, 8, 12)
    val p = DedupOps.pairsFromBands(sig, 12, 3)
      .queryExecution.executedPlan.toString
    // spread + bucket groupBy + final distinct = 3 exchanges
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges <= 3,
      s"pair generation grew extra shuffles ($exchanges):\n$p")
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q01_pricing_summary")
    // two HashAggregate nodes (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "grouped aggregation lost its partial (map-side) phase")
  }

  test("q72 range join: equi-join on (keys, bucket), never a cartesian/NL join") {
    val p = plan("q72_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a non-equi join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "range join lost its equi-join formulation")
  }

  test("q78 gap fill: the date spine broadcasts; the fact side never shuffles for the join") {
    val p = plan("q78_gap_fill")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"spine join should broadcast the O(days) side:\n$p")
  }

  test("q80 fuzzy match: distance runs on the DISTINCT dictionary, not the fact table") {
    val df = SparkEntry.queries("q80_fuzzy_pairs")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the dictionary self-join must be preceded by distinct aggregation
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "fuzzy join lost its dictionary (distinct) reduction")
  }

  test("passage dedup op: spread + passage-rank + doc-regroup, no extra shuffles") {
    val docs = Tables.load(spark, dir, "documents")
    val p = DedupOps.passageDedup(docs)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges <= 3, s"passage dedup grew extra shuffles ($exchanges):\n$p")
  }

  test("q85 funnel: per-stage joins stay partial-aggregated, no window explosion") {
    val p = plan("q85_funnel")
    assert(!p.contains("CartesianProduct"), "funnel produced a cartesian join")
    assert(!p.contains("Window"), "funnel should use conditional aggs, not windows")
  }

  test("q12 token stats: row-local, zero exchanges") {
    val p = plan("q12_unnest_tokens")
    assert(!p.contains("Exchange"),
      s"per-document token stats must not shuffle (row-local size/array_distinct):\n$p")
    assert(!p.contains("Generate"),
      s"token stats should not explode rows:\n$p")
  }

  test("q06 latest-order: partial-aggregated max_by, no window sort") {
    val p = plan("q06_window_latest_order")
    assert(!p.contains("Window"),
      s"top-1-per-group should be max_by aggregation, not a window sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2
      || "ObjectHashAggregate".r.findAllIn(p).length >= 2
      || "SortAggregate".r.findAllIn(p).length >= 2,
      s"latest-order aggregation lost its partial (map-side) phase:\n$p")
  }

  test("ivfAssign: fused literal-seed argmin — a pure map pass, " +
      "no shuffle, no join, no aggregate") {
    val emb = Tables.load(spark, dir, "embeddings")
    val physical = graft.ops.VectorOps.ivfAssign(emb, 16)
      .queryExecution.executedPlan
    val p = physical.toString
    // the seed pick is a separate bounded driver collect
    // (TakeOrderedAndProject job); the RETURNED plan must be assignment
    // arithmetic at scan width and nothing else — the previous shape
    // paid a 16x broadcast-join row explosion plus a corpus-wide min_by
    // shuffle for per-row math
    assert(!p.contains("Join"), s"ivfAssign grew a join back:\n$p")
    assert(!p.contains("Aggregate"),
      s"ivfAssign grew an aggregation (argmin must be a least fold):\n$p")
    assert(!p.contains("Window"), s"argmin must not be a window sort:\n$p")
    val exchanges = physical.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the only allowed exchange is spread()'s round-robin re-fan
    assert(exchanges.forall(
        _.outputPartitioning.toString.contains("RoundRobin")),
      s"ivfAssign shuffles on a key — the map pass regressed:\n$p")
  }

  test("nearestCentroid: argmin aggregation, no window, no global sort") {
    val emb = Tables.load(spark, dir, "embeddings")
    val physical = graft.ops.VectorOps.nearestCentroid(emb)
      .queryExecution.executedPlan
    val p = physical.toString
    assert(!p.contains("Window"),
      s"per-vector argmin should be min_by aggregation, not a window sort:\n$p")
    val globalSorts = physical.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, s"nearestCentroid plans a global sort:\n$p")
  }

  test("q20: running-total window is key-partitioned, never SinglePartition") {
    val p = plan("q20_window_running_sum")
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"),
      s"global (unpartitioned) window — all data to one task:\n$p")
  }

  test("q25 chain: no cartesian product, no nested-loop join anywhere") {
    val p = plan("q25_jaccard_neardups")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"near-dup chain fell off the equi-join path:\n$p")
  }

  test("q125 dup-spans: island window is doc-partitioned, no cartesian, " +
      "no SinglePartition") {
    val p = plan("q125_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"dup-span chain fell off the equi-join path:\n$p")
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"),
      s"island merge window is global — all duplicated positions to one task:\n$p")
  }

  test("q126 cross near-dups: strictly equi-joins, never a corpus-side " +
      "cartesian") {
    val p = plan("q126_cross_neardups")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"cross-dedup chain fell off the equi-join path:\n$p")
    // both verification sides are semi-join-filtered before shingling
    assert("LeftSemi".r.findAllIn(p).length >= 2,
      s"candidate filtering lost a semi-join:\n$p")
  }

  test("q27 cosine top-k: WindowGroupLimit pushdown + broadcast of the " +
      "query side only") {
    val p = plan("q27_cosine_topk")
    // rank<=k is executed as partial+final WindowGroupLimit (per-group
    // top-k heaps before the shuffle), not a full sort of all scores
    assert(p.contains("WindowGroupLimit"),
      s"top-k filter lost the group-limit pushdown:\n$p")
    // the intentional brute-force pairing broadcasts the SMALL query set;
    // the candidate side must never hash-exchange for the join itself
    assert(p.contains("BroadcastExchange"),
      s"query side should broadcast:\n$p")
  }

  test("q101 tf-idf: ONE doc-stream shuffle; vocabulary broadcasts back; " +
      "top-k is a group limit") {
    val p = plan("q101_tfidf_topk")
    // the exploded doc-term stream shuffles exactly once (the up-front
    // doc_id repartition); tf-agg and the per-doc window both reuse that
    // partitioning, the df branch re-reads it via ReusedExchange (don't
    // count the reference line as a shuffle), and df comes back broadcast
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(shuffles <= 2,
      s"expected ≤2 hash exchanges (doc spread + vocab agg), found $shuffles:\n$p")
    assert(p.contains("ReusedExchange"),
      s"df branch should reuse the doc_id exchange, not recompute the scan:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"vocabulary side should broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k lost the group-limit pushdown:\n$p")
  }

  test("q105 shingle novelty: aggregation shape, no window over the " +
      "shingle stream") {
    val p = plan("q105_shingle_novelty")
    assert(!p.contains("Window"),
      s"novelty must not sort the corpus-scale shingle stream in a window:\n$p")
    // ownership is a hash-aggregated min per shingle: map-side partial
    // before the only corpus-scale exchange
    assert(p.contains("partial_min") || p.contains("partial_merge")
        || "HashAggregate".r.findAllIn(p).length >= 4,
      s"shingle ownership should partial-aggregate map-side:\n$p")
  }

  test("q111 cluster quality: ONE member-scale pass (single parquet scan), " +
      "bounded tail") {
    val p = plan("q111_cluster_quality")
    val scans = "Scan parquet".r.findAllIn(p).length
    val cached = "InMemoryTableScan".r.findAllIn(p).length
    // the persisted moment frame pins plan sharing: every consumer reads
    // the cache, so the member corpus is scanned exactly once regardless
    // of how many metrics derive from it
    assert(cached >= 2, s"moment frame should be read from cache:\n$p")
    assert(scans <= cached,
      s"member corpus must not be re-scanned per consumer ($scans parquet scans):\n$p")
    // rows stay WHOLE through the member pass: vec_moments aggregates the
    // raw embedding arrays (hash-based object aggregation, partial before
    // the exchange), with no Generate (posexplode) inflating the stream
    // dims-fold anywhere in the plan
    assert(!p.contains("Generate"),
      s"member stream must not be exploded:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"vec_moments should run as hash-based object aggregation, not " +
        s"sort-based:\n$p")
    assert(p.contains("partial_vecmoments") || p.contains("partial_vec_moments")
        || p.toLowerCase.contains("vecmoments") || p.contains("vec_moments"),
      s"member pass should be the vec_moments aggregate:\n$p")
  }

  test("q123 DSIR: the scoring table broadcasts — token stream is never " +
      "shuffled for the attach join") {
    // the ≤buckets-row log-ratio table must come back as a broadcast
    // (this is why the scorer's growth curve is flat: scoring is
    // map-side at any corpus size); a sort-merge join here would shuffle
    // the whole token stream by bucket id and scale like the corpus
    val docs = Tables.load(spark, dir, "documents")
    val p = graft.ops.TextOps.dsirLogWeights(docs,
        org.apache.spark.sql.functions.col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"DSIR scoring join must broadcast the bucket-LM table:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token stream must not shuffle for the scoring attach:\n$p")
  }

  test("q127 span strip: doc-partitioned island windows, fingerprint-keyed " +
      "dup detection, no cartesian") {
    val p = plan("q127_span_strip")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"span-strip chain fell off the equi-join path:\n$p")
    assert(p.contains("Window"), s"island merge lost its window:\n$p")
    assert(!p.contains("SinglePartition"),
      s"island windows must stay doc-partitioned, never global:\n$p")
    assert(p.contains("Exchange hashpartitioning(kg"),
      s"dup detection should shuffle on the k-gram fingerprint:\n$p")
  }

  test("q128 split leakage: equi-joins only; both verify sides " +
      "semi-join-filtered to candidates before shingling") {
    val p = plan("q128_split_leakage")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"leakage screen fell off the equi-join path:\n$p")
    assert("LeftSemi".r.findAllIn(p).length >= 2,
      s"candidate filtering lost a semi-join:\n$p")
  }

  test("q129 pHash near-dups: band-keyed candidates, hash equi-joins only") {
    val p = plan("q129_phash_neardups")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"pHash chain fell off the equi-join path:\n$p")
  }

  test("q130 filter funnel: ONE corpus pass — all stage counts fold into " +
      "a single aggregate, bounded final rollup only") {
    val p = plan("q130_filter_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"funnel fell off the equi-join path:\n$p")
    // the cascade is CASE-WHEN sums inside one aggregate, not one
    // filter+count job per stage; SinglePartition appears only for the
    // bounded (#stages+1)-value final rollup
    assert(p.contains("partial_sum(CASE WHEN"),
      s"stage counts should fold map-side in one pass:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1,
      s"only the bounded final rollup may gather:\n$p")
  }

  test("q131 BM25: df table broadcasts back; top-k is a bounded heap, " +
      "never a global sort") {
    val p = plan("q131_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"BM25 top-k lost the bounded-heap plan:\n$p")
    assert(p.contains("BroadcastExchange HashedRelationBroadcastMode"),
      s"query-term df table should broadcast to the postings stream:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"BM25 chain has a cartesian:\n$p")
    // the 1-row corpus-stats attach and the final bounded rollup are the
    // only global gathers
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1,
      s"only the 1-row stats aggregate may gather:\n$p")
  }

  test("q132 SemDeDup: pair join is cell-keyed hash; the only nested-loop " +
      "joins are the bounded 16-row centroid broadcasts") {
    val p = plan("q132_semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      s"SemDeDup has an unbounded cartesian:\n$p")
    // within-cell pairing must be an EQUI join keyed by cell_id — a
    // key-partitioned shuffle join, or (at toy sizes / under AQE) a
    // broadcast HASH join on the same key. With the fused literal-seed
    // assignment both sides are plain map passes over the scan, so the
    // planner is free to pick either; what may never appear is a
    // non-equi pairing.
    assert(p.contains("Exchange hashpartitioning(cell_id")
        || "BroadcastHashJoin \\[cell_id".r.findFirstIn(p).isDefined,
      s"within-cell pairing lost its cell_id equi-join key:\n$p")
    // the seed centroids are driver-collected literals now — NO
    // nested-loop join of any kind belongs in this plan
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"found a nested-loop join (seeds are literal arrays now):\n$p")
  }

  test("q135 cluster topics: top-5 per cell is a WindowGroupLimit; " +
      "term counts partial-aggregate map-side") {
    val p = plan("q135_cluster_topics")
    assert(p.contains("WindowGroupLimit"),
      s"per-cell top-k lost the group-limit pushdown:\n$p")
    assert(p.contains("partial_count"),
      s"(cell, token) counts must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"topic labeling has a cartesian:\n$p")
  }

  test("q136 length drift: no row-wise corpus join — histograms reduce " +
      "before the bucket-bounded full-outer join") {
    val p = plan("q136_length_drift")
    assert(p.contains("FullOuter"),
      s"drift lost the bucket-level full-outer join:\n$p")
    assert(p.contains("partial_count"),
      s"per-side histograms must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"drift must not cartesian the corpora:\n$p")
  }

  test("q137 set-sim join: prefix×postings candidates stay equi-joins " +
      "on tokens — never all-pairs") {
    val p = plan("q137_setsim_join")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"set-similarity join degenerated to all-pairs:\n$p")
    assert(p.contains("partial_count"),
      s"document-frequency counts must combine map-side:\n$p")
  }

  test("q139 weighted sample: global top-k plans as TakeOrderedAndProject, " +
      "no full sort of the population") {
    val p = plan("q139_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"A-ES selection lost the top-k plan:\n$p")
  }

  test("q141 overlap join: (keys, bucket) equi-join, never cartesian/NL") {
    val p = plan("q141_overlap_join")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"interval-overlap join degenerated to all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "overlap join lost its equi-join formulation")
  }

  test("q142 shingle set-sim: fingerprint equi-join candidates, canonical " +
      "lists cached once, never all-pairs") {
    val p = plan("q142_setsim_shingles")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"shingle set-similarity degenerated to all-pairs:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"canonical-order lists must come from the persisted frame " +
        s"(4 consumers):\n$p")
    assert(p.contains("partial_count"),
      s"shingle document-frequency counts must combine map-side:\n$p")
  }

  test("q138 char entropy: pure map pass — no exchange before the typed " +
      "counting pass") {
    val p = plan("q138_char_entropy")
    // the only exchange allowed is the final orderBy's range partitioning
    val body = p.split("rangepartitioning").head
    assert(!body.contains("hashpartitioning"),
      s"entropy counting must not shuffle before the map pass:\n$p")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"expected the typed counting pass:\n$p")
  }

  test("q143 classifier: model broadcast (never shuffled), doc aggregation " +
      "combines map-side") {
    val p = plan("q143_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"weight model must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"score sums must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), s"unexpected all-pairs:\n$p")
  }

  test("q144 PQ encode: pure map pass — codebook inlined, no join, no " +
      "pre-sort exchange beyond the output ordering") {
    val p = plan("q144_pq_encode")
    assert(!p.contains("Join"), s"encode must not join — codebook is " +
      s"literal-inlined into the argmin chain:\n$p")
    assert(p.contains("long_vec_dist2") || p.contains("least"),
      s"expected the unrolled least(struct(dist2, code)) argmin:\n$p")
  }

  test("q145 PQ ADC: query tables broadcast, corpus side streams codes, " +
      "top-k never full-sorts the corpus") {
    val p = plan("q145_pq_adc_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"query distance tables must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"ADC scan must broadcast the bounded query side, not cartesian:\n$p")
  }

  test("q147 vocab growth: both curve inputs combine map-side; only " +
      "bucket rows reach the ordered cumulative window") {
    val p = plan("q147_vocab_growth")
    assert(p.contains("partial_count"),
      s"bucket token counts must combine map-side:\n$p")
    assert(p.contains("Window"), s"lost the cumulative window:\n$p")
    // the window input is the joined bucket frame, never raw tokens:
    // no explode (Generate) may appear above the window in the plan
    val winIdx = p.indexOf("Window")
    assert(!p.substring(0, winIdx).contains("Generate"),
      s"token explode must stay below the bucket aggregations:\n$p")
  }

  test("q151 minhash calibration: banded candidates only — no cartesian, " +
      "no nested-loop; report aggregates combine map-side") {
    val p = plan("q151_minhash_calibration")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"calibration must never score all pairs:\n$p")
    assert(p.contains("partial_count"),
      s"decile report must combine map-side:\n$p")
  }

  test("q153 bigram LM: adjacent pairs extracted map-side — no window, " +
      "no self-join on the token stream") {
    val p = plan("q153_bigram_xent")
    assert(!p.contains("Window"),
      s"bigram extraction must be the array transform, not a lag window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"LM attach joins must stay keyed:\n$p")
    assert(p.contains("partial_count"),
      s"bigram counts must combine map-side:\n$p")
  }

  test("q167 grouped top-k: k-bounded aggregator, not a window — partial " +
      "aggregation present, no per-group full sort") {
    val p = plan("q167_grouped_topk")
    assert(!p.contains("Window"),
      s"grouped top-k must not fall back to the row_number window:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"TopKByScore aggregation missing from the plan:\n$p")
    assert(p.contains("partial_topkbyscore"),
      s"top-k partials must combine map-side:\n$p")
  }

  test("q168 co-purchase: a-priori filter feeds an orderkey equi-join, " +
      "never cartesian; pair counts combine map-side") {
    val p = plan("q168_copurchase_pairs")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"co-purchase pair join degenerated to all-pairs:\n$p")
    assert(p.contains("partial_count"),
      s"pair-support counts must combine map-side:\n$p")
  }

  test("q165 winnow pairs: fingerprint-keyed equi-joins only, pair " +
      "support combines map-side") {
    val p = plan("q165_winnow_pairs")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"winnow pair join degenerated to all-pairs:\n$p")
    assert(p.contains("partial_count"),
      s"df/pair counts must combine map-side:\n$p")
  }

  test("q166 sorted neighborhood: rank-bucket equi-join, never cartesian; " +
      "offsets broadcast") {
    val p = plan("q166_sorted_neighborhood")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"neighbor join degenerated to all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "rank-bucket join lost its equi-join formulation")
  }

  test("q164 normalized dedup: ONE fp-keyed exchange feeds the window — " +
      "no groupBy + join-back second shuffle") {
    val p = plan("q164_normalized_dedup")
    assert(p.contains("Window"), "keep-first stats must be window-computed")
    // exchanges: one for the fp hash partitioning + the final orderBy's
    // range exchange; anything more means a join-back appeared
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"normalizedDedup grew extra shuffles ($exchanges):\n$p")
  }

  test("pageRank round: the cached src-partitioned edge frame is NEVER " +
      "re-shuffled — per-round movement is node-sized only") {
    import org.apache.spark.sql.functions._
    // cluster-scale planning: no auto-broadcast of the rank frame (at
    // 100 TB the rank frame is node-count-sized; per-round re-broadcast
    // would be a driver round-trip per iteration)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ids = spark.range(0, 400)
    val e = ids.selectExpr("id AS src", "(id * 7 + 1) % 400 AS dst")
      .unionAll(ids.selectExpr("(id * 7 + 1) % 400 AS src", "id AS dst"))
      .select(col("src"), col("dst"), lit(1L).as("w"))
    val ew = graft.ops.Graph.prEdges(e)
    try {
      // audit a stage-boundary round (rank side fresh off a checkpoint —
      // its node-sized partitioning is lost there, the WORST case): the
      // graph-sized side must still join in place off the cache
      val r1 = graft.core.Stage(
        graft.ops.Graph.prRound(ew,
          ew.select(col("src").as("id")).distinct()
            .select(col("id"), lit(1000000L).as("r")), 0.85, 150L))
      // audit the static plan (AQE off): the tree is then directly
      // traversable and InMemoryTableScan is a leaf, so the cached
      // frame's one-time build shuffle (inside the relation) cannot be
      // confused with per-round work. EnsureRequirements — the rule
      // that decides whether the cache's src clustering is consumed in
      // place — runs identically in static and adaptive planning.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val exec = graft.ops.Graph.prRound(ew, r1, 0.85, 150L)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      assert(exec.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"edge frame must come from the cache:\n$exec")
      val shuffles = exec.collect { case s: ShuffleExchangeExec => s }
      assert(!shuffles.exists(_.outputPartitioning.toString.contains("src")),
        s"the edge frame was re-shuffled inside a round:\n$exec")
      // everything that DOES move per round is node-sized: the rank
      // rebase after the checkpoint + the dst message aggregation
      assert(shuffles.length <= 2,
        s"a PageRank round grew extra shuffles (${shuffles.length}):\n$exec")
    } finally {
      // unpersist INSIDE the finally: an assertion failure must not leak
      // the cached edge frame into subsequent tests; restore the SAVED
      // conf values, not hard-coded ones
      ew.unpersist(true)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("connected-components round: the cached src-clustered edge frame " +
      "is never re-shuffled — per-round movement is node-sized only") {
    import org.apache.spark.sql.functions._
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ids = spark.range(0, 300)
    // ccEdges now takes the deduped half frame (src < dst), as
    // connectedComponents' persist-then-count probe hands it over
    val edges = ids.selectExpr("least(id, (id * 11 + 3) % 300) AS src",
      "greatest(id, (id * 11 + 3) % 300) AS dst")
      .where("src <> dst").distinct()
    val e = DedupOps.ccEdges(edges)
    try {
      val labels = graft.core.Stage(
        e.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("comp")))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val exec = DedupOps.ccCand(e, labels)
        .queryExecution.executedPlan
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      assert(exec.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"edge frame must come from the cache:\n$exec")
      val shuffles = exec.collect { case s: ShuffleExchangeExec => s }
      assert(!shuffles.exists(_.outputPartitioning.toString.contains("src")),
        s"the edge frame was re-shuffled inside a round:\n$exec")
      assert(shuffles.length <= 2,
        s"a label-propagation round grew extra shuffles (${shuffles.length}):\n$exec")
    } finally {
      e.unpersist(true)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }
}
