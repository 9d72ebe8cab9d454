package graft.ops

import graft.SparkSpec

/** Physical-plan audit (builder prompt: "iterate until it's the plan
  * you'd want"): locks in the plan shapes the 100 TB design depends on —
  * no shuffle in the top-k path, filters pushed to parquet, columns
  * pruned, dims broadcast, no accidental cartesian products. A regression
  * here is a performance bug even when results stay correct. */
class PlanSpec extends SparkSpec {

  private def planOf(q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): String = {
    val df = q(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("v01 flagship: TakeOrderedAndProject, codegen vec_dot, zero shuffle") {
    val p = planOf(VectorQueries.v01_search_topk)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("vec_dot"), p)
    assert(!p.contains("Exchange"), s"flagship scored scan must not shuffle:\n$p")
  }

  test("v09: norm scan is the codegen kernel — no explode, no shuffle " +
    "before the census aggregate") {
    val p = planOf(VectorQueries.v09_norm_outliers)
    assert(p.contains("vec_nrm2_micro"), p)
    assert(!p.contains("Generate"), s"no posexplode in the norm pass:\n$p")
  }

  test("e16: gap stream + per-type ranks = exactly two hash exchanges") {
    val p = planOf(EventQueries.e16_gap_quantiles)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("i04: one host-keyed exchange feeds both window expressions") {
    val p = planOf(IngestQueries.i04_fetch_schedule)
    assert("Exchange hashpartitioning\\(host".r.findAllIn(p).length == 1, p)
    assert("Window ".r.findAllIn(p).length == 1,
      s"fetch_seq and cum must share ONE window operator:\n$p")
  }

  test("t16: the top-K cut is a TakeOrdered, so the rank window sees " +
    "at most K rows") {
    val p = planOf(TextQueries.t16_zipf_fit)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("e18: same single user_id exchange as e07 — the staleness guard " +
    "adds no join") {
    val p = planOf(EventQueries.e18_asof_tolerance)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), s"tolerance must not add a join:\n$p")
  }

  test("p12: no global window — the interleave is rank window + " +
    "broadcast census + one range sort") {
    val p = planOf(ScaleQueries.p12_interleave_order)
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).length >= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly ONE SinglePartition exchange, and it sits under the
    // BroadcastExchange (the source-sized census total) — the corpus
    // itself flows rank-window → broadcast join → range sort only
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1, p)
    val broadcastIdx = p.indexOf("BroadcastExchange")
    assert(broadcastIdx >= 0 && p.indexOf("Exchange SinglePartition") > broadcastIdx,
      s"the single-partition window must be on the census side:\n$p")
  }

  test("q09: the per-part statistic joins back shuffled-hash, not " +
    "sort-merge") {
    val p = planOf(RelationalQueries.q09_small_qty_revenue)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q04: LIKE prefix pushed to parquet, text column pruned") {
    val p = planOf(RelationalQueries.q04_scan_filter_like)
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("StringStartsWith"), p)
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("text"),
      s"projection must prune the wide text column:\n$readSchema")
  }

  test("j02 star join: all three dims broadcast") {
    val p = planOf(JoinQueries.j02_star_join_agg)
    assert("BroadcastHashJoin".r.findAllIn(p).length == 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("j03: anti join planned as LeftAnti") {
    val p = planOf(JoinQueries.j03_anti_join)
    assert(p.contains("LeftAnti"), p)
  }

  test("q01: aggregation is partial (map-side) + final") {
    val p = planOf(RelationalQueries.q01_pricing_summary)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("d06 LSH join: bucket equi-join, no cartesian product") {
    val p = planOf(DedupQueries.d06_cosine_lsh)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("n02 LSH top-k: candidate filter is a scan predicate, no shuffle") {
    val p = planOf(AnnQueries.n02_ann_lsh_topk)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("engine façade search() runs on the codegen vec_dot path, no shuffle") {
    // VERDICT r01 #6: the façade hot path must produce the same plan the
    // oracle queries are locked to — vec_dot inside TakeOrderedAndProject,
    // zero Exchange
    val dir = java.nio.file.Files.createTempDirectory("graft-planspec").toString
    val store = new graft.engine.SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    // fastPathMaxRows = 0 forces the distributed path: this test pins the
    // CLUSTER-shape plan (the serving fast path is a driver matrix with
    // no plan at all — EngineSpec pins its equality instead)
    val engine = new graft.engine.RClipEngine(
      spark, store, new graft.embed.DeterministicEmbedder(64),
      fastPathMaxRows = 0L)
    val p = engine.search("label5 -label6", 12)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("vec_dot"), p)
    assert(!p.contains("Exchange"), s"façade scored scan must not shuffle:\n$p")
  }

  test("engine façade after a censor: the distributed plan scans the cached " +
    "base (InMemoryTableScan, no FileScan), with no shuffle and no UDF") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft-planspec-censor").toString
    val store = new graft.engine.SnapshotStore(dir)
    store.initFrom(spark, s"$sf/embeddings.parquet")
    val engine = new graft.engine.RClipEngine(
      spark, store, new graft.embed.DeterministicEmbedder(64),
      censorKey = Some("k"), fastPathMaxRows = 0L)
    // the scan nodes of the query itself (a cached relation's own plan
    // hangs off InMemoryTableScan as an inner child, not a child)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def caches(p: SparkPlan) = nodes(p).collect {
      case s: InMemoryTableScanExec => s.relation.cacheBuilder
    }
    val before = caches(engine.search("label5 -label6", 12).queryExecution.executedPlan)
    assert(before.length == 1)
    assert(engine.censor(7L, "k"))
    val plan = engine.search("label5 -label6", 12).queryExecution.executedPlan
    val p = plan.toString
    // the very cache the pre-censor plan scanned, not a re-read of the store
    assert(caches(plan).length == 1 && (caches(plan).head eq before.head), p)
    assert(!nodes(plan).exists(_.isInstanceOf[FileSourceScanExec]), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), s"façade scored scan must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("v03 blob codec: decode∘encode stays one codegen scan, no UDF") {
    // (the query's global ORDER BY is presentation for the oracle compare
    // — the codec work itself all happens in the scan-side codegen stage)
    val p = planOf(VectorQueries.v03_blob_roundtrip)
    assert(p.contains("vec_decode"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("c01 curation: map-side window pruning, dedup shuffle keyed by digest") {
    val p = planOf(CurationQueries.c01_curation_pipeline)
    // Spark's WindowGroupLimit prunes rn=1 / rk<=40 BEFORE each shuffle
    assert(p.contains("WindowGroupLimit"), p)
    // the dedup exchange carries the 32-byte digest, not the document
    assert(p.contains("hashpartitioning(digest"), p)
    assert("Exchange hashpartitioning\\(text".r.findFirstIn(p).isEmpty, p)
  }

  test("global audit: no cartesian or sort-merge join sneaks into any query") {
    // the r02 plan audit's invariants, locked for every declared query:
    // cartesian shapes only where they are the documented design (d05's
    // O(N²) baseline; n03's 10-row broadcast block), and never a
    // SortMergeJoin (every join is broadcast- or hash-dispatched at the
    // oracle scales; a SMJ here means a broadcast threshold regressed)
    // n10 shares n03's documented 10-row broadcast query block; d10
    // composes d05's guarded brute baseline as its exact ground truth
    val allowedCartesian = Set("d05_cosine_brute", "n03_ann_batch",
      "n10_ann_recall", "d10_lsh_recall_audit")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      spark.catalog.clearCache()
      if (!allowedCartesian(name))
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"unexpected cartesian shape in $name")
      assert(!p.contains("SortMergeJoin"), s"unexpected SortMergeJoin in $name")
    }
  }

  test("Joins.small: broadcast at the bound, shuffle-hash one row above " +
    "it, never sort-merge, before and after AQE re-planning") {
    // (initial executedPlan, final adaptive plan after collect())
    def plans(rows: Long): (String, String) = {
      val df = spark.range(100).toDF("id")
        .join(Joins.small(spark.range(100).toDF("id"), rows), "id")
      val initial = df.queryExecution.executedPlan.toString
      df.collect()
      val fin = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          assert(a.isFinalPlan, a.toString)
          a.executedPlan.toString
        case p => p.toString
      }
      (initial, fin)
    }
    val (atInit, atFinal) = plans(Joins.BroadcastMaxRows)
    for (p <- Seq(atInit, atFinal)) {
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
    val (overInit, overFinal) = plans(Joins.BroadcastMaxRows + 1)
    for (p <- Seq(overInit, overFinal)) {
      assert(p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
    }
  }

  test("e07 as-of: type filters pushed to parquet, ONE user_id shuffle " +
    "feeds the window") {
    val p = planOf(EventQueries.e07_asof_join)
    assert(p.contains("EqualTo(event_type,view)"), p)
    assert(p.contains("EqualTo(event_type,purchase)"), p)
    // exactly one data shuffle (user_id hash) + the presentation sort
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1, p)
  }

  test("h03 quantiles: both windows share one event_type exchange") {
    val p = planOf(ScaleQueries.h03_exact_quantiles)
    assert("Exchange hashpartitioning\\(event_type".r.findAllIn(p).length == 1,
      s"row_number and count windows must reuse one shuffle:\n$p")
  }

  test("t05 salient terms: map-side WindowGroupLimit, df join broadcast") {
    val p = planOf(TextQueries.t05_salient_terms)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), s"rank pruning must run before the shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("v06 quantized top-k: TakeOrderedAndProject over the scan, no shuffle") {
    val p = planOf(VectorQueries.v06_quantized_topk)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("j06 band join: the range predicate is rewritten to a broadcast " +
    "EQUI-join (no nested-loop probe)") {
    val p = planOf(JoinQueries.j06_band_join)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s02 skew join: the hot-key set drives broadcast probes on both " +
    "paths — no shuffle keyed by the raw join key feeds a join build") {
    val p = planOf(ScaleQueries.s02_skew_join)
    // three broadcast probes of the tiny hot-key set (dim inner, fact
    // semi, fact anti) + the dim build of the cold join
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
    // the hot path joins on (key, salt), never on the bare hot key
    assert(p.contains("salt"), p)
  }

  test("whole-stage codegen covers the flagship scored scan") {
    // toString abbreviates WholeStageCodegen stages as `*(N)` prefixes
    val p = planOf(VectorQueries.v01_search_topk)
    assert(p.contains("*(1) Project"), p)
  }

  test("s03 bloom pre-join: fact is UDF-filtered below the exchange and " +
    "the exact semi-join is shuffled-hash (the 100 TB dim regime), not SMJ") {
    val p = planOf(ScaleQueries.s03_bloom_prejoin)
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the bloom probe is a plain Filter over the scan — BEFORE any
    // exchange, so false-negatives-free pruning cuts the shuffle volume
    val filterLine = p.linesIterator.indexWhere(l =>
      l.contains("Filter") && l.contains("UDF"))
    val exchangeLine = p.linesIterator.indexWhere(_.contains("Exchange hashpartitioning(l_orderkey"))
    assert(filterLine >= 0, s"no UDF filter in plan:\n$p")
    assert(exchangeLine >= 0 && filterLine > exchangeLine,
      s"bloom filter (line $filterLine) must sit under the fact exchange " +
        s"(line $exchangeLine) in the plan tree:\n$p")
  }

  test("n05 rerank: coarse pass is TakeOrderedAndProject, candidate " +
    "re-join broadcasts the 100-row list — the corpus never shuffles") {
    val p = planOf(AnnQueries.n05_quantized_rerank)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("c05 rebuild stage: pure narrow map over the scan — the only " +
    "exchange is the final presentation sort, no join re-enters the corpus") {
    val p = planOf(CurationQueries.c05_boilerplate_spans)
    assert(!p.contains("Join"), s"stage 2 must not join:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1 && p.contains("rangepartitioning"),
      s"only the orderBy exchange may appear:\n$p")
  }

  test("d08 chunk dedup: dedup window keyed by the sha2 digest, no join, " +
    "exactly dedup + doc-regroup + presentation exchanges") {
    val p = planOf(DedupQueries.d08_chunk_dedup)
    assert(!p.contains("Join"), s"first-occurrence via window, never a self-join:\n$p")
    // the dedup exchange hashes the 256-bit digest (pre-projected as a
    // _w window key: `sha2(chunk, 256) AS _wN`), never the chunk body
    assert(p.contains("sha2(cast(chunk"), p)
    assert("Exchange hashpartitioning\\(chunk".r.findFirstIn(p).isEmpty, p)
    // window shuffle + groupBy(doc_id) shuffle + orderBy range exchange
    assert("Exchange".r.findAllIn(p).length == 3, p)
  }

  test("n06 PQ ADC: encode + LUT scoring ride ONE narrow scan into " +
    "TakeOrderedAndProject — zero Exchange, no UDF") {
    val p = planOf(AnnQueries.n06_pq_adc)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange") && !p.contains("ScalaUDF"), p)
  }

  test("n07 IVF-PQ: cell filter + ADC ride the scan into a coarse " +
    "TakeOrdered, rerank is a broadcast join — the corpus never shuffles") {
    val p = planOf(AnnQueries.n07_ivf_pq)
    // coarse top-50 and final top-10 are both k-bounded merges
    assert("TakeOrderedAndProject".r.findAllIn(p).length == 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ScalaUDF"), p)
    // the only exchange is the 50-row broadcast — never a corpus shuffle
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("n11 filtered ANN: metadata predicate + cell pruning are PUSHED " +
    "into the loaded artifact's parquet scan, below the ADC TakeOrdered") {
    val p = planOf(AnnQueries.n11_filtered_ann)
    // the fused predicate reaches the code-scan source: label is a data
    // filter pushed to parquet row groups, cell prunes partitions
    val scanLines = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(scanLines.contains("label"),
      s"label predicate must be pushed into the codes scan:\n$p")
    assert(p.contains("cell#") || p.contains("PartitionFilters"),
      s"cell probe must prune artifact partitions:\n$p")
    // coarse ADC and final rerank are both k-bounded merges; the corpus
    // never shuffles (only the 50-row candidate broadcast exchanges)
    assert("TakeOrderedAndProject".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("p07 temperature mixture: census broadcasts onto ONE narrow " +
    "corpus filter — the corpus never hash-shuffles") {
    val p = planOf(ScaleQueries.p07_temperature_mix)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exchanges: the tiny census agg + the broadcast + presentation
    // sort — no corpus-sized hash repartition feeds the filter side
    val corpusShuffles = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("doc_id"))
    assert(corpusShuffles.isEmpty,
      s"corpus must not shuffle on doc_id before the filter:\n$p")
  }

  test("e12 interval overlap: both interval sets from (user,type) window " +
    "passes, join is a user_id equi-join — no nested-loop probe") {
    val p = planOf(EventQueries.e12_session_overlap)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap predicate must ride an equi-join, not a nested loop:\n$p")
    assert(p.contains("Window"), p)
  }

  test("t09 PII scrub: pure narrow scan — regexes ride the projection, " +
    "only the presentation sort exchanges") {
    val p = planOf(TextQueries.t09_pii_redact)
    assert(!p.contains("Join") && !p.contains("ScalaUDF"), p)
    assert("Exchange".r.findAllIn(p).length == 1 && p.contains("rangepartitioning"), p)
  }

  test("n12 hybrid: both candidate lists are k-bounded TakeOrdereds and " +
    "the full-outer fusion is hash-dispatched, never sort-merge") {
    val p = planOf(AnnQueries.n12_hybrid_rrf)
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"each side must collapse to a k-heap before the fusion:\n$p")
    assert(p.contains("ShuffledHashJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p08 curriculum: no join, no window — the order is a sort KEY, " +
    "so the plan is one balanced range sort over the admitted rows") {
    val p = planOf(ScaleQueries.p08_curriculum)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"a rank column would force a global window; the key needs neither:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 1, p)
  }

  test("h05 count-min: corpus collapses to vocabulary map-side; both " +
    "counter joins broadcast") {
    val p = planOf(ScaleQueries.h05_countmin)
    assert(p.contains("partial_count"),
      s"the vocab agg must partial-combine before its shuffle:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("e13 nearest join: all four window expressions ride ONE user_id " +
    "shuffle (backward and forward frames share the sort)") {
    val p = planOf(EventQueries.e13_nearest_event)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), s"the nearest join is window-composed:\n$p")
  }

  test("t13 spectrum: both aggregates partial-combine; no join, no window") {
    val p = planOf(TextQueries.t13_count_of_counts)
    assert("partial_count".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("m02 shard pack: one kind-keyed window exchange, no join") {
    val p = planOf(MediaQueries.m02_shard_pack)
    assert("Exchange hashpartitioning\\(kind".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("t20 classifier: pure narrow scan — the compiled UDF rides the " +
    "projection; no join, no window, no aggregate") {
    val p = planOf(TextQueries.t20_hash_classifier)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("n18 multiprobe: predicate+top-k fused — TakeOrderedAndProject " +
    "over the filtered scan, no shuffle, no join") {
    val p = planOf(AnnQueries.n18_multiprobe)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join") && !p.contains("Exchange hashpartitioning"), p)
  }

  test("p14 rendezvous: no join anywhere — explode + one doc-keyed " +
    "aggregate + one shard census") {
    val p = planOf(ScaleQueries.p14_rendezvous)
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("t21 novelty: inverted-index shape — shingle census joins back " +
    "by h, never a self-join of occurrences against occurrences") {
    val p = planOf(TextQueries.t21_novelty)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("e21 watermark batches: the running max runs over the BATCH " +
    "census (one thin SinglePartition window), not the corpus") {
    val p = planOf(EventQueries.e21_watermark_batches)
    // the window input is the (batch_no, bmax) aggregate, so the
    // single-partition exchange sits above a HashAggregate, and the
    // corpus-sized side only ever hash-partitions by batch_no
    assert(p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("m06 CDC chunking: zero joins anywhere — chunking is a narrow " +
    "compiled pass and only the fingerprint census shuffles") {
    val p = planOf(MediaQueries.m06_cdc_chunks)
    assert(!p.contains("Join"), s"no join operator expected:\n$p")
    assert(p.contains("Generate"), p) // the bounded in-row chunk explode
  }

  test("p16 packing audit: the running-offset window and the source " +
    "aggregate share ONE source-keyed exchange") {
    val p = planOf(ScaleQueries.p16_packing_efficiency)
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).length == 1,
      s"window and aggregate must reuse one source shuffle:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("w01/n01 centroid scoring runs on the codegen vec_ndot kernel — " +
    "no interpreted ScalaUDF anywhere in either scoring plan") {
    // VERDICT r06 wrong-#1: the last two interpreted dot kernels.
    // vec_ndot rides the aggregate's result projection, which the physical
    // toString abbreviates — assert it on the optimized logical plan, and
    // the absence of any interpreted UDF on the physical one.
    for (q <- Seq(WordQueries.w01_words_topk, AnnQueries.n01_ann_ivf)) {
      val df = q(spark, sf)
      assert(df.queryExecution.optimizedPlan.toString.contains("vec_ndot"),
        df.queryExecution.optimizedPlan.toString)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF"), s"centroid dot must be codegen:\n$p")
    }
  }

  test("w03 phrase suggest: candidate words broadcast onto ONE corpus " +
    "pass, one phrase-keyed vecSum shuffle, top-50 is a TakeOrdered") {
    val p = planOf(WordQueries.w03_phrase_suggest)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Exchange hashpartitioning\\(phrase".r.findAllIn(p).length == 1,
      s"exactly one phrase-keyed aggregate shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("n20 batched beam walk: every frontier probe and rescore joins " +
    "BROADCAST — the corpus never hash-shuffles inside the walk") {
    val p = planOf(AnnQueries.n20_beam_batch)
    // per step: one edge probe + one rescore join, all broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 8, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only hash exchanges carry bounded frontier/candidate sets
    // (qlabel/vec_id keyed distincts + per-step qlabel rank windows),
    // never the embedding column
    assert("Exchange hashpartitioning\\(embedding".r.findFirstIn(p).isEmpty, p)
  }

  test("n21 artifact walk: every loaded-edge probe carries a bucket " +
    "partition filter — the persisted graph is never fully scanned") {
    val p = planOf(AnnQueries.n21_graph_artifact)
    // each expansion step's scan of the saved artifact must carry the
    // frontier-derived bucket predicate into PartitionFilters (dynamic
    // pruning from the broadcast probe side)
    val scans = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("graft-n21-knn"))
      .toSeq
    assert(scans.nonEmpty, s"no artifact scans found:\n$p")
    scans.foreach { l =>
      assert(l.contains("PartitionFilters: [") &&
        !l.contains("PartitionFilters: []"),
        s"artifact scan without a partition filter:\n$l")
    }
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ppj gram-set artifact (d15/d16's input) is a DISK parquet scan, " +
    "not a per-query rebuild — eviction can never put the tokenize " +
    "pipeline back inside a consumer's measurement (VERDICT r07 #3)") {
    // cold RAM memo = the exact state the d15 12× swing occurred in
    graft.engine.ArtifactCache.clear()
    val p = DedupQueries.ppjSets(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft-artifacts"),
      s"expected a scan of the persisted artifact:\n${p.take(1500)}")
    assert(p.contains("Scan parquet") || p.contains("FileScan"),
      p.take(1500))
    // the builder pipeline (gram UDF over the corpus) must NOT be in
    // the consumer-visible plan
    assert(!p.contains("ExistingRDD") && !p.contains("UDF"), p.take(1500))
  }

  test("ppj RANKED posting artifact (r10): a disk parquet scan whose rows " +
    "agree with a recomputed (df, gram)-order rank — d15's prefixes and " +
    "d16's positional probe read this table instead of re-windowing") {
    graft.engine.ArtifactCache.clear()
    val ranked = DedupQueries.ppjRanked(spark, sf)
    val p = ranked.queryExecution.executedPlan.toString
    assert(p.contains("graft-artifacts"), p.take(1500))
    assert(!p.contains("Window") && !p.contains("UDF"),
      s"consumer plan must not contain the rank pipeline:\n${p.take(1500)}")
    // semantic pin: rk is the doc-local row_number under (df ASC, gram
    // ASC), df is the gram's corpus document frequency
    val rows = ranked.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3), r.getLong(4)))
    val byGram = rows.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (_, _, g, _, df) =>
      assert(df == byGram(g), s"df mismatch for gram $g: $df vs ${byGram(g)}")
    }
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val expected = rs.sortBy(r => (r._5, r._3)).map(_._3)
      val got = rs.sortBy(_._4).map(_._3)
      assert(got.toSeq == expected.toSeq, s"rank order broken for doc $doc")
      assert(rs.map(_._4).sorted.toSeq == (1 to rs.length).toSeq,
        s"ranks not 1..n for doc $doc")
    }
  }

  test("e26 attribution range join: NO join operator anywhere — one " +
    "user_id hash exchange feeding a value-bounded range window, then " +
    "explode (the θ-join rewrite that keeps 100 TB to a single shuffle)") {
    val p = planOf(graft.ops.EventQueries.e26_attribution_join)
    assert(!p.contains("Join"), s"e26 must not plan a join:\n${p.take(1500)}")
    assert(p.contains("Window"), p.take(1500))
    assert(p.contains("Generate explode") || p.contains("Generate"), p.take(1500))
    // exactly one user-keyed hash exchange below the final sort
    val exchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).length
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges:\n$p")
  }

  test("h07 KMV: the sketch is a map-side-combining bounded aggregate — " +
    "no rank window, no per-group sort of the distinct census") {
    val p = planOf(ScaleQueries.h07_kmv_distinct)
    assert(!p.contains("Window"), s"sketch form must not rank-window:\n$p")
    assert(p.contains("partial_bottomk"),
      s"bottom-K state must partial-combine before the shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("e25 native session windows: the plan uses Spark's merging " +
    "session-window operators over ONE user-keyed exchange") {
    val p = planOf(EventQueries.e25_session_window)
    assert(p.contains("Sessions"), // UpdatingSessions/MergingSessions
      s"expected session-window physical operators:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length <= 1, p)
  }
}
