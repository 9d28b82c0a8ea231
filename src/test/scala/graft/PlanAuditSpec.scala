package graft

import graft.queries.{Genomic, Pipeline, Relational}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Explain audits (I5): the plans we ship are the plans we want —
  * filters reach the parquet scan, projections prune columns, small
  * dims broadcast, no accidental cartesians, sorts range-partition.
  * These are assertions on the EXECUTED plan, so a regression in any
  * query's physical strategy fails the build, not just the bench.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("PlanAudit.shapeOf counts the artifact's shape fields correctly") {
    // the per-round PLANAUDIT artifact derives from these regex
    // counts — pin them against a real plan whose shape the suite
    // already asserts (q5_join: 4 broadcast joins, no cartesian)
    val s = PlanAudit.shapeOf(planOf(Relational.q5Join(spark, sf)))
    assert(s.bhj === 4, s)
    assert(s.broadcast === 4, s)
    assert(s.cartesian === 0 && s.bnlj === 0, s)
    assert(s.scans === 5 && s.pushed === 5, s)
    assert(s.exchangeRange >= 1, s) // presentation orderBy
  }

  test("q_interval_filter pushes both predicates into the parquet scan") {
    val plan = planOf(Genomic.qIntervalFilter(spark, sf))
    assert(plan.contains("PushedFilters:"), plan)
    // both the numeric range and the date range must reach the scan
    // (the toString truncates the list; DataFilters shows the rest)
    assert(plan.contains("GreaterThanOrEqual(l_partkey,100)"), plan)
    assert("""\(l_partkey#\d+L <= 300\)""".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("isnotnull(l_shipdate"), plan)
  }

  test("q1_agg scan reads only the columns the query needs") {
    val plan = planOf(Relational.q1Agg(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag"), plan)
    assert(!readSchema.contains("l_orderkey"), s"unpruned column: $readSchema")
    assert(!readSchema.contains("l_partkey"), s"unpruned column: $readSchema")
  }

  test("dimension joins broadcast the small side") {
    assert(planOf(Relational.q3Join(spark, sf)).contains("BroadcastHashJoin"))
    val q5 = planOf(Relational.q5Join(spark, sf))
    assert(q5.contains("BroadcastHashJoin"), q5)
    assert(!q5.contains("CartesianProduct"), q5)
  }

  test("no query plans a cartesian product or nested-loop join over big sides") {
    // probe-set×corpus and triangular exact-verify products are intentional
    val all = SparkEntry.queries - "q_ann_bruteforce" - "q_dedup_embedding"
    all.foreach { case (name, fn) =>
      val plan = planOf(fn(spark, sf))
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
  }

  test("retention reuses one exchange for its dual ud consumers") {
    // the load-bearing shape at 100 TB: `ud` feeds the cohort agg and
    // the join off a single shuffle; AQE finalizes reuse at runtime,
    // so execute before inspecting
    val df = graft.queries.Events.qRetention(spark, sf)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      df.queryExecution.executedPlan.toString)
  }

  test("active-users is a single pipeline: one scan, no joins") {
    val df = graft.queries.Events.qActiveUsers(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length <= 2, plan) // AQE prints ≤2×
    assert(!plan.contains("Join"), plan)
  }

  test("q_sort range-partitions instead of funneling to one task") {
    val plan = planOf(Relational.qSort(spark, sf))
    assert(plan.contains("rangepartitioning") || plan.contains("RangePartitioning")
      || plan.contains("range_partition") || plan.toLowerCase.contains("rangepartition"), plan)
  }

  test("q_dedup_minhash band join is an equi hash/merge join on signatures") {
    val plan = planOf(Pipeline.qDedupMinhash(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_dedup_minhash never recomputes the signature per band") {
    // the exchange barrier must keep CollapseProject from inlining
    // graft_minhash128 into the 128 element_at calls of the band
    // explode (the pre-r2 128× recompute): every Generate must
    // reference `sig` as a shuffled ATTRIBUTE, never the kernel call
    val df = Pipeline.qDedupMinhash(spark, sf)
    val logical = df.queryExecution.optimizedPlan.toString
    val inlined = logical.linesIterator
      .filter(_.contains("Generate explode"))
      .filter(_.contains("graft_minhash128"))
      .toSeq
    assert(inlined.isEmpty, s"signature inlined into the band explode:\n$logical")
    // and the duplicated band subtree (self-join) must compute once
    // physically — the second branch rides a reused exchange (AQE
    // materializes reuse at runtime, so execute before inspecting)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      df.queryExecution.executedPlan.toString)
  }

  test("aggregations keep map-side partial aggregation") {
    val plan = planOf(Relational.qGroupbyKey(spark, sf))
    // two HashAggregate layers (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("q_range_join's count aggregate never materializes the pair stream") {
    val plan = planOf(Genomic.qRangeJoin(spark, sf))
    // RangeJoinCountRule: prefix-sum windows, no binned Generate, and
    // the only joins are the broadcast fallbacks for inverted bounds
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Generate"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("Join".r.findAllIn(plan).length <= 2, plan)
  }

  test("q_asof_join is a pure union+window plan — no join operator at all") {
    val plan = planOf(graft.queries.Analytics.qAsofJoin(spark, sf))
    assert(!plan.contains("Join"), plan) // no SMJ/BHJ/BNLJ/cartesian anywhere
    assert(plan.contains("Window"), plan)
    assert(plan.contains("Union"), plan)
  }

  test("q_topk_per_group prunes to k rows per group before the final sort") {
    val plan = planOf(graft.queries.Analytics.qTopkPerGroup(spark, sf))
    // Spark's rank-limit pushdown keeps only k rows per group flowing
    // out of the window — the property that makes top-k viable at
    // 100 TB (without it the full table reaches the filter)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q_ngram_counts ends in top-k selection, not a global sort of all bigrams") {
    val plan = planOf(graft.queries.Analytics.qNgramCounts(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan) // partial agg
  }

  test("q_tfidf broadcasts the df dim and rank-prunes per doc") {
    val plan = planOf(graft.queries.Corpus.qTfidf(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan) // only 3 rows/doc flow on
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_decontaminate joins shingles with a broadcast, no shuffle join") {
    val plan = planOf(graft.queries.Corpus.qDecontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan) // eval side is tiny
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("r5 corpus queries keep partial aggregation and broadcast their dims") {
    // q_domain_mix / q_rarity_score: per-group aggregates must have a
    // map-side partial stage, and the tiny totals dim must broadcast
    val mix = planOf(graft.queries.Corpus.qDomainMix(spark, sf))
    assert("HashAggregate".r.findAllIn(mix).length >= 2, mix)
    assert(mix.contains("Broadcast"), mix)
    assert(!mix.contains("CartesianProduct"), mix)
    val rare = planOf(graft.queries.Corpus.qRarityScore(spark, sf))
    assert("HashAggregate".r.findAllIn(rare).length >= 2, rare)
    assert(!rare.contains("CartesianProduct"), rare)
    // q_label_centroid: posexplode then ONE shuffle on (label, dim)
    val cent = planOf(graft.queries.Corpus.qLabelCentroid(spark, sf))
    assert("HashAggregate".r.findAllIn(cent).length >= 2, cent)
    assert(!cent.contains("SortMergeJoin"), cent)
  }

  test("q_pivot_events and q_quantiles keep map-side partial aggregation") {
    val p1 = planOf(graft.queries.Corpus.qPivotEvents(spark, sf))
    assert("HashAggregate".r.findAllIn(p1).length >= 2, p1)
    val p2 = planOf(graft.queries.Corpus.qQuantiles(spark, sf))
    // r12: the corpus collapses map-side into the (lang, n_chars)
    // value histogram; cum AND the per-lang total come from ONE keyed
    // RankedPrefixSum pass (RTotal column) — no window over corpus
    // rows, no second aggregate, no join at all
    assert(p2.contains("RankedPrefixSum"), p2)
    assert(!p2.contains("Window "), p2)
    assert(!p2.contains("Join"), p2)
    assert("HashAggregate".r.findAllIn(p2).length >= 2, p2)
  }

  test("q_sample_hash predicate evaluates at the scan stage (no shuffle before sampling)") {
    val plan = planOf(graft.queries.Analytics.qSampleHash(spark, sf))
    // the hash predicate rides the scan's DataFilters — sampling is a
    // pure map-side row filter; the only exchange is the final orderBy
    assert(plan.linesIterator.exists(l =>
      l.contains("DataFilters:") && l.contains("graft_hash32")), plan)
    assert("Exchange".r.findAllIn(plan).length === 1, plan)
  }

  test("r6 self-join queries winnow/tokenize once behind a reused exchange") {
    // q_winnow_overlap: both join sides + the hot-fingerprint df
    // aggregate consume the single repartition(fp) exchange; the
    // corpus must be winnowed exactly once (AQE materializes reuse at
    // runtime, so execute before inspecting)
    val w = graft.queries.CorpusStats.qWinnowOverlap(spark, sf)
    w.collect()
    val wp = w.queryExecution.executedPlan.toString
    assert(wp.contains("ReusedExchange"), wp)
    assert(!wp.contains("CartesianProduct"), wp)
    val c = graft.queries.CorpusStats.qCooccur(spark, sf)
    c.collect()
    val cp = c.queryExecution.executedPlan.toString
    assert(cp.contains("ReusedExchange"), cp)
    assert(cp.contains("Broadcast"), cp) // vocabulary cut broadcasts
  }

  test("sweep/outlier/token-histogram queries keep their cheap plan shapes") {
    // threshold sweep: the four-way fan-out is an explode over the
    // tiny verified-pair frame — the minhash/shingle kernels must
    // never be inlined into that Generate (one pipeline pass feeds
    // all thresholds)
    val tdf = graft.queries.CorpusStats.qThresholdSweep(spark, sf)
    val tlog = tdf.queryExecution.optimizedPlan.toString
    val inlined = tlog.linesIterator
      .filter(l => l.contains("Generate explode([80,85,90,95]"))
      .filter(l => l.contains("graft_minhash128") || l.contains("graft_shingles"))
      .toSeq
    assert(inlined.isEmpty, s"pipeline inlined into the threshold explode:\n$tlog")
    assert(tlog.contains("explode([80,85,90,95]"), tlog)
    // length outliers (r12): histogram + keyed RankedPrefixSum for the
    // percentile, |lang|-row threshold broadcast back — every join is
    // a broadcast, no lang-keyed window over corpus rows
    val lp = planOf(graft.queries.CorpusStats.qLengthOutliers(spark, sf))
    assert(lp.contains("RankedPrefixSum"), lp)
    assert(!lp.contains("Window "), lp)
    assert(lp.contains("BroadcastHashJoin"), lp)
    assert(!lp.contains("SortMergeJoin"), lp)
    // token-length histogram: explode → hash agg with partials
    val hp = planOf(graft.queries.CorpusStats.qTokLenHist(spark, sf))
    assert("HashAggregate".r.findAllIn(hp).length >= 2, hp)
  }

  test("q_kmeans broadcasts centroids and keeps partial-agg argmax") {
    val df = graft.queries.Pipeline.qKmeans(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // centroids ride broadcast joins (never a shuffle of the corpus
    // against k rows) and the argmax is a hash aggregate with map-side
    // partials (max_by), not a window sort
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert("partial_max_by".r.findAllIn(plan).nonEmpty, plan)
    assert(plan.contains("graft_doti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    spark.catalog.clearCache() // kmeansState persists its frames
  }

  test("all-pairs baselines fail fast above spark.graft.allpairs.maxRows") {
    // the quadratic exactness baselines must be un-launchable at scale
    // by accident: with the cap below the input size, plan construction
    // throws with a pointer to the sub-quadratic path
    // r9: only the EMBEDDING baselines remain quadratic — exact
    // cosine-threshold/top-k over isotropic high-d vectors has no
    // lossless sub-quadratic form (measured: 64 farthest-point pivot
    // cells prune 0/2080 cell pairs at ε = arccos 0.45); the document
    // similarity joins now run the exact prefix-filter construction
    // (SimJoin) and need no guard
    spark.conf.set("spark.graft.allpairs.maxRows", "10")
    try {
      Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "q_ann_bruteforce" -> (() => Pipeline.qAnnBruteforce(spark, sf)),
        "q_dedup_embedding" -> (() => Pipeline.qDedupEmbedding(spark, sf))
      ).foreach { case (name, build) =>
        val e = intercept[IllegalStateException](build())
        assert(e.getMessage.contains("all-pairs"), s"$name: ${e.getMessage}")
        assert(e.getMessage.contains("maxRows"), s"$name: ${e.getMessage}")
      }
      // the prefix-filter joins build and run regardless of the cap
      assert(Pipeline.qNgramJaccard(spark, sf).count() >= 0)
    } finally spark.conf.unset("spark.graft.allpairs.maxRows")
  }

  test("similarity joins stay equi-join + partial-agg shaped") {
    // the SimJoin pipeline must plan as hash equi-joins (inverted
    // index + expansion) with map-side partials on the collision
    // count — never a cartesian/nested-loop pair enumeration, and the
    // merge kernel must appear exactly once per candidate (project,
    // not join condition)
    for (df <- Seq(Pipeline.qNgramJaccard(spark, sf),
                   Pipeline.qContainment(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert("partial_count".r.findAllIn(plan).nonEmpty, plan)
      assert(plan.contains("graft_intersect_size"), plan)
    }
  }

  test("IVF multi-probe stays equi-join shaped and strictly improves recall") {
    // the probe factor only widens the m-row-per-query probe frame:
    // candidates still join by cell EQUALITY (hash/merge equi-join on
    // qcell = cell).  The only nested-loop in the plan is the
    // deliberate constant-x8 centroid broadcast fan-out; no cartesian
    // anywhere.
    val plan = planOf(graft.queries.Pipeline.qAnnIvfMp(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[qcell".r
      .findFirstIn(plan).isDefined, plan)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 2, s"unexpected nested-loop joins ($bnlj):\n$plan")
    // recall@3 vs the exact oracle must strictly improve with probes
    // (candidate sets only grow with m; sf0.01 measures 6 -> 12 hits)
    val rec = graft.queries.CorpusStats.qAnnRecallIvf(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rec("ivf_m3") > rec("ivf_m1"),
      s"multi-probe did not improve recall: $rec")
  }

  test("LSH multi-probe stays equi-join shaped and strictly improves recall") {
    // hamming-1 probing: candidates keep their single bucket; only the
    // query probe frame grows x5 — bucket equi-join, no cartesian
    val plan = planOf(graft.queries.Pipeline.qAnnLshMp(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[qb".r
      .findFirstIn(plan).isDefined, plan)
    // recall@3: radius 1 must strictly beat radius 0 (sf0.01: 3 -> 7)
    val rec = graft.queries.CorpusStats.qAnnRecallLsh(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rec("lsh_r1") > rec("lsh_r0"),
      s"multi-probe did not improve recall: $rec")
  }

  test("q_semdedup joins candidates by cell equality, never all-pairs") {
    // SemDeDup's whole point: the expensive cosine verify runs only on
    // within-cell pairs — the self-join must be a hash/merge EQUI-join
    // on the cell key, and the Lloyd centroid passes stay broadcast
    val plan = planOf(Pipeline.qSemDedup(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cell".r
      .findFirstIn(plan).isDefined, s"no cell equi-join:\n$plan")
    // the centroid join of the assignment passes is the deliberate
    // constant-x8 broadcast fan-out; nothing else may nested-loop
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("graft_doti"), plan)
  }

  test("q_pack_windows explodes off the prefix-sum frame with partial aggregation") {
    val plan = planOf(graft.queries.Packing.qPackWindows(spark, sf))
    assert(plan.contains("RankedPrefixSum"), plan)
    assert(!plan.contains("Window "), s"keyless window would serialize:\n$plan")
    assert("partial_count".r.findAllIn(plan).nonEmpty, plan)
  }

  test("selection operators broadcast their models — the corpus never shuffles for scoring") {
    // DSIR: the 4096-bucket log-ratio model joins onto the token
    // stream as a broadcast; the only exchanges are the bucket-stat
    // aggregation and the per-doc aggregation
    // (the doc-granular keep join may legitimately shuffle — the kept
    // list is ~20% of docs, not broadcastable at scale — but no
    // TOKEN-level key may reach a shuffle join)
    def noTokenShuffleJoin(plan: String, keys: Seq[String]): Unit =
      keys.foreach { k =>
        assert(s"SortMergeJoin \\[$k".r.findFirstIn(plan).isEmpty &&
          s"ShuffledHashJoin \\[$k".r.findFirstIn(plan).isEmpty,
          s"token-level key $k reached a shuffle join:\n$plan")
      }
    val dsir = planOf(graft.queries.Corpus.qDsirScore(spark, sf))
    assert(!dsir.contains("CartesianProduct"), dsir)
    assert("BroadcastHashJoin \\[b".r.findFirstIn(dsir).isDefined,
      s"DSIR model join must broadcast:\n$dsir")
    noTokenShuffleJoin(dsir, Seq("b"))
    // r11: the top-20% keep gate runs on the keyless RankedPrefixSum
    // — a partition-less row_number() window would serialize every
    // doc row onto one task (VERDICT r10 item 1)
    assert(dsir.contains("RankedPrefixSum"), dsir)
    assert(!dsir.contains("Window "),
      s"partition-less window would serialize the keep gate:\n$dsir")
    // LM perplexity: bigram + unigram model tables broadcast (the
    // target set is fixed-size — the P54 bounded-broadcast argument)
    val ppl = planOf(graft.queries.Corpus.qLmPerplexity(spark, sf))
    assert(!ppl.contains("CartesianProduct"), ppl)
    assert("BroadcastHashJoin \\[bigram".r.findFirstIn(ppl).isDefined,
      s"bigram model join must broadcast:\n$ppl")
    assert("BroadcastHashJoin \\[ctx".r.findFirstIn(ppl).isDefined,
      s"unigram model join must broadcast:\n$ppl")
    noTokenShuffleJoin(ppl, Seq("bigram", "ctx"))
    assert(ppl.contains("RankedPrefixSum"), ppl)
    assert(!ppl.contains("Window "),
      s"partition-less window would serialize the keep gate:\n$ppl")
  }

  test("q_mix_resample ranks per-source on the keyed RankedPrefixSum and keeps exactly t per source") {
    // the LOW-CARDINALITY keyed case the operator exists for: ranking
    // partitions by source (a handful of values), which a keyed
    // window would collapse onto |sources| tasks at 100 TB
    val df = graft.queries.Corpus.qMixResample(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("RankedPrefixSum"), plan)
    assert(!plan.contains("Window "), plan)
    val kept = df.filter("keep").groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = df.select("t").head().getLong(0)
    assert(kept.values.toSet === Set(t),
      s"every source must keep exactly t=$t docs: $kept")
  }

  test("q_mix_to_weights hits every weighted target exactly, ranked + broadcast shaped") {
    // the general mix knob (P68): per-source keep counts t_s = w_s·T
    // with T = min(n_s DIV w_s) — the largest feasible integer scale —
    // ranked per source on the keyed RankedPrefixSum with the
    // |sources|-row target frame broadcast (never a corpus shuffle on
    // the join)
    val df = graft.queries.Corpus.qMixToWeights(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("RankedPrefixSum"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window "), plan)
    val kept = df.groupBy("source", "w", "t_s").count().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty)
    kept.foreach { case (src, w, ts, n) =>
      assert(n == ts, s"$src kept $n, target $ts")
    }
    // the weights actually vary — otherwise this is P64 again
    assert(kept.map(_._2).distinct.length > 1)
    // feasibility: no source's target exceeds its size
    val sizes = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    kept.foreach { case (src, _, ts, _) =>
      assert(ts <= sizes(src), s"$src target $ts exceeds size ${sizes(src)}")
    }
  }

  test("q_sample_weighted_group is aggregate-shaped: heaps combine map-side, no window/sort") {
    // the third top-k shape (next to window and ranked): bounded
    // per-group heaps in a partial-then-final ObjectHashAggregate —
    // the exchange carries <= k rows per (task, group), nothing sorts
    // beyond the k-element state
    val plan = planOf(graft.queries.Analytics.qSampleWeightedGroup(spark, sf))
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert("partial.*graft_topk_by".r.findFirstIn(plan).isDefined ||
      plan.contains("partial_topk"), plan)
    assert(!plan.contains("Window "), plan)
    assert(!plan.contains("RankedPrefixSum"), plan)
  }

  test("no query plans a partition-less window — the class, not the instance") {
    // a `Window.orderBy(...)` with empty PARTITION BY funnels the
    // whole input through ONE task — the shape §6.r10 calls out and
    // the keyless RankedPrefixSum exists to replace.  Sweep every
    // query's OPTIMIZED plan so a future operator can't reintroduce
    // the class (VERDICT r10 item 1: pin the class, not the instance).
    // The r11 default-on keylessRewrite would silently FIX the shape
    // at runtime — disable it here so the sweep pins the SOURCE-level
    // discipline, not the safety net.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    spark.conf.set("spark.graft.ranked.keylessRewrite", "false")
    try SparkEntry.queries.foreach { case (name, fn) =>
      val keyless = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(keyless.isEmpty,
        s"$name plans a partition-less window (single-task global sort " +
          s"at scale): ${keyless.mkString("; ")}")
    } finally spark.conf.unset("spark.graft.ranked.keylessRewrite")
  }

  test("q_leaderboard chains rank + dense_rank on ONE range exchange, no window") {
    // the two keyed RankedPrefixSum nodes share (part, order), so the
    // second must ride the first's ordering — one range exchange total
    // before the final orderBy; a Window would collapse onto
    // |lang×source| tasks
    val df = graft.queries.Analytics.qLeaderboard(spark, sf)
    val plan = planOf(df)
    assert("RankedPrefixSum".r.findAllIn(plan).length >= 2, plan)
    assert(!plan.contains("Window "), plan)
    // exchanges: exactly one rangepartitioning for the ranked pair +
    // the final presentation orderBy's range exchange
    assert("Exchange rangepartitioning".r.findAllIn(plan).length <= 2, plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // r13: the rk<=3 bound prunes tie-aware BELOW the shared exchange
    // (below BOTH ranked nodes) — without this the whole corpus ships
    // through the range exchange just to be filtered above it
    assert(plan.contains("RankedLocalTopK"), plan)
    assert(plan.contains("KeepTies"), plan)
    val topkIdx = plan.indexOf("RankedLocalTopK")
    assert("RankedPrefixSum".r.findAllIn(plan.take(topkIdx)).length == 2,
      s"pruner must sit below both ranked nodes:\n$plan")
    // the dense_rank-bounded consumer prunes by DISTINCT local bands
    val tb = planOf(graft.queries.Analytics.qTopBands(spark, sf))
    assert(tb.contains("RankedLocalTopK"), tb)
    assert(tb.contains("KeepDistinctTies"), tb)
    assert(!tb.contains("Window "), tb)
  }

  test("under autoRewrite the topk shapes keep a group-limit: RankedLocalTopK below the exchange") {
    // the r12 A/B gap closed: the window form prunes via
    // WindowGroupLimit, and the ranked form now prunes via the
    // RankedLimitRule map-side top-k — the rk<=k bound must reach the
    // physical plan under the production flag for both topk queries
    spark.conf.set("spark.graft.ranked.autoRewrite", "true")
    try Seq(
      "q_topk_per_group" -> graft.queries.Analytics.qTopkPerGroup(spark, sf),
      "q_sample_stratified" -> graft.queries.Analytics.qSampleStratified(spark, sf)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("RankedPrefixSum"), s"$name:\n$plan")
      assert(plan.contains("RankedLocalTopK"), s"$name lost the limit pushdown:\n$plan")
    } finally spark.conf.unset("spark.graft.ranked.autoRewrite")
  }

  test("no query plans a low-cardinality keyed window over a corpus-scale frame — the class") {
    // The rung below the partition-less class (VERDICT r11): a window
    // keyed SOLELY on a ~5-cardinality corpus column (lang / source /
    // contig / l_returnflag / ...) hash-partitions 100 TB onto |k|
    // tasks.  Production posture: `spark.graft.ranked.autoRewrite`
    // swaps every ORDERED low-|k| running shape to the distributed
    // RankedPrefixSum; UNORDERED per-group aggregates (`SUM/COUNT/MAX
    // OVER (PARTITION BY lang)`) have NO rewrite path and must not
    // exist at source — the scale shape is groupBy + broadcast
    // join-back (q_zscore) or the value-histogram construction
    // (q_quantiles / q_length_outliers).  Sweep: with the flag ON, no
    // Window keyed solely on low-cardinality columns may survive in
    // any optimized plan UNLESS its input frame is already
    // aggregate-compressed (child subtree contains an Aggregate, so
    // frame size is bounded by group count, not corpus rows — e.g.
    // q_char_trigrams' per-lang top-20 over the vocabulary frame).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Window => LWindow}
    val lowCard = Set("lang", "source", "contig", "l_returnflag",
      "event_type", "label", "is_target")
    def offenders(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.nonEmpty &&
          w.partitionSpec.forall(_.references.nonEmpty) &&
          w.partitionSpec.forall(_.references.forall(a => lowCard.contains(a.name))) &&
          w.child.collectFirst { case a: LAggregate => a }.isEmpty => w
      }
    // detector witness: with the rewrite OFF, the ordered keyed shapes
    // (q_topk_per_group rides Window.partitionBy(lang, source)) MUST
    // trip the collector — otherwise a green sweep proves nothing
    assert(offenders(graft.queries.Analytics.qTopkPerGroup(spark, sf)).nonEmpty,
      "detector lost its witness: q_topk_per_group no longer plans a " +
        "low-card keyed window with autoRewrite off — update the witness")
    spark.conf.set("spark.graft.ranked.autoRewrite", "true")
    try SparkEntry.queries.foreach { case (name, fn) =>
      val bad = offenders(fn(spark, sf))
      assert(bad.isEmpty,
        s"$name plans a low-cardinality keyed window over a corpus-scale " +
          s"frame (|k| tasks at 100 TB): ${bad.mkString("; ")}")
    } finally spark.conf.unset("spark.graft.ranked.autoRewrite")
  }

  test("q_char_trigrams aggregates packed longs and group-limits the window") {
    val plan = planOf(graft.queries.CorpusStats.qCharTrigrams(spark, sf))
    // the 1-row-per-char stream must carry packed longs (kernel), not
    // per-gram strings, and the top-20 filter must prune inside the
    // window (WindowGroupLimit), not after a full sort
    assert(plan.contains("graft_packgrams"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("q_heavy_hitters: sketch pass is map-side partial, recount joins a broadcast") {
    val plan = planOf(graft.queries.Analytics.qHeavyHitters(spark, sf))
    // pass 1 must be a partial-then-final ObjectHashAggregate (the
    // imperative sketch combines map-side — per-task state <= k, no
    // vocabulary-wide shuffle of raw tokens for the sketch)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_misra_gries") ||
      "partial.*graft_misra_gries".r.findFirstIn(plan).isDefined, plan)
    // pass 2 recounts candidates behind a BROADCAST join — the token
    // stream must never shuffle on the token for candidate matching
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("q_weighted_sample is one scan into TakeOrdered — no exchange, no window") {
    val plan = planOf(graft.queries.Analytics.qWeightedSample(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    // per-partition heaps need no pre-shuffle: the only exchange is
    // none at all (TakeOrdered reduces driver-side over partitions)
    assert(!plan.contains("Exchange"), plan)
  }

  // the declared ORDER BY over a join/verify pipeline goes through
  // Pipeline.sortedOutput: the keys and their sort columns
  private val sortedOutputKeys = Seq(
    "q_dedup_minhash" -> Seq("doc_a", "doc_b"),
    "q_ngram_jaccard" -> Seq("doc_a", "doc_b"),
    "q_containment" -> Seq("doc_a", "doc_b"),
    "q_fingerprint" -> Seq("doc_id", "fingerprint"),
    "q_winnow_overlap" -> Seq("doc_a", "doc_b"),
    "q_simhash_hamming" -> Seq("doc_a", "doc_b"),
    "q_simhash_hamming_count" -> Seq("dist"),
    "q_video_dedup" -> Seq("doc_a", "doc_b"),
    "q_video_dedup_tol" -> Seq("doc_a", "doc_b"))

  test("sorted-output queries build lazily: no checkpoint job before the ORDER BY") {
    // a build may start Spark's parquet schema read, and the
    // stableCheckpoint of each decision frame the query consumes
    // several times (the signature frames, the tolerant guard list);
    // a checkpoint in front of the sort would add one more job
    val decisionFrames = Map("q_simhash_hamming" -> 1, "q_simhash_hamming_count" -> 1,
      "q_video_dedup" -> 1, "q_video_dedup_tol" -> 2).withDefaultValue(0)
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.map(_.name).mkString("; ")))
    }
    // listener delivery is asynchronous: bracket the build between two
    // marker jobs and wait until the closing one has been delivered
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      eventually(timeout(30.seconds), interval(20.millis)) {
        assert(seen.contains(name))
      }
    }
    sc.addSparkListener(listener)
    try sortedOutputKeys.foreach { case (key, _) =>
      marker(s"before $key")
      seen.clear()
      SparkEntry.queries(key)(spark, sf)
      marker(s"after $key")
      val jobs = seen.toArray(Array.empty[String]).toSeq
      assert(jobs.last == s"after $key", jobs)
      val built = jobs.init
      val checkpoints = built.count(_.contains("heckpoint at "))
      assert(checkpoints == decisionFrames(key),
        s"$key ran $checkpoints checkpoint jobs while building: $built")
      if (decisionFrames(key) == 0)
        assert(built.forall(_.startsWith("parquet at ")),
          s"$key started Spark jobs while building its DataFrame: $built")
    } finally sc.removeSparkListener(listener)
  }

  test("sorted-output queries keep a hash barrier on the sort keys under the range exchange") {
    // the range partitioner's sampling job re-executes the segment
    // between the range exchange and the next exchange below it: that
    // segment must be a straight pipeline off a hash exchange on the
    // sort keys — sortedOutput's REPARTITION_BY_COL exchange, or, where
    // EnsureRequirements drops that one as redundant, the exchange of a
    // final aggregate grouped by the sort keys
    def names(exprs: String): Seq[String] =
      """(\w+)#\d+""".r.findAllMatchIn(exprs).map(_.group(1)).toSeq
    def after(line: String, open: String): String =
      line.substring(line.indexOf(open) + open.length)
    sortedOutputKeys.foreach { case (key, keys) =>
      val plan = planOf(SparkEntry.queries(key)(spark, sf))
      val lines = plan.linesIterator.toIndexedSeq
      val at = lines.indexWhere(_.contains("Exchange rangepartitioning("))
      assert(at >= 0, s"$key has no range exchange:\n$plan")
      assert(names(after(lines(at), "rangepartitioning(")) == keys,
        s"$key range-partitions on other keys:\n$plan")
      val segment = lines.drop(at + 1).takeWhile(!_.contains("Exchange "))
      assert(segment.forall(l => !l.trim.startsWith(":-") && !l.contains("Join") &&
        !l.contains("Scan")), s"$key re-executes a join or scan to sample its sort:\n$plan")
      val barrier = lines.lift(at + 1 + segment.size).getOrElse("")
      assert(barrier.contains("Exchange hashpartitioning("), s"$key has no hash barrier:\n$plan")
      val hashKeys = names(after(barrier, "hashpartitioning(").split(", \\d+\\)")(0))
      val onSortKeys = barrier.contains("REPARTITION_BY_COL") && hashKeys == keys
      val groupedBySortKeys = segment.exists { l =>
        l.contains("HashAggregate(keys=[") &&
          names(after(l, "keys=[").takeWhile(_ != ']')) == hashKeys &&
          names(after(l, "output=[")).take(keys.size) == keys
      }
      assert(onSortKeys || groupedBySortKeys,
        s"$key hash barrier is not on the sort keys:\n$plan")
    }
  }
}
