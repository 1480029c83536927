package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Physical-plan assertions (SURVEY §4): predicate pushdown and column
  * pruning reach the parquet scan, small dims broadcast, and judged
  * queries stay free of cartesian products. */
class PlanSpec extends SparkTestBase {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("equality filter is pushed down to the parquet scan") {
    val df = Tables(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_returnflag")
    val plan = executedPlan(df)
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan.take(2000))
  }

  test("projection prunes the scan schema to selected columns") {
    val df = Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val plan = executedPlan(df)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      plan.take(2000))
  }

  test("dim x dim join broadcasts the small side") {
    val plan = executedPlan(
      SparkEntry.queries("q_dim_join")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("aggregates plan map-side partial aggregation") {
    val plan = executedPlan(SparkEntry.queries("q1_agg")(spark, sfDir))
    assert(plan.contains("partial_sum"), plan.take(2000))
  }

  test("near-dup self-joins read the persisted shingle relation, not the scan twice") {
    val plan = executedPlan(SparkEntry.queries("q_near_dup")(spark, sfDir))
    assert(plan.contains("InMemoryTableScan"), plan.take(2000))
  }

  test("shingle pipeline plans no Window node (kernel expression, not window-lead)") {
    // r3 VERDICT item 1: shingles must come out of the scan as per-row
    // arrays, never via a corpus-wide (doc, pos, token) window exchange.
    for (name <- Seq("q_near_dup", "q_simhash", "q_minhash_lsh", "q_doc_fingerprint")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name plans a Window node")
    }
  }

  test("partition-literal filter prunes the re-read to one directory") {
    // SURVEY §4: the partitioned layout must pay off on the READ side —
    // a `year = literal` filter becomes a PartitionFilter (directory
    // pruning), never a row-level PushedFilter over every file.
    val path = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_rt/prune_spec"
    graft.operators.Relational.writePartitioned(
      Tables(spark, sfDir, "orders").withColumn("year", year(col("o_orderdate"))),
      path, Seq("year"))
    val plan = executedPlan(
      spark.read.parquet(path).filter(col("year") === 1995)
        .groupBy("year").agg(count(lit(1)).as("n")))
    // the equality literal reaches the PartitionFilters slot (directory
    // pruning); the inferred isnotnull companion is constraint
    // propagation's and is no longer asserted (r19 turned the feature
    // off session-wide — pruning is carried by the equality alone)
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("\\s+", " ")
        .matches("(?s).*PartitionFilters: \\[[^\\]]*= 1995\\)\\].*"),
      plan.take(3000))
  }

  test("joining a partitioned fact on its partition key plans dynamic pruning") {
    // SURVEY §4's "dynamic" half: when the pruning value is only known at
    // runtime (it comes from the filtered dim side of a join), the scan
    // must plan a dynamicpruning subquery rather than reading every year.
    val path = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_rt/dpp_spec"
    graft.operators.Relational.writePartitioned(
      Tables(spark, sfDir, "orders").withColumn("year", year(col("o_orderdate"))),
      path, Seq("year"))
    val dim = Tables(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(year(col("l_shipdate")).as("year")).distinct()
    val joined = spark.read.parquet(path).join(broadcast(dim), "year")
      .groupBy("year").agg(count(lit(1)).as("n"))
    assert(joined.queryExecution.executedPlan.toString
      .contains("dynamicpruningexpression"),
      joined.queryExecution.executedPlan.toString.take(3000))
  }

  test("bucketed co-located join plans no shuffle exchange") {
    // writeBucketed's contract: pay one shuffle at write time, then an
    // equi-join on the bucket column of identically-bucketed tables must
    // read co-located buckets — zero Exchange nodes in the join plan.
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    graft.operators.Relational.writeBucketed(
      Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity"),
      "plan_bkt_li", s"$tmp/graft_rt/plan_bkt_li", "l_orderkey", 4)
    graft.operators.Relational.writeBucketed(
      Tables(spark, sfDir, "orders").select("o_orderkey", "o_orderstatus"),
      "plan_bkt_o", s"$tmp/graft_rt/plan_bkt_o", "o_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val plan = executedPlan(spark.table("plan_bkt_li")
        .join(spark.table("plan_bkt_o"), col("l_orderkey") === col("o_orderkey")))
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"), plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("scd2 plans BOTH window passes over one hash exchange") {
    // scd2FromChanges's scale claim: the lag (run dedup) and lead (close-
    // out) windows share the same (key) partitioning and (ts, tiebreak)
    // order, so Catalyst must plan ONE hashpartitioning exchange — a
    // second exchange would mean the history pays the shuffle twice.
    val plan = SparkEntry.queries("q_scd2")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).length === 1,
      plan.take(3000))
    assert("Window".r.findAllMatchIn(plan).length === 2, plan.take(3000))
  }

  test("selective dim filter injects a runtime bloom filter into the fact side") {
    // The non-partition-column sibling of dynamic partition pruning: when
    // a join's build side carries a selective filter, Spark can inject a
    // bloom-filter semi-filter into the probe side's scan stage, cutting
    // the shuffle before the join. Size thresholds gate it by estimated
    // stats (creation side small, application side large — a 100 TB fact
    // qualifies; sf0.001 test tables do not), so the thresholds are
    // zeroed HERE to assert the optimizer wires the filter through our
    // declarative plans — the capability is what's load-bearing, the
    // thresholds are tuning.
    val conf = spark.conf
    val prevEnabled = conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
    val prevScan = conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prevBcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      val fact = Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
      val dim = Tables(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "F") // selective build-side predicate
        .select("o_orderkey")
      val plan = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilter"),
        plan.take(3000))
    } finally {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prevEnabled)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prevScan)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("decontamination broadcasts the eval-set grams; train side never shuffles") {
    val plan = executedPlan(SparkEntry.queries("q_decontam")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // the only exchange feeding the flag join is the broadcast; the train
    // relation reaches its per-doc count straight from the scan (the
    // aggregate's hash exchange shuffles only flagged (id, gram) pairs)
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("boilerplate drop-list anti-join broadcasts (line strings never shuffle for the df count)") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").as("doc"))
    val plan = executedPlan(
      graft.functions.TextOps.stripBoilerplate(docs, "doc_id", "doc", 3))
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan.take(3000))
  }

  test("heavy-hitters verify pass pushes the candidate set into the scan filter") {
    // the second pass must be a filtered aggregate over <= k candidate
    // values (an In/InSet on the token), never a full re-aggregation
    val plan = executedPlan(SparkEntry.queries("q_heavy_hitters")(spark, sfDir))
    assert(plan.contains(" IN ") || plan.contains("INSET") || plan.contains("In("),
      plan.take(3000))
    assert(plan.contains("partial_count"), plan.take(3000))
  }

  test("clustered re-read pushes the range predicate to the parquet scan") {
    val plan = executedPlan(SparkEntry.queries("q_cluster_prune")(spark, sfDir))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_shipdate"), plan.take(3000))
  }

  test("skewProfile broadcasts the one-row summary, never shuffles per-key counts again") {
    val plan = executedPlan(SparkEntry.queries("q_skew_profile")(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(3000))
  }

  test("LM scorers broadcast the probability tables; corpus never re-shuffles for them") {
    for (q <- Seq("q_unigram_lm", "q_bigram_lm")) {
      val plan = executedPlan(SparkEntry.queries(q)(spark, sfDir))
      graft.engine.Caches.releaseAll()
      assert(plan.contains("BroadcastHashJoin"), s"$q:\n${plan.take(3000)}")
    }
  }

  test("dsir weights broadcast the log-ratio table; no window, no cartesian-scale join") {
    val plan = executedPlan(SparkEntry.queries("q_dsir_select")(spark, sfDir))
    graft.engine.Caches.releaseAll()
    // the ratio table (bucket-bounded) must come back as a broadcast —
    // a hash-exchange join here would shuffle the corpus token relation
    // a second time for vocabulary-scale state
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("interval merge: the rollup reuses the window's hash exchange (one shuffle total)") {
    val plan = executedPlan(SparkEntry.queries("q_interval_merge")(spark, sfDir))
    // hash(user_id) partitioning satisfies the (user_id, span) aggregate's
    // clustered distribution, so only the window's exchange (plus the
    // final orderBy's range exchange) appears
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1, s"expected 1 hash exchange, got $hashExchanges:\n${plan.take(3000)}")
  }

  test("scaling trio plans one stats aggregate broadcast back, no per-key window sort") {
    for (q <- Seq("q_minmax_scale", "q_robust_scale", "q_trend")) {
      val plan = executedPlan(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("Window"), s"$q should not plan a window:\n${plan.take(3000)}")
      if (q != "q_trend") // trend is pure aggregate; the scalers broadcast stats back
        assert(plan.contains("BroadcastHashJoin"), s"$q:\n${plan.take(3000)}")
    }
  }

  test("zorder re-read pushes both box predicates to the parquet scan") {
    val plan = executedPlan(SparkEntry.queries("q_zorder")(spark, sfDir))
    // the PushedFilters display truncates a long list — assert the
    // pushdown marker plus all four bounds in the data-filter text
    assert(plan.contains("GreaterThanOrEqual(o_custkey,40)") &&
      plan.contains(">= 40)") && plan.contains("<= 120)") &&
      plan.contains(">= 1996-01-01") && plan.contains("< 1998-01-01"),
      plan.take(3000))
  }

  test("melt plans a single Expand with no shuffle before the sort") {
    val plan = executedPlan(
      graft.operators.Relational.melt(
        Tables(spark, sfDir, "part")
          .select(col("p_partkey"), col("p_retailprice"),
            col("p_size").cast("double").as("p_size")),
        Seq("p_partkey"), Seq("p_size", "p_retailprice"), "metric", "value"))
    assert(plan.contains("Expand"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("sequential-scan operators (ewma, capped sessions) plan exactly one exchange") {
    for (q <- Seq("q_ewma", "q_session_capped")) {
      val plan = executedPlan(SparkEntry.queries(q)(spark, sfDir))
      // one hash exchange for the repartition(key); the orderBy adds a
      // range exchange — nothing else (no window, no extra shuffle)
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashExchanges === 1, s"$q: $hashExchanges hash exchanges\n${plan.take(3000)}")
      assert(!plan.contains("Window"), s"$q should not plan a window")
    }
  }

  test("url/nfc kernels run scan-stage: pruned read, only the sort exchanges") {
    // q_url_canon's fixture derives URLs from doc_id alone — text must
    // not even be read (column pruning through the kernel expression)
    val url = executedPlan(SparkEntry.queries("q_url_canon")(spark, sfDir))
    assert(url.contains("ReadSchema: struct<doc_id:bigint>"), url.take(3000))
    assert(url.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"more than the sort's exchange:\n${url.take(3000)}")
    val nfc = executedPlan(SparkEntry.queries("q_text_nfc")(spark, sfDir))
    assert(nfc.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      nfc.take(3000))
    assert(nfc.contains("graft_nfc"), nfc.take(3000))
  }

  test("bloom prefilter evaluates scan-stage, below the join's exchange") {
    // the operator's whole point: might_contain kills ~98% of fact rows
    // BEFORE they cross an exchange. The probe must sit in the same
    // stage as the fact scan — i.e. the plan text shows the filter
    // strictly below (after, in toString order) every Exchange.
    // (prints as `might_contain`, the expression's prettyName — the
    // graft_ alias exists only in the function registry)
    val lines = executedPlan(SparkEntry.queries("q_bloom_join")(spark, sfDir)).linesIterator.toSeq
    val probe = lines.indexWhere(l =>
      l.contains("might_contain") && l.contains("l_orderkey"))
    assert(probe >= 0, lines.mkString("\n").take(3000))
    val below = lines.drop(probe + 1).takeWhile(!_.trim.startsWith("+- Filter"))
    assert(below.headOption.exists(l =>
        l.contains("FileScan parquet") && l.contains("lineitem")),
      s"probe not directly on the fact scan:\n${lines.mkString("\n").take(3000)}")
  }

  test("html strip runs scan-stage: pruned read, only the sort exchanges") {
    val plan = executedPlan(SparkEntry.queries("q_html_strip")(spark, sfDir))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      plan.take(3000))
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      s"more than the sort's exchange:\n${plan.take(3000)}")
  }

  test("hll merge plans two partial-aggregated shuffles, no raw-key re-shuffle") {
    // shard sketches partial-agg map-side (hll_sketch_agg partials), the
    // union partial-aggs again — raw (group, key) rows cross at most the
    // FIRST exchange; the second carries kilobyte sketch rows
    val plan = executedPlan(SparkEntry.queries("q_hll_merge")(spark, sfDir))
    assert(plan.contains("partial_hll_sketch_agg") ||
      plan.contains("partial_hllsketchagg") ||
      plan.toLowerCase.contains("partial_hll"), plan.take(3000))
  }

  test("semantic decontam broadcasts the eval side; corpus never shuffles raw vectors") {
    val plan = executedPlan(SparkEntry.queries("q_sem_decontam")(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the only exchanges: broadcast of eval + the flagged-pair aggregate
    // + the final sort — never a repartition of the train corpus rows
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => l.contains("Broadcast") ||
        l.contains("hashpartitioning(vec_id") || l.contains("rangepartitioning")),
      exchanges.mkString("\n"))
  }

  test("mixRates never touches the corpus after the counts aggregate") {
    // |sources|-row arithmetic: one partial-agg shuffle for the counts,
    // a broadcast of the 1-row waterfill constant, the final sort
    val plan = executedPlan(SparkEntry.queries("q_mix_rates")(spark, sfDir))
    assert(plan.contains("partial_sum"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("rrf fusion plans one aggregate shuffle over pre-cut ranklists") {
    // legs arrive already cut to top-k; the union is plan-level only and
    // the fused score is a partial-aggregated groupBy — the one shuffle
    // carries legs×k (id, rank) rows, never anything corpus-scale
    val plan = executedPlan(SparkEntry.queries("q_hybrid_search")(spark, sfDir))
    assert(plan.contains("partial_sum"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    graft.engine.Caches.releaseAll()
  }

  test("ingestNearDup joins band keys; corpus text never enters the plan") {
    // the corpus side is the signature index — its text is structurally
    // absent; candidates join on (band, bh) equi keys (SortMerge or
    // ShuffledHash, never a broadcast-less nested loop)
    val plan = executedPlan(SparkEntry.queries("q_ingest_neardup")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("band"), plan.take(3000))
    graft.engine.Caches.releaseAll()
  }

  test("label propagation rounds are partial-agg argmax shapes, never windows") {
    // the per-round per-node argmax must stay max(struct(cnt,-label))
    // (partial-aggregated both levels) — a row_number-over-window
    // rewrite would shuffle-and-sort the full neighbor-label multiset.
    // Asserted on the round function directly: inside labelPropagation
    // the barrier executes rounds eagerly, so the returned frame's plan
    // no longer contains them.
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "lbl")
    val plan = executedPlan(graft.operators.Graph.lpaRound(und, labels))
    assert(!plan.contains("Window"), plan.take(2000))
    assert(plan.contains("partial_count"), plan.take(2000))
    assert(plan.contains("partial_max"), plan.take(2000))
  }

  test("readWhereBetween plans a scan over ONLY the surviving directories") {
    import graft.tables.VersionedTable
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_vt/plan_skip"
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val orders = Tables(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") < 1000))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 3000))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") >= 3000))
    val plan = executedPlan(
      VersionedTable.readWhereBetween(spark, root, "o_orderkey", 1200L, 1800L))
    assert(plan.contains("d-00000002"), plan.take(2000))
    assert(!plan.contains("d-00000001") && !plan.contains("d-00000003"),
      "pruned directories must not appear in the scan: " + plan.take(2000))
  }

  test("keywords shares ONE persisted corpus scan between tf and df") {
    val plan = executedPlan(SparkEntry.queries("q_keywords")(spark, sfDir))
    assert(plan.contains("InMemoryTableScan"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("scan-rank family plans WindowGroupLimit, never a full-sort window") {
    // the hottest vector shape: rank<=k over a per-query window. Spark's
    // WindowGroupLimit keeps a bounded top-k heap per partition ahead of
    // the sort; without it every (query, corpus) pair sorts in full —
    // the regression this pin guards against (prior-round carry-over)
    import spark.implicits._
    import graft.operators.Vectors
    val corpus = (0L until 100L)
      .map(i => (i, Array.fill(8)((i % 7).toDouble + 1))).toDF("id", "v")
    val qs = (0L until 5L)
      .map(i => (i + 1000L, Array.fill(8)((i % 7).toDouble + 1)))
      .toDF("qid", "qv")
    def wglCount(df: org.apache.spark.sql.DataFrame): Int =
      "WindowGroupLimit".r.findAllIn(executedPlan(df)).length
    assert(wglCount(
      Vectors.bruteForceTopK(corpus, "id", "v", qs, "qid", "qv", 3)) >= 1)
    assert(wglCount(Vectors.knnPredict(
      corpus.withColumn("label", col("id") % 3),
      "id", "v", "label", qs, "qid", "qv", 3)) >= 1)
    // the shortlist-then-exact quantized paths rank TWICE — both stages
    // must stay bounded
    assert(wglCount(Vectors.sq8TopK(corpus, "id", "v", qs, "qid", "qv", 3)) >= 2)
    assert(wglCount(Vectors.bqTopK(corpus, "id", "v", qs, "qid", "qv", 3)) >= 2)
    assert(wglCount(Vectors.pqTopK(corpus, "id", "v", qs, "qid", "qv", 3)) >= 2)
    assert(wglCount(Vectors.ivfPqTopK(corpus, "id", "v", qs, "qid", "qv", 3)) >= 2)
    // the single-rank paths: every candidate generator ends in the same
    // bounded ranking step
    assert(wglCount(Vectors.ivfTopK(corpus, "id", "v", qs, "qid", "qv", 3)) >= 1)
    assert(wglCount(Vectors.annTopK(corpus, "id", "v", qs, "qid", "qv", 3)) >= 1)
    assert(wglCount(Vectors.retrievalRecall(corpus, "id", "v", qs, "qid", "qv",
      qs.select(col("qid"), (col("qid") - 1000L).as("tid")), "qid", "tid", 3)) >= 1)
    spark.catalog.clearCache()
  }

  test("banded prefix-sum family partitions its data-scale window by band") {
    // concentration / KS / AUC / lift replace the global ordered cumsum
    // with engine.Banding: the window over DATA rows must partition by
    // __band (plan prints `Window [...], [__band#n], [...]`); a missing
    // partition here would be the single-partition-window regression
    // the banding exists to prevent. (The remaining partition-less
    // windows run over config-scale relations: band offsets, k decile
    // rows.)
    for (name <- Seq("q_pareto", "q_ks", "q_auc", "q_lift", "q_gini",
      "q_spearman", "q_rfm", "q_calibration", "q_concurrency")) {
      val plan = executedPlan(SparkEntry.queries(name)(spark, sfDir))
      assert(plan.contains("], [__band"),
        s"$name: data window not band-partitioned\n" + plan.take(3000))
      spark.catalog.clearCache()
    }
  }

  test("topKPerKey plans ObjectHashAggregate partials, never a window") {
    val plan = executedPlan(SparkEntry.queries("q_topk_agg")(spark, sfDir))
    assert(plan.contains("ObjectHashAggregate"),
      s"expected object hash aggregation:\n$plan")
    // the whole point: no WindowExec and no full-data sort before the
    // exchange — each task ships at most k rows per local key
    assert(!plan.contains("Window"), s"window leaked into the plan:\n$plan")
    spark.catalog.clearCache()
  }

  test("reservoirSampleStratified rides the window-free top-k plan") {
    val plan = executedPlan(
      SparkEntry.queries("q_weighted_stratified")(spark, sfDir))
    assert(plan.contains("ObjectHashAggregate"),
      s"expected object hash aggregation:\n$plan")
    assert(!plan.contains("Window"), s"window leaked into the plan:\n$plan")
    spark.catalog.clearCache()
  }

  test("prefPairs plans the window-free partial-agg argmax") {
    import spark.implicits._
    val plan = executedPlan(graft.functions.TextOps.prefPairs(
      Seq((1L, "a", 5L, 1L), (1L, "b", 1L, 2L))
        .toDF("p", "resp", "rating", "tie"),
      "p", "resp", "rating", "tie"))
    assert(plan.contains("partial"), s"expected partial aggregation:\n$plan")
    assert(!plan.contains("Window"), s"window leaked into the plan:\n$plan")
  }

  test("louvainMove plans joins + partial-agg argmax, never a window " +
      "or pair enumeration") {
    import spark.implicits._
    val plan = executedPlan(graft.operators.Graph.louvainMove(
      Seq((1L, 2L), (2L, 3L)).toDF("s", "d"),
      "s", "d", Seq((1L, 1L)).toDF("id", "lbl"), "id", "lbl"))
    assert(!plan.contains("Window"), s"window leaked into the plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian leaked into the plan:\n$plan")
    graft.engine.Caches.releaseAll()
  }

  test("blocklistGateStream verdicts are scan-stage: no join, no " +
      "aggregate, no shuffle (pure map at any volume)") {
    import spark.implicits._
    val plan = executedPlan(graft.streaming.Streams.blocklistGateStream(
      Seq((1L, "t", "u")).toDF("doc_id", "text", "url"),
      "doc_id", "text", "url",
      Seq("bad").toDF("w"), Seq("d.com").toDF("d")))
    assert(!plan.contains("Exchange"), s"shuffle leaked into the plan:\n$plan")
    assert(!plan.contains("Join"), s"join leaked into the plan:\n$plan")
  }

  test("preferValueAll plans one Window and no Join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    val plan = SparkEntry.queries("q_prefer_status_all")(spark, sfDir)
      .queryExecution.optimizedPlan
    assert(plan.collect { case w: Window => w }.size === 1, plan.treeString)
    assert(plan.collect { case j: Join => j }.isEmpty, plan.treeString)
  }

  test("a glob above the 32-path listing threshold lists in one task per core") {
    // Tables.bootstrap caps Spark's parallel file listing at
    // defaultParallelism; without it the listing job runs one task per file.
    import java.nio.file.Files
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val root = Files.createTempDirectory("graft_listing")
    for (i <- 0 until 40) {
      val f = root.resolve(s"d${i % 4}/f$i.json")
      Files.createDirectories(f.getParent)
      Files.writeString(f, s"""{"id":$i}""")
    }
    val sc = spark.sparkContext
    val (listing, marker) = ("graft-listing", "graft-listing-marker")
    val jobTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case `listing` => jobTasks.add(e.stageInfos.map(_.numTasks).sum)
          case `marker` => markerJob.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      // building the frame lists the 40 globbed files (the schema is
      // given, so nothing else runs)
      sc.setJobGroup(listing, listing)
      val df = try spark.read.schema("id LONG").json(s"$root/*/*.json")
        finally sc.clearJobGroup()
      assert(df.inputFiles.length === 40)
      // listener events arrive in order: once a job started after the
      // listing has ended, every listing job has been seen
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val tasks = scala.jdk.CollectionConverters.CollectionHasAsScala(jobTasks).asScala.toSeq
      assert(tasks.nonEmpty, "40 paths should list in a Spark job")
      assert(tasks.forall(_ <= sc.defaultParallelism), tasks)
    } finally sc.removeSparkListener(listener)
  }

  test("a compiled class outlives more distinct plans than Spark's default cache holds") {
    // Tables.bootstrap sizes Spark's generated-class cache; at Spark's
    // default of 100 entries the 150 distinct plans below evict the first
    // plan's class and its re-run compiles it again.
    import org.apache.spark.metrics.source.CodegenMetrics
    assert(spark.conf.get(Tables.CodegenCacheKey) === Tables.CodegenCacheEntries.toString)
    // a primitive literal is inlined into the generated source, so each
    // factor yields a class of its own
    def run(factor: Int): Unit =
      spark.range(8).select((col("id") * lit(factor)).as("x")).collect()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(-1)
    (1 to 150).foreach(run)
    val before = compiles
    run(-1)
    assert(compiles === before, "the first plan's class was evicted")
  }

  test("no judged query plans a cartesian product") {
    // The ANN/brute-force vector joins are inequality-join by design but
    // keep an equi component (bucket) or broadcast; nothing should fall
    // back to CartesianProduct, which would never survive 100 TB.
    for ((name, fn) <- SparkEntry.queries if !name.startsWith("q_write") &&
        !Set("q_fact_build", "q_prune_read", "q_star_schema").contains(name)) { // write queries execute on construction
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
      // queries that persist() internally (curation/dedup family) must not
      // pile cached relations across this all-queries loop (ADVICE r4)
      spark.catalog.clearCache()
    }
  }
}
