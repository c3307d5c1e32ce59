package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col

/** Physical-plan quality gates (SURVEY.md §4.2): these are the properties
  * that decide whether a query survives a 100× scale-up — filters reaching
  * the parquet scan, projections pruning the read schema, small dims
  * broadcast, windows not collapsing to a global sort. Asserted on the
  * formatted explain output so regressions fail CI, not the cluster. */
class PlanQualitySpec extends SparkSpecBase {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q_src_parquet prunes the read schema to the projected columns") {
    val p = plan("q_src_parquet")
    assert(p.contains("ReadSchema"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_linenumber") &&
      readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q_filter_eq pushes the predicate into the parquet scan") {
    val p = plan("q_filter_eq")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("EqualTo(l_linenumber,1)"), pushed)
  }

  test("q_join_broadcast plans a broadcast hash join, no shuffle of the dim") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_topk plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(12
      ).mkString("\n"))
  }

  test("q_agg_group uses two-phase hash aggregation (partial before shuffle)") {
    val p = plan("q_agg_group")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregate")
    assert(p.contains("Exchange"))
  }

  test("entry broadcasts the small dims and keeps one shuffle stage chain") {
    val df = SparkEntry.entry(spark)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "nation/region not broadcast")
  }

  test("q_join_interval bucketizes to an equi-join, no nested loop") {
    val p = plan("q_join_interval")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "interval overlap regressed to a range nested-loop join:\n" +
        p.linesIterator.take(20).mkString("\n"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected an equi-join on bucket id")
  }

  test("q_vec_cosine_dedup joins its blocks on bkey, no nested loop") {
    val p = plan("q_vec_cosine_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "cosine dedup regressed to an all-pairs join:\n" +
        p.linesIterator.take(20).mkString("\n"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected an equi-join on bkey")
  }

  // the two ANN plan gates pin the RAW kernels (the production
  // dataflow): since r15 the registered queries wrap them in the
  // recall-bound readout whose exact-reference leg is an intentional
  // bounded BNL join
  private def rawPlan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_vec_ann_ivf joins candidates on (cell, shard), no nested loop") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val p = rawPlan(graft.ops.TextSim.annCosineIvf(
      emb.filter(col("vec_id") < 20), emb, 3))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "IVF regressed to an all-pairs join")
    // the composite key is the scale guarantee: reduce parallelism is
    // nCells x shards, never bounded by the cell count alone
    assert(p.contains("shard"),
      "candidate join lost its shard key — parallelism capped at nCells")
    // centroids ride a broadcast read by the top_cells expression; if
    // they regressed to codegen literals the plan string would carry the
    // O(nCells·dim) centroid arrays (megabytes at 256 cells)
    assert(p.contains("top_cells"), "broadcast-centroid expression missing")
    assert(p.length < 200000,
      s"plan string is ${p.length} chars — literal arrays are back")
  }

  test("q_vec_ann_lsh buckets via the plane-free expression, no nested loop") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val p = rawPlan(graft.ops.TextSim.annCosineLsh(
      emb.filter(col("vec_id") < 20), emb, 3))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), "LSH regressed to an all-pairs join")
    // hyperplanes are executor-regenerated from the seed; a typedLit
    // regression re-embeds nTables·bits·dim doubles into plan + codegen
    // (the Janino 64KB ceiling at the τ=0.9 dedup params)
    assert(p.contains("sign_buckets"), "bucket expression missing from plan")
    assert(p.length < 200000,
      s"plan string is ${p.length} chars — literal hyperplanes are back")
  }

  test("q_sql_lateral decorrelates the LIMIT into WindowGroupLimit + join") {
    val p = plan("q_sql_lateral")
    // the correlated per-customer subquery must NOT survive as a
    // nested-loop re-execution: Catalyst rewrites it to a partial
    // per-map top-k (WindowGroupLimit) feeding one equi-join
    assert(p.contains("WindowGroupLimit"), "top-k pushdown missing")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), "lateral planned as nested loop")
  }

  test("q_sql_exists decorrelates to hash semi- and anti-joins") {
    val p = plan("q_sql_exists")
    assert(p.contains("LeftSemi"), "EXISTS not planned as a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS not planned as an anti join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), "correlated re-execution survived")
  }

  test("q_text_dedup_spans explodes via the codegen'd ngram kernel") {
    val p = plan("q_text_dedup_spans")
    // the interpreted HOF slice form (transform+slice) was the repo's
    // worst superlinearity; the kernel name in the plan is the witness
    assert(p.contains("token_ngrams"), "TokenNgrams kernel missing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregate")
  }

  test("q_vec_mips broadcasts the probes and rank-cuts per query") {
    val p = plan("q_vec_mips")
    assert(p.contains("WindowGroupLimit"), "per-query top-k not pushed down")
    // the =!= self-pair guard makes this a BNL by necessity — the gate
    // is that the BUILD side is the 3-row probe table, never the corpus
    assert(p.contains("Broadcast"), "probe side not broadcast")
  }

  test("q_graph_triangles closes wedges with equi-joins only") {
    val p = plan("q_graph_triangles")
    // the four 1-row summary readouts legitimately combine via Cross
    // BNL (broadcasting single-row aggregates); the regression this
    // gate exists for is the WEDGE CLOSURE running as a non-equi join
    // over the edge table — that would surface as an Inner BNL with a
    // join condition, or a CartesianProduct
    assert(!p.contains("CartesianProduct"), "cartesian in triangle plan")
    assert(!p.contains("BroadcastNestedLoopJoin Inner"),
      "triangle closure regressed to a non-equi join")
  }

  test("q_graph_components runs one grouped local pass, no iteration") {
    val p = plan("q_graph_components")
    // flatMapGroups plans as MapGroups: the single per-brand local
    // union-find pass (iterative propagation would show join+aggregate
    // rounds instead)
    assert(p.contains("MapGroups"),
      "brand-grouped union-find pass missing from the plan")
    // r18: the edge list rides the SHARED brandEdges contraction
    // (CoOrderGraph cache → Scan ExistingRDD), so nothing below the
    // union-find may join — the fact-table self-join this replaced
    // would plan a join under MapGroups. Judged on the TREE segment
    // only (the formatted detail section re-lists every node above).
    val tree = p.split("\n\n")(0)
    val below = tree.substring(tree.indexOf("MapGroups"))
    assert(!below.contains("Join"),
      "edge build regressed to a join below the union-find:\n" +
        below.linesIterator.take(12).mkString("\n"))
  }

  test("q_text_decon_ngram is map-side only (no join, no aggregate)") {
    // r18 zero-shuffle rewrite: per-doc distinct grams stay IN-ROW and
    // the hit count probes a broadcast set — the plan must show no
    // join (the old broadcast left join) and no aggregate (the old
    // explode → groupBy(doc) collapse). The only exchanges allowed are
    // the documented parallelize lift and the output sort.
    // judged on the TREE segment only (the formatted detail section
    // re-lists every node, double-counting)
    val tree = plan("q_text_decon_ngram").split("\n\n")(0)
    assert(!tree.contains("Join"),
      "decon_ngram regressed to a join form")
    assert(!tree.contains("HashAggregate") && !tree.contains("SortAggregate"),
      "decon_ngram regressed to an explode+groupBy form")
    val exchanges = "Exchange".r.findAllIn(tree).size
    assert(exchanges <= 2,
      s"expected <= 2 exchanges (lift + output sort), got $exchanges:\n" +
        tree.linesIterator.take(12).mkString("\n"))
  }

  test("q_join_salted scatters the key across salt replicas in the join key") {
    // at test scale the dim would be auto-broadcast (no shuffle at all),
    // which hides the property the operator exists for; disable broadcast
    // to see the 100 TB shape — a SHUFFLED equi-join whose key includes
    // the salt, so one hot user_id spreads over `factor` reduce tasks
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(thr)
    try {
      spark.conf.set(thr, "-1")
      val p = plan("q_join_salted")
      assert(p.contains("__salt"),
        "salt key missing from the join:\n" +
          p.linesIterator.take(20).mkString("\n"))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "expected a shuffled equi-join on (key, salt)")
      assert(p.contains("Generate") || p.contains("explode"),
        "dim side is not replicated across salts")
    } finally spark.conf.set(thr, old)
  }

  test("q_join_bridge3 broadcasts both dimension sides") {
    // lineitem⋈orders⋈customer at sf0.001: both joins must be broadcast
    // hash joins (orders+customer are dims vs the lineitem fact)
    val p = plan("q_join_bridge3")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "bridge join shuffles a dim side:\n" +
        p.linesIterator.take(16).mkString("\n"))
  }

  test("q_filter_range_disj filters on the scan before any exchange") {
    // The disjunction is hour()/minute()/second() of a timestamp derived
    // from raw nanos, so it can never appear in PushedFilters (parquet
    // pushdown carries only raw-column predicates). The scale property to
    // gate instead: the scan reads only the two referenced columns, and
    // the filter is applied directly on scan output — before any
    // Exchange — so the full-table rows never cross the network.
    val p = plan("q_filter_range_disj")
    val lines = p.linesIterator.toSeq
    val readSchema = lines.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("event_id") && readSchema.contains("ts") &&
      !readSchema.contains("event_type"), s"unpruned scan: $readSchema")
    val tree = lines.takeWhile(!_.startsWith("(1)"))
    val filterDepth = tree.indexWhere(_.contains("Filter"))
    val scanDepth = tree.indexWhere(_.contains("Scan parquet"))
    val exchangeDepth = tree.indexWhere(_.contains("Exchange"))
    assert(filterDepth >= 0 && scanDepth == filterDepth + 1,
      "filter is not directly on the scan:\n" + tree.mkString("\n"))
    assert(exchangeDepth < filterDepth,
      "rows are shuffled before the filter:\n" + tree.mkString("\n"))
  }

  test("q_win_rownum attaches ranks without a window or single partition") {
    // globalRowNumber is the zipWithIndex pattern: ONE materialized range
    // shuffle, counts + rank attachment over the same shuffle files. A
    // `Window` or a SinglePartition exchange in this plan means someone
    // reverted to the global-window (or two-branch offsets-join)
    // formulation — the one-task funnel / double-evaluated-boundaries
    // regressions respectively. (Downstream of the attachment the plan
    // roots at the RDD scan; the output-ordering sort is range-based.)
    val df = SparkEntry.queries("q_win_rownum")(spark, sf0001)
    df.collect()
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("Window"),
      "rank comes from a window again:\n" + p)
    assert(!p.contains("SinglePartition"),
      "a single-partition exchange reappeared:\n" + p)
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      "expected the zipWithIndex RDD scan root:\n" + p)
  }

  test("q_udtf_hours_explode keeps the parse above the exchange, run once") {
    // the inner-posexplode form lets InferFiltersFromGenerate add
    // `size(parse_hours(..)) > 0`, which predicate pushdown drags — with
    // the whole parse inlined — below the repartition exchange into the
    // single-split scan task (the round-3 19.5 s driver bench). The
    // outer-explode + pos-not-null form must plan with NO Filter carrying
    // the parse kernel, and the lifted parallelism must survive.
    val p = plan("q_udtf_hours_explode")
    val lines = p.linesIterator.toSeq
    assert(p.contains("parse_hours"), "the parse kernel is not in the plan")
    // formatted mode: filter predicates print on "Condition :" lines and
    // scan-level residuals on "DataFilters" — the kernel on either means
    // the inferred filter is back
    val filterLines = lines.filter(l =>
      (l.contains("Condition") || l.contains("DataFilters")) &&
        l.contains("parse_hours"))
    assert(filterLines.isEmpty,
      "the parse is re-run inside an inferred filter:\n" +
        filterLines.mkString("\n").take(500))
    assert(p.contains("RoundRobinPartitioning"),
      "the parallelism-lifting repartition is gone")
  }

  test("q_src_partition_prune pushes the partition predicate into the scan") {
    // the filter on the partition column must become a PartitionFilter
    // (directory elimination — no I/O on other partitions), never a data
    // filter evaluated per row after a full scan
    val p = plan("q_src_partition_prune")
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.isDefined, "read-back scan reports no PartitionFilters:\n" +
      p.linesIterator.take(20).mkString("\n"))
    assert(pf.get.contains("event_type") && pf.get.contains("purchase"),
      s"partition predicate not pushed: ${pf.get}")
  }

  test("q_sink_bucketed dataflow reuses the bucket layout — no hash exchange") {
    // the whole point of paying the shuffle at write time: both per-user
    // aggregates and their join must consume the bucketed distribution
    // directly. Any hashpartitioning exchange in the plan means the
    // layout was lost (the orderBy's rangepartitioning is expected).
    // Broadcast is disabled so the join can't sidestep the property
    // under the tiny test scale.
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(thr)
    try {
      spark.conf.set(thr, "-1")
      val p = plan("q_sink_bucketed")
      assert(p.contains("Bucketed: true"),
        "read-back scan is not bucketed:\n" +
          p.linesIterator.take(20).mkString("\n"))
      assert(!p.contains("hashpartitioning"),
        "bucket layout lost — a hash exchange reappeared:\n" +
          p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
      assert(p.contains("SortMergeJoin"),
        "expected a shuffle-free sort-merge join on the bucket key")
    } finally spark.conf.set(thr, old)
  }

  test("GraftExtensions exposes dot_product to SQL") {
    // the shared test session is built withExtensions(new GraftExtensions)
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
  }

  test("GraftExtensions: a wrong arity or a non-literal width names the function") {
    def failure(sql: String): String = {
      val e = intercept[Exception](spark.sql(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    val arity = failure("SELECT dot_product(array(1.0d, 2.0d))")
    assert(arity.contains("dot_product requires exactly 2 arguments, got 1"),
      arity)
    val width = failure(
      "SELECT minhashes(array(id, id + 1), CAST(id AS INT)) FROM range(1)")
    assert(width.contains("minhashes: argument 2 must be an INT literal"),
      width)
  }

  test("GraftExtensions: the SQL hash family matches the column API") {
    import org.apache.spark.sql.functions.{col, split, transform, xxhash64}
    import graft.ops.TextSim
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    import spark.implicits._
    val df = Seq("the quick brown fox jumps").toDF("text")
    val hashed = transform(split(col("text"), " "), t => xxhash64(t))
    val viaCol = df.select(
        fns.simhash64(hashed).as("sh"),
        fns.minhashes(fns.shingle_hashes(hashed, 3), 16).as("mh"))
      .as[(Long, Seq[Long])].head()
    df.createOrReplaceTempView("gx_probe")
    val viaSql = spark.sql(
      """SELECT simhash64(transform(split(text, ' '), t -> xxhash64(t))),
                minhashes(shingle_hashes(
                  transform(split(text, ' '), t -> xxhash64(t)), 3), 16)
         FROM gx_probe""").as[(Long, Seq[Long])].head()
    assert(viaSql == viaCol,
      "SQL-registered hash functions diverge from the column API")
    // and the Scala-side simhash wrapper agrees too (lower-cased input
    // differs, so feed it pre-lowered text)
    val wrapper = df.select(TextSim.simhash(col("text"))).head().getLong(0)
    assert(wrapper == viaCol._1)
    // token_hashes / token_bigrams resolve in SQL and match their
    // HOF/column formulations
    val tokenKernels = spark.sql(
      """SELECT token_hashes(split(text, ' ')),
                token_bigrams(split(text, ' '))
         FROM gx_probe""").as[(Seq[Long], Seq[String])].head()
    assert(tokenKernels._1 ==
      df.select(hashed).as[Seq[Long]].head())
    assert(tokenKernels._2 ==
      Seq("the quick", "quick brown", "brown fox", "fox jumps"))
  }

  test("q_vec_quantize runs the one-pass kernel once, no pre-sort shuffle") {
    val p = plan("q_vec_quantize")
    // the codegen'd struct-returning kernel must be materialized ONCE
    // below the field extraction — duplicated (inlined into both the
    // codes and scale outputs) it would quantize every row twice
    assert("quantize_int8".r.findAllIn(p).size == 1,
      "quantization kernel duplicated across output columns")
    assert(!p.contains("hashpartitioning"),
      "per-row quantization should not shuffle")
  }

  test("q_text_chunk is scan→generate→project with only the final sort") {
    val p = plan("q_text_chunk")
    assert(p.contains("Generate"))
    assert(!p.contains("hashpartitioning"),
      "chunking is per-row; only the presentation sort may exchange")
    // the round-3 generator hazard: an inferred size() filter would drag
    // the split below an exchange and re-evaluate it per reference
    assert("rangepartitioning".r.findAllIn(p).size == 1)
  }

  test("q_text_tfidf pushes the top-k filter into the window sort") {
    val p = plan("q_text_tfidf")
    // rn <= k must become WindowGroupLimit (partial + final): the
    // per-doc sort then keeps k rows per group instead of the whole
    // vocabulary of every document
    assert(p.contains("WindowGroupLimit"),
      "rank filter not pushed into the window — full per-doc sort")
    // the df (vocabulary) side joins without a nested loop; only the
    // 1-row corpus total may cross-join (formatted explain prints each
    // node twice: tree line + detail header → one node = 2 matches)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2)
    assert(p.contains("BroadcastHashJoin"),
      "vocabulary df join fell out of hash join")
  }

  test("q_join_dpp prunes fact partitions with a runtime filter") {
    val p = plan("q_join_dpp")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("dynamicpruning"),
      s"no dynamic pruning expression in the fact scan: $pf")
  }

  test("q_etl_scd2 shuffles once on the key, then windows in place") {
    val p = plan("q_etl_scd2")
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      "SCD-2 needs exactly the one key shuffle")
  }

  test("q_evt_anomaly broadcasts the stats side; the event stream never shuffles") {
    val p = plan("q_evt_anomaly")
    assert(p.contains("BroadcastHashJoin"),
      "per-type stats must broadcast back onto the stream:\n" +
        p.linesIterator.take(16).mkString("\n"))
    // the only exchanges allowed are the stats aggregate's own shuffle
    // (5 groups) and the broadcast — the fact side must not repartition
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "join-back regressed to shuffling the event stream")
  }

  test("q_evt_attribution is one window pass, no self-join") {
    val p = plan("q_evt_attribution")
    assert(p.contains("Window"), "expected the running-touch window")
    assert(!p.contains("Join"),
      "attribution regressed to a touches x purchases self-join")
    assert("hashpartitioning".r.findAllIn(p).size <= 2,
      "more than the user_id window shuffle + final aggregate exchange")
  }

  test("q_agg_corr is one two-phase aggregation pass") {
    val p = plan("q_agg_corr")
    assert(!p.contains("Window") && !p.contains("Join"))
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "co-moment statistics lost the map-side partial aggregate")
  }

  test("q_etl_cdc_apply plans the latest-wins rank as WindowGroupLimit") {
    val p = plan("q_etl_cdc_apply")
    assert(p.contains("WindowGroupLimit"),
      "rn=1 must stream-rank with one row of per-key state, " +
        "not materialize full partitions:\n" +
        p.linesIterator.take(16).mkString("\n"))
    assert(!p.contains("Join"), "changelog fold needs no join")
  }

  test("q_evt_markov is one window pass + two-phase pair count, no join") {
    val p = plan("q_evt_markov")
    assert(p.contains("Window"), "expected the lead window")
    assert(!p.contains("Join"),
      "transition matrix regressed to a self-join")
  }

  test("q_text_zipf heap-cuts the vocabulary, never full-sorts it") {
    val p = plan("q_text_zipf")
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 must be a heap cut over the term counts:\n" +
        p.linesIterator.take(16).mkString("\n"))
  }

  test("q_etl_resample generates the spine, no nested-loop join") {
    val p = plan("q_etl_resample")
    assert(p.contains("Generate"), "expected the sequence() explode")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "spine must be generated per user, not cross-joined")
  }

  test("q_evt_paths pre-caps per-user state and heap-cuts the top-20") {
    val p = plan("q_evt_paths")
    // the row_number()<=50 pre-cap must plan as WindowGroupLimit (a
    // streaming per-group rank limit, partial before + final after the
    // one user_id exchange) — without it a hot user's entire history
    // sits in the collect_list buffer, the round-7 scale flaw
    assert(p.contains("WindowGroupLimit"),
      "per-user 50-event pre-cap lost its group-limit kernel — " +
        "aggregation state is unbounded again")
    assert(p.contains("TakeOrderedAndProject"),
      "path top-20 regressed to a full global sort")
  }

  test("q_text_decon_bloom is join-free — membership is a map-side probe") {
    // the bloom variant exists to REPLACE the anti-join: the corpus
    // must stream through the broadcast filter predicate, never join.
    // Asserted on the OP (the production path) — the registered query
    // now wraps it in the r15 bound-verdict readout, whose exact
    // anti-join anchor exists precisely to certify this op
    val docs = Tables.load(spark, sf0001, "documents")
    val kept = graft.ops.Curation.decontaminateBloom(docs, "text",
      evalDocs = docs.filter(col("doc_id") % 97 === 0),
      evalTextCol = "text", expectedN = 1L << 16, fpp = 0.01)
    val p = kept.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"),
      "bloom decontamination regressed to a join — the filter probe " +
        "is the whole point")
  }

  test("q_agg_countmin broadcasts the fixed-size sketch to the probe join") {
    val p = plan("q_agg_countmin")
    // the sketch is ≤ d·w = 4096 rows by construction — if this ever
    // plans as a shuffle join the fixed-memory design has been lost
    assert(p.contains("BroadcastHashJoin"),
      "count-min sketch→probe join must broadcast the 4096-row sketch")
  }

  test("q_agg_countmin tokenizes the corpus once (vocab cache, no rescan)") {
    // both the sketch and the exact top-20 derive from the SAME
    // groupBy(term) vocabulary. r9's shape scanned and tokenized the
    // corpus twice; r10 leaned on AQE stage reuse, which fired on some
    // runs and not others (exchange canonicalization is fragile under
    // re-optimization — the bench bimodality). The query now persists
    // the vocab and fills it with one eager pass, so the property to
    // pin got STRONGER: the result plan must read the vocabulary from
    // cache and never touch the corpus parquet at all.
    val df = SparkEntry.queries("q_agg_countmin")(spark, sf0001)
    df.collect()
    val executed = df.queryExecution.executedPlan
    // walk the EXECUTED tree (through AQE wrappers), stopping at cache
    // reads — a file scan reached outside an InMemoryTableScan means a
    // branch re-tokenizes the corpus at result time. String matching on
    // the printout can't express this: InMemoryRelation prints its
    // fill plan, scans and all.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val live = scala.collection.mutable.Buffer[String]()
    var sawCache = false
    def go(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec => go(s.plan)
      case _: InMemoryTableScanExec => sawCache = true
      case f: FileSourceScanExec =>
        live += f.relation.location.rootPaths.mkString(",")
      case other => other.children.foreach(go)
    }
    go(executed)
    assert(sawCache, s"vocab not read from cache:\n$executed")
    assert(!live.exists(_.contains("documents")),
      s"live corpus scan outside the vocab cache: $live\n$executed")
  }

  /** Audited grid-sized unpartitioned-window sites: query →
    * justification (why the window's input is bounded by a DOMAIN,
    * not the data). Kept next to the global sweep below, which fails
    * on any unlisted site and on any stale entry. */
  private val gridSizedWindows: Map[String, String] = Map(
    "q_agg_sprt" -> "cumulative windows over the DAY grid (calendar-bounded)",
    "q_agg_topn_share" -> "rank window over the TakeOrdered top-10 cut",
    "q_evt_slo_burn" -> "burn windows over the daily grid",
    "q_graph_kcore" -> ("census windows over the coreness histogram — " +
      "k levels, bounded by the demo graph's degeneracy"),
    "q_text_zipf" -> "rank/cum-share windows over the limit(50) head",
    "q_ts_granger" -> "lag windows over the per-type day grid",
    "q_ts_rolling_corr" -> "frame sums over the day grid",
    "q_ts_survival" -> ("Kaplan-Meier windows over the distinct-" +
      "lifetime-days grid (calendar-span-bounded, not customer-grain)"),
    "q_ts_wow" -> "lag window over the weekly grid",
    "q_data_mixture" -> ("largest-remainder rank over the SOURCE grid " +
      "(one row per distinct documents.source — domain-bounded; the " +
      "corpus contracts in the aggregate before it)"))

  test("GLOBAL sweep: no unaudited unpartitioned window in ANY plan") {
    // the round-14 weak class, made repo-wide (VERDICT r15 ask #4):
    // Window.orderBy with no partition spec plans a single-partition
    // sort of its whole input ("WindowExec: No Partition Defined") —
    // correct at demo SF, a scale-killer at 100x when the input is
    // corpus- or entity-grain. Every corpus/entity-grain site is now
    // converted (PrefixSweep sweep/lookaheadFrame); the ONLY
    // unpartitioned windows allowed anywhere are the audited
    // GRID-SIZED ones below — inputs bounded by a domain cross
    // (types×days, top-K cuts, k-row grids), not by the data. A new
    // query that plans an unpartitioned window over anything else
    // fails here until it is either converted or audited onto the
    // list; an allowlist entry whose plan no longer carries one is
    // flagged stale so the list cannot rot.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def unpartitioned(name: String): Seq[String] = {
      val df = SparkEntry.queries(name)(spark, sf0001)
      val bad = scala.collection.mutable.Buffer[String]()
      def go(n: SparkPlan): Unit = n match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case s: QueryStageExec => go(s.plan)
        case w: WindowExec =>
          if (w.partitionSpec.isEmpty) bad += w.nodeName
          w.children.foreach(go)
        case w: WindowGroupLimitExec =>
          if (w.partitionSpec.isEmpty) bad += w.nodeName
          w.children.foreach(go)
        case other => other.children.foreach(go)
      }
      go(df.queryExecution.executedPlan)
      bad.toSeq
    }
    val hits = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val b = unpartitioned(name)
      if (b.isEmpty) None else Some(name -> b)
    }.toMap
    val offenders = (hits.keySet -- gridSizedWindows.keySet).toSeq.sorted
    assert(offenders.isEmpty,
      "unpartitioned (single-partition) windows over unaudited inputs " +
        "(convert via PrefixSweep, or audit the input as grid-sized " +
        "and allowlist it):\n  " +
        offenders.map(n => s"$n: ${hits(n).mkString(", ")}")
          .mkString("\n  "))
    val stale = (gridSizedWindows.keySet -- hits.keySet).toSeq.sorted
    assert(stale.isEmpty,
      s"stale grid-sized allowlist entries (plan no longer carries an " +
        s"unpartitioned window — remove them): $stale")
  }

  test("q_ts_theil_sen contracts the corpus before the O(days²) pair join") {
    val p = plan("q_ts_theil_sen")
    // the grid aggregate must sit BELOW the self-join (formatted
    // explain lists leaves last: aggregate index > join index) and the
    // pair join must be a real equi-join on event_type
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "pair join regressed to all-pairs across types")
    val join = p.indexOf("Join")
    val agg = p.lastIndexOf("HashAggregate")
    assert(join >= 0 && agg > join,
      s"expected grid aggregate feeding the pair join (join@$join, agg@$agg)")
  }

  test("q_agg_fdr_bh's readout never rescans the corpus") {
    // the k-test battery contracts `events` ONCE into the checkpointed
    // k-row grid (the corpus scan runs at construction); the registered
    // plan — rank, step-up cutoff, verdict join — must read only that
    // grid: any parquet scan of events here means the battery pays the
    // corpus per leg
    val p = plan("q_agg_fdr_bh")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(scans == 0,
      s"readout rescans the corpus ($scans events scans):\n$p")
  }

  test("Spark's runtime bloom filter injects into selective shuffle joins") {
    // the built-in complement to Relational.bloomSemiLong: when a
    // shuffle join's build side carries a selective filter, Catalyst's
    // InjectRuntimeFilter plants a bloom probe on the probe side
    // (bloom_filter_agg → might_contain) so the big scan discards
    // non-joining rows BEFORE the exchange. The size thresholds target
    // 10 GB+ scans, so this fires only at real scale — lower them here
    // to pin that our plain equi-join shapes remain ELIGIBLE (a join
    // rewritten through exprs Catalyst can't see through would silently
    // lose the optimization at 100 TB)
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
        "10MB",
      "spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.load(spark, sf0001, "lineitem")
      val ord = Tables.load(spark, sf0001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") &&
        opt.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n${opt.take(2500)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits skewed sort-merge partitions at runtime") {
    // the hot-key story has two tiers: Relational.saltedJoin for the
    // degenerate one-key-per-task case (plan-level, q_join_salted), and
    // AQE's skew-join split for ordinary skew. This pins the second —
    // our plain equi-join shapes must stay ELIGIBLE for the runtime
    // split (skew=true in the executed plan), with thresholds lowered
    // to make 100 TB-scale skew observable on the fixture
    // Two ELIGIBILITY requirements this test encodes (both found the
    // hard way — each silently disables the split when violated):
    //  1. splits are per-MAPPER shuffle blocks, so a hot partition fed
    //     by a single map task cannot be subdivided — a small-file scan
    //     (one split) must be repartitioned upstream; at 100 TB the
    //     scan has thousands of mappers and this is automatic;
    //  2. OptimizeSkewedJoin pattern-matches SMJ over Sort-over-shuffle
    //     on BOTH sides — a post-shuffle aggregate between the stage
    //     and the sort (e.g. a distinct's final agg) breaks the match,
    //     so keep the skewed join's inputs plain or force-apply.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~3/4 of lineitem collapses onto key 0 — a hot key that is big
      // relative to the lowered threshold but not one-task-degenerate
      val left = Tables.load(spark, sf001, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .repartition(8) // requirement 1: multiple mappers
        .withColumn("k",
          org.apache.spark.sql.functions.when(
            col("l_orderkey") % 4 =!= 0, 0L).otherwise(col("l_orderkey")))
      val right = Tables.load(spark, sf001, "orders")
        .select(col("o_orderkey").as("k")) // requirement 2: no agg above
      val j = left.join(right, "k")
      j.collect()
      val executed = j.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true") &&
        executed.contains("AQEShuffleRead skewed"),
        s"AQE did not split the skewed join:\n${executed.take(2500)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_etl_purge_bloom probes facts map-side before any exchange") {
    val p = plan("q_etl_purge_bloom")
    // the Bloom probe must be a Filter ON the fact scans — a plan that
    // exchanges the fact first has lost the entire point (prefiltering
    // the 100 TB side down to the candidate sliver for free)
    assert(p.contains("UDF"), "bloom-probe filter missing from the plan")
    // the lineitem hop reads ONLY the join key — a wider ReadSchema
    // would drag fact payload through the probe for nothing
    val liSchema = p.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("l_orderkey"))
    assert(liSchema.exists(l => !l.contains("l_quantity") &&
      !l.contains("l_extendedprice")),
      s"lineitem scan not pruned to the key: $liSchema")
    // the exact finish is a semi-join, never an inner that could dup rows
    assert(p.contains("LeftSemi"), "exact finishing semi-join missing")
  }

  test("q_evt_retention is join-free with exactly two hash exchanges") {
    val p = plan("q_evt_retention")
    // the collect_set(user_id) formulation derives the cohort AND the
    // week grid from one per-user row — a distinct-grid + join-back
    // plan hashes on (user_id, week), fails the join's user_id
    // clustering, and re-shuffles (the round-8 review finding)
    assert(!p.contains("Join"),
      "retention regressed to a grid/cohort join — the collect_set " +
        "single-pass plan avoids it")
    // formatted mode lists each Exchange's partitioning on its own
    // Arguments line — count those, not the node header
    val n = p.linesIterator
      .count(l => l.contains("Arguments: hashpartitioning"))
    assert(n == 2, s"expected 2 hash exchanges (user agg + cell agg), got $n")
  }

  test("q_text_cooccur top-100 is a heap cut, counts partial-aggregated") {
    val p = plan("q_text_cooccur")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k regressed to a full sort")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "bigram counts lost the map-side partial aggregate")
  }

  test("q_evt_abandon streams the reversed frame, no UnboundedFollowing") {
    val p = plan("q_evt_abandon")
    // "next purchase after me" must be the DESC-order running min
    // (UNBOUNDED PRECEDING → 1 PRECEDING, O(1) state) — an
    // UnboundedFollowing frame recomputes its aggregate per row,
    // O(n²) in the partition
    assert(p.toLowerCase.contains("unboundedpreceding"),
      "expected the reversed running frame")
    assert(!p.toLowerCase.contains("unboundedfollowing"),
      "abandon regressed to an O(n²) UnboundedFollowing frame")
  }

  test("q_etl_purge probes every fact table via broadcast, no shuffle join") {
    val p = plan("q_etl_purge")
    // the deletion list is request-scale: all three probe joins
    // (orders flag, purged-order derivation, lineitem flag) must
    // broadcast — a fact-side shuffle means the cascade lost its shape.
    // Count detail headers: formatted mode prints each node name twice
    // (tree line + "(n) Node" detail section)
    val probes = p.linesIterator
      .count(_.matches("""\(\d+\) BroadcastHashJoin.*"""))
    assert(probes == 3,
      s"expected 3 broadcast probes (orders left, orders semi, " +
        s"lineitem left), got $probes")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "erasure cascade shuffled a fact table against the request list")
  }

  test("q_graph_pagerank iterates on the contraction, never rescans events") {
    val p = plan("q_graph_pagerank")
    // the k²-edge contraction is localCheckpoint'ed before the 5
    // iterations — if the final plan still reads events.parquet, the
    // lineage replays the corpus scan once per iteration
    assert(!p.contains("parquet"),
      "iteration lineage reaches back to the parquet scan — " +
        "the contraction checkpoint is gone")
  }

  test("q_agg_mad broadcasts the k-row profiles back onto the stream") {
    val p = plan("q_agg_mad")
    // 3 join NODES: the deviation subtree (stream ⋈ median profile)
    // appears once under the MAD aggregation and once in the final
    // flag pass, plus the MAD-profile join itself
    val probes = p.linesIterator
      .count(_.matches("""\(\d+\) BroadcastHashJoin.*"""))
    assert(probes == 3,
      s"median/MAD profiles must broadcast (k rows), got $probes")
    assert(!p.contains("SortMergeJoin"),
      "robust profile join regressed to a stream shuffle")
  }

  test("q_text_decontaminate anti-joins against a broadcast eval set") {
    val p = plan("q_text_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "decontamination must stream the corpus against broadcast " +
        "fingerprints, never shuffle it:\n" +
        p.linesIterator.take(16).mkString("\n"))
  }

  test("q_vec_centroid contracts map-side before the (cluster,pos) shuffle") {
    val p = plan("q_vec_centroid")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "posexploded corpus is shuffled raw — partial aggregate missing")
  }

  test("q_win_range_frame shuffles once on the key") {
    val p = plan("q_win_range_frame")
    assert("hashpartitioning".r.findAllIn(p).nonEmpty &&
      p.contains("Window"), "expected the one-shuffle window shape")
  }

  test("q_agg_maxby is one aggregation pass, no window, no sort") {
    val p = plan("q_agg_maxby")
    assert(!p.contains("Window"),
      "latest-per-key regressed to a window formulation")
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "SortAggregate".r.findAllIn(p).size >= 2,
      "expected two-phase aggregation")
  }

  test("q_json_flatten is parse→generate per row, no pre-sort shuffle") {
    val p = plan("q_json_flatten")
    assert(p.contains("Generate"), "inline generator missing")
    assert(!p.contains("hashpartitioning"),
      "per-row flatten should not shuffle")
  }

  test("q_win_sessionize composes running windows with a two-phase agg") {
    val p = plan("q_win_sessionize")
    assert(p.contains("Window"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "session aggregate lost its map-side partial")
  }

  test("q_text_feature_hash partial-aggregates (doc,bucket) before shuffling") {
    val p = plan("q_text_feature_hash")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "token stream shuffled raw — partial aggregate missing")
  }

  test("q_sql_report contracts lineitem below the joins, no Expand") {
    val p = plan("q_sql_report")
    // the round-11 verdict's slowest plan was count(DISTINCT orderkey)
    // over the full-width 3-table join: the distinct-aggregate Expand
    // DOUBLED the widest stream. The rewrite pre-contracts lineitem per
    // orderkey, so the plan must have NO Expand node at all...
    assert(!p.contains("Expand"),
      "distinct-aggregate Expand regressed into the report plan")
    // ...and exactly ONE data-sized exchange (the orderkey contraction;
    // dims broadcast, the agg/window/sort exchanges are k-row)
    assert(p.contains("BroadcastHashJoin"),
      "orders/customer joins must broadcast at this scale tier")
  }

  test("q_etl_denormalize broadcasts every dim, collects co-keyed") {
    val p = plan("q_etl_denormalize")
    // five dim/bridge joins broadcast; the hub fold is a left join per
    // collection — none may shuffle the dim side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5,
      "denormalize dim joins fell back to shuffle joins")
    // the collect_list aggregates are two-phase (partial before the
    // business_id exchange) — ObjectHashAggregate pairs per collection
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "nested-array collects lost the two-phase shape")
  }

  test("q_agg_auc contracts to the value grid, broadcast-only joins") {
    val p = plan("q_agg_auc")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "grid contraction must partial-aggregate map-side")
    // r15: the distributed PrefixSweep adds BROADCAST offset joins on
    // grid metadata (P-row tables) — those are the scale design, not a
    // regression; what must never appear is a shuffled/all-pairs join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("CartesianProduct"),
      "AUC regressed to a shuffled/all-pairs join — only PrefixSweep's " +
        "broadcast metadata joins are expected")
  }

  test("q_graph_adamic_adar wedge join is an equi-join on the pivot") {
    val p = plan("q_graph_adamic_adar")
    assert(!p.contains("CartesianProduct"),
      "candidate generation regressed to all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected an equi-join on w")
  }

  test("q_text_pmi joins counts back by term — never a cross product") {
    val p = plan("q_text_pmi")
    assert(!p.contains("CartesianProduct"),
      "PMI scoring must join survivors to unigram counts by key:\n" +
        p.linesIterator.take(20).mkString("\n"))
  }

  test("q_stream_left plans the interval condition as an equi-join") {
    val p = plan("q_stream_left")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "left-outer interval join regressed to all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "expected an equi-join on user_id with the time bound as a " +
        "post-condition (broadcast is fine when one side fits)")
  }

  test("q_stream_cdc folds the changelog as WindowGroupLimit, no join") {
    val p = plan("q_stream_cdc")
    assert(p.contains("WindowGroupLimit"),
      "the maximal-op rank must stream with one row of per-key state")
    assert(!p.contains("Join"), "final-state fold needs no join")
  }

  test("q_ts_granger is one daily contraction + one moment fold, no join") {
    val p = plan("q_ts_granger")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "daily grid must partial-aggregate")
    assert(!p.contains("Join"),
      "both directions come from ONE 14-sum aggregate — a join means " +
        "the closed form regressed to per-direction passes")
  }

  test("q_media_phash candidates come from band equi-joins") {
    val p = plan("q_media_phash")
    assert(!p.contains("CartesianProduct"),
      "near-dup candidate build regressed to all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "expected an equi-join on (band_idx, band_val)")
  }

  test("q_join_spatial grid join is an equi-join, never a cross product") {
    val p = plan("q_join_spatial")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "spatial join regressed to all-pairs:\n" +
        p.linesIterator.take(20).mkString("\n"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected an equi-join on (cx, cy)")
  }

  test("q_evt_lifecycle derives prev/next from the array — no Window pass") {
    val p = plan("q_evt_lifecycle")
    assert(!p.contains("Window"),
      "lifecycle should read prev/next week from the sorted collect_set " +
        "array, not a second window pass over the corpus")
    // (the max-week cross join is against a broadcast 1-row aggregate —
    // a BroadcastNestedLoopJoin there is the intended shape)
  }

  test("q_text_winnowing pair join is banding-shaped (equi on fingerprint)") {
    val p = plan("q_text_winnowing")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "winnowing pair join regressed to all-pairs")
  }

  test("q_agg_iqr broadcasts the quantile profile back onto the scan") {
    assert(plan("q_agg_iqr").contains("BroadcastHashJoin"))
  }

  test("q_ts_autocorr broadcasts the per-type stats dim") {
    assert(plan("q_ts_autocorr").contains("BroadcastHashJoin"))
  }

  test("q_win_skyline contracts to distinct pairs BEFORE the global sweep") {
    val p = plan("q_win_skyline")
    val agg = p.indexOf("HashAggregate")
    val win = p.indexOf("Window")
    assert(agg >= 0 && win >= 0 && agg > win,
      // formatted explain lists operators leaves-last, so the
      // aggregate (input of the window) must appear AFTER it
      s"expected distinct-pair aggregate feeding the window sweep " +
        s"(agg@$agg, window@$win)")
  }

  test("q_evt_bot_score reuses one user_id exchange for window + aggregate") {
    val p = plan("q_evt_bot_score")
    // the gap window and the base aggregate both key user_id — the
    // second consumer must reuse, not re-shuffle
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    // AQE shows codegen stages only in the finalized plan → execute first
    val df = SparkEntry.queries("q_filter_range_disj")(spark, sf0001)
    df.collect()
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // '*' prefixes mark nodes inside a WholeStageCodegen stage
    assert(p.contains("* Filter") && p.contains("* Project"),
      "expression pipeline fell out of codegen")
  }
}
