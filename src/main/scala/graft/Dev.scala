package graft

import graft.ops.{ProductQuant, SessionCache, TextSim}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, EvalMode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Developer tools behind one main:
  * `sbt "runMain graft.Dev <subcommand> [args]"` (see [[usage]]).
  * Every subcommand but `cold` runs in one [[GraftSession]] and can be
  * called on a live session through [[run]]. Timings use Bench's
  * methodology: an untimed warm-up, then noop-sink runs
  * ([[Bench.noopSeconds]]) with [[Bench.hygiene]] between queries. */
object Dev {
  val usage: String =
    """usage: graft.Dev <subcommand> [args]
      |  noop  <sfDir> [query ...]  warm-up + one timed noop-sink run per
      |                             query (default: all), one session
      |  cold  <sfDir> [query ...]  the same, a fresh session per query
      |  plan  <sfDir> query ...    formatted physical plans to stdout
      |  plan  --to <outDir> <suffix> <sfDir> query ...
      |                             ... to <outDir>/<query>_<suffix>.txt
      |  plan                       PLANS.md from Dev.planPicks at sf0.001
      |  probes                     quiet-host distribution of Bench's probes
      |  ann   <sfDir>              ANN recall and cost vs exact kNN
      |                             (IVF, PQ, NN-descent)
      |  jobs  <sfDir> <query>      per-job times of one warm run
      |  slope <sf0.1 dir>          top-25 rows at sf0.1 and a synthetic
      |                             sf1, into target/slope_sf1.json""".stripMargin

  private val sessionCommands =
    Set("noop", "plan", "probes", "ann", "jobs", "slope")

  def main(args: Array[String]): Unit = args.toSeq match {
    case "cold" +: dir +: names => cold(dir, names)
    case cmd +: _ if sessionCommands(cmd) =>
      // PLANS.md shows 8 shuffle partitions in its exchanges
      val spark = GraftSession(
        if (args.toSeq == Seq("plan")) 8 else GraftSession.defaultCores)
      try run(spark, args.toSeq) finally spark.stop()
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  /** Run a session-bound subcommand on `spark`; anything else fails
    * with the usage text. */
  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case "noop" +: dir +: names => noop(spark, dir, names)
    case Seq("plan") => plansMd(spark)
    case "plan" +: "--to" +: outDir +: suffix +: dir +: names =>
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
          planOf(spark, dir, name))
        println(s"wrote ${name}_$suffix.txt")
      }
    case "plan" +: dir +: names =>
      names.foreach(n => println(planOf(spark, dir, n)))
    case Seq("probes") => probes(spark)
    case Seq("ann", dir) => ann(spark, dir)
    case Seq("jobs", dir, name) => jobs(spark, dir, name)
    case Seq("slope", src) => slope(spark, src)
    case _ => throw new IllegalArgumentException(usage)
  }

  private def queryNames(names: Seq[String]): Seq[String] =
    if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted

  /** One untimed warm-up (codegen, footer cache, fixture builds), then
    * the seconds of one timed noop-sink run. */
  private def warmSeconds(spark: SparkSession, dir: String,
                          name: String): Double = {
    val q = SparkEntry.queries(name)
    Bench.noopSeconds(q(spark, dir))
    Bench.noopSeconds(q(spark, dir))
  }

  private def noop(spark: SparkSession, dir: String,
                   names: Seq[String]): Unit =
    queryNames(names).foreach { name =>
      try println(f"NOOP $name ${warmSeconds(spark, dir, name)}%.3f")
      catch { case e: Exception =>
        println(s"NOOP $name FAILED ${e.getMessage}") }
      Bench.hygiene(spark)
    }

  /** COLD-session price: each query in a FRESH SparkSession (block
    * manager, broadcasts, RDD caches and the [[SessionCache]] all
    * start empty; only JVM-level JIT/codegen caches persist, which
    * the long bench session also keeps). This is what
    * the in-bench warm median undercounts (the r16 q_graph_powerlaw
    * breach: 2.79 s warm anchor, 4.5–5.1 s cold). */
  private def cold(dir: String, names: Seq[String]): Unit =
    queryNames(names).foreach { name =>
      val spark = GraftSession()
      try println(f"COLD $name ${warmSeconds(spark, dir, name)}%.3f")
      catch { case e: Exception =>
        println(s"COLD $name FAILED ${e.getMessage}") }
      finally {
        spark.stop()
        // a stopped context must not satisfy the next getOrCreate
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

  /** Formatted physical plan of one query (static: AQE finalizes at
    * runtime), followed by its [[evalModes]]. `plan` prints them,
    * writes per-query files for `tools/plan_diff.py` or regenerates
    * PLANS.md. */
  private def planOf(spark: SparkSession, dir: String, name: String) = {
    val qe = SparkEntry.queries(name)(spark, dir).queryExecution
    qe.explainString(ExplainMode.fromString("formatted")) +
      evalModes(spark, qe.optimizedPlan)
  }

  /** One line per distinct arithmetic expression of `plan` (subqueries
    * included) whose eval mode is not the session's default, e.g.
    * `TRY (a#1 / b#2)`: Spark prints a `try_divide` and a `/` alike,
    * so without these lines a plan diff cannot show that a divide
    * stopped (or started) raising on a zero divisor. Empty when every
    * expression runs in the default mode. */
  private def evalModes(spark: SparkSession, plan: LogicalPlan): String = {
    val default = EvalMode.fromBoolean(
      spark.conf.get("spark.sql.ansi.enabled").toBoolean)
    val odd = scala.collection.mutable.LinkedHashSet.empty[String]
    plan.foreachWithSubqueries(_.expressions.foreach(_.foreach {
      case a: BinaryArithmetic if a.evalMode != default =>
        odd += s"${a.evalMode} $a"
      case _ =>
    }))
    if (odd.isEmpty) ""
    else odd.mkString(s"\nEval modes other than $default:\n", "\n", "\n")
  }

  /** PLANS.md: [[planPicks]] at sf0.001, committed so plan regressions
    * are reviewable in diffs (the machine-checked subset lives in
    * PlanQualitySpec). */
  private def plansMd(spark: SparkSession): Unit = {
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative operators\n\n")
    sb.append("Generated by `graft.Dev plan` at sf0.001 (plan shapes are\n")
    sb.append("scale-independent; AQE finalizes at runtime). The properties\n")
    sb.append("asserted in CI live in PlanQualitySpec.\n")
    planPicks.foreach { case (name, note) =>
      sb.append(s"\n## $name — $note\n\n```\n${planOf(spark, dir, name)}```\n")
    }
    Files.writeString(Paths.get(s"${GraftSession.root}/PLANS.md"), sb.toString)
    println("wrote PLANS.md")
  }

  /** Quiet-host distribution of Bench's two probes; their committed
    * quiet references live in test/BenchGate.scala. */
  private def probes(spark: SparkSession): Unit = {
    def stats(name: String, probe: SparkSession => Double): Unit = {
      (1 to 3).foreach(_ => probe(spark))
      val s = (1 to 30).map(_ => probe(spark)).sorted
      println(f"$name min ${s.head}%.3f p50 ${s(s.size / 2)}%.3f " +
        f"p90 ${s((s.size * 9) / 10)}%.3f max ${s.last}%.3f")
    }
    stats("SCHED", Bench.probeOnce)
    stats("CPU", Bench.cpuProbeOnce)
  }

  /** (id column → neighbor_id) rows as neighbor sets. */
  private def neighbors(df: DataFrame, idCol: String): Map[Long, Set[Long]] =
    df.select(idCol, "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  /** Mean recall of `got` against each probe's exact neighbor set. */
  private def recall(exact: Map[Long, Set[Long]],
                     got: Map[Long, Set[Long]]): Double =
    exact.map { case (p, truth) =>
      truth.intersect(got.getOrElse(p, Set.empty)).size.toDouble / truth.size
    }.sum / exact.size

  /** Cost and recall of the approximate kNN operators against exact kNN
    * over the probes vec_id < 100. IVF: index BUILD time (first call,
    * cold cache key) and warm QUERY time with sampled vs trained
    * centroids. PQ: the registered single-probe shape over 20 probes;
    * its per-probe cost includes the codebook build and probe collect.
    * NN-descent: recall@5 of the graph after 0–4 rounds. Findings are
    * recorded in SCALE.md. */
  private def ann(spark: SparkSession, dir: String): Unit = {
    val emb = Tables.load(spark, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 100)
    val exact10 = neighbors(TextSim.knnJoin(probes, emb, 10), "probe_id")
    Seq("sampled" -> 0, "trained(3)" -> 3).foreach { case (label, iters) =>
      def ivf = TextSim.annCosineIvf(probes, emb, 10, trainIters = iters)
      val cold = Bench.noopSeconds(ivf)
      val warm = Seq.fill(3)(Bench.noopSeconds(ivf)).sorted.apply(1)
      println(f"IVF $label%-12s build=$cold%.2fs warmQuery=$warm%.2fs " +
        f"meanRecall@10=${recall(exact10, neighbors(ivf, "probe_id"))}%.3f")
    }
    val pqProbes = 0L until 20L
    Seq("adc50" -> 0, "adc50+tr3" -> 3).foreach { case (label, iters) =>
      val t0 = System.nanoTime()
      val got = pqProbes.map(pid => pid -> ProductQuant.annCosinePq(
          emb, "vec_id", "embedding", pid, k = 10, shortlist = 50,
          trainIters = iters)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet).toMap
      val sec = (System.nanoTime() - t0) / 1e9
      val r = recall(exact10.view.filterKeys(pqProbes.contains).toMap, got)
      println(f"PQ  $label%-12s perProbe=${sec / pqProbes.size}%.2fs " +
        f"meanRecall@10=$r%.3f")
    }
    val exact5 = neighbors(TextSim.knnJoin(probes, emb, 5), "probe_id")
    (0 to 4).foreach { it =>
      val t0 = System.nanoTime()
      val g = neighbors(TextSim.nnDescentGraph(emb, 5, it), "vec_id")
      println(f"NN  iters=$it recall@5=${recall(exact5, g)}%.3f " +
        f"time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
  }

  /** Job-level breakdown of one warm noop-sink run of query `name`: one
    * `JOB <id> <ms> <stages> <stage names>` line per job, then
    * `JOBTOTAL`. */
  private def jobs(spark: SparkSession, dir: String, name: String): Unit = {
    val q = SparkEntry.queries(name)
    Bench.noopSeconds(q(spark, dir))
    val done =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int, String)]
    // events reach a listener one at a time, on the listener bus thread
    val listener = new SparkListener {
      private val started =
        scala.collection.mutable.Map.empty[Int, SparkListenerJobStart]
      override def onJobStart(js: SparkListenerJobStart): Unit =
        started(js.jobId) = js
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        started.remove(je.jobId).foreach { js =>
          done.synchronized {
            done += ((je.jobId, je.time - js.time, js.stageInfos.size,
              js.stageInfos.map(_.name).mkString(" | ")))
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Bench.noopSeconds(q(spark, dir))
      org.apache.spark.sql.graftfns.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    done.synchronized(done.sortBy(_._1)).foreach { case (id, ms, st, site) =>
      println(f"JOB $id%3d $ms%6d ms  $st stages  $site")
    }
    println(f"JOBTOTAL ${done.map(_._2).sum} ms over ${done.size} jobs")
  }

  /** The top cost rows: the r16 final-5 top-10 plus the next 15 of the
    * r17 judged (noop-sink) artifact that read only the synthesized
    * tables (sink/source fixture rows are excluded: they price scratch
    * IO, not the corpus). */
  private val top25: Seq[String] = Seq(
    "q_graph_powerlaw", "q_vec_ann_nndescent", "q_agg_basket",
    "q_graph_assortativity", "q_vec_kmeans", "q_evt_rfm",
    "q_graph_adamic_adar", "q_graph_lpa", "q_text_minhash_groups",
    "q_graph_degree",
    "q_graph_hits", "q_agg_bootstrap", "q_vec_quantize",
    "q_agg_levene", "q_text_readability", "q_win_ema_time",
    "q_agg_lorenz", "q_agg_spearman", "q_text_decon_ngram",
    "q_text_source_overlap", "q_pipe_curate", "q_math_arith",
    "q_agg_approx", "q_etl_profile", "q_text_lm_score")

  private val reps = 10

  /** One more DECADE of slope evidence for the top-25 cost rows. The
    * standing sf0.01→sf0.1 gate (BenchSlopeSpec) catches quadratic
    * growth early, but a 10× step from a small base can hide a mild
    * exponent; this prices the same queries at an sf≈1 scale (10× the
    * sf0.1 leg) and writes `target/slope_sf1.json` for BenchSlopeSpec's
    * optional sf1 leg (≈3 min: one-time corpus build + 25 queries × 2
    * scales × (1 warm + 2 timed)). Each query is priced standalone: the
    * shared graph contractions are dropped too (Bench keeps them; here
    * the FIRST graph query would absorb the build in every leg). */
  private def slope(spark: SparkSession, src: String): Unit = {
    val out = s"${GraftSession.target}/sf1synth"
    synthesizeSf1(spark, src, out)
    def hygiene(): Unit = { SessionCache.clear(); Bench.hygiene(spark) }
    def leg(dir: String): Seq[(String, Double)] =
      top25.flatMap { q =>
        // a row that cannot run on the synthesized corpus is dropped
        // LOUDLY (stderr) rather than poisoning the leg
        try {
          hygiene()
          val fn = SparkEntry.queries(q)
          Bench.noopSeconds(fn(spark, dir)) // warm (codegen + page cache)
          val t = math.min(Bench.noopSeconds(fn(spark, dir)),
            Bench.noopSeconds(fn(spark, dir)))
          hygiene()
          Some(q -> t)
        } catch {
          case e: Exception =>
            System.err.println(s"[slope-sf1] $q skipped: ${e.getMessage}")
            None
        }
      }
    val small = leg(src)
    val big = leg(out)
    def obj(xs: Seq[(String, Double)]) = xs
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val json = s"""{"reps":$reps,"src":"$src",""" +
      s""""sf01":${obj(small)},"sf1":${obj(big)},""" +
      s""""run_id":${System.currentTimeMillis()}}"""
    Files.writeString(Paths.get(s"${GraftSession.target}/slope_sf1.json"),
      json)
    println(json)
  }

  /** The sf1 corpus SYNTHESIZED from the sf0.1 tables (no sf1 ships):
    * `reps` replicas of the six tables the top-25 rows read, with
    * per-replica key shifts — a scale HARNESS only, never a correctness
    * input. Replication is designed so a genuinely linear operator
    * measures linear:
    *  - key columns shift by `rep · (max_key + 1)` — replicas are
    *    disjoint key spaces, so joins/groups grow 10×, not 100×;
    *  - `documents.text` word-ROTATES by rep — replicas of a doc stop
    *    being near-duplicates (naive text copies would multiply every
    *    MinHash band bucket 10-fold and quadratically explode the
    *    banded pair build — an artifact of copying, not of scale);
    *  - `embeddings.embedding` component-ROTATES by rep — within a
    *    replica all cosines are EXACTLY preserved (a uniform
    *    permutation cancels in every dot product), across replicas
    *    vectors decorrelate instead of duplicating.
    * Built once: `out/_DONE` gates it. */
  private def synthesizeSf1(s: SparkSession, src: String,
                            out: String): Unit = {
    val marker = Paths.get(s"$out/_DONE")
    if (Files.exists(marker)) return
    val r = explode(sequence(lit(0), lit(reps - 1))).as("rep")
    def shift(c: String, stride: Column) =
      (col(c) + col("rep") * stride).as(c)
    def strideOf(df: DataFrame, c: String): Column =
      lit(df.agg(max(col(c))).head().getLong(0) + 1L)

    val li = Tables.load(s, src, "lineitem")
    val liOut = li.select(col("*"), r).select(
      shift("l_orderkey", strideOf(li, "l_orderkey")),
      shift("l_partkey", strideOf(li, "l_partkey")),
      shift("l_suppkey", strideOf(li, "l_suppkey")),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate"))

    val pt = Tables.load(s, src, "part")
    val ptOut = pt.select(col("*"), r).select(
      shift("p_partkey", strideOf(pt, "p_partkey")),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice"))

    val ev = Tables.load(s, src, "events")
    val evOut = ev.select(col("*"), r).select(
      shift("event_id", strideOf(ev, "event_id")),
      col("ts"),
      shift("user_id", strideOf(ev, "user_id")),
      col("event_type"), col("value"), col("props"))

    val dc = Tables.load(s, src, "documents")
    // rotate by rep MOD size — a raw rep ≥ size degenerates to the
    // identity (first slice empty, second returns everything), so
    // short docs would replicate as exact duplicates and re-inflate
    // the MinHash near-dup rows the rotation exists to damp. Docs
    // with size ≤ rep still cycle, so those also get a per-rep salt
    // token to keep every replica distinct.
    val dcOut = dc.select(col("*"), r)
      .withColumn("w", split(col("text"), " "))
      .withColumn("k", pmod(col("rep"),
        greatest(size(col("w")), lit(1))))
      .withColumn("text2", concat_ws(" ",
        concat(slice(col("w"), col("k") + 1,
            greatest(size(col("w")) - col("k"), lit(0))),
          slice(col("w"), lit(1), least(col("k"), size(col("w")))))))
      .withColumn("text2",
        when(col("rep") > 0 && col("rep") >= size(col("w")),
          concat(col("text2"), lit(" zdup"), col("rep")))
        .otherwise(col("text2")))
      .select(
        shift("doc_id", strideOf(dc, "doc_id")),
        col("text2").as("text"), col("lang"), col("source"),
        length(col("text2")).cast("long").as("n_chars"))

    val em = Tables.load(s, src, "embeddings")
    val emOut = em.select(col("*"), r)
      .withColumn("d", size(col("embedding")))
      .withColumn("embedding", concat(
        slice(col("embedding"), col("rep") + 1,
          greatest(col("d") - col("rep"), lit(0))),
        slice(col("embedding"), lit(1), least(col("rep"), col("d"))))
        .cast("array<float>"))
      .select(
        shift("vec_id", strideOf(em, "vec_id")),
        col("embedding"), col("label"))

    // orders (the lorenz/profile rows): max(o_orderkey) ==
    // max(l_orderkey) on the driver fixtures (every order has
    // lineitems), so the o_orderkey stride matches lineitem's and the
    // fact↔order join stays replica-consistent
    val or = Tables.load(s, src, "orders")
    val orOut = or.select(col("*"), r).select(
      shift("o_orderkey", strideOf(or, "o_orderkey")),
      shift("o_custkey", strideOf(or, "o_custkey")),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))

    Seq("lineitem" -> liOut, "part" -> ptOut, "events" -> evOut,
      "documents" -> dcOut, "embeddings" -> emOut,
      "orders" -> orOut).foreach {
      case (n, df) => df.write.mode("overwrite")
        .parquet(s"$out/$n.parquet")
    }
    Files.createFile(marker)
  }

  /** The representative queries PLANS.md shows, each with the plan
    * property it illustrates. */
  private val planPicks: Seq[(String, String)] = Seq(
    "q_src_parquet" -> "schema-pinned scan: pruned ReadSchema",
    "q_filter_eq" -> "predicate pushed into the parquet scan",
    "q_join_broadcast" -> "tiny dim broadcast, no dim-side shuffle",
    "q_join_asof" -> "as-of join = union + one partitioned window",
    "q_agg_group" -> "two-phase hash aggregate",
    "q_topk" -> "TakeOrderedAndProject (per-partition heaps)",
    "q_win_topk_group" -> "rank-filter window, single shuffle",
    "q_text_minhash" -> "one-pass signatures, bucket groupBy, pair explode",
    "q_vec_ann_lsh" -> "LSH bucket equi-join + exact rescore (seed-regenerated planes)",
    "q_vec_ann_ivf" -> "broadcast-centroid cells, (cell, shard) equi-join, exact rescore",
    "q_vec_cosine_dedup" -> "blocked-exact self-join: every pair exactly once, no BNL, no distinct",
    "q_join_salted" -> "hot-key scatter: dim explode x factor, join on (key, salt)",
    "q_win_rownum" -> "globalRowNumber: zipWithIndex over ONE materialized range shuffle",
    "q_stream_tumble" -> "tumbling window batch shadow",
    "q_src_partition_prune" -> "partition predicate in PartitionFilters (directory elimination)",
    "q_sink_bucketed" -> "bucketed table: per-key aggs + join with zero hash exchanges",
    "q_evt_funnel" -> "three stage-min aggregates co-partitioned on user_id",
    "q_etl_upsert" -> "latest-wins merge: union + one version window shuffle",
    "q_stream_join" -> "interval join: shuffled equi-join, range bounds as join filter",
    "q_etl_normalize" -> "warehouse join-back: broadcast weekday dim, co-keyed hub/bridge joins",
    "q_agg_quantile_approx" -> "approx_percentile: two-phase ObjectHashAggregate over mergeable sketches",
    "q_text_chunk" -> "chunking: scan -> generate -> project, no shuffle before the presentation sort",
    "q_vec_quantize" -> "int8 quantization: scale project below the code map (array_max once per row)",
    "q_text_tfidf" -> "tf-idf: (doc,term) + vocab aggregates, broadcast df join, WindowGroupLimit top-k",
    "q_vec_ann_pq" -> "PQ: TopCells encode per subspace, literal-LUT ADC, TakeOrdered shortlist, rescore join",
    "q_etl_scd2" -> "SCD-2: one key shuffle, lead window, O(1) state",
    "q_agg_mode" -> "mode: two-phase pair count + WindowGroupLimit top-1",
    "q_join_dpp" -> "dynamic partition pruning: dynamicpruningexpression in the fact scan's PartitionFilters",
    "q_text_cooccur" -> "bigram counts: two-phase aggregate, TakeOrderedAndProject top-100",
    "q_text_decontaminate" -> "decontamination: broadcast LEFT ANTI on content sha, zero corpus shuffle",
    "q_vec_centroid" -> "centroids: posexplode + two-phase (cluster,pos) aggregate, metadata-sized shuffle",
    "q_agg_maxby" -> "latest-per-key: single two-phase max_by aggregate, no window sort",
    "q_win_range_frame" -> "time-RANGE window: one key shuffle, epoch-second frame bounds",
    "q_win_sessionize" -> "gap sessionization: running windows + two-phase session aggregate",
    "q_text_feature_hash" -> "hashing trick: per-row bucket expression, two-phase (doc,bucket) count",
    "q_json_flatten" -> "nested JSON: from_json(ARRAY<STRUCT>) + inline generate, no shuffle",
    "q_win_streak" -> "gaps-and-islands: distinct-day grid, rank window, WindowGroupLimit top-1",
    "q_etl_snapshot_diff" -> "CDC diff: one full-outer key join, 4-class aggregate, direct column compare",
    "q_evt_paths" -> "path analysis: WindowGroupLimit 50-event pre-cap, bounded ordered collect, path-count two-phase, top-k heap",
    "q_agg_ttest" -> "A/B readout: both cohorts' moments in one conditional-aggregate pass",
    "q_etl_wap" -> "write-audit-publish: staged write, 3-check audit aggregate, atomic rename",
    "q_evt_retention" -> "cohort retention: one collect_set pass per user (cohort + grid from the same row, join-free), small matrix aggregate",
    "q_evt_attribution" -> "last-touch: ONE running window (O(1) state), no touches-x-purchases self-join",
    "q_sql_lateral" -> "correlated LATERAL LIMIT: WindowGroupLimit partial top-k + one equi-join (no per-row subquery)",
    "q_sql_exists" -> "EXISTS/NOT EXISTS: decorrelated hash semi- + anti-joins, co-keyed",
    "q_graph_triangles" -> "triangle census: degree-oriented wedge join, equi-joins only",
    "q_graph_components" -> "components: one groupByKey(brand) + MapGroups union-find, no iteration",
    "q_text_dedup_spans" -> "span dedup: codegen'd token_ngrams explode, two-phase distinct-count aggregate",
    "q_vec_mips" -> "MIPS: 3-probe broadcast, DotProduct pass, WindowGroupLimit per-query top-5",
    "q_agg_bitmap" -> "bitmap distinct: (group,chunk) bit_or partials, bit_count rollup",
    "q_text_dup_rate" -> "dup rate: one explode, (gram,doc) contraction, window doc-freq, per-doc rollup",
    "q_evt_anomaly" -> "z-score outliers: 5-row stats BROADCAST back onto the stream, corpus never shuffles",
    "q_etl_anonymize" -> "k-anonymity: one window count over the QI composite, per-row masking",
    "q_agg_corr" -> "co-moment profile: ONE two-phase aggregate pass for corr/covar/OLS",
    "q_evt_markov" -> "transition matrix: one lead window pass, two-phase pair count, k-by-k normalization",
    "q_etl_cdc_apply" -> "changelog fold: latest-wins row_number plans as WindowGroupLimit, per-key state = one row",
    "q_etl_resample" -> "calendar spine: sequence() explode generates the grid, co-keyed left join, one LOCF window",
    "q_etl_skew_profile" -> "skew audit: two-phase per-key count, single-row reduce over group sizes",
    "q_text_zipf" -> "zipf head: two-phase term count, TakeOrderedAndProject heap cut, windows over 50 rows",
    "q_agg_countmin" -> "count-min sketch: two-phase (row,bucket) grid build (shuffle ≤ tasks·4096 cells), broadcast sketch→probe join, min over hash rows",
    "q_graph_pagerank" -> "pagerank: k²-edge contraction checkpointed, 5 broadcast-join iterations, no corpus rescan",
    "q_evt_abandon" -> "conversion window: reversed running-min frame (O(1) state), no UnboundedFollowing",
    "q_etl_purge" -> "erasure cascade: request list broadcast-probes customer→orders→lineitem, no fact shuffle",
    "q_etl_purge_bloom" -> "bloom-prefiltered purge: fact scans filter map-side through the broadcast filter BEFORE any exchange; exact semi-join only on the candidate sliver",
    "q_agg_mad" -> "robust outliers: k-row median/MAD profiles broadcast back onto the stream",
    "q_text_ngram_lm" -> "unigram LM: two-phase vocab count, term-keyed frequency join, per-doc reduce",
    "q_join_interval" -> "interval overlap: both sides explode to time buckets, bucket EQUI-join + exact filter + count-once guard, no range BNL",
    "q_etl_stats_collect" -> "ANALYZE stats: Expand multi-distinct, ONE shuffle of partial states",
    "q_vec_pca" -> "PCA scoring: narrow DotProduct map below the scan, components as literals (fit is a separate moment-contraction job)",
    "q_evt_interarrival" -> "inter-arrival: one key-window lag pass, grouped exact percentile rollup",
    "q_sql_report" -> "SQL report: lineitem pre-contracted per orderkey BEFORE the joins, plain count(*) — no distinct-aggregate Expand",
    "q_etl_denormalize" -> "denormalize: broadcast dim joins + business-keyed collects, left-join fold, array-kernel readout")
}
