package graft.queries

import graft.Tables
import graft.ops.{Curation, Relational, TextSim}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.HashFunctions.sha256_prefix

/** §2.M text / similarity / vector extensions over `documents` and
  * `embeddings` — the training-data-pipeline operators (dedup, ANN,
  * text analysis). */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q_text_tokenize — tokenize + word counts (ref text fields of
    * `web_scraper/web_scraping.py:325-333`). Two-phase hash aggregate:
    * the shuffle carries one row per distinct word per partition. */
  private val tokenize: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(explode(TextSim.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy("word")

  /** q_text_dedup_exact — content-hash dedup (ref resume dedup on bizId
    * `web_scraper/web_scraping.py:517-521`): keep the lowest doc_id per
    * sha256(text). Deterministic keeper, unlike dropDuplicates. */
  private val dedupExact: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("text_sha", sha2(col("text"), 256))
      .groupBy("text_sha")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "text_sha", "n_copies")
      .orderBy("doc_id")

  /** Planted-duplicate corpus for the MinHash/SimHash bound oracles
    * (the q_stream_dedup union-with-itself device, r15): every 50th
    * document is re-keyed (+10⁷) and appended, so the corpus contains
    * an arithmetically RECONSTRUCTIBLE set of exact-duplicate pairs —
    * DuckDB can count them without touching the hash family, and an
    * identical text is GUARANTEED an identical signature, so "every
    * planted pair is covered" is a deterministic contract, not a
    * tolerance. The fixture corpus itself has zero exact-dup texts
    * (checked r15), which would make a coverage oracle vacuous —
    * planting is what gives the bound teeth. */
  private def plantedCorpus(docs: DataFrame): DataFrame =
    docs.select("doc_id", "text").unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          col("text")))

  /** Shared MinHash candidate pair set over the planted corpus:
    * q_text_minhash and q_text_minhash_groups run the IDENTICAL
    * shingle → signature → banding pipeline (same corpus, same
    * parameters), so the corpus-sized LSH build is session-cached via
    * [[graft.ops.SessionCache]] — one build per (context, dir,
    * `documents` files) instead of one per query, the CoOrderGraph
    * discipline (r19 verdict item 4). Both consumers read the
    * checkpointed pair blocks; the per-query work that remains is each
    * readout's own joins/aggregates. */
  private def plantedMinhashPairs(s: SparkSession, dir: String)
      : DataFrame =
    graft.ops.SessionCache.frame(s, s"text_minhash_pairs|$dir") {
      TextSim.minhashCandidates(
        plantedCorpus(Tables.load(s, dir, "documents")),
        col("doc_id"), col("text"))
    }

  /** The planted pairs that sit in the candidate universe (MinHash
    * drops docs with fewer than `shingleSize` raw tokens). */
  private def plantedPairs(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 50 === 0 &&
        size(TextSim.tokens(col("text"))) >= 3)
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") + lit(10000000L)).as("doc_b"))

  /** q_text_minhash — MinHash+LSH near-dup candidates
    * ([[TextSim.minhashCandidates]]): shingle → signature → banded
    * bucket-join, run over the [[plantedCorpus]]. The hash family has
    * no DuckDB parity, so the registered readout is the
    * self-certifying BOUND form: candidate-set ⊇ planted
    * exact-duplicate pairs (identical text ⇒ identical signature ⇒
    * collision in every band — a deterministic guarantee), with the
    * pair census as the oracle anchor. Jaccard-vs-candidates recall
    * on NEAR-dups stays in TextSimSpec. */
  private val minhash: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val corpus = plantedCorpus(docs)
    val cands = plantedMinhashPairs(s, dir)
    val expected = plantedPairs(docs)
    expected.agg(count(lit(1)).as("n_dup_pairs"))
      .crossJoin(expected.join(cands, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_dup_covered")))
      .crossJoin(corpus.agg(count(lit(1)).as("n_docs")))
      .select(col("n_docs"), col("n_dup_pairs"), col("n_dup_covered"),
        (col("n_dup_covered") === col("n_dup_pairs"))
          .as("all_dups_covered"))
  }

  /** q_text_minhash_groups — the end-to-end text near-dup pipeline:
    * MinHash banding proposes candidate PAIRS
    * ([[TextSim.minhashCandidates]] — bucketed, never all-pairs), and
    * the partition-local union-find contraction
    * ([[TextSim.dedupGroups]]) turns pairs into dedup GROUPS with a
    * min-id canonical doc per group — the "keep one copy per cluster"
    * decision a training-corpus dedup actually executes. The pair set
    * is MinHash-derived (no DuckDB twin), so the registered readout is
    * the BOUND form over the [[plantedCorpus]]: every planted
    * exact-dup pair must land in one group, and every group's
    * canonical must be its minimum id — two deterministic contracts
    * the oracle asserts TRUE next to the exact pair census. Group
    * consistency over NEAR-dup pairs stays in TextSimSpec. */
  private val minhashGroups: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val corpus = plantedCorpus(docs)
    val pairs = plantedMinhashPairs(s, dir)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    val groups = TextSim.dedupGroups(corpus.select("doc_id"), pairs)
    val expected = plantedPairs(docs)
    val sameGroup = expected
      .join(groups.select(col("doc_id").as("doc_a"),
        col("group_id").as("ga")), Seq("doc_a"))
      .join(groups.select(col("doc_id").as("doc_b"),
        col("group_id").as("gb")), Seq("doc_b"))
      .agg(count(lit(1)).as("n_labeled"),
        sum(when(col("ga") === col("gb"), 1L).otherwise(0L))
          .as("n_same_group"))
    val canon = groups.groupBy("group_id")
      .agg(min("doc_id").as("mn"))
      .agg((sum(when(col("mn") =!= col("group_id"), 1L).otherwise(0L))
        === 0).as("canonicals_are_minima"))
    expected.agg(count(lit(1)).as("n_dup_pairs"))
      .crossJoin(sameGroup)
      .crossJoin(canon)
      .select(col("n_dup_pairs"),
        (col("n_labeled") === col("n_dup_pairs") &&
          col("n_same_group") === col("n_dup_pairs"))
          .as("all_dups_grouped"),
        col("canonicals_are_minima"))
  }

  /** q_vec_cosine_topk — brute-force cosine top-10 against the vec_id=0
    * probe ([[TextSim.cosine]]: sequential double fold on both engines).
    * Ties break on vec_id after rounding, so the top-k set is stable. */
  private val cosineTopk: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_vec"))
    emb.crossJoin(broadcast(probe))
      .withColumn("sim_r",
        round(TextSim.cosine(col("embedding"), col("probe_vec")), 4))
      .select("vec_id", "label", "sim_r")
      .orderBy(col("sim_r").desc, col("vec_id"))
      .limit(10)
  }

  /** q_vec_knn_join — top-3 cosine neighbours for probes vec_id<20
    * ([[TextSim.knnJoin]]). Q-tier: float order sensitivity + BNL cost
    * (SURVEY.md §2.M); exactness covered in TextSimSpec. */
  private val knnJoin: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    TextSim.knnJoin(emb.filter(col("vec_id") < 20), emb, 3)
      .select("probe_id", "neighbor_id", "sim", "rn")
      .orderBy("probe_id", "rn")
  }

  /** q_vec_mmr — maximal-marginal-relevance diverse top-10 against the
    * vec_id=0 probe (Carbonell–Goldstein 1998): each pick maximizes
    * λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) with λ = 0.7 — the
    * diversity-aware selection a curation pipeline runs where plain
    * top-k returns ten near-duplicates of the same cluster (retrieval
    * reranking, few-shot exemplar picking, eval-set sampling). Scale
    * shape: the DISTRIBUTED stage is the relevance scan (brute-force
    * cosine over the corpus — or any §2.M ANN index — then a top-50
    * candidate cut); the greedy phase is inherently sequential (pick
    * i+1 depends on picks 1..i) and runs on the COLLECTED 50-row
    * slate — the nCells·dim-bounded driver-work precedent (IVF
    * centroids, PQ codebooks), independent of corpus size. Q-tier:
    * the greedy argmax chain has no SQL twin; VecMmrSpec gates
    * first-pick-is-argmax, λ=1 ≡ plain top-k, and the diversity win
    * (mean pairwise sim strictly below top-10-by-relevance's).
    * Determinism: sims round to 4 dp, ties break on vec_id, driver
    * dot products fold sequentially. */
  private[graft] def vecMmrRaw(s: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_vec"))
    val slate = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("rel",
        round(TextSim.cosine(col("embedding"), col("probe_vec")), 4))
      .select(col("vec_id"), col("label"), col("rel"), col("embedding"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(50)
      .collect()
      .map { r =>
        (r.getLong(0), r.getInt(1), r.getDouble(2),
          r.getSeq[Float](3).map(_.toDouble).toArray)
      }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0
      else math.rint(dot / den * 1e4) / 1e4 // 4-dp grid, like the scan
    }
    val lambda = 0.7
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Int, Double, Double)] // rank, id, label, rel, score
    val remaining = scala.collection.mutable.ArrayBuffer(slate: _*)
    while (picked.size < 10 && remaining.nonEmpty) {
      val best = remaining.map { case c @ (id, _, rel, v) =>
        val maxSim =
          if (picked.isEmpty) 0.0
          else slate.collect {
            case (pid, _, _, pv) if picked.exists(_._2 == pid) => cos(v, pv)
          }.max
        val score =
          math.rint((lambda * rel - (1 - lambda) * maxSim) * 1e4) / 1e4
        (score, id, c)
      }.minBy { case (score, id, _) => (-score, id) }
      picked += ((picked.size + 1, best._3._1, best._3._2, best._3._3,
        best._1))
      remaining -= best._3
    }
    import s.implicits._
    picked.toSeq.toDF("rank", "vec_id", "label", "rel", "mmr_score")
      .orderBy("rank")
  }

  /** O-bound registration (r15): the greedy argmax chain has no SQL
    * twin, but its FIRST pick is pure relevance argmax — DuckDB
    * recomputes the (rel DESC, vec_id) head exactly (id AND rounded
    * cosine, the q_vec_cosine_topk parity) — and the selection size /
    * distinctness anchor alongside. Diversity-vs-top-k and score
    * monotonicity stay spec-gated in VecMmrSpec via [[vecMmrRaw]]. */
  private val vecMmr: Q = (s, dir) => {
    import s.implicits._
    val rows = vecMmrRaw(s, dir).collect()
    val ids = rows.map(_.getLong(1))
    val first = rows.head
    Seq((rows.length.toLong, first.getLong(1), first.getDouble(3),
      ids.distinct.length == ids.length)).toDF(
      "n_selected", "first_pick_id", "first_pick_rel",
      "all_picks_distinct")
  }

  /** q_text_langid — stopword-profile language ID
    * ([[TextSim.langId]]): per-language vocabulary hit counts, argmax
    * with deterministic tie order. */
  private val langid: Q = (s, dir) => {
    val base = Tables.load(s, dir, "documents")
      .withColumn("w", TextSim.tokens(col("text")))
    val scored = TextSim.stopwordProfiles.foldLeft(base) {
      case (df, (lang, vocab)) =>
        df.withColumn(s"s_$lang", TextSim.vocabHits(col("w"), vocab))
    }
    scored.withColumn("lang_pred", TextSim.langId(col("w")))
      .select("doc_id", "s_en", "s_de", "s_es", "s_fr", "lang_pred", "lang")
      .orderBy("doc_id")
  }

  /** q_text_lang_confusion — the language-ID EVALUATION: confusion
    * matrix of [[TextSim.langId]]'s prediction against the labeled
    * lang, with per-actual-language recall attached to each cell —
    * the readout that turns q_text_langid from a classifier into a
    * MEASURED classifier (and surfaces the structural failure: 'zh'
    * has no stopword profile, so every zh doc lands in some Latin
    * bucket — exactly the coverage gap a curation team needs to see).
    * Shape: one scan scoring the per-row argmax, a ≤langs² cell
    * aggregate, a ≤langs-row recall broadcast back onto the cells.
    * All counts integers; recall is one shared division. */
  private val textLangConfusion: Q = (s, dir) => {
    val pred = Tables.load(s, dir, "documents")
      .withColumn("lang_pred", TextSim.langId(TextSim.tokens(col("text"))))
    val cellsC = pred.groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
    val totals = cellsC.groupBy("lang")
      .agg(sum("n").as("n_actual"),
        sum(when(col("lang") === col("lang_pred"), col("n"))
          .otherwise(lit(0))).as("n_correct"))
    cellsC.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("lang_pred"), col("n"),
        round(col("n_correct").cast("double") / col("n_actual"), 4)
          .as("recall"))
      .orderBy("lang", "lang_pred")
  }

  /** q_text_quality — length / punctuation / stopword quality signals
    * with a composite score (the pre-training filter stage). */
  private val quality: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("w", TextSim.tokens(col("text")))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("n_punct", TextSim.punctCount(col("text")))
      .withColumn("stop_hits", TextSim.vocabHits(col("w"),
        TextSim.stopwordProfiles.head._2))
      // n_words ≥ 1 always: split("", " ") yields [""], so the ratio's
      // denominator can never be 0 under ANSI division
      .withColumn("stop_ratio",
        round(col("stop_hits").cast("double") / col("n_words"), 4))
      .withColumn("quality_ok",
        col("n_words") >= 5 && col("n_words") <= 10000 &&
          col("n_punct") * 4 < col("n_words"))
      .select("doc_id", "n_words", "n_punct", "stop_hits", "stop_ratio",
        "quality_ok")
      .orderBy("doc_id")

  /** q_text_readability — Flesch reading-ease per document from the
    * three classic counts: words (whitespace tokens), sentences
    * (terminal-punctuation runs, floored at 1 — the fixture corpus has
    * no sentence punctuation, so the formula degrades gracefully to
    * its single-sentence case rather than dividing by zero), syllables
    * (vowel-group runs, the standard dictionary-free heuristic).
    * score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    * words) — the curation-stage complexity prior (alongside
    * q_text_quality's ratios): too-low scores flag run-on noise,
    * too-high flag fragment spam. Pure per-row expressions — no
    * shuffle at all until the final orderBy; counts are integers from
    * ONE regex pass each. Exactness (r18): the score is a rational of
    * the three integer counts — flesch = (206835·S·W − 1015·W² −
    * 84600·Y·S) / (1000·S·W) — so the 2-dp HALF-AWAY round runs
    * ENTIRELY in integers ((2·|num|·100 + den) DIV (2·den), signed
    * back) on BOTH engines; the double-formula form hit a genuine
    * rounding-boundary doc at sf0.001 (85.165 exactly — Spark's
    * BigDecimal HALF_UP of the binary double disagreed with DuckDB's
    * round by one ulp-class, the §7.5.20 sweep catch). The final
    * /100.0 is the nearest-double of the exact 2-dp decimal on both
    * engines. */
  private val textReadability: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("n_words",
        size(split(lower(col("text")), " ")).cast("long"))
      .withColumn("n_sent", greatest(
        size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"),
        lit(1L)))
      .withColumn("n_syll",
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
          .cast("long"))
      // fnum/fden and the rounding device fold in DECIMAL(38,0),
      // mirroring the oracle's explicit HUGEINT — an int64 fold
      // overflows 2·|fnum|·100 for documents past ~10^7 words while
      // the oracle kept going (r18 ADVICE envelope alignment)
      .withColumn("w38", col("n_words").cast("decimal(20,0)"))
      .withColumn("s38", col("n_sent").cast("decimal(20,0)"))
      .withColumn("y38", col("n_syll").cast("decimal(20,0)"))
      .withColumn("fnum",
        lit(206835L) * col("s38") * col("w38") -
          lit(1015L) * col("w38") * col("w38") -
          lit(84600L) * col("y38") * col("s38"))
      .withColumn("fden", lit(1000L) * col("s38") * col("w38"))
      .withColumn("flesch",
        (when(col("fnum") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("(2 * abs(fnum) * 100 + fden) DIV (2 * fden)"))
          .cast("double") / lit(100.0))
      .select("doc_id", "lang", "n_words", "n_sent", "n_syll", "flesch")
      .orderBy("doc_id")

  /** q_text_repetition — token-uniqueness quality signals (the
    * repetition-filter family of pre-training curation: heavily
    * repetitive docs score low on distinct-token ratio and high on
    * top-token share). Distributed shape: explode → two-phase
    * (doc, token) count → per-doc aggregate — the shuffles carry one row
    * per distinct (doc, token), never the raw token stream, so cost
    * tracks vocabulary, not corpus length. */
  private val repetition: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(TextSim.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_count"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("distinct_ratio"),
        round(col("top_count").cast("double") / col("n_tokens"), 4)
          .as("top_token_share"))
      .orderBy("doc_id")

  /** q_text_tokens — whitespace vs BPE-ish pre-tokenizer counts
    * ([[TextSim.bpeTokenCount]]). */
  private val tokenCounts: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("bpe_tokens", TextSim.bpeTokenCount(col("text")))
      .select("doc_id", "ws_tokens", "bpe_tokens")
      .orderBy("doc_id")

  /** q_text_fingerprint — normalization-invariant content fingerprint
    * ([[TextSim.contentFingerprint]]); q_text_winnowing is the
    * partial-overlap companion (winnowed n-gram fingerprints). */
  private val fingerprint: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("fp", TextSim.contentFingerprint(col("text")))
      .select("doc_id", "fp")
      .orderBy("doc_id")

  /** Exact cosine top-k per probe (brute force, same `roundedSim`
    * value + (sim DESC, vec_id) tie order as every ANN rescorer) —
    * the recall denominator of the ANN bound readouts. The probe dim
    * broadcasts; the =!= predicate makes this a BOUNDED
    * BroadcastNestedLoopJoin (probes ≤ 500 rows — the q_vec_knn_join
    * documented-baseline shape), acceptable here because this leg
    * exists only to certify the ANN leg, never as the scale path. */
  private def exactTopK(emb: DataFrame, probePred: Column, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    // norms precompute per SIDE (knnJoin's discipline — the per-pair
    // form recomputed two self-dots per candidate), and the streamed
    // corpus side repartitions first: the demo slice is one parquet
    // split, so the BNL join otherwise runs as a single 0.7 s task on
    // one core (r19 job profile) — same doubles either way (sqrt of
    // the same self-dot), so the 4-dp sims are untouched
    val probes = emb.filter(probePred)
      .select(col("vec_id").as("probe_id"),
        col("embedding").cast("array<double>").as("pv"))
      .withColumn("pn", sqrt(fns.dot_product(col("pv"), col("pv"))))
    val scored = Tables.parallelized(emb
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", sqrt(fns.dot_product(col("cv"), col("cv")))))
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(try_divide(fns.dot_product(col("pv"), col("cv")),
          col("pn") * col("cn")), 4).as("sim"))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id"))
  }

  /** Shared ANN bound readout (r15 O-bound device): micro-average
    * recall@k of the ANN candidates against [[exactTopK]], thresholded
    * at the TextSimSpec floor — a verdict boolean the oracle asserts
    * TRUE, next to census anchors DuckDB re-derives (probe count, k).
    * ANN ranking QUALITY beyond the floor stays spec-gated on the raw
    * kernels. */
  private def annBoundReadout(emb: DataFrame, ann: DataFrame,
      probeCol: Column, neighborCol: Column, probePred: Column, k: Int,
      floor: Double): DataFrame = {
    // one-pass readout (r16): the exact reference is consumed exactly
    // once — LEFT-join the ANN pairs as a hit marker, then fold
    // census + recall in ONE aggregate (replaces three aggregate
    // jobs + two broadcast jobs + an exact-leg checkpoint). n_probes
    // = n_exact / k, EXACT because exactTopK emits exactly k rows per
    // probe (every probe pairs with every non-self vector and the
    // corpus exceeds k on every fixture) — a countDistinct here would
    // plan an Expand + an extra shuffle for a number integer division
    // already yields.
    val exact = exactTopK(emb, probePred, k)
    // the ANN leg is candidate pairs for ≤ 500 probes (this readout's
    // documented certification bound, never the scale path) — broadcast
    // it so the hit-marker join adds no exchange
    val marked = exact.join(broadcast(
      ann.select(probeCol.as("probe_id"), neighborCol.as("vec_id"),
        lit(1).as("__hit"))),
      Seq("probe_id", "vec_id"), "left")
    marked.agg(
        count(lit(1)).as("n_exact"),
        count(col("__hit")).as("n_hits"))
      .select((col("n_exact") / k).cast("long").as("n_probes"),
        lit(k.toLong).as("k"),
        ((col("n_hits").cast("double") / col("n_exact")) >= floor)
          .as("recall_floor_ok"))
  }

  /** q_vec_ann_lsh — the ANN scale path ([[TextSim.annCosineLsh]]):
    * sign-LSH buckets + 1-bit multiprobe instead of the full cross
    * product. O-bound (r15): recall@3 vs exact over the 20-probe set
    * ≥ 0.4 (the TextSimSpec floor) asserted TRUE; probe census
    * anchored. Plan quality (bucket equi-join, plane-free expression)
    * stays gated in PlanQualitySpec on the raw kernel. */
  private val annLsh: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    annBoundReadout(emb,
      TextSim.annCosineLsh(emb.filter(col("vec_id") < 20), emb, 3),
      col("probe_id"), col("neighbor_id"), col("vec_id") < 20,
      k = 3, floor = 0.4)
  }

  /** q_vec_ann_ivf — the IVF ANN scale path ([[TextSim.annCosineIvf]]):
    * corpus partitioned by nearest broadcast centroid (auto-sized ≈4·√N
    * cells — 256 on the sf0.1 bench corpus), probes search their nProbe
    * nearest cells through a (cell, shard) equi-join. Q-tier (centroid
    * samples + float order); recall vs exact kNN and shard-invariance
    * asserted in TextSimSpec. */
  private val annIvf: Q = (s, dir) => {
    // O-bound (r15): same device as q_vec_ann_lsh — recall@3 floor
    // 0.4 asserted TRUE, probe census anchored; (cell, shard) plan
    // shape stays gated in PlanQualitySpec on the raw kernel.
    val emb = Tables.load(s, dir, "embeddings")
    annBoundReadout(emb,
      TextSim.annCosineIvf(emb.filter(col("vec_id") < 20), emb, 3),
      col("probe_id"), col("neighbor_id"), col("vec_id") < 20,
      k = 3, floor = 0.4)
  }

  /** q_vec_ann_nndescent — the GRAPH-ANN construction path
    * ([[TextSim.nnDescentGraph]], NN-Descent): the offline kNN-graph
    * build HNSW-family indexes start from, as rounds of
    * neighbors-of-neighbors candidate joins + exact rescore + per-node
    * top-k — every shuffle a node-keyed equi-join, candidates ≤ N·(2k)²
    * per round, never all-pairs. Q-tier (iterative refinement has no
    * SQL twin); recall floor, round-monotone recall, and determinism
    * are asserted in TextSimSpec. */
  private val annNnDescent: Q = (s, dir) => {
    // 500-vector demo slice: per-round cost here is Spark job overhead,
    // not data (the operator's scale story is the node-keyed equi-join
    // shape); recall at this size/params is ≈0.98 (TextSimSpec).
    // O-bound (r15): graph recall@5 vs exact over the slice ≥ 0.7
    // asserted TRUE; node census anchored.
    val emb = Tables.load(s, dir, "embeddings")
    val slice = emb.filter(col("vec_id") < 500)
    annBoundReadout(slice,
      TextSim.nnDescentGraph(slice, k = 5, iters = 2),
      col("vec_id"), col("neighbor_id"), lit(true),
      k = 5, floor = 0.7)
  }

  /** q_vec_kmeans — spherical k-means corpus clustering readout
    * ([[TextSim.kmeansReadout]]): the IVF centroid trainer run as a
    * first-class curation operator — bucket the corpus into semantic
    * cells (per-cluster size / mean-cosine / inertia / id span) for
    * cluster-aware sampling, dedup, and inspection. Q-tier (iterative
    * Lloyd refinement has no SQL twin); assignment optimality, Σ-dot
    * monotonicity over rounds, and size conservation are asserted in
    * TextSimSpec. */
  private val vecKmeans: Q = (s, dir) => {
    // O-bound registration (r15): the per-cluster readout has no SQL
    // twin (iterative Lloyd), but conservation anchors exactly —
    // sum of cluster sizes = corpus count, id span = corpus span, 8
    // non-empty clusters — and the oracle asserts them against its own
    // census of `embeddings`. Assignment optimality, objective
    // monotonicity, and determinism stay spec-gated in TextSimSpec via
    // TextSim.kmeansReadout directly.
    val out = TextSim.kmeansReadout(Tables.load(s, dir, "embeddings"),
      k = 8, iters = 3)
    out.agg(count(lit(1)).cast("long").as("n_clusters"),
      sum("n").cast("long").as("n_vecs"),
      min("min_vec").cast("long").as("min_vec"),
      max("max_vec").cast("long").as("max_vec"),
      (min("n") > 0L).as("all_clusters_nonempty"))
  }

  /** q_text_simhash — per-doc SimHash fingerprint + dedup bands
    * ([[TextSim.simhash]]). The fingerprint is xxhash64-based (no
    * DuckDB parity), so the registered readout is the self-certifying
    * BOUND form over the [[plantedCorpus]]: identical text ⇒ identical
    * fingerprint ⇒ all four 16-bit bands equal — a deterministic
    * contract counted over the planted exact-dup pairs, with the
    * census as the oracle anchor. Near-dup band locality (one flipped
    * token perturbs ≤ a few bits) stays in TextSimSpec. */
  private val simhashQ: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val corpus = plantedCorpus(docs)
    val fps = corpus.withColumn("fp", TextSim.simhash(col("text")))
    val expected = docs
      .filter(col("doc_id") % 50 === 0 && col("text").isNotNull)
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") + lit(10000000L)).as("doc_b"))
    val matched = expected
      .join(fps.select(col("doc_id").as("doc_a"), col("fp").as("fa")),
        Seq("doc_a"))
      .join(fps.select(col("doc_id").as("doc_b"), col("fp").as("fb")),
        Seq("doc_b"))
      .agg(count(lit(1)).as("n_fp_pairs"),
        sum(when(col("fa") === col("fb"), 1L).otherwise(0L))
          .as("n_identical_fp"))
    corpus.agg(count(lit(1)).as("n_docs"))
      .crossJoin(expected.agg(count(lit(1)).as("n_dup_pairs")))
      .crossJoin(matched)
      .select(col("n_docs"), col("n_dup_pairs"),
        (col("n_fp_pairs") === col("n_dup_pairs") &&
          col("n_identical_fp") === col("n_dup_pairs"))
          .as("all_dups_identical_fp"))
  }

  /** q_text_ngram_jaccard — exact word-3-gram Jaccard over adjacent doc
    * pairs ([[TextSim.jaccard]] of the two shingle sets, rounded to 4
    * places): the exact-measure companion to the MinHash estimate. */
  private val ngramJaccardQ: Q = (s, dir) => {
    // parallelized + shingles BEFORE the join (r17 cold-anchor sweep):
    // the interpreted shingle HOF used to sit in the post-join
    // projection, where (a) CollapseProject inlined it into every
    // reference (~4 evaluations per row — the r12 winnowing
    // re-hashing class) and (b) at bench SFs the one-split documents
    // scan ran it on a single core. count()-shaped sinks never
    // noticed (the jaccard column prunes away); a consumer
    // MATERIALIZING rows paid ~10 s at sf0.1 for what is now ~0.5 s.
    // Pre-join, the arrays are computed once per doc across the full
    // session parallelism and cross the join exchange as values.
    val d = Tables.parallelized(Tables.load(s, dir, "documents"))
    val a = d.select(col("doc_id").as("doc_a"),
      TextSim.shingles(col("text"), 3).as("ga"))
    val b = d.select(col("doc_id").as("doc_b"),
      TextSim.shingles(col("text"), 3).as("gb"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .withColumn("jaccard",
        round(TextSim.jaccard(col("ga"), col("gb")), 4))
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a")
  }

  /** q_text_containment — ASYMMETRIC word-3-gram containment over the
    * adjacent-pair device: c(A→B) = |grams(A) ∩ grams(B)| / |grams(A)|
    * both directions, plus the direction verdict — the "B quotes A"
    * detector Jaccard structurally misses (a short doc pasted whole
    * into a long one scores Jaccard ≈ |A|/|B| → 0 but containment = 1;
    * it's the decontamination-grade question "is one of these inside
    * the other", not "are they similar"). Same shingle kernel and
    * set-op shape as q_text_ngram_jaccard; per-row, no shuffle beyond
    * the id+1 self-join. */
  private val textContainment: Q = (s, dir) => {
    // parallelized + shingles pre-join, exactly the
    // q_text_ngram_jaccard rationale (see that op): post-join the
    // interpreted HOF re-expanded into ~10 references per row AND ran
    // on the one-split scan's single core — 15.8 s at sf0.1 for a
    // materializing consumer (r17 cold-anchor sweep) vs ~0.6 s now;
    // count()-shaped sinks pruned the columns and never saw it.
    val d = Tables.parallelized(Tables.load(s, dir, "documents"))
    val a = d.select(col("doc_id").as("doc_a"),
      TextSim.shingles(col("text"), 3).as("ga"))
    val b = d.select(col("doc_id").as("doc_b"),
      TextSim.shingles(col("text"), 3).as("gb"))
    val ga = col("ga"); val gb = col("gb")
    val inter = size(array_intersect(ga, gb)).cast("double")
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .withColumn("contain_a",
        round(try_divide(inter,
          size(array_distinct(ga)).cast("double")), 4))
      .withColumn("contain_b",
        round(try_divide(inter,
          size(array_distinct(gb)).cast("double")), 4))
      .select(col("doc_a"), col("doc_b"), col("contain_a"),
        col("contain_b"),
        when(col("contain_a") > col("contain_b"), "a_in_b")
          .when(col("contain_b") > col("contain_a"), "b_in_a")
          .otherwise("symmetric").as("direction"))
      .orderBy("doc_a")
  }

  /** q_vec_binary_quant — sign-bit binary quantization retrieval: each
    * dimension collapses to its SIGN, candidate similarity is the
    * Hamming distance between sign patterns, top-5 per probe by
    * (hamming, id) — the 32×-compression ANN tier under PQ (32 floats
    * → 1 bit each; hamming/dim estimates the angle θ/π, good enough
    * for a shortlist that exact rescoring then fixes). Exactness:
    * sign(x) > 0 is a float comparison both engines answer
    * identically (float→double widening preserves sign; −0.0 > 0 is
    * false on both); hamming is an integer. Scale: the demo scores
    * sign vectors via one codegen-adjacent HOF pass against 3
    * broadcast probes; the production path packs signs into
    * ⌈dim/64⌉ longs at ingest (q_vec_quantize's slot) and XOR +
    * bit_count per candidate — 2 long ops replacing dim float ops,
    * the whole point of the tier. */
  private val vecBinaryQuant: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        size(filter(zip_with(col("q_emb"), col("embedding"),
          (x, y) => (x > lit(0)) =!= (y > lit(0))), bb => bb))
          .as("hamming"),
        size(col("embedding")).as("dim"))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("hamming"), col("vec_id"))))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn").cast("long").as("rn"),
        col("vec_id"), col("hamming").cast("long").as("hamming"),
        round(lit(1.0) - col("hamming").cast("double") / col("dim"), 4)
          .as("sign_sim"))
      .orderBy("q_id", "rn")
  }

  /** q_vec_label_knn_acc — 1-NN label agreement over the 500-vector
    * slice: for every vector, does its nearest neighbor (rounded
    * cosine, vec_id tie) carry the same label? The zero-training
    * embedding-quality eval — if an encoder's neighbors don't share
    * labels, no downstream classifier will fix it, and a per-label
    * breakdown shows WHICH classes smear (q_vec_silhouette scores
    * cluster geometry; this scores label locality). Brute-force
    * scoring is the demo shape; the ANN rows shortlist the same
    * neighbor at scale. */
  private val vecLabelKnnAcc: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    val emb = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") < 500)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val probes = emb.select(col("vec_id").as("probe_id"),
      col("label").as("probe_label"), col("v").as("pv"))
    val nn = emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("probe_label"), col("label"),
        round(try_divide(fns.dot_product(col("pv"), col("v")),
          sqrt(fns.dot_product(col("pv"), col("pv"))) *
            sqrt(fns.dot_product(col("v"), col("v")))), 4).as("sim"),
        col("vec_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rn") === 1)
    nn.select(col("probe_label"), col("label").as("nn_label"))
      .groupBy("probe_label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("nn_label") === col("probe_label"), 1L)
          .otherwise(0L)).as("n_agree"))
      .select(col("probe_label").as("label"),
        col("n").cast("long").as("n"),
        col("n_agree").cast("long").as("n_agree"),
        round(col("n_agree").cast("double") / col("n"), 4).as("knn_acc"))
      .orderBy("label")
  }

  /** q_vec_cosine_dedup — embedding-cosine near-duplicate pairs above a
    * corpus-calibrated threshold: the block-partitioned exact equi-join
    * ([[TextSim.cosineDedupBlockedExact]]), recall exactly 1. At
    * τ=0.42 any cosine-LSH family degenerates to all pairs, so there is
    * no pruning to buy. No nested-loop join — PlanQualitySpec gates it;
    * TextSimSpec pins equality with the brute-force pair set. */
  private val cosineDedup: Q = (s, dir) =>
    TextSim.cosineDedupBlockedExact(Tables.load(s, dir, "embeddings"), 0.42)
      .orderBy("id_a", "id_b")

  /** q_vec_dedup_groups — pairs → dedup GROUPS: connected components
    * over the τ=0.42 cosine near-dup graph ([[TextSim.dedupGroups]],
    * iterative min-label propagation), each vector labeled with its
    * component's minimum id and flagged canonical iff it IS that
    * minimum — the keeper-selection step a training-data dedup pipeline
    * runs after pair generation. O-tier: the DuckDB oracle rebuilds the
    * same components with a recursive transitive-closure CTE. */
  private val dedupGroupsQ: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    val pairs = TextSim.cosineDedupBlockedExact(emb, 0.42)
    TextSim.dedupGroups(emb.select("vec_id"),
        pairs.select("id_a", "id_b"))
      .withColumn("is_canonical",
        (col("vec_id") === col("group_id")).cast("int"))
      .orderBy("vec_id")
  }

  /** q_sample_hash — deterministic content-hash train/val/test split
    * (80/10/10): bucket = first 7 hex chars of sha256(doc_id) mod 100.
    * THE split mechanism for training corpora at scale — stable under
    * reruns, reshuffles, and corpus growth (a doc's split never depends
    * on what else is in the corpus), unlike `randomSplit`, which is
    * partition-layout-dependent. Pure per-row expression: no shuffle at
    * all until the audit aggregate at the end. Production keys the hash
    * on the content fingerprint (q_text_fingerprint) rather than the id
    * so exact dupes land in the same split and cannot leak train→test. */
  private val sampleHash: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("bucket",
        sha256_prefix(col("doc_id").cast("string"), 7) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("split")

  /** Decimal-exact mean embedding per group of `keys` (named columns
    * of `emb`; none: one global centroid), as (keys…, cvec): each
    * dimension is one exact decimal sum divided once by its count, so
    * the centroid is summation-order-free on both engines, and the
    * array is assembled distributed (sort_array over (pos, c) structs
    * — no driver collect). q_vec_ood, q_vec_drift (global) and
    * q_vec_silhouette (per label). */
  private def centroids(emb: DataFrame, keys: Column*): DataFrame = {
    val names = keys.map(k => emb.select(k).columns.head)
    emb.select(keys :+ posexplode(col("embedding")).as(Seq("pos", "x")): _*)
      .groupBy((names :+ "pos").map(col): _*)
      .agg((expr("CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)") /
        count(lit(1))).as("c"))
      .groupBy(names.map(col): _*)
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
          .as("cvec"))
  }

  /** q_vec_ood — out-of-distribution scoring: squared distance of
    * every embedding to the GLOBAL corpus centroid, top-20 — the
    * "far-from-manifold" filter a training-data pipeline runs to
    * surface encoder failures, wrong-modality rows, and adversarial
    * junk before they skew a fine-tune (the one-cluster special case
    * of per-centroid OOD over q_vec_kmeans output). Exactness stack:
    * the centroid reuses q_vec_centroid's decimal-sum/single-division
    * parity per dimension; the distance expands to
    * dot(e,e) − 2·dot(e,c) + dot(c,c) so all three inner products run
    * the SAME sequential fold on both engines ([[TextSim.dot]] ≡
    * DuckDB list_inner_product, the cosine precedent) — never a
    * per-dimension groupBy float sum whose order could drift. The
    * centroid array is assembled distributed (sort_array over
    * (pos, c) structs — no driver collect) and broadcast; the scan is
    * one pass. */
  private val vecOod: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    emb.crossJoin(broadcast(centroids(emb)))
      .withColumn("e", col("embedding").cast("array<double>"))
      .withColumn("ood", round(
        TextSim.dot(col("e"), col("e")) -
          lit(2.0) * TextSim.dot(col("e"), col("cvec")) +
          TextSim.dot(col("cvec"), col("cvec")), 4))
      .select("vec_id", "label", "ood")
      .orderBy(col("ood").desc, col("vec_id"))
      .limit(20)
  }

  /** q_vec_silhouette — centroid-based (simplified) silhouette per
    * label: a(i) = distance to the OWN label centroid, b(i) = min
    * distance to any OTHER label's centroid, s(i) = (b−a)/max(a,b),
    * averaged per label — THE cluster-quality readout (is this
    * labeling/clustering geometrically coherent?) at the linear cost
    * the classic all-pairs silhouette (O(n²)) forbids at corpus scale.
    * Exactness stack: per-label centroids reuse q_vec_centroid's
    * decimal-sum/single-division parity; every distance expands to
    * dot(e,e) − 2·dot(e,c) + dot(c,c) over the SAME sequential fold
    * both engines (q_vec_ood's rule); a²/b² picks are selections over
    * engine-identical doubles; negatives from float cancellation clamp
    * at 0 identically before the √; each s rounds to 8 dp and
    * accumulates as decimal(20,8), so the per-label MEAN is
    * partition-order-independent. Scale: the k·dim centroid table is
    * index metadata (broadcast); the corpus sees ONE pass scoring k
    * dots per row — no per-dimension float groupBy, no pair join. */
  private val vecSilhouette: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    val per = emb.crossJoin(broadcast(
        centroids(emb, col("label").as("clab"))))
      .withColumn("e", col("embedding").cast("array<double>"))
      .withColumn("d2",
        TextSim.dot(col("e"), col("e")) -
          lit(2.0) * TextSim.dot(col("e"), col("cvec")) +
          TextSim.dot(col("cvec"), col("cvec")))
      .groupBy("vec_id", "label")
      .agg(max(when(col("label") === col("clab"), col("d2"))).as("a2"),
        min(when(col("label") =!= col("clab"), col("d2"))).as("b2"))
      .withColumn("a", sqrt(greatest(col("a2"), lit(0.0))))
      .withColumn("b", sqrt(greatest(col("b2"), lit(0.0))))
      .withColumn("sil", round(try_divide(col("b") - col("a"),
        greatest(col("a"), col("b"))), 8).cast("decimal(20,8)"))
    per.groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(expr("CAST(sum(sil) AS DOUBLE)") / count(col("sil")), 4)
          .as("mean_sil"))
      .orderBy("label")
  }

  /** q_vec_drift — embedding-distribution drift between two corpus
    * slices (vec_id parity as the deterministic stand-in for
    * "yesterday's batch vs today's"): per slice, the mean L2 norm and
    * the mean cosine to the GLOBAL centroid — the encoder-drift
    * monitor a feature store runs per ingest (a norm shift means the
    * encoder or preprocessing changed; a centroid-cosine shift means
    * the CONTENT moved — different pages). Exactness stack: global
    * centroid via the decimal-sum parity; norms and cosines via the
    * sequential dot fold (the vec_ood rule); each per-row statistic
    * rounds to 6 dp and accumulates as decimal(20,6), so the slice
    * means are partition-order-free (the logloss discipline). One
    * corpus pass after a k·dim broadcast. */
  private val vecDrift: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    emb.crossJoin(broadcast(centroids(emb)))
      .withColumn("e", col("embedding").cast("array<double>"))
      .withColumn("nrm", round(TextSim.l2Norm(col("e")), 6)
        .cast("decimal(20,6)"))
      .withColumn("cos", round(TextSim.cosine(col("e"), col("cvec")), 6)
        .cast("decimal(20,6)"))
      .groupBy((col("vec_id") % 2).as("slice"))
      .agg(count(lit(1)).as("n"),
        round(expr("CAST(sum(nrm) AS DOUBLE)") / count(col("nrm")), 4)
          .as("mean_norm"),
        round(expr("CAST(sum(cos) AS DOUBLE)") / count(col("cos")), 4)
          .as("mean_centroid_cos"))
      .orderBy("slice")
  }

  /** q_text_winnowing — MOSS-style winnowing fingerprints (Schleimer
    * et al. 2003): hash every 3-gram, slide a window of 4 hashes, keep
    * each window's MINIMUM — the guarantee is that any shared run of
    * ≥ window+gram−1 tokens between two docs shares at least one
    * selected fingerprint, at ~1/window the fingerprint density of
    * all-grams indexing. The plagiarism/near-dup detector's index:
    * the readout is the top-20 doc pairs by shared fingerprints.
    * Determinism: gram strings are the established tokenization
    * ([[TextSim.shingles]] ≡ the decon_ngram oracle slices), hashes
    * the sha-13-hex→BIGINT arithmetic (shared literals) — no seeded
    * RNG anywhere. Scale: fingerprints shared by > 50 docs are
    * dropped before the pair join (the hub-removal semantic from
    * q_graph_common_neighbors — a boilerplate gram in every doc
    * would quadratically flood the join and carries no pair signal);
    * the surviving join is the MinHash banding shape. */
  private val textWinnowing: Q = (s, dir) => {
    // Shape note (measured, sf0.1): the tempting shuffle-free form —
    // array HOFs doing the hash + winnow per row — is O(n²): Spark's
    // CollapseProject inlines the sha-transform column into the
    // per-window array_min(slice(...)) lambda, so every window
    // re-hashes its grams (234 s vs 2.6 s). The explode+window form
    // below pays one exchange on doc_id but stays LINEAR, and the
    // fingerprint set is localCheckpoint'd because both readers (the
    // hub-cut aggregate and the kept-join) would replay the sha
    // pipeline otherwise.
    val grams = Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        posexplode(TextSim.shingles(col("text"), 3)).as(Seq("i", "gram")))
      .withColumn("h",
        sha256_prefix(col("gram"), 13))
    val w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
    val fps = grams
      .withColumn("mh", min("h").over(w))
      .withColumn("wn", count(lit(1)).over(w))
      .filter(col("wn") === 4)
      .select("doc_id", "mh").distinct()
      .localCheckpoint()
    val rare = fps.groupBy("mh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") <= 50).select("mh")
    val kept = fps.join(rare, "mh")
    val a = kept.select(col("doc_id").as("id_a"), col("mh"))
    val b = kept.select(col("doc_id").as("id_b"), col("mh"))
    a.join(b, Seq("mh")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** q_vec_lsh_balance — index-health profile of the sign-LSH layout:
    * bucket occupancy histogram over the [[TextSim.lshBuckets]]
    * tables (4 tables × 6 bits, the q_vec_ann_lsh configuration) —
    * total buckets touched, min/max/mean occupancy, and the skew
    * factor max/mean. THE ops readout for any hash-partitioned ANN
    * index: a hot bucket is a hot partition (one straggler task
    * scores most of the corpus), and the fix — more bits, or
    * rebalancing the plane seed — is decided from exactly this
    * profile before queries degrade. Q-tier: the bucket ids come
    * from the seeded hyperplane kernel, which has no DuckDB twin;
    * LshBalanceSpec pins the invariants (entries = N·tables, bucket
    * ids well-formed, skew ≥ 1, rerun-stable). One explode + two
    * tiny aggregates; the corpus shuffles once on bucket id —
    * identical to the index build it profiles. */
  private[graft] def vecLshBalanceRaw(s: SparkSession, dir: String)
      : DataFrame = {
    val occ = Tables.load(s, dir, "embeddings")
      .select(explode(TextSim.lshBuckets(col("embedding"), 4, 6))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("occ"))
    occ.agg(count(lit(1)).as("n_buckets"),
      sum("occ").as("total_entries"),
      min("occ").as("min_occ"),
      max("occ").as("max_occ"),
      round(sum("occ").cast("double") / count(lit(1)), 4).as("mean_occ"),
      round(max("occ").cast("double") /
        (sum("occ").cast("double") / count(lit(1))), 4).as("skew"))
  }

  /** O-bound registration (r15): the seeded bucket ids have no DuckDB
    * twin, but CONSERVATION does — every vector lands in exactly one
    * bucket per table, so total_entries = 4·N is an exact anchor the
    * oracle recomputes from `embeddings`; the LshBalanceSpec histogram
    * invariants (bucket count in range, occupancies ≥ 1 with
    * min ≤ mean ≤ max, max/mean skew ≥ 1) ride as TRUE-asserted
    * verdicts. Raw histogram stays spec-checked via
    * [[vecLshBalanceRaw]]. */
  private val vecLshBalance: Q = (s, dir) =>
    vecLshBalanceRaw(s, dir)
      .select(col("total_entries").cast("long").as("total_entries"),
        (col("n_buckets") >= 1L &&
          col("n_buckets") <= col("total_entries")).as("n_buckets_ok"),
        (col("min_occ") >= 1L && col("mean_occ") >= col("min_occ") &&
          col("mean_occ") <= col("max_occ")).as("occupancy_ok"),
        (col("skew") >= 1.0).as("skew_ok"))

  /** q_vec_matryoshka — dimension-truncation quality eval: for the
    * vec_id=0 probe, the top-10 cosine neighbor sets under the FULL
    * 64-dim embedding vs truncated 32- and 16-dim prefixes, reported
    * as overlap counts and set-Jaccard per truncation — the
    * measurement behind Matryoshka-style cost cuts ("can we store a
    * quarter of the vector and keep the neighbors?"): storage drops
    * linearly, this query prices the recall you pay. Determinism:
    * every similarity is the established sequential-fold cosine
    * rounded to 4 dp with vec_id tie-break, the truncation is an
    * array slice (identical in both engines), and the overlap readout
    * is integer set arithmetic on the three deterministic top-10
    * sets. Three scans of the embedding table (one per dim), each the
    * brute-force shape any §2.M index can replace. */
  private val vecMatryoshka: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    def topIds(dims: Int): DataFrame = {
      val sliced =
        if (dims >= 64) emb.select(col("vec_id"), col("embedding").as("v"))
        else emb.select(col("vec_id"),
          slice(col("embedding"), 1, dims).as("v"))
      val probe = sliced.filter(col("vec_id") === 0)
        .select(col("v").as("pv"))
      sliced.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .withColumn("sim", round(TextSim.cosine(col("v"), col("pv")), 4))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"))
    }
    val full = topIds(64).withColumn("in_full", lit(1))
    def overlapRow(dims: Int): DataFrame =
      topIds(dims).join(full, Seq("vec_id"), "inner")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(dims).as("dims"), col("n_overlap"),
          round(col("n_overlap").cast("double") /
            (lit(20) - col("n_overlap")), 4).as("set_jaccard"))
    overlapRow(16).unionAll(overlapRow(32))
      .unionAll(overlapRow(64))
      .orderBy("dims")
  }

  /** q_vec_dedup_sweep — dedup-threshold calibration curve: exact
    * near-dup pair counts and affected-doc rates at cosine ≥
    * {0.90, 0.95, 0.98, 0.99} over the vec_id%4 slice — the tuning
    * readout that decides where a corpus dedup draws its line (too
    * low deletes paraphrases, too high keeps mirror copies; this
    * query shows the knee). ONE pair materialization at the loosest
    * threshold ([[TextSim.cosineDedupBlockedExact]] — exact, the
    * replicated-block join, localCheckpoint'd), then every tighter
    * threshold is a filter over that small pair set — never a scan
    * per threshold. Sims are the established rounded fold; zero-pair
    * thresholds survive via the left join from the threshold dim.
    * Oracle runs the quadratic join over the same slice — same
    * answer, different algorithm (the q_join_spatial discipline). */
  private val vecDedupSweep: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") % 4 === 0)
    val pairs = TextSim.cosineDedupBlockedExact(emb, 0.90)
      .localCheckpoint()
    val nTot = emb.agg(count(lit(1)).as("n_vec"))
    import s.implicits._
    val thr = Seq(0.90, 0.95, 0.98, 0.99).toDF("threshold")
    val hits = pairs.crossJoin(broadcast(thr))
      .filter(col("sim") >= col("threshold"))
    val np = hits.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nd = hits
      .select(col("threshold"), explode(array(col("id_a"), col("id_b")))
        .as("id"))
      .groupBy("threshold")
      .agg(countDistinct(col("id")).as("n_dup_docs"))
    thr.join(np, Seq("threshold"), "left")
      .join(nd, Seq("threshold"), "left")
      .crossJoin(broadcast(nTot))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs"), lit(0L)).cast("double") /
          col("n_vec"), 4).as("dup_doc_rate"))
      .orderBy("threshold")
  }

  /** q_samp_importance — importance-weighted acceptance sampling over
    * the document corpus: each doc keeps with probability
    * w = min(1, n_chars/1000) — the "keep the substantive docs,
    * thin the stubs" curation downsample (rate proportional to a
    * quality proxy instead of uniform). The draw is the q_sample_hash
    * family's derandomized uniform — u = sha256(doc_id:imp) scaled by
    * 2⁻⁵² (the q_agg_bootstrap arithmetic, salt ':imp' so membership
    * is independent of the split/reservoir hashes) — so the sample is
    * rerun- and reshuffle-stable and BOTH engines draw identical
    * verdicts per row. Readout per language audits the bias the
    * weighting introduces: keep rate and mean chars before/after
    * (integer sums, one division each). Pure per-row expressions; the
    * only shuffle is the audit aggregate. */
  private val sampImportance: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("w",
        least(lit(1.0), col("n_chars").cast("double") / lit(1000.0)))
      .withColumn("u",
        sha256_prefix(concat(col("doc_id").cast("string"), lit(":imp")), 13)
          .cast("double") / lit(4503599627370496.0)) // 16^13 = 2^52
      .withColumn("keep", (col("u") < col("w")).cast("int"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("keep").as("n_kept"),
        round(sum("keep").cast("double") / count(lit(1)), 4)
          .as("keep_rate"),
        round(sum("n_chars").cast("double") / count(lit(1)), 4)
          .as("mean_chars_all"),
        round(try_divide(
          sum(col("n_chars") * col("keep")).cast("double"),
          sum("keep")), 4).as("mean_chars_kept"))
      .orderBy(col("lang").asc_nulls_first)

  /** q_samp_reservoir — fixed-SIZE deterministic uniform sample per
    * stratum (40 docs per language): rank every doc by
    * sha256(doc_id) and keep the N smallest ranks per stratum — the
    * distributed, rerun-stable stand-in for reservoir sampling.
    * q_sample_hash carves fixed-RATE splits; eval sets, review queues,
    * and per-class caps need a fixed COUNT, which a rate cannot give
    * (strata sizes differ and drift). Hash-rank selection keeps
    * reservoir sampling's uniformity (the N smallest of n iid-uniform
    * hash ranks are a uniform n-choose-N subset) but none of its
    * sequential state: membership is a pure function of (doc_id,
    * stratum, N) — stable under reruns and repartitioning, and a
    * SQL-expressible oracle (true reservoir RNG is not). Shape: one
    * shuffle keyed on the stratum; `row_number() <= N` runs as the
    * WindowGroupLimit kernel (partial per-partition top-N map-side,
    * never a full stratum sort), so a billion-doc stratum costs its
    * partitions a streaming rank and ships N rows. */
  private val sampReservoir: Q = (s, dir) =>
    Relational.topKPerGroup(
        Tables.load(s, dir, "documents")
          .withColumn("hk", sha2(col("doc_id").cast("string"), 256)),
        Seq(col("lang")), Seq(col("hk"), col("doc_id")), 40,
        rankCol = "rk")
      .select(col("lang"), col("doc_id"), col("n_chars"),
        col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")

  /** q_text_feature_hash — the hashing trick
    * ([[Curation.featureHash]]): tokens map to a fixed 64-bucket
    * feature space via the q_sample_hash sha-bucket arithmetic — the
    * bag-of-words featurizer that needs NO vocabulary build, so a new
    * document featurizes identically whether the corpus holds 1 row or
    * 10¹². Long-format (doc_id, bucket, n) output. */
  private val textFeatureHash: Q = (s, dir) =>
    Curation.featureHash(Tables.load(s, dir, "documents"),
        idCol = "doc_id", textCol = "text", buckets = 64)
      .orderBy("doc_id", "bucket")

  /** q_text_scrub — PII redaction (the pre-training scrub pass: emails
    * and phone numbers → placeholder tokens before anything ships to a
    * training corpus). Contact strings are synthesized deterministically
    * from doc columns (the corpus is word-salad; same pattern as the
    * hours parser, [[HoursQueries.withHoursStr]]), then scrubbed with
    * regexes kept inside the Java∩RE2 portable subset so the DuckDB
    * oracle runs the identical patterns. Pure per-row codegen'd
    * expressions — embarrassingly parallel at any scale. */
  private val textScrub: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("raw",
        concat(lit("reach user"), col("doc_id"), lit("@"), col("source"),
          lit(".org or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" re: "), substring(col("text"), 1, 40)))
      .withColumn("scrubbed",
        regexp_replace(
          regexp_replace(col("raw"),
            "[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]", "<EMAIL>"),
          "\\+1-555-[0-9]{4}", "<PHONE>"))
      .withColumn("n_emails",
        size(expr("regexp_extract_all(raw, '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]', 0)"))
          .cast("long"))
      .withColumn("n_phones",
        size(expr("regexp_extract_all(raw, '\\\\+1-555-[0-9]{4}', 0)"))
          .cast("long"))
      .select("doc_id", "scrubbed", "n_emails", "n_phones")
      .orderBy("doc_id")

  /** q_text_urls — URL decomposition via Spark's native `parse_url`
    * (host/path/query + single-parameter extraction) — the
    * domain-filtering step of web-corpus curation (blocklists and
    * quality priors key on the registrable host, not the full URL).
    * URLs are synthesized deterministically from doc columns; the DuckDB
    * oracle decomposes with equivalent anchored regexes. Per-row
    * expression pipeline, no shuffle before the output sort. */
  private val textUrls: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("lang"), lit("/"), col("doc_id"),
          lit("?ref="), col("lang"), lit("&p="), col("doc_id") % 7))
      .select(col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY")).as("query"),
        parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref"))
      .orderBy("doc_id")

  /** q_text_blocklist — banned-term scan: flag every document matching
    * any of a blocklist's terms and report WHICH terms hit — the
    * toxicity/brand-safety filter every training-data curation
    * pipeline runs (the hash-equality complement of
    * q_text_decontaminate: that removes KNOWN documents, this removes
    * documents CONTAINING known content). The list compiles to one
    * alternation regex evaluated per row by codegen'd
    * `regexp_extract_all` — no tokenize+join, no shuffle of the
    * corpus, embarrassingly parallel at any corpus size (a blocklist
    * too large for one regex graduates to the q_text_decontaminate
    * broadcast-join shape). Matched terms are de-duplicated, sorted,
    * and pipe-joined (the q_agg_collect protocol). The pattern stays
    * in the Java∩RE2 portable subset so DuckDB runs it verbatim. */
  private val textBlocklist: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("hits",
        expr("regexp_extract_all(text, '\\\\b(slow|error|dup|spam)\\\\b', 0)"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        array_join(array_sort(array_distinct(col("hits"))), "|")
          .as("terms_s"),
        size(col("hits")).cast("long").as("n_hits"))
      .orderBy("doc_id")

  /** q_vec_recon_error — int8 dequantization error audit: quantize
    * ([[Curation.quantizeInt8]]'s codegen'd kernel), reconstruct
    * code/scale, and report each vector's max absolute error plus its
    * saturated-code count — the fidelity check a pipeline runs before
    * committing to a compressed index (recall loss hides here). All
    * metrics are per-element maxima/counts — order-independent, so
    * both engines compute bit-identical doubles and the 6-dp round is
    * cosmetic (no summation-order tolerance needed, unlike an MSE).
    * Pure per-row expression work, no shuffle before the output
    * sort. */
  private val vecReconError: Q = (s, dir) => {
    val q = org.apache.spark.sql.graftfns.QuantFunctions
      .quantize_int8(col("embedding").cast("array<double>"))
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), q.as("q"))
      .select(col("vec_id"),
        round(array_max(zip_with(col("v"), col("q.codes"),
          (x, c) => abs(x - c.cast("double") / col("q.scale")))), 6)
          .as("max_abs_err"),
        size(filter(col("q.codes"), c => abs(c) === 127)).cast("long")
          .as("n_saturated"),
        size(col("v")).cast("long").as("n_dims"))
      .orderBy("vec_id")
  }

  /** q_text_url_canon — URL canonicalization + dedup count: crawl
    * frontiers key on the CANONICAL form of a URL (case-folded scheme
    * and host, tracking parameters stripped, fragment dropped) so the
    * same page fetched via N tracking-decorated links counts once —
    * the navigational sibling of q_text_dedup_exact (that keys on
    * content, this on location). Messy URLs are synthesized
    * deterministically from doc columns (the q_text_urls protocol:
    * mixed-case scheme/host, utm_* noise, a fragment on every 4th);
    * canonicalization is component re-assembly via three anchored
    * `regexp_extract`s — host (case-folded), path, and the one
    * semantic parameter — all in the Java∩RE2 portable subset, pure
    * per-row codegen'd work. The canonical-key count is a standard
    * two-phase aggregate; no shuffle carries raw text. */
  private val textUrlCanon: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("url",
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://"))
            .otherwise(lit("https://")),
          when(col("doc_id") % 3 === 0, upper(col("source")))
            .otherwise(col("source")),
          lit(".example.com/read/"), col("doc_id") % 40,
          lit("?utm_source=feed&id="), col("doc_id") % 5,
          lit("&utm_campaign=x"),
          when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit(""))))
      .withColumn("canonical",
        concat(lit("https://"),
          lower(regexp_extract(col("url"), "(?i)^https://([^/]+)", 1)),
          regexp_extract(col("url"), "^[^?#]*//[^/]+([^?#]*)", 1),
          lit("?id="),
          regexp_extract(col("url"), "[?&]id=([0-9]+)", 1)))
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_variants"),
        min("doc_id").as("first_doc"))
      .orderBy("canonical")

  /** q_text_zipf — rank-frequency (Zipf) profile of the corpus
    * vocabulary: top-50 terms by frequency with their corpus share and
    * cumulative share — the head-of-distribution readout behind
    * stopword lists, tokenizer vocab sizing, and corpus drift checks
    * (a head share that jumps ⇒ boilerplate flooded the crawl).
    * Tokenization is the q_text_tfidf protocol (lowercase,
    * space-split). Shape: two-phase term count (the only scan-sized
    * shuffle, carrying the distinct vocabulary), `orderBy.limit(50)`
    * heap cut — TakeOrderedAndProject, never a full vocabulary sort
    * (the q_text_cooccur discipline) — then rank/share windows over
    * the 50 survivors with a broadcast 1-row total. (freq DESC, term)
    * is total, so the cut and ranks match the oracle exactly. */
  private val textZipf: Q = (s, dir) => {
    val counts = Tables.load(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val total = counts.agg(sum("freq").as("tot"))
    val top = counts.orderBy(col("freq").desc, col("term")).limit(50)
    val wRank = Window.orderBy(col("freq").desc, col("term"))
    top.crossJoin(broadcast(total))
      .select(
        row_number().over(wRank).cast("long").as("rank"),
        col("term"), col("freq"),
        round(col("freq") / col("tot"), 4).as("share"),
        round(sum("freq").over(wRank.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)) / col("tot"), 4)
          .as("cum_share"))
      .orderBy("rank")
  }

  /** q_text_tok_fertility — tokenizer fertility planning profile per
    * source: characters-per-token and bytes-per-token (corpus ratios)
    * plus the p50/p90 of the per-doc chars/token ratio — the numbers a
    * tokenizer budget is set from (fertility × token budget = context
    * chars; a source whose fertility is 2× the fleet's blows the
    * packing estimate q_text_pack made), and the cross-encoding sanity
    * check (bytes ≫ chars flags non-ASCII-heavy shards). Whitespace
    * token convention (q_text_pack's); per-doc ratios are 4-dp
    * pre-rounded decimals held as exact 1e-4-unit longs; corpus
    * ratios divide two exact longs once. Exactness (§7.5.21 — the
    * r18 tri-SF sweep caught a one-ulp p50 row in the double
    * `percentile` chain): each percentile at 0-based position
    * K·(n−1)/10 (K = 5 for p50, 9 for p90) reads its two bracketing
    * order statistics off a per-source rank window and interpolates
    * as the exact integer numK = (10−rK)·lo + rK·hi over the common
    * denominator 10; the 4-dp readout is (numK + 5) DIV 10 — all
    * int64, one terminal units/1e4 double both engines share. Shape:
    * one narrow scan → per-source rank window → per-source rollup;
    * the per-source window sort replaces the old `percentile`
    * buffer (same per-source grain, documented approx swap at
    * 100 TB). */
  private val textTokFertility: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .select(col("source"),
        length(col("text")).cast("long").as("chars"),
        octet_length(col("text")).cast("long").as("bytes"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      // split never yields an empty array (split("", " ") = [""]), so
      // toks ≥ 1 and every ratio is ANSI-safe
      .withColumn("ratio_i",
        (round(col("chars").cast("double") / col("toks"), 4)
          .cast("decimal(14,4)") * 10000).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("ratio_i")))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("source")))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("chars").as("sc"), sum("bytes").as("sb"),
        sum("toks").as("st"),
        max(expr("CASE WHEN rn = (5 * (n-1)) DIV 10 + 1" +
          " THEN ratio_i END")).as("lo5"),
        max(expr("CASE WHEN rn = (5 * (n-1)) DIV 10 + 2" +
          " THEN ratio_i END")).as("hi5"),
        max(expr("CASE WHEN rn = (9 * (n-1)) DIV 10 + 1" +
          " THEN ratio_i END")).as("lo9"),
        max(expr("CASE WHEN rn = (9 * (n-1)) DIV 10 + 2" +
          " THEN ratio_i END")).as("hi9"))
      .select(col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("st").cast("long").as("n_tokens"),
        round(col("sc").cast("double") / col("st"), 4)
          .as("chars_per_token"),
        round(col("sb").cast("double") / col("st"), 4)
          .as("bytes_per_token"),
        // hiK is NULL only when rK = 0 — coalesce keeps 0·NULL from
        // nulling the numerator (the cadence device)
        (expr("""((10 - (5 * (n_docs-1)) % 10) * lo5
                 + ((5 * (n_docs-1)) % 10) * coalesce(hi5, 0L) + 5)
                DIV 10""").cast("double") / 1e4).as("p50_fertility"),
        (expr("""((10 - (9 * (n_docs-1)) % 10) * lo9
                 + ((9 * (n_docs-1)) % 10) * coalesce(hi9, 0L) + 5)
                DIV 10""").cast("double") / 1e4).as("p90_fertility"))
      .orderBy(col("source").asc_nulls_first)
  }

  /** q_text_vocab_coverage — cumulative token coverage of the top-K
    * vocabulary (K = 10/100/1000): what share of the corpus token
    * stream the K most frequent terms cover — the Heaps/Zipf planning
    * number behind every vocabulary-size decision (a 32k-entry
    * tokenizer is sized by exactly this curve) and the
    * domain-shift tripwire (coverage at fixed K dropping between
    * snapshots means new vocabulary arriving). q_text_zipf shows the
    * top-50 ranks; THIS integrates the curve at the decision points.
    * The vocabulary is corpus-grain (Heaps' law — it GROWS), so the
    * rank over (freq DESC, term) runs as a DISTRIBUTED global row
    * numbering (which also counts the vocabulary), never a
    * single-partition window; coverage = conditional integer sums /
    * total, three shared divisions. */
  private val textVocabCoverage: Q = (s, dir) => {
    val counts = Tables.load(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val (ranked, vocab) = Relational.globalRowNumberWithCount(
      counts, Seq(col("freq").desc, col("term")), "rnk")
    ranked.agg(sum("freq").as("tokens"),
        sum(when(col("rnk") <= 10, col("freq"))).as("c10"),
        sum(when(col("rnk") <= 100, col("freq"))).as("c100"),
        sum(when(col("rnk") <= 1000, col("freq"))).as("c1000"))
      .select(lit(vocab).as("vocab"),
        col("tokens").cast("long").as("tokens"),
        round(col("c10").cast("double") / col("tokens"), 4)
          .as("cov_top10"),
        round(col("c100").cast("double") / col("tokens"), 4)
          .as("cov_top100"),
        round(col("c1000").cast("double") / col("tokens"), 4)
          .as("cov_top1000"))
  }

  /** q_text_pack — sequence-packing manifest: documents concatenate in
    * a deterministic (source, doc_id) order and chunk into fixed
    * 256-token training sequences; each doc is assigned to the
    * sequence its STARTING OFFSET falls in, and the manifest reports
    * per-sequence doc count, token load, and id span — the batch-prep
    * step between a curated corpus and a pretraining dataloader
    * (token-level materialization then just replays this index; a
    * boundary-straddling doc spills its tail into the next window,
    * which is why per-sequence token load may exceed 256 — the
    * packing-efficiency readout IS the point). The running offset is a
    * window KEYED BY SOURCE — prefix sums stay per-shard (a single
    * global order would serialize at 100 TB; per-source is how real
    * packers shard). Token counts are the q_text_tokens whitespace
    * convention; all arithmetic is integer-exact on both engines. */
  private val textPack: Q = (s, dir) => {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("seq_id",
        floor((sum("n_tok").over(w) - col("n_tok")) / lit(256))
          .cast("long"))
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("long").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "seq_id")
  }

  /** q_vec_normalize — L2 vector normalization (the prep step every
    * cosine-space operator assumes: unit vectors make cosine = dot, so
    * ANN/dedup pipelines normalize once at ingest and never re-divide).
    * Per-row, no shuffle; the sum of squares is the codegen'd
    * [[TextSim.dot]](v, v) — the `aggregate` fold it replaced is
    * CodegenFallback (interpreted lambda per element) and both loops
    * sum left-to-right, so the value (and the DuckDB `list_sum` oracle)
    * is unchanged. */
  private val vecNormalize: Q = (s, dir) => {
    def v = col("embedding").cast("array<double>")
    def sumsq = TextSim.dot(v, v)
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        round(sqrt(sumsq), 4).as("norm"),
        // try_divide: a zero vector would otherwise ANSI-abort the
        // scan; NULL c0 matches DuckDB's x/0 on the oracle side
        // + 0.0: signed-zero normalization (§7.5.20; a −ulp first
        // component rounds to −0.0 in one engine and +0.0 in the other)
        (round(try_divide(element_at(v, 1), sqrt(sumsq)), 4)
          + lit(0.0)).as("c0"),
        size(v).cast("long").as("dim"))
      .orderBy("vec_id")
  }

  /** q_text_chunk — sliding-window token chunking
    * ([[Curation.chunkTokens]]): 32-token windows every 24 tokens, the
    * context-window prep step of a training corpus. O-tier: the start
    * grid, slice and sha256 are mirrored exactly in the DuckDB oracle. */
  private val textChunk: Q = (s, dir) =>
    Curation.chunkTokens(Tables.load(s, dir, "documents"),
        "doc_id", "text", window = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")

  /** q_vec_quantize — int8 symmetric embedding quantization
    * ([[Curation.quantizeInt8]]): the 4× compression step before ANN.
    * Codes are bit-deterministic (floor-based half-up on doubles). The
    * codes array is serialized `concat_ws("|", ...)` for the driver's
    * row hasher (the q_agg_collect protocol — pandas cannot sort raw
    * array cells); downstream consumers use [[Curation.quantizeInt8]]
    * directly and keep the typed array. */
  private val vecQuantize: Q = (s, dir) =>
    Curation.quantizeInt8(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding")
      .select(col("vec_id"),
        concat_ws("|", col("codes").cast("array<string>")).as("codes_s"),
        col("scale_r"))
      .orderBy("vec_id")

  /** q_text_cooccur — corpus-level bigram (token co-occurrence) counts,
    * global top-100: the co-occurrence statistic under embedding
    * training and collocation mining. Bigrams reuse [[TextSim.shingles]]
    * (per-row generator, short docs yield the empty set), counts are a
    * two-phase hash aggregate whose shuffle carries one row per DISTINCT
    * bigram, and the global top-k plans as TakeOrderedAndProject — per
    * partition a k-row heap, never a full sort. Tie rule (n desc, pair
    * asc) is total, so the cut is deterministic on both engines.
    * Bigram construction is the codegen'd
    * [[org.apache.spark.sql.graftfns.TokenBigrams]] (the shingles(·, 2)
    * HOF formulation is CodegenFallback — an interpreted lambda + slice
    * allocation per bigram; equivalence is spec-pinned), and the scan is
    * lifted to session parallelism first — at bench SFs documents is a
    * single split (identity at real scale; the q_udtf_hours_explode
    * lesson). */
  private val textCooccur: Q = (s, dir) =>
    Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(explode(org.apache.spark.sql.graftfns.QuantFunctions
        .token_bigrams(TextSim.tokens(col("text")))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(100)

  /** q_vec_centroid — per-cluster centroid of the embedding corpus
    * ([[Curation.clusterCentroids]]: the k-means M-step / pooling
    * primitive), cluster = vec_id % 8 so assignment is deterministic.
    * Long-format output (8·dim rows) — driver-protocol-clean and the
    * shape downstream matrix ops consume; exact decimal sums make the
    * mean independent of partition order, and the one IEEE division
    * afterwards is bit-identical across engines. */
  private val vecCentroid: Q = (s, dir) =>
    Curation.clusterCentroids(Tables.load(s, dir, "embeddings"),
        clusterCol = col("vec_id") % 8, vecCol = "embedding")
      .orderBy("cluster", "pos")

  /** q_text_decontaminate — benchmark-decontamination anti-join
    * ([[Curation.decontaminate]]): drop every training document whose
    * CONTENT fingerprint appears in a held-out eval set (here the
    * deterministic doc_id % 97 == 0 slice stands in for the benchmark
    * corpus). Output is the kept corpus's per-language counts to keep
    * the result driver-hashable at any SF. */
  private val textDecontaminate: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    Curation.decontaminate(docs, "text",
        evalDocs = docs.filter(col("doc_id") % 97 === 0),
        evalTextCol = "text")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("lang")
  }

  /** q_text_decon_ngram — n-gram-collision decontamination
    * ([[graft.ops.Curation.decontaminateNgrams]]): the span-level
    * companion to q_text_decontaminate's whole-document sha match —
    * flags a corpus doc when any of its word n-grams appears in the
    * eval slice's inventory (partial contamination: a pasted eval
    * question inside an otherwise-original page). n = 3 here:
    * production pipelines use 8-13-gram windows, but the fixture docs
    * are 10-99 synthetic tokens and n = 3 is the smallest n that
    * leaves the gate discriminating on them (171 of 494 docs collide
    * at sf0.01; n = 5 flags one, n = 8 none) — the operator is
    * n-parametric, the fixture picks the testable point. */
  private val textDeconNgram: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    // parallelized: the small-SF parquet is one input split, and the
    // corpus-side shingle explode is the CPU-bound stage — without the
    // lift it runs on a single core (r10 bench: 1.9 s vs the ~0.8 s
    // cost family; at scale the scan already yields enough splits and
    // this is the identity)
    graft.ops.Curation.decontaminateNgrams(
        Tables.parallelized(docs.filter(col("doc_id") % 97 =!= 0)),
        "doc_id", "text",
        evalDocs = docs.filter(col("doc_id") % 97 === 0),
        evalTextCol = "text", n = 3)
      .orderBy("doc_id")
  }

  /** q_text_decon_bloom — Bloom-filter decontamination
    * ([[Curation.decontaminateBloom]]): the SCALE TWIN of
    * q_text_decontaminate for eval sets too large to broadcast raw —
    * same eval slice, same kept-corpus readout, membership tested
    * against a distributed-built Bloom filter instead of an anti-join.
    * Deterministic (fixed hash seeds, order-independent bit-OR build),
    * but the filter bytes have no DuckDB twin, so the registered
    * readout is the self-certifying BOUND form (the q_agg_approx
    * device): per language, the corpus size and the EXACT
    * sha-anti-join keep count as oracle anchors, plus the two
    * verdicts that define a Bloom filter — zero false negatives
    * (every sha-contaminated doc removed) and the false-positive
    * overshoot within 3·fpp slack. CurationSpec keeps the
    * determinism/value gates on the op itself. expectedN = 1<<16
    * bounds every test SF's eval slice; real deployments size it from
    * the eval corpus count (see the scaladoc). */
  private val textDeconBloom: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
    val evalSha = evalDocs
      .select(sha2(col("text"), 256).as("esha")).distinct()
    val keptBloom = Curation.decontaminateBloom(docs, "text",
      evalDocs = evalDocs, evalTextCol = "text",
      expectedN = 1L << 16, fpp = 0.01)
    val nAll = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val nExact = docs.withColumn("sha", sha2(col("text"), 256))
      .join(broadcast(evalSha), col("sha") === col("esha"), "left_anti")
      .groupBy("lang").agg(count(lit(1)).as("n_exact_kept"))
    val bloomStats = keptBloom
      .join(broadcast(evalSha), col("text_sha") === col("esha"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_bloom"),
        count(col("esha")).as("n_contam_survived"))
    nAll.join(nExact, Seq("lang"), "left")
      .join(bloomStats, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_exact_kept"), lit(0L)).as("n_exact_kept"),
        (coalesce(col("n_contam_survived"), lit(0L)) === 0)
          .as("no_false_negatives"),
        // Bloom only ever REMOVES extra (FPs among the clean docs):
        // 0 ≤ exact_kept − bloom_kept ≤ 3·fpp·exact_kept + 2
        (coalesce(col("n_exact_kept"), lit(0L)) >=
          coalesce(col("n_bloom"), lit(0L)) &&
          (coalesce(col("n_exact_kept"), lit(0L)) -
            coalesce(col("n_bloom"), lit(0L))).cast("double") <=
            lit(3 * 0.01) *
              coalesce(col("n_exact_kept"), lit(0L)).cast("double") + 2.0)
          .as("fp_within_slack"))
      .orderBy("lang")
  }

  /** q_text_tfidf — per-document top-3 TF-IDF terms
    * ([[Curation.tfidfTopK]]): rational IDF keeps the ranking
    * bit-deterministic vs the oracle (no libm log in the sort key). */
  private val textTfidf: Q = (s, dir) =>
    Curation.tfidfTopK(Tables.load(s, dir, "documents"),
        "doc_id", "text", k = 3)
      .orderBy("doc_id", "rn")

  /** q_vec_ann_pq — product-quantized ANN
    * ([[graft.ops.ProductQuant.annCosinePq]]): 8×16 sample codebooks,
    * ADC shortlist of 50 from the 4-byte codes, exact top-10 rescore.
    * Q-tier (codebook geometry has no DuckDB parity); recall and
    * reconstruction gates in TextSimSpec. */
  private val annPq: Q = (s, dir) => {
    // O-bound (r15): single-probe recall@10 vs exact >= 0.4 (the
    // TextSimSpec cut-shortlist floor) asserted TRUE; census anchored.
    val emb = Tables.load(s, dir, "embeddings")
    annBoundReadout(emb,
      graft.ops.ProductQuant.annCosinePq(emb, "vec_id", "embedding",
        probeId = 0L, k = 10, shortlist = 50),
      lit(0L), col("neighbor_id"), col("vec_id") === 0L,
      k = 10, floor = 0.4)
  }

  /** q_vec_ann_ivfpq — the composed IVF+PQ index
    * ([[TextSim.annCosineIvfPq]]): coarse cells prune candidates, ADC
    * prunes per-candidate cost, exact rescore on the shortlist.
    * Q-tier (centroid/codebook geometry has no DuckDB parity);
    * full-coverage-≡-exact + recall gates in TextSimSpec. */
  private val annIvfPq: Q = (s, dir) => {
    // O-bound (r15): single-probe recall@10 vs exact >= 0.4 asserted
    // TRUE; census anchored; the TopCells+AdcScore codegen path is
    // still driven end-to-end (TextSimSpec CODEGEN_ONLY gate).
    val emb = Tables.load(s, dir, "embeddings")
    annBoundReadout(emb,
      TextSim.annCosineIvfPq(emb, probeId = 0L, k = 10, shortlist = 50),
      lit(0L), col("neighbor_id"), col("vec_id") === 0L,
      k = 10, floor = 0.4)
  }

  /** q_sample_stratified — deterministic stratified downsampling over
    * `events`: per-stratum keep fractions (purchases kept whole, views
    * cut to 10%, the rest to 50% — the class-rebalancing step of a
    * training pipeline) via the same sha-bucket arithmetic as
    * [[sampleHash]], so membership is a pure function of (event_id,
    * stratum): reruns, repartitions and corpus growth never resample a
    * row (`sampleBy`'s RNG guarantees none of these). Per-row
    * expression, no shuffle before the aggregate. */
  private val sampleStratified: Q = (s, dir) => {
    val bucket =
      sha256_prefix(col("event_id").cast("string"), 7) % 100
    val keepPct = when(col("event_type") === "purchase", 100)
      .when(col("event_type") === "view", 10)
      .otherwise(50)
    Tables.load(s, dir, "events")
      .withColumn("bucket", bucket)
      .filter(col("bucket") < keepPct)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  /** q_samp_temperature — temperature-based language rebalancing: each
    * language keeps a deterministic `(n_min/n_i)^0.5` fraction of its
    * docs (α = 0.5 temperature flattening toward the smallest
    * language) — the multilingual mixing step of every pretraining
    * corpus (the XLM-R recipe): head languages downsample toward
    * balance, the smallest keeps 100%. Membership is the
    * q_sample_hash sha-bucket rule, so it is a pure function of
    * doc_id — reruns, repartitions, and corpus growth in OTHER
    * languages never resample a doc whose own language count is
    * unchanged. Engine parity of the float rate: n_min/n_i is ONE
    * IEEE division and `sqrt` is correctly rounded (§7.5.10) — both
    * engines floor the identical double into the integer bucket
    * threshold. Shape: one k-row language-count aggregate, broadcast
    * back; the corpus streams past a per-row hash compare — no corpus
    * shuffle before the audit rollup. */
  private val sampTemperature: Q = (s, dir) => {
    val counts = Tables.load(s, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min("n_docs").as("n_min"))))
      // n_docs ≥ 1 by construction (it counts the group's own rows)
      .withColumn("rate",
        sqrt(col("n_min").cast("double") / col("n_docs")))
      .withColumn("thresh", floor(col("rate") * 1e6).cast("long"))
    Tables.load(s, dir, "documents")
      .withColumn("bucket",
        sha256_prefix(col("doc_id").cast("string"), 7) % 1000000)
      .join(broadcast(rates), Seq("lang"))
      .groupBy("lang")
      .agg(max("n_docs").as("n_docs"),
        count(when(col("bucket") < col("thresh"), lit(1))).as("n_kept"),
        round(max("rate"), 4).as("rate"))
      .orderBy("lang")
  }

  /** q_samp_negative — deterministic hash-ring negative sampling for
    * contrastive training: each anchor takes as negatives the first 5
    * DIFFERENT-LABEL vectors among the next 20 positions on a sha-hash
    * ring — the "random but reproducible" negative set every
    * embedding-training pipeline needs (an RNG draw changes under
    * reruns/repartitions; ring neighbors are a pure function of the id
    * set). Ring order is (sha-bucket, vec_id) — total, so the window
    * is deterministic; hash placement makes ring neighbors
    * label-agnostic, i.e. uniform negatives. Shape: the ring
    * range-partitions with a 20-row boundary overlap per partition
    * ([[graft.ops.PrefixSweep.lookaheadFrame]] — the tail-of-partition
    * rows read their neighbors from the overlap), so the bounded
    * 20-row lookahead frame (collect over the frame, filter in-row)
    * runs as an ordinary PARTITIONED window — bit-identical to the
    * single-sort result, no corpus-wide single-partition sort, no
    * self-join, no RNG. Tail-of-ring anchors can yield < 5
    * (documented; wrap-around would double-read the head). */
  private val sampNegative: Q = (s, dir) => {
    val ringed = Tables.load(s, dir, "embeddings")
      .withColumn("ring",
        sha256_prefix(col("vec_id").cast("string"), 7))
    graft.ops.PrefixSweep.lookaheadFrame(
        ringed, Seq("ring", "vec_id"), 20) { w =>
      Seq("cands" -> collect_list(
        struct(col("label").as("lab"), col("vec_id").as("vid"))).over(w))
    }
      .withColumn("negs",
        expr("slice(filter(cands, c -> c.lab != label), 1, 5)"))
      .select(col("vec_id"), col("label"),
        posexplode(col("negs")).as(Seq("p", "neg")))
      .select(col("vec_id"), col("label"),
        (col("p") + 1).as("neg_rank"),
        col("neg.vid").as("neg_id"), col("neg.lab").as("neg_label"))
      .orderBy("vec_id", "neg_rank")
  }

  /** q_text_keyness — Dunning log-likelihood (G²) keyword extraction:
    * which terms are most over/under-represented in the English slice
    * vs the rest of the corpus — the corpus-linguistics keyness test,
    * and in a training pipeline the domain-shift detector between two
    * corpus slices (tfidf ranks terms WITHIN a doc; keyness ranks them
    * BETWEEN corpora). G² = 2(a·ln(a/Eₐ) + b·ln(b/E_b)) per term from
    * the 2×2 contingency of (term, slice) token counts, with the
    * zero-count limit 0·ln0 = 0 closed by an identical CASE both
    * engines. Shape: one two-phase (term, slice) count — the shuffle
    * carries the vocabulary, not the token stream — then a 1-row
    * totals broadcast and per-term closed-form arithmetic; ln appears
    * only inside the 4-dp-ROUNDED sort key, whose (g2 desc, term)
    * order is therefore deterministic (§7.5.10). */
  private val textKeyness: Q = (s, dir) => {
    val tc = Tables.load(s, dir, "documents")
      .select(when(col("lang") === "en", 1).otherwise(0).as("tgt"),
        explode(TextSim.tokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(sum("tgt").as("a"), sum(lit(1) - col("tgt")).as("b"))
    val tot = tc.agg(sum("a").as("ta"), sum("b").as("tb"))
    tc.crossJoin(broadcast(tot))
      .withColumn("ea", (col("a") + col("b")).cast("double") *
        col("ta") / (col("ta") + col("tb")))
      .withColumn("eb", (col("a") + col("b")).cast("double") *
        col("tb") / (col("ta") + col("tb")))
      .withColumn("g2", round(lit(2.0) * (
        when(col("a") > 0, col("a") * log(col("a") / col("ea")))
          .otherwise(0.0) +
        when(col("b") > 0, col("b") * log(col("b") / col("eb")))
          .otherwise(0.0)), 4))
      .withColumn("enriched",
        when(col("a").cast("double") * col("tb") >
          col("b").cast("double") * col("ta"), 1).otherwise(0))
      .select(col("term"), col("a").cast("long").as("n_target"),
        col("b").cast("long").as("n_rest"), col("g2"), col("enriched"))
      .orderBy(col("g2").desc, col("term"))
      .limit(20)
  }

  /** q_samp_balanced — exact class-balanced downsampling: every
    * language keeps precisely quota = min(class size) docs, selected as
    * the quota smallest sha-buckets within the class — the
    * equal-representation cut an eval-set builder makes (temperature
    * rebalancing flattens proportions; THIS equalizes them outright,
    * and returns the kept rows, not just an audit). Determinism: the
    * ordering key is (sha-bucket(doc_id), doc_id) — a pure function of
    * the row, so reruns and repartitions keep the identical sample;
    * doc_id breaks bucket collisions so row_number is total. Scale: the
    * quota is a 1-row broadcast; the per-class ranking is one window
    * sort partitioned BY CLASS (each class sorts independently —
    * corpus-wide parallelism is the number of classes × the partial
    * sort; a billion-doc class would swap row_number for a two-pass
    * bucket-threshold count, the q_samp_temperature shape, at the cost
    * of exactness in the quota). */
  private val sampBalanced: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
      .withColumn("bucket",
        sha256_prefix(col("doc_id").cast("string"), 7))
    val quota = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(min("n").as("quota"))
    val w = Window.partitionBy("lang")
      .orderBy(col("bucket"), col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(quota))
      .filter(col("rn") <= col("quota"))
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy("lang", "rn")
  }

  /** q_text_code_detect — code-vs-prose classification per source:
    * symbol-character density ({}();=<>[] runs), digit density, and
    * mean token length vote a per-doc is_code flag, rolled up per
    * source — the curation router (code belongs in a code corpus
    * with code dedup/quality rules; prose pipelines that ingest
    * source files learn to emit braces — the classifier is cheap,
    * the mistake is not). On this fixture no doc is code — the op
    * proves the NEGATIVE path (a router that never fires on prose is
    * half its spec; the zh-confusion precedent). One regex pass per
    * signal, integers until the rounded ratios; per-source means via
    * 6-dp decimal terms (the distributed-mean rule). */
  private val textCodeDetect: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .withColumn("n_chars_t", length(col("text")).cast("long"))
      .withColumn("n_sym",
        size(expr("regexp_extract_all(text, '[{}();=<>\\\\[\\\\]]', 0)"))
          .cast("long"))
      .withColumn("n_dig",
        size(expr("regexp_extract_all(text, '[0-9]', 0)")).cast("long"))
      .withColumn("sym_ratio", round(col("n_sym").cast("double") /
        greatest(col("n_chars_t"), lit(1L)), 6).cast("decimal(16,6)"))
      .withColumn("dig_ratio", round(col("n_dig").cast("double") /
        greatest(col("n_chars_t"), lit(1L)), 6).cast("decimal(16,6)"))
      .withColumn("is_code",
        when(col("sym_ratio") > 0.02 || col("dig_ratio") > 0.15, 1)
          .otherwise(0))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("is_code").as("n_code"),
        round(expr("CAST(sum(sym_ratio) AS DOUBLE)") / count(lit(1)), 4)
          .as("mean_sym_ratio"),
        round(expr("CAST(sum(dig_ratio) AS DOUBLE)") / count(lit(1)), 4)
          .as("mean_dig_ratio"))
      .orderBy("source")
  }

  /** q_text_template — templated-content detection per source: the
    * share of a source's docs that open with its single most common
    * 5-token prefix — the boilerplate/template signal (scraped mirrors
    * and generated spam share openings; a source whose top prefix
    * covers half its docs is a template farm, and dedup alone won't
    * catch it because the BODIES differ). Shape: prefix is a per-row
    * expression; one (source, prefix) two-phase count, then a
    * per-source argmax via row_number on the deterministic
    * (count desc, prefix) order; integers + one share division.
    * Scale: the shuffle carries distinct prefixes per source, not
    * docs. */
  private val textTemplate: Q = (s, dir) => {
    val pref = Tables.load(s, dir, "documents")
      .withColumn("prefix",
        array_join(slice(TextSim.tokens(col("text")), 1, 5), " "))
    val counts = pref.groupBy("source", "prefix")
      .agg(count(lit(1)).as("cnt"))
    val tot = pref.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    counts
      .withColumn("rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("cnt").desc, col("prefix"))))
      .withColumn("n_prefixes",
        count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("rn") === 1)
      .join(broadcast(tot), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_prefixes"),
        col("prefix").as("top_prefix"), col("cnt").as("top_n"),
        round(col("cnt").cast("double") / col("n_docs"), 4)
          .as("template_share"))
      .orderBy("source")
  }

  /** q_samp_decay — time-decay sampling over the event stream: keep
    * probability exp(−age/30d) enforced by the q_sample_hash sha
    * bucket against a per-age threshold — the recency-weighted
    * downsampling a training pipeline applies so last week outweighs
    * last year WITHOUT a hard cutoff (q_etl_resample changes grain;
    * this changes DENSITY). Membership is a pure function of
    * (event_id, age): reruns and repartitions never resample a row,
    * and as the corpus end advances a row's keep-probability decays
    * monotonically. Parity note: `exp` is libm (±1 ulp cross-engine)
    * and here it DECIDES membership via floor(1e6·exp(·)) — a flip
    * needs an exp value within 1 ulp of the 1e-6 grid over ≤ age-span
    * distinct inputs, which is vanishingly unlikely but documented
    * (the sqrt-based q_samp_temperature threshold is exempt: sqrt is
    * correctly rounded, exp is not). Shape: 1-row max-date broadcast;
    * the corpus streams past a per-row hash compare; audit rolls up
    * by age-week. */
  private val sampDecay: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
    ev.crossJoin(broadcast(ev.agg(to_date(max("ts")).as("maxd"))))
      .withColumn("age", datediff(col("maxd"), to_date(col("ts"))))
      .withColumn("thresh",
        floor(exp(col("age").cast("double") / lit(-30.0)) * 1e6)
          .cast("long"))
      .withColumn("bucket",
        sha256_prefix(col("event_id").cast("string"), 7) % 1000000)
      .groupBy(floor(col("age") / lit(7)).cast("long").as("wk_age"))
      .agg(count(lit(1)).as("n"),
        count(when(col("bucket") < col("thresh"), 1)).as("n_kept"),
        round(count(when(col("bucket") < col("thresh"), 1))
          .cast("double") / count(lit(1)), 4).as("keep_rate"))
      .orderBy("wk_age")
  }

  /** q_text_ngram_lm — unigram language-model quality score: corpus
    * term frequencies define p(term) = freq/total, and each doc scores
    * its per-token cross-entropy −Σ ln p(t) / n_tok (nats) — the
    * CCNet-style "how typical of the corpus is this document" filter
    * (low = stopword-heavy/boilerplate, high = rare-token noise;
    * curation cuts both tails). The in-domain formulation (docs score
    * against the corpus they belong to) is the standard first pass
    * when no external LM exists. Shape: two-phase term count (the
    * vocabulary shuffle), then the token stream joins the frequency
    * table ON TERM — co-partitioned by the join key, never broadcast
    * (a 100 TB corpus's vocabulary outgrows broadcast) — and reduces
    * per doc. Float discipline: ln is libm (±1 ulp across engines) but
    * appears only in the 4-dp-rounded OUTPUT, never a sort key
    * (§7.5.10); the per-doc sum is ≤ tokens-per-doc terms. */
  private val textNgramLm: Q = (s, dir) => {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(TextSim.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("term").agg(count(lit(1)).as("freq"))
    // total ≥ 1 whenever any token exists; docs with zero tokens have
    // no rows here and drop out identically on both engines
    val total = tf.agg(sum("freq").cast("double").as("tot"))
    toks.join(tf, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        round(-sum(log(col("freq").cast("double") / col("tot"))) /
          count(lit(1)), 4).as("xent"))
      .orderBy("doc_id")
  }

  /** q_text_boilerplate — cross-document repeated-shingle audit: per
    * source, how many distinct word shingles exist, how many are
    * "boilerplate" (shared by ≥ 2 docs AND ≥ 30% of the source's
    * docs), and the widest single shingle's doc share — the signal
    * behind template/navigation-chrome removal in crawled corpora
    * (a source whose shingles concentrate is serving one page skin).
    * Shingle size is 2 here because the synthetic fixture's small
    * vocabulary only exhibits cross-doc repetition at bigram
    * granularity; real crawls run the same plan at n = 8+. The 30%
    * threshold is integer cross-multiplied (doc_cnt·10 ≥ n_docs·3) —
    * no float boundary. Shape: per-doc DISTINCT shingles explode →
    * two-phase (source, shingle) doc-frequency count (the only
    * corpus-sized shuffle) → k-row source rollup with the doc-count
    * table broadcast back. Bigram construction is the codegen'd
    * [[org.apache.spark.sql.graftfns.TokenBigrams]] (the shingles(·, 2)
    * HOF is CodegenFallback — an interpreted lambda + slice allocation
    * per bigram; equivalence spec-pinned in CurationSpec), and the
    * corpus-side explode is lifted to session parallelism — at bench
    * SFs the documents parquet is ONE input split, so the CPU-bound
    * explode otherwise runs on a single core of 32 (the r10 slope-gate
    * breach: 22.4× across the 10× sf step; identity at real scale). */
  private val textBoilerplate: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val shingleDf = Tables.parallelized(docs)
      .select(col("source"), col("doc_id"),
        explode(array_distinct(org.apache.spark.sql.graftfns.QuantFunctions
          .token_bigrams(TextSim.tokens(col("text")))))
          .as("shingle"))
      .groupBy("source", "shingle").agg(count(lit(1)).as("doc_cnt"))
    shingleDf.join(broadcast(nDocs), Seq("source"))
      .groupBy("source")
      .agg(max("n_docs").as("n_docs"),
        count(lit(1)).as("n_shingles"),
        count(when(col("doc_cnt") >= 2 &&
          col("doc_cnt") * 10 >= col("n_docs") * 3, lit(1))).as("n_boiler"),
        round(max("doc_cnt").cast("double") / max("n_docs"), 4)
          .as("max_share"))
      .orderBy("source")
  }

  /** q_vec_dimstats — per-dimension moments of the embedding corpus
    * (count, mean, stddev, min, max): the normalization-stats pass every
    * feature pipeline runs before whitening/standardizing vectors, and
    * the drift monitor run per ingest batch after (a dimension whose
    * mean walks is a changed upstream encoder). posexplode pivots the
    * corpus from row-major to dimension-major; the aggregate is keyed
    * by dimension index — at 100 TB the shuffle carries partial moment
    * states per (partition, dim), i.e. n_partitions·dim rows, not the
    * corpus (two-phase aggregation does the reduction map-side). Float
    * discipline: float32 inputs widen exactly to double before any
    * arithmetic; min/max are order-free and exact; mean/stddev carry
    * summation-order drift ~1e-13 against round-4 output (the
    * q_vec_centroid precedent, §7.5.10). */
  private val vecDimstats: Q = (s, dir) => {
    Tables.load(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        // + 0.0: signed-zero normalization (§7.5.20, sf0.1 class)
        (round(avg("v"), 4) + lit(0.0)).as("mean"),
        round(stddev_samp(col("v")), 4).as("sd"),
        min("v").as("vmin"),
        max("v").as("vmax"))
      .orderBy("dim")
  }

  /** q_text_source_overlap — pairwise cross-source contamination audit:
    * for every source pair, how many distinct bigram shingles they
    * share and the Jaccard of their shingle vocabularies — the
    * "is source B a mirror/subset of source A" check run before
    * weighting sources in a corpus mix (a crawl that re-ingested a
    * dump shows up as an outlier pair here long before doc-level
    * dedup finds the copies). Shape: per-source distinct shingle sets
    * via one (source, shingle) DISTINCT (the only corpus-sized
    * shuffle, co-keyed for the self-join that follows); the self-join
    * is an equijoin ON SHINGLE — each shingle contributes at most
    * k²/2 pair rows for k sources, so the blowup is bounded by the
    * DOMAIN, not the corpus; per-source vocabulary sizes ride back on
    * a broadcast k-row table. All-pairs completeness: the k×k pair
    * frame comes from the counts table crossed with itself (k² rows,
    * driver-free), left-joined to observed intersections so disjoint
    * pairs report 0, not absence. Integer counts + one round-4
    * division. Same codegen'd-bigram + parallelized-scan lift as
    * q_text_boilerplate (the small-SF one-split explode otherwise pins
    * the CPU-bound stage to one core; identity at real scale). The
    * distinct (source, shingle) set is persist()'d: it feeds THREE
    * consumers (the per-source counts and both sides of the self-join),
    * and without the cache each consumer re-runs the corpus explode +
    * distinct shuffle — a tripled corpus pass that ReuseExchange only
    * sometimes collapses (the q_agg_countmin lesson). The cache holds
    * the operator's working set (distinct shingles, already the
    * self-join input — never the token stream) and spills to disk
    * beyond memory. */
  private val textSourceOverlap: Q = (s, dir) => {
    val sh = Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(col("source"),
        explode(array_distinct(org.apache.spark.sql.graftfns.QuantFunctions
          .token_bigrams(TextSim.tokens(col("text")))))
          .as("shingle"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("source").as("src_a"), col("shingle"))
      .join(sh.select(col("source").as("src_b"), col("shingle")), "shingle")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    broadcast(counts.select(col("source").as("src_a"), col("n_sh").as("n_a")))
      .crossJoin(broadcast(
        counts.select(col("source").as("src_b"), col("n_sh").as("n_b"))))
      .filter(col("src_a") < col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4))
      .select("src_a", "src_b", "n_a", "n_b", "n_common", "jaccard")
      .orderBy("src_a", "src_b")
  }

  /** q_text_dedup_spans — cross-document duplicated 5-gram spans: the
    * span-level readout of exact substring dedup (the "same boilerplate
    * sentence pasted into thousands of pages" detector that doc-level
    * hashing can't see). Every 5-gram occurrence is kept (no per-doc
    * array_distinct): `n_occ` counts repetitions, `n_docs` the distinct
    * documents — a span is reported when it crosses ≥ 2 docs. Hot path
    * is the codegen'd [[org.apache.spark.sql.graftfns.TokenNgrams]]
    * kernel over a `Tables.parallelized` scan (the q_text_boilerplate
    * precedent: interpreted HOF slices on a one-split scan were the
    * repo's worst superlinearity); the only corpus-sized shuffle
    * carries (gram, doc) pairs into one two-phase distinct-count
    * aggregate, and the top-100 cut is rank-stable (n_docs, n_occ,
    * gram). At 100 TB the gram space is pruned the same way
    * decontamination does it: the HAVING ≥2 filter drops the long
    * unique tail at the aggregate, never materializing it. */
  private val textDedupSpans: Q = (s, dir) => {
    import org.apache.spark.sql.graftfns.QuantFunctions.token_ngrams
    Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        explode(token_ngrams(TextSim.tokens(col("text")), 5)).as("gram"))
      .groupBy("gram")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
      .limit(100)
  }

  /** q_text_soft_dedup — soft deduplication readout: instead of
    * DROPPING duplicate docs (q_text_dedup_exact's keep-one), each doc
    * is down-WEIGHTED to 1/n_copies of its content fingerprint, so a
    * page mirrored 1000× contributes one doc's worth of training mass
    * while still covering all its sources — the softer curation choice
    * when duplicates carry distribution signal (per-source effective
    * size is the readout that decides mixture weights). Fingerprint =
    * q_text_fingerprint's normalized sha (same parity base); the copy
    * count contracts per fingerprint, joins back keyed on the
    * fingerprint, and the per-source rollup sums 1/n — each weight is
    * a single exact division, the sums round-4 over ≤ corpus/sources
    * terms. */
  private val textSoftDedup: Q = (s, dir) => {
    val fp = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        sha2(regexp_replace(trim(lower(col("text"))), "\\s+", " "), 256)
          .as("fp"))
    val copies = fp.groupBy("fp").agg(count(lit(1)).as("n_copies"))
    fp.join(copies, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("fp").as("n_unique_fp"),
        round(sum(lit(1.0) / col("n_copies")), 4).as("effective_docs"))
      .orderBy("source")
  }

  /** q_text_dup_rate — per-document span-duplication rate: the DOC-level
    * consumption of q_text_dedup_spans' gram-level evidence — for each
    * doc, the fraction of its 5-gram occurrences that also appear in
    * another document, plus the keep/drop verdict at the 0.5 threshold
    * (the "mostly boilerplate" cut real curation pipelines apply after
    * exact dedup and before model-based filters). The corpus explodes
    * exactly ONCE (codegen'd
    * [[org.apache.spark.sql.graftfns.TokenNgrams]]): one two-phase
    * aggregate contracts it to (gram, doc, occurrences), doc frequency
    * is then a window COUNT over that CONTRACTED table (one row per
    * distinct (gram, doc) — no self-join, no second explode: the naive
    * gram→doc-freq join shape re-ran the corpus explode because the
    * two consumers' exchanges differ and ReuseExchange can't fire;
    * local timings tie at sf0.1 — the window's sort of the contracted
    * table costs about what the saved explode cost — but at corpus
    * scale re-reading + re-exploding 100 TB loses to sorting the
    * far-smaller distinct (gram, doc) table), and the per-doc rollup
    * is a third contraction. */
  private val textDupRate: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftfns.QuantFunctions.token_ngrams
    val grams = Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        explode(token_ngrams(TextSim.tokens(col("text")), 5)).as("gram"))
    grams.groupBy("gram", "doc_id").agg(count(lit(1)).as("occ"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("gram")))
      .groupBy("doc_id")
      .agg(sum("occ").as("n_grams"),
        sum(when(col("nd") >= 2, col("occ")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"),
        col("n_grams").cast("long").as("n_grams"),
        col("n_dup").cast("long").as("n_dup"),
        round(col("n_dup") / col("n_grams"), 4).as("dup_frac"),
        (col("n_dup") / col("n_grams") > 0.5).as("drop_doc"))
      .orderBy("doc_id")
  }

  /** q_vec_rproj — Johnson-Lindenstrauss random projection 64 → 16
    * dims: the dimensionality-reduction pass a 100 TB embedding
    * pipeline runs before storage/ANN when the encoder's width is
    * larger than retrieval needs — pairwise distances are preserved in
    * expectation (Rademacher ±1/√k entries: E‖Px−Py‖² = ‖x−y‖², the
    * distribution-free JL construction), so downstream cosine/L2
    * consumers keep working on 4× fewer bytes. The projection matrix is
    * a pure function of a fixed seed — REGENERABLE, never stored or
    * shuffled, identical on every executor and every rerun — and rides
    * into the plan as k literal rows consumed by the codegen'd
    * [[org.apache.spark.sql.graftfns.DotProduct]] kernel: one narrow
    * map, no shuffle, no UDF.
    *
    * O-bound registration (r15): the JL distance-preservation claim,
    * self-certified over the first-60-vector pair grid — the exact
    * ORIGINAL squared distances are DuckDB-recomputable (index-order
    * fold, the vec_normalize parity device), so the non-degenerate
    * pair census anchors bit-for-bit, and the TextSimSpec gates (mean
    * ratio within 0.15 of 1; >90% of pairs inside the loose JL
    * envelope) become verdict booleans the oracle asserts TRUE. */
  private val vecRproj: Q = (s, dir) => {
    val proj = TextSim.jlMatrix(seed = 42, k = 16, d = 64)
    val v = col("embedding").cast("array<double>")
    val projected = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") < 60)
      .select(col("vec_id"),
        array(proj.map(row => org.apache.spark.sql.graftfns
          .VectorFunctions.dot_product(v, typedLit(row.toSeq))): _*)
          .as("pv"),
        v.as("ov"))
      .localCheckpoint()
    val a = projected.select(col("vec_id").as("id_a"),
      col("pv").as("pa"), col("ov").as("oa"))
    val b = projected.select(col("vec_id").as("id_b"),
      col("pv").as("pb"), col("ov").as("ob"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .withColumn("d2o", aggregate(zip_with(col("oa"), col("ob"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
      .withColumn("d2p", aggregate(zip_with(col("pa"), col("pb"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
      .filter(col("d2o") > 1e-12)
      .withColumn("ratio", col("d2p") / col("d2o"))
    pairs.agg(count(lit(1)).cast("long").as("n_pairs"),
      (abs(avg("ratio") - 1.0) < 0.15).as("mean_ratio_ok"),
      ((sum(when(col("ratio") > 0.4 && col("ratio") < 1.9, 1.0)
        .otherwise(0.0)) / count(lit(1))) > 0.9).as("envelope_share_ok"))
  }

  /** q_text_compress_ratio — per-document DEFLATE compression ratio,
    * the repetitiveness signal the n-gram dup-rate family can't see
    * (self-paraphrase and rotating-token boilerplate compress far
    * better than natural prose with zero verbatim n-gram repeats; the
    * Gopher-class quality rules filter on exactly this). Kernel:
    * [[graft.ops.Curation.deflateStats]] — one native Deflater per
    * partition, `reset()` per row, scan → narrow map, no shuffle; the
    * docs scan is `Tables.parallelized`-lifted so the CPU-bound kernel
    * runs session-wide (the boilerplate lesson, SCALE.md §Round-11).
    * Fixture ratios span 0.39-1.13 (median 0.50); 0.42 flags the
    * repetitive low tail. Q-tier: deflate LENGTH is deterministic per
    * zlib build but not across builds, so the gates are ratio-band +
    * ordering properties (CurationSpec), not a cross-engine hash. */
  private[graft] def textCompressRatioRaw(s: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.parallelized(Tables.load(s, dir, "documents"))
    graft.ops.Curation.deflateStats(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_bytes"), col("comp_bytes"),
        round(col("comp_bytes") / col("n_bytes"), 4).as("ratio"),
        (col("comp_bytes") / col("n_bytes") < 0.42).as("flag_repetitive"))
      .orderBy("doc_id")
  }

  /** O-bound registration (r15): deflate LENGTH is zlib-build-local,
    * but the UTF-8 byte census is exact (DuckDB `strlen`) and the
    * honest ratio band (0.2, 1.3) — the CurationSpec gate — is a
    * verdict boolean per doc the oracle asserts TRUE (empty docs pass
    * by convention: 0 input bytes has no meaningful ratio). Raw
    * ratios/flags stay spec-checked via [[textCompressRatioRaw]]. */
  private val textCompressRatio: Q = (s, dir) =>
    textCompressRatioRaw(s, dir)
      .select(col("doc_id"), col("n_bytes"),
        (col("n_bytes") === 0L ||
          (col("ratio") > 0.2 && col("ratio") < 1.3)).as("ratio_in_band"))
      .orderBy("doc_id")

  /** q_vec_pca — principal components via distributed Gram-matrix
    * contraction ([[graft.ops.Pca]]): the DATA-DRIVEN twin of
    * [[vecRproj]]'s oblivious projection — same 64 → 8 width
    * reduction, but the basis maximizes retained variance instead of
    * preserving distances in expectation, which is what a 100 TB
    * embedding store wants when it can afford one training pass
    * (storage tiering, drift dashboards, whitening before clustering).
    * The whole distributed cost is ONE aggregation whose state is
    * d + d(d+1)/2 doubles per partition (~17 KB at d=64) — the shuffle
    * carries partial moment buffers, never vectors — and the driver
    * eigensolves the 64×64 covariance (LAPACK via breeze, index
    * metadata scale). Scoring is a narrow map through the codegen'd
    * DotProduct kernel with the sign-pinned components as literals.
    * Q-tier: no DuckDB eigensolver; TextSimSpec gates the math (score
    * variances = top eigenvalues descending, components decorrelate,
    * PCA retains ≥ the best coordinate basis). */
  private[graft] def vecPcaScores(s: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val model = graft.ops.Pca.fit(emb, "embedding", d = 64, k = 8)
    val v = col("embedding").cast("array<double>")
    emb.select(Seq(col("vec_id"), col("label")) ++
      model.components.zipWithIndex.map { case (comp, i) =>
        val center = comp.zip(model.means).map { case (a, b) => a * b }.sum
        round(org.apache.spark.sql.graftfns.VectorFunctions
          .dot_product(v, typedLit(comp.toSeq)) - center, 4).as(s"pc$i")
      }: _*)
      .orderBy("vec_id")
  }

  /** O-bound registration (r15): no DuckDB eigensolver exists, but the
    * corpus census (n_vecs, max dim) anchors exactly and the defining
    * eigenspectrum properties — non-negative (covariance is PSD) and
    * descending eigenvalues — are verdicts computed from the fitted
    * model and asserted TRUE by the oracle. Score variances =
    * eigenvalues, decorrelation, and coordinate-basis optimality stay
    * spec-gated in TextSimSpec via [[vecPcaScores]]. */
  private val vecPca: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    val model = graft.ops.Pca.fit(emb, "embedding", d = 64, k = 8)
    val eig = model.eigvals
    val descending = eig.toSeq.sliding(2).forall(p =>
      p.size < 2 || p.head >= p(1) - 1e-9)
    val nonneg = eig.forall(_ >= -1e-9)
    emb.agg(count(lit(1)).cast("long").as("n_vecs"),
        max(size(col("embedding").cast("array<double>"))).cast("long")
          .as("dim"))
      .select(col("n_vecs"), col("dim"), lit(8L).as("k"),
        lit(descending).as("eigs_descending"),
        lit(nonneg).as("eigs_nonneg"))
  }

  /** q_vec_mips — exact maximum-inner-product top-5 per query (probes
    * vec_id < 3): the retrieval scoring for UNNORMALIZED embeddings
    * (recommender / reward-model scores), where magnitude carries
    * signal that q_vec_cosine_topk's normalization erases. Probes ride
    * as a 3-row broadcast; scoring is one pass of the codegen'd
    * [[org.apache.spark.sql.graftfns.DotProduct]] kernel; the per-query
    * top-5 is a rank-truncated window that Spark executes as
    * WindowGroupLimit (partial per-map top-k before the tiny shuffle).
    * The 100 TB path swaps the scan for the ANN rows (MIPS reduces to
    * cosine ANN by norm-augmentation: append √(M²−‖x‖²) to each vector,
    * 0 to queries); this operator is the exact scorer those rows
    * shortlist for. */
  private val vecMips: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        round(org.apache.spark.sql.graftfns.VectorFunctions.dot_product(
          col("q_emb").cast("array<double>"),
          col("embedding").cast("array<double>")), 4).as("ip_r"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("ip_r").desc, col("vec_id"))))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn").cast("long").as("rn"),
        col("vec_id"), col("label"), col("ip_r"))
      .orderBy("q_id", "rn")
  }

  /** q_text_hapax — vocabulary-concentration profile per source:
    * vocabulary size, hapax legomena count (terms seen exactly once)
    * and rate, token count, and type–token ratio — the corpus-health
    * readout that separates natural text (hapax rate ≈ 40–60%, Zipf's
    * long tail) from template/boilerplate farms (tiny vocabulary,
    * near-zero hapax) and from OCR/mojibake noise (hapax rate → 1).
    * The q_text_zipf tokenization convention (whitespace split of
    * lowercased text); the corpus contracts to (source, term) counts
    * in one explode+groupBy shuffle, and every statistic is a
    * vocabulary-sized re-aggregate — the 100 TB cost is the token
    * explode, identical to zipf/tfidf. Divisions are vocab ≥ 1 and
    * tokens ≥ 1 on any source that has a row (ANSI-safe by
    * construction). */
  private val textHapax: Q = (s, dir) => {
    val counts = Tables.load(s, dir, "documents")
      .select(col("source"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("source", "term").agg(count(lit(1)).as("freq"))
    counts.groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        count(when(col("freq") === 1, 1)).as("hapax"),
        sum("freq").as("tokens"))
      .select(col("source"),
        col("vocab").cast("long").as("vocab"),
        col("hapax").cast("long").as("hapax"),
        col("tokens").cast("long").as("tokens"),
        round(col("hapax").cast("double") / col("vocab"), 4)
          .as("hapax_rate"),
        round(col("vocab").cast("double") / col("tokens"), 4)
          .as("ttr"))
      .orderBy(col("source").asc_nulls_first)
  }

  /** q_text_pmi — pointwise-mutual-information collocations: the
    * top-50 adjacent token pairs by PMI = ln(p(ab)/(p(a)·p(b))) among
    * pairs seen ≥ 10 times — the collocation score q_text_cooccur's
    * raw counts can't give ("of the" tops counts; "machine learning"
    * tops PMI). Shares cooccur's bigram machinery (codegen'd
    * token_bigrams — no per-row lambda) plus the unigram count table;
    * both contractions are vocabulary-sized. Unigram counts join back
    * onto the ≥10 bigram survivors by term (co-keyed hash join, never
    * a cross product); PMI's argument is one double division chain
    * with identical structure in both engines and the single ln rounds
    * at 4 dp in the OUTPUT (the q_samp_decay taxonomy: libm is safe in
    * rounded outputs; nothing downstream sums it). c_a, c_b ≥ c_ab ≥
    * 10 makes every division ANSI-safe. The (pmi desc, pair) total
    * order pins the cut. */
  private val textPmi: Q = (s, dir) => {
    val toks = Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(TextSim.tokens(col("text")).as("w"))
      .localCheckpoint()
    val uni = toks.select(explode(col("w")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c_term"))
    val nTok = uni.agg(sum("c_term").as("n_tok"))
    val big = toks.select(explode(org.apache.spark.sql.graftfns
        .QuantFunctions.token_bigrams(col("w"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("c_ab"))
    val nPair = big.agg(sum("c_ab").as("n_pair"))
    big.filter(col("c_ab") >= 10)
      .withColumn("ta", split(col("pair"), " ").getItem(0))
      .withColumn("tb", split(col("pair"), " ").getItem(1))
      .join(uni.select(col("term").as("ta"), col("c_term").as("c_a")), "ta")
      .join(uni.select(col("term").as("tb"), col("c_term").as("c_b")), "tb")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .select(col("pair"), col("c_ab"), col("c_a"), col("c_b"),
        round(log((col("c_ab").cast("double") / col("n_pair")) /
          ((col("c_a").cast("double") / col("n_tok")) *
            (col("c_b").cast("double") / col("n_tok")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("pair"))
      .limit(50)
  }

  /** q_samp_group_split — GROUP-aware train/val/test split: the split
    * key is sha(source), not sha(doc_id), so every document of a
    * source lands in the SAME split — the leakage guard q_sample_hash
    * can't give (near-duplicate docs cluster within a source; an
    * item-level split puts one twin in train and the other in test,
    * and the eval leaks). The price is granularity: with few groups
    * the 80/10/10 target is only hit in expectation, and the readout
    * REPORTS the realized share per split — the honest number a
    * dataset card needs. Same sha-bucket determinism as q_sample_hash
    * (rerun/growth stable: adding docs to a source never moves the
    * source); one corpus contraction keyed by split. */
  private val sampGroupSplit: Q = (s, dir) => {
    val bucketed = Tables.load(s, dir, "documents")
      .withColumn("bucket",
        sha256_prefix(col("source"), 7) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
    val tot = bucketed.agg(count(lit(1)).as("n_total"))
    bucketed.groupBy("split")
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("decimal(38,0)")).cast("long")
          .as("n_chars"))
      .crossJoin(broadcast(tot))
      .select(col("split"), col("n_sources").cast("long").as("n_sources"),
        col("n_docs").cast("long").as("n_docs"), col("n_chars"),
        round(col("n_docs").cast("double") / col("n_total"), 4)
          .as("doc_share"))
      .orderBy("split")
  }

  /** The bigram-LM score table of q_text_lm_score and q_pipe_curate
    * over a token pool (column `w`): per DISTINCT bigram `pair`, the
    * add-½-smoothed ln((c_b + ½) / (c_u(first token) + ½·V)) as an
    * 8-dp decimal `lp`, from vocabulary-sized unigram and bigram count
    * tables. r19: lp is a function of the PAIR alone, so the
    * ln/8-dp-round/split work happens once per distinct bigram — the
    * occurrence stream picks the finished decimal up through one join
    * (it used to evaluate round(log(...)) per occurrence: ~50× the
    * arithmetic for identical values; decimal sums are
    * order-independent, so slp is unchanged). LAZY checkpoint: the
    * caller's [[TextSim.gateBroadcast]] count() is the materializing
    * action (one job computes AND pins the table; the broadcast build
    * then reads blocks) — an eager pin would spend a separate job
    * first. */
  private def bigramLogProbs(pool: DataFrame): DataFrame = {
    val uni = pool.select(explode(col("w")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c_u"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    pool.select(explode(org.apache.spark.sql.graftfns.QuantFunctions
        .token_bigrams(col("w"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("c_b"))
      .withColumn("ta", split(col("pair"), " ").getItem(0))
      .join(uni.select(col("term").as("ta"), col("c_u")), "ta")
      .crossJoin(broadcast(vocab))
      .select(col("pair"), round(log((col("c_b") + lit(0.5)) /
        (col("c_u") + lit(0.5) * col("v"))), 8).cast("decimal(20,8)")
        .as("lp"))
      .localCheckpoint(false)
  }

  /** q_text_lm_score — CCNet-style bigram-LM quality scoring: train an
    * add-k-smoothed bigram model ON the corpus, score every document's
    * average token log-probability, and report the per-source score
    * distribution — the language-model perplexity filter every
    * pretraining-data pipeline runs (fluent prose scores high;
    * boilerplate, tag soup, and mojibake score low). Self-scoring on
    * the corpus is the standard in-domain form; scoring against an
    * external LM swaps the count tables, nothing else. Dataflow: the
    * bigram/unigram count tables are vocabulary-sized contractions
    * (cooccur's machinery); doc scoring re-explodes bigrams WITH
    * doc_id and equi-joins the count tables by key — corpus-scale
    * joins, but co-keyed, never cross. Float discipline: each
    * bigram's ln term is 8-dp-decimal pre-rounded (logloss rule), the
    * per-doc average divides once and re-rounds to a 4-dp decimal, so
    * the source-level mean/percentiles run on exact decimals. Docs
    * with < 2 tokens have no bigrams and drop out of scoring (join
    * semantics, identical both engines). */
  private val textLmScore: Q = (s, dir) => {
    val toks = Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("source"),
        TextSim.tokens(col("text")).as("w"))
      .localCheckpoint()
    val docBigrams = toks.select(col("doc_id"), col("source"),
      explode(org.apache.spark.sql.graftfns.QuantFunctions
        .token_bigrams(col("w"))).as("pair"))
    val scoreTab = bigramLogProbs(toks)
    // build side chosen EXPLICITLY, never the occurrence stream: left
    // unhinted, the planner's generate-side estimate is smaller and it
    // broadcasts the STREAM (BuildLeft over the explode — backwards at
    // any scale). But a BIGRAM vocabulary grows with the corpus
    // (Heaps' law — nothing like l_quantity's bounded 50 values), so
    // the broadcast hint is GATED on the measured table size (TextSim's
    // per-side-bound discipline, r19 verdict item 1): under
    // [[TextSim.lmBroadcastRows]] the model table ships to every worker
    // (the CCNet deployment shape); above it the pair-keyed
    // shuffle-hash join stands, building on the score-table side.
    val scored = docBigrams
      .join(TextSim.gateBroadcast(scoreTab), "pair")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bi"), sum("lp").as("slp"))
      .withColumn("doc_lp",
        round(col("slp").cast("double") / col("n_bi"), 4)
          .cast("decimal(14,4)"))
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        // explicit sum/count: DuckDB's avg() folds decimals as
        // DOUBLES (order-dependent); a decimal sum + one division is
        // exact on both engines
        sum(col("doc_lp")).as("sum_d"),
        expr("percentile(CAST(doc_lp AS DOUBLE), 0.1)").as("p10"),
        expr("percentile(CAST(doc_lp AS DOUBLE), 0.5)").as("p50"),
        expr("percentile(CAST(doc_lp AS DOUBLE), 0.9)").as("p90"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        round(col("sum_d").cast("double") / col("n_docs"), 4)
          .as("mean_logprob"),
        round(col("p10"), 4).as("p10_logprob"),
        round(col("p50"), 4).as("p50_logprob"),
        round(col("p90"), 4).as("p90_logprob"))
      .orderBy(col("source").asc_nulls_first)
  }

  /** q_pipe_curate — the curation battery composed as ONE fused
    * pipeline over `documents` (the round-16 showcase): language-ID
    * gate (predicted 'en', the q_text_langid argmax) → quality gate
    * (q_text_quality's length/punct rule) → bigram-LM score gate
    * (q_text_lm_score's CCNet-style smoothed logprob, trained on the
    * gated pool itself, threshold −3.41 compared in exact
    * DECIMAL(14,4)) → exact-hash dedup (q_text_dedup_exact's
    * min-doc_id canonical per sha) → eval-set decontamination
    * (q_text_decontaminate's sha anti-join against the doc_id % 97
    * held-out set) → sequence packing of the survivors
    * (q_text_pack's 256-token manifest). Proves the §2 curation
    * operators COMPOSE without per-stage materialization: the corpus
    * is tokenized, hashed, and stage-flagged in ONE pass (the single
    * shared localCheckpoint — lm_score's discipline; every downstream
    * stage is a flag predicate or a vocabulary/sha-keyed join on that
    * table) and nothing writes between stages. Readout = the
    * per-source funnel (survivor count after each stage, cumulative)
    * + the packed-manifest totals — all integers, exact both engines;
    * ln appears only inside the lm stage's 8-dp pre-rounded decimal
    * terms (§7.5.10). Scale: the flag pass is one corpus scan; the LM
    * tables shuffle the VOCABULARY, not the token stream; dedup/decon
    * are sha-keyed; packing is the per-source prefix window
    * (q_text_pack's shape). */
  private val pipeCurate: Q = (s, dir) => {
    import org.apache.spark.sql.graftfns.QuantFunctions.token_bigrams
    val base = Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("source"),
        sha2(col("text"), 256).as("text_sha"),
        TextSim.tokens(col("text")).as("w"),
        TextSim.punctCount(col("text")).as("n_punct"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("lang_ok", TextSim.langId(col("w")) === "en")
      .withColumn("qual_ok",
        col("lang_ok") && col("n_words") >= 5 &&
          col("n_words") <= 10000 && col("n_punct") * 4 < col("n_words"))
      .localCheckpoint()
    // LM gate: vocabulary-sized count tables over the quality pool
    val s1 = base.filter(col("qual_ok"))
    val lmScore = bigramLogProbs(s1)
    val docLp = s1
      .select(col("doc_id"), explode(token_bigrams(col("w"))).as("pair"))
      // build on the score table, never the occurrence stream (see
      // q_text_lm_score — unhinted, the planner builds on the explode);
      // the broadcast is size-gated because the bigram vocabulary grows
      // with the corpus — above the bound, shuffle-hash on the same side
      .join(TextSim.gateBroadcast(lmScore), "pair")
      .groupBy("doc_id")
      .agg(sum("lp").as("slp"), count(lit(1)).as("n_bi"))
      // every quality survivor has n_words ≥ 5 ⇒ n_bi ≥ 4: the
      // division is ANSI-safe and every s1 doc gets a score
      .withColumn("doc_lp",
        round(col("slp").cast("double") / col("n_bi"), 4)
          .cast("decimal(14,4)"))
      .select("doc_id", "doc_lp")
      // doc-grain score table (one row per quality survivor). Without
      // the checkpoint the whole LM chain (two vocabulary folds + the
      // bigram-occurrence explode/join/fold) re-executes once per
      // consumer of `full` and once more under canon — FOUR
      // instantiations in the r19 before-plan, zero exchange reuse.
      .localCheckpoint()
    val lmFlagged = base.join(docLp, Seq("doc_id"), "left")
      .withColumn("lm_ok", col("qual_ok") &&
        col("doc_lp") >= lit(new java.math.BigDecimal("-3.41")))
    // exact dedup among LM survivors: canonical = min doc_id per sha
    val canon = lmFlagged.filter(col("lm_ok"))
      .groupBy("text_sha").agg(min("doc_id").as("keep_id"))
    val evalShas = base.filter(col("doc_id") % 97 === 0)
      .select("text_sha").distinct().withColumn("__contam", lit(1))
    val full = lmFlagged
      .join(canon, Seq("text_sha"), "left")
      .withColumn("dedup_ok",
        col("lm_ok") && col("doc_id") === col("keep_id"))
      .join(broadcast(evalShas), Seq("text_sha"), "left")
      .withColumn("final_ok", col("dedup_ok") && col("__contam").isNull)
      // doc-grain flag table read by BOTH readouts (funnel + packing):
      // materialized once so neither re-runs the dedup/decon joins
      .localCheckpoint()
    val funnel = full.groupBy("source").agg(
      count(lit(1)).as("n_raw"),
      count(when(col("lang_ok"), 1)).as("n_lang"),
      count(when(col("qual_ok"), 1)).as("n_quality"),
      count(when(col("lm_ok"), 1)).as("n_lm"),
      count(when(col("dedup_ok"), 1)).as("n_dedup"),
      count(when(col("final_ok"), 1)).as("n_final"))
    val wSrc = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = full.filter(col("final_ok"))
      .select(col("source"), col("doc_id"), col("n_words").as("n_tok"))
      .withColumn("seq_id",
        floor((sum("n_tok").over(wSrc) - col("n_tok")) / 256))
      .groupBy("source")
      .agg(countDistinct("seq_id").as("n_seqs"),
        sum("n_tok").as("n_tokens"))
    funnel.join(packed, Seq("source"), "left")
      .select(col("source"),
        col("n_raw").cast("long").as("n_raw"),
        col("n_lang").cast("long").as("n_lang"),
        col("n_quality").cast("long").as("n_quality"),
        col("n_lm").cast("long").as("n_lm"),
        col("n_dedup").cast("long").as("n_dedup"),
        col("n_final").cast("long").as("n_final"),
        coalesce(col("n_seqs"), lit(0L)).cast("long").as("n_seqs"),
        coalesce(col("n_tokens"), lit(0L)).cast("long").as("n_tokens"))
      .orderBy(col("source").asc_nulls_first)
  }

  /** q_text_dedup_prefix — truncation dedup: documents sharing the
    * same 256-char PREFIX collapse to one group and the LONGEST copy
    * wins — the near-dup class exact-hash dedup misses entirely (a
    * truncated crawl re-fetch, a cut-off re-scrape, a snippet of a
    * full page share a prefix but not a sha), and MinHash only
    * catches when the truncation keeps most shingles. One sha
    * contraction on the prefix; keeper = max n_chars then min doc_id
    * (pinned total order). Reports only multi-doc groups — the dedup
    * worklist. */
  private val textDedupPrefix: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .withColumn("prefix_sha", sha2(substring(col("text"), 1, 256), 256))
    val wk = Window.partitionBy("prefix_sha")
      .orderBy(col("n_chars").desc, col("doc_id"))
    d.withColumn("rn", row_number().over(wk))
      .withColumn("n_dups",
        count(lit(1)).over(Window.partitionBy("prefix_sha")))
      .withColumn("min_chars",
        min("n_chars").over(Window.partitionBy("prefix_sha")))
      .filter(col("rn") === 1 && col("n_dups") > 1)
      .select(col("prefix_sha"), col("n_dups").cast("long").as("n_dups"),
        col("doc_id").as("kept_doc"),
        col("n_chars").cast("long").as("kept_chars"),
        col("min_chars").cast("long").as("min_chars"))
      .orderBy("prefix_sha")
  }

  /** q_text_dedup_suffix — truncation dedup from the OTHER end:
    * documents sharing a 256-char SUFFIX collapse, longest copy wins —
    * catches the head-varies class q_text_dedup_prefix misses
    * (re-scrapes with different injected headers/navigation but the
    * same article body, the mirror image of cut-off re-fetches); run
    * both and a doc surviving both screens is genuinely distinct at
    * both ends. Same one-sha-contraction shape and keeper order as
    * the prefix twin. */
  private val textDedupSuffix: Q = (s, dir) => {
    // run over the planted corpus (the q_text_minhash device): the
    // fixture has no NATURAL suffix duplicates, so the re-keyed
    // doc_id % 50 copies give the screen real work both engines
    // reconstruct arithmetically — originals win their groups via the
    // (n_chars DESC, doc_id) keeper order
    val docs = Tables.load(s, dir, "documents")
    val corpus = docs.select(col("doc_id"), col("text"), col("n_chars"))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          col("text"), col("n_chars")))
    val d = corpus
      .withColumn("suffix_sha", sha2(expr("right(text, 256)"), 256))
    val wk = Window.partitionBy("suffix_sha")
      .orderBy(col("n_chars").desc, col("doc_id"))
    d.withColumn("rn", row_number().over(wk))
      .withColumn("n_dups",
        count(lit(1)).over(Window.partitionBy("suffix_sha")))
      .withColumn("min_chars",
        min("n_chars").over(Window.partitionBy("suffix_sha")))
      .filter(col("rn") === 1 && col("n_dups") > 1)
      .select(col("suffix_sha"), col("n_dups").cast("long").as("n_dups"),
        col("doc_id").as("kept_doc"),
        col("n_chars").cast("long").as("kept_chars"),
        col("min_chars").cast("long").as("min_chars"))
      .orderBy("suffix_sha")
  }

  /** q_text_burstiness — per-term burstiness of the top-20 corpus
    * terms: mean and variance of occurrences per CONTAINING document —
    * the content-vs-function-word separator under keyword extraction
    * (a function word like "the" spreads evenly, variance ≈ mean; a
    * topical term clumps — a few docs use it many times — variance ≫
    * mean), and the statistical basis of Church–Gale adaptation
    * weights. One explode+groupBy contraction to (doc, term) counts
    * (the zipf tokenization convention), a vocabulary-sized rollup
    * with exact decimal Σc/Σc², and the global top-20 cut on the
    * pinned (total DESC, term) order. */
  private val textBurstiness: Q = (s, dir) => {
    val tc = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val tot = tc.groupBy("term")
      .agg(sum("c").as("total"), count(lit(1)).as("n_docs"),
        sum(col("c").cast("decimal(38,0)")).as("s1"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
    val nd = col("n_docs").cast("double")
    val mean = col("s1").cast("double") / col("n_docs")
    val vr = (col("s2").cast("double") - nd * mean * mean) /
      nullif(nd - 1, lit(0.0))
    tot.orderBy(col("total").desc, col("term")).limit(20)
      .select(col("term"), col("total").cast("long").as("total"),
        col("n_docs").cast("long").as("n_docs"),
        round(mean, 4).as("mean_per_doc"),
        round(vr, 4).as("var_per_doc"),
        round(vr / mean, 4).as("burstiness"))
      .orderBy(col("total").desc, col("term"))
  }

  /** q_text_ngram_novelty — per-document 3-gram novelty against
    * everything EARLIER in the corpus (doc_id = ingestion order): the
    * share of a doc's distinct grams it is the FIRST to introduce —
    * the memorization/staleness curve of a growing corpus (novelty
    * drifting toward 0 means new ingestion is re-crawling what you
    * have — the incremental twin of q_text_dup_rate's within-corpus
    * duplication; dedup asks "seen verbatim?", this asks "is anything
    * here NEW?"). Shape: the corpus explodes distinct grams ONCE and
    * splits into two aggregates — per-doc gram counts (doc-keyed,
    * map-side combined) and gram-keyed min-doc introducers re-rolled
    * to per-doc novel counts — joined back at doc grain. Both earlier
    * forms measured slower: groupBy+join-back re-shuffles the gram
    * table (3.9 s at sf0.1), a window min sorts full gram rows inside
    * each gram partition (2.7 s); the double aggregate combines
    * map-side and never sorts. Pure integer readout per doc. */
  private val textNgramNovelty: Q = (s, dir) => {
    // codegen'd TokenNgrams kernel + parallelized scan (the
    // dedup_spans/boilerplate lesson — the HOF shingle transform is
    // CodegenFallback and interpreted per gram)
    import org.apache.spark.sql.graftfns.QuantFunctions.token_ngrams
    val grams = Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        explode(array_distinct(
          token_ngrams(TextSim.tokens(col("text")), 3))).as("g"))
      .localCheckpoint()
    val perDoc = grams.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).cast("long").as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams"), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** q_text_length_profile — per-source document-length planning
    * profile: p10/p50/p90 of n_chars, the exact mean, and the share of
    * docs longer than 4× the source median — the numbers sequence
    * packing (q_text_pack) and chunking (q_text_chunk) budgets are SET
    * FROM (window size follows p90; the >4·p50 outlier share says how
    * much a truncation policy actually discards). q_etl_profile
    * profiles a warehouse table generically; this is the corpus-length
    * instance every data card reports. Two grid-sized passes: quantile
    * contraction per source, then the outlier count against the
    * broadcast median. */
  private val textLengthProfile: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .select(col("source"), col("n_chars"))
    val qs = d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("decimal(38,0)")).as("s1"),
        expr("percentile(n_chars, 0.1)").as("p10"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.9)").as("p90"))
    val out = d.join(broadcast(qs.select(col("source"), col("p50"))),
        "source")
      .groupBy("source")
      .agg(sum(when(col("n_chars") > lit(4.0) * col("p50"), 1L)
        .otherwise(0L)).as("n_long"))
    qs.join(out, "source")
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        round(col("s1").cast("double") / col("n_docs"), 4)
          .as("mean_chars"),
        round(col("p10"), 4).as("p10"),
        round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"),
        col("n_long").cast("long").as("n_long"),
        round(col("n_long").cast("double") / col("n_docs"), 4)
          .as("long_share"))
      .orderBy(col("source").asc_nulls_first)
  }

  /** q_text_lang_purity — per DECLARED language: how often the
    * stopword-profile language ID agrees with the metadata label — the
    * mislabeled-shard screen (a "French" crawl shard that IDs 40%
    * English is a routing bug upstream, and language-balanced sampling
    * (q_samp_balanced) silently inherits it); the per-SHARD rollup of
    * q_text_langid's per-doc prediction. The zh row is the honest
    * blind spot: no zh profile exists, so its purity is ≈0 by
    * construction — exactly what "this screen can't see that
    * language" should look like in the report. One per-row predict
    * pass + one language-sized rollup. */
  private val textLangPurity: Q = (s, dir) => {
    val base = Tables.load(s, dir, "documents")
      .withColumn("w", TextSim.tokens(col("text")))
      .withColumn("lang_pred", TextSim.langId(col("w")))
    base.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("lang"), col("n_docs").cast("long").as("n_docs"),
        col("n_agree").cast("long").as("n_agree"),
        round(col("n_agree").cast("double") / col("n_docs"), 4)
          .as("purity"),
        when(col("n_agree").cast("double") / col("n_docs") < 0.5, 1)
          .otherwise(0).as("flag_mislabeled"))
      .orderBy(col("lang").asc_nulls_first)
  }

  /** q_text_unicode_audit — encoding-health audit per source: share of
    * docs containing non-ASCII, the non-ASCII character ratio, control
    * characters, U+FFFD replacement characters (THE mojibake tell —
    * every one marks a byte sequence some decoder gave up on), and the
    * uppercase ratio — the pre-ingest screen that catches a
    * mis-decoded shard before it poisons tokenizer training. Counting
    * is length-difference against a character-class strip
    * (`regexp_replace` with patterns in the Java∩RE2 subset so both
    * engines run the identical regex); everything aggregates as
    * integers, two ratios divide once at readout. */
  private val textUnicodeAudit: Q = (s, dir) => {
    val nonAscii = length(col("text")) -
      length(regexp_replace(col("text"), "[^\\x00-\\x7F]", ""))
    val ctrl = length(col("text")) -
      length(regexp_replace(col("text"),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))
    val repl = length(col("text")) -
      length(regexp_replace(col("text"), "�", ""))
    val upper = length(col("text")) -
      length(regexp_replace(col("text"), "[A-Z]", ""))
    Tables.parallelized(Tables.load(s, dir, "documents"))
      .select(col("source"), length(col("text")).as("n_ch"),
        nonAscii.as("n_na"), ctrl.as("n_ctrl"), repl.as("n_repl"),
        upper.as("n_up"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_na") > 0, 1)).as("docs_non_ascii"),
        sum("n_ch").as("chars"), sum("n_na").as("na"),
        sum("n_ctrl").as("ctrl"), sum("n_repl").as("repl"),
        sum("n_up").as("up"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("docs_non_ascii").cast("long").as("docs_non_ascii"),
        col("ctrl").cast("long").as("control_chars"),
        col("repl").cast("long").as("replacement_chars"),
        round(col("na").cast("double") / col("chars"), 6)
          .as("non_ascii_ratio"),
        round(col("up").cast("double") / col("chars"), 6)
          .as("upper_ratio"))
      .orderBy(col("source").asc_nulls_first)
  }

  /** q_vec_mmd's K = 32 pseudo-random ±1 projections of the 64 dims:
    * bit 16 of a multiplicative hash of (k, d), the same on every
    * engine and run. */
  private val mmdK = 32
  private val mmdWeights: Seq[Seq[Long]] = (0 until mmdK).map { k =>
    (0 until 64).map { d =>
      val i = k.toLong * 64 + d
      if (((i * 2654435761L) % 4294967296L) / 65536 % 2 == 0) 1L
      else -1L
    }
  }

  /** The 3-dp floor quantization of `embedding`, as longs. */
  private def quantized: Column =
    transform(col("embedding").cast("array<double>"),
      x => floor(x * 1000).cast("long"))

  /** The K integer signs sign(wₖ·qv) of the quantized vector `qv`
    * (q_vec_mmd, q_pipe_embed_qa). */
  private def mmdSigns: Column = array(mmdWeights.map { wk =>
    val dot = aggregate(
      zip_with(col("qv"), typedLit(wk), (x, w) => x * w),
      lit(0L), (acc, x) => acc + x)
    when(dot > 0, 1).when(dot < 0, -1).otherwise(0)
  }: _*)

  /** Per group of `g` (over rows of grp, sgn), each side's sign sum
    * and count (s1/n1 where grp, s0/n0 where not) and the squared gap
    * of the two mean signs rounded to an 8-dp decimal `term` — the
    * per-feature MMD² term; an empty side gives NULL via try_divide. */
  private def mmdTerms(g: org.apache.spark.sql.RelationalGroupedDataset)
      : DataFrame = {
    val gap = try_divide(col("s1").cast("double"), col("n1")) -
      try_divide(col("s0").cast("double"), col("n0"))
    g.agg(sum(when(col("grp"), col("sgn"))).as("s1"),
        count(when(col("grp"), 1)).as("n1"),
        sum(when(!col("grp"), col("sgn"))).as("s0"),
        count(when(!col("grp"), 1)).as("n0"))
      .withColumn("term", round(gap * gap, 8).cast("decimal(20,8)"))
  }

  /** q_vec_mmd — kernel two-sample (MMD²) drift test between
    * embedding slices via SIGN random features: K=32 Rademacher
    * projections (±1 weights off a shared Knuth multiplicative hash,
    * the same integer formula spelled in the oracle's SQL), each
    * vector contributes sign(wₖ·q) ∈ {−1,0,+1} on 3-dp
    * floor-quantized components, and MMD² = (1/K)·Σₖ(mean_A(signₖ) −
    * mean_B(signₖ))² — the angular-kernel mean discrepancy. Runs
    * BOTH canonical splits in one plan: parity (a null test — halves
    * of one corpus, expect ≈0) and label<5 (clustered halves, expect
    * drift). Completes the drift shelf: q_vec_drift compares
    * per-dimension moment profiles (axis-aligned — misses
    * distributional shifts that preserve marginals); MMD is a proper
    * two-sample statistic over the joint (Gretton et al., JMLR'12).
    * Exactness: quantization (floor ×1000), ±1 dot products, and
    * signs are INTEGER end-to-end; per-k feature means divide once
    * and each squared gap rounds to an 8-dp decimal before the 32-row
    * fold (logloss grid rule); empty sides NULL via try_divide.
    * Scale: one pass computes all K signs per row; the shuffle
    * carries (split, k) sign-sums — 64 metadata rows, never vectors;
    * flag threshold 2·(1/n_A+1/n_B) is twice the statistic's null
    * expectation ((1/n_A+1/n_B)·Var(sign) ≤ (1/n_A+1/n_B)) — the
    * parity null sits ~10× under it, the label split ~2× over. */
  private val vecMmd: Q = (s, dir) => {
    val nk = mmdK
    val base = Tables.load(s, dir, "embeddings")
      .withColumn("qv", quantized)
      .withColumn("sg", mmdSigns)
      .select(col("vec_id"), col("label"), col("sg"))
      // consumed by BOTH splits below — materialize the 32-sign rows
      // once instead of re-running the HOF tree per branch
      .localCheckpoint()
    val splits = base.select(lit("parity").as("split"),
        (col("vec_id") % 2 === 0).as("grp"), col("sg"))
      .unionAll(base.select(lit("label").as("split"),
        (col("label") < 5).as("grp"), col("sg")))
    val terms = mmdTerms(splits
      .select(col("split"), col("grp"),
        posexplode(col("sg")).as(Seq("k", "sgn")))
      .groupBy("split", "k"))
    terms.groupBy("split")
      .agg(max("n1").as("na"), max("n0").as("nb"),
        sum("term").as("st"))
      .select(col("split"),
        col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        round(col("st").cast("double") / nk, 6).as("mmd2"),
        when(round(col("st").cast("double") / nk, 6) >
          lit(2.0) * (try_divide(lit(1.0), col("na").cast("double")) +
            try_divide(lit(1.0), col("nb").cast("double"))), 1)
          .otherwise(0).as("drift_flag"))
      .orderBy("split")
  }

  /** q_vec_hubness — hubness audit of the k-NN graph (k=5) over the
    * vec_id<256 reference slice: the in-degree distribution of "who
    * appears in whose top-5" — high-dimensional embedding spaces grow
    * HUBS (points that are everyone's neighbor) and ANTI-HUBS (points
    * that are nobody's), and hubness skew is the standard symptom
    * that similarity search, k-NN eval, and dedup thresholds are
    * degrading (Radovanović et al., JMLR'10). label_knn_acc scores
    * retrieval QUALITY; this diagnoses the geometry itself. Readout:
    * max/p99-ish top in-degree, skewness of in-degree (exact integer
    * moment sums — mean is exactly k), anti-hub share. Exactness: the
    * neighbor lists reuse TextSim.knnJoin's 4-dp rounded cosine with
    * vec_id tie-break (deterministic top-5), in-degrees and their
    * moment sums are integers, the two readout divisions are shared
    * closed forms. Scale: the exact all-pairs form is CAPPED by
    * construction at 256 vectors (65k pairs — the bounded-reference
    * device of the ANN bound oracles); at corpus scale the same
    * readout runs on the ANN graph's neighbor lists
    * (TextSim.nnDescentGraph / annCosineLsh) instead of the exact
    * join — the statistic is downstream of WHICH k-NN graph feeds
    * it. */
  private val vecHubness: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
      .filter(col("vec_id") < 256)
      .localCheckpoint()
    val knn = graft.ops.TextSim.knnJoin(emb, emb, 5)
      .select(col("probe_id"), col("neighbor_id"))
    val indeg = knn.groupBy("neighbor_id").agg(count(lit(1)).as("c"))
    val nTot = emb.agg(count(lit(1)).as("n"))
    val m = indeg.agg(count(lit(1)).as("n_with_in"),
        sum("c").as("s1"),
        sum(col("c") * col("c")).as("s2"),
        sum(col("c") * col("c") * col("c")).as("s3"),
        max("c").as("mx"))
      .crossJoin(broadcast(nTot))
    // moments over ALL n vectors (absent rows are in-degree 0): the
    // zero rows contribute nothing to the sums, only to n
    val nd = col("n").cast("double")
    val mean = col("s1").cast("double") / nd
    val varr = (col("s2").cast("double") - nd * mean * mean) / (nd - 1)
    val m3 = col("s3").cast("double") / nd -
      lit(3.0) * mean * (col("s2").cast("double") / nd) +
      lit(2.0) * mean * mean * mean
    m.select(col("n").cast("long").as("n_vectors"),
        lit(5L).as("k"),
        col("mx").cast("long").as("max_indegree"),
        round(try_divide(m3, pow(varr, 1.5)), 4).as("indeg_skew"),
        round((col("n") - col("n_with_in")).cast("double") / col("n"),
          4).as("antihub_share"))
  }

  /** q_pipe_embed_qa — the embedding-QA battery composed as ONE
    * fused scorecard (the q_pipe_curate discipline applied to the
    * vector shelf): a single pass over `embeddings` computes, per
    * vector, the 3-dp floor quantization, the norm flag, and the
    * q_vec_mmd sign features — then six checks read that ONE
    * localCheckpointed table: (1) corpus size; (2) zero-vector count
    * (failed encodes — q_vec_normalize's degenerate rows); (3)
    * exact-duplicate rate on the quantized vectors (q_vec_cosine_dedup's
    * verbatim tier); (4) worst per-dimension mean bias (q_vec_dimstats'
    * centering check); (5) parity-split MMD as the null drift test
    * and (6) label-split MMD as the class-separation test (both
    * q_vec_mmd's statistic and threshold). This is the pre-flight an
    * embedding pipeline runs before indexing a new batch: broken
    * encodes, collapsed batches, mean shift, and lost class structure
    * each fire a distinct row. Exactness: quantization/signs/dots are
    * integer end-to-end; dim means and MMD terms follow the proven
    * per-op decimal devices; output is a uniform 6-row (check, value,
    * pass) grid. Scale: ONE vector scan; the dim grid is 64 rows, the
    * sign grid 64 (split, k) rows, the dup census a quantized-key
    * two-phase count. */
  private val pipeEmbedQa: Q = (s, dir) => {
    val nk = mmdK
    val base = Tables.load(s, dir, "embeddings")
      .withColumn("qv", quantized)
      .withColumn("isZero",
        when(aggregate(col("qv"), lit(0L),
          (acc, x) => acc + abs(x)) === 0, 1).otherwise(0))
      .withColumn("sg", mmdSigns)
      .select(col("vec_id"), col("label"), col("qv"), col("isZero"),
        col("sg"))
      .localCheckpoint()
    val nTot = base.agg(count(lit(1)).as("n"),
      sum("isZero").as("nz"),
      countDistinct(col("qv")).as("ndist"))
    val dimBias = base
      .select(posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy("dim").agg(sum("q").as("sq"), count(lit(1)).as("c"))
      .agg(max(abs(round(col("sq").cast("double") /
        (col("c") * 1000), 4))).as("bias"))
    def mmdLeg(grpCol: org.apache.spark.sql.Column) = {
      mmdTerms(base
          .select(grpCol.as("grp"),
            posexplode(col("sg")).as(Seq("k", "sgn")))
          .groupBy("k"))
        .agg(max("n1").as("na"), max("n0").as("nb"),
          round(sum("term").cast("double") / nk, 6).as("mmd2"))
        .withColumn("thr", lit(2.0) *
          (try_divide(lit(1.0), col("na").cast("double")) +
            try_divide(lit(1.0), col("nb").cast("double"))))
    }
    val par = mmdLeg(col("vec_id") % 2 === 0)
    val lab = mmdLeg(col("label") < 5)
    val one = nTot.crossJoin(broadcast(dimBias))
      .crossJoin(broadcast(par.select(col("mmd2").as("m_par"),
        col("thr").as("t_par"))))
      .crossJoin(broadcast(lab.select(col("mmd2").as("m_lab"),
        col("thr").as("t_lab"))))
    val dupRate = round((col("n") - col("ndist")).cast("double") /
      col("n"), 4)
    val rows = one.select(
      struct(lit("1_corpus_size").as("check"),
        col("n").cast("double").as("value"),
        when(col("n") > 0, 1).otherwise(0).as("pass")).as("r1"),
      struct(lit("2_zero_vectors").as("check"),
        col("nz").cast("double").as("value"),
        when(col("nz") === 0, 1).otherwise(0).as("pass")).as("r2"),
      struct(lit("3_exact_dup_rate").as("check"),
        dupRate.as("value"),
        when(dupRate <= 0.01, 1).otherwise(0).as("pass")).as("r3"),
      struct(lit("4_max_dim_bias").as("check"),
        col("bias").as("value"),
        when(col("bias") <= 0.1, 1).otherwise(0).as("pass")).as("r4"),
      struct(lit("5_null_drift").as("check"),
        col("m_par").as("value"),
        when(col("m_par") <= col("t_par"), 1).otherwise(0).as("pass"))
        .as("r5"),
      struct(lit("6_label_separation").as("check"),
        col("m_lab").as("value"),
        when(col("m_lab") > col("t_lab"), 1).otherwise(0).as("pass"))
        .as("r6"))
    rows.select(explode(array(col("r1"), col("r2"), col("r3"),
        col("r4"), col("r5"), col("r6"))).as("r"))
      .select(col("r.check"), col("r.value"), col("r.pass"))
      .orderBy("check")
  }

  /** q_samp_systematic — systematic (every-k-th) sampling of the
    * document corpus by a pinned total order (doc_id):
    * k = max(1, ⌊n/100⌋), keep ranks ≡ 1 (mod k). The floor means the
    * realized sample is between 100 and ⌈2·100⌉−1 docs (n=199 → k=1
    * keeps all 199) — the classical "k = ⌊N/n⌋" systematic-sampling
    * convention, which trades sample-size precision for an integer
    * skip interval; the census columns report the REALIZED rate so a
    * caller sees exactly what the draw kept (r16 advisor note) — the
    * survey-sampling member the shelf lacked (hash sampling is
    * per-row independent, reservoir is fixed-size random, stratified
    * is per-group; SYSTEMATIC guarantees even coverage along the
    * order — by ingestion time, this is "one doc per batch-window",
    * the standard corpus-inspection draw). Readout = the per-source
    * census with realized rates (systematic sampling preserves
    * source mix to within one doc per stratum — the audit proves
    * it). Exactness: ranks, k, and the keep rule are pure integers.
    * Scale: the global rank runs as a DISTRIBUTED global row
    * numbering, which also counts the docs (doc_id is a total order —
    * never a single-partition window); the census is a two-phase
    * aggregate. */
  private val sampSystematic: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    val (ranked, n) = Relational.globalRowNumberWithCount(docs,
      Seq(col("doc_id")), "rnk")
    val k = math.max(1L, n / 100)
    ranked
      .withColumn("keep", (col("rnk") - 1) % k === 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep"), 1)).as("n_sampled"))
      .select(col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_sampled").cast("long").as("n_sampled"),
        lit(k).as("k"),
        round(col("n_sampled").cast("double") / col("n_docs"), 4)
          .as("realized_rate"))
      .orderBy(col("source").asc_nulls_first)
  }

  /** q_samp_ppswor — probability-proportional-to-size sampling
    * WITHOUT replacement (Efraimidis–Spirakis 2006), weight =
    * `n_chars`: each doc draws a deterministic uniform u from the
    * shared sha-prefix device (the q_sample_hash contract — both
    * engines derive the identical integer from the hex prefix) and
    * competes on priority ln(u)/w; the top-200 by that key ARE an
    * exact PPS-WOR draw. This is the curation draw the shelf lacked:
    * hash sampling is per-row Bernoulli (sample size drifts),
    * reservoir is uniform (long docs underrepresented per TOKEN),
    * importance reweights but keeps everything; PPS-WOR yields a
    * fixed-size sample where a doc's inclusion odds scale with its
    * token mass — the standard draw for char-budgeted corpus audits.
    * Exactness: u = (h+1)/16⁷ is one exact division; the priority
    * rounds to the 8-dp grid with doc_id as the strict tie-break
    * (boundary discipline), so the top-200 cut is identical on both
    * engines. Scale: scoring is per-row; the global cut is a
    * TakeOrderedAndProject (top-k, never a full sort materialized);
    * the census a two-phase aggregate. */
  private val sampPpswor: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull && col("n_chars") > 0)
    val top = docs
      .withColumn("h", sha256_prefix(
          concat(lit("pps:"), col("doc_id").cast("string")), 7))
      .withColumn("u",
        (col("h") + 1).cast("double") / lit(268435456.0))
      .withColumn("k8", round(log(col("u")) /
        col("n_chars").cast("double"), 8))
      .orderBy(col("k8").desc, col("doc_id").asc)
      .limit(200)
    val tot = docs.agg(sum("n_chars").cast("double").as("tot_chars"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("src_chars"))
      .join(top.groupBy(col("source").as("s2"))
        .agg(count(lit(1)).as("n_sampled")),
        col("source") === col("s2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        round(col("src_chars").cast("double") / col("tot_chars"), 4)
          .as("char_share"),
        round(coalesce(col("n_sampled"), lit(0L)).cast("double")
          / 200.0, 4).as("samp_share"))
      .orderBy("source")
  }

  /** q_data_mixture — training-mixture allocator: per-source sampling
    * weights w = n_docs^0.7 (the sub-linear exponent that caps head
    * sources — the Pile/temperature-mixing convention, here on the
    * doc axis), normalized shares, and an EXACT largest-remainder
    * apportionment of a 10,000-doc budget (floor allocations + the
    * remainder ranking hands out the leftover, so the allocations
    * sum to the budget by construction — the property a
    * proportional-rounding allocator silently loses). Exactness: w
    * rounds to a 6-dp DECIMAL before the source fold (grid rule);
    * floor and remainder derive from the same shared division; the
    * remainder rank ties break on source (boundary discipline).
    * Scale: sources are a contraction; everything after the first
    * aggregate is grid-sized. */
  private val dataMixture: Q = (s, dir) => {
    val src = Tables.load(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w", round(pow(col("n_docs").cast("double"),
        0.7), 6).cast("decimal(18,6)"))
    val tot = src.agg(sum("w").as("tw"),
      count(lit(1)).as("n_src"))
    val based = src.crossJoin(broadcast(tot))
      .withColumn("exact",
        col("w").cast("double") * 10000.0 / col("tw").cast("double"))
      .withColumn("alloc0", floor(col("exact")).cast("long"))
      .withColumn("rem", round(col("exact") - col("alloc0"), 8))
    val wr = Window.orderBy(col("rem").desc, col("source").asc)
    val short = based.agg((lit(10000) - sum("alloc0")).as("k"))
    based
      .withColumn("rk", row_number().over(wr))
      .crossJoin(broadcast(short))
      .select(col("source"), col("n_docs"),
        round(col("w").cast("double") / col("tw").cast("double"), 4)
          .as("share"),
        (col("alloc0") + when(col("rk") <= col("k"), 1L)
          .otherwise(0L)).as("alloc"))
      .orderBy("source")
  }

  val all: Map[String, Q] = Map(
    "q_samp_ppswor" -> sampPpswor,
    "q_data_mixture" -> dataMixture,
    "q_samp_systematic" -> sampSystematic,
    "q_pipe_embed_qa" -> pipeEmbedQa,
    "q_vec_hubness" -> vecHubness,
    "q_vec_mmd" -> vecMmd,
    "q_text_lm_score" -> textLmScore,
    "q_text_dedup_prefix" -> textDedupPrefix,
    "q_text_unicode_audit" -> textUnicodeAudit,
    "q_samp_group_split" -> sampGroupSplit,
    "q_text_pmi" -> textPmi,
    "q_text_hapax" -> textHapax,
    "q_text_dedup_spans" -> textDedupSpans,
    "q_text_dup_rate" -> textDupRate,
    "q_text_soft_dedup" -> textSoftDedup,
    "q_vec_mips" -> vecMips,
    "q_vec_rproj" -> vecRproj,
    "q_vec_pca" -> vecPca,
    "q_text_compress_ratio" -> textCompressRatio,
    "q_vec_dimstats" -> vecDimstats,
    "q_text_source_overlap" -> textSourceOverlap,
    "q_samp_temperature" -> sampTemperature,
    "q_samp_balanced" -> sampBalanced,
    "q_samp_decay" -> sampDecay,
    "q_text_template" -> textTemplate,
    "q_text_code_detect" -> textCodeDetect,
    "q_text_keyness" -> textKeyness,
    "q_samp_negative" -> sampNegative,
    "q_text_ngram_lm" -> textNgramLm,
    "q_text_boilerplate" -> textBoilerplate,
    "q_text_feature_hash" -> textFeatureHash,
    "q_text_cooccur" -> textCooccur,
    "q_vec_centroid" -> vecCentroid,
    "q_text_decontaminate" -> textDecontaminate,
    "q_text_decon_bloom" -> textDeconBloom,
    "q_text_decon_ngram" -> textDeconNgram,
    "q_sample_stratified" -> sampleStratified,
    "q_vec_ann_pq" -> annPq,
    "q_vec_ann_ivfpq" -> annIvfPq,
    "q_text_chunk" -> textChunk,
    "q_vec_quantize" -> vecQuantize,
    "q_text_tfidf" -> textTfidf,
    "q_text_blocklist" -> textBlocklist,
    "q_text_url_canon" -> textUrlCanon,
    "q_text_zipf" -> textZipf,
    "q_text_pack" -> textPack,
    "q_vec_recon_error" -> vecReconError,
    "q_vec_normalize" -> vecNormalize,
    "q_sample_hash" -> sampleHash,
    "q_text_scrub" -> textScrub,
    "q_text_urls" -> textUrls,
    "q_text_simhash" -> simhashQ,
    "q_text_ngram_jaccard" -> ngramJaccardQ,
    "q_text_containment" -> textContainment,
    "q_text_dedup_suffix" -> textDedupSuffix,
    "q_text_burstiness" -> textBurstiness,
    "q_text_lang_purity" -> textLangPurity,
    "q_text_length_profile" -> textLengthProfile,
    "q_text_ngram_novelty" -> textNgramNovelty,
    "q_vec_label_knn_acc" -> vecLabelKnnAcc,
    "q_vec_binary_quant" -> vecBinaryQuant,
    "q_vec_cosine_dedup" -> cosineDedup,
    "q_vec_dedup_groups" -> dedupGroupsQ,
    "q_text_tokenize" -> tokenize,
    "q_text_dedup_exact" -> dedupExact,
    "q_text_minhash" -> minhash,
    "q_text_minhash_groups" -> minhashGroups,
    "q_text_langid" -> langid,
    "q_text_lang_confusion" -> textLangConfusion,
    "q_text_quality" -> quality,
    "q_text_readability" -> textReadability,
    "q_text_repetition" -> repetition,
    "q_text_tokens" -> tokenCounts,
    "q_text_fingerprint" -> fingerprint,
    "q_vec_cosine_topk" -> cosineTopk,
    "q_vec_knn_join" -> knnJoin,
    "q_vec_ann_lsh" -> annLsh,
    "q_vec_ann_ivf" -> annIvf,
    "q_vec_ann_nndescent" -> annNnDescent,
    "q_vec_kmeans" -> vecKmeans,
    "q_vec_mmr" -> vecMmr,
    "q_samp_reservoir" -> sampReservoir,
    "q_samp_importance" -> sampImportance,
    "q_vec_ood" -> vecOod,
    "q_vec_silhouette" -> vecSilhouette,
    "q_vec_drift" -> vecDrift,
    "q_text_winnowing" -> textWinnowing,
    "q_vec_matryoshka" -> vecMatryoshka,
    "q_vec_dedup_sweep" -> vecDedupSweep,
    "q_vec_lsh_balance" -> vecLshBalance,
    "q_pipe_curate" -> pipeCurate,
    "q_text_tok_fertility" -> textTokFertility,
    "q_text_vocab_coverage" -> textVocabCoverage)
}
