package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the vector-compression half of the
  * IVF+PQ layout every planet-scale ANN system runs: each vector is cut
  * into `m` subvectors, each subvector is replaced by the id of its
  * nearest codebook centroid, and the whole vector becomes `m` small
  * codes (m·log2(ksub) bits ≈ 4 bytes here vs 256 bytes of float32 — a
  * 64× shuffle/broadcast/cache reduction). Searches score candidates
  * from the codes alone via an asymmetric-distance lookup table (ADC)
  * and only fetch real vectors for the shortlist rescore.
  *
  * Spark mapping (no new Catalyst machinery needed):
  * - codebooks are driver-built from a deterministic corpus sample and
  *   broadcast (index metadata, like the IVF centroids);
  * - per-subspace argmin-L2 assignment REUSES the codegen'd
  *   [[org.apache.spark.sql.graftfns.TopCells]] max-dot expression via
  *   the augmented-vector identity
  *   `argmin_c ‖v−c‖² = argmax_c (v·c − ‖c‖²/2)
  *                    = argmax_c dot([v,1], [c, −‖c‖²/2])`
  *   — so encoding inherits TopCells' compiled loop, broadcast read,
  *   and deterministic tie rule (ties keep the lower code);
  * - ADC scoring is a pure expression over the codes column and a
  *   literal m×ksub lookup table (128 doubles for a single probe).
  *
  * Reference basis: the similarity-search surface of the reference's
  * related-search-terms field (`web_scraper/web_scraping.py:325-333`),
  * scaled to the embedding north star.
  */
object ProductQuant {

  /** Per-subspace codebooks from a deterministic sample: the `ksub`
    * lowest-id vectors' subslices (the PQ analog of
    * `TextSim.sampleCentroids`; k-means refinement per subspace is the
    * recall knob at scale — the assignment path is identical). Collects
    * ksub index-metadata rows, never the corpus.
    * Returns `codebooks(m)(c)` = centroid c of subspace m. */
  def sampleCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                      m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    val rows = corpus.orderBy(idCol).limit(ksub)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "empty corpus")
    val d = rows(0).length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val dsub = d / m
    Array.tabulate(m)(mi =>
      rows.map(v => java.util.Arrays.copyOfRange(v, mi * dsub,
        (mi + 1) * dsub)))
  }

  /** Distributed k-means refinement of PQ codebooks — plain (not
    * spherical) Lloyd, because PQ minimizes per-subspace L2
    * reconstruction error, not cosine. Per iteration: assign every
    * row's subvectors with [[encode]] (broadcast codebooks, codegen'd
    * TopCells argmin), then compute per-(subspace, code, position)
    * means as ONE two-phase aggregate over the posexploded vector —
    * map-side partials collapse each task's output to ≤ m·ksub·dsub
    * rows (1 024 here), so the shuffle ships index metadata, not the
    * corpus; the collect is m·ksub·dsub doubles (driver-scale). Empty
    * cells keep their previous centroid. Lloyd monotonicity
    * (reconstruction error never increases) is spec-gated; training is
    * run-to-run deterministic up to float summation order, which is why
    * the REGISTERED query keeps sampled codebooks (SURVEY §7.5) and
    * training stays the recall knob for clustered corpora. */
  def trainCodebooks(corpus: DataFrame, vecCol: String,
                     init: Array[Array[Array[Double]]],
                     iters: Int): Array[Array[Array[Double]]] = {
    val m = init.length
    val ksub = init(0).length
    val dsub = init(0)(0).length
    var cb = init
    var it = 0
    while (it < iters) {
      val sums = encode(corpus, vecCol, cb)
        .select(col(vecCol).cast("array<double>").as("v"), col("codes"))
        .select(posexplode(col("v")).as(Seq("j", "x")), col("codes"))
        .select(
          (col("j") / dsub).cast("int").as("mi"),
          (col("j") % dsub).as("pos"),
          element_at(col("codes"), (col("j") / dsub).cast("int") + 1)
            .as("code"),
          col("x"))
        .groupBy("mi", "code", "pos")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      sums.groupBy(r => (r.getInt(0), r.getInt(1))).foreach {
        case ((mi, code), rows) =>
          rows.foreach { r =>
            next(mi)(code)(r.getInt(2)) = r.getDouble(3) / r.getLong(4)
          }
      }
      cb = next
      it += 1
    }
    cb
  }

  /** Mean squared reconstruction error of `codebooks` over the corpus —
    * the Lloyd objective the spec gate checks. */
  def reconstructionMse(corpus: DataFrame, vecCol: String,
                        codebooks: Array[Array[Array[Double]]]): Double = {
    val dsub = codebooks(0)(0).length
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    encode(corpus, vecCol, codebooks)
      .select(col(vecCol).cast("array<double>").as("v"), col("codes"))
      .select(posexplode(col("v")).as(Seq("j", "x")), col("codes"))
      .select(col("x"),
        element_at(
          element_at(
            element_at(cbLit, (col("j") / dsub).cast("int") + 1),
            element_at(col("codes"), (col("j") / dsub).cast("int") + 1) + 1),
          (col("j") % dsub).cast("int") + 1).as("xh"))
      .agg(avg(pow(col("x") - col("xh"), 2)))
      .head().getDouble(0)
  }

  /** Augment each subspace codebook for the max-dot argmin trick:
    * entry c of subspace m becomes `[c…, −‖c‖²/2]`, so
    * `dot([v,1], entry)` orders by −L2-distance. */
  private def augment(cb: Array[Array[Array[Double]]])
      : Array[Array[Array[Double]]] =
    cb.map(_.map { c =>
      val out = java.util.Arrays.copyOf(c, c.length + 1)
      out(c.length) = -0.5 * c.map(x => x * x).sum
      out
    })

  /** Encode: append a `codes` column (`array<int>`, length m) to `df`.
    * One codegen'd TopCells call per subspace over the broadcast
    * codebook — per-row cost m·ksub·dsub multiply-adds, no shuffle. */
  def encode(df: DataFrame, vecCol: String,
             codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    val sc = df.sparkSession.sparkContext
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val aug = augment(codebooks)
    val v = col(vecCol).cast("array<double>")
    val subCodes: Seq[Column] = (0 until m).map { mi =>
      val bc: Broadcast[Array[Array[Double]]] = sc.broadcast(aug(mi))
      // slice is 1-based; [v_sub, 1] pairs with [c, −‖c‖²/2]
      val subAug = concat(slice(v, mi * dsub + 1, dsub),
        array(lit(1.0)))
      try_element_at(fns.top_cells(subAug, bc, 1), lit(1))
    }
    df.withColumn("codes", array(subCodes: _*))
  }

  /** ADC score column for one probe: `Σ_m lut(m)(codes(m))` where
    * `lut(m)(c) = dot(probe_sub_m, codebook(m)(c))` — an approximation
    * of `dot(probe, v)` whose error is bounded by ‖probe‖·‖v−v̂‖
    * (Cauchy-Schwarz on the reconstruction residual), so better
    * codebooks tighten the shortlist, and the exact rescore fixes the
    * rest. The lut rides into generated code as a reference object via
    * the codegen'd [[org.apache.spark.sql.graftfns.AdcScore]] — the
    * `aggregate(zip_with(...))` composition it replaces is
    * CodegenFallback (interpreted lambda per element), which is the
    * wrong path for the operator that touches every corpus row. */
  def adcScore(codesCol: Column, probe: Array[Double],
               codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val lut: Array[Array[Double]] = Array.tabulate(m) { mi =>
      codebooks(mi).map { c =>
        var s = 0.0
        var i = 0
        while (i < dsub) { s += probe(mi * dsub + i) * c(i); i += 1 }
        s
      }
    }
    org.apache.spark.sql.graftfns.QuantFunctions.adc_score(codesCol, lut)
  }

  /** ADC-shortlist + exact-rescore kNN for a single probe id: encode
    * the corpus, take the `shortlist` best ADC scores (global top-k →
    * TakeOrderedAndProject, no full sort), join back the shortlist's
    * real vectors, rescore with exact cosine and keep `k`. The corpus
    * scan ships codes (4 bytes/vector) into the top-k, not embeddings —
    * the whole point of PQ at 100 TB. */
  def annCosinePq(corpus: DataFrame, idCol: String, vecCol: String,
                  probeId: Long, k: Int, shortlist: Int,
                  m: Int = 8, ksub: Int = 16,
                  trainIters: Int = 0): DataFrame = {
    val sampled = sampleCodebooks(corpus, idCol, vecCol, m, ksub)
    // trainIters > 0 = the recall knob for clustered corpora (Lloyd per
    // subspace); the registered query keeps 0 for bit-determinism
    val cb =
      if (trainIters > 0) trainCodebooks(corpus, vecCol, sampled, trainIters)
      else sampled
    val probe = corpus.filter(col(idCol) === probeId)
      .select(col(vecCol).cast("array<double>"))
      .collect()
    require(probe.nonEmpty, s"probe id $probeId not in corpus")
    val p = probe(0).getSeq[Double](0).toArray
    val pn = math.sqrt(p.map(x => x * x).sum)
    // the probe never matches itself (same contract as knnJoin — a
    // self-match carries no information and would displace a real
    // neighbor from k)
    val short = encode(corpus.filter(col(idCol) =!= probeId), vecCol, cb)
      .withColumn("adc", adcScore(col("codes"), p, cb))
      .select(col(idCol), col("adc"))
      .orderBy(col("adc").desc, col(idCol))
      .limit(shortlist)
    val pLit = typedLit(p.toSeq)
    short.join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .withColumn("sim_r",
        round(TextSim.dot(col(vecCol).cast("array<double>"), pLit) /
          (TextSim.l2Norm(col(vecCol).cast("array<double>")) * lit(pn)),
          4))
      .select(col(idCol).as("neighbor_id"), col("sim_r"),
        round(col("adc"), 4).as("adc_r"))
      .orderBy(col("sim_r").desc, col("neighbor_id"))
      .limit(k)
  }
}
