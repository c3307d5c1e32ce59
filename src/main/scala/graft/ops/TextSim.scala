package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis, deduplication and vector-similarity operators — the
  * training-data-pipeline extensions (SURVEY.md §2.M). Everything is an
  * expression pipeline over built-ins (`hash`/`xxhash64`, higher-order
  * array functions), so each stage is codegen'd and shuffles only on the
  * intended keys.
  */
object TextSim {

  /** Broadcast bound for the bigram-LM score table (pair string +
    * decimal(20,8) ≈ 60 B/row framed → ~2M rows ≈ 120 MB hash
    * relation — the TextSim per-side sizing discipline: well under the
    * driver's comfort, far over any demo vocabulary). */
  val lmBroadcastRows: Long = 1L << 21

  /** Size-gated build side for a model-table equi-join (r19 verdict
    * item 1): broadcast the table while its MEASURED row count stays
    * under [[lmBroadcastRows]]; above it, keep the build side pinned to
    * the same table with a shuffle-hash hint — an unhinted join here
    * historically built on the exploded occurrence STREAM (BuildLeft
    * over the generate-side estimate), and an unconditional broadcast
    * hint overrides every size check (driver OOM once a Heaps'-law
    * vocabulary outgrows memory). The caller passes a localCheckpointed
    * table — lazily is best: the count here is then the materializing
    * action and the join build reads the pinned blocks. */
  def gateBroadcast(tab: DataFrame,
      bound: Long = lmBroadcastRows): DataFrame =
    if (tab.count() <= bound) broadcast(tab) else tab.hint("shuffle_hash")

  /** Lower-cased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Word n-gram shingles (the MinHash input unit). Texts with fewer
    * than `n` tokens yield an empty shingle set, null texts an empty
    * set too. Built on the codegen'd
    * [[org.apache.spark.sql.graftfns.TokenNgrams]] kernel (r18): the
    * previous `transform(sequence(...), i -> concat_ws(slice(...)))`
    * HOF form is CodegenFallback — an interpreted lambda frame + array
    * slice allocation per gram, the same tax the TokenBigrams swap
    * removed from q_text_boilerplate; the kernel emits identical gram
    * strings (TextSimSpec pins equivalence). */
  def shingles(text: Column, n: Int): Column =
    coalesce(
      org.apache.spark.sql.graftfns.QuantFunctions
        .token_ngrams(tokens(text), n),
      array().cast("array<string>"))

  /* Hash-family construction: each token STRING is xxhash64'd once;
   * shingle hashes are XXH64 chains over consecutive token hashes
   * (ShingleHashes) and the i-th MinHash function derives by seeded
   * integer hashing (MinHashes) — overflow-free under ANSI mode (a
   * multiply-mix family would throw ARITHMETIC_OVERFLOW on Spark 4's
   * ANSI default) and no shingle string is ever materialized. */

  /** MinHash signature of a text: `numHashes` minima over the hashed
    * `shingleSize`-token shingle set. Per-row expression, no shuffle;
    * one string-hash pass over tokens, integer work after. */
  def minhashSignature(text: Column, shingleSize: Int,
                       numHashes: Int): Column = {
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    fns.minhashes(
      fns.shingle_hashes(
        org.apache.spark.sql.graftfns.QuantFunctions
          .token_hashes(tokens(text)),
        shingleSize), numHashes)
  }

  /** Band hashes from a materialized signature array: band b combines its
    * `rowsPerBand` minima with one xxhash64 (cheap element_at reads —
    * keep the signature in its own projection so CollapseProject doesn't
    * inline the one-pass computation into all `bands` references). */
  def bandHashesOfSig(sig: Column, rowsPerBand: Int, bands: Int): Column =
    array((0 until bands).map { b =>
      xxhash64((0 until rowsPerBand).map { j =>
        element_at(sig, b * rowsPerBand + j + 1)
      }: _*)
    }: _*)

  /** Candidate near-duplicate pairs via LSH band collisions
    * (doc_a < doc_b, distinct).
    *
    * Shape: one projection computes band hashes, one shuffle groups by
    * (band, band_hash), pairs are expanded inside each bucket — no
    * self-join (which would recompute the signatures on both sides) and
    * no quadratic all-pairs compare. Bucket pair expansion is inherently
    * quadratic in bucket size; that is LSH's contract (buckets stay
    * small unless the corpus is one giant duplicate class). */
  def minhashCandidates(df: DataFrame, docId: Column, text: Column,
                        shingleSize: Int = 3, numHashes: Int = 64,
                        bands: Int = 16): DataFrame = {
    require(bands > 0 && shingleSize > 0,
      s"bands ($bands) and shingleSize ($shingleSize) must be positive")
    require(numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands " +
        s"($bands) — otherwise part of the signature is silently unused")
    val sh = df.select(docId.as("doc_id"), text.as("__text"))
      .filter(size(tokens(col("__text"))) >= shingleSize)
      .select(col("doc_id"),
        minhashSignature(col("__text"), shingleSize, numHashes).as("sig"))
    val banded = sh.select(col("doc_id"),
        posexplode(bandHashesOfSig(col("sig"), numHashes / bands, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    val buckets = banded.groupBy("band", "band_hash")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    buckets
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("ids")) - 2),
        i => transform(slice(col("ids"), i + 2, size(col("ids"))),
          x => struct(element_at(col("ids"), i + 1).as("a"),
            x.as("b")))))).as("pair"))
      .select(col("pair.a").as("doc_a"), col("pair.b").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard similarity of two token-set columns (the exact
    * companion to MinHash; q_text_ngram_jaccard over word 3-gram
    * shingles). try_divide: two EMPTY sets (two docs shorter than the
    * shingle width) have union size 0, and a plain `/` under ANSI mode
    * aborts on that pair — NULL (similarity undefined), DuckDB's
    * x/0. */
  def jaccard(a: Column, b: Column): Column =
    try_divide(size(array_intersect(a, b)).cast("double"),
      size(array_union(a, b)).cast("double"))

  /** Dot product of two equal-length double arrays: sequential sum,
    * native codegen'd expression
    * ([[org.apache.spark.sql.graftfns.DotProduct]] — the interpreted
    * `aggregate∘zip_with` fold it replaces dominated the kNN join at 10⁶
    * pairs). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftfns.VectorFunctions.dot_product(
      a.cast("array<double>"), b.cast("array<double>"))

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Oracle-stable cosine from precomputed norms: every candidate-scoring
    * site (kNN, both ANN paths, LSH dedup) rescores with this same
    * rounded form — norms are computed once per row before the join, so
    * the per-pair work is one dot product. */
  private def roundedSim(va: Column, vb: Column,
                         na: Column, nb: Column): Column =
    round(try_divide(dot(va, vb), na * nb), 4)

  /** Cosine similarity over float-vector columns (cast to double before
    * arithmetic — float accumulation drifts between engines). try_divide,
    * not `/`: a zero vector (failed encode, padding) has zero norm, and
    * under ANSI mode a plain division aborts the whole job on that one
    * row — NULL (similarity undefined) instead, which is also DuckDB's
    * x/0, so both engines agree wherever a sim lands in an oracle. */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    try_divide(dot(ad, bd), l2Norm(ad) * l2Norm(bd))
  }

  /** 64-bit SimHash of a text (token-level;
    * [[org.apache.spark.sql.graftfns.SimHash64]]). */
  def simhash(text: Column): Column =
    org.apache.spark.sql.graftfns.VectorFunctions.simhash64(
      org.apache.spark.sql.graftfns.QuantFunctions
        .token_hashes(tokens(text)))

  // ───── text analysis (language-ID, quality, tokens, fingerprint) ─────

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Fixed vocabularies: at 100 TB the profile is
    * a broadcast literal, never a join. */
  val stopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est"))

  /** Count of tokens appearing in a fixed vocabulary (non-distinct). */
  def vocabHits(tokensCol: Column, vocab: Seq[String]): Column =
    size(filter(tokensCol, w => array_contains(typedLit(vocab), w)))
      .cast("long")

  /** Stopword-profile language ID: argmax of per-language hit counts,
    * ties resolved in profile order (deterministic). */
  def langId(tokensCol: Column): Column = {
    val scores = stopwordProfiles.map { case (lang, vocab) =>
      lang -> vocabHits(tokensCol, vocab)
    }
    scores.init.foldRight(lit(scores.last._1)) { case ((lang, s), rest) =>
      val laterScores = scores.dropWhile(_._1 != lang).tail.map(_._2)
      when(laterScores.foldLeft(lit(true))((acc, o) => acc && s >= o),
        lang).otherwise(rest)
    }
  }

  /** BPE-ish subword segmentation count: letter runs, digit runs, and
    * single other-symbols — the pre-tokenizer regex family used by BPE
    * vocabularies. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** Punctuation/symbol character count (quality signal). */
  def punctCount(text: Column): Column =
    length(regexp_replace(lower(text), "[a-z0-9\\s]", "")).cast("long")

  /** Normalized-content fingerprint: case-fold, collapse whitespace,
    * sha256 — the dedup key that survives cosmetic reformatting. */
  def contentFingerprint(text: Column): Column =
    sha2(regexp_replace(trim(lower(text)), "\\s+", " "), 256)

  // ───── vector ANN: LSH-bucketed scale path ─────

  /** Deterministic random hyperplanes for sign-LSH (seeded — the bucket
    * function must be identical across runs and executors); the
    * driver-side reference for the executor-regenerated family
    * ([[org.apache.spark.sql.graftfns.SignBuckets.planes]] — spec-pinned
    * equal). `dim` must match the embedding dimensionality: shorter
    * planes would silently bucket on a prefix of the vector. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Multi-table sign-LSH bucket ids: `nTables` independent hash tables
    * of `bits` hyperplanes each; bucket key encodes (table, signature).
    * Returns an array column of one bucket id per table. `dim` must be
    * the embedding dimensionality: on a mismatch the array is EMPTY and
    * the candidate join returns no rows — an immediately visible failure
    * rather than degraded recall.
    *
    * One codegen'd expression ([[org.apache.spark.sql.graftfns
    * .SignBuckets]]) evaluates all tables in a single pass; the planes
    * are regenerated from the seed on each executor (never shipped,
    * never codegen literals), so any tables × bits fits under Janino's
    * method limit (57 tables × 14 bits broke the literal form). */
  def lshBuckets(vec: Column, nTables: Int, bits: Int,
                 dim: Int = 64): Column =
    org.apache.spark.sql.graftfns.VectorFunctions.sign_buckets(
      vec.cast("array<double>"), nTables, bits, dim, 42L)

  /** Approximate top-k cosine neighbours via multi-table sign-LSH:
    * candidates are the union over `nTables` independent hash tables of
    * same-bucket vectors, scored exactly, top-k per probe.
    *
    * This is the 100 TB path: the corpus is bucketed once (one shuffle
    * on bucket id), each probe scores only co-bucketed candidates —
    * cost scales with bucket occupancy (≈ nTables·N/2^bits per probe),
    * not corpus size. Recall/cost tunes via (nTables, bits): more bits →
    * smaller buckets; more tables → recovered recall. Defaults target
    * weakly-clustered embeddings (recall ≈ 0.6 at ~¼ of brute-force
    * cost); strongly-clustered real embeddings do far better. */
  def annCosineLsh(probes: DataFrame, corpus: DataFrame, k: Int,
                   nTables: Int = 8, bits: Int = 5,
                   dim: Int = 64): DataFrame = {
    val corpusB = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("neighbor_vec"))
      .withColumn("neighbor_norm", l2Norm(col("neighbor_vec")))
      .withColumn("bucket",
        explode(lshBuckets(col("neighbor_vec"), nTables, bits, dim)))
    val probeB = probes.select(col("vec_id").as("probe_id"),
        col("embedding").cast("array<double>").as("probe_vec"))
      .withColumn("probe_norm", l2Norm(col("probe_vec")))
      .withColumn("bucket",
        explode(lshBuckets(col("probe_vec"), nTables, bits, dim)))
    // score before distinct, then drop the vectors: the dedup and top-k
    // shuffles move (id, id, sim) rows, not 64-double payloads
    val cand = probeB.join(corpusB, Seq("bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("sim", roundedSim(col("probe_vec"), col("neighbor_vec"),
        col("probe_norm"), col("neighbor_norm")))
      .select("probe_id", "neighbor_id", "sim")
      .distinct()
    Relational.topKPerGroup(cand, Seq(col("probe_id")),
        Seq(col("sim").desc, col("neighbor_id")), k)
      .select(col("probe_id"), col("neighbor_id"), col("sim"),
        col("rn").cast("long").as("rn"))
  }

  /** Exact cosine near-duplicate pairs (sim ≥ threshold) via a
    * block-partitioned self-join — q_vec_cosine_dedup, q_vec_dedup_groups
    * (τ=0.42) and q_vec_dedup_sweep.
    *
    * Rows are hashed into `blocks` blocks; each unordered block pair
    * (i ≤ j) is one join key, the left replica carries a block-i row to
    * keys (i, j ≥ i) and the right replica to keys (i ≤ j, j), so every
    * row pair meets under EXACTLY one key (same-block pairs appear in
    * both orientations under (i,i) and are halved by the id filter) — no
    * `distinct` needed, each dot product computed once. The shuffle is
    * N·(blocks+1) rows and the B(B+1)/2 keys spread C(N,2) pair work
    * evenly across the cluster — parallelism scales with `blocks`², not
    * with data skew. This is the canonical distributed exact all-pairs
    * shape; the work is inherently quadratic because exact recall at a
    * low threshold on weakly-clustered vectors admits no pruning: at
    * τ=0.42 a full-recall sign-LSH needs tables in the thousands, and
    * its candidates cover ≈ all of C(N,2) (measured at sf0.1, 2000
    * vectors: 98 % of the pairs in 7.7 s, against well under 2 s for
    * this join, which does each pair once and needs no distinct). */
  def cosineDedupBlockedExact(emb: DataFrame, threshold: Double,
                              blocks: Int = 16): DataFrame = {
    require(blocks > 0, s"blocks ($blocks) must be positive")
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
      .withColumn("norm", l2Norm(col("vec")))
      .withColumn("blk",
        pmod(xxhash64(col("vec_id")), lit(blocks.toLong)).cast("int"))
    val left = vecs
      .withColumn("bkey", explode(transform(
        sequence(col("blk"), lit(blocks - 1)),
        j => col("blk") * blocks + j)))
      .select(col("bkey"), col("blk").as("blk_l"),
        col("vec_id").as("id_l"), col("vec").as("vl"),
        col("norm").as("nl"))
    val right = vecs
      .withColumn("bkey", explode(transform(
        sequence(lit(0), col("blk")),
        i => i * blocks + col("blk"))))
      .select(col("bkey"), col("blk").as("blk_r"),
        col("vec_id").as("id_r"), col("vec").as("vr"),
        col("norm").as("nr"))
    // shuffle_hash: the replicas are tiny (N·(blocks+1)/2 rows each) but
    // the join OUTPUT is the C(N,2) pair stream — a sort-merge join would
    // sort wide vector rows for no benefit; hash-building one replica
    // side per task streams the pairs straight into the codegen'd rescore
    left.join(right.hint("shuffle_hash"), Seq("bkey"))
      // same-block pairs surface in both orientations → keep one; a
      // cross-block pair surfaces exactly once (arbitrary orientation)
      .filter(col("blk_l") =!= col("blk_r") || col("id_l") < col("id_r"))
      .withColumn("sim",
        roundedSim(col("vl"), col("vr"), col("nl"), col("nr")))
      .filter(col("sim") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("sim"))
  }

  /** TRUE round-up to the next power of two: `highestOneBit(x-1)*2` is
    * the identity on exact powers — `highestOneBit(x)*2` doubled them
    * (4·√N = 256 must yield 256, not 512). */
  private[graft] def roundUpPow2(x: Int): Int =
    if (x <= 1) 1 else Integer.highestOneBit(x - 1) * 2

  private def l2normalize(v: Array[Double]): Array[Double] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    if (norm == 0) v else v.map(_ / norm)
  }

  /** Deterministic initial centroids: the `nCells` lowest vec_ids,
    * L2-normalized on the driver (the collect touches exactly `nCells`
    * index-metadata rows, never the corpus — the broadcast-dim role). */
  private[graft] def sampleCentroids(corpus: DataFrame,
                                     nCells: Int): Array[Array[Double]] =
    corpus.orderBy("vec_id").limit(nCells)
      .select(col("embedding").cast("array<double>"))
      .collect().map(r => l2normalize(r.getSeq[Double](0).toArray))

  /** Distributed spherical k-means (Lloyd) over the corpus — the IVF
    * centroid TRAINER, Spark-first: per iteration, (1) assign each row
    * to its max-dot centroid with the broadcast-reading codegen'd
    * [[org.apache.spark.sql.graftfns.TopCells]] expression (no shuffle),
    * (2) compute per-cell means as a two-phase hash aggregate over
    * `posexplode`d (cell, dim-position, value) rows — map-side partial
    * aggregation collapses each task's output to ≤ nCells·dim rows, so
    * the shuffle moves index metadata, not data — then (3) collect the
    * nCells·dim sums (driver-scale), renormalize to unit length
    * (spherical = the cosine-metric variant), and re-broadcast. Empty
    * cells keep their previous centroid. Unordered double summation
    * makes training runs bit-nondeterministic in the last ulps — fine
    * for an index structure whose queries rescore exactly (registered
    * queries keep the deterministic sample centroids; training is the
    * recall knob for clustered real-world corpora). */
  def trainIvfCentroids(corpus: DataFrame, init: Array[Array[Double]],
                        iters: Int): Array[Array[Double]] = {
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    val sc = corpus.sparkSession.sparkContext
    var cents = init
    var it = 0
    while (it < iters) {
      val bc = sc.broadcast(cents)
      val sums =
        try corpus
          .select(
            try_element_at(fns.top_cells(
              col("embedding").cast("array<double>"), bc, 1), lit(1))
              .as("cell"),
            posexplode(col("embedding").cast("array<double>")))
          .groupBy("cell", "pos")
          .agg(sum("col").as("s"), count(lit(1)).as("n"))
          .collect()
        // the per-iteration broadcast is dead once the assignment job
        // finishes — destroy it, or `iters` rounds pin `iters` copies of
        // the centroid table in executor storage for the session's life
        finally bc.destroy()
      val next = cents.map(_.clone())
      sums.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
        val dim = cents(cell).length
        val mean = new Array[Double](dim)
        rows.foreach(r => mean(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
        next(cell) = l2normalize(mean)
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Mean cosine between each row and its nearest centroid — the
    * spherical k-means objective (higher = tighter clustering;
    * spec-gated to improve under [[trainIvfCentroids]]). Assignment via
    * the broadcast [[org.apache.spark.sql.graftfns.TopCells]] expression,
    * centroid values joined back from a broadcast dim of nCells rows. */
  def ivfObjective(corpus: DataFrame,
                   cents: Array[Array[Double]]): Double = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    val bc = spark.sparkContext.broadcast(cents)
    // top_cells yields 0-based centroid indices
    val centDf = cents.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cent")
    val vec = col("embedding").cast("array<double>")
    try corpus.select(vec.as("v"),
        try_element_at(fns.top_cells(vec, bc, 1), lit(1)).as("cell"))
      .join(broadcast(centDf), "cell")
      // coalesce: a zero-norm vector counts as similarity 0 (maximally
      // far from every centroid) rather than silently dropping out of
      // the mean — and an all-zero corpus yields 0.0, not a NULL that
      // would NPE the getDouble below
      .agg(avg(coalesce(
        try_divide(dot(col("v"), col("cent")), l2Norm(col("v"))),
        lit(0.0))))
      .head().getDouble(0)
    finally bc.destroy()
  }

  /** Spherical k-means corpus clustering surfaced as a first-class
    * operator — [[trainIvfCentroids]] (the IVF centroid trainer) run
    * for its own sake: deterministic init ([[sampleCentroids]], the k
    * lowest-vec_id vectors), `iters` Lloyd rounds, then ONE assignment
    * pass and a per-cluster rollup (size, mean cosine to centroid,
    * inertia = Σ(1−cos), id span). This is the curation-side use of the
    * trainer: bucket a corpus into semantic cells for per-cluster
    * sampling/dedup/inspection, where IVF uses the same cells only to
    * route probes.
    *
    * Scale shape: training shuffles ≤ k·dim partial-mean rows per round
    * (map-side combine over the posexplode — index metadata, never the
    * corpus); the readout is one broadcast-expression assignment
    * ([[org.apache.spark.sql.graftfns.TopCells]], no shuffle) + a
    * broadcast join against the k-row centroid dim + a k-group
    * aggregate. Only the k×dim centroid table is ever driver-resident.
    * Outputs round at 3 dp: training's unordered double summation is
    * bit-nondeterministic in the last ulps (documented on
    * [[trainIvfCentroids]]) and the grid sits ~10 orders above the
    * noise. Lloyd monotonicity of the Σ max-dot objective and
    * assignment optimality are gated in TextSimSpec. */
  def kmeansReadout(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val cents = trainIvfCentroids(corpus, sampleCentroids(corpus, k), iters)
    kmeansAssign(corpus, cents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        round(avg("cos"), 3).as("mean_cos"),
        round(sum(lit(1.0) - col("cos")), 3).as("inertia"),
        min("vec_id").as("min_vec"), max("vec_id").as("max_vec"))
      .orderBy("cluster")
  }

  /** Assignment pass shared by [[kmeansReadout]] and the TextSimSpec
    * optimality/monotonicity gates: each row's argmax-dot cluster via
    * the broadcast TopCells expression, with the raw dot (`dotc`, the
    * Lloyd Lyapunov quantity) and the cosine (`cos`; 0 for a zero-norm
    * vector — the ivfObjective convention) joined back from the k-row
    * centroid dim. */
  private[graft] def kmeansAssign(corpus: DataFrame,
                                  cents: Array[Array[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    val bc = spark.sparkContext.broadcast(cents)
    val centDf = cents.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cluster", "cent")
    corpus
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("cluster",
        try_element_at(fns.top_cells(col("v"), bc, 1), lit(1)))
      .join(broadcast(centDf), "cluster")
      .withColumn("dotc", dot(col("v"), col("cent")))
      .withColumn("cos", coalesce(
        try_divide(col("dotc"), l2Norm(col("v"))), lit(0.0)))
      .select("vec_id", "cluster", "dotc", "cos")
  }

  /** Centroids for an IVF index over `corpus`: deterministic corpus
    * sample, optionally refined by `trainIters` rounds of
    * [[trainIvfCentroids]]; shipped as ONE torrent broadcast, built
    * once per (corpus plan, input files, `nCellsReq`, `trainIters`) in
    * the [[SessionCache]]. `nCellsReq = 0` auto-sizes to the FAISS rule
    * of thumb ≈ 4·√N, rounded up to a power of two and clamped to
    * [16, 1024] ∩ [1, N] — sf0.1's 2000-vector bench corpus gets 256
    * cells. */
  private[graft] def ivfIndex(corpus: DataFrame, nCellsReq: Int,
      trainIters: Int = 0)
      : org.apache.spark.broadcast.Broadcast[Array[Array[Double]]] = {
    val spark = corpus.sparkSession
    val name = s"ivf|${corpus.queryExecution.analyzed.semanticHash()}|" +
      s"$nCellsReq|$trainIters"
    SessionCache.value(spark, name, corpus) {
      val n = corpus.count()
      val auto = roundUpPow2((4 * math.sqrt(n.toDouble)).toInt)
      val nCells = math.min(n,
        if (nCellsReq > 0) nCellsReq.toLong
        else math.min(1024, math.max(16, auto)).toLong).toInt
      val init = sampleCentroids(corpus, nCells)
      val cents =
        if (trainIters > 0) trainIvfCentroids(corpus, init, trainIters)
        else init
      spark.sparkContext.broadcast(cents)
    }
  }

  /** IVF (inverted-file) approximate top-k cosine neighbours — the other
    * canonical ANN scale shape next to [[annCosineLsh]]: the corpus is
    * partitioned into `nCells` cells by nearest centroid, probes search
    * only their `nProbe` nearest cells.
    *
    * Scale shape (each piece exists to survive a 100× scale-up):
    *   - Centroids ride a broadcast read by the codegen'd
    *     [[org.apache.spark.sql.graftfns.TopCells]] expression — NOT
    *     codegen literals, so generated-code size is O(1) and nCells can
    *     reach the 10⁴–10⁵ real IVF needs (auto-sizing picks ≈ 4·√N:
    *     256 on the sf0.1 bench corpus). Cell choice is per-row, no
    *     shuffle, and the probe side needs no top-k window for it.
    *   - The candidate equi-join key is (cell, shard) with the corpus
    *     sharded by id hash: reduce parallelism is nCells·`shards`, never
    *     bounded by the cell count alone (the round-2 ceiling was ≤16
    *     reduce partitions owning the whole corpus). Probes replicate
    *     ×shards as slim (id, cell, shard) rows; vectors join back once.
    *   - Exact rescore + per-probe top-k on slim (id, id, sim) rows.
    *
    * Per probe the work is ≈ nProbe·N/nCells instead of N; recall tunes
    * via nProbe (nProbe = nCells degenerates to exact search — spec-
    * pinned). `nCells`/`nProbe` = 0 auto-size to 4·√N and nCells/4;
    * `shards` = 0 auto-sizes to the smallest count with nCells·shards ≥
    * `spark.sql.shuffle.partitions` — sharding exists to decouple reduce
    * parallelism from the cell count, so when cells already exceed the
    * cluster's partitioning (256 ≥ 32 on the bench rig) one shard is
    * correct and the probe fan-out stays ×nProbe only. */
  def annCosineIvf(probes: DataFrame, corpus: DataFrame, k: Int,
                   nCells: Int = 0, nProbe: Int = 0,
                   shards: Int = 0, trainIters: Int = 0): DataFrame = {
    require(nCells >= 0 && nProbe >= 0 && shards >= 0 && trainIters >= 0,
      s"need nCells ($nCells), nProbe ($nProbe), shards ($shards), " +
        s"trainIters ($trainIters) >= 0")
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    val bc = ivfIndex(corpus, nCells, trainIters)
    val cells = bc.value.length
    // an empty corpus has no cells and no neighbours: return the empty
    // result directly instead of tripping an opaque nProbe<=nCells guard
    if (cells == 0)
      return probes.select(col("vec_id").as("probe_id"),
        col("vec_id").as("neighbor_id"), lit(0d).as("sim"),
        lit(0L).as("rn")).limit(0)
    val probeK = if (nProbe > 0) nProbe else math.max(4, cells / 4)
    require(probeK <= cells,
      s"nProbe ($probeK) must be <= nCells ($cells)")
    val nShards =
      if (shards > 0) shards
      else {
        val target = corpus.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt
        math.max(1, (target + cells - 1) / cells)
      }
    val corpusCells = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("neighbor_vec"))
      .withColumn("neighbor_norm", l2Norm(col("neighbor_vec")))
      // loud-empty on dim mismatch: top_cells yields [], try_element_at
      // NULL, and the equi-join matches nothing (never a wrong bucket)
      .withColumn("cell",
        try_element_at(fns.top_cells(col("neighbor_vec"), bc, 1), lit(1)))
      .withColumn("shard",
        pmod(xxhash64(col("neighbor_id")), lit(nShards.toLong)).cast("int"))
    // cell choice is per-row inside top_cells (no posexplode + top-k
    // window like round 2), so the probe explode is a NARROW op — the
    // vector rides along for free until the one real shuffle, the
    // (cell, shard) candidate join, which needs it for the rescore
    // anyway. Fan-out is ×probeK×nShards rows per probe.
    val probeCells = probes.select(col("vec_id").as("probe_id"),
        col("embedding").cast("array<double>").as("probe_vec"))
      .withColumn("probe_norm", l2Norm(col("probe_vec")))
      .withColumn("cell",
        explode(fns.top_cells(col("probe_vec"), bc, probeK)))
      .withColumn("shard", explode(sequence(lit(0), lit(nShards - 1))))
    val cand = probeCells
      .join(corpusCells, Seq("cell", "shard"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("sim", roundedSim(col("probe_vec"), col("neighbor_vec"),
        col("probe_norm"), col("neighbor_norm")))
      .select("probe_id", "neighbor_id", "sim")
    Relational.topKPerGroup(cand, Seq(col("probe_id")),
        Seq(col("sim").desc, col("neighbor_id")), k)
      .select(col("probe_id"), col("neighbor_id"), col("sim"),
        col("rn").cast("long").as("rn"))
  }

  /** Seeded Johnson-Lindenstrauss projection matrix: k rows × d cols of
    * Rademacher ±1/√k entries. A pure function of (seed, k, d) — every
    * executor and every rerun regenerates the identical matrix, so it is
    * never stored, broadcast, or shuffled (the q_vec_ann_lsh
    * seed-regenerated-planes discipline). Rademacher satisfies the JL
    * lemma with the same guarantees as Gaussian entries (Achlioptas,
    * "Database-friendly random projections") and costs one sign flip
    * per entry. */
  def jlMatrix(seed: Long, k: Int, d: Int): Array[Array[Double]] = {
    require(k > 0 && d > 0, s"k ($k) and d ($d) must be positive")
    val rnd = new scala.util.Random(seed)
    val scale = 1.0 / math.sqrt(k.toDouble)
    Array.fill(k)(Array.fill(d)(if (rnd.nextBoolean()) scale else -scale))
  }

  /** IVF-PQ approximate top-k cosine neighbours — the composed index
    * every production ANN system at 10⁹+ vectors runs (FAISS IVFPQ):
    * the IVF coarse quantizer prunes WHICH rows are candidates (visit
    * `nProbe` of `nCells` cells ⇒ touch ≈ nProbe/nCells of the corpus),
    * PQ's ADC scorer prunes HOW MUCH each candidate costs (m byte-code
    * lookups instead of a dim-double dot), and the exact rescore on the
    * shortlist restores full-precision ranking. Either stage alone
    * leaves a scale gap — IVF-only rescores whole cells exactly,
    * PQ-only ADC-scans the whole corpus; composed, the per-probe cost
    * is ≈ (N·nProbe/nCells) LUT scans + `shortlist` exact dots.
    *
    * Spark shape: centroids ride the [[ivfIndex]] broadcast read by the
    * codegen'd TopCells expression (cell choice per-row, no shuffle);
    * the probe's cell set is ranked on the DRIVER over the broadcast
    * centroid table (nCells dot products — index metadata, not corpus);
    * candidate filter + PQ encode + ADC run in one narrow pass; only
    * the shortlist (≤ `shortlist` rows) shuffles for the top-k sort and
    * vector join-back. Recall tunes via (nProbe, shortlist); nProbe =
    * nCells AND shortlist = N degenerates to exact search (spec-pinned,
    * same contract as the IVF and PQ singles). */
  def annCosineIvfPq(corpus: DataFrame, probeId: Long, k: Int,
                     shortlist: Int, nCells: Int = 0, nProbe: Int = 0,
                     m: Int = 8, ksub: Int = 16): DataFrame = {
    require(k > 0 && shortlist > 0 && nCells >= 0 && nProbe >= 0,
      s"need k ($k), shortlist ($shortlist) > 0; " +
        s"nCells ($nCells), nProbe ($nProbe) >= 0")
    val fns = org.apache.spark.sql.graftfns.VectorFunctions
    val bc = ivfIndex(corpus, nCells)
    val cells = bc.value.length
    if (cells == 0)
      return corpus.select(col("vec_id").as("neighbor_id"),
        lit(0d).as("sim_r"), lit(0d).as("adc_r")).limit(0)
    val probeK = math.min(cells, if (nProbe > 0) nProbe
      else math.max(4, cells / 4))
    val probe = corpus.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>"))
      .collect()
    require(probe.nonEmpty, s"probe id $probeId not in corpus")
    val p = probe(0).getSeq[Double](0).toArray
    val pn = math.sqrt(p.map(x => x * x).sum)
    // rank cells driver-side over the broadcast centroid table:
    // nCells · dim multiplies of index metadata (ties break on index)
    val probeCells = bc.value.zipWithIndex
      .map { case (c, i) =>
        (c.zip(p).map { case (a, b) => a * b }.sum, i)
      }
      .sortBy { case (d, i) => (-d, i) }
      .take(probeK).map(_._2)
    val cb = graft.ops.ProductQuant.sampleCodebooks(
      corpus, "vec_id", "embedding", m, ksub)
    val cand = corpus.filter(col("vec_id") =!= probeId)
      .withColumn("cell", try_element_at(
        fns.top_cells(col("embedding").cast("array<double>"), bc, 1),
        lit(1)))
      .filter(col("cell").isin(probeCells.map(_.asInstanceOf[Any]): _*))
    val short = graft.ops.ProductQuant.encode(cand, "embedding", cb)
      .withColumn("adc", graft.ops.ProductQuant.adcScore(
        col("codes"), p, cb))
      .select(col("vec_id"), col("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(shortlist)
    val pLit = typedLit(p.toSeq)
    short.join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .withColumn("sim_r",
        round(dot(col("embedding").cast("array<double>"), pLit) /
          (l2Norm(col("embedding").cast("array<double>")) * lit(pn)), 4))
      .select(col("vec_id").as("neighbor_id"), col("sim_r"),
        round(col("adc"), 4).as("adc_r"))
      .orderBy(col("sim_r").desc, col("neighbor_id"))
      .limit(k)
  }

  /** Edges per task in [[dedupGroups]]'s partition-local contraction: a
    * task's union-find map holds ≤ 2·this many entries (~64 MB of boxed
    * longs) — the knob that bounds executor memory as the graph grows. */
  private val ccEdgesPerTask = 2L * 1000 * 1000

  /** Connected components over a near-duplicate pair graph — the step
    * that turns PAIRS into dedup GROUPS (training-data dedup keeps one
    * canonical doc per component; ref dedup-by-key family
    * `web_scraper/web_scraping.py:517-521` lifted from keys to graphs).
    *
    * Partition-local contraction (the "CC in MapReduce" family): each
    * round hash-partitions the edge list by source and runs an in-memory
    * union-find ([[GraphLocal.components]]) per partition
    * (`mapPartitions` — the genuinely
    * imperative per-partition step), emitting every seen node labeled
    * with its LOCAL component minimum. A node whose edges landed in
    * several partitions comes back with several labels — exactly the
    * evidence that its local components are one global component — so
    * the follow-up groupBy(node) both picks the min label and turns each
    * extra label into a contracted edge (minLabel, otherLabel). The next
    * round runs on the contracted graph only, which shrinks by roughly
    * the partition fan-in each time: real near-dup graphs finish in 1-2
    * rounds (vs. log-diameter rounds of label propagation, each paying
    * fixed scheduler/AQE-stage latency — measured 0.5-0.7 s/round at ANY
    * data size, which made the declarative loop the #1 bench cost).
    *
    * Scale shape: the partition count is ⌈edges / ccEdgesPerTask⌉ capped
    * at spark.sql.shuffle.partitions, so per-task state stays bounded as
    * the graph grows and a tiny graph collapses to one exchange-free
    * task. Convergence witness = contracted-edge COUNT reaching zero —
    * no label-sum arithmetic, so there is nothing to overflow under
    * ANSI mode and no sentinel to conflate with legitimate zero/negative
    * ids. The driver loop holds only that count; mappings compose via
    * one (left) join per round and every round's output is
    * `localCheckpoint()`ed to truncate lineage.
    *
    * Deterministic: hash partitioning of edges is a pure function of the
    * edge set and partition count, the local minimum is order-free, and
    * the final label is the component's global minimum id regardless of
    * the contraction path. Ids are handled as longs (the engine's id
    * type — Normalize's surrogate keys and vec_id/doc_id are all
    * BIGINT). */
  def dedupGroups(nodes: DataFrame, pairs: DataFrame,
                  maxIters: Int = 50,
                  edgesPerTask: Long = ccEdgesPerTask): DataFrame = {
    require(edgesPerTask > 0, s"edgesPerTask ($edgesPerTask) must be > 0")
    val spark = nodes.sparkSession
    import spark.implicits._
    val maxP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    var edges = pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .as[(Long, Long)]
      .localCheckpoint() // materialize once; the loop re-reads blocks
    var eCount = edges.count()
    // node → current best (smallest-known) component label; only nodes
    // that touch an edge appear — isolates can never change label and
    // rejoin with label = own id at the end
    var mapping: DataFrame = null
    var round = 0
    while (eCount > 0) {
      require(round < maxIters,
        s"dedupGroups did not converge in $maxIters rounds")
      val p = math.max(1,
        math.min(maxP.toLong, (eCount + edgesPerTask - 1) / edgesPerTask))
        .toInt
      // partition on BOTH endpoints: the contraction is correct under
      // any edge partitioning, but hashing by u alone sends every edge
      // of a hub component (one canonical doc paired with millions of
      // near-copies, or contracted edges that all share u = mroot) to a
      // single task, making its union-find map unbounded. Hashing the
      // (u, v) pair spreads hub edges uniformly, so per-task state
      // actually tracks edgesPerTask.
      val local = edges.repartition(p, col("u"), col("v"))
        .mapPartitions(it => GraphLocal.components(it).iterator)
        .toDF("node", "root")
      val agg = local.groupBy("node")
        .agg(min("root").as("mroot"), collect_set("root").as("roots"))
        .localCheckpoint()
      val m = agg.select(col("node"), col("mroot").as("root"))
      // compose: anything previously labeled with a node this round
      // relabeled follows it down (round r's graph nodes are round r-1's
      // labels, so the join key is the LABEL side)
      mapping =
        if (mapping == null) m.localCheckpoint()
        else mapping
          .join(m.select(col("node").as("__k"), col("root").as("__r")),
            col("root") === col("__k"), "left")
          .select(col("node"),
            coalesce(col("__r"), col("root")).as("root"))
          .localCheckpoint()
      edges = agg.filter(size(col("roots")) > 1)
        .select(col("mroot").as("u"), explode(col("roots")).as("v"))
        .filter(col("u") =!= col("v"))
        .as[(Long, Long)]
        .localCheckpoint()
      eCount = edges.count()
      round += 1
    }
    // node id column = the nodes frame's (single) column — callers pass
    // vec_id (embedding dedup) or doc_id (text dedup); the output keeps
    // the caller's name
    val idCol = nodes.columns.head
    val base = nodes.select(col(idCol))
    if (mapping == null) base.withColumn("group_id", col(idCol))
    else base
      .join(mapping.select(col("node").as(idCol), col("root").as("__g")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__g"), col(idCol)).as("group_id"))
  }

  /** Brute-force top-k cosine neighbours for each probe row: the baseline
    * kNN join (BroadcastNestedLoop × probe count). At scale you bound the
    * probe side or move to the LSH/IVF bucketed variant; the per-probe
    * top-k window keeps only k rows per probe after the join. */
  /** NN-Descent approximate kNN GRAPH (Dong et al., WWW'11) — the
    * distributed graph-ANN construction story next to the LSH/IVF/PQ
    * probe paths: the offline build that graph indexes (HNSW base
    * layers, navigable small-world graphs) start from. The principle is
    * "a neighbor of a neighbor is likely a neighbor": start from a
    * deterministic ring graph, then each round every node proposes its
    * neighbors' neighbors as candidates, rescores them exactly, and
    * keeps its best k — each node's k-th-best similarity is
    * monotonically non-decreasing (candidates only ever ADD to the
    * pool), so recall vs exact kNN can only improve with rounds
    * (TextSimSpec pins the curve).
    *
    * Scale shape, per round: the edge list (N·k rows, both directions)
    * self-joins on the shared endpoint — a co-keyed equi-join fanning
    * out ≤ N·(2k)² slim (src, dst) candidates, never a quadratic
    * all-pairs — then one rescore join against the vectors (norms
    * precomputed; per-pair work = one codegen'd dot product) and a
    * WindowGroupLimit top-k on src. Every shuffle key is a node id;
    * nothing is ever driver-resident except the round counter. Each
    * round's graph is `localCheckpoint()`ed (the dedupGroups
    * discipline): the next round re-reads materialized blocks instead
    * of replaying a growing lineage. Init is a RING over the
    * [[Relational.globalRowNumber]] rank order (deterministic, no RNG,
    * no assumption that ids are dense); ties break (sim desc, dst asc)
    * with the same rounded cosine every scoring site shares, so the
    * whole build is a pure function of the corpus. */
  def nnDescentGraph(corpus: DataFrame, k: Int, iters: Int,
                     buildK: Int = 0): DataFrame = {
    require(k > 0 && iters >= 0,
      s"need k ($k) > 0 and iters ($iters) >= 0")
    val vecs0 = corpus.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
      .withColumn("norm", l2Norm(col("vec")))
    // Ring order = (murmur3 hash bucket of vec_id over a PINNED 32-way
    // layout, vec_id within bucket) — a content-pure deterministic
    // permutation of the id set, exactly as arbitrary as the id order
    // a range sort would give (a seed ring has no meaningful order),
    // but the hash exchange needs NO RangePartitioner sampling job
    // (r16: one of the per-job overheads that dominated the demo
    // slice). N rides the GlobalIndex offsets job as a byproduct — no
    // separate count job either. Ranked off the raw corpus so N is
    // known BEFORE deciding whether the vector table needs its own
    // materialization (below).
    val (ranked, n) = org.apache.spark.sql.graftfns.GlobalIndex
      .attachWithTotal(
        corpus.select(col("vec_id").cast("long").as("vec_id"))
          .repartition(32, col("vec_id"))
          .sortWithinPartitions("vec_id"), "rank")
    // one materialization for the whole descent: every rescore join
    // (two per round) and the broadcast builds of the small-build
    // regime read these blocks instead of re-scanning the corpus —
    // rounds are separate query executions (split by their own
    // checkpoints), so exchange reuse alone cannot carry vecs across
    // them
    val vecs = vecs0.localCheckpoint()
    // the graph is BUILT wider than it is read: a k-NN list this sparse
    // cannot bootstrap (neighbors-of-neighbors of 5 arbitrary nodes stay
    // arbitrary); NN-Descent's standard remedy is a working K of a few
    // dozen, emitting the requested top-k at the end. 4·k floor, 24
    // default — candidates per round stay ≤ N·(2K)².
    val bk = if (buildK > 0) buildK else math.max(4 * k, 24)
    val kk = math.min(math.max(k, bk).toLong, math.max(n - 1, 0L)).toInt
    if (kk == 0) // 0- or 1-vector corpus: no neighbours exist
      return vecs.select(col("vec_id"), col("vec_id").as("neighbor_id"),
        lit(0d).as("sim"), lit(0L).as("rn")).limit(0)
    // small-build regime: the N this build already computed picks the
    // join strategy exactly as AQE would with known stats — at demo N
    // the vector sides and the ring lookup broadcast (no exchange per
    // rescore join), at scale every one of these joins falls back to
    // its node-keyed shuffle form. Each broadcast side gets its OWN
    // bound sized to its row weight (r18 ADVICE — one shared 2^20
    // cutoff put multi-GB embedding-bearing relations and ~50M-row
    // candidate sets on the driver in the gap before the shuffle
    // fallback engaged): the vector table carries dim doubles per row
    // (2^16 rows ≈ 40 MB at dim 64), the candidate pair set carries
    // two longs per row but 2·N·K rows (bound the ROW COUNT, not N),
    // and the id-only ring lookup is the lightest (2^20 rows ≈ 50 MB).
    val smallN = n <= (1L << 16)
    def vside = if (smallN) broadcast(vecs) else vecs
    // Round parallelism stays at the session's configured fan-out: a
    // low-partition layout was probed in r20 (derive the count from
    // the 2·N·K edge bound → 1 partition at the demo slice) and
    // MEASURED SLOWER (2.5 → 3.9 s): the per-round volume that matters
    // is the candidate fan ≤ N·(2K)² (~1.15M pair rows here), whose
    // dedup + rescore is real parallel compute, not scheduling floor —
    // the flat layout is already right-sized for it.
    // BOTH rescore sides join the IDENTICAL vecs subtree (aliased, not
    // re-projected): exchange reuse then materializes it ONCE for the
    // whole descent — the per-side renamed projections used to cost a
    // separate broadcast job per join per round (r16: 6 broadcast jobs
    // collapse to 1 at the job-overhead-bound demo size; at scale the
    // same identity lets the shuffle exchange be reused instead)
    def rescore(pairs: DataFrame): DataFrame =
      pairs
        .join(vside.as("va"), col("src") === col("va.vec_id"))
        .join(vside.as("vb"), col("dst") === col("vb.vec_id"))
        .select(col("src"), col("dst"),
          round(try_divide(dot(col("va.vec"), col("vb.vec")),
            col("va.norm") * col("vb.norm")), 4).as("sim"))
        // a zero-norm vector scores null — not a neighbor; dropping it
        // here keeps the fused top-k's struct sort null-free (the
        // windowed form ranked nulls last, same outcome)
        .filter(col("sim").isNotNull)
    // fused dedup + top-k (r16): ONE src-keyed aggregation replaces
    // the (src, dst)-dedup exchange AND the row_number window exchange
    // the rounds used to pay — collect_set dedups re-arrived pairs
    // (the same pair always carries the same rounded sim, so the
    // structs are identical), array_sort orders by (-sim, dst) =
    // (sim DESC, dst ASC) — the shared tie-break — and slice keeps the
    // working K. Per-src set size is bounded by the (2K)² candidate
    // fan, never by the data. sim is 4-dp BigDecimal-rounded, so -0.0
    // cannot appear and the negation is order-exact.
    // rn (1-based rank within the sorted slice) rides along for free:
    // the final k-cut is then a FILTER on rn — no closing window pass
    def topK(scored: DataFrame): DataFrame =
      scored.groupBy("src")
        .agg(slice(array_sort(collect_set(
          struct((-col("sim")).as("ns"), col("dst"), col("sim")))),
          1, kk).as("top"))
        .select(col("src"), posexplode(col("top")).as(Seq("p", "t")))
        .select(col("src"), col("t.dst").as("dst"),
          col("t.sim").as("sim"), (col("p") + 1).cast("long").as("rn"))
    // init = ring ∪ LSH chains. The ring (node at rank r → ranks
    // r+1..r+k mod n over the globalRowNumber order) guarantees every
    // node starts connected regardless of data; the LSH chains (each
    // vector linked to its next 2 bucket-mates per sign-LSH table,
    // vec_id order within bucket) start the graph out already CORRELATED
    // with similarity, which is what lets descent converge in 1-2 rounds
    // instead of the ~log N a cold random graph needs on weakly
    // clustered data. Both parts are RNG-free pure functions of the
    // corpus (the LSH planes are seed-regenerated, the annCosineLsh
    // contract).
    val byRank0 = ranked.select(col("rank").as("nbr_rank"),
      col("vec_id").as("dst"))
    // the ring lookup side is N id-only rows — the lightest broadcast
    // candidate, so it keeps the widest bound (2^20 rows ≈ 50 MB; at
    // scale the node-keyed shuffle join stands)
    val byRank = if (n <= (1L << 20)) broadcast(byRank0) else byRank0
    val ringK = math.min(kk.toLong, math.max(n - 1, 1L)).toInt
    val ringSeeds = ranked
      .select(col("vec_id").as("src"), col("rank"),
        explode(sequence(lit(1), lit(ringK))).as("j"))
      .withColumn("nbr_rank", (col("rank") - 1 + col("j")) % n + 1)
      .join(byRank, "nbr_rank")
      .select("src", "dst")
    val wBucket = Window.partitionBy("bucket").orderBy("vec_id")
    val lshSeeds = vecs
      .select(col("vec_id"),
        explode(lshBuckets(col("vec"), nTables = 4, bits = 6))
          .as("bucket"))
      // window first, generator second: a generator argument may not
      // contain a window expression
      .select(col("vec_id"),
        lead("vec_id", 1).over(wBucket).as("n1"),
        lead("vec_id", 2).over(wBucket).as("n2"))
      .select(col("vec_id").as("src"),
        explode(array(col("n1"), col("n2"))).as("dst"))
      .filter(col("dst").isNotNull)
    // eager localCheckpoint per round (the dedupGroups discipline):
    // each round's graph is referenced three times by the next round
    // (both sides of the neighbors-of-neighbors self-join + the merge
    // union), and a LAZY persist measurably recomputes the shared
    // subtree before the cache fills — wall time went superlinear in
    // rounds when tried. One materialization job per round is the
    // cheaper trade at any round count.
    // ONE exchange for the whole init: repartition the seed pairs by
    // src, then dedup + rescore + top-k are all partition-local
    // (HashPartitioning(src) satisfies the (src, dst) dedup's and the
    // src top-k's clustering; the rescore joins preserve it)
    var edges =
      topK(rescore(ringSeeds.unionByName(lshSeeds)
        .repartition(col("src")).dropDuplicates("src", "dst")))
        .localCheckpoint()
    var rnd = 0 // not `round`: would shadow functions.round used above
    while (rnd < iters) {
      val pairs = edges.select("src", "dst")
      val und = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      // n-of-n self-join; the probe side broadcasts only while the
      // 2·N·K pair-row count stays bounded (its own regime — the pair
      // set outgrows the vector table by a factor of K), shuffle-joins
      // at scale
      val e2 = if (2L * n * kk <= (1L << 22)) broadcast(und.as("e2"))
               else und.as("e2")
      val cands = und.as("e1")
        .join(e2, col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      // ONE exchange per round (r16; the distinct + merge-groupBy +
      // top-k window used to cost three): existing edges rejoin as
      // bare pairs (their sims RECOMPUTE identically — same rounded
      // formula over the same vectors), the union repartitions by
      // src once, and dedup + rescore + top-k all run partition-local
      // downstream. Dedup stays BEFORE rescore: the n-of-n fan
      // re-proposes a pair once per shared neighbor (~10x), and
      // deduping after rescore measured 3x slower (the collect_set
      // partials churn through every dup copy).
      val allPairs = pairs.unionByName(cands)
        .repartition(col("src"))
        .dropDuplicates("src", "dst")
      // the final round checkpoints too (r19): the k-cut below often
      // feeds a BROADCAST consumer (the recall readout), and an
      // unmaterialized final round then executes inside the 1-task
      // broadcast-build job — measured 0.8 s single-threaded where the
      // same work is ~0.1 s across the session's cores; the extra
      // materialization job is the cheaper trade on every path
      edges = topK(rescore(allPairs)).localCheckpoint()
      rnd += 1
    }
    // final k-cut = a filter on the rank topK already computed — the
    // working graph is sorted per src, so rn ≤ k IS the top-k
    edges.filter(col("rn") <= math.min(k, kk))
      .select(col("src").as("vec_id"), col("dst").as("neighbor_id"),
        col("sim"), col("rn"))
  }

  def knnJoin(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // broadcast the (small) probe side: the BNL join then streams the
    // corpus once per task with probes resident, instead of shipping the
    // corpus to the probes. Norms are precomputed per side — the join
    // then computes only the dot product per pair, not three folds.
    val joined = broadcast(probes.select(col("vec_id").as("probe_id"),
        col("embedding").cast("array<double>").as("probe_vec"))
        .withColumn("probe_norm", l2Norm(col("probe_vec"))))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("neighbor_vec"))
        .withColumn("neighbor_norm", l2Norm(col("neighbor_vec"))),
        col("probe_id") =!= col("neighbor_id"))
      .withColumn("sim", roundedSim(col("probe_vec"), col("neighbor_vec"),
        col("probe_norm"), col("neighbor_norm")))
      // drop the vectors before the top-k shuffle: (id, id, sim) rows
      // instead of 64-double payloads
      .select("probe_id", "neighbor_id", "sim")
    Relational.topKPerGroup(joined, Seq(col("probe_id")),
        Seq(col("sim").desc, col("neighbor_id")), k)
      .select(col("probe_id"), col("neighbor_id"), col("sim"),
        col("rn").cast("long").as("rn"))
  }
}
