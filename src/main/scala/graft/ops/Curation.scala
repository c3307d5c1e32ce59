package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.HashFunctions.sha256_prefix

/** Corpus-curation operators for training-data pipelines: sliding-window
  * document chunking, int8 embedding quantization, TF-IDF term scoring
  * and SCD-2 validity intervals (SURVEY.md §2.P). Reference basis: the
  * text/embedding curation family mandated by the north star on top of
  * the reference's text fields (`web_scraper/web_scraping.py:325-333`)
  * and its append-driven change records
  * (`database/parse_and_upload_to_db.py:31-47`).
  *
  * Everything here is a pure expression pipeline or a single-shuffle
  * window/aggregate — per-row work is codegen'd, shuffles only on the
  * declared keys, so each operator scales linearly with the corpus.
  */
object Curation {

  /** Per-document DEFLATE compression ratio — the repetitiveness signal
    * the n-gram dup-rate family can't see (a document that paraphrases
    * itself, or boilerplate with rotating tokens, compresses far better
    * than natural prose even when no n-gram repeats verbatim). One
    * Deflater per PARTITION (native zlib state is expensive to create,
    * cheap to `reset()`), rows stream through without materializing the
    * partition.
    * Returns (id, n_bytes, comp_bytes). No shuffle: scan → narrow map.
    * Level 6 deflate of the same bytes is deterministic within a JVM;
    * across zlib builds the LENGTH can drift by a few bytes, which is
    * why the consumer is Q-tier (ratio-band spec gates), not hash-tier. */
  def deflateStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6, false)
        var ended = false
        def release(): Unit = if (!ended) { ended = true; d.end() }
        // a downstream limit/take abandons the iterator before drain —
        // the task-completion hook frees the native state either way
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => release()))
        val buf = new Array[Byte](1 << 16)
        new Iterator[(Long, Long, Long)] {
          override def hasNext: Boolean = {
            val h = it.hasNext
            if (!h) release() // release native zlib state eagerly
            h
          }
          override def next(): (Long, Long, Long) = {
            val (id, text) = it.next()
            val in = Option(text).getOrElse("").getBytes("UTF-8")
            d.reset(); d.setInput(in); d.finish()
            var total = 0L
            while (!d.finished()) total += d.deflate(buf)
            (id, in.length.toLong, total)
          }
        }
      }
      .toDF(idCol, "n_bytes", "comp_bytes")
  }

  /** Sliding-window token chunks: split each document into windows of
    * `window` tokens taken every `stride` tokens (overlap = window −
    * stride). Chunk starts are `0, stride, 2·stride, … < max(n − overlap,
    * 1)` — the upper bound skips tail windows that would add no token not
    * already covered (a start within `overlap` of the end is fully
    * contained in the previous window). Emits one row per chunk with its
    * token count and a content hash; per-row generator, no shuffle — the
    * 100 TB shape is scan → explode → scan-local projection.
    *
    * The start grid, slice semantics and hash are mirrored exactly by the
    * DuckDB oracle (`range`/`list_slice`/`sha256`), so the operator is
    * O-tier despite the generator. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val overlap = window - stride
    val w = split(col(textCol), " ")
    // sequence(0, L-1, stride) = all starts < L (inclusive bound lands on
    // the grid only when L-1 is a multiple of stride — same set as the
    // oracle's exclusive range(0, L, stride))
    val lastStart = greatest(size(col("w")) - lit(overlap), lit(1)) - 1
    val chunk = slice(col("w"), col("start") + 1, lit(window))
    // explicit: a null document yields no chunks. posexplode over the
    // null sequence would drop the row anyway, but engines disagree on
    // that edge (DuckDB's range(NULL,...) emits a row), so the contract
    // is stated here rather than left to generator semantics.
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), w.as("w"))
      .select(col(idCol), col("w"),
        posexplode(sequence(lit(0), lastStart, lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        size(chunk).cast("long").as("n_tokens"),
        sha2(concat_ws(" ", chunk), 256).as("chunk_sha"))
  }

  /** Symmetric int8 scalar quantization of a float-vector column: scale
    * = 127 / max|x| (guarded for the zero vector), code = ⌊x·scale +
    * 0.5⌋ — floor-based half-up, chosen over `round()` because both
    * engines define `floor` identically on doubles, so the codes are
    * bit-deterministic. This is the 4× embedding-compression step before
    * ANN at 100 TB (codes ship a quarter of the bytes through every
    * downstream shuffle); reconstruction error ≤ 1/(2·scale) per
    * coordinate is asserted in CurationSpec.
    *
    * Implemented as ONE codegen'd expression
    * ([[org.apache.spark.sql.graftfns.QuantizeInt8]]): the equivalent
    * higher-order formulation (`transform(v, x -> floor(x·s + 0.5))`
    * over a separately-projected `s = 127/array_max(...)`) runs on the
    * interpreted lambda path AND needs a CollapseProject-shaped plan to
    * avoid re-evaluating max|x| per element; the expression computes
    * codes + scale in one compiled traversal. Same arithmetic → same
    * DuckDB oracle. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val q = org.apache.spark.sql.graftfns.QuantFunctions
      .quantize_int8(col(vecCol).cast("array<double>"))
    // struct materialized below the field extraction: the upper select
    // references it twice (codes, scale), and an attribute is cheap to
    // duplicate where the quantization kernel is not
    df.select(col(idCol), q.as("q"))
      .select(col(idCol),
        col("q.codes").as("codes"),
        round(col("q.scale"), 4).as("scale_r"))
  }

  /** Per-document top-k TF-IDF terms. IDF is the rational form n_docs/df
    * rather than ln(n_docs/df): the two differ only by a per-term
    * monotone map, and integer-derived double arithmetic is
    * bit-deterministic across engines, where libm `log` is not — the
    * ranking therefore never flips on a last-ulp disagreement with the
    * oracle. Dataflow: explode → (doc, term) count → term-keyed df join →
    * per-doc window top-k. The shuffles carry the distinct (doc, term)
    * pairs and the vocabulary — never the raw token stream — and the
    * per-doc window state is one row, so the shape holds at corpus scale
    * (the df side broadcasts when the vocabulary fits, which AQE decides
    * from runtime sizes). */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextSim.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val win = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("score", (col("tf") * col("n_docs")) / col("df"))
      .withColumn("rn", row_number().over(win).cast("long"))
      .filter(col("rn") <= k)
      .select(col(idCol), col("rn"), col("term"), col("tf"),
        round(col("score"), 4).as("score_r"))
  }

  /** Per-cluster centroid of a vector column, long format (cluster,
    * pos, n, centroid) — the k-means M-step / embedding-pooling
    * primitive. ONE two-phase aggregate over the posexploded corpus:
    * map-side partials collapse each task to ≤ clusters·dim rows, so
    * the shuffle ships centroid-sized metadata regardless of corpus
    * size. Sums accumulate in exact decimals — float summation order is
    * the classic distributed-mean nondeterminism, so the result is a
    * pure function of the DATA, independent of partition layout
    * (LayoutInvarianceSpec executes that claim) — and the single IEEE
    * division afterwards is bit-identical across engines. */
  def clusterCentroids(df: DataFrame, clusterCol: Column,
                       vecCol: String): DataFrame =
    df.select(clusterCol.as("cluster"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy("cluster", "pos")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,12)")).as("sx"))
      .select(col("cluster"), col("pos").cast("long").as("pos"), col("n"),
        round(col("sx").cast("double") / col("n"), 6).as("centroid"))

  /** Hashing-trick featurizer: tokens map into a fixed `buckets`-sized
    * feature space via sha-bucket arithmetic (the q_sample_hash split
    * mechanism keyed on the token), counts per (id, bucket) — long
    * format, the sparse layout trainers consume. Bag-of-words with NO
    * vocabulary build: no vocab broadcast, no OOV path, and a
    * document's features never depend on what else is in the corpus
    * (rerun/growth-stable). Shuffle carries ≤ `buckets` partials per
    * document per task after map-side combine. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  buckets: Int): DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    df.select(col(idCol), explode(TextSim.tokens(col(textCol))).as("tok"))
      .withColumn("bucket",
        sha256_prefix(col("tok"), 7) % buckets)
      .groupBy(idCol, "bucket")
      .agg(count(lit(1)).as("n"))
  }

  /** Benchmark decontamination: drop every corpus row whose CONTENT
    * fingerprint (sha256 of `textCol`) appears in `evalDocs` — matching
    * on the hash, not the id, removes verbatim copies of an eval
    * document wherever they live. The eval side reduces to fingerprints
    * (hashes, never text) and broadcasts: at 100 TB the corpus streams
    * map-side against a few MB of benchmark hashes, zero corpus
    * shuffle. */
  def decontaminate(corpus: DataFrame, textCol: String,
                    evalDocs: DataFrame, evalTextCol: String): DataFrame = {
    val tagged = corpus.withColumn("text_sha", sha2(col(textCol), 256))
    val evalShas = evalDocs
      .select(sha2(col(evalTextCol), 256).as("eval_sha")).distinct()
    tagged.join(broadcast(evalShas),
      col("text_sha") === col("eval_sha"), "left_anti")
  }

  /** SCALE TWIN of [[decontaminate]]: when the eval set outgrows a raw
    * broadcast (10⁹ benchmark fingerprints ≈ 64 GB of sha strings), a
    * Bloom filter carries the same membership test in
    * n·ln(1/fpp)/ln²2 bits (~1.2 GB at n = 10⁹, fpp = 1%). The price is
    * an fpp fraction of innocent documents dropped — harmless for
    * training-data hygiene, because the guarantee that MATTERS is
    * one-sided: a Bloom filter has NO false negatives, so recall on
    * true eval members stays exactly 1.0 (pinned in CurationSpec). The
    * filter builds distributedly (`df.stat.bloomFilter` aggregates
    * per-partition filters; bit-OR is insertion-order-independent, so
    * the result is deterministic) and ships once per executor as a
    * broadcast value; the corpus then streams map-side through the
    * membership predicate — zero corpus shuffle, no join at all. The
    * predicate is a closure over the filter (Spark exposes no codegen'd
    * bloom-probe expression on a prebuilt filter) — one hash+bitset
    * probe per row, the map-side cost profile of the broadcast
    * anti-join it replaces.
    *
    * `expectedN` must upper-bound the DISTINCT eval fingerprints or the
    * realized fpp degrades beyond the requested bound — size it from
    * the eval corpus's row count, never guess low. An eval set with no
    * text builds no filter and removes nothing. */
  def decontaminateBloom(corpus: DataFrame, textCol: String,
                         evalDocs: DataFrame, evalTextCol: String,
                         expectedN: Long, fpp: Double): DataFrame = {
    val tagged = corpus.withColumn("text_sha", sha2(col(textCol), 256))
    val bf = org.apache.spark.sql.graftfns.BloomFilters.build(
      evalDocs.select(sha2(col(evalTextCol), 256).as("eval_sha"))
        .distinct(), "eval_sha", expectedN, fpp)
    bf.fold(tagged) { f =>
      val bcast = corpus.sparkSession.sparkContext.broadcast(f)
      // null-safe: a null text (⇒ null sha) KEEPS the row, exactly the
      // anti-join's null-never-matches semantics — and never NPEs the
      // probe
      val maybeContaminated = udf((sha: String) =>
        sha != null && bcast.value.mightContainString(sha))
      tagged.filter(!maybeContaminated(col("text_sha")))
    }
  }

  /** N-gram-level decontamination — the collision test production
    * pipelines actually run (the GPT-3 report used 13-gram overlap):
    * whole-document matching ([[decontaminate]]) misses a corpus
    * document that embeds PART of an eval item — a quoted question, a
    * pasted answer — while n-gram collision catches any shared
    * `n`-token span. Per corpus doc, reports how many of its DISTINCT
    * word n-grams appear anywhere in the eval set's n-gram inventory;
    * the caller thresholds (n_hits > 0 is the strict policy).
    *
    * Scale shape: eval n-grams are benchmark-sized → distinct, then
    * shipped once per executor as a broadcast SET (outgrowing that,
    * swap in the [[decontaminateBloom]] filter build — same one-sided
    * guarantee); the corpus keeps its per-doc distinct grams IN-ROW
    * (`array_distinct`, no explode) and both readouts are one
    * map-side pass — n_grams a size(), n_hits a set-membership count
    * over the broadcast inventory. ZERO corpus shuffle: the previous
    * explode → broadcast-join → groupBy(doc) form re-materialized
    * every gram as its own row (~100× row inflation) only to collapse
    * straight back to the doc key — at sf0.1 that round trip was the
    * whole 2.0 s noop-sink cost (r17 verdict #1); this form prices at
    * the shingle construction itself. The membership probe is a
    * closure over the broadcast set (the [[decontaminateBloom]]
    * precedent: Spark exposes no codegen'd probe against a prebuilt
    * broadcast collection); sub-`n`-token and null-text docs stay in
    * the output with n_grams = 0 — dropping them would make "not
    * flagged" ambiguous between "clean" and "too short to test". */
  def decontaminateNgrams(corpus: DataFrame, idCol: String,
                          textCol: String, evalDocs: DataFrame,
                          evalTextCol: String, n: Int): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(TextSim.shingles(col(evalTextCol), n)).as("gram"))
      .distinct()
      .collect().map(_.getString(0)).toSet
    val bcast = corpus.sparkSession.sparkContext.broadcast(evalGrams)
    val nHits = udf((grams: Seq[String]) =>
      if (grams == null) 0L else grams.count(bcast.value.contains).toLong)
    corpus
      .select(col(idCol),
        array_distinct(TextSim.shingles(col(textCol), n)).as("grams"))
      .select(col(idCol),
        coalesce(size(col("grams")), lit(0)).cast("long").as("n_grams"),
        nHits(col("grams")).as("n_hits"))
  }

  /** SCD-2 validity intervals from an append-only change stream: each
    * key's records, ordered by event time (id tie-break), become
    * [valid_from, valid_to) intervals with `valid_to = next change` and
    * an open current interval (the reference's latest-wins upsert
    * `parse_and_upload_to_db.py:31-47` widened to keep history — the
    * warehouse dimension-build pattern). One shuffle on the key; window
    * state is a single lookahead row, so a hot key costs sort time, not
    * memory. */
  def scd2(changes: DataFrame, keyCol: String, tsCol: String,
           idCol: String): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(win))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(tsCol)
  }
}
