package graft

import graft.ops.TextSim
import org.apache.spark.sql.functions._

/** §2.M verification: MinHash/LSH candidate quality vs exact Jaccard,
  * cosine/kNN vs a scalar reference implementation. */
class TextSimSpec extends SparkSpecBase {
  import spark.implicits._

  test("shingles of short texts are empty, not a crash") {
    val got = Seq((1L, "only two"), (2L, "one"), (3L, ""), (4L, "a b c d"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextSim.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).size).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 2))
    // and the pipelines built on shingles survive short docs
    val cand = TextSim.minhashCandidates(
      Seq((1L, "x y"), (2L, "a b c d e f g h"), (3L, "a b c d e f g h"))
        .toDF("doc_id", "text"), col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toSet
    assert(cand == Set((2L, 3L)))
  }

  test("dot product is NULL on length mismatch (corrupt-vector guard)") {
    val r = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)))
      .toDF("a", "b")
      .select(TextSim.dot(col("a"), col("b")).as("d"))
      .head()
    assert(r.isNullAt(0), "mismatched lengths must yield NULL, not a " +
      "truncated dot")
  }

  test("jaccard expression matches set arithmetic") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("x", "y")
      .select(TextSim.jaccard(col("x"), col("y")))
    assert(math.abs(df.as[Double].head() - 0.5) < 1e-12)
  }

  test("minhash LSH finds planted near-duplicates, skips disjoint docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i =>
      if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val disjoint = (100 to 140).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, disjoint))
      .toDF("doc_id", "text")
    val cand = TextSim.minhashCandidates(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)), "near-dup pair missed")
    assert(!cand.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc produced a candidate")
  }

  test("minhash candidates on the documents table include all exact dups") {
    val docs = Tables.load(spark, sf0001, "documents")
    val cand = TextSim.minhashCandidates(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toSet
    // every pair of byte-identical texts must be a candidate (Jaccard=1
    // collides in all bands)
    val dups = docs.as[(Long, String, String, String, Long)].collect()
      .groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.combinations(2)
        .map(p => (p(0), p(1))))
      .toSet
    assert(dups.subsetOf(cand),
      s"missed exact-dup pairs: ${dups -- cand}")
  }

  private def cosRef(a: Array[Float], b: Array[Float]): Double = {
    val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
    val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(ad.map(x => x * x).sum) *
      math.sqrt(bd.map(x => x * x).sum))
  }

  test("cosine expression matches scalar reference on real embeddings") {
    val rows = Tables.load(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val probe = rows(0L)
    val got = Tables.load(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 10)
      .withColumn("sim", TextSim.cosine(col("embedding"),
        typedLit(probe.toSeq)))
      .select("vec_id", "sim").as[(Long, Double)].collect().toMap
    rows.foreach { case (id, vec) =>
      assert(math.abs(got(id) - cosRef(probe, vec)) < 1e-9, s"vec $id")
    }
  }

  test("simhash: near-dups land within small Hamming distance") {
    // q_text_simhash's fingerprint: one changed token of 60 moves few
    // bits, a disjoint text many, an identical text none
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i =>
      if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val disjoint = (200 to 260).map(i => s"tok$i").mkString(" ")
    val fp = Seq((1L, base), (2L, nearDup), (3L, disjoint), (4L, base))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextSim.simhash(col("text")))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(hamming(1L, 2L) <= 16, s"near-dup at Hamming ${hamming(1L, 2L)}")
    assert(hamming(1L, 3L) > 16, s"disjoint at Hamming ${hamming(1L, 3L)}")
    assert(hamming(1L, 4L) == 0)
  }

  test("jaccard over word 3-gram shingles matches scalar set arithmetic") {
    // q_text_ngram_jaccard's measure: jaccard of the two shingle sets
    def gramsOf(s: String) = s.toLowerCase.split(" ").sliding(3)
      .map(_.mkString(" ")).toSet
    val a = "a b c d e f"; val b = "a b c d x y"
    val expected = gramsOf(a).intersect(gramsOf(b)).size.toDouble /
      gramsOf(a).union(gramsOf(b)).size
    val got = Seq((a, b)).toDF("x", "y")
      .select(TextSim.jaccard(TextSim.shingles(col("x"), 3),
        TextSim.shingles(col("y"), 3)))
      .as[Double].head()
    assert(math.abs(got - expected) < 1e-9)
  }

  test("executor-regenerated LSH planes equal the driver-side reference") {
    // SignBuckets regenerates planes from the seed on each executor;
    // recall results are pinned on the exact plane values, so the two
    // families must be bit-identical
    val fromExpr = org.apache.spark.sql.graftfns.SignBuckets
      .planes(nTables = 3, bits = 5, dim = 8, seed = 42L)
    for (t <- 0 until 3) {
      val ref = TextSim.hyperplanes(5, 8, seed = 42L + t)
      for (i <- 0 until 5)
        assert(fromExpr(t * 5 + i).toSeq == ref(i), s"table $t plane $i")
    }
  }

  test("sign_buckets matches the scalar sign/bucket definition") {
    val dim = 8
    val vecs = Seq((1L, Seq.fill(dim)(0.5)), (2L, (1 to dim).map(_ * -0.3)))
    val got = vecs.toDF("vec_id", "v")
      .select(col("vec_id"), TextSim.lshBuckets(col("v"), 4, 6, dim))
      .as[(Long, Seq[Long])].collect().toMap
    for ((id, v) <- vecs) {
      val expected = (0 until 4).map { t =>
        val planes = TextSim.hyperplanes(6, dim, 42L + t)
        val sig = planes.zipWithIndex.map { case (p, i) =>
          val d = p.zip(v).foldLeft(0.0) { case (s, (a, b)) => s + a * b }
          if (d > 0) 1L << i else 0L
        }.sum
        sig + (t.toLong << 32)
      }
      assert(got(id) == expected, s"vec $id")
    }
    // dimension mismatch is loud-empty: no buckets, not wrong buckets
    val short = Seq((9L, Seq(1.0, 2.0))).toDF("vec_id", "v")
      .select(TextSim.lshBuckets(col("v"), 4, 6, dim))
      .as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  test("annCosineLsh recall vs exact kNN is usable (scale path)") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val probes = emb.filter(col("vec_id") < 15)
    val exact = TextSim.knnJoin(probes, emb, 3)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ann = TextSim.annCosineLsh(probes, emb, 3)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (p, truth) =>
      truth.intersect(ann.getOrElse(p, Set.empty)).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean recall@3 = $mean")
  }

  test("annCosineIvf recall@3 is non-decreasing in nProbe (tuning curve)") {
    // The index-tuning story: probing more cells can only GROW the
    // candidate set (cells are ranked and cut at nProbe), so the exact
    // rescore finds at least as many true neighbors — recall is weakly
    // monotone in nProbe, reaching 1.0 at nProbe = nCells (the
    // degenerates-to-exact case pinned below at full probe).
    val emb = Tables.load(spark, sf0001, "embeddings")
    val probes = emb.filter(col("vec_id") < 15)
    val exact = TextSim.knnJoin(probes, emb, 3)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val cells = 8
    val curve = Seq(1, 2, 4, cells).map { nProbe =>
      val ann = TextSim.annCosineIvf(probes, emb, 3,
        nCells = cells, nProbe = nProbe)
        .select("probe_id", "neighbor_id")
        .as[(Long, Long)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val rec = exact.map { case (p, truth) =>
        truth.intersect(ann.getOrElse(p, Set.empty)).size.toDouble /
          truth.size
      }
      nProbe -> rec.sum / rec.size
    }
    curve.map(_._2).sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"recall curve not monotone: $curve")
    }
    assert(curve.last._2 >= 0.999,
      s"full-probe IVF must be exact: $curve")
    assert(curve.head._2 < 1.0 || curve.last._2 == curve.head._2,
      s"curve should start below or at full recall: $curve")
  }

  test("pq codes of sampled vectors reconstruct exactly") {
    import graft.ops.ProductQuant
    val emb = Tables.load(spark, sf0001, "embeddings")
    val cb = ProductQuant.sampleCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16)
    val coded = ProductQuant.encode(emb, "embedding", cb)
      .select(col("vec_id"), col("embedding").cast("array<double>"),
        col("codes"))
      .as[(Long, Seq[Double], Seq[Int])].collect()
    assert(coded.length == emb.count())
    val dsub = cb(0)(0).length
    def recon(codes: Seq[Int]): Array[Double] =
      codes.zipWithIndex.flatMap { case (c, mi) => cb(mi)(c) }.toArray
    // every vector: valid code range, and the per-subspace argmin can
    // only beat whole-vector 1-NN over the same sample — PQ's
    // factorization mixes subvectors across samples, so
    // err = Σ_m min_c ‖v_m − c‖² ≤ min_j ‖v − sample_j‖²
    val samples = coded.filter(c => c._1 < 16).sortBy(_._1).map(_._2)
    assert(samples.length == 16)
    coded.foreach { case (id, v, codes) =>
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16))
      val vh = recon(codes)
      val err = v.zip(vh).map { case (a, b) => (a - b) * (a - b) }.sum
      val best1nn = samples.map(s =>
        v.zip(s).map { case (a, b) => (a - b) * (a - b) }.sum).min
      assert(err <= best1nn + 1e-9,
        s"vec $id: PQ worse than whole-vector 1-NN over the sample")
    }
    // the 16 sampled vectors ARE codebook entries in every subspace →
    // their reconstruction must be exact (ties keep an equal-distance
    // entry, which reconstructs the same subvector only if identical —
    // so compare distances, not code ids)
    val sampleIds = coded.map(_._1).sorted.take(16).toSet
    coded.filter(c => sampleIds(c._1)).foreach { case (id, v, codes) =>
      val vh = recon(codes)
      val err = v.zip(vh).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(err < 1e-18, s"sampled vec $id reconstructs with error $err")
    }
  }

  test("pq codebook training tightens reconstruction error (Lloyd)") {
    import graft.ops.ProductQuant
    val emb = Tables.load(spark, sf0001, "embeddings")
    val init = ProductQuant.sampleCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16)
    val before = ProductQuant.reconstructionMse(emb, "embedding", init)
    val trained = ProductQuant.trainCodebooks(emb, "embedding", init, 3)
    val after = ProductQuant.reconstructionMse(emb, "embedding", trained)
    // Lloyd never increases the objective; on this corpus the sampled
    // start is far from a local optimum, so require a real improvement
    assert(after <= before * 0.95,
      s"training did not tighten the objective: $before -> $after")
  }

  test("annCosinePq: full shortlist is exact; cut shortlist recall usable") {
    import graft.ops.ProductQuant
    val emb = Tables.load(spark, sf0001, "embeddings")
    val n = emb.count().toInt
    val exact = TextSim.knnJoin(emb.filter(col("vec_id") === 0), emb, 10)
      .select("neighbor_id").as[Long].collect().toSet
    // shortlist = corpus ⇒ the ADC cut removes nothing and the exact
    // rescore must reproduce brute-force kNN bit-for-bit
    val full = ProductQuant.annCosinePq(emb, "vec_id", "embedding",
        probeId = 0L, k = 10, shortlist = n)
      .select("neighbor_id").as[Long].collect().toSet
    assert(full == exact, s"full-shortlist PQ != exact: ${full -- exact}")
    // the registered 10% shortlist: the ADC approximation decides the
    // cut; require usable recall (same floor as the LSH/IVF gates)
    val cut = ProductQuant.annCosinePq(emb, "vec_id", "embedding",
        probeId = 0L, k = 10, shortlist = 50)
      .select("neighbor_id").as[Long].collect().toSet
    val recall = exact.intersect(cut).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall@10 = $recall")
  }

  test("trained-codebook PQ path holds the recall gate (100 TB path)") {
    // the PQ twin of the trained-centroid IVF test: the REGISTERED query
    // keeps sampled codebooks for bit-determinism, but at 100 TB the
    // Lloyd-trained path is the recall knob — measure both over the same
    // probes/ground truth so the swap is an executed claim, not an
    // asserted one (SCALE.md records the delta)
    import graft.ops.ProductQuant
    val emb = Tables.load(spark, sf0001, "embeddings")
    val probes = Seq(0L, 1L, 2L)
    val recalls = probes.map { p =>
      val exact = TextSim.knnJoin(emb.filter(col("vec_id") === p), emb, 10)
        .select("neighbor_id").as[Long].collect().toSet
      def recallAt(iters: Int): Double = {
        val got = ProductQuant.annCosinePq(emb, "vec_id", "embedding",
            probeId = p, k = 10, shortlist = 50, trainIters = iters)
          .select("neighbor_id").as[Long].collect().toSet
        exact.intersect(got).size.toDouble / exact.size
      }
      (recallAt(0), recallAt(3))
    }
    val sampled = recalls.map(_._1).sum / recalls.size
    val trained = recalls.map(_._2).sum / recalls.size
    info(f"PQ shortlist recall@10: sampled=$sampled%.2f trained=$trained%.2f")
    assert(trained >= 0.4, s"trained-path mean recall@10 = $trained")
    // training tightens reconstruction (Lloyd gate above); the shortlist
    // it produces must not be materially worse than the sampled one on
    // this corpus — a collapse here means the ADC cut, not the codebook,
    // regressed
    assert(trained >= sampled - 0.2,
      s"trained recall $trained collapsed vs sampled $sampled")
  }

  test("JL projection preserves pairwise distances in aggregate") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).take(60)
      .map(_._2.toArray)
    val proj = TextSim.jlMatrix(seed = 42, k = 16, d = 64)
    // regenerability: the matrix is a pure function of the seed
    assert(proj.map(_.toSeq).toSeq ==
      TextSim.jlMatrix(seed = 42, k = 16, d = 64).map(_.toSeq).toSeq)
    def project(x: Array[Double]): Array[Double] =
      proj.map(row => row.zip(x).map { case (a, b) => a * b }.sum)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val pairs = for {
      i <- vecs.indices; j <- vecs.indices if i < j
    } yield (d2(vecs(i), vecs(j)), d2(project(vecs(i)), project(vecs(j))))
    val nonDegenerate = pairs.filter(_._1 > 1e-12)
    assert(nonDegenerate.size > 1000)
    val ratios = nonDegenerate.map { case (orig, prj) => prj / orig }
    // E[ratio] = 1 for Rademacher/√k; per-pair variance is O(1/k), so
    // the MEAN over ~1700 pairs concentrates tightly while individual
    // pairs may wander — gate both at their own scales
    val mean = ratios.sum / ratios.size
    assert(math.abs(mean - 1.0) < 0.15, s"mean distance ratio $mean")
    val within = ratios.count(r => r > 0.4 && r < 1.9)
    assert(within.toDouble / ratios.size > 0.9,
      s"only $within/${ratios.size} pairs inside the loose JL envelope")
  }

  test("PCA scores realize the eigenspectrum and beat the coordinate basis") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val model = graft.ops.Pca.fit(emb, "embedding", d = 64, k = 8)
    // eigenvalues descending, all non-negative (covariance is PSD)
    model.eigvals.sliding(2).foreach { case Array(a, b) =>
      assert(a >= b - 1e-9, s"eigenvalues not descending: $a < $b") }
    assert(model.eigvals.last > -1e-9)
    // components orthonormal
    for (i <- model.components.indices; j <- i until model.components.length) {
      val dot = model.components(i).zip(model.components(j))
        .map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-8, s"comp ${i}x$j = $dot")
    }
    // drive the registered query; its per-component score variance must
    // match the top eigenvalues (the defining property of PCA scores)
    // and the scores must be centered and mutually decorrelated
    val scores = graft.queries.TextQueries.vecPcaScores(spark, sf0001)
      .collect().map(r => Array.tabulate(8)(i => r.getDouble(2 + i)))
    val n = scores.length
    for (c <- 0 until 8) {
      val xs = scores.map(_(c))
      val mean = xs.sum / n
      assert(math.abs(mean) < 1e-3, s"pc$c not centered: $mean")
      val v = xs.map(x => (x - mean) * (x - mean)).sum / (n - 1)
      val eig = model.eigvals(c)
      assert(math.abs(v - eig) <= 0.02 * eig + 1e-6,
        s"pc$c variance $v != eigenvalue $eig")
    }
    for (a <- 0 until 8; b <- a + 1 until 8) {
      val (xa, xb) = (scores.map(_(a)), scores.map(_(b)))
      val (ma, mb) = (xa.sum / n, xb.sum / n)
      val cov = xa.zip(xb).map { case (x, y) => (x - ma) * (y - mb) }.sum / (n - 1)
      val denom = math.sqrt(model.eigvals(a) * model.eigvals(b))
      assert(math.abs(cov / denom) < 0.01, s"pc$a,pc$b correlated: ${cov / denom}")
    }
    // optimality vs the coordinate basis: top-8 eigenvalues retain at
    // least as much variance as the 8 highest-variance raw dimensions
    val dimVars = {
      val vecs = emb.select(col("embedding").cast("array<double>"))
        .as[Seq[Double]].collect()
      val m = vecs.length
      (0 until 64).map { d =>
        val xs = vecs.map(_(d))
        val mu = xs.sum / m
        xs.map(x => (x - mu) * (x - mu)).sum / (m - 1)
      }
    }
    val pcaTop = model.eigvals.take(8).sum
    val coordTop = dimVars.sorted.reverse.take(8).sum
    assert(pcaTop >= coordTop - 1e-9,
      s"PCA retained $pcaTop < coordinate basis $coordTop")
  }

  test("minhash groups are consistent with the candidate pair graph") {
    val docs = Tables.load(spark, sf0001, "documents")
    val pairs = TextSim.minhashCandidates(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture should plant near-dups")
    val groups = TextSim.dedupGroups(docs.select("doc_id"),
        TextSim.minhashCandidates(docs, col("doc_id"), col("text"))
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
      .as[(Long, Long)].collect().toMap
    // every candidate pair ends in one group
    pairs.foreach { case (a, b) =>
      assert(groups(a) == groups(b), s"pair ($a,$b) split across groups")
    }
    // canonical = the group's minimum id, and it labels itself
    groups.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.keys.min, s"label $label is not the min")
      assert(groups(label) == label, s"canonical $label not self-labeled")
    }
    // docs untouched by any pair stay singletons
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    groups.filterNot { case (id, _) => paired(id) }.foreach {
      case (id, label) => assert(id == label, s"singleton $id relabeled")
    }
  }

  test("annCosineIvfPq: full coverage is exact; registered cut is usable") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val n = emb.count().toInt
    val exact = TextSim.knnJoin(emb.filter(col("vec_id") === 0), emb, 10)
      .select("neighbor_id").as[Long].collect().toSet
    // nProbe = every cell AND shortlist = corpus ⇒ neither stage prunes
    // anything and the exact rescore must reproduce brute-force kNN
    val full = TextSim.annCosineIvfPq(emb, probeId = 0L, k = 10,
        shortlist = n, nCells = 16, nProbe = 16)
      .select("neighbor_id").as[Long].collect().toSet
    assert(full == exact, s"full-coverage IVFPQ != exact: ${full -- exact}")
    // the registered cut (auto cells/probes, shortlist 50): BOTH stages
    // prune; require the same recall floor as the single-stage indexes
    val recalls = Seq(0L, 1L, 2L).map { p =>
      val truth = TextSim.knnJoin(emb.filter(col("vec_id") === p), emb, 10)
        .select("neighbor_id").as[Long].collect().toSet
      val got = TextSim.annCosineIvfPq(emb, probeId = p, k = 10,
          shortlist = 50)
        .select("neighbor_id").as[Long].collect().toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVFPQ mean recall@10 = $mean%.2f")
    assert(mean >= 0.4, s"mean recall@10 = $mean")
  }

  private def bruteDedupPairs(sf: String, threshold: Double)
      : Set[(Long, Long, Double)] = {
    val e = Tables.load(spark, sf, "embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
      .withColumn("na", TextSim.l2Norm(col("va")))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
      .withColumn("nb", TextSim.l2Norm(col("vb")))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", round(
        TextSim.dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
      .as[(Long, Long, Double)].collect().toSet
  }

  test("cosineDedup equals the brute-force pair set at the registered τ") {
    // q_vec_cosine_dedup (TextSim.cosineDedupBlockedExact at τ=0.42):
    // the exact join holds by construction on ANY corpus (no dependence
    // on seeded hyperplanes). sf0.1 (2000 vectors, 441 qualifying
    // pairs) is the bench corpus.
    for (sf <- Seq(sf0001, sf001, sf01)) {
      val got = SparkEntry.queries("q_vec_cosine_dedup")(spark, sf)
        .as[(Long, Long, Double)].collect().toSet
      val brute = bruteDedupPairs(sf, 0.42)
      assert(got == brute,
        s"$sf: missed=${brute -- got} spurious=${got -- brute}")
    }
  }

  test("blocked-exact dedup visits every pair exactly once") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val n = emb.count()
    // threshold -1 keeps every pair: count == C(N,2) catches both missed
    // block-pair keys and double-counted orientations
    val pairs = TextSim.cosineDedupBlockedExact(emb, -1.0)
    assert(pairs.count() == n * (n - 1) / 2)
    assert(pairs.select("id_a", "id_b").distinct().count() ==
      n * (n - 1) / 2, "duplicate pair emitted")
  }

  test("property: blocked-exact pair cover holds for any block count") {
    // the block-pair key algebra (left → keys (b, j≥b), right → keys
    // (i≤b, b), same-block halved by id order) must cover C(N,2) exactly
    // for degenerate and non-divisor block counts alike
    val emb = Tables.load(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 40)
    for (blocks <- Seq(1, 2, 3, 7, 16, 40)) {
      val pairs = TextSim.cosineDedupBlockedExact(emb, -1.0, blocks)
        .select("id_a", "id_b").as[(Long, Long)].collect()
      assert(pairs.length == 40 * 39 / 2, s"blocks=$blocks")
      assert(pairs.distinct.length == pairs.length,
        s"blocks=$blocks emitted duplicates")
      assert(pairs.forall { case (a, b) => a < b }, s"blocks=$blocks order")
    }
  }

  test("dedupGroups labels every component with its minimum id") {
    // two components + isolates, plus a diameter-5 chain (propagation
    // must run past the first round, and the round cap must not bite)
    val nodes = (1L to 10L).map(Tuple1(_)).toDF("vec_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (8L, 9L)).toDF("id_a", "id_b")
    val got = TextSim.dedupGroups(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 7L -> 7L, 8L -> 8L, 9L -> 8L, 10L -> 10L)
    assert(got == want)
    // and on a real pair graph: group ids equal a scalar union-find
    val emb = Tables.load(spark, sf0001, "embeddings")
    val realPairs = TextSim.cosineDedupBlockedExact(emb, 0.42)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val ids = emb.select("vec_id").as[Long].collect()
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    realPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantReal = ids.map(i => i -> find(i)).toMap
    val gotReal = TextSim.dedupGroups(emb.select("vec_id"),
        TextSim.cosineDedupBlockedExact(emb, 0.42).select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(gotReal == wantReal)
  }

  test("dedupGroups: zero/negative ids converge correctly (no sum sentinel)") {
    // initial label sum of {-1, 1} is 0 — the old `sum == 0` emptiness
    // sentinel declared instant convergence and skipped propagation
    val nodes = Seq(-1L, 0L, 1L).map(Tuple1(_)).toDF("vec_id")
    val pairs = Seq((-1L, 1L)).toDF("id_a", "id_b")
    val got = TextSim.dedupGroups(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(-1L -> -1L, 0L -> 0L, 1L -> -1L))
    // and the genuinely-empty edge set still short-circuits to identity
    val none = TextSim.dedupGroups(nodes,
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(none == Map(-1L -> -1L, 0L -> 0L, 1L -> 1L))
  }

  test("property: multi-partition contraction matches a scalar union-find") {
    // the 100 TB path: edgesPerTask small enough that edges spread over
    // MANY partitions, so cross-partition merging (multi-root nodes →
    // contracted edges → mapping composition over several rounds) is
    // actually exercised — at bench scale p collapses to 1 and that code
    // would otherwise never run. Random graphs with hostile shapes:
    // long chains (deep diameter), stars (hub fan-in), dense blobs
    // (duplicate edges both orientations), isolates.
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 60 + rnd.nextInt(60)
      val ids = (0 until n).map(_ => rnd.between(-1000L, 1000L)).distinct
      val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      // chain over a random subset (forces multi-round contraction)
      val chain = rnd.shuffle(ids).take(ids.size / 3)
      chain.sliding(2).foreach { case Seq(a, b) => edges += ((a, b))
        case _ => }
      // star + random blob edges, some duplicated/reversed
      val hub = ids(rnd.nextInt(ids.size))
      rnd.shuffle(ids).take(8).foreach(x => if (x != hub) edges += ((hub, x)))
      (0 until n / 2).foreach { _ =>
        val a = ids(rnd.nextInt(ids.size)); val b = ids(rnd.nextInt(ids.size))
        if (a != b) { edges += ((a, b)); if (rnd.nextBoolean()) edges += ((b, a)) }
      }
      // scalar union-find ground truth
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = ids.map(i => i -> find(i)).toMap
      val got = TextSim.dedupGroups(
          ids.map(Tuple1(_)).toDF("vec_id"),
          edges.toSeq.toDF("id_a", "id_b"),
          edgesPerTask = 4) // ⌈|E|/4⌉ partitions → real contraction rounds
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"seed=$seed n=$n edges=${edges.size}")
    }
  }

  test("roundUpPow2 is the next power of two (identity on exact powers)") {
    for (x <- 1 to 2048) {
      val r = TextSim.roundUpPow2(x)
      assert(Integer.bitCount(r) == 1 && r >= x && (x <= 1 || r < 2 * x),
        s"x=$x r=$r")
    }
  }

  test("annCosineIvf on an empty corpus is loud-empty, not a require crash") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val got = TextSim.annCosineIvf(emb.limit(3), emb.filter(lit(false)), 3)
    assert(got.columns.toSeq ==
      Seq("probe_id", "neighbor_id", "sim", "rn"))
    assert(got.count() == 0)
  }

  test("property: topCells matches a scalar argsort on random inputs") {
    // the insertion-sort top-k inside the codegen'd expression must equal
    // (dot desc, cell asc) argsort for hostile shapes: duplicated
    // centroids (dot ties), k > nCells, k = 1, negative dots
    import org.apache.spark.sql.catalyst.util.ArrayData
    val g = org.apache.spark.sql.graftfns.TopCells
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val dim = 1 + rnd.nextInt(8)
      val nc = 1 + rnd.nextInt(12)
      val cents = Array.fill(nc)(Array.fill(dim)(
        (rnd.nextInt(5) - 2).toDouble)) // small ints → frequent dot ties
      val vec = Array.fill(dim)((rnd.nextInt(5) - 2).toDouble)
      val k = 1 + rnd.nextInt(nc + 3)
      val got = g.topCells(ArrayData.toArrayData(vec), cents, k).toSeq
      val dots = cents.map(c => c.zip(vec).map { case (a, b) => a * b }.sum)
      val want = dots.zipWithIndex
        .sortBy { case (d, i) => (-d, i) }.take(math.min(k, nc))
        .map(_._2).toSeq
      assert(got == want, s"seed=$seed k=$k dots=${dots.toSeq}")
      // dimension mismatch is loud-empty
      assert(g.topCells(ArrayData.toArrayData(vec :+ 0.0), cents, k).isEmpty)
    }
  }

  test("annCosineIvf recall vs exact kNN is usable; nProbe=nCells is exact") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val probes = emb.filter(col("vec_id") < 15)
    val exact = TextSim.knnJoin(probes, emb, 3)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ivf = TextSim.annCosineIvf(probes, emb, 3)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (p, truth) =>
      truth.intersect(ivf.getOrElse(p, Set.empty)).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"mean recall@3 = $mean")
    // searching every cell must reproduce exact kNN — the approximation
    // comes ONLY from probing a subset of cells
    val full = TextSim.annCosineIvf(probes, emb, 3, nCells = 8, nProbe = 8)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(full == exact, "nProbe=nCells must equal exact kNN")
  }

  test("a returned IVF plan keeps executing during concurrent IVF builds") {
    // annCosineIvf returns a LAZY plan holding the index broadcast,
    // which SessionCache shares across calls; later builds must never
    // destroy() a broadcast an earlier plan still holds — executing
    // that plan would throw SparkException(destroyed broadcast)
    val emb = Tables.load(spark, sf0001, "embeddings")
    val probes = emb.filter(col("vec_id") < 3)
    val first = TextSim.annCosineIvf(probes, emb, 3, nCells = 16)
    @volatile var raced: Throwable = null
    val executor = new Thread(() => {
      try (1 to 5).foreach(_ => first.count(): Unit)
      catch { case t: Throwable => raced = t }
    })
    executor.start()
    // 10 more IVF indexes, each under its own (corpus, nCells) key,
    // built while the executor thread is still running `first`'s plan
    (0 until 10).foreach { i =>
      TextSim.annCosineIvf(probes, emb, 3, nCells = 17 + i).count(): Unit
    }
    executor.join()
    assert(raced == null, s"concurrent execution failed: $raced")
    assert(first.count() > 0, "evicted plan no longer executable")
  }

  test("trained-centroid IVF path holds the recall gate (100 TB path)") {
    // the registered query uses deterministic sample centroids; at
    // 100 TB the trained path is what keeps recall-at-nProbe from
    // collapsing on clustered corpora — gate it on the same real
    // embeddings + ground truth as the untrained recall test
    val emb = Tables.load(spark, sf0001, "embeddings")
    val probes = emb.filter(col("vec_id") < 15)
    val exact = TextSim.knnJoin(probes, emb, 3)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val trained = TextSim.annCosineIvf(probes, emb, 3, trainIters = 3)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (p, truth) =>
      truth.intersect(trained.getOrElse(p, Set.empty)).size.toDouble /
        truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"trained-path mean recall@3 = $mean")
  }

  test("k-means training tightens the IVF objective on a clustered corpus") {
    // 12 clusters of 6 vectors; sample-init centroids (lowest ids) all
    // come from the first clusters, so Lloyd iterations must measurably
    // raise the mean row↔centroid cosine. Assignment runs through the
    // same broadcast TopCells expression the index uses.
    val rnd = new scala.util.Random(11)
    val rows = (0 until 12).flatMap { c =>
      val base = Array.fill(16)(rnd.nextGaussian())
      (0 until 6).map { m =>
        val v = base.map(x => x + 0.05 * rnd.nextGaussian())
        (c * 6L + m, v.toSeq)
      }
    }
    val emb = rows.toDF("vec_id", "embedding")
    val init = emb.orderBy("vec_id").limit(12)
      .select(col("embedding").cast("array<double>"))
      .collect().map { r =>
        val v = r.getSeq[Double](0).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
    val before = TextSim.ivfObjective(emb, init)
    val trained = TextSim.trainIvfCentroids(emb, init, iters = 5)
    val after = TextSim.ivfObjective(emb, trained)
    assert(after > before + 0.05,
      s"training did not tighten clustering: $before -> $after")
    assert(trained.forall(c =>
      math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9),
      "trained centroids are not unit length (spherical k-means)")
    // the trained index still answers queries: top-k per probe intact
    val got = TextSim.annCosineIvf(emb.filter(col("vec_id") < 6), emb, 3,
        nCells = 12, nProbe = 3, trainIters = 5)
      .select("probe_id", "rn").as[(Long, Long)].collect()
    assert(got.groupBy(_._1).forall(_._2.length == 3))
  }

  test("IVF results are shard-invariant (sharding is a parallelism knob)") {
    // the shard key exists to decouple reduce parallelism from nCells;
    // it partitions each cell's corpus disjointly, so the candidate UNION
    // and therefore the top-k must be identical for any shard count
    val emb = Tables.load(spark, sf0001, "embeddings")
    val probes = emb.filter(col("vec_id") < 15)
    def run(shards: Int) =
      TextSim.annCosineIvf(probes, emb, 3, nCells = 16, nProbe = 4,
          shards = shards)
        .select("probe_id", "neighbor_id", "sim", "rn")
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(run(1) == run(8))
  }

  test("knnJoin returns the true top-k neighbours") {
    val all = Tables.load(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 30)
    val got = TextSim.knnJoin(all.filter(col("vec_id") < 3), all, 3)
      .select("probe_id", "neighbor_id", "rn")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val vecs = all.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    (0L to 2L).foreach { p =>
      val expected = vecs.keys.filter(_ != p).toSeq
        .map(id => (id, BigDecimal.valueOf(cosRef(vecs(p), vecs(id)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
      assert(got(p) == expected, s"probe $p")
    }
  }

  test("q_text_cooccur equals hand-counted bigrams with the declared cut") {
    val got = SparkEntry.queries("q_text_cooccur")(spark, sf0001)
      .as[(String, Long)].collect().toSeq
    val texts = Tables.load(spark, sf0001, "documents")
      .select("text").as[String].collect()
    val counts = texts.iterator
      .map(_.toLowerCase.split(" ", -1))
      .filter(_.length >= 2)
      .flatMap(w => w.sliding(2).map(_.mkString(" ")))
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = counts.toSeq
      .sortBy { case (pair, n) => (-n, pair) }.take(100)
    assert(got == expected)
  }

  test("q_text_feature_hash buckets are in range and counts conserve tokens") {
    val got = SparkEntry.queries("q_text_feature_hash")(spark, sf0001)
      .as[(Long, Long, Long)].collect()
    assert(got.forall(r => r._2 >= 0 && r._2 < 64), "bucket out of range")
    val perDoc = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { case (id, text) =>
      val toks = text.toLowerCase.split(" ", -1)
      assert(perDoc(id) == toks.length,
        s"doc $id: bucket counts ${perDoc(id)} != token count ${toks.length}")
    }
    // replicate the sha-bucket arithmetic for one doc end-to-end
    val (id0, text0) = docs.minBy(_._1)
    val expected0 = text0.toLowerCase.split(" ", -1).toSeq.map { tok =>
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 7)
      java.lang.Long.parseLong(hex, 16) % 64
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got0 = got.filter(_._1 == id0).map(r => r._2 -> r._3).toMap
    assert(got0 == expected0, s"doc $id0 bucket histogram diverges")
  }

  test("q_text_decontaminate drops verbatim eval copies wherever they live") {
    val docs = Tables.load(spark, sf0001, "documents")
      .selectExpr("doc_id", "lang", "sha2(text, 256) AS sha")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val evalShas = docs.filter(_._1 % 97 == 0).map(_._3).toSet
    val kept = docs.filter(d => !evalShas(d._3))
    // the eval rows themselves are gone AND any doc sharing their
    // content is gone, regardless of id
    val expected = kept.groupBy(_._2).map { case (lang, g) =>
      (lang, g.length.toLong, g.map(_._1).min, g.map(_._1).max)
    }.toSet
    val got = SparkEntry.queries("q_text_decontaminate")(spark, sf0001)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(kept.length < docs.length, "fixture has no eval overlap at all")
  }

  test("q_text_blocklist matches a java.util.regex walk of the corpus") {
    val pat = java.util.regex.Pattern.compile(
      "\\b(slow|error|dup|spam)\\b")
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val expected = docs.flatMap { case (id, text) =>
      val m = pat.matcher(text)
      val hits = Iterator.continually(m.find()).takeWhile(identity)
        .map(_ => m.group()).toSeq
      if (hits.isEmpty) None
      else Some((id, hits.distinct.sorted.mkString("|"),
        hits.size.toLong))
    }.toSet
    val got = SparkEntry.queries("q_text_blocklist")(spark, sf0001)
      .as[(Long, String, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < docs.length,
      "blocklist fixture must hit SOME but not ALL docs")
  }

  test("q_text_url_canon collapses tracking-decorated variants") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "source").as[(Long, String)].collect()
    val expected = docs.map { case (id, src) =>
      val canonical = "https://" + src.toLowerCase +
        ".example.com/read/" + (id % 40) + "?id=" + (id % 5)
      (id, canonical)
    }.groupBy(_._2).map { case (c, g) =>
      c -> ((g.size.toLong, g.map(_._1).min))
    }
    val got = SparkEntry.queries("q_text_url_canon")(spark, sf0001)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected)
    // canonicalization must actually merge variants (case / utm / frag)
    assert(got.values.exists(_._1 > 1),
      "no canonical key has >1 variant — canonicalization is vacuous")
  }

  test("q_text_zipf matches the scalar rank-frequency head") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select("text").as[String].collect()
    val counts = docs.flatMap(_.toLowerCase.split(" ", -1))
      .filter(_.nonEmpty).groupBy(identity)
      .map { case (t, g) => t -> g.length.toLong }
    val total = counts.values.sum.toDouble
    val top = counts.toSeq.sortBy { case (t, f) => (-f, t) }.take(50)
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = top.zipWithIndex.map { case ((t, f), i) =>
      val cum = top.take(i + 1).map(_._2).sum
      (i + 1L, t, f, r4(f / total), r4(cum / total))
    }.toSet
    val got = SparkEntry.queries("q_text_zipf")(spark, sf0001)
      .as[(Long, String, Long, Double, Double)].collect().toSet
    assert(got == expected)
  }

  test("q_text_pack conserves docs and tokens across the manifest") {
    val docs = Tables.load(spark, sf0001, "documents")
      .selectExpr("source", "doc_id", "size(split(text, ' ')) AS n")
      .as[(String, Long, Int)].collect()
    // brute-force: per source, walk docs in id order, assign by
    // starting offset into 256-token windows
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, g) =>
      var cum = 0L
      g.sortBy(_._2).map { case (_, id, n) =>
        val seq = cum / 256; cum += n; (src, seq) -> ((id, n.toLong))
      }
    }.groupBy(_._1).map { case (k, g) =>
      val v = g.map(_._2)
      k -> ((v.size.toLong, v.map(_._2).sum, v.map(_._1).min,
        v.map(_._1).max))
    }
    val got = SparkEntry.queries("q_text_pack")(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got == expected)
    // conservation: every doc lands in exactly one sequence, every
    // token is accounted for
    assert(got.values.map(_._1).sum == docs.length)
    assert(got.values.map(_._2).sum == docs.map(_._3.toLong).sum)
    // the fixture must actually pack multiple docs per sequence AND
    // multiple sequences per source, or the manifest is vacuous
    assert(got.values.exists(_._1 > 1) &&
      got.keys.groupBy(_._1).values.exists(_.size > 1))
  }

  test("q_vec_recon_error matches the scalar quantize-reconstruct loop") {
    val vecs = Tables.load(spark, sf0001, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .as[(Long, Seq[Double])].collect()
    val expected = vecs.map { case (id, v) =>
      val scale = 127.0 / math.max(v.map(math.abs).max, 1e-30)
      val codes = v.map(x => math.floor(x * scale + 0.5).toInt)
      val maxErr = v.zip(codes)
        .map { case (x, c) => math.abs(x - c.toDouble / scale) }.max
      (id, BigDecimal(maxErr).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble,
        codes.count(c => math.abs(c) == 127).toLong, v.size.toLong)
    }.toSet
    val got = SparkEntry.queries("q_vec_recon_error")(spark, sf0001)
      .as[(Long, Double, Long, Long)].collect().toSet
    assert(got == expected)
    // every vector saturates at least its max element — if not, the
    // scale arithmetic drifted
    assert(got.forall(_._3 >= 1))
  }

  test("IVF recall@10 curve is monotone in nProbe, exact at nProbe=nCells") {
    // The index-tuning contract: the probe-cell sets are nested (top-p
    // cells by centroid dot, deterministic ties), so the candidate set
    // only grows with nProbe and recall against exact kNN can never
    // regress — the curve an operator would walk to pick nProbe for a
    // recall target. nProbe = nCells scans every cell = exact search.
    val emb = Tables.load(spark, sf0001, "embeddings")
    val probes = emb.filter(col("vec_id") < 40)
    val exact = TextSim.knnJoin(probes, emb, 10)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val nCells = 16
    def recallAt(nProbe: Int): Double = {
      val got = TextSim
        .annCosineIvf(probes, emb, 10, nCells = nCells, nProbe = nProbe)
        .select("probe_id", "neighbor_id")
        .as[(Long, Long)].collect().groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (p, t) =>
        t.intersect(got.getOrElse(p, Set.empty)).size.toDouble / t.size
      }.sum / exact.size
    }
    val curve = Seq(1, 2, 4, 8, 16).map(p => p -> recallAt(p))
    curve.sliding(2).foreach {
      case Seq((pa, ra), (pb, rb)) =>
        assert(rb >= ra - 1e-9,
          s"recall regressed nProbe $pa → $pb: $curve")
      case _ => ()
    }
    assert(curve.last._2 == 1.0, s"nProbe=nCells must be exact: $curve")
    // the curve must be informative: probing 1/16th of the corpus may
    // not already be exact, or the fixture can't distinguish settings
    assert(curve.head._2 < 1.0, s"degenerate fixture: $curve")
  }

  test("nnDescent recall is round-monotone, converges, rerun-stable") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val exact = TextSim.knnJoin(emb, emb, 5)
      .select("probe_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def graphAt(iters: Int): Map[Long, Set[Long]] = TextSim
      .nnDescentGraph(emb, 5, iters)
      .select("vec_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(g: Map[Long, Set[Long]]): Double =
      exact.map { case (p, t) =>
        t.intersect(g.getOrElse(p, Set.empty)).size.toDouble / t.size
      }.sum / exact.size
    // every node must carry exactly k rows at every round
    val g2 = graphAt(2)
    assert(g2.size == exact.size && g2.values.forall(_.size == 5))
    val curve = Seq(0, 1, 2).map(i =>
      i -> recallOf(if (i == 2) g2 else graphAt(i)))
    // each node keeps top-k of (current ∪ candidates) under the shared
    // (sim desc, id) total order, so an exact neighbor can only be
    // displaced by another exact neighbor: recall is a non-decreasing
    // function of rounds — a theorem, not a tendency
    curve.sliding(2).foreach {
      case Seq((ia, ra), (ib, rb)) =>
        assert(rb >= ra - 1e-9, s"recall regressed round $ia → $ib: $curve")
      case _ => ()
    }
    // LSH-seeded descent must actually converge on this corpus — the
    // floor is far above the LSH seeds alone (≈0.07 at round 0)
    assert(curve.last._2 >= 0.9, s"descent failed to converge: $curve")
    assert(curve.head._2 < curve.last._2, s"degenerate curve: $curve")
    // pure function of the corpus: a rerun reproduces the graph exactly
    assert(graphAt(2) == g2, "nnDescent graph is not rerun-stable")
  }

  test("kmeans readout: sizes conserve, assignment optimal, Lloyd monotone") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val n = emb.count()
    val out = TextSim.kmeansReadout(emb, k = 8, iters = 3).collect()
    // partition of the corpus: sizes sum to N, clusters within range
    assert(out.map(_.getAs[Long]("n")).sum == n, "sizes do not sum to N")
    assert(out.forall { r =>
      val c = r.getAs[Number]("cluster").longValue(); c >= 0 && c < 8 })
    assert(out.forall(r => r.getAs[Double]("mean_cos") >= -1.0 &&
      r.getAs[Double]("mean_cos") <= 1.0))
    // assignment optimality: every row's cluster is the argmax-dot
    // centroid (ties impossible at double precision on this corpus)
    val cents = TextSim.trainIvfCentroids(emb,
      TextSim.sampleCentroids(emb, 8), iters = 3)
    val assigned = TextSim.kmeansAssign(emb, cents)
      .select("vec_id", "cluster", "dotc")
      .collect().map(r => (r.getLong(0),
        r.getAs[Number](1).intValue(), r.getDouble(2)))
    val vecs = emb.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    assigned.take(100).foreach { case (id, cl, dotc) =>
      val v = vecs(id)
      val best = cents.indices.maxBy(c =>
        cents(c).indices.map(i => cents(c)(i) * v(i)).sum)
      assert(cl == best, s"vec $id assigned $cl, argmax-dot is $best")
      val expect = cents(cl).indices.map(i => cents(cl)(i) * v(i)).sum
      assert(math.abs(dotc - expect) < 1e-9)
    }
    // Lloyd monotonicity: the sum-of-max-dot objective is a Lyapunov
    // function — assignment maximizes each term given centroids, the
    // normalized-mean update maximizes the cell sum given assignment
    // (empty cells keep their centroid: equality) — so it can only rise
    def objective(iters: Int): Double =
      TextSim.kmeansAssign(emb,
          TextSim.trainIvfCentroids(emb,
            TextSim.sampleCentroids(emb, 8), iters))
        .agg(sum("dotc")).head().getDouble(0)
    val objs = Seq(0, 1, 3).map(objective)
    objs.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b >= a - 1e-6, s"Lloyd objective regressed: $objs")
      case _ => ()
    }
    assert(objs.last > objs.head, s"training did not move: $objs")
    // rerun stability at the 3-dp grid (training's ulp noise is ~10
    // orders below it)
    assert(TextSim.kmeansReadout(emb, 8, 3).collect().toSeq == out.toSeq)
  }

  test("graftfns kernels stay inside codegen (no interpreter fallback)") {
    // CODEGEN_ONLY turns the silent interpreter fallback into a hard
    // failure: a doGenCode emitting Java Janino can't parse (the
    // round-12 bug was 2-D array casts — "[[D" / "double[][]") would
    // otherwise demote the WHOLE projection to interpreted mode and
    // only a WARN would show. q_vec_ann_ivfpq drives TopCells (IVF cell
    // assign + probe) AND AdcScore (the PQ LUT scorer) in one plan.
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      assert(SparkEntry.queries("q_vec_ann_ivfpq")(spark, sf0001)
        .collect().nonEmpty)
      assert(SparkEntry.queries("q_vec_ann_ivf")(spark, sf0001)
        .collect().nonEmpty)
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }
}
