package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{NativeVectorOps, VectorOps}

/** Approximate-nearest-neighbor search over `embeddings`-shaped data
  * (vec_id, embedding array<float>, label).
  *
  * Scale design: brute force is the CORRECTNESS baseline — it broadcasts
  * the (small) query set so the corpus streams map-side with no shuffle,
  * O(|corpus|·|queries|·dim). The scale path is sign-LSH bucketing: each
  * vector hashes to a bucket map-side; the candidate join is an equi-join
  * on bucket, so work is O(|corpus| + collisions) and partitions by bucket.
  * For 100 TB you'd additionally pre-partition the corpus by bucket at
  * write time (bucketBy) so the probe is shuffle-free.
  */
object Similarity {

  val Dim = 64
  val NumPlanes = 8

  // float→double widening as a native array cast (codegen'd, exact) — the
  // transform()-lambda form is interpreted per element
  private def embD(c: String) = col(c).cast("array<double>")

  /** Brute-force top-k cosine neighbors of each query vector (queries =
    * vec_id < queryMaxId), excluding self. Broadcast-nested-loop by
    * construction; the per-partition top-k is taken before the final
    * (tiny) global sort.
    */
  def bruteForceTopK(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val q = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = embeddings.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", NativeVectorOps.cosine(embD("q_emb"), embD("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cosine"), col("rk"))
  }

  /** Margin-based bitext mining (the CCMatrix/LASER criterion): for
    * each bounded-dim source-language vector, the best target-language
    * neighbor scored by `margin = c1 / mean(top-kAvg cosines)` — the
    * ratio that separates genuinely-parallel pairs from hubness (a
    * vector whose neighborhood is uniformly close scores margin ≈ 1 and
    * is rejected). Cosines use the shared [[NativeVectorOps]] fold and
    * the margin is a fixed left-associated sum ÷ power-of-two plus one
    * division, so the doubles — and the accept verdicts — are
    * engine-exact. Sources are the broadcast side (q40's bounded-dim
    * convention); targets stream through the scan once.
    */
  def bitextMine(embeddings: DataFrame, srcLabel: Int, tgtLabel: Int,
      srcMaxId: Long, threshold: Double): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val src = embeddings
      .filter(col("label") === srcLabel && col("vec_id") < srcMaxId)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val tgt = embeddings.filter(col("label") === tgtLabel)
      .select(col("vec_id"), col("embedding"))
    val scored = tgt.crossJoin(broadcast(src))
      .withColumn("cosine", NativeVectorOps.cosine(embD("q_emb"), embD("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    val top = scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
    val p = top.groupBy("q_id").agg(
      max(when(col("rk") === 1, col("vec_id"))).as("tgt_id"),
      max(when(col("rk") === 1, col("cosine"))).as("c1"),
      max(when(col("rk") === 2, col("cosine"))).as("c2"),
      max(when(col("rk") === 3, col("cosine"))).as("c3"),
      max(when(col("rk") === 4, col("cosine"))).as("c4"))
    p.select(col("q_id"), col("tgt_id"), col("c1"),
      (col("c1") / ((col("c1") + col("c2") + col("c3") + col("c4")) / 4.0))
        .as("margin"))
      .withColumn("accepted", col("margin") > threshold)
  }

  /** Brute-force top-k EUCLIDEAN neighbors (same shape as
    * [[bruteForceTopK]]). dist² is computed as q·q + d·d − 2·q·d from
    * three [[NativeVectorOps.dot]] folds — the oracle combines the same
    * three element-order folds with the same expression shape, so the
    * doubles (and therefore the ranks) agree bit-for-bit cross-engine.
    */
  def bruteForceTopKL2(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val q = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = embeddings.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dist2",
        NativeVectorOps.dot(embD("q_emb"), embD("q_emb"))
          + NativeVectorOps.dot(embD("embedding"), embD("embedding"))
          - lit(2.0) * NativeVectorOps.dot(embD("q_emb"), embD("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("dist2"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("dist2"), col("rk"))
  }

  /** Brute-force top-k cosine neighbors ranked on only the FIRST `dims`
    * components — the Matryoshka/truncation evaluation primitive: how
    * much ranking quality does a prefix of the embedding retain? Same
    * shape as [[bruteForceTopK]]; the oracle's `dim`-bounded fold
    * touches the same prefix in the same order.
    */
  def bruteForceTopKPrefix(embeddings: DataFrame, queryMaxId: Long, k: Int,
                           dims: Int): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val pre = embeddings.select(col("vec_id"),
      slice(col("embedding"), 1, dims).as("embedding"))
    bruteForceTopK(pre, queryMaxId, k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) of several
    * per-query rankings — the standard way to combine retrieval signals
    * (dense ANN + lexical, or several ANN variants) without score
    * calibration: fused(d) = Σ_lists 1/(rrfK + rank_list(d)). Scores are
    * INTEGER-scaled (`scale div (rrfK + rk)`, truncating division in
    * both engines), so the fused ranking is hash-exact cross-engine —
    * the float form's summation-order sensitivity would not be.
    *
    * Input rankings carry (q_id, n_id, rk); output keeps the top `topK`
    * fused items per query with ties broken by n_id. Purely
    * rank-arithmetic: one union + one (q, item) aggregation + one
    * bounded per-query top-k, no re-scoring — at 100 TB the inputs are
    * already k-bounded per query, so the fusion is tiny regardless of
    * corpus size.
    */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int, rrfK: Int = 60,
              scale: Long = 1000000L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val all = rankings.map(_.select(col("q_id"), col("n_id"), col("rk")))
      .reduce(_ unionByName _)
    val fused = all.groupBy("q_id", "n_id")
      .agg(sum(expr(s"$scale div ($rrfK + rk)")).as("rrf"),
        count(lit(1)).as("n_lists"))
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("n_id"))
    fused.withColumn("frk", row_number().over(w).cast(org.apache.spark.sql.types.IntegerType))
      .filter(col("frk") <= topK)
  }

  /** Sign-LSH bucket per vector: bit j = sign(v · w_j) over NumPlanes
    * deterministic pseudo-random hyperplanes (VectorOps.planeWeight).
    * Output (vec_id, bucket). The planes are literal weight arrays + the
    * native dot, summed per row — pure projection, zero shuffles, fully
    * inside whole-stage codegen (the earlier explode + interpreted
    * planeDot + groupBy formulation cost an exchange and the HOF fallback).
    */
  def lshBuckets(embeddings: DataFrame): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    // single table of NumPlanes planes via the FUSED expression (one
    // element-major pass; bit-identical to the composed planeBit sum for
    // non-null vectors — DotProductExprSpec pins the equivalence).
    // Null embeddings are EXCLUDED explicitly: a vector with no
    // coordinates is not a neighbor of anything, and the filter keeps
    // the single- and multi-table forms agreeing (the fused expression
    // nulls the bucket; posexplode would silently drop the row).
    val bucket = element_at(
      NativeVectorOps.lshBuckets(embD("embedding"), 1, NumPlanes, Dim), 1)
    embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), bucket.as("bucket"))
  }

  /** ANN via LSH: rank same-bucket candidates of each query by cosine.
    * The equi-join on bucket replaces the cross product.
    */
  def lshTopK(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val withBucket = embeddings.join(lshBuckets(embeddings), Seq("vec_id"))
    val q = withBucket.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket"))
    val scored = withBucket.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", NativeVectorOps.cosine(embD("q_emb"), embD("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("bucket"), col("cosine"), col("rk"))
  }

  /** Multi-table sign-LSH buckets: `tables` independent tables of
    * `planesPerTable` hyperplanes each (global plane index
    * t·planesPerTable + j keeps every table's planes distinct). One
    * (vec_id, table, bucket) row per table — the classic recall lever:
    * a single b-bit table keeps a neighbor with probability p^b, L
    * tables keep it with 1−(1−p^b)^L. Still map-side only.
    */
  def lshBucketsMulti(embeddings: DataFrame, tables: Int = 8,
                      planesPerTable: Int = 4): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    // all tables' buckets in ONE fused element-major pass over the
    // embedding (the composed per-plane form re-read the array once per
    // plane — 32× the array traffic); the only row multiplication is the
    // final posexplode to (vec_id, t, bucket) — zero shuffles, fully
    // codegen, bucket values bit-identical for non-null vectors
    // (DotProductExprSpec). Null embeddings are excluded, same contract
    // as [[lshBuckets]].
    embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        posexplode(NativeVectorOps.lshBuckets(embD("embedding"), tables, planesPerTable, Dim)))
      .select(col("vec_id"), col("pos").as("t"), col("col").as("bucket"))
  }

  /** Density outliers via k-th-neighbor similarity (the kNN-distance
    * outlier criterion, LOF's simpler sibling): a vector whose k-th
    * most-similar SAME-BUCKET neighbor is still far away sits in a
    * sparse region — exactly the mislabeled/garbage embeddings a
    * curation pass drops. The complement of q79's centroid
    * outliers: centroid distance finds GLOBAL strays, k-th-neighbor
    * distance finds LOCAL ones (a tight cluster far from the centroid
    * is fine; a point with no close neighbors anywhere is not).
    *
    * Bucketed, never all-pairs: candidates come from the vector's own
    * sign-LSH bucket, hot buckets capped at `maxBucket` rows (the q185
    * hot-bucket convention — keeps the within-bucket pair join linear
    * in corpus size). Vectors with fewer than k same-bucket candidates
    * get a NULL k-th cosine and sort as MOST outlying (an emptyish
    * neighborhood is itself the signal). Cosines ride the shared
    * [[graft.functions.NativeVectorOps]] fold, so scores — and the
    * bottom-N board — are engine-exact.
    *
    * Output: the `bottomN` most isolated vectors as
    * (vec_id, n_cand, kth_cos, rk).
    */
  def knnDistanceOutliers(embeddings: DataFrame, k: Int, bottomN: Int,
                          maxBucket: Long = 200L): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val wb = Window.partitionBy("bucket")
    val capped = lshBuckets(embeddings)
      .withColumn("__nb", count(lit(1)).over(wb))
      .filter(col("__nb") <= maxBucket).drop("__nb")
    val e = embeddings.join(capped, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val pairs = e
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("bucket")), Seq("bucket"))
      .filter(col("vec_id") =!= col("n_id"))
      .withColumn("cosine", NativeVectorOps.cosine(embD("embedding"), embD("n_emb")))
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("n_id"))
    val kth = pairs.withColumn("rk", row_number().over(w))
      .groupBy("vec_id").agg(count(lit(1)).as("n_cand"),
        max(when(col("rk") === k, col("cosine"))).as("kth_cos"))
    capped.select("vec_id").join(kth, Seq("vec_id"), "left")
      .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
      // bottom-N global cut: nulls (no k-th neighbor) are most outlying
      .orderBy(col("kth_cos").asc_nulls_first, col("vec_id"))
      .limit(bottomN)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("kth_cos").asc_nulls_first, col("vec_id")))
        .cast(org.apache.spark.sql.types.IntegerType))
      .select("vec_id", "n_cand", "kth_cos", "rk")
  }

  /** ANN via multi-table LSH: candidates are the union of same-bucket
    * vectors over all tables (dedup'd per (q_id, vec_id) — one keyed
    * aggregation), then ranked by cosine. The candidate join is an
    * equi-join on (table, bucket); at 100 TB each table's buckets
    * pre-partition the corpus exactly like the single-table layout.
    */
  def lshTopKMulti(embeddings: DataFrame, queryMaxId: Long, k: Int,
                   tables: Int = 8, planesPerTable: Int = 4): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val buckets = lshBucketsMulti(embeddings, tables, planesPerTable)
    // candidates carry BARE ids through the cross-table dedup — shuffling
    // the 64-double embeddings through that exchange would dominate its
    // cost at corpus scale; vectors and their once-computed norms join
    // back afterwards (same shape as nearDupPairsLsh)
    val q = buckets.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("t"), col("bucket"))
    val cand = buckets.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").dropDuplicates("q_id", "vec_id")
    rankCandidates(embeddings, cand, queryMaxId, k)
  }

  /** Exact-cosine ranking of bare-id candidate pairs, top-k per query —
    * the shared tail of the multi-table and multi-probe paths. Vectors
    * and their once-computed norms join back AFTER the candidate dedup.
    */
  private def rankCandidates(embeddings: DataFrame, cand: DataFrame,
                             queryMaxId: Long, k: Int): DataFrame = {
    val e = embD("embedding")
    val qe = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), e.as("q_emb"),
        sqrt(NativeVectorOps.dot(e, e)).as("q_norm"))
    val de = embeddings.select(col("vec_id"), e.as("d_emb"),
      sqrt(NativeVectorOps.dot(e, e)).as("d_norm"))
    val scored = cand.join(broadcast(qe), Seq("q_id")).join(de, Seq("vec_id"))
      .withColumn("cosine",
        NativeVectorOps.dot(col("q_emb"), col("d_emb")) /
          (col("q_norm") * col("d_norm")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cosine"), col("rk"))
  }

  /** MULTI-PROBE multi-table LSH (Lv et al., VLDB'07): each query probes,
    * per table, its own bucket PLUS the `probes` Hamming-1 buckets whose
    * flipped plane has the smallest |margin| (the planes the vector sits
    * closest to — the buckets a near neighbor most likely fell into).
    * Candidate work grows by at most ×(1+probes) while recall rises
    * steeply (measured: 0.57 → see AnnRecallSpec floor). The probe
    * expansion happens on the QUERY side only — the corpus bucketing and
    * the (t, bucket) equi-join shape are identical to [[lshTopKMulti]],
    * so the 100 TB layout (corpus pre-bucketed by (t, bucket)) carries
    * over unchanged and probing more buckets never reshuffles the corpus.
    */
  def lshTopKMultiProbe(embeddings: DataFrame, queryMaxId: Long, k: Int,
                        tables: Int = 8, planesPerTable: Int = 4,
                        probes: Int = 2): DataFrame = {
    require(probes >= 0 && probes <= planesPerTable)
    NativeVectorOps.register(embeddings.sparkSession)
    val corpus = lshBucketsMulti(embeddings, tables, planesPerTable)
    val e = embD("embedding")
    // per table: base bucket + the `probes` lowest-|margin| single-bit
    // flips, all plan-time-constant plane projections on the (small,
    // broadcast) query side
    val qStructs = (0 until tables).flatMap { t =>
      val dots = (0 until planesPerTable).map(j =>
        NativeVectorOps.dot(e, typedLit(VectorOps.planeArray(t * planesPerTable + j, Dim))))
      val base = dots.zipWithIndex
        .map { case (d, j) => when(d > 0.0, lit(1L << j)).otherwise(lit(0L)) }
        .reduce(_ + _)
      // flip order: |margin| asc, plane index as the deterministic tie-break
      val order = array_sort(array(dots.zipWithIndex.map { case (d, j) =>
        struct(abs(d).as("m"), lit(j).as("j")) }: _*))
      val flips = (1 to probes).map { i =>
        val j = element_at(order, i).getField("j")
        val bit = (0 until planesPerTable)
          .foldLeft(lit(0L))((acc, b) => when(j === lit(b), lit(1L << b)).otherwise(acc))
        base.bitwiseXOR(bit)
      }
      (base +: flips).map(bk => struct(lit(t).as("t"), bk.as("bucket")))
    }
    val q = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), explode(array(qStructs: _*)).as("tb"))
      .select(col("q_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val cand = corpus.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").dropDuplicates("q_id", "vec_id")
    rankCandidates(embeddings, cand, queryMaxId, k)
  }

  /** Corpus-calibrated IVF seed step — the scale fix for the seed-pick
    * IVF family, same class as [[calibrateLshGeometry]] (found by the
    * round-9 100× audit, preemptively this time): at FIXED `step` the
    * cell count n/step grows linearly with the corpus, so the assignment
    * crossJoin (every vector × every centroid) is n²/step — quadratic —
    * and the broadcast centroid set is unbounded. Seed-IVF total work
    * (assign n²/step + within-cell pairing n·step/2, the SemDeDup term)
    * is minimized at step = √(2n), giving ~√2·n^1.5 — the classic
    * nlist ≈ √n prescription.
    *
    * Floor: for n ≤ step² the caller's step is returned unchanged, so
    * every test-SF corpus (sf0.001/0.01 = 500, sf0.1 = 2000 ≤ 100² =
    * 10000) keeps the oracle-pinned cell geometry bit-for-bit. Ceiling:
    * cells are clamped to `maxCells` (the centroid broadcast stays
    * ≤ maxCells·(id + 64 doubles + norm) ≈ 34 MB at the default 65536);
    * past ~4.3B vectors step grows linearly instead and the documented
    * next gear is [[ivfTopKTrained]] — sampled k-means centroids whose
    * count the caller fixes by design, making assignment n·k linear.
    */
  def calibrateIvfStep(n: Long, step: Long = 100L, maxCells: Long = 65536L): Long = {
    require(step > 0 && maxCells > 0)
    if (n <= step * step) step
    else math.max(math.round(math.sqrt(2.0 * n)), (n + maxCells - 1) / maxCells)
  }

  /** Driver-collected IVF centroid model at resolved step: (cell ids,
    * centroid vectors). Bounded by construction — the calibrated cell
    * count is clamped at [[calibrateIvfStep]]'s maxCells (≤ 34 MB), the
    * same bound the former `broadcast(cents)` carried; at 100 TB the
    * model is the output of the index-build job, identical either way.
    */
  private def ivfModel(embeddings: DataFrame, stepR: Long): (Array[Long], Array[Array[Double]]) = {
    val rows = embeddings.filter(col("vec_id") % stepR === 0)
      .select(col("vec_id"), embD("embedding")).collect()
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray))
  }

  /** The assignment column for a collected model — `vec_id % step ≡ 0`
    * seed centroids, best-cosine cell per vector as ONE native map
    * expression ([[graft.functions.ArgmaxCosine]]). Round 14: the former
    * `crossJoin(broadcast(cents))` + `max(struct)` materialized ~2·10⁹
    * intermediate pair rows at sf100 (measured 129×/decade on q44 —
    * memory bandwidth, not flops); the fused expression keeps the same
    * O(n·cells) arithmetic, bit-identical scores and ties, zero
    * intermediate rows, and no exchange at all.
    */
  private def ivfCellCol(embeddings: DataFrame, stepR: Long): Option[Column] = {
    val (cells, cents) = ivfModel(embeddings, stepR)
    if (cells.isEmpty) None
    else Some(NativeVectorOps.argmaxCell(embD("embedding"), cells, cents))
  }

  /** IVF coarse quantizer: cell = the centroid (vec_id ≡ 0 mod `step`,
    * a deterministic training-free seed pick — real IVF would k-means, but
    * the Spark plumbing is identical) with max cosine to the vector.
    * Assignment is a single narrow-map projection over the corpus (see
    * [[ivfCellCol]]). Output (vec_id, cell).
    *
    * `calibrate` (default on) resolves the step through
    * [[calibrateIvfStep]] — a no-op at every test-SF size by the floor.
    */
  def ivfCells(embeddings: DataFrame, step: Long = 100L,
               calibrate: Boolean = true): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val stepR = if (calibrate) calibrateIvfStep(embeddings.count(), step) else step
    ivfCellCol(embeddings, stepR) match {
      case None => // no centroid rows: the former crossJoin emitted nothing
        embeddings.select(col("vec_id"), lit(null).cast(LongType).as("cell"))
          .filter(lit(false))
      case Some(cellCol) =>
        embeddings.select(col("vec_id"), cellCol.as("cell"))
    }
  }

  /** The IVF *index build*: [[ivfCells]] persisted. Assignment is computed
    * once and reused by every probe in the session — the in-memory stand-in
    * for the documented 100 TB layout where cells are written as a bucketed
    * table at ingest time and probes are shuffle-free. (vec_id, cell) is
    * two longs per vector, so the cache is negligible next to the corpus.
    *
    * Lifecycle: the returned DataFrame IS the release handle — call
    * `.unpersist()` to evict (cache entries otherwise live for the
    * session; under memory pressure MEMORY_AND_DISK spills rather than
    * recomputes). Cross-call reuse keys on the canonicalized logical
    * plan: probes over the same source reuse the entry, while a
    * differently-built input plan (another path/session) builds its own —
    * when index reuse must be guaranteed across jobs, write the cells as
    * the bucketed table instead.
    */
  def ivfIndex(embeddings: DataFrame, step: Long = 100L,
               calibrate: Boolean = true): DataFrame =
    ivfCells(embeddings, step, calibrate).persist()

  /** IVF probe: each query scores the centroids, probes its `nprobe` best
    * cells, and ranks only vectors assigned to those cells — candidate
    * work is |cells probed| / |cells| of brute force. At 100 TB the corpus
    * is written bucketed by cell so the probe join is shuffle-free; each
    * corpus vector lives in exactly one cell, so candidates need no dedup.
    */
  def ivfTopK(embeddings: DataFrame, queryMaxId: Long, k: Int,
              nprobe: Int = 2, step: Long = 100L,
              calibrate: Boolean = true): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    // resolve the step ONCE here so the probe's own centroid pick and
    // the persisted ivfIndex assignment see the same calibrated cells
    val stepR = if (calibrate) calibrateIvfStep(embeddings.count(), step) else step
    val e = embD("embedding")
    val cents = embeddings.filter(col("vec_id") % stepR === 0)
      .select(col("vec_id").as("cell"), e.as("c_emb"),
        sqrt(NativeVectorOps.dot(e, e)).as("c_norm"))
    val wq = Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cell").desc)
    val qCells = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id"), e.as("q_emb"), sqrt(NativeVectorOps.dot(e, e)).as("q_norm"))
      .crossJoin(broadcast(cents))
      .withColumn("cs",
        NativeVectorOps.dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("q_emb"), col("q_norm"), col("cell"))
    // assignment inlined as the narrow-map expression (round 14): the
    // corpus picks up its cell in the SAME projection that carries
    // d_emb/d_norm — no assignment join, no exchange, and the argmax
    // runs once per pass as a fused loop instead of a 2·10⁹-row
    // crossJoin (the r3 "recompute per probe" regression was the
    // crossJoin form recomputing; a map-side expression has no such cliff)
    val withCell = ivfCellCol(embeddings, stepR) match {
      case Some(cc) => embeddings.select(col("vec_id"), e.as("d_emb"),
        sqrt(NativeVectorOps.dot(e, e)).as("d_norm"), cc.as("cell"))
      case None => embeddings.select(col("vec_id"), e.as("d_emb"),
        sqrt(NativeVectorOps.dot(e, e)).as("d_norm"),
        lit(null).cast(LongType).as("cell")).filter(lit(false))
    }
    val scored = withCell
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        NativeVectorOps.dot(col("q_emb"), col("d_emb")) / (col("q_norm") * col("d_norm")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cell"), col("cosine"), col("rk"))
  }

  /** TRAINED-IVF probe: [[ivfTopK]] with the coarse quantizer learned by
    * [[KMeans.fitCentroids]] instead of the mod-step seeds — the
    * composition that turns the training-free IVF into the FAISS-style
    * trained one (better-balanced cells ⇒ better recall per probed
    * candidate). `centroids`: (cluster, centroid) — k rows of model
    * state, broadcast everywhere it appears. The corpus assignment is
    * [[KMeans.assign]] (the same argmax the trainer used, so the index
    * is consistent with the final training round); probes score the
    * same centroid set and rank only vectors in their `nprobe` best
    * cells. Ties: cosine DESC, cell DESC (the q44 max-struct order).
    */
  def ivfTopKTrained(embeddings: DataFrame, centroids: DataFrame,
      queryMaxId: Long, k: Int, nprobe: Int = 2): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val e = embD("embedding")
    val cents = centroids.select(col("cluster").as("cell"),
      col("centroid").as("c_emb"),
      sqrt(NativeVectorOps.dot(col("centroid"), col("centroid"))).as("c_norm"))
    val asn = KMeans.assign(embeddings, centroids)
      .withColumnRenamed("cluster", "cell")
    val wq = Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cell").desc)
    val qCells = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id"), e.as("q_emb"), sqrt(NativeVectorOps.dot(e, e)).as("q_norm"))
      .crossJoin(broadcast(cents))
      .withColumn("cs",
        NativeVectorOps.dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("q_emb"), col("q_norm"), col("cell"))
    val scored = embeddings
      .select(col("vec_id"), e.as("d_emb"), sqrt(NativeVectorOps.dot(e, e)).as("d_norm"))
      .join(asn, Seq("vec_id"))
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        NativeVectorOps.dot(col("q_emb"), col("d_emb")) / (col("q_norm") * col("d_norm")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cell"), col("cosine"), col("rk"))
  }

  /** Corpus-calibrated sign-LSH band geometry — the scale fix for the
    * round-8 audit's one confirmed super-linear path (SCALING_r8.json:
    * q73 candidates 1.27M → 127.6M across a 10× step, because the fixed
    * 8-table × 4-bit default has only 16 buckets/table, making
    * within-bucket pairing N²/16).
    *
    * Band width: the smallest `b ≥ planesPerTable` with
    * 2^b ≥ ⌈n / targetBucketWidth⌉ holds EXPECTED bucket width at or
    * under `targetBucketWidth`, so per-table candidate pairs are
    * ~n·width/2 — linear in n at fixed width. Computed with pure integer
    * bit math (no float log edge cases).
    *
    * Table count: widening bands costs recall (a b-bit table keeps a
    * pair at similarity s with probability p(s)^b, p(s) = 1 − acos(s)/π),
    * recouped with more tables exactly as the theory prescribes: the
    * smallest L with 1 − (1 − p^b)^L ≥ `recallTarget` at `designSim`.
    * L grows only like p^−b = (n/width)^(−log₂ p) ≈ (n/width)^0.22 at
    * designSim 0.9, so TOTAL candidates grow ~n^1.22 — sub-quadratic all
    * the way up (measured: SCALING_r9). Recall under calibrated geometry
    * is pinned empirically in AnnRecallSpec.
    *
    * The floor is load-bearing for reproducibility: for n ≤
    * targetBucketWidth·2^planesPerTable (= 2000 at the defaults) the
    * result is EXACTLY (tables, planesPerTable), so every test-SF corpus
    * (sf0.001/0.01 = 500, sf0.1 = 2000 vectors) keeps the default
    * geometry and the DuckDB oracles' hard-coded 8×4 band SQL — only
    * beyond test scale does the geometry move.
    */
  def calibrateLshGeometry(n: Long, tables: Int = 8, planesPerTable: Int = 4,
                           targetBucketWidth: Int = 125,
                           designSim: Double = 0.90, recallTarget: Double = 0.95,
                           maxPlanes: Int = 24, maxTables: Int = 128): (Int, Int) = {
    require(n >= 0 && targetBucketWidth > 0)
    val needBuckets = (n + targetBucketWidth - 1) / targetBucketWidth
    val b0 =
      if (needBuckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(needBuckets - 1L).toInt
    val b = math.min(math.max(b0, planesPerTable), maxPlanes)
    if (b <= planesPerTable) (tables, planesPerTable)
    else {
      val p = 1.0 - math.acos(designSim) / math.Pi
      val q = math.pow(p, b)
      val l = math.ceil(math.log1p(-recallTarget) / math.log1p(-q)).toInt
      (math.min(math.max(l, 2), maxTables), b)
    }
  }

  /** Embedding near-duplicates at corpus scale: pair only within
    * multi-table LSH buckets (equi-join on (table, bucket) with exchange
    * reuse — never all-pairs), dedup candidate pairs across tables, then
    * score and threshold. Work is O(bucket collisions), and the recall of
    * the candidate step is the multi-table 1−(1−p^b)^L (AnnRecallSpec);
    * this is the production form of [[nearDupPairs]].
    *
    * Bucket occupancy grows with the corpus at FIXED band geometry
    * (16 buckets/table at the 4-bit default), so within-bucket pairing is
    * quadratic in N/buckets — the round-8 scaling audit measured 1.27M →
    * 127.6M candidates across a 10× step (SCALING_r8.json). Both bounds
    * are now ON by default: `calibrate = true` widens the bands from the
    * corpus count via [[calibrateLshGeometry]] (recall recouped with more
    * tables, no-op at test-SF sizes), and `capBucketWidth` — a
    * deterministic skew guard that keeps only the `cap` lowest vec_ids
    * per (table, bucket), turning a runaway bucket's N² into cap² at a
    * quantified recall cost. The real guarantee (r9 ADVICE correction):
    * a pair SURVIVES only if BOTH ends rank within the cap in at least
    * one shared bucket — it is lost whenever either end is cut in every
    * bucket the two share (AnnRecallSpec's cap test pins exactly this).
    * The default 1000 = 8× the
    * calibration's target width, so it never fires on a
    * calibration-balanced corpus (expected width ≈125) and exists purely
    * for adversarial skew (mass-identical vectors all hashing to one
    * bucket in every table). Both defaults are provably no-ops at
    * sf0.001/0.01/0.1 (N ≤ 2000 floors the geometry; measured max bucket
    * width there is 250 < 1000).
    */
  /** The shipped skew-guard default for [[nearDupPairsLsh]] /
    * [[nearDupClusters]] — referenced by ScaleProbe so SCALING
    * artifacts always probe the operator's real default.
    */
  val DefaultCapBucketWidth = 1000

  def nearDupPairsLsh(embeddings: DataFrame, threshold: Double,
                      tables: Int = 8, planesPerTable: Int = 4,
                      capBucketWidth: Option[Int] = Some(DefaultCapBucketWidth),
                      calibrate: Boolean = true): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val (tabs, planes) =
      if (calibrate)
        calibrateLshGeometry(embeddings.filter(col("embedding").isNotNull).count(),
          tables, planesPerTable)
      else (tables, planesPerTable)
    // FUSED scoring (round 10): the vector and its once-computed norm
    // ride the (t, bucket) exchange WITH the bucket row, cosine is
    // computed inside the bucket self-join stage, and the cross-table
    // dedup runs AFTER thresholding on the tiny survivor set. The r9
    // shape (bare-id pairs → distinct → two array joins) shuffled the
    // 64-double embeddings once per CANDIDATE PAIR — measured ~110 GB at
    // sf10 (208M candidates), the shuffle that forced the 48 g/256-
    // partition env overrides and q118's run-to-run variance. Here the
    // arrays shuffle once per (vector × table) row — n·L·~550 B ≈ 1.6 GB
    // at the same scale, 70× less — and the per-collision cosine (64
    // mul-adds, whole-stage codegen) is far cheaper than shipping the
    // same pair's 1 KB of arrays through an exchange. Duplicate
    // collisions across tables recompute an identical cosine and
    // collapse in the terminal distinct — same IEEE expression tree as
    // the joined form, so every surviving (d1, d2, cosine) row is
    // bit-identical to the r9 output (hashes unchanged).
    val bucketed = bucketedWithVec(embeddings, tabs, planes, capBucketWidth)
    val a = bucketed.select(col("vec_id").as("d1"), col("t"), col("bucket"),
      col("__emb").as("e1"), col("__nrm").as("n1"))
    val b = bucketed.select(col("vec_id").as("d2"), col("t"), col("bucket"),
      col("__emb").as("e2"), col("__nrm").as("n2"))
    // shuffle (not broadcast) self-join: both sides canonicalize to the
    // same exchange, so the bucket+vector pipeline runs ONCE and the
    // second side reads the shuffled blocks (ReusedExchange). Verified
    // at RUNTIME round 10 — PlanDump GRAFT_EXECUTE executes the query's
    // own adaptive plan and counts reuse nodes in the final plan (the
    // initial AQE plan prints both branches unreused, which briefly
    // mis-adjudicated this as an AQE stage-cache miss).
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("t", "bucket"))
      .filter(col("d1") < col("d2"))
      .withColumn("cosine",
        NativeVectorOps.dot(col("e1"), col("e2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= threshold)
      .select("d1", "d2", "cosine").distinct()
  }

  /** (vec_id, t, bucket, __emb, __nrm) — multi-table buckets with the
    * double-cast vector and its norm inline, optionally width-capped:
    * the shared candidate-side input of [[nearDupPairsLsh]] and
    * [[semanticContamination]]. One scan, zero joins: buckets come from
    * the same fused element-major pass as [[lshBucketsMulti]] and the
    * norm is the identical sqrt(dot(e,e)) expression the r9 join-back
    * form used, so downstream cosines are bit-identical.
    */
  private def bucketedWithVec(embeddings: DataFrame, tabs: Int, planes: Int,
                              capBucketWidth: Option[Int]): DataFrame = {
    val e = embD("embedding")
    val all = embeddings.filter(col("embedding").isNotNull)
      .select(col("vec_id"), e.as("__emb"), sqrt(NativeVectorOps.dot(e, e)).as("__nrm"),
        posexplode(NativeVectorOps.lshBuckets(e, tabs, planes, Dim)))
      .select(col("vec_id"), col("pos").as("t"), col("col").as("bucket"),
        col("__emb"), col("__nrm"))
    capBucketWidth match {
      case None => all
      case Some(cap) =>
        val w = Window.partitionBy("t", "bucket").orderBy("vec_id")
        all.withColumn("bw_rn", row_number().over(w))
          .filter(col("bw_rn") <= cap).drop("bw_rn")
    }
  }

  /** Embedding-space train→eval contamination — the SEMANTIC complement
    * of the shingle-based [[TextAnalysis.contamination]] (q74): an eval
    * item is compromised when a training vector sits within cosine τ,
    * even with no verbatim n-gram overlap (paraphrases, translations,
    * near-duplicate re-crawls).
    *
    * Split is the deterministic q53 hash rule (hash(id) mod 100 < 90 →
    * train). Both sides bucket with the multi-table sign-LSH and pair
    * only within (table, bucket) — the q60 candidate shape: a keyed
    * shuffle join, never train×eval all-pairs, never a corpus broadcast.
    * Per eval vector the single best train match survives (argmax
    * cosine, ties to the highest train id — the q44 max-struct order)
    * with the verdict `contaminated` = cosine ≥ τ. Eval vectors whose
    * buckets contain no train vector are omitted (no candidates ⇒
    * clean under this detector) — same reporting convention as q60.
    */
  def semanticContamination(embeddings: DataFrame, threshold: Double,
      tables: Int = 8, planesPerTable: Int = 4,
      calibrate: Boolean = true): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    // same corpus-calibrated band geometry as [[nearDupPairsLsh]] — the
    // train×eval within-bucket join has the identical N²/buckets shape
    val (tabs, planes) =
      if (calibrate)
        calibrateLshGeometry(embeddings.filter(col("embedding").isNotNull).count(),
          tables, planesPerTable)
      else (tables, planesPerTable)
    val isTrain = graft.functions.TextOps.hash32(col("vec_id").cast("string")) % 100 < 90
    // FUSED scoring (round 10, the nearDupPairsLsh restructure): both
    // sides carry their vector + norm through the (t, bucket) exchange
    // and cosine is computed inside the bucket join stage. No pair-keyed
    // distinct is needed at all here — a pair colliding in several
    // tables recomputes an IDENTICAL cosine, and the terminal per-eval
    // argmax (max of (cosine, train_id) structs, partially aggregated
    // map-side) is invariant under duplicates. This removes both
    // pair-grain shuffles the r9 shape paid (the distinct and the
    // array join-back, ~per-candidate KB at sf10) — the source of
    // q118's adjudicated 2.8× run-to-run spread at 200k vectors.
    val bucketed = bucketedWithVec(embeddings, tabs, planes, None)
    val tr = bucketed.filter(isTrain)
      .select(col("vec_id").as("train_id"), col("t"), col("bucket"),
        col("__emb").as("t_emb"), col("__nrm").as("t_norm"))
    val va = bucketed.filter(!isTrain)
      .select(col("vec_id").as("eval_id"), col("t"), col("bucket"),
        col("__emb").as("v_emb"), col("__nrm").as("v_norm"))
    va.hint("shuffle_hash").join(tr.hint("shuffle_hash"), Seq("t", "bucket"))
      .withColumn("cosine",
        NativeVectorOps.dot(col("v_emb"), col("t_emb")) / (col("v_norm") * col("t_norm")))
      .groupBy("eval_id")
      .agg(max(struct(col("cosine"), col("train_id"))).as("best"))
      .select(col("eval_id"), col("best.train_id").as("train_id"),
        col("best.cosine").as("cosine"),
        (col("best.cosine") >= threshold).as("contaminated"))
  }

  /** Near-dup CLUSTERS: the pairs from [[nearDupPairsLsh]] closed
    * transitively into duplicate groups ([[Dedup.connectedComponents]])
    * — what a dedup pipeline actually consumes, since keeping "one of
    * each pair" over-deletes when A≈B≈C. Output one row per clustered
    * vector: (vec_id, cluster_id = min member id = the canonical
    * survivor, cluster_size). Vectors with no near-dup are trivially
    * their own singleton and are omitted.
    */
  def nearDupClusters(embeddings: DataFrame, threshold: Double,
                      tables: Int = 8, planesPerTable: Int = 4,
                      maxIter: Int = 20,
                      capBucketWidth: Option[Int] = Some(DefaultCapBucketWidth),
                      calibrate: Boolean = true): DataFrame = {
    val pairs =
      nearDupPairsLsh(embeddings, threshold, tables, planesPerTable,
        capBucketWidth, calibrate)
        .select("d1", "d2")
    // maxIter passes through: boilerplate corpora form LONG near-dup
    // chains (A≈B≈C≈… with dissimilar ends), and a diameter past the cap
    // must be the caller's knob, not a dead end
    val cc = Dedup.connectedComponents(pairs, maxIter)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cluster_id"))
      .select(col("v").as("vec_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Per-language embedding-centroid outliers — the curation pass that
    * drops documents whose embedding sits far from their language's
    * center (mislabeled, garbled, or off-distribution text). Centroids
    * accumulate in FIXED-POINT: each component quantizes to
    * round_even(v·2²⁰) and sums as integers — exact and associative, so
    * the mean is identical across partitionings and engines (a plain
    * double sum would depend on partial-aggregation order). The
    * per-dimension aggregation is (lang, dim)-keyed — shards over
    * executors, never collects the corpus — and the finished centroid dim
    * (|langs|·dim doubles) broadcasts back for one map-side scoring pass.
    * Output: the k lowest-cosine (most-outlying) vectors per language.
    */
  def centroidOutliers(embeddings: DataFrame, docs: DataFrame, k: Int): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    // the centroid aggregation AND the scoring pass both consume this
    // join+cast — persisted so the corpus-side join and the per-row
    // float→double widening run once (512 B/row at dim 64; MEMORY_AND_
    // DISK spills rather than recomputes; at extreme scale callers can
    // trade the cache for a second scan by unpersisting)
    val labeled = embeddings
      .join(docs.select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
      .select(col("vec_id"), col("lang"), embD("embedding").as("emb"))
      .persist()
    val comp = labeled
      .select(col("lang"), posexplode(col("emb")).as(Seq("pos", "v")))
      .withColumn("q", bround(col("v") * (1L << 20), 0).cast(LongType))
      .groupBy("lang", "pos")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .withColumn("c", col("s").cast(DoubleType) / lit(1048576.0) / col("n"))
    val centroids = comp.groupBy("lang")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))
    val w = Window.partitionBy("lang").orderBy(col("centroid_cosine"), col("vec_id"))
    labeled.join(broadcast(centroids), Seq("lang"))
      .withColumn("centroid_cosine", NativeVectorOps.cosine(col("emb"), col("centroid")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("lang"), col("vec_id"), col("centroid_cosine"), col("rk"))
  }

  /** Embedding-space drift between two corpus snapshots — q122's
    * distribution-drift monitor lifted to the EMBEDDING domain: per
    * label, the cosine between the two snapshots' fixed-point centroids
    * (each component a round_even(v·2²⁰) integer sum — exact and
    * associative, so centroids are partition- and engine-invariant; one
    * double division per component at the end). A drifted re-crawl or a
    * silently-updated embedding model shows up as sub-1 centroid cosine
    * BEFORE it poisons training. Snapshot = vec_id parity here; any
    * partition predicate works.
    *
    * One (label, half, dim)-keyed aggregation over the posexploded
    * corpus + a label-dim join of the two centroid sets — nothing
    * corpus-shaped leaves the executors.
    *
    * Output per label: (label, n_a, n_b, drift_cosine).
    */
  def embeddingDrift(embeddings: DataFrame, dim: Int = Dim): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    // dimension-clean rows only (mirrors the q208 audit's n_wrong_dim
    // definition): a wrong-dimension vector would contribute to SOME
    // positions' n but not others, skewing per-pos centroids — and
    // engines that enumerate pos 1..dim (the oracle) vs posexplode the
    // present components (this plan) would count it differently
    val comp = embeddings
      .filter(col("embedding").isNotNull && size(col("embedding")) === dim)
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(embD("embedding")).as(Seq("pos", "v")))
      .withColumn("q", bround(col("v") * (1L << 20), 0).cast(LongType))
      .groupBy("label", "half", "pos")
      .agg(sum("q").as("s"), count(lit(1)).as("n"))
      .withColumn("c", col("s").cast(DoubleType) / lit(1048576.0) / col("n"))
    val cents = comp.groupBy("label", "half")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"),
        max("n").as("n"))
    val a = cents.filter(col("half") === 0)
      .select(col("label"), col("centroid").as("ca"), col("n").as("n_a"))
    val b = cents.filter(col("half") === 1)
      .select(col("label"), col("centroid").as("cb"), col("n").as("n_b"))
    a.join(b, Seq("label"))
      .withColumn("drift_cosine", NativeVectorOps.cosine(col("ca"), col("cb")))
      .select("label", "n_a", "n_b", "drift_cosine")
  }

  /** Embedding near-duplicate pairs among vec_id < maxId: global top-k
    * pairs by cosine (deterministic tie-break). The pair generation is
    * bounded by maxId² — [[nearDupPairsLsh]] is the bucketed form that
    * scales past it.
    */
  def nearDupPairs(embeddings: DataFrame, maxId: Long, topK: Int): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val sub = embeddings.filter(col("vec_id") < maxId)
    val a = sub.select(col("vec_id").as("d1"), col("embedding").as("e1"))
    val b = sub.select(col("vec_id").as("d2"), col("embedding").as("e2"))
    val pairs = a.crossJoin(b).filter(col("d1") < col("d2"))
      .withColumn("cosine", NativeVectorOps.cosine(embD("e1"), embD("e2")))
    // Global top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    // heap + tiny driver merge), NOT a single-partition global window over
    // all pairs. The rank is then assigned on just the k surviving rows.
    val top = pairs
      .orderBy(col("cosine").desc, col("d1"), col("d2"))
      .limit(topK)
    val w = Window.partitionBy(lit(1)).orderBy(col("cosine").desc, col("d1"), col("d2"))
    top.withColumn("rk", row_number().over(w))
      .select("d1", "d2", "cosine", "rk")
  }

  /** Per-dimension corpus [min, max] for scalar quantization, as two
    * Dim-long arrays in ONE broadcastable row. posexplode → groupBy(dim)
    * partially aggregates map-side (the exchange carries |partitions|·Dim
    * rows, not the corpus), then Dim rows collapse to the bounds row.
    */
  def sq8Bounds(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(embD("embedding")).as(Seq("d", "v")))
      .groupBy("d").agg(min("v").as("mn"), max("v").as("mx"))
      .groupBy()
      .agg(
        expr("transform(array_sort(collect_list(struct(d, mn))), s -> s.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(d, mx))), s -> s.mx)").as("mxs"))

  /** SQ8 scalar quantization (the FAISS-style memory-reduction path):
    * each float dimension → an integer code in [0, 255] against the
    * per-dim corpus bounds, `code = min(255, ⌊(v − mn)·256/(mx − mn)⌋)`.
    * Pure integer outputs make every downstream statistic engine-exact;
    * the arithmetic inside the floor is the same IEEE double sequence in
    * both engines. At 100 TB the codes table is what gets scanned — 8×
    * smaller than float64 doubles, 4× smaller than float32 — with the
    * bounds row broadcast from a one-off corpus pass.
    */
  /** The quantization projection, shared verbatim by [[sq8Codes]] and
    * [[sq8Reconstruct]] so the formula cannot diverge between them.
    */
  private val Sq8CodesExpr =
    """transform(cast(embedding as array<double>), (v, i) ->
      cast(CASE WHEN element_at(mxs, i + 1) = element_at(mns, i + 1) THEN 0.0
           ELSE least(255.0, floor((v - element_at(mns, i + 1)) * 256.0
                / (element_at(mxs, i + 1) - element_at(mns, i + 1)))) END as long))"""

  def sq8Codes(embeddings: DataFrame): DataFrame =
    embeddings.crossJoin(broadcast(sq8Bounds(embeddings)))
      .select(col("vec_id"), expr(Sq8CodesExpr).as("codes"))

  /** Dequantized (reconstructed) vectors from the SQ8 codes:
    * `r_i = mn_i + (code_i + 0.5)·(mx_i − mn_i)/256` — the cell-midpoint
    * reconstruction. One pass over the codes scan with the bounds row
    * broadcast; identical IEEE arithmetic in the DuckDB twin.
    */
  def sq8Reconstruct(embeddings: DataFrame): DataFrame =
    // one bounds pass + one codes pass: quantize and dequantize against
    // the SAME broadcast bounds row (composing sq8Codes with a second
    // bounds join would aggregate the corpus bounds twice)
    embeddings.crossJoin(broadcast(sq8Bounds(embeddings)))
      .select(col("vec_id"), expr(Sq8CodesExpr).as("codes"), col("mns"), col("mxs"))
      .select(col("vec_id"), col("codes"),
        expr("""transform(codes, (c, i) ->
          element_at(mns, i + 1) + (cast(c as double) + 0.5D)
            * (element_at(mxs, i + 1) - element_at(mns, i + 1)) / 256.0D)""")
          .as("remb"))

  /** Quantize-then-rerank ANN (the FAISS SQ + refine pattern on Spark
    * relations): candidates ranked by the APPROXIMATE cosine of
    * dequantized codes, then only the `candidates`-deep shortlist pays
    * the exact cosine on full vectors. A raw dot of the codes themselves
    * would NOT work — quantization is per-dim affine, and the shifts
    * deform the geometry (measured recall@10 collapsed to 0.11; the
    * reconstruction form holds ≥ 0.85, AnnRecallSpec). At 100 TB the
    * candidate scan reads the 8×-smaller codes table; full vectors are
    * fetched for the shortlist alone.
    */
  def sq8TopK(embeddings: DataFrame, queryMaxId: Long, k: Int,
              candidates: Int = 20): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    // persisted: the reconstruction feeds BOTH the candidate scan and the
    // broadcast query set — unpersisted, each branch would re-run the
    // full-corpus bounds aggregation + reconstruction (the ivfIndex
    // idiom; session-scoped cache, evictable, keyed on the plan)
    val recon = sq8Reconstruct(embeddings).select("vec_id", "remb").persist()
    val q = recon.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), col("remb").as("q_remb"))
    val approx = recon.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("approx_cosine", NativeVectorOps.cosine(col("q_remb"), col("remb")))
      .select("q_id", "vec_id", "approx_cosine")
    val wCand = Window.partitionBy("q_id").orderBy(col("approx_cosine").desc, col("vec_id"))
    val shortlist = approx.withColumn("cn", row_number().over(wCand))
      .filter(col("cn") <= candidates)
      .select("q_id", "vec_id", "approx_cosine")
    rerankExact(embeddings, shortlist, queryMaxId, k)
      .select("q_id", "n_id", "approx_cosine", "cosine", "rk")
  }

  /** Exact-cosine rerank of a (q_id, vec_id, …) shortlist: full vectors
    * join in for the shortlist alone, top-`k` per query by cosine. Keeps
    * every shortlist column (the approximate score that built it rides
    * along), renames vec_id → n_id. Shared tail of sq8TopK / pqTopK /
    * ivfPqTopK — one definition, or the tiebreaks silently diverge.
    */
  private def rerankExact(embeddings: DataFrame, shortlist: DataFrame,
                          queryMaxId: Long, k: Int): DataFrame = {
    val e = embD("embedding")
    val qe = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), e.as("q_emb"))
    val scored = shortlist
      .join(embeddings.select(col("vec_id"), e.as("d_emb")), Seq("vec_id"))
      .join(broadcast(qe), Seq("q_id"))
      .withColumn("cosine", NativeVectorOps.cosine(col("q_emb"), col("d_emb")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast(IntegerType))
      .filter(col("rk") <= k)
      .drop("q_emb", "d_emb")
      .withColumnRenamed("vec_id", "n_id")
  }

  // ------------------------------------------------------------- PQ

  /** Product quantization geometry: 64-dim vectors split into 8
    * subspaces of 8 dims; 8 centroids per subspace, seeded training-free
    * from the first `PqCodebook` vectors' subvectors (the ivfCells
    * convention — real PQ would k-means per subspace, the Spark plumbing
    * is identical). A full code is 8×3 bits; packed 4 bits/subspace into
    * one BIGINT for storage.
    */
  val PqSubspaces = 8
  val PqSubDim = Dim / PqSubspaces
  val PqCodebook = 8

  /** Codebook: (c, j, cent) — centroid c's subvector for subspace j. */
  def pqCentroids(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id") < PqCodebook)
      .select(col("vec_id").as("c"), embD("embedding").as("emb"))
      .select(col("c"),
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("j"), col("emb"))
      .select(col("c"), col("j"),
        expr(s"slice(emb, j * $PqSubDim + 1, $PqSubDim)").as("cent"))

  /** Squared L2 between two sub-array COLUMNS (by name), the
    * engine-shared left fold.
    */
  private def subDist2(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "0.0D, (acc, v) -> acc + v)")

  /** PQ encoding: per (vector, subspace) the argmin-distance centroid
    * (ties to the smaller centroid id via the struct min), collected into
    * an ordered 8-code array plus the packed BIGINT. The codebook is 64
    * tiny rows broadcast; the per-vector combine is the only exchange.
    * At 100 TB the packed codes column is 8 BYTES per vector — a 64×
    * smaller scan than float64 embeddings — and ADC probes never touch
    * the raw vectors outside the rerank shortlist.
    */
  def pqCodes(embeddings: DataFrame): DataFrame =
    pqAssign(embeddings, pqCentroids(embeddings))

  private def pqAssign(embeddings: DataFrame, cents: DataFrame): DataFrame = {
    embeddings
      .select(col("vec_id"), embD("embedding").as("emb"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("j"), col("emb"))
      .select(col("vec_id"), col("j"),
        expr(s"slice(emb, j * $PqSubDim + 1, $PqSubDim)").as("sub"))
      .join(broadcast(cents), Seq("j"))
      .withColumn("d2", subDist2("sub", "cent"))
      .groupBy("vec_id", "j")
      .agg(min(struct(col("d2"), col("c"))).as("best"))
      .groupBy("vec_id")
      .agg(
        expr("transform(array_sort(collect_list(named_struct('j', j, 'c', best.c))), s -> s.c)")
          .as("codes"),
        sum(expr("shiftleft(best.c, 4 * j)")).as("packed_code"))
  }

  /** (q_id, dt[64]): each query's PQ distance table — entry
    * j·PqCodebook + c = d2(query subvector j, centroid c). Tiny,
    * broadcast at the probe site. Shared by pqTopK and ivfPqTopK against
    * the SAME `cents` frame, so the codebook subtree exists once per
    * plan.
    */
  private def pqDistanceTables(embeddings: DataFrame, cents: DataFrame,
                               queryMaxId: Long): DataFrame =
    embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("q_id"), embD("embedding").as("q_emb"))
      .select(col("q_id"),
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("j"), col("q_emb"))
      .select(col("q_id"), col("j"),
        expr(s"slice(q_emb, j * $PqSubDim + 1, $PqSubDim)").as("qsub"))
      .join(broadcast(cents), Seq("j"))
      .withColumn("d2", subDist2("qsub", "cent"))
      .groupBy("q_id")
      .agg(expr("transform(array_sort(collect_list(named_struct('j', j, 'c', c, 'd2', d2))), s -> s.d2)")
        .as("dt"))

  /** The ADC sum: 8 distance-table lookups folded in SUBSPACE ORDER (a
    * grouped SUM of doubles is addition-order-nondeterministic across
    * engines). One definition for pqTopK and ivfPqTopK.
    */
  private val AdcExpr =
    s"""aggregate(sequence(0, ${PqSubspaces - 1}), 0.0D, (acc, j) ->
      acc + element_at(dt, cast(j * $PqCodebook
        + element_at(codes, cast(j + 1 as int)) + 1 as int)))"""

  /** (q_id, cell): each query's `nprobe` best IVF cells — the q44 probe
    * selection without the q_emb carry (ADC scores from codes, not the
    * raw query vector).
    */
  private def probeCells(embeddings: DataFrame, queryMaxId: Long,
                         nprobe: Int, step: Long): DataFrame = {
    val e = embD("embedding")
    val cents = embeddings.filter(col("vec_id") % step === 0)
      .select(col("vec_id").as("cell"), e.as("c_emb"),
        sqrt(NativeVectorOps.dot(e, e)).as("c_norm"))
    val wq = Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cell").desc)
    embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id"), e.as("q_emb"), sqrt(NativeVectorOps.dot(e, e)).as("q_norm"))
      .crossJoin(broadcast(cents))
      .withColumn("cs",
        NativeVectorOps.dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("cell"))
  }

  /** PQ ANN with asymmetric distance computation (Jégou et al. 2011,
    * public): each query precomputes its 64-entry distance table (query
    * subvector × every centroid — tiny, broadcast), the corpus scan sums
    * 8 table lookups per vector via an ORDERED fold over subspaces (a
    * grouped SUM of doubles would be addition-order-nondeterministic
    * across engines), and only the `candidates` shortlist pays the exact
    * cosine. The scan side reads codes only — the PQ memory win.
    */
  def pqTopK(embeddings: DataFrame, queryMaxId: Long, k: Int,
             candidates: Int = 20): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val cents = pqCentroids(embeddings)
    val dtable = pqDistanceTables(embeddings, cents, queryMaxId)
    val adc = pqAssign(embeddings, cents).select("vec_id", "codes")
      .join(broadcast(dtable), col("vec_id") =!= col("q_id"))
      .withColumn("adc", expr(AdcExpr))
      .select("q_id", "vec_id", "adc")
    val wCand = Window.partitionBy("q_id").orderBy(col("adc").asc, col("vec_id"))
    val shortlist = adc.withColumn("cn", row_number().over(wCand))
      .filter(col("cn") <= candidates)
      .select("q_id", "vec_id", "adc")
    rerankExact(embeddings, shortlist, queryMaxId, k)
      .select("q_id", "n_id", "adc", "cosine", "rk")
  }

  /** IVF-PQ (the FAISS composition): the IVF coarse quantizer restricts
    * candidates to the query's `nprobe` best cells, PQ's ADC scores only
    * those candidates from their 8-byte codes, and the exact cosine
    * reranks the shortlist. At 100 TB this is THE standard layout: the
    * corpus is bucketed by cell with packed codes beside the ids, a
    * probe touches nprobe/cells of the data, reads 8 B/vector, and
    * fetches full vectors for the shortlist alone.
    */
  def ivfPqTopK(embeddings: DataFrame, queryMaxId: Long, k: Int,
                nprobe: Int = 2, step: Long = 100L,
                candidates: Int = 20, calibrate: Boolean = true): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val stepR = if (calibrate) calibrateIvfStep(embeddings.count(), step) else step
    val cents = pqCentroids(embeddings)
    val qCells = probeCells(embeddings, queryMaxId, nprobe, stepR)
    val dtable = pqDistanceTables(embeddings, cents, queryMaxId)
    // candidates: codes of vectors in probed cells, ADC-scored. The IVF
    // assignment joins in as (vec_id, cell) — ivfCells is a narrow map
    // now (round 14), so this equi-join's build side is corpus-thin and
    // carries no crossJoin lineage.
    val adc = pqAssign(embeddings, cents).select("vec_id", "codes")
      .join(ivfCells(embeddings, stepR, calibrate = false), Seq("vec_id"))
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(dtable), Seq("q_id"))
      .withColumn("adc", expr(AdcExpr))
      .select("q_id", "vec_id", "cell", "adc")
    val wCand = Window.partitionBy("q_id").orderBy(col("adc").asc, col("vec_id"))
    val shortlist = adc.withColumn("cn", row_number().over(wCand))
      .filter(col("cn") <= candidates)
      .select("q_id", "vec_id", "cell", "adc")
    rerankExact(embeddings, shortlist, queryMaxId, k)
      .select("q_id", "n_id", "cell", "adc", "cosine", "rk")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    * assign every vector to its IVF cell, then within each cell drop any
    * vector whose cosine to a LOWER-id cell-mate reaches `threshold` —
    * the min-id member of each tight neighborhood survives. The cluster
    * assignment is what bounds the O(n²): pairs form only inside cells
    * (equi-join on `cell`), never across the corpus. At 100 TB the
    * assignment is the cell-bucketed Storage table, making the self-join
    * exchange-free; the per-cell pair count is the knob `step` controls
    * (more centroids → smaller cells → less pair work, lower recall),
    * and `calibrate` resolves it to the √(2n) balance point past the
    * test-SF floor ([[calibrateIvfStep]] — pair work and assignment work
    * meet at ~√2·n^1.5; a fixed step keeps pairing linear but lets the
    * assignment crossJoin go quadratic).
    * Output: every vector with its cell and a `kept` verdict.
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double, step: Long = 100L,
                    calibrate: Boolean = true): DataFrame = {
    NativeVectorOps.register(embeddings.sparkSession)
    val e = embD("embedding")
    val stepR = if (calibrate) calibrateIvfStep(embeddings.count(), step) else step
    // cell inlined in the SAME projection as emb/nrm (round 14 — no
    // assignment join); still persisted: withCell feeds the pair join's
    // BOTH sides and the final verdict join, and the n·cells argmax is
    // worth computing once, not three times
    val withCell = (ivfCellCol(embeddings, stepR) match {
      case Some(cc) => embeddings.select(col("vec_id"), e.as("emb"),
        sqrt(NativeVectorOps.dot(e, e)).as("nrm"), cc.as("cell"))
      case None => embeddings.select(col("vec_id"), e.as("emb"),
        sqrt(NativeVectorOps.dot(e, e)).as("nrm"),
        lit(null).cast(LongType).as("cell")).filter(lit(false))
    }).persist()
    val a = withCell.select(col("cell"), col("vec_id").as("keep_id"),
      col("emb").as("a_emb"), col("nrm").as("a_nrm"))
    val b = withCell.select(col("cell"), col("vec_id").as("drop_id"),
      col("emb").as("b_emb"), col("nrm").as("b_nrm"))
    val drops = a.join(b, Seq("cell"))
      .filter(col("keep_id") < col("drop_id"))
      .filter(NativeVectorOps.dot(col("a_emb"), col("b_emb"))
        / (col("a_nrm") * col("b_nrm")) >= threshold)
      .select("drop_id").distinct()
    withCell
      .join(drops, withCell("vec_id") === drops("drop_id"), "left")
      .select(col("vec_id"), col("cell"), col("drop_id").isNull.as("kept"))
  }
}
