package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up for the self-audit: replicate an SF directory K×
  * with KEY REMAPPING into a new directory, so the most expensive
  * queries can be timed at ~10× the largest driver-provided SF and
  * super-linear growth adjudicated (SCALING_r{N}.json). Replication is
  * NOT naive duplication — exact copies would collapse under dedup
  * (every row an exact dup, shingle buckets at K× occupancy) and
  * overstate ANN bucket skew. Each copy i:
  *
  *   - documents: doc_id shifted; text gets a per-copy deterministic
  *     suffix token (exact-dup structure preserved WITHIN a copy,
  *     destroyed ACROSS copies — what a larger crawl looks like);
  *     n_chars recomputed.
  *   - embeddings: vec_id shifted; the vector is ROTATED by i positions
  *     (norm-preserving, so cosine structure within a copy is intact
  *     while LSH/IVF buckets spread across copies).
  *   - events: event_id/user_id shifted (more users, same per-user
  *     shape — DAU scales, session lengths don't).
  *   - lineitem/orders/customer: order/cust keys shifted; part/supp
  *     keys kept so dimension joins and basket sizes stay realistic;
  *     customer names get the copy suffix (record-linkage blocking
  *     spreads instead of collapsing).
  *   - nation/region/part/supplier: copied once (dimensions).
  *
  * This preserves per-key densities (the thing that drives join/agg
  * cost) while scaling row counts — the ratio audit's requirement.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("scaling_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    // "uniform" replicates with a per-copy text/name suffix (preserves
    // per-key densities; inflates every shingle/name-block frequency by
    // exactly K — the r8 audit's honest caveat). "zipf" grows the TAIL
    // instead, the way a real K× crawl does: every 3rd word of each
    // copy's text carries a per-copy tag (all 3-gram shingles become
    // copy-distinct, so document frequencies keep the BASE corpus's
    // distribution while distinct shingles grow K×), and customer name
    // digits are remapped to the shifted key (new customers get new
    // blocking digits, not the base corpus's digits K times over).
    // Within-copy dup structure is preserved in both modes: the text
    // transform is a pure function of (text, copy), never of doc_id.
    val mode = args.lift(3).getOrElse("uniform")
    require(mode == "uniform" || mode == "zipf", s"unknown mode '$mode'")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Harness.session(s"local[$cpus]", cpus.toInt)

    def copies(table: String)(tx: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val all = (0 until k).map(i => tx(base, i)).reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleup] $table x$k -> $out")
    }
    def copyOnce(table: String): Unit = {
      spark.read.parquet(s"$src/$table.parquet")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleup] $table x1 (dimension) -> $out")
    }

    copies("documents") { (df, i) =>
      val text =
        if (i == 0) col("text")
        else if (mode == "zipf")
          expr(s"array_join(transform(split(text, ' '), (w, j) -> " +
            s"CASE WHEN j % 3 = ${i % 3} THEN concat(w, 'z$i') ELSE w END), ' ')")
        else concat(col("text"), lit(s" c${i}x"), (col("doc_id") % 97).cast("string"))
      df.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }
    copies("embeddings") { (df, i) =>
      // a DISTINCT orthogonal transform per copy (norm- and
      // within-copy-cosine-preserving, cross-copy structure destroyed):
      // rotate by i % Dim (= 64) — not i % 8, under which copies 8/9
      // were byte-identical to 0/1 (r8 ADVICE, medium) — and NEGATE for
      // i ≥ 64 (−I is orthogonal; cos(−u,−v) = cos(u,v) within the
      // copy, while v vs −rot(v) across copies is anti-correlated, not
      // a near-dup). Distinct for every i < 128, covering the 100-copy
      // second-decade audit.
      // copies 0..127: the original rotate/negate family, byte-stable so
      // regenerated 100x corpora stay comparable with earlier boards.
      // copies 128..1023 (the 1000x third-decade audit): compose the
      // rotation with a per-group SIGN DIAGONAL D_s (flip coordinate j
      // iff bit (j mod 4) of s) — a diagonal ±1 matrix is orthogonal, so
      // norms and within-copy cosines are preserved while every s gives
      // a distinct cross-copy structure (distinct 4-bit masks ⇒ distinct
      // diagonals). s = i div 64 - 1, i.e. masks 1..14: mask 0 IS the
      // pure rotation (copies 0..63) and mask 15 = -I IS the negate
      // family (copies 64..127), so `i / 64` made copies 960..999
      // byte-identical to 64..103 (r12 ADVICE, medium — the r8-class
      // cross-copy exact-dup bug re-entering through the top mask).
      // With masks 1..14 the family is exactly 64 rotations × 16
      // distinct diagonals = 1024 distinct transforms.
      require(i < 1024, s"embedding transform family is exhausted at 1024 copies (got copy $i)")
      val r = i % 64
      val s64 = i / 64 - 1
      val rotS =
        if (r == 0) "embedding"
        else s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
          s"slice(embedding, 1, $r))"
      val emb = expr(
        if (i < 64) rotS
        else if (i < 128) s"transform($rotS, x -> -x)"
        else s"transform($rotS, (x, j) -> CASE WHEN (($s64 >> (j % 4)) & 1) = 1 THEN -x ELSE x END)")
      df.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        emb.as("embedding"), col("label"))
    }
    copies("events") { (df, i) =>
      df.select((col("event_id") + lit(i * 1000000000L)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    copies("lineitem") { (df, i) =>
      df.select((col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }
    copies("orders") { (df, i) =>
      df.select((col("o_orderkey") + lit(i * 100000000L)).as("o_orderkey"),
        (col("o_custkey") + lit(i * 1000000L)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }
    copies("customer") { (df, i) =>
      val name =
        if (i == 0) col("c_name")
        else if (mode == "zipf")
          // real growth: the new customer's name digits come from the
          // NEW key, so q178's (nation, digit-sum) blocks spread over
          // the key space instead of stacking K copies of each base name
          concat(lit("Customer#"),
            lpad((col("c_custkey") + lit(i * 1000000L)).cast("string"), 9, "0"))
        else concat(col("c_name"), lit(s" c$i"))
      df.select((col("c_custkey") + lit(i * 1000000L)).as("c_custkey"),
        name.as("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }
    Seq("nation", "region", "part", "supplier").foreach(copyOnce)
    spark.stop()
  }
}

/** Containment-audit probe: the q86 internals for an SF directory —
  * doc count, the calibrated df-cap, shingle volume, prefix rows
  * surviving the cap, candidate pairs after the positional bound, and
  * verified pairs — one JSON line. Separates "candidate blow-up" from
  * "linear volume with spill" when adjudicating q86's decade ratios.
  */
object ContainmentProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Harness.session(s"local[$cpus]",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "256").toInt, logLevel = "ERROR")
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val cap = Dedup.calibrateShingleDfCap(n)
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (sh, tShingle) = timed {
      val s = Dedup.shingleHashes(docs).persist() // the operator's real grain
      s.count(); s
    }
    val shingleRows = sh.count()
    // the OPERATOR's own rank/prefix steps (shared private[graft]
    // helpers), so these numbers cannot drift from what q86 really does.
    // Stage walls are cumulative-pipeline-free: each stage materializes
    // on top of the PERSISTED previous stage, so its wall is its own.
    val (ranked, tRank) = timed {
      val r = Dedup.rankedShingles(sh).persist(); r.count(); r
    }
    def prefixRows(capped: Boolean): Long = {
      val base = if (capped && cap.isDefined) ranked.filter(col("df") <= cap.get) else ranked
      Dedup.prefixFilter(base, tauPct = 70).count()
    }
    val (prefCapped, tPref) = timed(prefixRows(capped = true))
    val prefUncapped = prefixRows(capped = false)
    // candidate stage alone (prefix join + positional-bound agg), on the
    // persisted ranked table — the piece between prefix and verification
    val (candPairs, tCand) = timed {
      Dedup.candidatesFromRanked(ranked, tauPct = 70, dfCap = cap).count()
    }
    // the full operator, cold (its own persists, its own pipeline): the
    // whole-wall reference the stage walls must roughly sum to
    val (verified, tFull) = timed(Dedup.containmentPairs(docs, 70).count())
    println(f"""{"metric":"containment_probe","dir":"$dir","n":$n,"df_cap":${cap.getOrElse(-1)},"shingle_rows":$shingleRows,"prefix_rows_capped":$prefCapped,"prefix_rows_uncapped":$prefUncapped,"candidate_pairs":$candPairs,"verified_pairs":$verified,"stage_sec":{"shingle":$tShingle%.1f,"rank":$tRank%.1f,"prefix_count":$tPref%.1f,"candidates":$tCand%.1f,"full_operator_cold":$tFull%.1f}}""")
    spark.stop()
  }
}

/** Scaling-audit probe: prints the LSH candidate-step internals for an
  * SF directory — corpus count, the geometry [[graft.operators.Similarity.
  * calibrateLshGeometry]] picks for it, the distinct candidate-pair count
  * that geometry yields, and the max bucket width — one JSON line. This
  * is the measurement behind SCALING_r{N}.json's candidate numbers (r8
  * did it as a DuckDB replay of the bucket SQL; this runs the REAL code
  * path, so geometry/cap changes are probed exactly as queries see them).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Harness.session(s"local[$cpus]", cpus.toInt, logLevel = "ERROR")
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
    val n = emb.count()
    val (tabs, planes) = Similarity.calibrateLshGeometry(n)
    val bucketsAll = Similarity.lshBucketsMulti(emb, tabs, planes).persist()
    val widths = bucketsAll.groupBy("t", "bucket").agg(count(lit(1)).as("w"))
    val maxWidth = widths.agg(max("w")).head().getLong(0)
    // BOTH counts (r9 ADVICE): `candidates` applies the shipped
    // nearDupPairsLsh default capBucketWidth = Some(1000) so SCALING
    // artifacts reflect the operator's real work; `candidates_uncapped`
    // keeps the raw within-bucket pairing for defect-class comparisons
    // with earlier rounds' numbers.
    def pairCount(buckets: org.apache.spark.sql.DataFrame): Long = {
      val a = buckets.select(col("vec_id").as("d1"), col("t"), col("bucket"))
      val b = buckets.select(col("vec_id").as("d2"), col("t"), col("bucket"))
      a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("t", "bucket"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2").distinct().count()
    }
    val defaultCap = Similarity.DefaultCapBucketWidth
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy("t", "bucket").orderBy("vec_id")
    val capped = bucketsAll.withColumn("bw_rn", row_number().over(wCap))
      .filter(col("bw_rn") <= defaultCap).drop("bw_rn")
    val candidates = pairCount(capped)
    val candidatesUncapped =
      if (maxWidth <= defaultCap.toLong) candidates else pairCount(bucketsAll)
    println(s"""{"metric":"lsh_probe","dir":"$dir","n":$n,"tables":$tabs,"planes":$planes,"candidates":$candidates,"candidates_uncapped":$candidatesUncapped,"max_bucket_width":$maxWidth}""")
    // `deep`: decompose the widest buckets — width distribution and the
    // per-copy (vec_id / 10^7, the ScaleUp shift) makeup of the single
    // widest one, to tell apart "one tight cosine cluster" (cap
    // territory) from "replication artifact" (same copy stacking).
    if (args.lift(1).contains("deep")) {
      println("[deep] top-10 bucket widths:")
      widths.orderBy(col("w").desc).limit(10).collect()
        .foreach(r => println(s"[deep]   t=${r.get(0)} bucket=${r.get(1)} w=${r.get(2)}"))
      val top = widths.orderBy(col("w").desc).limit(1).collect()(0)
      val byCopy = bucketsAll
        .filter(col("t") === top.get(0) && col("bucket") === top.get(1))
        .groupBy((col("vec_id") / lit(10000000L)).cast("long").as("copy"))
        .agg(count(lit(1)).as("c")).orderBy(col("c").desc).limit(10).collect()
      println(s"[deep] widest bucket per-copy makeup (top 10 copies):")
      byCopy.foreach(r => println(s"[deep]   copy=${r.getLong(0)} c=${r.getLong(1)}"))
    }
    spark.stop()
  }
}
