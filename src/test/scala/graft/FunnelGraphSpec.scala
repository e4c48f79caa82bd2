package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Funnel, GraphOps}

/** Behavioral invariants for the funnel / retention / graph wave. */
class FunnelGraphSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  test("funnel: out-of-order stage events do not convert") {
    // u1 converts fully; u2 clicked BEFORE viewing (no stage-2 credit);
    // u3 views only; u4 purchase-without-click never reaches stage 2/3.
    val events = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(1)), (1L, "purchase", ts(2)),
      (2L, "click", ts(0)), (2L, "view", ts(1)),
      (3L, "view", ts(0)),
      (4L, "view", ts(0)), (4L, "purchase", ts(1))
    ).toDF("user_id", "event_type", "ts")
    val got = Funnel.ordered(events, Seq("view", "click", "purchase"))
      .as[(Int, String, Long)].collect().toList
    assert(got == List((1, "view", 4L), (2, "click", 1L), (3, "purchase", 1L)))
  }

  test("funnel: equal timestamps are strictly-after, not after-or-equal") {
    val events = Seq((1L, "view", ts(0)), (1L, "click", ts(0)))
      .toDF("user_id", "event_type", "ts")
    val got = Funnel.ordered(events, Seq("view", "click"))
      .as[(Int, String, Long)].collect().toList
    assert(got == List((1, "view", 1L), (2, "click", 0L)))
  }

  test("funnel: later cheaper completion beats earlier path (earliest-min binding)") {
    // view@0, view@5, click@1: stage2 binds to click@1 (after min view@0).
    val events = Seq((1L, "view", ts(0)), (1L, "view", ts(5)), (1L, "click", ts(1)))
      .toDF("user_id", "event_type", "ts")
    val got = Funnel.ordered(events, Seq("view", "click"))
      .as[(Int, String, Long)].collect().toList
    assert(got == List((1, "view", 1L), (2, "click", 1L)))
  }

  test("funnel: max-gap bound drops conversions beyond the window") {
    // u1 clicks 5 min after viewing (inside a 10-min gap); u2 clicks 30
    // min after (outside) — only u1 reaches stage 2 under the bound,
    // both do unbounded
    val events = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(5)),
      (2L, "view", ts(0)), (2L, "click", ts(30))
    ).toDF("user_id", "event_type", "ts")
    val bounded = Funnel.ordered(events, Seq("view", "click"),
      maxGapMinutes = Some(10L)).as[(Int, String, Long)].collect().toList
    assert(bounded == List((1, "view", 2L), (2, "click", 1L)))
    val unbounded = Funnel.ordered(events, Seq("view", "click"))
      .as[(Int, String, Long)].collect().toList
    assert(unbounded == List((1, "view", 2L), (2, "click", 2L)))
  }

  test("last-touch: bound, tie order, and the no-touch null contract") {
    // u1: click at t1, purchase at t3 → attributed, gap 120 s
    // u2: click at t0, purchase at t0+25h → outside the 24 h bound → null
    // u3: purchase with NO click ever → null
    // u4: click and purchase at the SAME ts — click's smaller event_id
    //     orders first in the ROWS frame, so it attributes with gap 0
    val rows = Seq(
      (1L, ts(1), "click", 10L), (1L, ts(3), "purchase", 11L),
      (2L, ts(0), "click", 20L), (2L, ts(25 * 60), "purchase", 21L),
      (3L, ts(5), "purchase", 30L),
      (4L, ts(7), "click", 40L), (4L, ts(7), "purchase", 41L)
    ).toDF("u", "t", "e", "id")
    val got = Funnel.lastTouch(rows, col("u"), col("t"), col("e"), col("id"),
      "click", "purchase", maxGapMinutes = 1440L)
      .as[(Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(1L) == ((Some(10L), Some(120L))))
    assert(got(2L) == ((None, None)), "25 h gap must not attribute")
    assert(got(3L) == ((None, None)), "conversion without touch must be null")
    assert(got(4L) == ((Some(40L), Some(0L))), "same-instant touch attributes by tie")
  }

  test("retention: offset 0 equals cohort size; no negative offsets") {
    val act = Seq(
      (1L, Timestamp.valueOf("2024-01-05 00:00:00")),
      (1L, Timestamp.valueOf("2024-03-02 00:00:00")),
      (2L, Timestamp.valueOf("2024-01-20 00:00:00")),
      (3L, Timestamp.valueOf("2024-02-11 00:00:00")),
      (3L, Timestamp.valueOf("2024-02-25 00:00:00"))
    ).toDF("k", "t")
    val got = Funnel.cohortRetention(act, "k", "t")
      .as[(String, Int, Long)].collect().toList
    assert(got == List(("2024-01", 0, 2L), ("2024-01", 2, 1L), ("2024-02", 0, 1L)))
  }

  test("pagerank: star center outranks leaves; total mass bounded by n*scale") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("src", "dst")
    val r = GraphOps.pageRankInt(edges, iters = 10, scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(r(0L) > r(1L) * 2)
    assert(Set(1L, 2L, 3L, 4L).map(r).size == 1) // symmetric leaves tie exactly
    assert(r.values.sum <= 5L * 1000000L)        // floor division only loses mass
  }

  test("pagerank: deterministic across partition counts") {
    val edges = (1L to 40L).map(i => (i, i % 7)).toDF("src", "dst")
    val a = GraphOps.pageRankInt(edges.repartition(1), 5).as[(Long, Long)].collect().toList
    val b = GraphOps.pageRankInt(edges.repartition(7), 5).as[(Long, Long)].collect().toList
    assert(a == b)
  }

  test("pagerank: 30 iterations with checkpointing matches an unchecked run") {
    // Lineage snapshots every 4 rounds must not change a single rank bit,
    // and the 30-round run must complete without plan-depth blowup.
    val edges = (1L to 60L).map(i => (i, i % 11)).toDF("src", "dst")
    val snapped = GraphOps.pageRankInt(edges, iters = 30, snapshotEvery = 4)
      .as[(Long, Long)].collect().toList
    val plain = GraphOps.pageRankInt(edges, iters = 30, snapshotEvery = 1000)
      .as[(Long, Long)].collect().toList
    assert(snapped == plain)
    assert(snapped.nonEmpty)
  }

  test("pagerank: shuffled-frontier path is bit-identical to broadcast path") {
    // broadcastFrontierMaxNodes = 0 forces the billion-node form (frontier
    // shuffled, never broadcast); integer sums are order-invariant so the
    // two join strategies must agree on every bit
    val edges = (1L to 50L).map(i => (i, i % 9)).toDF("src", "dst")
    val bcast = GraphOps.pageRankInt(edges, iters = 5)
      .as[(Long, Long)].collect().toList
    val shuffled = GraphOps.pageRankInt(edges, iters = 5,
      broadcastFrontierMaxNodes = 0L).as[(Long, Long)].collect().toList
    assert(bcast == shuffled)
    assert(bcast.nonEmpty)
  }

  test("pagerank: shuffled-frontier rounds never sort-merge the edge side (r14 sf100 fix)") {
    // at 15M nodes the frontier passes the broadcast threshold and the
    // round join must go SHUFFLE-HASH: SMJ re-sorted the 1.17B-row
    // cached adjacency EVERY round at sf100 (the 745 s decade). The pin
    // is strategy-level — no SortMergeJoin anywhere in the shuffled-
    // frontier plan (AQE may still upgrade a hash join to broadcast on
    // a small fixture; both are sort-free on the edge side).
    val edges = (1L to 50L).map(i => (i, i % 9)).toDF("src", "dst")
    val pr = GraphOps.pageRankInt(edges, iters = 3, broadcastFrontierMaxNodes = 0L)
    pr.collect()
    val plan = pr.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"edge side must never re-sort:\n${plan.take(4000)}")
    assert(plan.contains("HashJoin"), s"round join must hash:\n${plan.take(4000)}")
    val lpa = GraphOps.labelPropagation(edges, rounds = 2, broadcastFrontierMaxNodes = 0L)
    lpa.collect()
    val lplan = lpa.queryExecution.executedPlan.toString
    assert(!lplan.contains("SortMergeJoin"), s"LPA edge side must never re-sort:\n${lplan.take(4000)}")
  }

  test("pagerank: disjointDomains on pre-distincted even/odd edges is bit-identical") {
    // q138's contract: src even, dst odd, edge list distinct — the
    // symmetrized distinct is then provably redundant and skipped
    val edges = (1L to 60L).map(i => (i * 2, (i % 7) * 2 + 1)).toDF("src", "dst").distinct()
    val full = GraphOps.pageRankInt(edges, iters = 4)
      .as[(Long, Long)].collect().toList
    val skipped = GraphOps.pageRankInt(edges, iters = 4, disjointDomains = true)
      .as[(Long, Long)].collect().toList
    assert(full == skipped && full.nonEmpty)
  }

  test("pagerank: bucketed adjacency table matches in-memory, no adj-side exchange") {
    val edges = (1L to 50L).map(i => (i, i % 9)).toDF("src", "dst")
    val inMem = GraphOps.pageRankInt(edges, iters = 5)
      .as[(Long, Long)].collect().toList
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-adj").toFile
    val table = s"pr_adj_${System.nanoTime()}"
    try {
      val bucketed = GraphOps.pageRankInt(edges, iters = 5,
        adjacencyTable = Some((table, new java.io.File(dir, "adj").getPath)))
        .as[(Long, Long)].collect().toList
      assert(bucketed == inMem)
      // the round join must consume the bucketed scan's src distribution
      // directly. Robust form of "no Exchange on the adjacency side":
      // the same round shape over a PLAIN parquet copy of the adjacency
      // needs exactly one more shuffle (its scan has no distribution)
      def roundExchanges(adj: org.apache.spark.sql.DataFrame): Int = {
        // grouped-adjacency schema (r14): (src, dsts array), outdeg = size(dsts)
        val frontier = adj.select(col("src").as("node")).distinct()
          .withColumn("rank_fp", lit(1000000L))
        val round = adj.join(frontier.hint("shuffle_hash"), col("src") === col("node"))
          .withColumn("contrib", expr("rank_fp div size(dsts)"))
          .select(col("contrib"), explode(col("dsts")).as("dst"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        "Exchange hashpartitioning".r
          .findAllIn(round.queryExecution.executedPlan.toString).length
      }
      val plainPath = new java.io.File(dir, "adj_plain").getPath
      spark.table(table).write.parquet(plainPath)
      val bucketedEx = roundExchanges(spark.table(table))
      val plainEx = roundExchanges(spark.read.parquet(plainPath))
      // bucketed: BOTH join inputs inherit the bucket distribution (the
      // frontier is derived from the same table), so the only shuffle
      // left is the final dst aggregation. Plain parquet needs three:
      // adj side, frontier distinct, dst agg.
      assert(bucketedEx == 1 && plainEx == 3,
        s"bucketed adjacency round shape changed " +
          s"(bucketed=$bucketedEx, plain=$plainEx)")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("label propagation: two cliques with one bridge resolve to two communities") {
    // K4 on {1..4} + K4 on {11..14} + bridge (4, 11); self loop on 2 must
    // be ignored. Within each clique every node sees the same label
    // multiset, so the deterministic min-tie-break converges each clique
    // to its smallest member's label.
    val k4a = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val k4b = for (a <- 11L to 14L; b <- 11L to 14L if a < b) yield (a, b)
    val edges = (k4a ++ k4b :+ ((4L, 11L)) :+ ((2L, 2L))).toDF("src", "dst")
    val labels = GraphOps.labelPropagation(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val commA = (1L to 4L).map(labels).toSet
    val commB = (11L to 14L).map(labels).toSet
    assert(commA.size == 1, s"clique A fragmented: $commA")
    assert(commB.size == 1, s"clique B fragmented: $commB")
    assert(commA != commB, "bridge must not merge the cliques")
  }

  test("label propagation: deterministic across partition counts") {
    val edges = (1L to 60L).map(i => (i, i % 11)).toDF("src", "dst")
    val a = GraphOps.labelPropagation(edges.repartition(1), 3)
      .as[(Long, Long)].collect().toSet
    val b = GraphOps.labelPropagation(edges.repartition(7), 3)
      .as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("triangles: K4 has 4 nodes with 3 triangles each; adding a pendant changes nothing") {
    // complete graph on {1,2,3,4} = 4 triangles, each node in 3
    val k4 = (for (i <- 1L to 4L; j <- 1L to 4L if i < j) yield (i, j))
    val edges = (k4 :+ ((4L, 9L))).toDF("src", "dst") // 9 is a pendant
    val got = GraphOps.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles: orientation counts each triangle once regardless of partitioning") {
    val edges = (1L to 60L).flatMap(i => Seq((i, i % 13), (i, (i * 7) % 13)))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val a = GraphOps.triangleCounts(edges.repartition(1))
      .orderBy("node").as[(Long, Long)].collect().toList
    val b = GraphOps.triangleCounts(edges.repartition(7))
      .orderBy("node").as[(Long, Long)].collect().toList
    assert(a == b && a.nonEmpty)
  }

  test("shared symmetrize: LPA + modularity over ONE sym frame match the standalone entry points") {
    // r15 q198 shape: the composed query builds symmetrize(edges) once
    // and feeds both operators — labels and modularity contributions
    // must equal the self-building entry points exactly.
    val k4a = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val k4b = for (a <- 11L to 14L; b <- 11L to 14L if a < b) yield (a, b)
    val edges = (k4a ++ k4b :+ ((4L, 11L)) :+ ((2L, 2L))).toDF("src", "dst")
    val sym = GraphOps.symmetrize(edges)
    val sharedLabels = GraphOps.labelPropagationSym(sym, rounds = 3)
    val soloLabels = GraphOps.labelPropagation(edges, rounds = 3)
    assert(sharedLabels.as[(Long, Long)].collect().toSet ==
      soloLabels.as[(Long, Long)].collect().toSet)
    val sharedMod = GraphOps.modularitySym(sym, sharedLabels)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val soloMod = GraphOps.modularity(edges, soloLabels)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(sharedMod == soloMod && sharedMod.nonEmpty)
  }

  test("editdist: pairs straddling a bucket boundary are still co-blocked") {
    // lengths 15 and 17 fall in buckets 0 and 1 — caught via the b+1 key.
    val docs = Seq(
      (1L, "aaaaaaaaaaaaaaa", "en"),   // 15 chars
      (2L, "aaaaaaaaaaaaaaaaa", "en"), // 17 chars, dist 2
      (3L, "aaaaaaaaaaaaaaa", "de")    // same text, other lang: never paired
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.editDistancePairs(docs, maxDist = 5, bucketWidth = 16)
      .as[(Long, Long, Long)].collect().toList
    assert(got == List((1L, 2L, 2L)))
  }

  test("editdist: identical prefixes with length gap > maxDist are excluded") {
    // Same 120-char prefix but total lengths differ by 20 — the |Δlen|
    // pre-filter (necessary for FULL-text dist ≤ 5) rejects the pair.
    val base = "x" * 130
    val docs = Seq((1L, base, "en"), (2L, base + "y" * 20, "en"))
      .toDF("doc_id", "text", "lang")
    assert(Dedup.editDistancePairs(docs).isEmpty)
  }

  test("editdist: threshold respected and duplicate co-blocking collapses") {
    val docs = Seq(
      (1L, "abcdef", "en"), (2L, "abcdef", "en"),  // dist 0, same bucket twice
      (3L, "zzzzzz", "en")                          // dist 6 from both: excluded
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.editDistancePairs(docs, maxDist = 5)
      .as[(Long, Long, Long)].collect().toList
    assert(got == List((1L, 2L, 0L)))
  }

  test("editdist: maxBlockWidth bounds a same-length skew block, lost pairs quantified") {
    // adversarial skew: 40 docs of IDENTICAL length (and text) — one
    // (lang, bucket) block, C(40,2) = 780 uncapped pairs (every pair
    // dist 0). Cap 10 keeps the 10 lowest doc_ids per block: pairs
    // survive only with BOTH ends under the cap -> C(10,2) = 45, and
    // every survivor involves the lowest ids (the canonical-survivor
    // convention shared with capBucketWidth).
    val docs = (1L to 40L).map(i => (i, "q" * 32, "en")).toDF("doc_id", "text", "lang")
    val uncapped = Dedup.editDistancePairs(docs).count()
    assert(uncapped == 780L)
    val capped = Dedup.editDistancePairs(docs, maxBlockWidth = Some(10))
      .as[(Long, Long, Long)].collect()
    assert(capped.length == 45)
    assert(capped.forall { case (a, b, _) => a <= 10L && b <= 10L })
    // defaults stay exact AT THIS SIZE: 40 docs is far under the 20k
    // calibration floor, so the calibrated default resolves to None
    assert(Dedup.editDistancePairs(docs, maxBlockWidth = None).count() == uncapped)
  }

  test("editdist calibrateBlockWidthCap: exact floor at test SFs, 4√n past it") {
    for (n <- Seq(0L, 500L, 5000L, 20000L))
      assert(Dedup.calibrateBlockWidthCap(n).isEmpty, s"n=$n must stay exact")
    assert(Dedup.calibrateBlockWidthCap(20001L).contains(568))   // 4·⌈√20001⌉
    assert(Dedup.calibrateBlockWidthCap(500000L).contains(2832)) // 4·⌈√500000⌉
  }

  test("editdist calibrated default fires past the floor: skew block bounded, low-id pair kept") {
    // 20,050 same-length docs in ONE (lang, bucket) block — the
    // pathological stacking case. Uncapped this is 200M levenshtein
    // pairs; the calibrated cap (4·⌈√20050⌉ = 568) keeps the 568 lowest
    // doc_ids, so the planted low-id near-pair survives and the planted
    // high-id near-pair is cut. All filler docs embed their id six
    // times, so any two are ≥ 6 > maxDist apart and never pair.
    def filler(i: Long) = { val s = f"$i%06d"; s"$s $s $s $s $s $s pad" }
    val docs = ((3L to 20048L).map(i => (i, filler(i), "en")) ++ Seq(
      (1L, "aaaaaa bbbbbb cccccc dddddd eeeeee ffffff pad", "en"),
      (2L, "aaaaaa bbbbbb cccccc dddddd eeeeee ffffgg pad", "en"),   // dist 2 from 1
      (20049L, "uuuuuu vvvvvv wwwwww xxxxxx yyyyyy zzzzzz pad", "en"),
      (20050L, "uuuuuu vvvvvv wwwwww xxxxxx yyyyyy zzzzgg pad", "en") // dist 2, high ids
    )).toDF("doc_id", "text", "lang")
    val got = Dedup.editDistancePairs(docs)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.contains((1L, 2L, 2L)), "low-id pair must survive the calibrated cap")
    assert(!got.exists { case (a, b, _) => a > 568L || b > 568L },
      "no pair may involve an id past the calibrated cap")
    // the same high-id pair IS found below the floor (proves only the
    // cap — not the blocking — is what cut it above)
    val small = ((3L to 100L).map(i => (i, filler(i), "en")) ++ Seq(
      (20049L, "uuuuuu vvvvvv wwwwww xxxxxx yyyyyy zzzzzz pad", "en"),
      (20050L, "uuuuuu vvvvvv wwwwww xxxxxx yyyyyy zzzzgg pad", "en")
    )).toDF("doc_id", "text", "lang")
    assert(Dedup.editDistancePairs(small).as[(Long, Long, Long)].collect()
      .toSet.contains((20049L, 20050L, 2L)))
  }

  test("kCore: cascade peels a chain hanging off a K4; the core survives intact") {
    // K4 on 1-4 (degree 3 inside the core) + chain 4-5-6-7. k=2: node 7
    // (deg 1) peels in round 1, which drops 6 to deg 1 (round 2), then 5
    // (round 3) — a genuine multi-round cascade; the K4 plus nothing else
    // survives with its internal degrees.
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))).toDF("x", "y")
    val out = GraphOps.kCore(edges, k = 2, maxRounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: a too-small round budget yields the documented partial peel") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))).toDF("x", "y")
    // one round: only node 7 peels; 5 and 6 still have degree ≥ 2...
    val r1 = GraphOps.kCore(edges, k = 2, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    // ...but 6 has degree 1 in the surviving subgraph → below the output
    // floor; 5 keeps both its edges (4-5, 5-6)
    assert(r1.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(r1(4L) === 4L && r1(5L) === 2L)
  }

  test("positionAttribution: 40/20/40 with exact remainders; credit sums to 10000") {
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // conv 100 has 5 touches (middles: 2000/3 = 666 each, remainder 2 to
    // first → 4002); conv 200 has 1 touch; conv 300 has 2.
    val rows = (Seq((1L, t(60), "purchase", 100L), (2L, t(50), "purchase", 200L),
      (3L, t(40), "purchase", 300L)) ++
      (0 until 5).map(i => (1L, t(10 + i), "click", 10L + i)) ++
      Seq((2L, t(45), "click", 20L)) ++
      Seq((3L, t(30), "click", 30L), (3L, t(35), "click", 31L)))
      .toDF("u", "ts", "t", "id")
    val got = Funnel.positionAttribution(rows, col("u"), col("ts"), col("t"),
      col("id"), "click", "purchase", windowMinutes = 1440L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    val byConv = got.groupBy(_._1)
    assert(byConv(100L).map(_._3).sum === 10000L)
    val c100 = byConv(100L).map(x => x._2 -> x._3).toMap
    assert(c100(10L) === 4002L && c100(14L) === 4000L)
    assert(c100(11L) === 666L && c100(12L) === 666L && c100(13L) === 666L)
    assert(byConv(200L).map(_._3) === Seq(10000L))
    assert(byConv(300L).map(_._3).sorted === Seq(5000L, 5000L))
    assert(byConv.values.forall(_.map(_._3).sum === 10000L))
  }

  test("modularity: hand-computed contributions; all-one-community scores exactly zero") {
    // two triangles bridged by one edge; m = 7
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 4L)).toDF("x", "y")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("node", "label")
    val out = GraphOps.modularity(edges, labels)
      .orderBy("label")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // each triangle: l_c = 3, d_c = 2+2+3 = 7 → contrib = 4·7·3 − 49 = 35
    assert(out === Seq((1L, 3L, 3L, 7L, 35L), (4L, 3L, 3L, 7L, 35L)))
    // the degenerate one-community partition has Q = 0 exactly:
    // l = m and d = 2m → 4m·m − (2m)² = 0
    val one = labels.withColumn("label", lit(9L))
    val total = GraphOps.modularity(edges, one)
      .agg(sum("contrib")).head().getLong(0)
    assert(total === 0L)
  }

  test("kCore: self-loops and duplicate/reversed edges are canonicalized away") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L), (2L, 3L))
      .toDF("x", "y")
    // triangle 1-2-3 after canonicalization: every node degree 2
    val out = GraphOps.kCore(edges, k = 2, maxRounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: snapshot cadence is pure mechanics — every snapshotEvery yields the same peel") {
    // multi-round cascade fixture (the K4+chain graph) peeled under
    // three cadences: per-round parquet snapshots (the r14 posture),
    // the round-16 default (every 2), and a cadence past the round
    // budget (lineage + cache only between the single initial snapshot)
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))).toDF("x", "y")
    val expected = GraphOps.kCore(edges, k = 2, maxRounds = 10, snapshotEvery = 1)
      .as[(Long, Long)].collect().toMap
    for (cadence <- Seq(2, 3, 16)) {
      val got = GraphOps.kCore(edges, k = 2, maxRounds = 10, snapshotEvery = cadence)
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"snapshotEvery=$cadence diverged")
    }
  }

  test("graph layout: bucketed adjacency is bit-identical to the cache path (PR, LPA, modularity)") {
    // the round-16 scale layout (bucketedGraphLayout) forced through the
    // test hook: pageRankInt's grouped adjacency and symmetrize's shared
    // edge frame land in BUCKETED tables, every result must hash-equal
    // the cache path's (integer arithmetic is layout-invariant — this
    // pins that the plumbing keeps it so)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 4L), (1L, 5L), (2L, 6L)).toDF("x", "y")
    def runAll(): (Map[Long, Long], Map[Long, Long], Seq[(Long, Long, Long, Long, Long)]) = {
      val pr = GraphOps.pageRankInt(edges, iters = 3)
        .as[(Long, Long)].collect().toMap
      val lpa = GraphOps.labelPropagation(edges, rounds = 3)
        .as[(Long, Long)].collect().toMap
      val sym = GraphOps.symmetrize(edges)
      val mod = GraphOps.modularitySym(sym, GraphOps.labelPropagationSym(sym, rounds = 3))
        .orderBy("label").as[(Long, Long, Long, Long, Long)].collect().toSeq
      (pr, lpa, mod)
    }
    sys.props("graft.graph.layout") = "cache"
    val cachePath =
      try runAll() finally sys.props.remove("graft.graph.layout")
    spark.catalog.clearCache()
    sys.props("graft.graph.layout") = "bucketed"
    val bucketedPath =
      try runAll() finally sys.props.remove("graft.graph.layout")
    spark.catalog.clearCache()
    assert(bucketedPath === cachePath)
    // and the auto decision at test scale is the cache path (tiny input)
    assert(GraphOps.bucketedGraphLayout(edges).isEmpty,
      "a KB-scale edge frame must not trip the 1 GiB bucketed threshold")
  }
}
