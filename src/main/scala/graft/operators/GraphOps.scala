package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.functions._

/** Iterative graph analytics on edge DataFrames — the keyed-join
  * fixed-point pattern (companion to [[Dedup.connectedComponents]]'s
  * star-contraction loop).
  */
object GraphOps {

  /** Sum of the leaf relations' on-disk bytes under `df`'s plan — the
    * scale signal for [[bucketedGraphLayout]]. Metadata only (no job):
    * file-relation stats are the file sizes, so the number is the same
    * on every engine/core count that reads the same corpus.
    */
  private[graft] def leafInputBytes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes)
      .map(s => s.min(BigInt(Long.MaxValue)).toLong)
      .sum

  /** Scale-adaptive edge-layout decision (round 16 — wiring the r15
    * bucketed-adjacency experiment, OPTIMIZATION_r15.md, into the
    * declared graph queries): when the input behind an edge frame is
    * big enough that the in-memory /
    * DISK_ONLY cache path starts paying serialized-cache writes + reads
    * per round under memory pressure, materialize the shared edge grain
    * as a BUCKETED parquet table instead (bucket count ≈ the session's
    * shuffle partitions — the r15 experiment showed a bucket count far
    * below the shuffle-partition count caps round-join parallelism at
    * the bucket count, which is why the naive 32-bucket probe lost 2×).
    * Every per-round join then reads the bucketed scan's hash
    * distribution exchange-free, the table is columnar-compressed (a
    * fraction of the java-serialized cache bytes on disk), and nothing
    * needs to fit in cluster memory. The build runs INSIDE the calling
    * query (SaveMode.Overwrite per invocation — no cross-run reuse).
    *
    * Returns Some(bucketCount) for the bucketed layout, None for the
    * cache layout. Decision inputs are data-derived (leaf input bytes),
    * not core-count-derived; env overrides:
    * SPARK_GRAFT_GRAPH_LAYOUT=cache|bucketed forces a side,
    * SPARK_GRAFT_GRAPH_BUCKET_MIN_BYTES moves the threshold (default
    * 1 GiB — the sf10 adjudication: PR flips there and measures parity
    * including build; LPA's smaller orders-only input stays cached at
    * sf10 where the cache measurably wins, and flips at sf100 where
    * per-round spill dominates).
    */
  private[graft] def bucketedGraphLayout(edges: DataFrame): Option[Int] = {
    // system property first (settable from tests), env for operators
    val mode = sys.props.get("graft.graph.layout")
      .orElse(sys.env.get("SPARK_GRAFT_GRAPH_LAYOUT")).getOrElse("auto")
    val minBytes = sys.props.get("graft.graph.bucket.min.bytes")
      .orElse(sys.env.get("SPARK_GRAFT_GRAPH_BUCKET_MIN_BYTES"))
      .map(_.toLong).getOrElse(1L << 30)
    val bucketed = mode match {
      case "bucketed" => true
      case "cache"    => false
      case _          => leafInputBytes(edges) >= minBytes
    }
    if (!bucketed) None
    else Some(math.min(4096,
      math.max(32, edges.sparkSession.sessionState.conf.numShufflePartitions)))
  }

  /** The session warehouse dir — where auto-selected bucketed graph
    * tables live. On a real cluster this must be shared storage (the
    * usual warehouse contract); locally it is ./spark-warehouse.
    */
  private def warehouseDir(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir")

  /** Fixed-iteration PageRank with INTEGER fixed-point arithmetic.
    *
    * Ranks are `long`s scaled by `scale` (default 1e9): contributions are
    * `rank div outdeg` (floor) and the damping update is
    * `(1-d) * scale + (d_num * sum_contrib) div 100` — every operation is
    * integer, so the result is independent of partition count, task
    * order, and float summation order. That makes a cross-engine
    * hash-exact oracle possible for an ITERATIVE algorithm (the floor
    * divisions lose ≤outdeg ulps of mass per node per round —
    * deterministic, documented, and irrelevant for ranking).
    *
    * The input edge set is symmetrized (undirected graph), which also
    * guarantees outdeg ≥ 1 for every node — no dangling-mass special
    * case.
    *
    * Scale shape: the GROUPED adjacency list `(src, dsts array)` is
    * computed once (outdeg ≡ size(dsts)) and hash-clustered on src —
    * node-grain in-memory cache (the default) or, with
    * `adjacencyTable` set, written ONCE through
    * [[graft.sources.Storage.writeSrcBucketed]] and re-read per round:
    * the bucketed scan carries the same src distribution without an
    * Exchange AND without requiring the edge set to fit in cluster
    * memory (the cache path degrades to lineage recompute under
    * pressure; the bucketed table just re-scans its parquet buckets) —
    * that is the 100 TB form. Each round is one keyed join
    * (ranks ⋈ edges on src) + one keyed aggregation (on dst), and the
    * rank frontier is node-sized, never edge-sized. When the node count
    * (counted once, up front) is at most `broadcastFrontierMaxNodes`,
    * the per-round join ships the frontier as a BROADCAST instead of
    * shuffling it — eliminating one of the two exchanges per round; a
    * billion-node graph exceeds the threshold and keeps the shuffled
    * join (both forms are integer-sum order-invariant, so the result is
    * bit-identical either way). Every `checkpointEvery` rounds the
    * node-sized rank frontier is snapshotted (parquet round-trip,
    * under the session checkpoint dir when set) and the
    * superseded snapshot reclaimed — plan depth and snapshot storage
    * stay constant no matter how many rounds run, so `iters` = 30+ is
    * safe.
    *
    * At 1e9+ nodes, lower `scale` (total mass `nodes * scale` must stay
    * well under 2^63; 1e6 leaves 9e3 headroom at a billion nodes).
    */
  def pageRankInt(edges: DataFrame, iters: Int, scale: Long = 1000000000L,
                  dampNum: Long = 85L, checkpointEvery: Int = 10,
                  broadcastFrontierMaxNodes: Long = 4000000L,
                  adjacencyTable: Option[(String, String)] = None,
                  disjointDomains: Boolean = false): DataFrame = {
    require(iters >= 1 && dampNum >= 0 && dampNum <= 100 && checkpointEvery >= 1)
    val spark = edges.sparkSession
    val snaps = new Dedup.RoundSnapshots(spark)
    // disjointDomains (round 14): the caller asserts the directed edge
    // list is ALREADY distinct and src/dst draw from disjoint id domains
    // (q138's even/odd encoding), so e ∩ swap(e) = ∅ and the symmetrized
    // set is distinct by construction — the union stays a pure map and
    // the 2·|E|-row distinct exchange (1.17B rows at sf100) disappears.
    val sym0 = edges.toDF("src", "dst")
      .union(edges.toDF("dst", "src").select("src", "dst"))
    val sym = if (disjointDomains) sym0 else sym0.distinct()
    // GROUPED adjacency list, not an edge list (round 14 — the sf100
    // adjudication): (src, dsts array) is node-grain — 15M rows instead
    // of 1.17B at sf100 — so each round's join probes nodes, not edges,
    // and the edge grain exists only transiently inside the stage
    // (explode). outdeg = size(dsts), so the former degree aggregation
    // + edge-grain degree join disappear from the build entirely.
    val grouped = sym.groupBy("src").agg(collect_list(col("dst")).as("dsts"))
    val adj = adjacencyTable match {
      case Some((tableName, path)) =>
        graft.sources.Storage.writeSrcBucketed(grouped, tableName, path)
        spark.table(tableName)
      case None =>
        // round 16: auto-select the bucketed layout at scale (see
        // bucketedGraphLayout) — build inside this invocation, buckets ≈
        // shuffle partitions, the repartition aligning writer tasks with
        // buckets (HashPartitioning and the bucket spec hash the same
        // way, so each task emits exactly one bucket's file).
        bucketedGraphLayout(edges) match {
          case Some(b) =>
            val name = "graft_pr_adj"
            graft.sources.Storage.writeSrcBucketed(
              grouped.repartition(b, col("src")), name,
              s"${warehouseDir(spark)}/$name", buckets = b)
            spark.table(name)
          case None => grouped.persist()
        }
    }

    val base = lit((100L - dampNum) * scale / 100L)
    // src is unique by construction of the groupBy — no distinct pass
    val frontier0 = adj.select(col("src").as("node"))
      .withColumn("rank_fp", lit(scale))
      .persist()
    // one up-front action: materializes the frontier (and the cached
    // adjacency behind it) and sizes the broadcast decision
    val nNodes = frontier0.count()
    val small = nNodes <= broadcastFrontierMaxNodes
    var ranks = frontier0
    var lastSnap: Option[DataFrame] = None
    for (i <- 1 to iters) {
      // past the broadcast threshold the node frontier joins SHUFFLE-HASH,
      // never sort-merge (round 14 — the sf100 adjudication): the
      // adjacency side is pre-partitioned on src, but SMJ would also
      // SORT it every round. Hashing the node-sized frontier per
      // partition keeps the adjacency a pure stream; integer sums are
      // join-strategy-invariant, so results are unchanged. The contrib
      // divides ONCE per node, then fans out by explode.
      val next = adj.join(
          if (small) broadcast(ranks) else ranks.hint("shuffle_hash"),
          col("src") === col("node"))
        .withColumn("contrib", expr("rank_fp div size(dsts)"))
        .select(col("contrib"), explode(col("dsts")).as("dst"))
        .groupBy(col("dst").as("node"))
        .agg((base + expr(s"($dampNum * sum(contrib)) div 100")).as("rank_fp"))
        .select(col("node"), col("rank_fp"))
      if (i % checkpointEvery == 0 && i < iters) {
        val snapped = snaps.snapshot(next)
        lastSnap.foreach(snaps.reclaim)
        lastSnap = Some(snapped)
        ranks = snapped
      } else ranks = next
    }
    val out = ranks.orderBy(col("rank_fp").desc, col("node"))
    // NOTE: the final snapshot (if any) backs `out`'s lineage — reclaimed
    // by the caller's session teardown, not here, so `out` stays runnable.
    out
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), made DETERMINISTIC so an iterative community structure can be
    * oracle-verified: labels start as node ids; each round every node
    * adopts the most frequent label among its neighbors, ties broken by
    * the SMALLEST label (classic LPA breaks ties randomly, which is
    * useless for a reproducible pipeline — the smallest-label rule makes
    * every round a pure function of the graph). Fixed `rounds`
    * (asynchronous/converged LPA is order-dependent by construction and
    * cannot be made engine-invariant).
    *
    * Scale shape: the q138 pattern — edges symmetrized and persisted
    * once; each round is one keyed join (labels ⋈ edges on src) + one
    * (dst, label) count + one per-node argmax, all on integer counts, so
    * the result is partition- and engine-invariant. The label frontier
    * is node-sized. The argmax is `max(struct(cnt, -label))` — a single
    * aggregation, no window sort.
    *
    * Output: (node, label) — nodes sharing a label are one community.
    *
    * Like [[pageRankInt]], the node-sized label frontier rides each
    * round's join as a BROADCAST when the node count fits
    * `broadcastFrontierMaxNodes` (integer counts + deterministic argmax
    * are join-strategy-invariant, so the result is identical either
    * way); a graph past the threshold keeps the shuffled join.
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
                       broadcastFrontierMaxNodes: Long = 4000000L): DataFrame =
    labelPropagationSym(symmetrize(edges), rounds, broadcastFrontierMaxNodes)

  /** Symmetrized, self-loop-free, DISTINCT (src, dst) edge frame,
    * hash-clustered on src and DISK_ONLY-persisted — the shared input
    * grain for [[labelPropagationSym]]/[[modularitySym]]. A query
    * composing both (q198) builds this ONCE instead of paying the
    * 2·|E|-row symmetrize-distinct exchange + a second edge-sized cache
    * twice (round 15 — the r14 verdict's worst residual: q198 ran the
    * whole LPA edge build AND modularity's identical rebuild back to
    * back, 599 s at sf100). DISK_ONLY per the r14 measurement: the
    * edge-sized cache stays out of the heap the per-round shuffles need.
    */
  def symmetrize(edges: DataFrame): DataFrame = {
    // drop self loops BEFORE symmetrizing — a filter after only one
    // union branch would let (v, v) back in through the swapped side
    val base = edges.toDF("src", "dst").filter(col("src") =!= col("dst"))
    val sym = base
      .union(base.select(col("dst"), col("src")).toDF("src", "dst"))
      .distinct()
    // round 16: at scale the shared frame becomes a BUCKETED parquet
    // table instead of a DISK_ONLY cache (bucketedGraphLayout): the
    // per-round LPA joins and modularity's degree aggregation read the
    // bucketed scan exchange-free exactly like the cached repartition,
    // but the bytes on disk are columnar-compressed parquet instead of
    // java-serialized cache blocks, and re-reads never evict. Built
    // inside the calling query, Overwrite per invocation.
    bucketedGraphLayout(edges) match {
      case Some(b) =>
        val name = "graft_sym_adj"
        graft.sources.Storage.writeSrcBucketed(
          sym.repartition(b, col("src")), name,
          s"${warehouseDir(edges.sparkSession)}/$name", buckets = b)
        edges.sparkSession.table(name)
      case None =>
        sym.repartition(col("src")).persist(StorageLevel.DISK_ONLY)
    }
  }

  /** [[labelPropagation]] over a pre-built [[symmetrize]] frame — the
    * edge-list adjacency (round 14 — measured): the grouped (src, dsts)
    * form that wins for PageRank LOSES here (340 vs 277 s at sf100) —
    * LPA's round aggregate is (dst, label)-grain, so the explode
    * regenerates the edge grain anyway and the grouping buys nothing.
    */
  def labelPropagationSym(sym: DataFrame, rounds: Int,
                          broadcastFrontierMaxNodes: Long = 4000000L): DataFrame = {
    require(rounds >= 1, "labelPropagation needs at least one round")
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .persist()
    val small = labels.count() <= broadcastFrontierMaxNodes
    for (_ <- 1 to rounds) {
      // shuffle-hash past the broadcast threshold — the pageRankInt
      // round-join posture (SMJ would re-sort the cached edge side
      // every round; the label frontier is the node-sized build side,
      // probing the CACHED fixed-partition sym, so per-task builds stay
      // small — the safe SHJ case, unlike modularity's coalesced joins)
      labels = sym.join(
          if (small) broadcast(labels) else labels.hint("shuffle_hash"),
          col("src") === col("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("label"))
    }
    labels
  }

  /** Per-node triangle participation counts via DEGREE-ORIENTED wedge
    * closure (the compact-forward / Schank-Wagner orientation): orient
    * every undirected edge from its (degree, id)-smaller endpoint to the
    * larger, generate wedges only from common SOURCES, and close each
    * wedge against the oriented edge between its two tips. The
    * orientation is a total order, so every triangle closes exactly
    * once, and — the scale argument — each node's out-degree is bounded
    * by O(√edges) on any graph (a high-degree hub points INTO the
    * orientation, never fans out), so the wedge join's intermediate is
    * O(edges^1.5) worst-case instead of Σ deg², and far less on real
    * degree distributions.
    *
    * Three keyed joins + one explode-aggregate; every step is exact
    * integer arithmetic, so counts are engine/partitioning-invariant.
    * Output: (node, triangles) for nodes in ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // Round-15 optimization note (measured, kept AS-IS): two rewrites
    // were tried at the sf10-zipf corpus and REVERTED on measurement
    // (OPTIMIZATION_r15.md keeps the numbers). (1) A wedge Bloom
    // pre-filter (guide §3.2) before the closure join: building the
    // filter over the 15M oriented tip-edge keys cost 18.1 s
    // (stat.bloomFilter's per-partition 18 MB partials)
    // while the ENTIRE wedge stream it would prune is only ~103k rows on
    // this graph — the fixture's orientation keeps wedge volume tiny, so
    // the closure exchange was never the cost. (2) Grouped (u → sorted
    // out-neighbor array) wedge generation replacing the self-join: the
    // extra per-pass groupBy exchange (the self-join probes the CACHED
    // oriented frame instead) measured 5.25 → 7.5 s. Both rewrites were
    // bit-identical on counts; neither paid.
    val und = edges.toDF("x", "y").filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    // orient small → large in (degree, id) lexicographic order
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("u"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("v"))
      .persist()
    val wedges = oriented.select(col("u"), col("v"))
      .join(oriented.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") =!= col("w"))
    val triangles = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    triangles
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /** Newman modularity per community — the quality metric that makes
    * [[labelPropagation]]'s output judgeable (q117's cluster-quality
    * role for graphs): `Q = Σ_c [ l_c/m − (d_c/2m)² ]` with l_c the
    * intra-community edge count and d_c the community degree sum.
    * Scaled by 4m² every contribution is the EXACT integer
    * `4m·l_c − d_c²` — no float division, engine-invariant; Q itself
    * is `Σ contrib / 4m²` for any reader who wants the float.
    *
    * Long-exactness bound: d_c ≤ 2m, so contributions need
    * (2m)² < 2^63 — fine through ~2·10⁹ edges per graph; past that,
    * shard by component (modularity is additive over disconnected
    * components).
    *
    * Shapes: one symmetrize+distinct, one bounded edge-count scalar,
    * then node- and label-keyed joins/aggregations only.
    *
    * Output per community: (label, n_nodes, intra_edges, deg_sum,
    * contrib).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame =
    modularitySym(symmetrize(edges), labels)

  /** [[modularity]] over a pre-built [[symmetrize]] frame: a caller that
    * also ran [[labelPropagationSym]] on the same graph (q198) shares
    * ONE edge build between the two (round 15). The src-clustered
    * layout additionally lets the degree aggregation reuse the cache's
    * partitioning — no exchange for `deg`.
    */
  def modularitySym(sym: DataFrame, labels: DataFrame): DataFrame = {
    val und = sym.filter(col("src") < col("dst"))
    val m = und.count() // bounded scalar: the undirected edge count
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    // labels referenced three times below (both intra endpoints + the
    // degree sum) — persist, or an iterative producer like
    // labelPropagation re-runs its whole round chain per reference
    // (measured: 3× the LPA cost at sf0.1 unpersisted)
    val lab = labels.select(col("node"), col("label")).persist()
    // deliberately NO shuffle-hash hint here (round 14): these joins run
    // over AQE-coalesced exchanges (und is a filter of the cache, lab a
    // fresh agg), and SHJ against a coalesced node-sized build OOM'd at
    // sf100 ("not enough memory to build hash map"); the PR/LPA round
    // joins keep the hint because they probe the CACHED fixed-partition
    // side, where per-task builds stay small. SMJ's sort here is
    // one-time, not per-round.
    val intra = und
      .join(lab.select(col("node").as("src"), col("label").as("la")), Seq("src"))
      .join(lab.select(col("node").as("dst"), col("label").as("lb")), Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("intra_edges"))
    val out = lab.join(deg.withColumnRenamed("src", "node"), Seq("node"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("deg_sum"))
      .join(intra, Seq("label"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .withColumn("contrib",
        lit(4L * m) * col("intra_edges") - col("deg_sum") * col("deg_sum"))
      .select("label", "n_nodes", "intra_edges", "deg_sum", "contrib")
    // sym stays cached: the result's lineage reads it twice (und + deg);
    // the session's per-query clearCache reclaims it (Bench convention)
    out
  }

  /** k-core subgraph via iterative peeling: repeatedly drop every node
    * of degree < k (and its incident edges) until the graph is stable
    * or `maxRounds` is hit — the standard link-graph quality filter
    * (spam rings and scraped mirrors peel away; the dense core
    * survives). Rounds are deterministic, so `maxRounds` is a semantic
    * contract the oracle unrolls round-for-round: once a round removes
    * nothing, further rounds are no-ops, so early convergence and the
    * full unroll agree exactly.
    *
    * Per round: one degree aggregation + two node-keyed semi-joins over
    * the snapshotted edge set — no driver state beyond the convergence
    * counter, no corpus-shaped collect. Each round SNAPSHOTS its edge
    * frame (the [[Dedup.RoundSnapshots]] CC/PageRank convention):
    * a peel round references its parent three times (degrees + both
    * semi-join sides), so chained lineage grows EXPONENTIALLY — 3^r
    * plan copies by round r — and even plan stringification stops
    * terminating; the snapshot keeps every round's plan flat.
    *
    * Output: (node, deg) for every node surviving the peel, with its
    * degree inside the surviving subgraph (all ≥ k at convergence).
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 8,
            snapshotEvery: Int = 2): DataFrame = {
    require(k >= 1, "kCore needs k >= 1")
    require(snapshotEvery >= 1, "kCore needs snapshotEvery >= 1")
    val spark = edges.sparkSession
    val snaps = new Dedup.RoundSnapshots(spark)
    val und = edges.toDF("x", "y").filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var e = snaps.snapshot(und)
    var lastSnap = e
    var nEdges = e.count()
    var r = 0
    var converged = nEdges == 0
    // rounds since the last parquet snapshot, and the in-memory-cached
    // intermediates accumulated since then (round 16): a peel round
    // references its parent three times, so every round still
    // MATERIALIZES (persist + count) to keep recompute linear — but only
    // every `snapshotEvery`-th round pays the parquet write + re-read
    // (q193's measured #3 board cost was exactly those round-trips).
    // Plan depth between snapshots is bounded by snapshotEvery, so the
    // 3^r lineage blow-up the per-round snapshot existed to stop stays
    // stopped; a cached round evicted under pressure recomputes through
    // ≤ snapshotEvery−1 rounds from the last snapshot's parquet.
    var sinceSnap = 0
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (r < maxRounds && !converged) {
      val keep = degrees(e).filter(col("deg") >= k).select("node")
      val peeled = e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select("a", "b")
      val snapRound = sinceSnap + 1 >= snapshotEvery
      val next = if (snapRound) snaps.snapshot(peeled) else peeled.persist()
      val nNext = next.count()
      if (snapRound) {
        // the new snapshot is lineage-free parquet: the old snapshot and
        // every cached intermediate built on it are now unreferenced
        snaps.reclaim(lastSnap)
        cached.foreach(_.unpersist(blocking = false))
        cached.clear()
        lastSnap = next
        sinceSnap = 0
      } else {
        cached += next
        sinceSnap += 1
      }
      converged = nNext == nEdges
      e = next
      nEdges = nNext
      r += 1
    }
    // the final snapshot (and any cached rounds past it) back the
    // result's lineage — reclaimed by session teardown, not here (the
    // pageRankInt convention)
    degrees(e).filter(col("deg") >= k)
  }
}
