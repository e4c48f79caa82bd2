package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Multi-JVM execution parity audit (r10 verdict #1): every bench, soak
  * and spec artifact so far ran in ONE JVM (`local[*]`), where a closure
  * that accidentally captures a non-serializable handle, a task that
  * mutates driver-side state, or an operator that only works because
  * executor and driver share a static registry all pass silently.
  * Commit 90f1288 ("capture only the port in the executor connect
  * closure") is exactly this bug class — found by luck when the pg soak
  * shipped a closure to an executor THREAD. This main makes the class
  * structural: it runs a representative slice of the query board (one
  * per operator family, including the iterative/fused-LSH/window/
  * mapGroups/typed-aggregator shapes) twice —
  *
  *   1. `local[32]`                 — the single-JVM mode everything uses
  *   2. `local-cluster[2,16,4096]`  — Spark standalone-in-a-box: a real
  *      Master + 2 Workers in the driver JVM, but the EXECUTORS are real
  *      separate JVM processes reached over RPC, so every task closure,
  *      Encoder, and custom Expression genuinely serializes
  *
  * — and pins canonical result-hash equality per query. A micro-batch
  * IngestPipeline flow (MemoryStream → gates/dedup/scale/liveness →
  * executor-side keyed JDBC upsert into a live ephemeral Postgres over
  * TCP) runs under both masters too: the streaming path's closures
  * (including the UpsertTarget itself) must survive real serialization,
  * not just thread hand-off.
  *
  * Hashing: rows are collected, columns sorted by name, every cell
  * canonically formatted, rows sorted, md5 over the whole. Doubles are
  * hashed twice — exact bits AND rounded to 9 significant digits —
  * because distributed partial-aggregation order is not associative in
  * IEEE754: the ROUNDED hash is the parity criterion, the exact hash is
  * kept in the artifact for diagnostics (a rounded-equal/exact-unequal
  * pair is the expected signature of merge-order drift, not a bug).
  *
  * Artifact: $GRAFT_PARITY_OUT (default PARITY_r12.json) — per-query
  * {rows, hash} under both masters + per-query equal flag; non-zero exit
  * on any mismatch.
  *
  * Arg forms: no args = DefaultSlice (the r11 one-per-family set);
  * `all` = the ENTIRE query board (r11 verdict #2 — a serialization bug
  * hides in the unrepresentative query by definition: 90f1288's closure
  * bug lived in a path no slice would have picked); explicit names = that
  * set.
  */
object ClusterParity {

  /** One query per operator family; the shapes the r10 verdict called
    * out by name (fused LSH q73/q118, iterative q138, q86's windows, a
    * mapGroups op q196, a typed-aggregator op q105) are all present.
    */
  val DefaultSlice: Seq[String] = Seq(
    "q01_gates",                  // codegen'd filter chain
    "q05_last_value",             // window last-value-per-key
    "q07_current_values",         // reference flagship join+scale
    "q12_distinct_devices",       // distinct projections
    "q32_minhash_signatures",     // minhash (custom hash exprs)
    "q44_ann_ivf",                // IVF coarse quantizer
    "q61_tfidf",                  // explode + join + agg
    "q73_neardup_clusters",       // fused-LSH + connected components
    "q86_containment",            // ranked-window prefix join
    "q88_chunking",               // posexplode chunker
    "q102_ann_ivfpq",             // PQ-ADC (broadcast codebooks)
    "q105_heavy_hitters",         // typed TopK aggregator
    "q111_kmeans",                // iterative EM over mapPartitions
    "q118_semantic_contamination",// bucketed LSH with vec-on-exchange
    "q138_pagerank",              // iterative broadcast frontier
    "q141_pca_project",           // gramian + eig + project
    "q147_triangles",             // self-join graph op
    "q168_correlation",           // Decimal(38) group products
    "q188_bm25_topk",             // term-bucketed persisted index
    "q196_mmr_select",            // mapGroups greedy re-rank
    "q205_rendezvous_shards",     // rendezvous-hash shard assignment
    "q220_h264_idr_index",        // RDD mapPartitions codec walk
    "q221_gopher_rules")          // pure map-side integer gates

  // ---- canonical result hashing ----

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinity) { if (d > 0) "Inf" else "-Inf" }
    else if (d == 0.0) "0" // merges -0.0
    else new java.math.BigDecimal(d, new java.math.MathContext(9))
      .stripTrailingZeros.toPlainString

  private def fmt(v: Any, rounded: Boolean): String = v match {
    case null => "␀"
    case d: java.lang.Double =>
      if (rounded) canonDouble(d) else java.lang.Double.doubleToLongBits(d).toString
    case f: java.lang.Float =>
      if (rounded) canonDouble(f.toDouble) else java.lang.Float.floatToIntBits(f).toString
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case t: java.sql.Timestamp => t.toInstant.toString
    case dt: java.time.Instant => dt.toString
    case dd: java.sql.Date => dd.toString
    case ld: java.time.LocalDate => ld.toString
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case bd: BigDecimal => bd.underlying.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(fmt(_, rounded)).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => fmt(k, rounded) + "->" + fmt(x, rounded) }
        .toSeq.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(fmt(_, rounded)).mkString("[", ",", "]")
    case a: Array[_] => a.map(fmt(_, rounded)).mkString("[", ",", "]")
    case other => other.toString
  }

  private def md5(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(0x0A.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  final case class ResultSig(rows: Long, exactHash: String, roundedHash: String)

  /** Collect + canonicalize. Column order is name-sorted so projection
    * order differences can't flip the hash; row order is the sort of the
    * formatted lines (total, deterministic).
    */
  def signature(df: DataFrame): ResultSig = {
    val cols = df.columns.sorted.toSeq
    val proj = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val rows = proj.collect()
    // Cells join on an escaped \u001F (ASCII unit separator, which fmt
    // can never emit). Was a RAW 0x01 byte — invisible in any viewer, so
    // it read as delimiter-less concatenation (r11 ADVICE); the escape
    // makes the aliasing guard auditable: without a separator, rows
    // (1,23) and (12,3) would both format "123" and hash equal.
    def lines(rounded: Boolean) =
      rows.map(r => r.toSeq.map(fmt(_, rounded)).mkString("\u001F")).sorted.toSeq
    ResultSig(rows.length.toLong, md5(lines(rounded = false)), md5(lines(rounded = true)))
  }

  // ---- sessions ----

  /** Fresh session on the given master; `local-cluster` additionally
    * ships the driver's full classpath + JDK17 add-opens to the executor
    * JVMs (sbt's forked classpath is not in their environment) and sizes
    * `spark.executor.memory` to the worker's offer.
    */
  def session(master: String): SparkSession = {
    val cluster =
      if (master.startsWith("local-cluster")) Map(
        "spark.executor.memory" -> "4g",
        "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
        "spark.executor.extraJavaOptions" -> Harness.AddOpens.mkString(" "))
      else Map.empty[String, String]
    Harness.session(master, 32,
      extra = cluster + ("spark.app.name" -> s"graft-parity-$master"))
  }

  // ---- streaming pipeline flow (closures must cross the JVM boundary) ----

  /** MemoryStream → IngestPipeline → executor-side keyed upsert into an
    * ephemeral Postgres reached over TCP (the one target kind that works
    * across processes), then read the final table back. Deterministic
    * event script: dups (T8), bad status (F1), pseudo-measure (F3),
    * multi-device liveness — the IngestPipelineSpec scenario, widened to
    * 40 devices so every executor core sees rows.
    */
  def pipelineFlow(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    import graft.streaming._
    Harness.withModvalues("parity") { (connect, target) =>
      implicit val sqlCtx = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[MeasureEvent]
      val handle = IngestPipeline.start(input.toDF(), target, slope = 2.0, offset = 1.0,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      try {
        def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
        val batch1 = (0 until 40).flatMap { d =>
          val dev = f"dev-$d%02d"
          Seq(
            MeasureEvent(dev, "temp", d.toDouble, ts(1), status_ok = true),
            MeasureEvent(dev, "temp", d.toDouble, ts(1), status_ok = true), // dup → T8
            MeasureEvent(dev, "rpm", d * 0.5, ts(2), status_ok = d % 5 != 0))
        }
        input.addData(batch1: _*)
        handle.processAllAvailable()
        val batch2 = (0 until 40).map { d =>
          MeasureEvent(f"dev-$d%02d", "temp", d + 100.0, ts(9), status_ok = true)
        }
        input.addData(batch2: _*)
        handle.processAllAvailable()
      } finally handle.stop()
      // read the final table back through the same wire client
      Harness.readModvalues(connect).map(r => Seq(
        r.device, r.measure_name, canonDouble(r.tag_value), canonDouble(r.measure_value),
        r.last_updated).mkString("\u001F")) // same separator contract as `lines`
    }
  }

  // ---- main ----

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val defs = SparkEntry.queries
    val names = args.toSeq match {
      case Seq("all") => defs.keys.toSeq.sorted
      case Seq()      => DefaultSlice
      case xs         => xs
    }
    val missing = names.filterNot(defs.contains)
    require(missing.isEmpty, s"unknown queries: $missing")

    def runSlice(master: String): (Map[String, ResultSig], Seq[String], Double) = {
      val t0 = System.nanoTime()
      val spark = session(master)
      try {
        val sigs = names.map { n =>
          System.err.println(s"[parity] $master $n")
          n -> signature(defs(n)(spark, sfDir))
        }.toMap
        val pipe = pipelineFlow(spark)
        (sigs, pipe, (System.nanoTime() - t0) / 1e9)
      } finally spark.stop()
    }

    val (localSigs, localPipe, localSec) = runSlice("local[32]")
    val (clusterSigs, clusterPipe, clusterSec) = runSlice("local-cluster[2,16,4096]")

    val perQuery = names.map { n =>
      val l = localSigs(n); val c = clusterSigs(n)
      val eq = l.roundedHash == c.roundedHash && l.rows == c.rows
      val exactEq = l.exactHash == c.exactHash
      (n, l, c, eq, exactEq)
    }
    val pipeEq = localPipe == clusterPipe
    val failures = perQuery.collect { case (n, _, _, false, _) => n } ++
      (if (pipeEq) Nil else Seq("pipeline_flow"))

    import Harness.q
    val qJson = perQuery.map { case (n, l, c, eq, exactEq) =>
      s"""${q(n)}:{"rows":${l.rows},"rows_cluster":${c.rows},"hash":${q(l.roundedHash)},""" +
        s""""hash_cluster":${q(c.roundedHash)},"equal":$eq,"exact_equal":$exactEq}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"cluster_parity","commit":${q(Harness.gitTree())},"queries":$qJson,""" +
        s""""pipeline_rows":${localPipe.size},"pipeline_rows_cluster":${clusterPipe.size},""" +
        s""""pipeline_equal":$pipeEq,"failures":${failures.map(q).mkString("[", ",", "]")},""" +
        s""""local_sec":$localSec,"cluster_sec":$clusterSec,"sf":${q(sfDir)}}"""
    println(json)
    val outPath = sys.env.getOrElse("GRAFT_PARITY_OUT", "PARITY_r13.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    if (failures.nonEmpty) {
      System.err.println(s"[parity] MISMATCH: $failures")
      sys.exit(1)
    }
  }
}
