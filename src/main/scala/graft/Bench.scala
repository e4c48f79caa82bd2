package graft
import org.apache.spark.sql.DataFrame

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Materialization: each query is written to the `noop` datasource, which
  * consumes every output row in full. Timing `.count()` (rounds 1–3) let
  * Catalyst prune the projections under test — map-only queries (scaling
  * arithmetic, regexes, hashes) degenerated to a row-count scan and the
  * bench was blind to regressions in exactly the per-row operators the
  * engine exists to run. Round-4 numbers are therefore NOT comparable to
  * earlier rounds (methodology break, see README).
  *
  * Each query warms up IMMEDIATELY before its timed passes (codegen
  * compilation + JIT are one-time constants, irrelevant to steady-state
  * throughput at the 100 TB design point). A single whole-suite warmup
  * pass is not enough: the first timed query then absorbs the JIT/GC
  * drift accumulated across the ~50 intervening warmups (q01 measured
  * 0.47 s → 3.21 s between rounds with unchanged code that way).
  *
  * Each query reports the MEDIAN of three timed passes: single passes
  * varied ±20% run-to-run under machine-load noise, which is the same
  * order as the regressions the bench exists to catch.
  *
  * A failing query still fails the bench (non-zero exit) but only after
  * the JSON line is emitted with the error recorded — a broken query
  * must leave a diagnosable artifact, not abort the whole run silently.
  */
object Bench {
  /** Force full materialization of every output column. */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Absolute machine anchor: seconds for a fixed single-thread integer
    * workload (3×10⁸ xorshift64 steps), min of three. The per-query
    * spread check catches BURSTY contention, but a run under UNIFORM
    * concurrent load inflates all three passes equally and stays
    * spread-quiet — three rounds shipped such artifacts and only
    * out-of-band re-runs could adjudicate them. This anchor is
    * data-independent and identical across rounds on the same box, so
    * comparing `calib_sec` between artifacts separates "the queries got
    * slower" from "the machine was busy". Measured at start AND end:
    * contention arriving mid-run shows as a disagreeing pair.
    */
  private def calibrate(): Double = {
    def spin(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < 300000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      if (x == 42L) print("")  // defeat dead-code elimination
      dt
    }
    (1 to 3).map(_ => spin()).min
  }

  /** (whole-box busy jiffies, this JVM's cpu jiffies) from /proc — the
    * per-query contention adjudicator (r11 verdict #1). The start/end
    * `calibrate()` anchors cannot see a transient that arrives and
    * leaves MID-run (BENCH_r11 shipped q86 at 14.8 s vs 0.65 s builder
    * detail vs 1.56 s isolated — a co-tenant inflated exactly that
    * window, all three passes uniformly, so the 3× spread criterion
    * stayed quiet). Sampling box-vs-self CPU around EVERY timed pass
    * measures foreign load DURING the pass itself: foreign_cores =
    * (Δbox_busy − Δself_cpu) / elapsed. Unlike a spin probe it costs
    * two file reads and steals zero cycles from the measurement, and a
    * transient wholly inside one pass cannot hide from it.
    */
  private def cpuSnapshot(): (Long, Long) = {
    def read(p: String): String = {
      val src = scala.io.Source.fromFile(p)
      try src.mkString finally src.close()
    }
    val cpu = read("/proc/stat").linesIterator.next() // "cpu  user nice sys idle iowait irq softirq steal ..."
    val f = cpu.trim.split("\\s+").drop(1).map(_.toLong)
    val busy = f.sum - f(3) - (if (f.length > 4) f(4) else 0L) // minus idle+iowait
    val self = read("/proc/self/stat")
    // parse after the last ')' — the comm field is parenthesised and the
    // only field that could embed spaces; utime/stime are fields 14/15
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (busy, rest(11).toLong + rest(12).toLong)
  }

  /** USER_HZ: Linux ABI fixes /proc jiffies at 100/s for userspace. */
  private val Hz = 100.0

  /** Middle-index median — NEVER a literal `(1)`: under the sf100
    * single-pass audit knob a pass vector has ONE element, and the
    * literal index threw inside the per-query try — the r13 board's
    * four phantom "query failures" (q07/q08/q09/q101) were exactly this
    * (BenchSizingSpec pins the single-element case).
    */
  private[graft] def med(s: IndexedSeq[Double]): Double = s(s.size / 2)

  /** Initial shuffle partitions derived from the INPUT byte count, not
    * the CPU count (r9 verdict #4): one partition per ~4 MB of on-disk
    * parquet, floored at one per core and capped at 4096. Rationale: the
    * board's heavy queries expand compressed input ~20–50× through
    * pair-grain shuffles, so 4 MB input ≈ 100–200 MB of peak shuffle
    * per task — the granularity a production job would pick. At sf0.1
    * (17 MB) this floors to the core count, so round-over-round bench
    * numbers are unchanged; at the 100× audit corpus (1.5 GB) it
    * resolves to ~375 — the same order as the hand-tuned 256 the r9
    * sf10 legs needed to survive at all. Env override still wins.
    */
  private[graft] def autoShufflePartitions(inputBytes: Long, cpus: Int): Int =
    math.max(cpus, math.min(4096L, inputBytes / (4L << 20))).toInt

  private def dirBytes(p: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // input-derived shuffle sizing + driver-heap preflight: the sf10
    // audit legs used to die "spill-while-spilling" at the default
    // 8 g / cpu-count config until hand-tuned env landed — the harness
    // now derives the partition count itself and WARNS (not dies) when
    // the heap looks undersized for the corpus, so big legs run at
    // default config and the knob remains for override only.
    val inputBytes = try dirBytes(java.nio.file.Paths.get(sfDir)) catch { case _: Exception => 0L }
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(autoShufflePartitions(inputBytes, cpus.toInt))
    val heap = Runtime.getRuntime.maxMemory
    if (inputBytes * 16 > heap)
      System.err.println(f"[bench] WARNING: input ${inputBytes / 1e6}%.0f MB vs " +
        f"driver heap ${heap / 1e9}%.1f GB — heavy pair-grain queries may spill hard; " +
        "consider SPARK_DRIVER_MEM=16g (or higher)")
    System.err.println(s"[bench] input=$inputBytes B shuffle.partitions=$shufflePartitions")
    // third-decade audit knobs (r13): SPARK_GRAFT_IO_CODEC=zstd roughly
    // halves shuffle/spill bytes on the pair-grain heavies (q86's sf100
    // transient spill is disk-bound, not CPU-bound); PASSES/WARM let the
    // sf100 FULL-board leg run single-pass (a scale audit hunts >10x
    // decades, not 5% precision — 4 executions/query at 10x data is a
    // wall-clock no-go). Official driver runs keep the 3-pass default.
    val ioCodec = sys.env.get("SPARK_GRAFT_IO_CODEC")
    val spark = Harness.session(s"local[$cpus]", shufflePartitions,
      extra = ioCodec.map("spark.io.compression.codec" -> _).toMap)
    val calibBefore = calibrate()
    // optional args = query-name filter (local iteration; driver passes none)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // per-query (min, median, max) of the three timed passes: a poisoned
    // (machine-contention) run self-identifies by its spread — two of the
    // first seven rounds shipped official numbers that only out-of-band
    // re-runs could adjudicate because the artifact carried medians only
    // (see README "Reading bench artifacts").
    val spreads = scala.collection.mutable.ArrayBuffer.empty[(String, (Double, Double, Double))]
    val errors = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // declared-but-not-run queries, machine-readable (r13 ADVICE; fixed
    // r15 per r14 ADVICE: derived at BUILD-LINE time as declared minus
    // (timed ∪ errored), so a mid-board JVM death or a version-drifted
    // query set shows up in the persisted artifact — the old
    // filter-derived value was provably always [] in persisted runs,
    // because persist() only ran when args was empty)
    def skipped = (SparkEntry.queries.keySet --
      times.map(_._1) -- errors.map(_._1)).toSeq.sorted
    // self-correcting spread (r8 verdict #5): a query whose max/min
    // exceeds the README's 3x poisoned-run criterion re-times itself
    // (bounded retries) and the artifact keeps the quietest round;
    // queries still over the criterion after retries are listed under
    // "contended" so the official number never needs out-of-band
    // adjudication again. 0.2 s floor: sub-second queries legitimately
    // jitter past 3x on scheduler noise alone without being poisoned.
    val SpreadCriterion = 3.0
    val SpreadFloorSec = 0.2
    val MaxRetries = 2
    // foreign-load criterion (r11 verdict #1): a pass during which the
    // box burned > this many CPU-cores-worth of time OUTSIDE this JVM is
    // a contaminated measurement even when all three passes agree — the
    // exact class the spread check is blind to. 1.5 cores clears system
    // daemons / the sbt parent JVM by an order of magnitude while any
    // real co-tenant (the r11 culprit ran DuckDB verify passes) shows
    // as tens of cores.
    val ForeignCoresCriterion = 1.5
    val contended = scala.collection.mutable.ArrayBuffer.empty[String]
    val loadFlagged = scala.collection.mutable.ArrayBuffer.empty[String]
    val foreigns = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def noisy(s: IndexedSeq[Double]): Boolean =
      s.last > SpreadFloorSec && s.last / s.head > SpreadCriterion
    def loaded(s: IndexedSeq[Double], f: Double): Boolean =
      s.last > SpreadFloorSec && f > ForeignCoresCriterion
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val doWarm = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") == "1"
    def buildLine(calibAfter: Option[Double]): String = {
      val qs = times.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      // "queries" stays a flat name→median map (the driver contract);
      // "spread" carries [min, median, max] per query alongside it.
      val spJson = spreads
        .map { case (k, (lo, med, hi)) => s"\"" + k + s"\":[$lo,$med,$hi]" }
        .mkString("{", ",", "}")
      val errJson = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
        .mkString("{", ",", "}")
      val contJson = contended.map("\"" + _ + "\"").mkString("[", ",", "]")
      val loadJson = loadFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")
      val skipJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      val foreignJson = foreigns
        .map { case (k, v) => "\"" + k + f"""":${v}%.2f""" }
        .mkString("{", ",", "}")
      val total = times.map(_._2).sum
      val calibJson = calibAfter match {
        case Some(c) => f"[$calibBefore%.3f,$c%.3f]"
        case None    => f"[$calibBefore%.3f]" // mid-run snapshot: end anchor pending
      }
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spJson,"contended":$contJson,"load_flagged":$loadJson,"foreign_cores":$foreignJson,"errors":$errJson,"skipped":$skipJson,"calib_sec":$calibJson,"sf":"$sfDir"}"""
    }
    // the file is the complete record: the driver's stdout capture
    // truncates long lines (q01–q16 were lost from BENCH_r03/r04)
    def persist(calibAfter: Option[Double] = None): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_out.json"),
        (buildLine(calibAfter) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    queries.foreach { case (name, fn) =>
      try {
        if (doWarm) materialize(fn(spark, sfDir)) // warm codegen/JIT, untimed
        def timeOnce(): (IndexedSeq[Double], Double) = {
          val passes = (1 to nPasses).map { _ =>
            val (b0, s0) = cpuSnapshot()
            val t0 = System.nanoTime()
            materialize(fn(spark, sfDir))
            val sec = (System.nanoTime() - t0) / 1e9
            val (b1, s1) = cpuSnapshot()
            val foreignCores =
              math.max(0.0, ((b1 - b0) - (s1 - s0)) / Hz) / math.max(sec, 1e-9)
            (sec, foreignCores)
          }
          (passes.map(_._1).sorted, passes.map(_._2).max)
        }
        var (samples, foreign) = timeOnce()
        var retries = 0
        while ((noisy(samples) || loaded(samples, foreign)) && retries < MaxRetries) {
          val (again, f2) = timeOnce()
          // keep the quieter round: a load-clean round beats a loaded one
          // regardless of spread (foreign CPU is ground truth, spread is
          // the proxy); otherwise lower spread ratio, ties to the lower
          // median
          val better =
            if (loaded(again, f2) != loaded(samples, foreign)) !loaded(again, f2)
            else {
              val (rA, rS) = (again.last / again.head, samples.last / samples.head)
              rA < rS || (rA == rS && med(again) < med(samples))
            }
          if (better) { samples = again; foreign = f2 }
          retries += 1
        }
        if (noisy(samples)) contended += name
        // still loaded after retries: the kept number is suspect and the
        // artifact says so PER QUERY — no more out-of-band adjudication
        if (loaded(samples, foreign)) loadFlagged += name
        foreigns += name -> foreign
        spreads += name -> ((samples.head, samples(samples.size / 2), samples.last))
        times += name -> samples(samples.size / 2) // median pass
      } catch {
        // NonFatal, not Exception (r13 ADVICE): a VirtualMachineError
        // escaping one query at sf100 must not discard the hours of
        // per-query data already collected — the incremental persist
        // below keeps the artifact current either way, and fatal
        // errors still abort the run AFTER their query is recorded.
        case e: Throwable =>
          // strip ALL JSON-illegal chars (quotes, backslash, and every
          // control char incl. \t \r) or the emitted line won't parse
          errors += name -> e.toString.take(300).replaceAll("[\\x00-\\x1f\"\\\\]", " ")
          // the artifact carries only the message; the sf100 audit needed
          // the frames (the r13 "state-dependent IndexOutOfBounds" that
          // turned out to be this harness's own single-pass median bug)
          // — stderr is the diagnosis channel
          e.printStackTrace(System.err)
          if (!scala.util.control.NonFatal(e)) {
            if (args.isEmpty) persist()
            throw e
          }
      } finally {
        // isolate queries: operators persist intermediates (shingle sets,
        // IVF assignments) that legitimately carry across THIS query's
        // warm + timed passes, but accumulating them across ~90 queries
        // pressures the cache until the late (alphabetically last) dedup
        // heavies measure eviction + GC, not themselves — q86 measured
        // 9.4 s at the end of a full run vs 2.7 s isolated. In a finally:
        // a FAILED query's leftovers must not contaminate the rest either.
        spark.catalog.clearCache()
        // incremental persist (r13 ADVICE): an 8600 s board whose JVM
        // dies at query 200 must still leave the 199 completed rows on
        // disk. FULL runs only — a filtered local-iteration run must
        // not clobber the round's complete per-query map (that is how
        // the r6 detail was lost).
        if (args.isEmpty) persist()
      }
    }
    val calibAfter = calibrate()
    val line = buildLine(Some(calibAfter))
    println(line)
    // Truncation insurance (round 16 — r14's PERF comparison was nulled
    // when the driver's stdout tail cut the full line): a SHORT summary
    // on STDERR (never stdout — the driver contract is ONE JSON line
    // there) plus the bench_out.json file artifact written above give
    // two independent recovery paths for the totals.
    System.err.println(f"[bench] total=${times.map(_._2).sum}%.3f s " +
      s"queries=${times.size} errors=${errors.size} skipped=${skipped.size}")
    if (args.isEmpty) persist(Some(calibAfter))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
