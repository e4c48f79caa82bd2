package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The round loop of the iterative graph operators (stars and min-label
  * CC in [[Dedup]]; PageRank, LPA and k-core in [[GraphOps]]).
  *
  * One knob, `snapshotEvery`; the rest follows from the [[Stop]] rule.
  *   - [[Rounds]]: rounds chain lazily; every `snapshotEvery`-th round
  *     except the last becomes a parquet snapshot.
  *   - [[Until]]: the test reads every round, so the initial frame and
  *     every `snapshotEvery`-th round are snapshots and the rounds between
  *     are persisted and counted (linear recompute for a round that reads
  *     its parent three times, as k-core's does).
  *
  * A new snapshot reclaims the previous one and the cached rounds built on
  * it; the last ones back the result and stay. On any throw the run's
  * snapshots are deleted and its cached rounds unpersisted.
  */
object Fixpoint {

  /** One round's frame; `count` runs at most once (materialization and test share it). */
  final class Round private[Fixpoint] (val df: DataFrame) {
    lazy val count: Long = df.count()
  }

  sealed trait Stop

  /** Exactly `n` rounds. */
  final case class Rounds(n: Int) extends Stop

  /** Until `done(previous, next)`, for at most `maxRounds` rounds. Past
    * them a `failure` fails the run; without one the loop just stops (the
    * budget is part of the operator's contract).
    */
  final case class Until(maxRounds: Int, failure: Option[String])(
      val done: (Round, Round) => Boolean) extends Stop

  /** The last round's frame and the number of rounds run. */
  final case class Result(df: DataFrame, rounds: Int)

  /** Runs `step` from `init` until `stop`, on the cadence above. */
  def iterate(init: DataFrame, stop: Stop, snapshotEvery: Int = 10)(
      step: DataFrame => DataFrame): Result = {
    require(snapshotEvery >= 1, s"snapshotEvery must be >= 1, got $snapshotEvery")
    val (maxRounds, until) = stop match {
      case Rounds(n) => (n, None)
      case u: Until  => (u.maxRounds, Some(u))
    }
    val snaps = new RoundSnapshots(init.sparkSession)
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      var cur = new Round(if (until.isDefined) snaps.snapshot(init) else init)
      var rounds = 0
      var done = false
      while (!done && rounds < maxRounds) {
        rounds += 1
        val snapRound = rounds % snapshotEvery == 0 && (until.isDefined || rounds < maxRounds)
        val raw = step(cur.df)
        val next = new Round(
          if (snapRound) snaps.snapshot(raw)
          else if (until.isEmpty) raw
          else { cached += raw.persist(); raw })
        if (until.isDefined && !snapRound) next.count
        done = until.exists(_.done(cur, next))
        if (snapRound) {
          snaps.reclaimPrevious()
          cached.foreach(_.unpersist(blocking = false))
          cached.clear()
        }
        cur = next
      }
      until.flatMap(_.failure).foreach(require(done, _))
      Result(cur.df, rounds)
    } catch {
      case t: Throwable =>
        cached.foreach(_.unpersist(blocking = false))
        snaps.discard()
        throw t
    }
  }

  /** Parquet round snapshots under `<checkpoint dir or tmpdir>/graft-cc-<uuid>`,
    * not `localCheckpoint()` (round 14): its blocks live in executor memory
    * and were never reclaimed, so an 8-round kCore at sf100 died of OOM.
    * Parquet truncates lineage, survives executor loss and reclaims with a
    * directory delete.
    */
  private final class RoundSnapshots(spark: SparkSession) {
    private lazy val base = { // at the first snapshot: most runs take none
      val b = spark.sparkContext.getCheckpointDir.getOrElse {
        // tmpdir is sound only where every executor shares this JVM's
        // filesystem; elsewhere the re-read silently loses rows (r14 ADVICE)
        val master = spark.sparkContext.master
        val defaultFs = org.apache.hadoop.fs.FileSystem
          .getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme
        require(master.startsWith("local") || (defaultFs != null && defaultFs != "file"),
          s"RoundSnapshots needs spark.sparkContext.setCheckpointDir(...) on master " +
            s"'$master' with local default filesystem '$defaultFs': a java.io.tmpdir " +
            "snapshot would scatter task files across executor disks and silently " +
            "drop rows on re-read")
        System.getProperty("java.io.tmpdir")
      } + "/graft-cc-" + java.util.UUID.randomUUID()
      registerForCleanup(spark, b)
      b
    }
    private var step = 0
    private var latest, previous: Option[Path] = None
    def snapshot(df: DataFrame): DataFrame = {
      val path = s"$base/step-$step"
      step += 1
      df.write.parquet(path)
      previous = latest; latest = Some(new Path(path))
      spark.read.parquet(path)
    }
    /** Deletes the snapshot the latest one superseded. */
    def reclaimPrevious(): Unit = { previous.foreach(delete); previous = None }
    /** Deletes every snapshot of this run (a run that failed). */
    def discard(): Unit = if (step > 0) delete(new Path(base))
    private def delete(p: Path): Unit =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  // Every run leaves its last snapshot (it backs the result); one
  // JVM-wide shutdown hook deletes every base dir this process created
  // (r14 ADVICE: they accumulated in tmp across sessions).
  private val bases = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hookArmed = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def registerForCleanup(spark: SparkSession, base: String): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    bases.add(base)
    if (hookArmed.compareAndSet(false, true))
      sys.addShutdownHook(bases.forEach { b =>
        try { val p = new Path(b); p.getFileSystem(conf).delete(p, true) }
        catch { case _: Exception => () }
      })
  }
}
