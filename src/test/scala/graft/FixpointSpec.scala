package graft

import org.apache.spark.sql.execution.FormattedMode
import graft.operators.{Dedup, Fixpoint, GraphOps}

/** [[graft.operators.Fixpoint]], the round loop of the iterative graph
  * operators: cleanup on a failed run and the lineage bound.
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  test("a run that does not converge throws its message and leaves no snapshot or cached round") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixpoint").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    // SparkContext nests a UUID dir under the configured path
    def ccDirs(): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .filter(_.getName.startsWith("graft-cc-"))
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted()
    // a 200-vertex chain needs several stars rounds; one is allowed.
    // smallGraphEdges = 0 forces the distributed loop.
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(chain, maxIter = 1, smallGraphEdges = 0L))
    assert(e.getMessage.contains("connectedComponentsStars did not converge in 1 rounds"))
    assert(ccDirs().isEmpty, s"failed run left ${ccDirs().mkString(", ")}")
    assert(persisted() == before, "failed run left persisted RDDs")
    // an Until run persists the rounds between snapshots: a step that
    // throws after one cached round drops it and the initial snapshot
    val nodes = (1L to 50L).toDF("v")
    val cachedRound = intercept[IllegalStateException] {
      Fixpoint.iterate(nodes, Fixpoint.Until(8, None)((_, _) => false), snapshotEvery = 4) { df =>
        if (df.storageLevel.useMemory) throw new IllegalStateException("round 2")
        df.filter($"v" > 1L)
      }
    }
    assert(cachedRound.getMessage == "round 2")
    assert(ccDirs().isEmpty, s"failed run left ${ccDirs().mkString(", ")}")
    assert(persisted() == before, "failed run left its cached round")
  }

  test("LPA over 25 rounds keeps a bounded plan and the labels of an unsnapshotted run") {
    // two 6-cliques joined through a 12-vertex path: labels keep moving
    // along the path for many rounds
    val clique = (a: Long) => for (i <- a until a + 6; j <- i + 1 until a + 6) yield (i, j)
    val path = (100L until 112L).map(i => (i, i + 1)) ++ Seq((0L, 100L), (112L, 50L))
    val pairs = clique(0L) ++ clique(50L) ++ path
    val edges = pairs.toDF("src", "dst")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      PlanDump.exchangeCounts(df.queryExecution.explainString(FormattedMode))._1
    val ten = GraphOps.labelPropagation(edges, rounds = 10)
    val long = GraphOps.labelPropagation(edges, rounds = 25)
    assert(exchanges(long) <= exchanges(ten) + 4,
      s"25 rounds: ${exchanges(long)} exchanges, 10 rounds: ${exchanges(ten)}")
    // the same synchronous, smallest-label-tie LPA in plain Scala
    val nbrs = (pairs ++ pairs.map(_.swap)).groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val expected = (1 to 25).foldLeft(nbrs.keys.map(v => v -> v).toMap) { (labels, _) =>
      nbrs.map { case (v, ns) =>
        v -> ns.groupBy(labels).toSeq.map { case (l, hits) => (-hits.size, l) }.min._2
      }
    }
    assert(long.as[(Long, Long)].collect().toMap == expected)
  }
}
