package graft

import graft.operators.GraphOps
import graft.queries.Q.dec6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Results of GraphOps' distributed bodies do not depend on the shuffle
  * partition count: each body runs on hand fixtures (those of
  * LocalRegimeSpec) at `spark.sql.shuffle.partitions` 1, 4 and 32, and
  * its dec6 rows must be identical across the three. pageRank and HITS
  * also run with the broadcast hint off, where their node-sized state
  * is hash-partitioned by node. */
class PartitionInvarianceSpec extends SparkSpec {
  import spark.implicits._

  private val Partitions = Seq(1, 4, 32)

  /** `run`'s rows (sorted by their text) at every partition count in
    * [[Partitions]], which must all equal the first. */
  private def invariant(what: String)(run: => DataFrame): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    val byCount = try Partitions.map { p =>
      spark.conf.set(key, p.toString)
      p -> run.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    } finally spark.conf.set(key, was)
    val (p0, rows0) = byCount.head
    byCount.tail.foreach { case (p, rows) =>
      assert(rows == rows0, s"$what: $p partitions ${rows.mkString(", ")} " +
        s"vs $p0 partitions ${rows0.mkString(", ")}")
    }
  }

  test("pageRank and hits bodies: same dec6 rows at 1, 4 and 32 partitions") {
    val dangling = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 1.0))
      .toDF("src", "dst", "w")
    val cycle = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 1.0),
        ("c", "d", 2.0), ("d", "a", 1.0)).toDF("src", "dst", "w")
    val dup = Seq(("a", "b", 1.0), ("a", "b", 1.0), ("b", "c", 2.0),
        ("c", "a", 2.0)).toDF("src", "dst", "w")
    for ((n, e) <- Seq("dangling" -> dangling, "cycle" -> cycle, "dup" -> dup);
         bcast <- Seq(None, Some(false))) {
      def merged = GraphOps.mergedEdges(e, "src", "dst", "w")
      invariant(s"pageRank $n bcast=$bcast")(GraphOps.pageRankDistributed(
        merged, 0.85, 6, dec6, reliableEvery = 0, bcast = bcast))
      invariant(s"hits $n bcast=$bcast")(GraphOps.hitsDistributed(
        merged, 4, dec6, reliableEvery = 0, bcast = bcast))
    }
  }

  test("labelPropagation, Louvain and kCore bodies: same rows at 1, 4 and 32 partitions") {
    val twoTri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    val fourTri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (7L, 8L), (8L, 9L), (7L, 9L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 4L), (6L, 7L), (9L, 10L)).toDF("a", "b")
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("a", "b")
    val cliqueChain = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    for ((n, e) <- Seq("two triangles" -> twoTri, "four triangles" -> fourTri,
        "path" -> path, "clique+chain" -> cliqueChain)) {
      def canon = GraphOps.canonEdges(e, "a", "b")
      invariant(s"labelPropagation $n")(
        GraphOps.labelPropagationDistributed(canon, 4, reliableEvery = 0))
      invariant(s"louvainOneLevel $n")(
        GraphOps.louvainOneLevelDistributed(canon, 4, 100, dec6, reliableEvery = 0))
      invariant(s"louvainMultiLevel $n")(
        GraphOps.louvainMultiLevelDistributed(canon, 4, 100, dec6, reliableEvery = 0))
      invariant(s"kCore $n")(
        GraphOps.kCoreDistributed(canon, 2, 50, reliableEvery = 0))
    }
  }
}
