package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ConnectedComponents

/** Pins the min-label propagation contract: correct components on branchy
  * graphs, and a LOUD failure (never silent partial labels) when a
  * component's min-label path exceeds the round cap.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("labels every vertex with its component minimum") {
    import spark.implicits._
    // components {1,2,3,4} (star + edge) and {10, 11}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val got = ConnectedComponents.minLabel(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("local contraction collapses a deep chain: rounds bounded by " +
       "the partition count, not the diameter") {
    import spark.implicits._
    // path graph 0-1-...-499 over 4 partitions: the per-partition
    // union-find collapses each partition's sub-chains to depth-1
    // stars, so the global rounds see a graph of ~4 segment
    // representatives — a handful of rounds, not ~log2(500) ≈ 9
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("d1", "d2")
    val ok = ConnectedComponents.minLabel(chain).collect()
    assert(ok.forall(_.getLong(1) == 0L) && ok.length == 500)
    assert(ConnectedComponents.lastRounds <= 5,
      s"contracted chain took ${ConnectedComponents.lastRounds} rounds")
  }

  test("pointer doubling alone (contraction off) still converges a " +
       "deep chain in O(log n) rounds") {
    import spark.implicits._
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("d1", "d2")
    val ok = ConnectedComponents.minLabel(chain, localContract = false)
      .collect()
    assert(ok.forall(_.getLong(1) == 0L) && ok.length == 500)
  }

  test("a cap below the log bound still fails loudly, not partially") {
    import spark.implicits._
    // after 3 rounds shortcutting reaches distance ≈ 2^2; a 500-node
    // chain cannot finish — the loud-failure contract is unchanged
    // (contraction off: it would collapse the chain before the cap)
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.minLabel(chain, maxIters = 3,
        localContract = false)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("a failed job releases the edges cache and the live round's " +
       "blocks: persisted RDDs return to their pre-call count") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // the edge relation fails while round 1 materializes it
    val poisoned = (0L until 50L).map(i => (i, i + 1)).toDF("d1", "d2")
      .withColumn("d2", when(col("d1") === 25L,
        raise_error(lit("boom"))).otherwise(col("d2")))
    val e = intercept[Exception] {
      ConnectedComponents.minLabel(poisoned, localContract = false)
    }
    assert(e.getMessage.contains("boom"), e.getMessage)
    assert(sc.getPersistentRDDs.size === before,
      "a failed job must not leak the edges cache or a round's blocks")
    // the round-cap refusal exits mid-loop with a live round: same rule
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalStateException] {
      ConnectedComponents.minLabel(chain, maxIters = 2,
        localContract = false)
    }
    assert(sc.getPersistentRDDs.size === before)
  }
}
