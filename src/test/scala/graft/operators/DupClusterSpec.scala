package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import graft.SparkSpec

/** Connected-component clustering over near-dup pairs. */
class DupClusterSpec extends SparkSpec {
  import spark.implicits._

  test("chains collapse to the min id; disjoint clusters stay apart") {
    // components: {1,2,3,4} via chain, {10,11}, singleton edge-less 99 absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // distributed path must agree
    val dist = Dedup.dupClusters(pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == got)
  }

  test("long chain converges (diameter > 2)") {
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L))
    assert(got.size == 10)
  }

  test("chain with diameter beyond the free-round budget still fully merges") {
    // 200-node path: pointer jumping needs > 6 rounds; the convergence
    // loop must keep going until fixpoint instead of silently under-merging
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs, driverMaxEdges = 0L, freeRounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(1L))
    assert(got.size == 200)
  }

  test("round budget exhaustion throws instead of under-merging") {
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertThrows[IllegalStateException] {
      Dedup.dupClusters(pairs, driverMaxEdges = 0L, freeRounds = 2, maxRounds = 3).count()
    }
  }

  test("convergence schedule never changes labels: default freeRounds == old 6-round schedule (r19)") {
    // the r19 optimization moved the first convergence check from round
    // 6 to round 2; fixpoint labels must be schedule-independent on a
    // graph mixing tiny components with a chain deeper than both budgets
    val pairs = ((1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (200L, 201L), (201L, 202L)))
      .toDF("id_a", "id_b")
    val early = Dedup.dupClusters(pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    val late = Dedup.dupClusters(pairs, driverMaxEdges = 0L, freeRounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(early == late)
    assert(early.values.toSet == Set(1L, 100L, 200L))
  }

  test("driver union-find and distributed pointer jumping agree on a random graph") {
    val rnd = new scala.util.Random(1234)
    val edges = (0 until 800).map { _ =>
      val a = rnd.nextInt(500).toLong
      val b = rnd.nextInt(500).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val pairs = edges.toDF("id_a", "id_b")
    val driver = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.dupClusters(pairs, driverMaxEdges = 0L).as[(Long, Long)].collect().toMap
    assert(dist == driver)
  }

  /** The driver branch returns a local frame; the distributed one a
    * checkpointed RDD.
    */
  private def labeledOnDriver(labels: DataFrame): Boolean =
    labels.queryExecution.logical.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  test("driverMaxEdges is the exact boundary between the driver and distributed branches") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L)
    val atBound = Dedup.dupClusters(pairs, driverMaxEdges = 4L)
    val pastBound = Dedup.dupClusters(pairs, driverMaxEdges = 3L)
    assert(labeledOnDriver(atBound), "exactly driverMaxEdges edges stay on the driver")
    assert(!labeledOnDriver(pastBound), "driverMaxEdges + 1 edges go distributed")
    assert(atBound.as[(Long, Long)].collect().toMap == want)
    assert(pastBound.as[(Long, Long)].collect().toMap == want)
  }

  test("duplicate and reversed edges label identically on both branches") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val noisy = (edges ++ edges ++ edges.map(_.swap) ++ Seq((4L, 1L), (11L, 10L)))
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    val driver = Dedup.dupClusters(noisy)
    val dist = Dedup.dupClusters(noisy, driverMaxEdges = 0L)
    assert(labeledOnDriver(driver) && !labeledOnDriver(dist))
    assert(driver.as[(Long, Long)].collect().toMap == want)
    assert(dist.as[(Long, Long)].collect().toMap == want)
    assert(Dedup.dupClusters(edges.toDF("id_a", "id_b")).as[(Long, Long)]
      .collect().toMap == want)
  }
}
