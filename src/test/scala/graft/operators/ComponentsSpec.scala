package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def runBoth(pairs: org.apache.spark.sql.DataFrame): (Map[Long, Long], Map[Long, Long]) = {
    def cached = spark.sparkContext.getPersistentRDDs.size
    val before = cached
    val fast = Components.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    // the driver path's result is a local frame: its edge checkpoint is freed
    assert(cached <= before)
    val dist = Components.connectedComponents(pairs, "id_a", "id_b", driverThreshold = 0)
      .as[(Long, Long)].collect().toMap
    // the distributed result reads only the last round's generation
    assert(cached <= before + 1)
    (fast, dist)
  }

  test("labels every node with its component min (both paths agree)") {
    // two components: {1,2,3,4} chained, {10,11}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    val (fast, dist) = runBoth(pairs)
    assert(fast == want && dist == want)
  }

  test("long chain: pointer jumping converges well under diameter rounds") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (fast, dist) = runBoth(chain)
    assert(fast.size == 12 && fast.values.forall(_ == 1L))
    assert(dist == fast)
  }

  test("edge direction and duplicates do not change the result") {
    val a = Seq((5L, 9L), (9L, 5L), (5L, 9L), (7L, 9L)).toDF("id_a", "id_b")
    val want = Map(5L -> 5L, 9L -> 5L, 7L -> 5L)
    val (fast, dist) = runBoth(a)
    assert(fast == want && dist == want)
  }

  test("null endpoints are dropped identically on both paths") {
    val pairs = Seq((Option(1L), Option(2L)), (Option.empty[Long], Option(5L)),
      (Option(7L), Option.empty[Long])).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L)
    val (fast, dist) = runBoth(pairs)
    assert(fast == want && dist == want)
  }

  test("distributed path: maxIter too small fails loudly, not a partial fixpoint") {
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[IllegalArgumentException] {
      Components.connectedComponents(chain, "id_a", "id_b", maxIter = 2, driverThreshold = 0)
    }
    // the failed call frees every generation it made
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }
}
