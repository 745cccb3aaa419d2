package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The generation policy of every operator that carries a frame across
  * rounds: PageRank and personalized PageRank, HITS, LabelProp,
  * distributed Components, the LSA power iteration (termVector,
  * docScores, topicVectors), the k-core peel and BPE training. One
  * operator call runs as `Iterate { it => ... }` and makes every cache
  * entry through `it`:
  *
  *   - [[checkpoint]] (a table the whole loop reads) and [[generation]]
  *     (one round's result) are LAZY MEMORY_AND_DISK local checkpoints.
  *     Each returns a frame whose plan is a single `LogicalRDD` leaf, so
  *     a round plans over O(1) operators however many rounds ran, and
  *     that leaf's RDD is the handle this module frees. Spark 4.1's
  *     `Dataset.unpersist()` does nothing to a local checkpoint (the
  *     cache manager never registered it); only `rdd.unpersist` on the
  *     leaf drops its blocks ([[free]]).
  *   - A round that needs a scalar (HITS's L1 normalizer, Components'
  *     label sum, LSA's norm, the k-core survivor count, BPE's winning
  *     pair) fetches it with [[scalar]]: that one action per round
  *     materializes the generation. A round with no scalar ([[rounds]])
  *     stays lazy and one count job materializes it every
  *     `MaterializeEvery` rounds, which bounds the live generations.
  *   - A generation is freed only after its successor has materialized:
  *     a freed local checkpoint has no lineage to recompute from, and a
  *     lazy one still reads its predecessors.
  *   - On return the frame the body returns is materialized, and every
  *     entry the call made is freed except the ones that frame reads. A
  *     body that throws (Components' unconverged `maxIter`) frees all.
  */
private[operators] final class Iterate private () {
  private val inputs = ArrayBuffer.empty[RDD[_]]
  private val generations = ArrayBuffer.empty[RDD[_]]

  private def track(df: DataFrame, into: ArrayBuffer[RDD[_]]): DataFrame = {
    val c = df.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK)
    into ++= Iterate.reads(c)
    c
  }

  /** A table every round reads; lives until the call returns. */
  def checkpoint(df: DataFrame): DataFrame = track(df, inputs)

  /** One round's result; freed once a later generation has materialized
    * and no live frame reads it.
    */
  def generation(df: DataFrame): DataFrame = track(df, generations)

  /** The round's one action: the 1-row aggregate `agg` over `gen`. It
    * materializes every generation `gen` reads; afterwards each
    * generation that neither `gen` nor `keep` reads is freed.
    */
  def scalar(gen: DataFrame, agg: Column, keep: DataFrame*): Row = {
    val r = gen.agg(agg).head()
    settle(gen +: keep)
    r
  }

  /** `n` rounds of a step with no scalar, from `init`. */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (cur, i) =>
      val next = generation(step(cur))
      if (i % Iterate.MaterializeEvery == 0) { materialize(next); settle(Seq(next)) }
      next
    }

  private def materialize(df: DataFrame): Unit =
    Iterate.reads(df).distinct
      .filter(r => !r.isCheckpointed && (inputs.contains(r) || generations.contains(r)))
      .foreach(_.count())

  private def settle(live: Seq[DataFrame]): Unit =
    release(generations, live.flatMap(Iterate.reads).map(_.id).toSet)

  private def release(from: ArrayBuffer[RDD[_]], keep: Set[Int]): Unit =
    from.filterInPlace(r => keep(r.id) || { r.unpersist(blocking = false); false })

  private def releaseAll(keep: Set[Int]): Unit = {
    release(inputs, keep)
    release(generations, keep)
  }
}

private[operators] object Iterate {

  /** Rounds between the count jobs of a step with no scalar. */
  private val MaterializeEvery = 4

  def apply(body: Iterate => DataFrame): DataFrame = {
    val it = new Iterate
    val out = try body(it) catch { case e: Throwable => it.releaseAll(Set.empty); throw e }
    it.materialize(out)
    it.releaseAll(reads(out).map(_.id).toSet)
    out
  }

  /** Drop the blocks of the local checkpoint `df` is; no-op for any
    * other frame.
    */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** The checkpoint RDDs `df`'s plan reads. */
  private def reads(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l.rdd }
}
