package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution — fuzzy matching → connected components →
  * golden-record election, as one reusable chain (q142), plus the
  * O(increment) incremental form a production MDM pipeline actually
  * runs: today's record batch resolves against YESTERDAY'S stored
  * artifacts (the fuzzy variant index + the entity assignment table)
  * without ever re-signing or re-pairing the existing corpus — the
  * q72/q84/q107 incremental doctrine applied to record linkage.
  *
  * Incremental correctness argument (spec- and oracle-pinned): the full
  * match graph's connectivity equals the connectivity of
  *   existing-assignment stars (member → entity label) ∪ new pairs,
  * because existing↔existing pairs only ever connect what the stored
  * assignment already connects, and EVERY pair touching the increment is
  * found by joining the increment's variants against index ∪ increment
  * variants (symmetric-delete blocking is complete per FuzzyJoin's
  * argument). Min-label components over that reduced graph therefore
  * reproduce the full recompute's entities exactly — while the work is
  * bounded by |increment| + |touched entities|, not |corpus|.
  */
object EntityResolution {

  /** Full resolve: every record labeled with its entity (min id of its
    * fuzzy-match component; unmatched records are singleton entities) and
    * a per-entity golden record elected by `scoreCol` descending, id
    * ascending. Returns (id, score, entity, is_canonical).
    */
  def resolve(df: DataFrame, strCol: String, idCol: String, scoreCol: String,
              t: Int = 1): DataFrame = {
    val pairs = FuzzyJoin.editDistanceKJoin(df, strCol, idCol, t)
      .select(col("id_a"), col("id_b"))
    val comps = Components.connectedComponents(pairs, "id_a", "id_b")
    val elect = Window.partitionBy(col("entity"))
      .orderBy(col("score").desc, col("id"))
    df.select(col(idCol).cast("long").as("id"), col(scoreCol).as("score"))
      .join(comps, Seq("id"), "left")
      .withColumn("entity", coalesce(col("component"), col("id")))
      .withColumn("is_canonical",
        when(row_number().over(elect) === 1, 1L).otherwise(0L))
      .select(col("id"), col("score"), col("entity"), col("is_canonical"))
  }

  /** Incremental resolve. Inputs are yesterday's stored artifacts plus
    * today's batch:
    *   - `existingAssign`: (id, entity) — the current assignment table;
    *   - `existingVariants`: (__id, __s, __vh) — the stored
    *     [[FuzzyJoin.deletionVariants]] index of the existing corpus;
    *   - `increment`: today's records (strCol, idCol).
    * Returns the UPDATED full assignment (id, entity): untouched entities
    * pass through by reference (never recomputed, never shuffled beyond
    * the anti-join), touched entities re-label through one bounded
    * component pass, new unmatched records become singletons. Ids must be
    * unique across both generations (warehouse contract).
    *
    * Cost: variant expansion over the INCREMENT only; one hash join
    * against the stored index; components over (new pairs + touched
    * stars). The existing corpus is never re-signed — the 100-TB daily
    * cadence shape.
    */
  def resolveIncrement(existingAssign: DataFrame, existingVariants: DataFrame,
                       increment: DataFrame, strCol: String, idCol: String,
                       t: Int = 1): DataFrame = {
    val incVars = FuzzyJoin.deletionVariants(increment, strCol, idCol, t)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allVars = existingVariants.select(col("__id"), col("__s"), col("__vh"))
      .unionByName(incVars)
    // every confirmed pair with at least one increment endpoint
    val a = incVars.select(col("__id").as("ia"), col("__s").as("sa"), col("__vh"))
    val b = allVars.select(col("__id").as("ib"), col("__s").as("sb"), col("__vh"))
    val pairs = a.join(b, Seq("__vh"))
      .where(col("ia") =!= col("ib"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        when(col("ia") < col("ib"), col("sa")).otherwise(col("sb")).as("name_a"),
        when(col("ia") < col("ib"), col("sb")).otherwise(col("sa")).as("name_b"))
      .distinct()
      // banded threshold levenshtein (early exit above t) — the
      // FuzzyJoin confirm doctrine
      .where(levenshtein(col("name_a"), col("name_b"), t) >= 0)
      .select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // entities whose membership the new pairs can change
    val touched = existingAssign
      .join(pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id"))).distinct(), Seq("id"))
      .select(col("entity")).distinct()
    // their full member stars re-enter the component pass as (member,
    // label) edges — existing connectivity is preserved without existing
    // pairs ever being recomputed
    val stars = existingAssign
      .join(broadcast(touched), Seq("entity"))
      .select(col("id").as("id_a"), col("entity").as("id_b"))
    val comps = Components.connectedComponents(
      pairs.unionByName(stars), "id_a", "id_b")
    val incrementIds = increment.select(col(idCol).cast("long").as("id"))
    val resolvedPart = incrementIds
      .unionByName(existingAssign.join(broadcast(touched), Seq("entity"))
        .select(col("id")))
      .distinct()
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("entity"))
    val untouchedPart = existingAssign
      .join(broadcast(touched.withColumnRenamed("entity", "__t")),
        col("entity") === col("__t"), "left_anti")
    untouchedPart.select(col("id"), col("entity")).unionByName(resolvedPart)
  }
}
