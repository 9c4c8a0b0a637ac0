package graft.ops

import graft.CacheReleases
import graft.pipeline.Etl2
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution: exact match first, then a blocked fuzzy
  * (edit-distance) match on the residue, union of both. The one
  * implementation of the reference's vehicle resolution cascade
  * (etl2_advclean_and_dimcreatin.py:195-250): `Etl2.resolveVehicles`
  * and `q_resolution_fuzzy` both call [[resolve]].
  *
  *   1. one LEFT broadcast join of the observations on the exact-key
  *      columns (etl2:206-213), persisted as `matched`;
  *   2. the exact matches are `matched`'s rows with a dim id, and the
  *      residue is its rows without one. The reference takes the
  *      residue with a LEFT ANTI join (etl2:216-218); with one row per
  *      observation the two splits are equal row for row;
  *   3. blocked fuzzy join of the residue: equi-join on the block-key
  *      columns (etl2:222,226) + post-filter
  *      `levenshtein <= Etl2.FuzzyThreshold` (etl2:233-234), best match
  *      per observation by (distance, dim id) — the id tiebreak keeps
  *      it deterministic (etl2:236-238);
  *   4. unionByName — exact rows have a null lev_dist (etl2:243).
  *
  * Round-10 shape (VERDICT r9 item 4): the anti join re-derived the
  * observation frame FOUR times in the composed fact plan (exact
  * branch, anti probe, anti build via exact, residue re-attach), each a
  * cache read + shuffle + sort over the keyed stage. The one persisted
  * `matched` frame (one slim row per observation, the frame the cascade
  * materializes anyway) replaces all four derivations, trading
  * O(observations) storage for re-running the caller's dedup window
  * per consumer. The returned plan is lazy and reads `matched`, so
  * `matched` is registered with [[graft.CacheReleases]]: release it
  * after the caller's terminal action.
  *
  * Scale design: the dim side is broadcast when small (reference
  * behavior); at 100 TB-scale dims, drop the broadcast hint and the
  * block keys become the shuffle keys — candidate pairs stay bounded
  * to (block cardinality × per-block size), never O(N×M). The cascade
  * shrinks the expensive fuzzy probe side to only unresolved rows.
  */
object Resolution {
  /** Block key on a normalised name: its 2-char prefix (etl2:222,226),
    * null when the name is shorter, so the row never joins a block. */
  def prefixBlock(name: Column): Column =
    when(length(name) >= 2, substring(name, 1, 2))

  /** Preconditions: one `obs` row per `obsId`, and one `dim` row per
    * exact key (the reference's dim ids are content hashes of that key,
    * etl2:158). `obs` and `dim` carry the key columns under the same
    * names; `dimId` is not an `obs` column.
    *
    * @param exactKeys columns that must all be equal for an exact match
    * @param fuzzyKey  the string compared by edit distance
    * @param blockKeys columns that must all be equal for a fuzzy
    *                  candidate; a null block key never joins
    * @return one row per resolved observation: (obsId, dimId, lev_dist,
    *         is_fuzzy), lev_dist null on exact matches; unresolved
    *         observations are absent (the caller left-joins).
    */
  def resolve(
      obs: DataFrame, obsId: String, dim: DataFrame, dimId: String,
      exactKeys: Seq[String], fuzzyKey: String, blockKeys: Seq[String]): DataFrame = {
    def on(keys: Seq[String]): Column =
      keys.map(k => col(s"o.$k") === col(s"d.$k")).reduce(_ && _)
    val kept = (obsId +: fuzzyKey +: blockKeys).distinct

    // 1. exact: one LEFT join, one persisted frame
    val matched = obs.as("o")
      .join(broadcast(dim.select(dimId, exactKeys: _*)).as("d"), on(exactKeys), "left")
      .select(kept.map(k => col(s"o.$k")) :+ col(s"d.$dimId"): _*)
      .transform(CacheReleases.persisted)

    // 2. split: non-null side exact, null side residue
    val exact = matched.filter(col(dimId).isNotNull)
      .select(col(obsId), col(dimId),
        lit(null).cast("int").as("lev_dist"), lit(false).as("is_fuzzy"))
    val residue = matched.filter(col(dimId).isNull).drop(dimId)

    // 3. blocked fuzzy, best-candidate window with deterministic tiebreak
    val w = Window.partitionBy(col(s"o.$obsId"))
      .orderBy(col("lev_dist").asc, col(s"d.$dimId").asc)
    val fuzzy = residue.as("o")
      .join(broadcast(dim.select(dimId, (fuzzyKey +: blockKeys).distinct: _*)).as("d"),
        on(blockKeys), "inner")
      .withColumn("lev_dist", levenshtein(col(s"o.$fuzzyKey"), col(s"d.$fuzzyKey")))
      .filter(col("lev_dist") <= Etl2.FuzzyThreshold)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(s"o.$obsId"), col(s"d.$dimId"), col("lev_dist"),
        lit(true).as("is_fuzzy"))

    // 4. union
    exact.unionByName(fuzzy)
  }
}
