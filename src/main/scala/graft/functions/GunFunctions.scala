package graft.functions

import graft.core.ValueKind
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level functions for the gun data model: value struct builders
  * and the node and edge views of the cell store. The HAM tiebreak key is
  * the `gun_canonical_json` expression ([[graft.plans.GunCanonicalJson]]).
  */
object GunFunctions {

  /** Build a gun value struct column from a string column. */
  def gunString(c: Column): Column =
    struct(lit(ValueKind.Str).as("kind"), c.cast("string").as("str"),
      lit(null).cast("string").as("num"), lit(null).cast("boolean").as("bool"),
      lit(null).cast("string").as("rel"))

  /** Build a gun value struct column from a numeric column (stored as string,
    * like the reference — gun/node.go:130-133).
    */
  def gunNumber(c: Column): Column =
    struct(lit(ValueKind.Num).as("kind"), lit(null).cast("string").as("str"),
      c.cast("string").as("num"), lit(null).cast("boolean").as("bool"),
      lit(null).cast("string").as("rel"))

  def gunRelation(c: Column): Column =
    struct(lit(ValueKind.Rel).as("kind"), lit(null).cast("string").as("str"),
      lit(null).cast("string").as("num"), lit(null).cast("boolean").as("bool"),
      c.cast("string").as("rel"))

  /** Pivot the cell store into the node view: one row per soul with a
    * field→value map (reference Node shape, gun/node.go:25-30).
    * One shuffle on `soul`; map built with map-side partial aggregation.
    */
  def cellsToNodes(cells: DataFrame): DataFrame =
    cells
      .groupBy("soul")
      .agg(
        map_from_entries(array_sort(collect_list(struct(col("field"), col("value")))))
          .as("values"),
        max(col("state")).as("max_state"),
        count(lit(1)).as("n_fields"))

  /** Edge view: cells whose value is a relation, as (src, field, dst). */
  def cellsToEdges(cells: DataFrame): DataFrame =
    cells
      .filter(col("value.kind") === ValueKind.Rel)
      .select(col("soul").as("src"), col("field"), col("value.rel").as("dst"))
}
