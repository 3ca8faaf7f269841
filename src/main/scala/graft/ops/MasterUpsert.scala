package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Master-table upsert: anti-join deletes, sequential id assignment, union.
  *
  * Reimplements the semantics of `catalog search/stage4_update_csv.py`
  * (SURVEY §2.3 J6/J7, §2.4 G11):
  *   - deletes apply by `id` when the delete row carries one, else by the
  *     composite key (document_source, document_type, document_name) —
  *     two anti-join passes (`stage4_update_csv.py:426-483`);
  *   - new entries get ids `max(existing id) + rank` where rank follows a
  *     stable, caller-chosen ordering (`:500-523`) — never
  *     monotonically_increasing_id, which would break run-to-run hashes;
  *   - final table is the union of survivors and fresh rows (`:527`).
  *
  * Scale posture: the delete lists are CDC-sized (small) — Catalyst
  * broadcasts them in the anti-joins. The sequential-id contract is an
  * ORDERING, not a physical plan: ids are minted by a range-partitioned
  * sort on the order columns followed by `zipWithIndex` — Spark computes
  * per-partition counts in a lightweight first pass, prefix-sums the K
  * offsets on the driver, and stamps `max_id + offset + local_index` in
  * the data pass. Identical output to the former single-partition
  * `Window.orderBy` rank, but every stage stays parallel (no
  * "WindowExec: No Partition Defined" collapse).
  */
object MasterUpsert {

  val compositeKey: Seq[String] =
    Seq("document_source", "document_type", "document_name")

  /** J6: two-pass anti-join delete — by id where present, else composite. */
  def applyDeletes(master: DataFrame, deletes: DataFrame): DataFrame = {
    val byId = deletes.filter(col("id").isNotNull).select("id").distinct()
    val byComposite = deletes.filter(col("id").isNull)
      .select(compositeKey.map(col): _*).distinct()
    master
      .join(broadcast(byId), Seq("id"), "left_anti")
      .join(broadcast(byComposite), compositeKey, "left_anti")
  }

  /** G11: assign ids max(existing)+1.. to `fresh` ordered by `orderCols`.
    *
    * The global rank comes from the MintRank custom operator
    * (graft.plans.MintRank): its exec node requires
    * OrderedDistribution(orderCols), so the planner plants the range
    * exchange + local sort; a metadata-scale count job prefix-sums K
    * partition sizes on the driver; the data pass stamps
    * `offset + local index` straight onto UnsafeRows. Identical output to
    * the former RDD.zipWithIndex formulation but with no
    * InternalRow→Row→InternalRow encoder round-trip, and the same
    * single-lineage guarantee (the count job reads the exchange the data
    * pass reuses — skipped map stages, no divergence hazard).
    *
    * The max(existing id) stays a lazy broadcast scalar joined into the
    * final plan, so the existing/master side is scanned only when the
    * caller acts. `orderCols` must be a total order for run-to-run
    * determinism (ties would make the rank among tied rows
    * partition-dependent — true of any rank formulation).
    */
  def assignIds(existing: DataFrame, fresh: DataFrame,
      orderCols: Seq[String]): DataFrame = {
    val ranked = graft.plans.MintRank.withRank(fresh.drop("id"), orderCols)
    val maxId = existing.agg(
      coalesce(max(col("id")), lit(0L)).cast("long").as("_max_id"))
    ranked.crossJoin(broadcast(maxId))
      .withColumn("id", col("_max_id") + col("_rank"))
      .drop("_max_id", "_rank")
  }

  /** Full upsert: delete, mint ids, union (J6 + G11 + J7).
    *
    * `remaining` is staged once (r15): it feeds the union's survivor
    * branch AND assignIds' maxId aggregate — unstaged, the master scan
    * and BOTH anti-joins (including the delete lists' distinct
    * aggregates behind their broadcasts) executed twice per run
    * (plans/r15/q_upsert_master_before.txt: orders scanned 2×, the
    * delete-side aggregate pairs planned 4×). */
  def upsert(master: DataFrame, deletes: DataFrame, fresh: DataFrame,
      orderCols: Seq[String]): DataFrame = {
    val remaining = Checkpoints.stage(
      applyDeletes(master, deletes), eager = false)
    val inserted = assignIds(remaining, fresh, orderCols)
    remaining.unionByName(inserted.select(remaining.columns.toIndexedSeq.map(col): _*))
  }
}
