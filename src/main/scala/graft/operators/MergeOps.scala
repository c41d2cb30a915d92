package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S5: the reference's written-but-avoided UPDATE path (per-record
  * `UPDATE … WHERE shop AND billing_date` in its `bigquery.ts`,
  * deliberately bypassed in production for the append-only pattern)
  * as an explicit MERGE-style operator: `mergeByKey` is the relational
  * upsert (anti-join + union). Landing a merged result durably is the
  * table layer's job — [[graft.catalog.LogStore.merge]] /
  * `applyChangesKeyed` commit it as one transaction.
  */
object MergeOps {

  /** Upsert `updates` into `current` by key: rows in `current` whose key
    * appears in `updates` are replaced, others kept. Column sets must
    * match (use `unionByName` semantics). */
  def mergeByKey(current: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    current
      .join(broadcast(updates.select(keyCols: _*).distinct()), keys, "left_anti")
      .unionByName(updates.select(current.columns.map(col): _*))
  }
}
