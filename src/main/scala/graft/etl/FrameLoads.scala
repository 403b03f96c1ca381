package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Storage-agnostic (DataFrame → DataFrame) keyed load modes — the
  * counterpart of [[JdbcWarehouseSink.upsert]] and an SCD-2 merge — for
  * warehouses that live in parquet/object storage rather than behind
  * JDBC: the lakehouse shape of the reference's load stage (SURVEY
  * §7.3.5: the reference's re-runs duplicate dimension rows;
  * `upsert`/SCD-2 are the [EXT] modes a production user needs). The
  * JDBC sink pushes the upsert's matching into the warehouse as SQL;
  * here the same set semantics run as Spark joins, so the result can be
  * written back with an overwrite (or fed onward).
  *
  * Scale shape (both ops): ONE equi-join of the current snapshot against
  * the batch's key set plus a union — the key set is `|batch|` rows wide
  * and usually broadcast by AQE; the snapshot is never shuffled beyond
  * that join and nothing is collected. At 100 TB the snapshot-side scan
  * dominates, which is the floor for any keyed rewrite without a
  * log-structured table format underneath.
  */
object FrameLoads {

  /** Keyed upsert: rows of `current` whose key matches a `batch` row are
    * replaced by the batch version; everything else is kept. Equivalent
    * to `MERGE ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
    * INSERT` with whole-row replacement. `batch` must carry the same
    * columns as `current`. */
  def upsertKeyed(current: DataFrame, batch: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsertKeyed needs at least one key column")
    current.join(batch.select(keys.map(col): _*).distinct(),
        keys, "left_anti")
      .unionByName(batch)
  }

  /** SCD-2 merge over an effective-dated snapshot: `current` carries
    * `valid_from`/`valid_to`/`is_current` (open rows have NULL
    * `valid_to`); each batch row CLOSES the open version of its key
    * (valid_to := effectiveDate, is_current := false) and opens a new
    * current version. Historical (already-closed) rows pass through
    * untouched. `batch` carries the business columns only; the three
    * SCD columns are attached here. A batch row always opens a new
    * version — diff upstream if only-changed-rows history is wanted. */
  def scd2Merge(current: DataFrame, batch: DataFrame, keys: Seq[String],
      effectiveDate: Column): DataFrame = {
    require(keys.nonEmpty, "scd2Merge needs at least one key column")
    val eff = effectiveDate.cast("date")
    val hits = batch.select(keys.map(col): _*).distinct()
      .withColumn("_hit", lit(true))
    val hit = coalesce(col("_hit"), lit(false))
    val updated = current.join(hits, keys, "left")
      .withColumn("valid_to",
        when(col("is_current") && hit, eff).otherwise(col("valid_to")))
      .withColumn("is_current", col("is_current") && !hit)
      .drop("_hit")
    val opened = batch
      .withColumn("valid_from", eff)
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    updated.unionByName(opened)
  }
}
