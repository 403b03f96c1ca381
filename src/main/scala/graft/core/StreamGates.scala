package graft.core

/** Shared pieces of the streaming replay gates (`stream_*_replay`).
  *
  * Each gate is one self-contained run: it resets the operator's state
  * table(s) (Bloom keys, Count-Min cells, band index, IVF cells) through
  * the operator's own cold path, drives the production triggers,
  * including an at-least-once replay of batch 0, and builds its output
  * from the frames those triggers delivered plus a live read of the
  * state. Nothing a gate writes is read back by a later run.
  */
object StreamGates {

  /** `<prefix><crc32(dataDir)>` — the name of one gate's state at one
    * data directory, so two scale factors never share state in one
    * warehouse. */
  def table(prefix: String, dataDir: String): String = {
    val crc = new java.util.zip.CRC32()
    crc.update(dataDir.getBytes("UTF-8"))
    f"$prefix${crc.getValue}%08x"
  }

  /** The at-least-once delivery recorder a gate passes to its triggers:
    * the [[sink]] freezes each delivered frame at delivery time
    * (localCheckpoint — the sink's view of the stream; a later state
    * append must not retro-change it), and [[counts]] returns how often
    * each key was delivered. Compose a projection into the sink at the
    * gate site when only part of the delivered row is the key
    * (`df => ledger.sink(df.select("doc_id"))`). */
  final class DeliveryLedger {
    private val delivered = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]

    val sink: org.apache.spark.sql.DataFrame => Unit =
      df => { delivered += df.localCheckpoint(true); () }

    /** `groupCols -> n_deliveries` over every delivered frame; `empty` is
      * a zero-row frame with the delivered schema (no trigger delivered
      * anything). */
    def counts(empty: org.apache.spark.sql.DataFrame,
        groupCols: Seq[String]): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.{col, count, lit}
      delivered.reduceOption(_.unionByName(_)).getOrElse(empty)
        .groupBy(groupCols.map(col): _*)
        .agg(count(lit(1)).as("n_deliveries"))
    }
  }
}
