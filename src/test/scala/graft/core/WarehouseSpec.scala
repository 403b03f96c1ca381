package graft.core

import graft.SparkSpec
import org.apache.spark.sql.catalyst.TableIdentifier

/** The in-memory catalog loses table metadata at JVM exit while managed
  * warehouse directories persist; writers must reclaim the orphaned
  * location or every cross-JVM re-run of a persisted-state flow dies
  * with LOCATION_ALREADY_EXISTS (observed: second Verify run in a row
  * failing exactly two gates). */
class WarehouseSpec extends SparkSpec {

  import spark.implicits._

  private def orphanDir(name: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(TableIdentifier(name)))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(loc)
    // a part-file so the dir resembles a real leftover table
    val out = fs.create(new org.apache.hadoop.fs.Path(loc, "stale.bin"))
    out.write(1); out.close()
  }

  test("reclaimOrphan clears a stale managed location; saveAsTable succeeds") {
    val name = "graft_orphan_probe"
    orphanDir(name)
    Warehouse.reclaimOrphan(spark, name)
    Seq((1L, "a")).toDF("id", "v").write.saveAsTable(name)
    assert(spark.table(name).count() === 1L)
    spark.sql(s"DROP TABLE $name")
  }

  test("reclaimOrphan is a no-op for a LIVE table") {
    val name = "graft_live_probe"
    Seq((7L, "x")).toDF("id", "v").write.saveAsTable(name)
    Warehouse.reclaimOrphan(spark, name)
    assert(spark.table(name).count() === 1L)
    spark.sql(s"DROP TABLE $name")
  }

  test("BandIndex.build survives an orphaned location from a dead JVM") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    // simulate the dead-JVM leftover for every table build will create
    Seq("worph_bands_v1", "worph_toks_v1").foreach(orphanDir)
    graft.operators.BandIndex.build(docs, "doc_id", "text",
      numHashes = 16, bands = 4, buckets = 2, name = "worph")
    assert(spark.table("worph_bands").count() > 0)
  }
}
