package graft.core

import org.apache.spark.sql.{DataFrame, GraftSqlInternals}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}

/** 64-bit fingerprint of the FILES behind a DataFrame's plan.
  *
  * `Dataset.semanticHash` identifies the PLAN — for a file-sourced frame
  * that is the path + schema + options, NOT the data. Two reads of the
  * same directory before and after a rewrite hash identically, which is
  * exactly the staleness window for any driver-side memo keyed on the
  * plan alone (the Bloom bitmap memo: a stale bitmap can yield false
  * NEGATIVES, and [[graft.operators.Dedup.bloomNewKeys]] routes bloom
  * rejects past the exact verification join — silently wrong output).
  *
  * This helper folds every file-backed leaf's listed files — path,
  * length, modification time — into one FNV-mixed long. Parquet/CSV/JSON
  * writers emit fresh UUID part-file names on every commit, so ANY
  * rewrite of a corpus directory changes the fingerprint even when sizes
  * and timestamps coincide. Non-file leaves (in-memory rows, JDBC)
  * contribute nothing: LocalRelation data is part of the semantic hash
  * already, and JDBC-backed memo staleness cannot be fingerprinted
  * cheaply from the driver (callers rebuild that state explicitly, as
  * `BandIndex.build` does).
  *
  * Cost: the file listing is already materialized in the relation's
  * `FileIndex` at read time — no filesystem RPCs, a pure driver-side
  * fold over in-memory metadata.
  *
  * Remaining caveat (documented, not closable here): if Spark's own
  * session-shared file-status cache serves a STALE listing for the path,
  * the fingerprint is as stale as every scan of that frame — but then
  * plain reads fail loudly on the vanished old part files rather than
  * returning silently wrong rows.
  */
object SourceFingerprint {

  def of(df: DataFrame): Long = ofCovered(df).getOrElse(0xcbf29ce484222325L)

  /** [[of]] plus COVERAGE: `Some(fingerprint)` iff at least one
    * file-backed leaf contributed files to the hash; `None` when the
    * plan has no fingerprintable leaf at all (JDBC relations, views
    * over mutable non-file sources, pure local relations). A
    * no-coverage fingerprint cannot witness a data rewrite, so memo
    * layers keyed on it would silently degrade to plan-hash-only keying
    * — exactly the stale-state window the fingerprint exists to close.
    * Callers that memoize derived state should skip memoization (or at
    * least log) on `None` instead of trusting the bare seed. */
  def ofCovered(df: DataFrame): Option[Long] = {
    var h = 0xcbf29ce484222325L
    var covered = false
    def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    def mixFiles(fi: FileIndex): Unit = { covered = true; fi match {
      case p: PartitioningAwareFileIndex =>
        p.allFiles().foreach { f =>
          mix(f.getPath.toString.hashCode.toLong)
          mix(f.getLen)
          mix(f.getModificationTime)
        }
      case other =>
        other.inputFiles.foreach(s => mix(s.hashCode.toLong))
        mix(other.sizeInBytes)
    } }
    GraftSqlInternals.analyzedPlan(df).foreach {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation => mixFiles(fs.location)
          case _                    => ()
        }
      // DSv2 file scans (parquet read through the v2 path when
      // spark.sql.sources.useV1SourceList excludes it): same file
      // listing, different plan node — without this case a v2-read
      // corpus would fingerprint as the bare seed and the stale-bitmap
      // window this helper closes would silently reopen
      case v2: DataSourceV2Relation =>
        v2.table match {
          case ft: FileTable => mixFiles(ft.fileIndex)
          case _             => ()
        }
      case _ => ()
    }
    if (covered) Some(h) else None
  }
}
