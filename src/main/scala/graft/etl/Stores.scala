package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.{PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Storage abstraction standing in for the reference's S3 buckets
  * (reference: src/extract.py:122-156 bucket discovery, src/load.py:51-78
  * multi-file ingest). One named parquet table per entry; works against
  * any Hadoop-FS URI (local path in tests, s3a:// on a cluster) — the same
  * path-prefix indirection the reference's tests exploit (SURVEY.md §5).
  *
  * Change detection is optional: [[version]], the stamp pair and the
  * watermark pair default to "unknown", "no stamp" and "no watermark",
  * which makes [[TransformJob]] rebuild every output and [[IngestJob]]
  * recompute every watermark on every run, as a store without them always
  * did.
  */
trait TableStore {
  def exists(name: String): Boolean
  def list(): Seq[String]
  def read(name: String): DataFrame
  def read(name: String, schema: StructType): DataFrame
  /** Overwrite-per-table write — extract replaces the per-table object each
    * run (reference: src/extract.py:253). */
  def write(name: String, df: DataFrame): Unit
  /** Append — the warehouse accumulates versions (reference: src/load.py:102-110). */
  def append(name: String, df: DataFrame): Unit

  /** Content version of `name`: a token that differs whenever its data
    * differs. `None` means unknown (the default, and any missing table);
    * callers must then treat the table as changed. */
  def version(name: String): Option[String] = None

  /** The stamp last stored beside `name` by [[putStamp]], if it is still
    * there. A write that replaces `name` must drop its stamp. */
  def stamp(name: String): Option[String] = None

  /** Stores `stamp` beside `name`, or removes it when `None`. The default
    * keeps no stamps, so [[stamp]] stays `None`. */
  def putStamp(name: String, stamp: Option[String]): Unit = ()

  /** The watermark last stored beside `name` by [[putWatermark]], if it is
    * still there ([[Watermark.encode]] gives its form). */
  def watermark(name: String): Option[String] = None

  /** Stores `marks` beside `name`, or removes them when `None`. The
    * default keeps none, so [[watermark]] stays `None`. */
  def putWatermark(name: String, marks: Option[String]): Unit = ()
}

/** Parquet-directory store: `<root>/<name>.parquet/` (a parquet dataset per
  * table, so writes scale out across executors instead of the reference's
  * single-buffer upload).
  *
  * [[version]] hashes a driver-side listing of the data files (path,
  * size, mtime). Spark names every part file with a per-write UUID,
  * so each overwrite or append yields a new version. The stamp and the
  * watermark are the hidden files `<name>.parquet/_graft_stamp` and
  * `_graft_watermark`: Spark's readers skip `_`-prefixed files, and an
  * overwrite deletes the directory and both sidecars with it. */
final class ParquetStore(spark: SparkSession, root: String) extends TableStore {

  private def path(name: String) = s"$root/$name.parquet"

  private def conf = spark.sparkContext.hadoopConfiguration

  private def fs = new Path(root).getFileSystem(conf)

  private def sidecar(name: String, kind: String) = new Path(path(name), s"_graft_$kind")

  /** Spark's rule for files and directories its readers skip. */
  private def hidden(n: String) =
    (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")

  /** Data files under `dir`, partition directories included, in path
    * order; directories are listed only as the iterator reaches them. */
  private def dataFiles(dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
      .sortBy(_.getPath.getName).iterator
      .flatMap(s => if (s.isDirectory) dataFiles(s.getPath) else Iterator(s))

  /** A footer reader of `f` over the session's Hadoop conf. Without these
    * options parquet builds a fresh `Configuration` per open, which parses
    * Hadoop's XML defaults again (~9 ms of CPU per footer). */
  private def openFooter(f: FileStatus): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
      HadoopReadOptions.builder(conf).build())

  /** The schema Spark wrote into the footer of the first data file, or
    * `None` when `spark.read.parquet` must infer it instead: schema
    * merging is on, the dataset is missing or has no data file, or the
    * file was not written by Spark. Spark's own inference reads the same
    * footer key. The store passes no reader options, so the
    * `spark.sql.parquet.mergeSchema` conf is the only merge switch. */
  private def footerSchema(name: String): Option[StructType] = {
    val dir = new Path(path(name))
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean || !fs.exists(dir)) None
    else dataFiles(dir).nextOption().flatMap { f =>
      val reader = openFooter(f)
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    }.flatMap(json => Try(DataType.fromJson(json)).toOption.collect { case s: StructType => s })
  }

  override def exists(name: String): Boolean = fs.exists(new Path(path(name)))

  override def list(): Seq[String] = {
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }

  /** Reads `name` with the schema from its footer ([[footerSchema]]),
    * resolved on the driver, so no Spark job runs; `spark.read.parquet`
    * would launch one to infer it. Partition columns still come from
    * Spark's path discovery. Falls back to `spark.read.parquet` where the
    * footer cannot stand in for inference. */
  override def read(name: String): DataFrame =
    footerSchema(name).fold(spark.read.parquet(path(name)))(read(name, _))

  override def read(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path(name))

  override def write(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(name))

  override def append(name: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(path(name))

  override def version(name: String): Option[String] = {
    val dir = new Path(path(name))
    if (!fs.exists(dir)) None
    else Some(TableStore.sha256(dataFiles(dir)
      .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}").mkString("\n")))
  }

  private def readSidecar(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }

  private def putSidecar(p: Path, content: Option[String]): Unit = content match {
    case Some(s) =>
      val out = fs.create(p, true)
      try out.write(s.getBytes(UTF_8)) finally out.close()
    case None => fs.delete(p, false)
  }

  override def stamp(name: String): Option[String] = readSidecar(sidecar(name, "stamp"))

  override def putStamp(name: String, stamp: Option[String]): Unit =
    putSidecar(sidecar(name, "stamp"), stamp)

  override def watermark(name: String): Option[String] =
    readSidecar(sidecar(name, "watermark"))

  override def putWatermark(name: String, marks: Option[String]): Unit =
    putSidecar(sidecar(name, "watermark"), marks)

  /** The row count of `name` and the maximum of each of `columns` (`None`
    * where every value is null), from the data files' footers on the
    * driver, so no Spark job runs. `None` unless every column is an
    * `INT64 TIMESTAMP(MICROS|MILLIS, isAdjustedToUTC=true)` in every file
    * and every row group carries its statistics: min/max, or a null count
    * equal to its values. Spark's default INT96 timestamps carry none.
    * A missing dataset answers `None`. */
  private[etl] def timestampMaxima(name: String,
      columns: Seq[String]): Option[(Long, Seq[Option[Timestamp]])] = {
    val dir = new Path(path(name))
    if (!fs.exists(dir)) None
    else {
      // stop reading footers at the first row group that cannot answer
      val (known, rest) = dataFiles(dir).flatMap(rowGroupMaxima(_, columns)).span(_.isDefined)
      val (rows, maxima) = known.flatten.foldLeft((0L, columns.map(_ => Option.empty[Long]))) {
        case ((n, ms), (m, gs)) => (n + m, ms.zip(gs).map { case (x, y) => (x ++ y).maxOption })
      }
      Option.when(!rest.hasNext)((rows, maxima.map(_.map(DateTimeUtils.toJavaTimestamp))))
    }
  }

  /** Per row group of `f`: its row count and each column's maximum in
    * epoch microseconds, or `None` where its statistics cannot tell; a
    * single `None` when a column is missing or not a UTC INT64 timestamp. */
  private def rowGroupMaxima(f: FileStatus,
      columns: Seq[String]): Seq[Option[(Long, Seq[Option[Long]])]] = {
    def microsPerUnit(t: Type): Option[Long] = t match {
      case p: PrimitiveType if p.getPrimitiveTypeName == PrimitiveTypeName.INT64 =>
        p.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation if ts.isAdjustedToUTC => ts.getUnit match {
            case TimeUnit.MICROS => Some(1L)
            case TimeUnit.MILLIS => Some(1000L)
            case _ => None
          }
          case _ => None
        }
      case _ => None
    }
    // Some(max), Some(None) when every value is null, None when unknown
    def chunkMax(chunk: ColumnChunkMetaData): Option[Option[Long]] = {
      val st: Statistics[_] = chunk.getStatistics
      if (st == null || st.isEmpty) None
      else if (st.hasNonNullValue) Some(Some(st.genericGetMax.asInstanceOf[java.lang.Long]))
      else Option.when(st.isNumNullsSet && st.getNumNulls == chunk.getValueCount)(None)
    }
    val reader = openFooter(f)
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val units = columns.map(c => Option.when(schema.containsField(c))(c)
        .flatMap(c => microsPerUnit(schema.getType(schema.getFieldIndex(c)))))
      if (units.contains(None)) Seq(None)
      else footer.getBlocks.asScala.toSeq.map { block =>
        val chunks = block.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
        val maxima = columns.zip(units.flatten).map { case (c, unit) =>
          chunks.get(c).flatMap(chunkMax).map(_.map(_ * unit))
        }
        Option.when(!maxima.contains(None))((block.getRowCount, maxima.flatten))
      }
    } finally reader.close()
  }

  /** Hive-style partitioned layout (`<name>.parquet/<col>=<v>/...`): the
    * 100 TB fact-table layout — scans filtered on the partition columns
    * prune whole directories (PartitionFilters, asserted in ScaleSpec). */
  def writePartitioned(name: String, df: DataFrame, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path(name))

  /** Append into a hive-partitioned layout: new files land only under
    * the partition directories the batch actually touches; existing
    * files are never rewritten (the partitioned analogue of [[append]]). */
  def appendPartitioned(name: String, df: DataFrame, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append)
      .partitionBy(partitionCols: _*)
      .parquet(path(name))
}

object TableStore {
  /** Hex SHA-256 of `s`: fixed-size tokens for versions and stamps. */
  private[etl] def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString
}
