package graft.etl

import java.sql.{Connection, Timestamp}
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.datasources.jdbc.{JDBCOptions, JdbcUtils}
import scala.jdk.CollectionConverters._

/** OLTP source abstraction (reference ops S1–S3, src/extract.py:77-119).
  * JDBC is one implementation behind the trait; a parquet-backed source
  * serves tests (mirroring how the reference swaps real-Postgres + mock-S3,
  * SURVEY.md §5). */
trait OltpSource {
  /** S1 — catalog scan: list base tables. */
  def listTables(): Seq[String]
  /** S2 — full-table scan. */
  def full(table: String): DataFrame
  /** S3 — incremental scan (CDC-lite): strict-`>` timestamp watermark on
    * `created_at OR last_updated` (reference: src/extract.py:110-112). */
  def incremental(table: String, created: Timestamp, updated: Timestamp): DataFrame

  /** What the source itself knows about `table` without a Spark job: its
    * row count and the maxima of `created_at` and `last_updated`, from
    * which [[OltpSource.TableMarks.hasDelta]] decides whether a scan
    * returns a row. `None`, the default, means the source cannot say, and
    * extract probes the delta frame with `isEmpty` instead. */
  def marks(table: String): Option[OltpSource.TableMarks] = None
}

object OltpSource {
  /** A table's row count and watermark-column maxima (`None` where every
    * value is null), as [[OltpSource.marks]] reports them. */
  final case class TableMarks(rows: Long, created: Option[Timestamp],
      updated: Option[Timestamp]) {

    /** Whether the scan extract runs against the landed marks `since`
      * returns a row: with no marks that is the full scan, so any row; with
      * marks it is [[deltaFilter]], so a maximum strictly past its mark. A
      * null mark is never exceeded, as `col > NULL` never holds. */
    def hasDelta(since: Option[Watermark.Marks]): Boolean = since match {
      case None => rows > 0
      case Some(m) => exceeds(created, m.created) || exceeds(updated, m.updated)
    }

    private def exceeds(max: Option[Timestamp], mark: Timestamp) =
      mark != null && max.exists(_.after(mark))
  }

  /** Shared incremental predicate so both implementations agree on the
    * strict-`>` OR semantics. For JDBC, Catalyst pushes this filter into
    * the remote query (predicate pushdown — SURVEY.md §4). */
  def deltaFilter(df: DataFrame, created: Timestamp, updated: Timestamp): DataFrame =
    df.filter(col("created_at") > created || col("last_updated") > updated)
}

/** Test/local implementation: each table a parquet dataset under `dir`.
  * The incremental filter is pushed into the parquet scan by Catalyst. */
final class ParquetSource(spark: SparkSession, dir: String) extends OltpSource {
  private val store = new ParquetStore(spark, dir)
  override def listTables(): Seq[String] = store.list()
  override def full(table: String): DataFrame =
    Schemas.sourceTables.get(table) match {
      case Some(schema) => store.read(table, schema)
      case None         => store.read(table)
    }
  override def incremental(table: String, created: Timestamp, updated: Timestamp): DataFrame =
    OltpSource.deltaFilter(full(table), created, updated)

  /** From the footers' row-group statistics ([[ParquetStore.timestampMaxima]]);
    * `None` for files without them, such as Spark's default INT96. */
  override def marks(table: String): Option[OltpSource.TableMarks] =
    store.timestampMaxima(table, Seq("created_at", "last_updated")).map {
      case (rows, Seq(c, u)) => OltpSource.TableMarks(rows, c, u)
    }
}

/** Per-table parallel-scan spec for [[JdbcSource]]: Spark's partitioned
  * JDBC read (stride predicates on a numeric/date/timestamp column, one
  * remote cursor per partition). The reference's extract is a single
  * cursor per table (src/extract.py:98-101) — fine for dimension-sized
  * tables, a bottleneck on a large fact source; this is the scale path.
  *
  * Bounds left as `None` (the [[JdbcPartitioning.auto]] form) are derived
  * at scan time with a one-row `SELECT min/max` against the source, so
  * they can never go stale — a hand-supplied upper bound outlived by the
  * table silently lands every newer row in the last stride partition
  * (skew, not wrongness, but exactly the kind that grows forever).
  * Explicit bounds remain for callers that must avoid the extra
  * round-trip per scan. */
final case class JdbcPartitioning(partitionColumn: String,
    lowerBound: Option[Long], upperBound: Option[Long], numPartitions: Int)

object JdbcPartitioning {
  def apply(partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int): JdbcPartitioning =
    JdbcPartitioning(partitionColumn, Some(lowerBound), Some(upperBound),
      numPartitions)

  /** Stride bounds derived from the live table at every scan. */
  def auto(partitionColumn: String, numPartitions: Int): JdbcPartitioning =
    JdbcPartitioning(partitionColumn, None, None, numPartitions)
}

/** Production implementation over JDBC. Tables listed in `partitioning`
  * are scanned in parallel (N stride partitions, one remote cursor each);
  * everything else reads on one partition — the right default for the
  * dimension-sized totesys tables.
  * Reference parity: table discovery via information_schema
  * (src/extract.py:81-84); SELECT * scans (src/extract.py:98).
  *
  * @param catalogQuery dialect-specific table-listing subquery (one string
  *                     column); defaults to the Postgres information_schema
  *                     form the reference uses
  * @param partitioning per-table parallel-scan config; absent tables read
  *                     single-partition
  */
final class JdbcSource(spark: SparkSession, url: String, props: Properties,
    catalogQuery: String = JdbcSource.postgresCatalogQuery,
    partitioning: Map[String, JdbcPartitioning] = Map.empty)
    extends OltpSource {

  override def listTables(): Seq[String] =
    JdbcSource.withConnection(url, props, catalogQuery) { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT * FROM $catalogQuery")
        Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSeq
      } finally st.close()
    }.sorted

  /** Identifiers are double-quoted, so table names must match the
    * catalog's exact case (what listTables returns) — this is what makes
    * reserved-word table names like the reference's `transaction` legal
    * across dialects. */
  override def full(table: String): DataFrame =
    partitioning.get(table) match {
      case Some(p) =>
        val bounds = (p.lowerBound, p.upperBound) match {
          case (Some(lo), Some(hi)) => Some((lo, hi))
          case _ => deriveBounds(table, p.partitionColumn)
        }
        bounds match {
          case Some((lo, hi)) =>
            spark.read.jdbc(url, "\"" + table + "\"", p.partitionColumn,
              lo, hi, p.numPartitions, props)
          // empty table: nothing to stride over — single-cursor read
          case None =>
            spark.read.jdbc(url, "\"" + table + "\"", props)
        }
      case None =>
        spark.read.jdbc(url, "\"" + table + "\"", props)
    }

  /** One-row remote `min/max` aggregate for [[JdbcPartitioning.auto]]:
    * the DB answers from the partition column's index (or one scan), the
    * driver receives two values — never rows. None on an empty table. */
  private def deriveBounds(table: String, column: String): Option[(Long, Long)] = {
    val q = s"""(SELECT min("$column") lo, max("$column") hi
               | FROM "$table") b""".stripMargin
    val row = spark.read.jdbc(url, q, props).head()
    if (row.isNullAt(0) || row.isNullAt(1)) None
    else Some((row.getAs[Number](0).longValue(), row.getAs[Number](1).longValue()))
  }

  override def incremental(table: String, created: Timestamp, updated: Timestamp): DataFrame =
    OltpSource.deltaFilter(full(table), created, updated)
}

object JdbcSource {
  /** The reference's discovery query (src/extract.py:81-84). */
  val postgresCatalogQuery: String =
    """(SELECT table_name FROM information_schema.tables
      | WHERE table_schema = 'public' AND table_type = 'BASE TABLE') t"""
      .stripMargin

  /** Derby (embedded) equivalent, used by the JDBC integration spec. */
  val derbyCatalogQuery: String =
    "(SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T') t"

  /** `f` over one driver-side connection, opened as Spark's JDBC reader
    * opens its own: the class the `driver` property names is loaded and
    * registered first, so it connects before any Spark read has run.
    * `table` is the relation the options describe. */
  private[etl] def withConnection[T](url: String, props: Properties, table: String)(
      f: Connection => T): T =
    JdbcUtils.withConnection(new JDBCOptions(url, table, props.asScala.toMap))(f)
}
