package graft.etl

import java.sql.Timestamp
import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.collection.immutable.ListMap
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

/** E2 — watermark: max(created_at), max(last_updated) over the previously
  * landed table. The reference implements MAX as set-dedup + sorted-insert +
  * take-last (src/extract.py:176-199); that is literally distinct→sort→last
  * = MAX.
  *
  * The landed table is always the latest delta, so its marks are that
  * delta's maxima. [[land]] observes them during the write itself and
  * stores them beside the table ([[TableStore.putWatermark]]), tagged with
  * the table's version after the write; [[stored]] hands them back on the
  * driver while that version still holds. [[of]], a 2-value aggregate
  * (2 Spark jobs under AQE), recomputes them where no valid sidecar is
  * left: none was stored, a foreign writer or a failed write changed the
  * table, or the store keeps no versions. */
object Watermark {
  final case class Marks(created: Timestamp, updated: Timestamp)

  /** The two columns [[of]] reads. Reading a landed table through this
    * schema scans only them and skips parquet schema inference, which
    * would otherwise cost one Spark job per table on every tick. */
  val schema: StructType = StructType(Seq(
    StructField("created_at", TimestampType),
    StructField("last_updated", TimestampType)))

  private val maxima = Seq(max(col("created_at")), max(col("last_updated")))

  /** Marks from `row`'s first two fields; `None` when both are null. */
  private def marks(row: Row): Option[Marks] =
    if (row.isNullAt(0) && row.isNullAt(1)) None
    else Some(Marks(row.getTimestamp(0), row.getTimestamp(1)))

  def of(landed: DataFrame): Option[Marks] = marks(landed.agg(maxima.head, maxima.tail: _*).head())

  /** The sidecar form: a layout tag, the table version it describes and
    * each mark in epoch microseconds (`null` for a null mark, `none` for
    * no marks). Microseconds are the timestamp type's own precision;
    * `Timestamp.getTime` millis would lose the sub-millisecond part and
    * make the strict `>` re-land those rows. */
  private[etl] def encode(version: String, marks: Option[Marks]): String = {
    def us(t: Timestamp) = if (t == null) "null" else DateTimeUtils.fromJavaTimestamp(t).toString
    s"graft-watermark/1 $version " + marks.fold("none")(m => s"${us(m.created)} ${us(m.updated)}")
  }

  /** The marks stored beside `table` if they describe its `version`;
    * `None` when there are none, they describe another version, or they
    * are not in [[encode]]'s form. */
  private[etl] def stored(store: TableStore, table: String,
      version: Option[String]): Option[Option[Marks]] = {
    def ts(s: String) = if (s == "null") null else DateTimeUtils.toJavaTimestamp(s.toLong)
    for {
      v <- version
      sidecar <- store.watermark(table)
      marks <- Try(sidecar.split(" ").toSeq match {
        case Seq("graft-watermark/1", `v`, "none") => Some(None)
        case Seq("graft-watermark/1", `v`, c, u) => Some(Some(Marks(ts(c), ts(u))))
        case _ => None
      }).toOption.flatten
    } yield marks
  }

  /** Replaces `table` with `delta` through one write that also observes
    * its maxima and row count (Catalyst's `CollectMetrics`: no extra job),
    * then stores the marks beside it. A write of 0 rows (the source lost
    * rows between probe and scan) keeps `before`, so the watermark does not
    * fall back to "none" and turn the next run into a full scan. The old
    * sidecar is dropped first, so a failed write leaves none. Returns the
    * rows written and the marks after, or `None` if the observation never
    * arrives; then no sidecar is stored and the next run recomputes the
    * marks. */
  private[etl] def land(store: TableStore, table: String, delta: DataFrame,
      before: Option[Marks]): Option[(Long, Option[Marks])] = {
    store.putWatermark(table, None)
    val observation = Observation()
    store.write(table, delta.observe(observation, maxima.head, maxima.tail :+ count(lit(1)): _*))
    Try(Await.result(observation.future, observationWait)).toOption.map { row =>
      val rows = row.getLong(2)
      val after = if (rows == 0) before else marks(row)
      store.version(table).foreach(v => store.putWatermark(table, Some(encode(v, after))))
      (rows, after)
    }
  }

  /** How long [[land]] waits for a successful write's observation, which
    * the listener bus delivers just after the write returns. */
  private val observationWait = 60.seconds
}

/** Runs one side-effecting action per table on a driver thread pool, so
  * the tables' single-task Spark jobs share the executors instead of
  * queueing behind each other (job submission is thread-safe on one
  * session; the callers never give two tables one write path). */
private[etl] object PerTable {

  /** `f` applied to every table. The pool is
    * `min(#tables, spark.sparkContext.defaultParallelism)` threads wide.
    * Returns only after every call has finished, with each call's result
    * in input order. Anything a call throws becomes its `Failure`,
    * fatal errors such as `ExceptionInInitializerError` included, so one
    * broken table can neither hang the round nor leave a sibling's write
    * running after the caller has seen the error. */
  def run[A, T](spark: SparkSession, tables: Seq[A])(f: A => T): Seq[Try[T]] =
    if (tables.isEmpty) Seq.empty
    else {
      val pool = Executors.newFixedThreadPool(
        math.min(tables.size, spark.sparkContext.defaultParallelism))
      try {
        val calls = tables.map(t => new Callable[T] { def call(): T = f(t) })
        pool.invokeAll(calls.asJava).asScala.toSeq.map { r =>
          try Success(r.get()) catch { case e: ExecutionException => Failure(e.getCause) }
        }
      } finally pool.shutdown()
    }
}

/** E1+E3 — per-table full-vs-incremental ingest (reference:
  * src/extract.py:202-238, :259-295).
  *
  * Per table: no landed table → full scan; else the watermark of the
  * landed table, and only rows with `created_at > c OR last_updated > u`
  * (strict `>`, pushed down to the source). Empty deltas are skipped, not
  * written as empty files (SURVEY.md §7.3-8). The landed object is
  * REPLACED by each non-empty delta, exactly like the reference's same-key
  * upload, so the watermark is always the latest delta's maxima.
  *
  * All per-table bookkeeping is answered on the driver where it can be:
  * - the watermark comes from the sidecar [[Watermark.land]] stored with
  *   the last delta ([[Watermark.stored]]); only where none is valid does
  *   [[Watermark.of]] aggregate the landed table, and then the result is
  *   stored for the next run;
  * - whether a delta exists comes from the source's own metadata
  *   ([[OltpSource.marks]]); only a source that cannot say is probed with
  *   `isEmpty`, which mirrors `len(results) > 0`
  *   (reference: src/extract.py:230-236);
  * - a delta lands through one write that observes its marks and rows.
  * So an unchanged table costs no Spark job when both answers are there,
  * and a changed one costs its write.
  */
final class IngestJob(source: OltpSource, landed: TableStore) {
  import IngestJob.Outcome

  private def ingestOne(table: String): Outcome = {
    val version = landed.version(table)
    val (before, marksFrom) =
      if (!landed.exists(table)) (None, "none")
      else Watermark.stored(landed, table, version) match {
        case Some(m) => (m, "sidecar")
        case None => (Watermark.of(landed.read(table, Watermark.schema)), "aggregate")
      }
    lazy val delta: DataFrame =
      before.fold(source.full(table))(m => source.incremental(table, m.created, m.updated))
    val probe = source.marks(table)
    val outcome = Outcome(table, marksFrom, if (probe.isDefined) "source" else "isEmpty", before)
    if (probe.fold(!delta.isEmpty)(_.hasDelta(before)))
      outcome.copy(changed = true, observed = Watermark.land(landed, table, delta, before))
    else {
      // version was read before the aggregate, so a table changed since
      // stores marks that no later run accepts
      if (marksFrom == "aggregate")
        version.foreach(v => landed.putWatermark(table, Some(Watermark.encode(v, before))))
      outcome
    }
  }

  /** Runs one ingest round; returns the tables that produced a delta, in
    * `listTables()` order, and logs the round's report
    * ([[IngestJob.report]]) as one JSON line at INFO.
    *
    * Each table is independent (its own watermark read, delta scan, and
    * write target), so the per-table pipelines run concurrently through
    * [[PerTable]]; Spark's scheduler interleaves their jobs across
    * executors.
    *
    * Failure semantics: every submitted table runs to completion (or
    * failure) BEFORE run() returns or throws — a fail-fast await would
    * leave sibling writes running in the background while the caller
    * already handles the error, and an immediate retry would then race
    * a zombie write on the same landed path. On any failure the first
    * error (in table order) propagates AS THE CAUSE of a
    * [[IngestJob.PartialIngestException]] carrying the tables that DID
    * land (later-listed tables included) — so callers can reconcile
    * state instead of guessing which side-effects happened. */
  def run(): Seq[String] = {
    val tables = source.listTables()
    val results = PerTable.run(SparkSession.active, tables)(ingestOne)
    if (IngestJob.log.isInfoEnabled) IngestJob.log.info(IngestJob.report(tables.zip(results)))
    val changed = results.collect { case Success(o) if o.changed => o.table }
    results.collectFirst { case Failure(e) =>
      throw new IngestJob.PartialIngestException(changed, e)
    }
    changed
  }
}

object IngestJob {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[IngestJob])

  /** One table's round: where its marks came from (`sidecar`, `aggregate`
    * or `none` for a table not yet landed), how the delta was probed
    * (`source` or `isEmpty`), the marks before, whether a delta landed and,
    * if so, [[Watermark.land]]'s rows and marks after (`None` when its
    * observation never arrived). */
  private[etl] final case class Outcome(table: String, marksFrom: String, probe: String,
      before: Option[Watermark.Marks], changed: Boolean = false,
      observed: Option[(Long, Option[Watermark.Marks])] = None)

  /** The round as one JSON object: `{"extract": [...]}` with one entry per
    * table in table order, holding `table`, `changed`, `rows` landed,
    * `marks_before` and `marks_after` (`{"created_at", "last_updated"}` as
    * ISO-8601 UTC instants, or null for no marks), `marks_from` and
    * `probe`; a failed table holds `table` and `error` only. Every value
    * comes from the sidecar, the source probe or the write's observation,
    * so the report starts no Spark job. `rows` and `marks_after` are null
    * where a landed delta's observation never arrived. */
  private[etl] def report(results: Seq[(String, Try[Outcome])]): String = {
    def marks(m: Option[Watermark.Marks]): AnyRef = m.map { m =>
      def iso(t: Timestamp): AnyRef = Option(t).map(_.toInstant.toString).orNull
      Map("created_at" -> iso(m.created), "last_updated" -> iso(m.updated)).asJava
    }.orNull
    val entries = results.map {
      case (t, Failure(e)) => ListMap("table" -> t, "error" -> String.valueOf(e.getMessage))
      case (_, Success(o)) =>
        val (rows, after) =
          if (!o.changed) (Long.box(0L), marks(o.before))
          else o.observed.fold[(AnyRef, AnyRef)]((null, null)) {
            case (n, m) => (Long.box(n), marks(m))
          }
        ListMap("table" -> o.table, "changed" -> Boolean.box(o.changed), "rows" -> rows,
          "marks_before" -> marks(o.before), "marks_after" -> after,
          "marks_from" -> o.marksFrom, "probe" -> o.probe)
    }
    json.writeValueAsString(Map("extract" -> entries.map(_.asJava).asJava).asJava)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** An ingest round failed for at least one table AFTER sibling tables
    * already landed their deltas (await-all semantics). `landed` lists
    * the tables whose writes completed, in table order; the first
    * per-table error (in table order) is the cause. */
  final class PartialIngestException(val landed: Seq[String], cause: Throwable)
      extends RuntimeException(
        s"ingest failed after ${landed.size} table(s) landed " +
          s"[${landed.mkString(", ")}]: ${cause.getMessage}", cause)
}

/** Transform stage (reference: src/transform.py:256-308): read the landed
  * tables, build 8 dims + 3 facts as independent lazy plans, write each to
  * the processed store. Each source table is read once; address feeds both
  * dim_location and dim_counterparty from the same read.
  *
  * Rebuild rule: each output declares the landed tables it reads. An
  * output is rewritten unless the stamp stored beside it matches
  * - the content versions of its inputs ([[TableStore.version]], read
  *   before any frame is built, so a table re-landed during the run reads
  *   as changed next time, never as unchanged),
  * - its own current version (an append or a foreign overwrite rebuilds
  *   it), and
  * - the builder's identity: a hash of the output schema and canonical
  *   analyzed plan, which covers literals such as the dim_date range.
  * A store that reports no version ("unknown") rebuilds every time. The
  * stamp is dropped before a rewrite and stored only after the write
  * succeeds, so a failed write leaves no stamp.
  *
  * The writes run concurrently through [[PerTable]]. Like
  * [[IngestJob.run]], run() waits for every output to finish before it
  * throws the first failing output's error (in declared order), so no
  * write is still running when the caller sees it. */
final class TransformJob(landed: TableStore, processed: TableStore) {
  import TransformJob.Output

  /** dim_date generation range hardcoded by the reference's transform()
    * (src/transform.py:276). */
  val dimDateStart = "2022-01-01"
  val dimDateEnd = "2024-01-01"

  private def outputs(spark: SparkSession): Seq[Output] = Seq(
    Output("dim_date", Nil, _ => DimBuilders.dimDate(spark, dimDateStart, dimDateEnd)),
    Output("dim_location", Seq("address"), { case Seq(a) => DimBuilders.dimLocation(a) }),
    Output("dim_design", Seq("design"), { case Seq(d) => DimBuilders.dimDesign(d) }),
    Output("dim_currency", Seq("currency"), { case Seq(c) => DimBuilders.dimCurrency(c) }),
    Output("dim_counterparty", Seq("address", "counterparty"),
      { case Seq(a, c) => DimBuilders.dimCounterparty(a, c) }),
    Output("dim_staff", Seq("staff", "department"),
      { case Seq(s, d) => DimBuilders.dimStaff(s, d) }),
    Output("dim_transaction", Seq("transaction"),
      { case Seq(t) => DimBuilders.dimTransaction(t) }),
    Output("dim_payment_type", Seq("payment_type"),
      { case Seq(p) => DimBuilders.dimPaymentType(p) }),
    Output("fact_sales_order", Seq("sales_order"),
      { case Seq(s) => FactBuilders.factSalesOrder(s) }),
    Output("fact_purchase_order", Seq("purchase_order"),
      { case Seq(p) => FactBuilders.factPurchaseOrder(p) }),
    Output("fact_payment", Seq("payment"), { case Seq(p) => FactBuilders.factPayment(p) }))

  /** Schema plus canonical analyzed plan: equal for equal builders over
    * equally-shaped inputs, across runs (expression ids are normalised). */
  private def builderId(df: DataFrame): String =
    TableStore.sha256(df.schema.json + "\n" + df.queryExecution.analyzed.canonicalized
      .treeString(verbose = true, maxFields = Int.MaxValue))

  /** Returns the 11 output names in declared order, rebuilt or not. */
  def run(spark: SparkSession): Seq[String] = {
    val outs = outputs(spark)
    val tables = outs.flatMap(_.inputs).distinct
    val versions = tables.map(t => t -> landed.version(t)).toMap
    val frames = tables.map(t => t -> landed.read(t, Schemas.sourceTables(t))).toMap
    val built = outs.map(o => o -> o.build(o.inputs.map(frames)))

    PerTable.run(spark, built) { case (o, df) =>
      // None when any input's version is unknown: always rebuild
      val key = Option.when(o.inputs.forall(versions(_).isDefined)) {
        (builderId(df) +: o.inputs.map(t => s"$t ${versions(t).get}")).mkString("\n")
      }
      def stampFor(k: String, outVersion: String) = s"$k\n${o.name} $outVersion"
      val current = for (k <- key; v <- processed.version(o.name)) yield stampFor(k, v)
      if (current.isEmpty || processed.stamp(o.name) != current) {
        processed.putStamp(o.name, None)
        processed.write(o.name, df)
        for (k <- key; v <- processed.version(o.name))
          processed.putStamp(o.name, Some(stampFor(k, v)))
      }
      o.name
    }.map(_.get)
  }
}

object TransformJob {
  /** One output: the landed tables it reads, and its builder over their
    * frames in that order. */
  private final case class Output(name: String, inputs: Seq[String],
      build: Seq[DataFrame] => DataFrame)
}

/** Load stage L1–L3 (reference: src/load.py:51-152): read every table in
  * the processed store once (the reference accidentally scans the bucket
  * twice — src/load.py:83 + :130 — not replicated, SURVEY.md §2.4) and
  * append it to the warehouse. Append-only: re-loads accumulate version
  * rows rather than updating (SCD-2-lite, verified by the reference's
  * end-to-end test). */
final class LoadJob(processed: TableStore, warehouse: TableStore) {

  def run(): Seq[String] =
    processed.list().map { table =>
      warehouse.append(table, processed.read(table))
      table
    }
}

/** JDBC warehouse sink variant of the load stage for production parity
  * with the reference's `to_sql(..., chunksize=1000)` (src/load.py:102-110).
  * Each partition of the frame is one writer task with batched inserts,
  * and `numWriters` caps the partitions, so the connections. Frames are
  * conformed to the declared warehouse StructType first
  * ([[Schemas.conformToWarehouse]]) — the explicit form of the string→date
  * cast the reference delegates to the DB (`agreed_*_date`/`payment_date`;
  * SURVEY.md §1.2), so the warehouse columns land typed even when the DB
  * table is auto-created by the write.
  *
  * Measured on the `etl_ticks` processed tables (in-memory Derby), for the
  * next change to this path:
  *  - every processed table reads as one partition, so the cap is only a
  *    cap and each table loads on one writer;
  *  - spreading the 100k-row `fact_sales_order` over 4 writers was slower,
  *    ~1.8–2.0 s against ~1.2–1.6 s on one writer;
  *  - plain JDBC without Spark (prepared-statement batches of 1000) takes
  *    ~1.3 s for that table: Derby's per-row floor is ~13 µs;
  *  - multi-row `VALUES` inserts (10–200 rows per statement) did not help,
  *    and neither did declaring string columns `VARCHAR` instead of
  *    Derby's `CLOB`;
  *  - each `append` pays a fixed cost: one small-dim append takes a median
  *    84.6 ms, of which `processed.read` 10.3 ms, conform and plan ~5 ms,
  *    and `JdbcUtils.saveTable` 64.5 ms. Over 300 small appends under JFR,
  *    the closure cleaner took 24 % of samples and the analyzer 23 %: the
  *    cleaner runs 4 times per append and re-parses the bytecode of
  *    `Dataset`, `RDD` and `JdbcUtils$` each time;
  *  - a prototype writer that runs `runJob` over `queryExecution.toRdd`
  *    with a plain-class partition function calling
  *    `JdbcUtils.savePartition` saved ~20 ms per small append and
  *    300–400 ms per full 11-table pass, with the same row counts and
  *    column types. An earlier probe of a thin `JdbcUtils` writer read
  *    only ~5–18 ms per append and judged a second write path not worth
  *    it; the fixed cost above says the per-append overhead, not Derby's
  *    per-row floor, is what a writer can still win on small tables.
  * These numbers were measured in probes outside this code, before the
  * change that recorded them, and have not been re-measured. */
final class JdbcWarehouseSink(url: String, props: java.util.Properties,
    batchSize: Int = 1000, numWriters: Int = 8) {

  /** The frame actually handed to the JDBC writer: conformed to the
    * warehouse schema and CAPPED at `numWriters` partitions. Writer
    * parallelism must be pinned, not inherited — an upstream frame
    * arriving with thousands of partitions would open thousands of
    * concurrent connections against the warehouse (the classic JDBC-sink
    * scale failure); `coalesce` (no shuffle) bounds the connection count
    * while keeping up-to-`numWriters`-way parallel batched inserts, and
    * is a no-op on frames already at or under the cap — no conditional
    * needed, so no `.rdd` materialization just to read a partition
    * count. Exposed for the spec that asserts the cap. */
  private[etl] def writerFrame(table: String, df: DataFrame): DataFrame =
    Schemas.conformToWarehouse(table, df).coalesce(numWriters)

  def append(table: String, df: DataFrame): Unit =
    writerFrame(table, df).write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .option("batchsize", batchSize)
      .jdbc(url, table, props)

  /** [EXT] Key-matched upsert — the mode the reference lacks: its loader
    * is append-only and re-running a load duplicates every dimension row
    * (reference src/load.py:102-110, asserted by its own
    * test_end_to_end.py:77-113; [[append]] keeps that behavior as the
    * parity default). `upsert` makes re-loads idempotent: rows whose
    * `keys` already exist are replaced, new rows are inserted.
    *
    * Dataflow (dialect-portable — no MERGE, nothing DB-specific beyond
    * correlated EXISTS): the batch lands in a staging table via the same
    * parallel batched-insert path as [[append]] (executors do the data
    * movement), then ONE set-based transaction on the warehouse —
    * `DELETE … WHERE EXISTS (match on keys)` + `INSERT … SELECT` — swaps
    * the matched rows (rolled back if either statement fails), and the
    * stage is dropped whether the transaction committed or rolled back.
    * The driver never iterates rows: the DB performs the match as a
    * join, so warehouse-side cost scales with the DB's join, not with a
    * row-at-a-time driver loop. Batches must be
    * key-unique (dims are; a duplicate-key batch would insert both
    * copies, same as any SQL MERGE source). */
  def upsert(table: String, df: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, s"upsert into $table needs at least one key column")
    // table names pass through the writer verbatim, so the stage is
    // created under its quoted name to match the statements
    val stage = q(s"${table}_stage")
    val frame = writerFrame(table, df)
    frame.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("batchsize", batchSize)
      .jdbc(url, stage, props)
    val cols = frame.schema.fieldNames.map(q).mkString(", ")
    val matched = s"EXISTS (SELECT 1 FROM $stage s WHERE " +
      keys.map(k => s"s.${q(k)} = ${q(table)}.${q(k)}").mkString(" AND ") + ")"
    JdbcSource.withConnection(url, props, table) { conn =>
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      // the statement that failed is the error the caller sees; a rollback
      // or stage drop that fails after it (a broken connection) is attached
      var failure: Throwable = null
      try {
        st.executeUpdate(s"DELETE FROM ${q(table)} WHERE $matched")
        st.executeUpdate(s"INSERT INTO ${q(table)} ($cols) SELECT $cols FROM $stage")
        conn.commit()
      } catch {
        case e: Throwable =>
          failure = e
          try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
          throw e
      } finally {
        // committed or rolled back, the stage goes
        try { st.executeUpdate(s"DROP TABLE $stage"); conn.commit() }
        catch { case d: Throwable if failure != null => failure.addSuppressed(d) }
        finally st.close()
      }
    }
  }

  /** Quotes an identifier the way Spark's JDBC writer quotes COLUMN names
    * it creates (case-preserved; also covers "unit price"). */
  private def q(id: String) = "\"" + id + "\""

  /** [[upsert]] with the star schema's declared natural keys
    * ([[Schemas.warehouseKeys]]); unknown tables refuse loudly rather
    * than guessing a key. */
  def upsert(table: String, df: DataFrame): Unit =
    upsert(table, df, Schemas.warehouseKeys.getOrElse(table,
      throw new IllegalArgumentException(
        s"no declared natural key for $table — pass keys explicitly")))
}

/** The three stages chained over shared storage — the reference runs them
  * as independent Lambdas on EventBridge timers with S3 as the only
  * coupling (SURVEY.md §3); here they compose directly or run individually
  * for micro-batch scheduling. */
final class Pipeline(
    source: OltpSource,
    ingested: TableStore,
    processed: TableStore,
    warehouse: TableStore) {

  def warehouseStore: TableStore = warehouse

  def runExtract(): Seq[String] = new IngestJob(source, ingested).run()
  def runTransform(spark: SparkSession): Seq[String] =
    new TransformJob(ingested, processed).run(spark)
  def runLoad(): Seq[String] = new LoadJob(processed, warehouse).run()

  def runAll(spark: SparkSession): (Seq[String], Seq[String], Seq[String]) =
    (runExtract(), runTransform(spark), runLoad())
}
