package graft.sources.v2

import java.util
import org.apache.spark.sql.{Column, DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `format("graft")` — the DSv2 face of graft's MAINTAINED targets:
  * plain `spark.read`, SQL (`CREATE TABLE t USING graft OPTIONS
  * (path '…')`), and EXTERNAL Spark sessions (any session with graft
  * on the classpath) open a merge-on-read table or a partials-layout
  * agg snapshot with the SAME versioned resolution the Scala API
  * serves — the difference between an engine feature and a library
  * convention. The target self-describes through its on-disk marker
  * ([[graft.streaming.Streams.mergeLayoutOf]] `_merge` → latest-wins
  * row resolution; [[graft.streaming.Streams.aggLayoutOf]] `_layout`
  * → partials fold), so the reader needs no configuration beyond the
  * path.
  *
  * Options:
  *  - `path` (required): the maintained target directory
  *  - `asOf`: a retained committed version to time-travel to
  *    (default: latest; refuses loudly for uncommitted/expired
  *    versions — [[graft.streaming.Streams.snapshotAsOf]]'s window
  *    contract)
  *  - `changelog` (merge tables only): read the ±op CHANGE FEED
  *    ([[graft.streaming.Streams.changelogOf]]) instead of the
  *    resolved table — SQL consumers can maintain downstream state
  *    off the feed's telescoping retraction algebra; `sinceVersion`
  *    cuts a re-consumed prefix
  *
  * The read is a DERIVED PLAN (latest-wins window / fold over the
  * resolved layers), not a file scan — so the scan implements
  * [[V1Scan]]: the planner sees one leaf and the resolution executes
  * as the full distributed plan beneath it (nothing is materialized
  * driver-side). Pushdown still reaches the parquet layers:
  * KEY-column-only predicates are routed through the commuting
  * point-read shapes ([[graft.streaming.Streams.latestTableWhere]] /
  * `latestSnapshotWhere` — filter whole key groups BEFORE resolution,
  * reading only the merge table's key buckets the predicate selects,
  * or the partials' key-range-clustered generation's row groups),
  * and column pruning projects the resolved frame. Every pushed
  * filter is also re-applied above the scan (returned as post-scan),
  * so acceptance is never a correctness bet.
  *
  * FRESHNESS CONTRACT of a long-lived handle (a `USING graft` view, a
  * kept `spark.read` DataFrame): each planning serves ONE pinned
  * committed version (no torn reads), and the pin advances at the
  * next planning after a commit from THIS session — commits from a
  * FOREIGN process are deliberately NOT observed by an existing
  * handle (repeatable read per handle, matching the Scala API's eager
  * layer-listing pin). To see foreign commits, open a fresh
  * `spark.read.format("graft").load(path)` (a new handle re-resolves
  * the marker and pins the then-latest version); `asOf` always wins
  * and never re-pins. Spec-pinned in DataSourceV2Spec, so a change
  * here is a deliberate one. */
class GraftDataSource extends TableProvider with DataSourceRegister {
  // inferSchema already resolved the marker for these options — hand
  // the ref to getTable instead of repeating the filesystem
  // round-trips (marker reads are several network calls per planning
  // on object stores)
  @volatile private var cached: Option[GraftDataSource.TargetRef] = None
  override def shortName(): String = "graft"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ref = GraftDataSource.refOf(SparkSession.active, options)
    cached = Some(ref)
    GraftDataSource.resolve(SparkSession.active, ref, None,
      forSchema = true).schema
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // validity covers EVERY option that shapes the ref — a cached ref
    // reused under a different sinceVersion/maxVersionsPerTrigger would
    // silently ignore the caller's feed cut / pacing
    val ref = cached
      .filter(r => Option(opts.get("path")).contains(r.path) &&
        Option(opts.get("asOf")).map(_.toLong) == r.asOf &&
        opts.getBoolean("changelog", false) == r.changelog &&
        Option(opts.get("sinceVersion")).map(_.toLong)
          .getOrElse(-1L) == r.sinceVersion &&
        Option(opts.get("maxVersionsPerTrigger")).map(_.toLong)
          .getOrElse(0L) == r.maxVersionsPerTrigger)
      .getOrElse(GraftDataSource.refOf(SparkSession.active, opts))
    new GraftTable(ref, schema)
  }
}

object GraftDataSource {
  /** What the marker said the target is, resolved once per read.
    * `pinned` is the committed version resolved at ref/planning time:
    * every scan build of this ref serves it, so a sink commit between
    * planning and execution — or between two scans of the SAME table
    * in one query (self-join, union) — can never shift the read
    * mid-query (a torn read). The Scala API pins the same way
    * (latestTable resolves its layer listing eagerly); `asOf` remains
    * the user's explicit request and always wins. `pinnedEpoch` is the
    * session-local commit epoch the pin was taken at
    * ([[graft.streaming.Streams.commitEpochOf]]): a long-lived table
    * handle (a SQL view) RE-PINS at the next planning after a local
    * commit, so views over live tables serve fresh versions while a
    * plan in flight never shifts. */
  final case class TargetRef(path: String, asOf: Option[Long],
                             keys: Seq[String], kind: String,
                             changelog: Boolean = false,
                             sinceVersion: Long = -1L,
                             pinned: Option[Long] = None,
                             pinnedEpoch: Long = 0L,
                             maxVersionsPerTrigger: Long = 0L) {
    /** The version every resolve of this ref serves. None only before
      * the first commit (resolve then refuses, as an unpinned read
      * would). */
    def effectiveAsOf: Option[Long] = asOf.orElse(pinned)
  }

  private[v2] def refOf(spark: SparkSession,
                        options: CaseInsensitiveStringMap): TargetRef = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft source: the 'path' option is required — " +
          "spark.read.format(\"graft\").load(<target dir>)"))
    val asOf = Option(options.get("asOf")).map(_.toLong)
    val changelog = options.getBoolean("changelog", false)
    val since = Option(options.get("sinceVersion")).map(_.toLong)
      .getOrElse(-1L)
    require(since == -1L || changelog,
      "graft source: sinceVersion is a CHANGE-FEED cut — it requires " +
        "changelog=true (silently serving the whole resolved state to an " +
        "incremental consumer would double-apply every row)")
    val maxVersions = Option(options.get("maxVersionsPerTrigger"))
      .map(_.toLong).getOrElse(0L)
    require(maxVersions == 0L || changelog,
      "graft source: maxVersionsPerTrigger paces the STREAMING change " +
        "feed — it requires changelog=true")
    require(maxVersions >= 0L,
      "graft source: maxVersionsPerTrigger must be positive (0 = all " +
        "available per trigger)")
    // pin the committed version ONCE, at ref (planning) time: None only
    // before the first commit, where resolve refuses anyway — a commit
    // racing the very first read can at worst make it succeed
    val epoch = graft.streaming.Streams.commitEpochOf(spark, path)
    def pin: Option[Long] = asOf.orElse(graft.streaming.Streams
      .snapshotVersionsOf(spark, path).lastOption)
    graft.streaming.Streams.mergeLayoutOf(spark, path) match {
      case Some(l) =>
        TargetRef(path, asOf, l.keys, "merge", changelog, since, pin, epoch,
          maxVersions)
      case None => graft.streaming.Streams.aggLayoutOf(spark, path) match {
        case Some(l) =>
          require(!changelog, "graft source: the changelog option serves " +
            "merge tables only — an agg snapshot's history IS its partials")
          TargetRef(path, asOf, l.keys, "snapshot", pinned = pin,
            pinnedEpoch = epoch)
        case None => throw new IllegalArgumentException(
          s"graft source: $path carries no _merge or _layout marker — not " +
            "a maintained merge-table or agg-snapshot target (plain " +
            "parquet directories are format(\"parquet\")'s job)")
      }
    }
  }

  /** The ref a NEW planning should scan with: re-pin when a commit has
    * landed from this session since the pin was taken (epoch moved) —
    * otherwise keep the existing pin, so every scan builder of one
    * planning shares one version. Explicit asOf never re-pins. */
  private[v2] def repinned(spark: SparkSession,
                           ref: TargetRef): TargetRef = {
    if (ref.asOf.isDefined) return ref
    val epoch = graft.streaming.Streams.commitEpochOf(spark, ref.path)
    if (epoch == ref.pinnedEpoch && ref.pinned.isDefined) ref
    else ref.copy(
      pinned = graft.streaming.Streams
        .snapshotVersionsOf(spark, ref.path).lastOption,
      pinnedEpoch = epoch)
  }

  /** The resolved serving frame — pre-filtered through the commuting
    * key-pushdown shape when a key-only predicate was accepted.
    * `forSchema` = inference-only resolution: the changelog cut is
    * clamped to the retention floor, because a STREAM's sinceVersion is
    * only its initial offset — a resumed consumer whose CHECKPOINT
    * stands at or above the floor must not be refused at load() for a
    * stale option (the real guards sit where the served range is
    * known: changelogOf for batch scans, planInputPartitions for
    * stream triggers — the schema is the same either way). */
  private[v2] def resolve(spark: SparkSession, ref: TargetRef,
                          pred: Option[Column],
                          forSchema: Boolean = false): DataFrame = {
    def noVersion = throw new IllegalStateException(
      s"graft source: no committed version under ${ref.path} yet")
    // the ref's pin, not a fresh "latest": every scan build of one read
    // — and both scans of a self-join — serves the version resolved at
    // planning time (explicit asOf always wins inside effectiveAsOf)
    val asOf = ref.effectiveAsOf
    if (ref.changelog) {
      // the feed is append-only HISTORY, not resolved state: any pushed
      // predicate is a plain row filter over it — exact by itself, no
      // commuting argument needed
      val since =
        if (forSchema) math.max(ref.sinceVersion,
          graft.streaming.Streams.changelogFloor(
            spark.sparkContext.hadoopConfiguration, ref.path))
        else ref.sinceVersion
      val feed = graft.streaming.Streams.changelogOf(spark, ref.path,
        since, asOf)
      return pred.map(feed.where).getOrElse(feed)
    }
    ref.kind match {
      case "merge" => pred match {
        case Some(p) => graft.streaming.Streams
          .latestTableWhere(spark, ref.path, p, asOf).getOrElse(noVersion)
        case None => graft.streaming.Streams
          .latestTable(spark, ref.path, asOf).getOrElse(noVersion)
      }
      case _ => pred match {
        case Some(p) => graft.streaming.Streams
          .latestSnapshotWhere(spark, ref.path, p, asOf)
          .getOrElse(noVersion)
        case None => asOf match {
          case Some(v) =>
            graft.streaming.Streams.snapshotAsOf(spark, ref.path, v)
          case None => graft.streaming.Streams
            .latestSnapshot(spark, ref.path).getOrElse(noVersion)
        }
      }
    }
  }

  /** V1-filter → Column for the shapes the key pushdown serves; None
    * for anything else (stays above the scan). */
  private[v2] def toColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.And(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case _ => None
  }
}

final class GraftTable(ref: GraftDataSource.TargetRef,
                       declaredSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft(${ref.kind}: ${ref.path})"
  override def schema(): StructType = declaredSchema
  // MICRO_BATCH_READ only on the change feed: a resolved table/snapshot
  // is STATE — Spark's missing-capability refusal is the right answer
  // for readStream on those (re-deriving deltas from state would be a
  // guess; the feed-emitting sink is where deltas come from).
  // Write capabilities are always advertised so the refusal for
  // snapshots/feeds comes from newWriteBuilder with an actionable
  // message — Spark's missing-capability fallback routes into a
  // misleading "does not allow create table as select" internal error.
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE)
    if (ref.changelog) caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }
  // the live ref this table's NEXT planning scans with: re-pinned when
  // a local commit moved the epoch (a SQL view over a live table must
  // not freeze at creation), stable otherwise (all scan builders of one
  // planning share one pin — no torn reads)
  @volatile private var live: GraftDataSource.TargetRef = ref
  // the pin MEMOIZED per query execution: Spark sets the execution-id
  // local property before the plan is forced, so every scan builder one
  // planning creates (self-join, union over one handle) sees the same
  // id — without this, a same-JVM commit landing between two builder
  // creations of ONE planning would re-pin mid-plan and split the query
  // across two versions, the torn read the pin contract excludes.
  // Plannings with no execution id (explain, direct queryExecution
  // access) fall back to repin-per-builder — freshness kept, memo lost.
  private val pinByExec =
    new java.util.LinkedHashMap[String, GraftDataSource.TargetRef](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, GraftDataSource.TargetRef])
          : Boolean = size > 8
    }
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val execId = spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)
    val pinned = synchronized {
      if (execId != null && pinByExec.containsKey(execId))
        pinByExec.get(execId)
      else {
        live = GraftDataSource.repinned(spark, live)
        if (execId != null) pinByExec.put(execId, live)
        live
      }
    }
    new GraftScanBuilder(spark, pinned, declaredSchema)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(ref.kind == "merge",
      "graft source: only merge-on-read TABLES are writable — an agg " +
        "snapshot is derived state (write to the stream its sink " +
        "maintains it from)")
    require(!ref.changelog,
      "graft source: the change feed is DERIVED from table writes — " +
        "write the table (drop the changelog option) and the feed " +
        "follows")
    require(ref.asOf.isEmpty,
      "graft source: asOf pins a historical read — writes go to the head")
    new GraftWriteBuilder(ref, info)
  }
}

/** The write face: one V1 batch write = ONE merge-table version
  * ([[graft.streaming.Streams.mergeTableInsert]]'s contract — upsert
  * by key, constant intra-batch seq, in-batch duplicate keys refused;
  * `option("delete", true)` tombstones the rows' keys; an existing
  * `changelog/` history keeps emitting ±ops). SQL `INSERT INTO` a
  * `USING graft` view and `df.write.format("graft").mode("append")`
  * both land here. */
final class GraftWriteBuilder(ref: GraftDataSource.TargetRef,
                              info: LogicalWriteInfo)
    extends WriteBuilder {
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          require(!overwrite,
            "graft source: overwrite would silently drop the table's " +
              "committed history — the write face is append/upsert only " +
              "(tombstone keys with option(\"delete\", true); rebuild a " +
              "table with a fresh target)")
          graft.streaming.Streams.mergeTableInsert(
            SparkSession.active, ref.path, data,
            delete = info.options.getBoolean("delete", false))
        }
      }
  }
}

final class GraftScanBuilder(spark: SparkSession,
                             ref: GraftDataSource.TargetRef,
                             fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  private var pushed: Array[sources.Filter] = Array.empty

  override def pushFilters(filters: Array[sources.Filter])
      : Array[sources.Filter] = {
    // accept only key-column-only, shape-convertible filters: those
    // commute with resolution (latestTableWhere's argument), so
    // applying them BEFORE the fold prunes layers without changing the
    // answer. Everything is returned as post-scan regardless — Spark
    // re-applies, so acceptance only ever REMOVES read I/O.
    pushed = filters.filter(f =>
      f.references.nonEmpty && f.references.forall(ref.keys.contains) &&
        GraftDataSource.toColumn(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // an empty projection (COUNT(*)) keeps one key column: the V1
    // bridge still needs row objects to count
    required =
      if (requiredSchema.fields.nonEmpty) requiredSchema
      else StructType(fullSchema.fields.filter(f => ref.keys.contains(f.name))
        .take(1))

  override def build(): Scan = {
    val pred = pushed.flatMap(GraftDataSource.toColumn(_))
      .reduceOption(_ && _)
    // LAZY: the streaming face must not resolve the batch frame — a
    // stream outlives the version a batch read would pin, and a feed
    // read at stream start may legitimately still be empty
    def frame = GraftDataSource.resolve(spark, ref, pred)
      .select(required.fieldNames.toIndexedSeq.map(col): _*)
    new GraftScan(() => frame, required, ref, spark, pushed)
  }
}

/** The derived-plan scan: V1Scan hands Spark a BaseRelation whose
  * buildScan IS the resolved DataFrame's RDD — one leaf above, the
  * full distributed resolution below, nothing driver-side. The SAME
  * scan carries the streaming face ([[GraftChangelogStream]]) when the
  * ref is a change feed — readStream plans version-offset microbatches
  * off it instead of the resolved frame. */
final class GraftScan(frame: () => DataFrame, outSchema: StructType,
                      val ref: GraftDataSource.TargetRef,
                      spark: SparkSession,
                      val acceptedFilters: Array[sources.Filter] = Array.empty)
    extends V1Scan {
  override def readSchema(): StructType = outSchema
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val resolved = frame()
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = outSchema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        resolved.rdd
    }.asInstanceOf[T]
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftChangelogStream(ref, outSchema,
      spark.sessionState.newHadoopConf())
}
