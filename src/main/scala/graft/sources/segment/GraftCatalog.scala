package graft.sources.segment

import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark catalog plugin for graft-segment tables — the CATALOG rung
  * of the connector: named tables under a warehouse directory with SQL
  * DDL/DML surface (`CREATE TABLE graft.db.t ... PARTITIONED BY
  * (bucket(8, k))`, `INSERT INTO`, `SELECT`), plus the piece that
  * path-based loads cannot provide: a [[FunctionCatalog]] serving the
  * `bucket` function, which is what lets Spark RESOLVE a scan's
  * reported `KeyGroupedPartitioning(bucket(n, k))` and plan
  * storage-partitioned joins/aggregations over co-bucketed tables with
  * NO exchange.
  *
  * The bucket function is Spark's own shuffle hash —
  * `pmod(murmur3(key, seed=42), n)` — because that is exactly how the
  * write side placed rows (a hash-clustered write's bucket id IS the
  * shuffle partition index under `Distributions.clustered`). One
  * definition of bucket placement, shared by writer, manifest, scan
  * report, and (under `v2.bucketing.shuffle.enabled`) the shuffle
  * Spark may plan for the un-bucketed side of a join.
  *
  * Config:
  * {{{
  * spark.sql.catalog.graft = graft.sources.segment.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  * Identifier `graft.db.t` maps to `<warehouse>/db/t`. For a catalog
  * that lives only for one block, use [[GraftCatalog.withCatalog]].
  *
  * 100 TB note: the catalog is metadata-only (directory resolution +
  * manifest reads); nothing here scales with data volume.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with StagingTableCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  override def name(): String = catalogName

  // opt IN to column DEFAULT values: Spark's analyzer then accepts
  // `DEFAULT v` in CREATE/ADD COLUMN DDL (encoding the CURRENT/EXISTS
  // metadata pair into the schema we persist) and substitutes
  // CURRENT_DEFAULT into INSERTs that omit the column; the read-side
  // EXISTS_DEFAULT fill is ours ([[SegmentDefaults]])
  // ... and to GENERATED columns: the analyzer accepts
  // `GENERATED ALWAYS AS (expr)` in CREATE DDL and validates the
  // expression's shape; the catalog persists it as a `gen.<col>`
  // property and the write chokepoint computes/validates it
  // ([[SegmentGenerated]])
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  private def tablePath(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$warehouse/", "/", "")

  private def fs = SegmentLog.fs(warehouse,
    SparkSession.active.sessionState.newHadoopConf())

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace).mkString("/"))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory)
      .filter(st => fs.exists(new Path(st.getPath, SegmentLog.LogDir)))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    val m = SegmentLog.read(fs, path).getOrElse(throw new NoSuchTableException(ident))
    new GraftSegmentTable(path, m.schema, m.bucketing)
  }

  /** SQL time travel: `SELECT ... FROM graft.db.t VERSION AS OF 3` —
    * the catalog face of the `versionAsOf` read option (old data under
    * the CURRENT logical schema; the one time-travel implementation).
    * The pinned table is read-only. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    val m = SegmentLog.read(fs, path).getOrElse(throw new NoSuchTableException(ident))
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-segment versions are manifest numbers, got '$version'")
      }
    new GraftSegmentTable(path, m.schema, m.bucketing, pinnedVersion = Some(v))
  }

  /** SQL time travel by wall-clock: `TIMESTAMP AS OF t` binds to the
    * newest retained version whose commit timestamp is ≤ t
    * ([[SegmentLog.versionAtTimestamp]] — manifests are stamped with a
    * monotonized commit wall-clock), then routes through the ONE
    * time-travel implementation (the pinned-version table). Spark
    * passes the timestamp in MICROseconds. Pre-timestamp manifests
    * refuse with the VERSION AS OF fallback; the deterministic
    * introspection surface (history/detail) still exposes no
    * wall-clock column. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = tablePath(ident)
    val m = SegmentLog.read(fs, path).getOrElse(throw new NoSuchTableException(ident))
    val v = SegmentLog.versionAtTimestamp(fs, path, Math.floorDiv(timestamp, 1000L))
    new GraftSegmentTable(path, m.schema, m.bucketing, pinnedVersion = Some(v))
  }

  override def tableExists(ident: Identifier): Boolean =
    SegmentLog.read(fs, tablePath(ident)).isDefined

  /** Parse + validate a CREATE's declared layout and persisted
    * properties — shared by [[createTable]] and the atomic staging
    * faces ([[stageCreate]]/[[stageReplace]]). */
  private def parseCreation(schema0: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): (StructType, Option[BucketSpec], Map[String, String]) = {
    SegmentCodec.validateSchema(schema0)
    // GENERATED columns: collect declarations from the DDL metadata
    // (`GENERATED ALWAYS AS`) and any explicit `gen.<col>` properties,
    // validate them, and inject CURRENT_DEFAULT = NULL into each
    // generated field so the analyzer lets INSERTs omit the column
    // (the writer computes on NULL — [[SegmentGenerated]])
    val genFromDdl = schema0.fields.flatMap(f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map(f.name -> _)).toMap
    val genFromProps = properties.asScala.toMap
      .filter { case (k, _) => k.startsWith(SegmentGenerated.Prefix) }
      .map { case (k, v) => k.substring(SegmentGenerated.Prefix.length) -> v }
    genFromDdl.keySet.intersect(genFromProps.keySet).foreach(c => require(
      genFromDdl(c) == genFromProps(c),
      s"column $c declared GENERATED ALWAYS AS (${genFromDdl(c)}) and " +
        s"gen.$c = '${genFromProps(c)}' — declare it once"))
    val gens = genFromDdl ++ genFromProps
    // the forbidden-reference set is ALL generated columns including
    // the declaring one: a self-reference (gen.c = 'c') would compile
    // to an always-true validation and a store-NULL fill
    gens.foreach { case (c, sql) =>
      SegmentGenerated.requireAnalyzable(SparkSession.active, schema0,
        c, sql, gens.keySet) }
    // the persisted schema carries ONLY the default (the omission
    // face); the generation expression lives in the gen.<col> property
    // — Spark refuses a column carrying both metadata keys
    // (GENERATED_COLUMN_WITH_DEFAULT_VALUE), and the property is the
    // writer's authority anyway
    val genKey = org.apache.spark.sql.catalyst.util.GeneratedColumn
      .GENERATION_EXPRESSION_METADATA_KEY
    val schema = if (gens.isEmpty) schema0 else StructType(schema0.fields.map { f =>
      if (!gens.contains(f.name)) f
      else {
        // a user DEFAULT on a generated column would hijack the
        // omission face (the analyzer would substitute the default,
        // which then diverges from the expression on every insert) —
        // Spark refuses this for the DDL generation face; refuse it
        // for the gen.<col>-property face too
        require(!f.metadata.contains(SegmentDefaults.CurrentKey) &&
            !f.metadata.contains(SegmentDefaults.ExistsKey),
          s"column ${f.name} cannot carry both a DEFAULT and a " +
            "generation expression — the generated column's NULL " +
            "default is the compute trigger")
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(genKey)
          .putString(SegmentDefaults.CurrentKey, "NULL").build())
      }
    })
    SegmentDefaults.validate(schema)
    val bucketing = partitions.toSeq match {
      case Nil =>
        // range layout via TBLPROPERTIES('clusterBy'='k', 'numPartitions'='8'):
        // the zone-map-decidable complement of bucket(...) hash layout
        Option(properties.get("clusterBy")).map { cs =>
          val cols = cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          // validated HERE like every sibling property (the quantiles
          // doctrine: reject the REQUEST) — a persisted non-positive
          // count would otherwise surface only at the first INSERT's
          // repartition, far from the CREATE that caused it
          val n = Option(properties.get("numPartitions")).map { v =>
            val p = SegmentOpts.int("numPartitions", v)
            require(p > 0, s"numPartitions must be a positive integer, got '$v'")
            p
          }.getOrElse(8)
          BucketSpec(cols, n, "range")
        }
      case Seq(t) =>
        // accept exactly `bucket(n, cols...)`; other transforms have no
        // segment-layout meaning here
        val (n, cols) = parseBucket(t).getOrElse(throw new IllegalArgumentException(
          s"graft-segment supports PARTITIONED BY (bucket(n, col, ...)) only, got $t"))
        Some(BucketSpec(cols, n))
      case other => throw new IllegalArgumentException(
        s"graft-segment supports a single bucket(...) transform, got ${other.mkString(", ")}")
    }
    bucketing.foreach(b => b.cols.foreach(c =>
      require(schema.fieldNames.contains(c), s"bucket column $c not in schema")))
    // persisted table properties: declared bloom columns apply to
    // every future write without the writer re-stating them;
    // rowLevelMode picks the DML tier (cow | mor); check.<name> are
    // CHECK constraints enforced on every write (SegmentChecks)
    val declared = properties.asScala.toMap
      .filter { case (k, _) => GraftCatalog.settable(k) }
    declared.toSeq.sortBy(_._1).foreach { case (k, v) => GraftCatalog.validate(k, v, schema) }
    val props = declared ++
      gens.map { case (c, sql) => SegmentGenerated.Prefix + c -> sql }
    (schema, bucketing, props)
  }

  // the NON-deprecated v2-Column face: the stock Column[]→StructType
  // bridge DROPS generation expressions (they are a first-class Column
  // attribute), so convert through the shim that re-encodes them as
  // metadata before the shared StructType path
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    createTable(ident,
      org.apache.spark.sql.graftbridge.DefaultsBridge.structTypeWithGeneration(columns),
      partitions, properties)

  override def createTable(ident: Identifier, schema0: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val (schema, bucketing, props) = parseCreation(schema0, partitions, properties)
    val path = tablePath(ident)
    require(SegmentLog.read(fs, path).isEmpty,
      s"table $ident already exists at $path")
    SegmentLog.commit(fs, path,
      StructType(schema.fields.map(_.copy(nullable = true))),
      Nil, truncate = true, bucketing = bucketing, props = props)
    new GraftSegmentTable(path, schema, bucketing)
  }

  private def parseBucket(t: Transform): Option[(Int, Seq[String])] =
    if (t.name() != "bucket") None
    else {
      val args = t.arguments()
      val n = args.headOption.collect {
        case lit: org.apache.spark.sql.connector.expressions.Literal[_] =>
          lit.value().asInstanceOf[Number].intValue()
      }
      val cols = args.tail.toSeq.map {
        case ref: org.apache.spark.sql.connector.expressions.NamedReference =>
          ref.fieldNames().mkString(".")
        case other => return None
      }
      n.filter(_ > 0).map(v => (v, cols))
    }

  // ---- ATOMIC CTAS / RTAS (StagingTableCatalog): the versioned
  // manifest makes staging natural — the staged write lands segment
  // FILES only (invisible until referenced), and commitStagedChanges
  // is ONE manifest commit installing schema + layout + properties +
  // data together. REPLACE is therefore genuinely atomic: readers see
  // the old table until the single commit, and a crash mid-statement
  // leaves it untouched — no drop-then-recreate window. Properties
  // RESET on replace (a redefinition must not inherit the old
  // declaration's blooms or DML mode).

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, mode = "create")
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    if (SegmentLog.read(fs, tablePath(ident)).isEmpty)
      throw new NoSuchTableException(ident)
    staged(ident, info, mode = "replace")
  }
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    staged(ident, info, mode = "createOrReplace")

  private def staged(ident: Identifier, info: TableInfo, mode: String): StagedTable = {
    val (schema, bucketing, props) = parseCreation(
      org.apache.spark.sql.graftbridge.DefaultsBridge
        .structTypeWithGeneration(info.columns()),
      info.partitions(), info.properties())
    val path = tablePath(ident)
    if (mode == "create" && SegmentLog.read(fs, path).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    new GraftStagedTable(ident, path, schema, bucketing, props, mode)
  }

  /** Schema DDL — the whole statement is ONE metadata-only manifest
    * commit (column mapping: physical names frozen, no data rewrite):
    * `ALTER TABLE t RENAME COLUMN a TO b` / `DROP COLUMN a` /
    * `ADD COLUMN c TYPE` / `ALTER COLUMN c TYPE <wider>` (the lossless
    * widenings only — [[SegmentLog.widenTransform]]). Everything else
    * (lossy retypes, nested fields, unknown properties) is refused
    * loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = tablePath(ident)
    require(SegmentLog.read(fs, path).isDefined, s"no graft-segment table at $path")
    // fold the whole statement into ONE manifest commit: a failing
    // validation in any change aborts the statement with the table
    // untouched, never half-altered
    val transforms = changes.map {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1, "nested columns are not supported")
        SegmentLog.renameTransform(r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1, "nested columns are not supported")
        SegmentLog.dropTransform(d.fieldNames()(0))
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1, "nested columns are not supported")
        val bare = org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = true)
        // ADD COLUMN … DEFAULT v: encode Spark's CURRENT/EXISTS default
        // metadata pair — existing rows read the folded constant, no
        // segment is rewritten ([[SegmentDefaults]])
        SegmentLog.addTransform(Option(a.defaultValue())
          .map(d => SegmentDefaults.withDefault(bare, d)).getOrElse(bare))
      // ALTER COLUMN … SET DEFAULT v / DROP DEFAULT: CURRENT_DEFAULT
      // only — future inserts change, existing rows keep the add-time
      // EXISTS_DEFAULT (the SQL-standard split)
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames().length == 1, "nested columns are not supported")
        // SET DEFAULT on a GENERATED column would replace the injected
        // NULL default the omission face computes through — every
        // later short-column INSERT would substitute the new default
        // and fail the divergence check
        require(!SegmentLog.read(fs, path).exists(_.props.contains(
            SegmentGenerated.Prefix + ud.fieldNames()(0))),
          s"column ${ud.fieldNames()(0)} is GENERATED — its NULL default " +
            "is the compute trigger; SET/DROP DEFAULT is refused")
        SegmentDefaults.setCurrentTransform(ud.fieldNames()(0),
          Option(ud.newCurrentDefault()).flatMap(d => Option(d.getSql))
            .orElse(Option(ud.newDefaultValue()).filter(_.nonEmpty)))
      // ALTER COLUMN … TYPE: metadata-only type WIDENING (int->bigint,
      // float->double, array element forms) — old segments decode as
      // written and up-cast at read; anything lossy is refused inside
      // the transform with the rewrite recipe
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1, "nested columns are not supported")
        SegmentLog.widenTransform(u.fieldNames()(0), u.newDataType())
      // SET/UNSET TBLPROPERTIES: declare (or retire) bloom columns,
      // the DML tier, or a CHECK constraint on an existing table —
      // the validated keys only
      case sp: TableChange.SetProperty =>
        require(!sp.property().startsWith(SegmentGenerated.Prefix),
          s"generation expressions are fixed at CREATE TABLE — " +
            s"cannot SET ${sp.property()}; redefine the table (CREATE OR " +
            "REPLACE) to change how a column derives")
        require(GraftCatalog.settable(sp.property()),
          s"only ${(GraftCatalog.Settable :+ "check.<name>").mkString("/")} " +
            s"are settable, got ${sp.property()}")
        if (sp.property().startsWith(SegmentChecks.Prefix)) {
          // ADD CONSTRAINT: the expression must analyze (checked first,
          // so a malformed declaration gets the constraint error, not a
          // raw scan failure), then EXISTING rows must satisfy it (the
          // Delta contract) — both once here, outside the optimistic
          // commit loop
          val name = sp.property().substring(SegmentChecks.Prefix.length)
          GraftCatalog.validate(sp.property(), sp.value(),
            SegmentLog.read(fs, path).get.schema)
          SegmentChecks.requireClean(SparkSession.active, path, name, sp.value())
        }
        (m: Manifest) => {
          GraftCatalog.validate(sp.property(), sp.value(), m.schema)
          m.copy(props = m.props + (sp.property() -> sp.value()))
        }
      case rp: TableChange.RemoveProperty =>
        require(!rp.property().startsWith(SegmentGenerated.Prefix),
          s"generation expressions are fixed at CREATE TABLE — " +
            s"cannot UNSET ${rp.property()} (stored values would silently " +
            "stop tracking the expression)")
        (m: Manifest) => m.copy(props = m.props - rp.property())
      case other => throw new UnsupportedOperationException(
        s"graft-segment supports RENAME/DROP/ADD COLUMN, ALTER COLUMN " +
          s"TYPE (widening), ALTER COLUMN SET/DROP DEFAULT, and SET/UNSET " +
          s"TBLPROPERTIES(${(GraftCatalog.Settable :+ "check.<name>").mkString("|")}) " +
          s"only, got $other")
    }
    // every surviving CHECK constraint must still analyze against the
    // POST-statement schema: dropping or renaming a column a
    // constraint references is refused until the constraint is
    // dropped (in the same statement or before)
    val checkGuard = (m: Manifest) => {
      SegmentChecks.declared(m.props).foreach { case (n, sql) =>
        try SegmentChecks.requireAnalyzable(SparkSession.active, m.schema, n, sql)
        catch { case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"this ALTER would break CHECK constraint $n ($sql) — drop the " +
            s"constraint first (UNSET TBLPROPERTIES('check.$n')): ${e.getMessage}") }
      }
      m
    }
    // ... and every GENERATION expression: dropping/renaming the
    // generated column or one of its inputs, or widening a type out
    // from under the expression, is refused — the declaration is part
    // of the table's definition and cannot be silently orphaned
    val genGuard = (m: Manifest) => {
      val gens = SegmentGenerated.declared(m.props)
      gens.foreach { case (c, sql) =>
        try SegmentGenerated.requireAnalyzable(SparkSession.active, m.schema,
          c, sql, gens.map(_._1).toSet)
        catch { case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"this ALTER would break generated column $c ($sql) — redefine " +
            s"the table (CREATE OR REPLACE) instead: ${e.getMessage}") }
      }
      m
    }
    SegmentLog.alterSchema(fs, path, transforms :+ checkGuard :+ genGuard)
    // ADD CONSTRAINT's validation scan ran BEFORE the commit: a
    // concurrent writer (whose factory predates the constraint and so
    // never enforced it) can land violating rows in the window.
    // Re-validate now that the constraint is visible and SELF-REVOKE
    // on violation — the user gets a loud failure instead of a
    // constraint standing over data that violates it. Residual window:
    // a pre-constraint write factory committing AFTER this recheck;
    // without central transaction conflict detection that window is
    // irreducible, and rewrites of such rows fail loudly rather than
    // silently (the honest degradation).
    changes.foreach {
      case sp: TableChange.SetProperty
          if sp.property().startsWith(SegmentChecks.Prefix) =>
        val name = sp.property().substring(SegmentChecks.Prefix.length)
        try SegmentChecks.requireClean(SparkSession.active, path, name, sp.value())
        catch {
          case e: IllegalArgumentException =>
            SegmentLog.alterSchema(fs, path,
              Seq(m => m.copy(props = m.props - sp.property())))
            throw new IllegalArgumentException(
              s"a concurrent write landed rows violating CHECK constraint " +
                s"$name while it was being declared — the constraint was " +
                s"REVOKED, re-run the ALTER: ${e.getMessage}", e)
        }
      case _ =>
    }
    val m = SegmentLog.read(fs, path).get
    new GraftSegmentTable(path, m.schema, m.bucketing)
  }

  /** Maintenance as SQL stored procedures (Spark 4 CALL):
    * `CALL <cat>.system.compact/zorder/expire/vacuum/history(...)` —
    * see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(warehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      GraftProcedures.All.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(tablePath(ident))
    fs.exists(p) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(tablePath(oldIdent)); val to = new Path(tablePath(newIdent))
    if (!fs.exists(from)) throw new NoSuchTableException(oldIdent)
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  // ---- namespaces: directories under the warehouse

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(_.isDirectory).map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    val dir = new Path((warehouse +: namespace).mkString("/"))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    fs.mkdirs(new Path((warehouse +: namespace).mkString("/")))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace properties are not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = new Path((warehouse +: namespace).mkString("/"))
    fs.exists(dir) && fs.delete(dir, cascade)
  }

  // ---- functions: the bucket placement function

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new NoSuchFunctionException(ident)
}

object GraftCatalog {
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The table properties CREATE TABLE and SET TBLPROPERTIES accept,
    * besides `check.<name>` constraints. */
  private val Settable = Seq("bloomFor", "bloomBits", "rowLevelMode",
    "morRewriteThreshold", "compress", "autoCompactSegments", "autoCompactBytes",
    "ndvFor", "histFor")

  private def settable(key: String): Boolean =
    key.startsWith(SegmentChecks.Prefix) || Settable.contains(key)

  /** Rejects a [[settable]] property value that cannot mean anything
    * for a table of `schema`. */
  private def validate(key: String, value: String, schema: StructType): Unit = {
    def isInt(p: Int => Boolean) = scala.util.Try(value.toInt).toOption.exists(p)
    key match {
      case "bloomFor" => SegmentBloom.parseCols(value, Some(schema))
      case "ndvFor" => SegmentNdv.parseCols(value, Some(schema))
      case "histFor" => SegmentHistogram.parseCols(value, Some(schema))
      case "bloomBits" =>
        require(isInt(_ >= 64), s"bloomBits must be an integer >= 64, got '$value'")
      case "rowLevelMode" =>
        require(Set("cow", "mor").contains(value), s"rowLevelMode must be cow|mor, got '$value'")
      case "morRewriteThreshold" =>
        require(scala.util.Try(value.toDouble).toOption.exists(t => t > 0.0 && t <= 1.0),
          s"morRewriteThreshold must be a fraction in (0, 1], got '$value'")
      case "compress" =>
        require(Set("none", "deflate").contains(value),
          s"compress must be none|deflate, got '$value'")
      case "autoCompactSegments" =>
        require(isInt(_ >= 2), s"autoCompactSegments must be an integer >= 2, got '$value'")
      case "autoCompactBytes" =>
        require(scala.util.Try(value.toLong).toOption.exists(_ > 0),
          s"autoCompactBytes must be a positive byte count, got '$value'")
      case _ =>
        SegmentChecks.declared(Map(key -> value)).foreach { case (name, sql) =>
          SegmentChecks.requireAnalyzable(SparkSession.active, schema, name, sql) }
    }
  }

  /** Registers a [[GraftCatalog]] over `warehouse` under a fresh name
    * `graft_<n>`, runs `body` with that name, and unsets both catalog
    * confs however `body` exits, so the session is left as it was
    * found. Names are never reused: Spark's `CatalogManager` caches a
    * loaded plugin by name, so a reused name would keep serving the
    * warehouse it was first loaded over. Frames analyzed inside the
    * scope stay executable after it, since the cached plugin resolved
    * their tables already. Creates no namespace. */
  def withCatalog[T](spark: SparkSession, warehouse: String)(body: String => T): T = {
    val name = s"graft_${seq.incrementAndGet()}"
    graft.Session.withConfs(spark,
      s"spark.sql.catalog.$name" -> classOf[GraftCatalog].getName,
      s"spark.sql.catalog.$name.warehouse" -> warehouse)(body(name))
  }
}

/** `bucket(n, key...)` — row placement under hash clustering, defined
  * ONCE as Spark's shuffle hash (`pmod(murmur3(keys, 42), n)`) so the
  * function's answer always agrees with where a hash-clustered write
  * physically put the row. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key...): pmod(murmur3(key...), n) — graft-segment hash placement"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length >= 2, "bucket(n, key...) needs numBuckets + at least one key")
    require(inputType.head.dataType == IntegerType, "numBuckets must be INT")
    new GraftBoundBucket(inputType.fields.drop(1).map(_.dataType).toSeq)
  }
}

final class GraftBoundBucket(keyTypes: Seq[DataType]) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = (IntegerType +: keyTypes).toArray
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String =
    s"graft.bucket(${keyTypes.map(_.catalogString).mkString(",")})"
  override def isResultNullable: Boolean = false

  @transient private lazy val hashExprs = {
    // evaluate catalyst's Murmur3Hash over the key slice of the input
    // row — identical to HashPartitioning's placement hash (seed 42)
    val refs = keyTypes.zipWithIndex.map { case (dt, i) =>
      org.apache.spark.sql.catalyst.expressions.BoundReference(i + 1, dt, nullable = true)
    }
    org.apache.spark.sql.catalyst.expressions.Murmur3Hash(refs, 42)
  }

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val h = hashExprs.eval(input).asInstanceOf[Int]
    val m = h % n
    if (m < 0) m + n else m
  }
}

/** A staged CTAS/RTAS table ([[StagingTableCatalog]]): its write lands
  * segment files under the table path (unreferenced — invisible), and
  * `commitStagedChanges` performs the ONE manifest commit that makes
  * schema, layout, properties and data appear together. `abort`
  * deletes the files; a replaced table is untouched until the commit.
  *
  * The clustered-write machinery is the normal one: the staged write
  * demands the declared layout's distribution from Spark
  * ([[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]),
  * so a CTAS with `clusterBy`/`bucket(...)` lands labeled, range- or
  * hash-clustered segments exactly like an INSERT into a pre-created
  * table. */
private[segment] class GraftStagedTable(ident: Identifier, path: String,
    tableSchema: StructType, bucketing: Option[BucketSpec],
    props: Map[String, String], mode: String)
    extends StagedTable with SupportsWrite {

  private val staged =
    new java.util.concurrent.atomic.AtomicReference[Seq[SegmentMeta]](Nil)
  private def hconf = SparkSession.active.sessionState.newHadoopConf()

  override def name(): String = s"graft-segment `$path` (staged $mode)"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    bucketing.filter(_.mode == "hash")
      .map(b => Expressions.bucket(b.n, b.cols: _*)).toArray
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // the atomic exec may signal overwrite; staging IS the overwrite
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = this
      override def build(): org.apache.spark.sql.connector.write.Write =
        new ClusteredWrite {
          protected val layout: WriteLayout =
            bucketing.map(WriteLayout.of).getOrElse(WriteLayout(Nil, "range", None))
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new org.apache.spark.sql.connector.write.BatchWrite {
              private val conf = new SerializableHadoopConf(hconf)
              // CTAS/RTAS with declared blooms, sketches, CHECK
              // constraints, GENERATED columns or compression: the
              // staged data itself must inherit and pass them — there
              // is no manifest of this definition yet, so resolve
              // against the staged one
              override def createBatchWriterFactory(
                  pinfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo): org.apache.spark.sql.connector.write.DataWriterFactory =
                new GraftWriterFactory(path, info.schema(), conf,
                  SegmentWriteSpec.resolve(SparkSession.active, props, tableSchema,
                    SegmentLog.read(SegmentLog.fs(path, conf.value), path), info.schema(),
                    SegmentWriteSpec.options(info)),
                  labelBuckets = layout.labelsBuckets)
              override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
                staged.set(messages.flatMap(
                  _.asInstanceOf[GraftCommitMessage].segments).toSeq)
              override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
                GraftDataWriter.deleteUncommitted(path, conf.value, messages)
            }
        }
    }

  override def commitStagedChanges(): Unit = {
    val f = SegmentLog.fs(path, hconf)
    val nullable = StructType(tableSchema.fields.map(_.copy(nullable = true)))
    if (mode == "create")
      // exclusive create: a rival table appearing since stageCreate
      // must fail the statement, never silently append into it
      require(SegmentLog.read(f, path).isEmpty,
        s"table $ident was created concurrently")
    SegmentLog.commit(f, path, nullable, staged.get(), truncate = true,
      bucketing = bucketing, props = props,
      resetProps = true,
      maxRetries = if (mode == "create") 0 else 20)
  }

  override def abortStagedChanges(): Unit = {
    val f = SegmentLog.fs(path, hconf)
    staged.get().foreach(s => f.delete(new Path(s"$path/${s.path}"), false))
  }
}
