package graft.sources

import java.util
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.{Or, Predicate}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 catalog whose tables support Spark 4's native
  * `MERGE INTO` SQL — the SQL-surface route to the merge semantics the
  * API-side operators ([[graft.operators.MergeApply]],
  * [[graft.operators.MergeInsertOnly]]) prove under oracle. The reference's
  * upsert IS a SQL MERGE (Automated_Silver_to_Gold
  * notebook-content.py:271-349 builds a Delta `MERGE` statement); with this
  * catalog registered (`spark.sql.catalog.<name>=graft.sources.GraftCatalog`)
  * a user can write literal `MERGE INTO <name>.ns.t USING ...` and Spark's
  * analyzer rewrites it through [[GraftTable]]'s row-level-operation
  * support.
  *
  * Execution model: GROUP-BASED copy-on-write — Spark's
  * `RewriteMergeIntoTable` joins the target scan with the source, applies
  * the WHEN clauses, and hands the operation's write the complete
  * post-merge contents of the scanned groups, which commit() swaps in
  * atomically. For an UNPARTITIONED table the whole table is one group
  * (mirroring the reference's non-partitioned gold dims); a table created
  * `PARTITIONED BY` identity columns gets PER-PARTITION groups — the
  * row-level scan supports runtime filtering on the partition columns, so
  * Spark's group-filter subquery narrows the rewrite to the partitions
  * that actually contain matched rows, exactly like Delta/Iceberg's
  * file-level COW. That is the reference's semantics (Delta MERGE is also
  * a COW file rewrite) at both granularities.
  *
  * Storage is an in-JVM row store organized as DATA FILES: every writer
  * task's commit message becomes one [[GraftDataFile]] (split per
  * partition group when the table is partitioned), each carrying per-
  * column min/max/null-count ZONE MAPS computed at commit time. The scan
  * ([[GraftScanBuilder]]) implements `SupportsPushDownV2Filters` and prunes
  * whole files against those zone maps before a row is read — the Delta
  * data-skipping path the reference's platform provides
  * (Notebooks/Batch_Bronze_to_Silver.Notebook/notebook-content.py:200
  * writes Delta), served natively. One evaluator, [[ZonePredicate]],
  * tests every v2 predicate (pushed, runtime, partition delete and
  * overwrite) against zones; partition drops take only its `exact`
  * results, a partition key being a zone whose min equals its max. The
  * scan also reports statistics (`SupportsReportStatistics`), so
  * Catalyst auto-broadcasts dim-sized catalog tables without hints.
  * This catalog is the SQL-route ADAPTER, sized for the dim/changelog
  * tables MERGE targets in this pipeline; a production deployment
  * backs the same Table/Scan surface with a real file format; the scale
  * path for fact-sized merges remains the operator route, whose plans
  * are oracle- and shape-verified (s11/s19).
  */
class GraftCatalog extends TableCatalog with FunctionCatalog
    with SupportsNamespaces with StagingTableCatalog with ViewCatalog {
  private var catalogName: String = _

  /** Column DEFAULT values (`c STRING DEFAULT 'new'`): declaring the
    * capability lets Spark's own analyzer resolve CREATE-time defaults
    * into the schema metadata and substitute them for omitted columns /
    * the DEFAULT keyword at INSERT — values materialize at write, the
    * stored rows are ordinary (Delta's CURRENT_DEFAULT behavior).
    * ALTER ADD COLUMN with a default is refused in [[GraftTable
    * .applyChanges]]: its SQL contract (EXISTS_DEFAULT — existing rows
    * READ the default) needs reader-side fill this store doesn't do,
    * and serving NULL instead would silently lie. */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  /** Backing universe: the in-JVM global store by default; a durable
    * warehouse store when initialized with a `warehouse` option
    * (`spark.sql.catalog.<name>.warehouse=/path`) — then every table
    * persists as parquet segments + a JSON commit log under that path
    * and survives the JVM. Package-visible setter: specs inject an
    * ISOLATED store over the same path to simulate a second process. */
  private[graft] var store: GraftStoreState = GraftTableStore.global

  // ---- namespaces (SHOW/CREATE/DROP NAMESPACE) ------------------------
  // A namespace EXISTS when declared (CREATE NAMESPACE) or implied by a
  // table living under it — table creation into an undeclared namespace
  // stays permissive (the store's historical behavior), declaration just
  // makes the namespace listable/drop-checkable like a real metastore.
  private def allNamespaces: Set[Seq[String]] =
    store.namespaces.keySet.toSet ++
      store.tables.keys.map(_._1)

  override def listNamespaces(): Array[Array[String]] =
    allNamespaces.map(ns => ns.take(1)).filter(_.nonEmpty)
      .toArray.sortBy(_.mkString(".")).map(_.toArray)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    val p = namespace.toSeq
    allNamespaces.filter(ns => ns.length > p.length && ns.startsWith(p))
      .map(ns => ns.take(p.length + 1))
      .toArray.sortBy(_.mkString(".")).map(_.toArray)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = namespace.toSeq
    allNamespaces.exists(ns => ns == p || ns.startsWith(p))
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    store.namespaces.getOrElse(namespace.toSeq,
      java.util.Collections.emptyMap[String, String]())
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    // putIfAbsent, not put: the exists-check above cannot see a racing
    // declaration — two concurrent CREATE NAMESPACE calls must not both
    // succeed (the second would silently overwrite the first's metadata)
    if (store.namespaces.putIfAbsent(namespace.toSeq,
        new java.util.HashMap[String, String](metadata)).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    store.warehouse.foreach { wh =>
      val nsDir = wh.resolve("_ns")
      java.nio.file.Files.createDirectories(nsDir)
      java.nio.file.Files.write(
        nsDir.resolve(namespace.toSeq.map(
          GraftDurableLoader.encodePart).mkString("_") + ".json"),
        GraftLogCodec.encodeNamespaceMeta(namespace.toSeq, metadata)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespace metadata is immutable in this catalog")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = namespace.toSeq
    if (!namespaceExists(namespace)) return false
    val owned = store.tables.keys.filter(_._1.startsWith(p)).toSeq
    val children = store.namespaces.keys
      .filter(ns => ns.startsWith(p) && ns != p).toSeq
    // RESTRICT refuses ANY content — tables or declared child namespaces
    if ((owned.nonEmpty || children.nonEmpty) && !cascade)
      throw new IllegalStateException(
        s"namespace ${p.mkString(".")} holds ${owned.length} table(s) and " +
          s"${children.length} child namespace(s); use CASCADE")
    owned.foreach(k => store.tables.remove(k).foreach(_.dropDurable()))
    // declared descendants go with the parent under CASCADE, or a
    // phantom prefix would keep namespaceExists true after the drop
    (children :+ p).foreach { ns =>
      store.namespaces.remove(ns)
      store.warehouse.foreach { wh =>
        java.nio.file.Files.deleteIfExists(wh.resolve("_ns").resolve(
          ns.map(GraftDurableLoader.encodePart).mkString("_") + ".json"))
      }
    }
    true
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    // `warehouse` opts into durability: tables persist under the path
    // (parquet segments + JSON commit log) and an existing warehouse's
    // tables load here — restart recovery is just initialization
    store = Option(options.get("warehouse")) match {
      // `warehouse.isolated=true`: bypass the per-path store cache and
      // replay the log into a PRIVATE store — the in-JVM simulation of
      // a second process over the same warehouse (restart and commit-
      // protocol specs drive the full SQL surface through this)
      case Some(path) if options.getBoolean("warehouse.isolated", false) =>
        GraftTableStore.openIsolated(path,
          GraftLogStore.byName(options.get("warehouse.logstore")))
      // an explicit logstore opens UNCACHED: the per-path store cache
      // is keyed by path alone and must not hand a LocalFs-backed
      // store to a catalog that asked for another backend (the fake
      // itself is JVM-shared, so cross-instance CAS state still holds)
      case Some(path) if options.get("warehouse.logstore") != null =>
        GraftDurableLoader.open(path,
          GraftLogStore.byName(options.get("warehouse.logstore")))
      case Some(path) => GraftTableStore.forWarehouse(path)
      case None => GraftTableStore.global
    }
  }

  override def name(): String = catalogName

  // typed (namespace, name) keys — a flattened dotted string cannot
  // round-trip nested namespaces or distinguish the default namespace
  private def key(ident: Identifier): (Seq[String], String) =
    (ident.namespace().toSeq, ident.name())

  override def listTables(namespace: Array[String]): Array[Identifier] =
    store.tables.keys.toArray.collect {
      case (ns, n) if ns == namespace.toSeq => Identifier.of(namespace, n)
    }

  /** Resolve a table name — plain, or branch-addressed `t@branch`
    * (Iceberg's ref addressing): the branch resolves to its OWN live
    * [[GraftTable]], so every read surface (scans, time travel, CDF,
    * streaming, metadata tables) and the DSv2 write path serve the
    * branch with zero extra plumbing. */
  private def resolveName(ns: Seq[String], name: String)
      : Option[GraftTable] = {
    val at = name.indexOf('@')
    if (at > 0) {
      val (tn, b) = (name.substring(0, at), name.substring(at + 1))
      val k = (ns, tn, b)
      store.branchTables.get(k).orElse {
        // a branch created by ANOTHER process after this engine opened
        // the warehouse: probe log/<b>/ on disk and register the loaded
        // chain (first loader wins — concurrent probes converge on one
        // live object). Tags miss here (no chain) and fall through to
        // the tagSnapshot path in loadTable.
        store.tables.get((ns, tn)).flatMap(_.loadForeignBranch(b))
          .map(bt => store.branchTables.putIfAbsent(k, bt).getOrElse(bt))
      }.map(_.requireBranchNotExpired())
    }
    else store.tables.get((ns, name))
  }

  override def loadTable(ident: Identifier): Table = {
    val n = ident.name()
    // Iceberg-style metadata tables: `t$files` / `t$history` resolve to
    // read-only relations over the base table's file census and commit
    // log — the introspection surface (DESCRIBE HISTORY, files audit)
    // served through the ordinary SQL read path. The base may itself be
    // branch-addressed (`t@audit$changes` — the branch's own feed).
    val dollar = n.indexOf('$')
    if (dollar > 0) {
      val base = resolveName(ident.namespace().toSeq,
        n.substring(0, dollar)).getOrElse(
        throw new NoSuchTableException(ident))
      return n.substring(dollar + 1) match {
        case "files" => base.filesMetaTable
        case "partitions" => base.partitionsMetaTable
        case "history" => base.historyMetaTable
        case "changes" => base.changesMetaTable
        case "detail" => base.detailMetaTable
        case "branches" => base.branchesMetaTable
        case "refs_log" => base.refsLogMetaTable
        case other => throw new NoSuchTableException(ident)
      }
    }
    resolveName(ident.namespace().toSeq, n) match {
      case Some(t) => t
      case None =>
        // `t@name` that is not a branch may be a TAG: an immutable,
        // read-only snapshot decoded from its own census (writes fail
        // naturally — the snapshot table has no write capability)
        val at = n.indexOf('@')
        if (at > 0)
          store.tables.get((ident.namespace().toSeq, n.substring(0, at)))
            .flatMap(_.tagSnapshot(n.substring(at + 1)))
            .getOrElse(throw new NoSuchTableException(ident))
        else throw new NoSuchTableException(ident)
    }
  }

  /** Time travel (`SELECT ... FROM t VERSION AS OF n`): version n is the
    * table state after its n-th commit (0 = the empty just-created
    * table) — the Delta transaction-log read path the reference gets
    * from its platform, served from the table's own snapshot history.
    * Snapshots hold file references, never copies (every commit already
    * replaces the file vector wholesale — copy-on-write); retention is
    * bounded by [[GraftTable.historyRetention]] so long-running writers
    * (e.g. one commit per streaming micro-batch) cannot leak the
    * superseded arrays forever — reads of retired versions fail loudly,
    * mirroring Delta's log retention. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"version must be an integer commit number, got '$version'")
    }
    metaBaseOf(ident) match {
      case Some((base, suffix)) =>
        return versionedMeta(ident, suffix,
          () => base.entryAt(v, ident), base)
      case None => ()
    }
    val t = resolveName(ident.namespace().toSeq, ident.name()).getOrElse(
      throw new NoSuchTableException(ident))
    t.snapshotAt(v, ident)
  }

  /** `(base table, suffix)` of a `t$<suffix>` metadata-table name
    * (the base may be branch-addressed). */
  private def metaBaseOf(ident: Identifier): Option[(GraftTable, String)] = {
    val n = ident.name()
    val dollar = n.indexOf('$')
    if (dollar <= 0) None
    else resolveName(ident.namespace().toSeq, n.substring(0, dollar))
      .map(_ -> n.substring(dollar + 1))
  }

  /** Version-scoped metadata tables (Iceberg's snapshot-scoped `files`):
    * `t$files VERSION AS OF v` serves the COMMIT's census, numbered the
    * way that snapshot's `_file_id` numbers it. The other suffixes are
    * log-shaped (history/changes already carry the whole retained range
    * as rows; DETAIL describes the live table) — a versioned read there
    * would be ambiguous, so it refuses with the relational remedy. */
  private def versionedMeta(ident: Identifier, suffix: String,
      entry: () => CommitEntry, base: GraftTable): Table = suffix match {
    case "files" => base.filesMetaTableAt(entry())
    case "partitions" => base.partitionsMetaTableAt(entry())
    case "history" | "changes" | "detail" | "branches" =>
      throw new UnsupportedOperationException(
        s"$ident does not support time travel: the $suffix relation " +
          "already spans the retained log — filter it (e.g. WHERE " +
          "version <= v / _commit_version <= v) instead")
    case _ => throw new NoSuchTableException(ident)
  }

  /** Time travel by wall clock (`TIMESTAMP AS OF ts`): resolves to the
    * LATEST commit whose timestamp is <= the requested instant (Delta's
    * contract — "the state the table had at that moment"), in
    * microseconds since the epoch as Spark's resolver hands it over.
    * A timestamp before the earliest retained commit fails loudly. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    metaBaseOf(ident) match {
      case Some((base, suffix)) =>
        return versionedMeta(ident, suffix,
          () => base.entryAsOf(timestamp, ident), base)
      case None => ()
    }
    val t = resolveName(ident.namespace().toSeq, ident.name()).getOrElse(
      throw new NoSuchTableException(ident))
    t.snapshotAsOf(timestamp, ident)
  }

  /** Shared CREATE/stage spec parsing: partition transforms, row-level
    * mode, CHECK constraints — everything a table builds from besides
    * its schema. Fails loudly on anything unsupported. */
  private def parseTableSpec(ident: Identifier, schema0: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : (Seq[String], Option[(Int, String)], String,
         Map[String, GraftConstraints.Check], StructType) = {
    // `bloom.columns` compiles into StructField metadata: the schema
    // already ships to executor writers and persists in the log, so
    // the flag reaches every stats-building site with zero plumbing
    val fpp = Option(properties.get(GraftBloom.FppProp)).map(_.toDouble)
    val schemaB = Option(properties.get(GraftBloom.BloomProp))
      .map(GraftBloom.stamp(schema0, _, fpp)).getOrElse(schema0)
    // `auto.compact` rides field metadata the same way — persists in
    // the log, reaches restarts and foreign processes with zero plumbing
    val schema = Option(properties.get(GraftTable.AutoCompactProp))
      .map(v => GraftTable.stampAutoCompact(schemaB,
        GraftTable.parseAutoCompact(v))).getOrElse(schemaB)
    // identity partitioning (defines the COW rewrite groups) and ONE
    // bucket(n, col) transform (hash co-location for storage-partitioned
    // joins) are supported; any other transform must fail, not silently
    // drop: a table created "PARTITIONED BY" something it doesn't honor
    // lies to its creator
    var bucketSpec: Option[(Int, String)] = None
    val partCols = partitions.toSeq.flatMap {
      case t if t.name == "identity" && t.references.length == 1 =>
        val name = t.references.head.fieldNames.mkString(".")
        if (!schema.fieldNames.contains(name))
          throw new IllegalArgumentException(
            s"partition column $name is not in the table schema")
        Some(name)
      case t if t.name == "bucket" && t.references.length == 1 =>
        if (bucketSpec.isDefined)
          throw new UnsupportedOperationException(
            "at most one bucket transform per table")
        val name = t.references.head.fieldNames.mkString(".")
        val idx = schema.fieldNames.indexOf(name)
        if (idx < 0)
          throw new IllegalArgumentException(
            s"bucket column $name is not in the table schema")
        if (!GraftFunctionsV2.bucketSupported(schema.fields(idx).dataType))
          throw new UnsupportedOperationException(
            s"bucket column $name: unsupported type " +
              s"${schema.fields(idx).dataType} (integral or string)")
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value.isInstanceOf[Int] => l.value.asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform needs an integer bucket count: $t"))
        require(n > 0, s"bucket count must be positive, got $n")
        bucketSpec = Some((n, name))
        None
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog tables support identity and bucket partition " +
          s"transforms only (got $other)")
    }
    if (bucketSpec.isDefined && partCols.nonEmpty)
      throw new UnsupportedOperationException(
        "identity partitioning and bucketing cannot combine on one table")
    // row-level write mode (TBLPROPERTIES): copy-on-write rewrites the
    // matched groups (default), merge-on-read records delete vectors —
    // at 100 TB, the difference between "update = rewrite a partition"
    // and "update = a bitmap plus the new rows"
    val mode = Option(properties.get(GraftTable.RowLevelModeProp))
      .getOrElse(GraftTable.CopyOnWrite)
    if (mode != GraftTable.CopyOnWrite && mode != GraftTable.MergeOnRead)
      throw new IllegalArgumentException(
        s"${GraftTable.RowLevelModeProp} must be " +
          s"'${GraftTable.CopyOnWrite}' or '${GraftTable.MergeOnRead}', " +
          s"got '$mode'")
    // CHECK constraints declared at create (`constraints.<name>` table
    // properties) compile against the creation schema up front — a
    // mis-spelled expression fails the CREATE, never a later write
    val checks = properties.asScala.toMap.collect {
      case (k, v) if k.startsWith(GraftConstraints.Prefix) =>
        k.stripPrefix(GraftConstraints.Prefix) ->
          GraftConstraints.compile(v, schema)
    }
    if (ident.name().contains('$'))
      throw new IllegalArgumentException(
        s"table name ${ident.name()} may not contain '$$' (reserved for " +
          "metadata-table suffixes — such a table could never be loaded)")
    if (ident.name().contains('@'))
      throw new IllegalArgumentException(
        s"table name ${ident.name()} may not contain '@' (reserved for " +
          "branch addressing — such a table could never be loaded)")
    // CLUSTER BY (r18): clustering keys without hard partitioning —
    // validated against the schema AND the hard-layout exclusions now,
    // so a bad declaration fails the CREATE, never a later OPTIMIZE
    val clustered = Option(properties.get(GraftTable.ClusterByProp))
      .map { v =>
        val cs = v.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        if (cs.isEmpty) throw new IllegalArgumentException(
          s"${GraftTable.ClusterByProp} needs at least one column")
        if (bucketSpec.isDefined) throw new UnsupportedOperationException(
          s"${GraftTable.ClusterByProp} cannot combine with bucketing " +
            "— a bucketed table's file layout is hash-owned")
        if (partCols.nonEmpty) throw new UnsupportedOperationException(
          s"${GraftTable.ClusterByProp} replaces hard partitioning — " +
            "drop PARTITIONED BY, or keep the partition layout")
        GraftZCurve.checkCols(schema, cs)
        GraftTable.stampClusterBy(schema, cs)
      }.getOrElse(schema)
    // ROW TRACKING (TBLPROPERTIES row.tracking='true'): stamped into
    // field metadata like the properties above — persists in the log,
    // reaches restarts/foreign processes with the schema
    val tracked = Option(properties.get(GraftTable.RowTrackingProp)) match {
      case None => clustered
      case Some("true") => GraftTable.stampRowTracking(clustered)
      case Some("false") => clustered
      case Some(other) => throw new IllegalArgumentException(
        s"${GraftTable.RowTrackingProp} must be 'true' or 'false', " +
          s"got '$other'")
    }
    // per-table declarative retention (round 20): validated and
    // stamped at CREATE — a bad window fails the statement, never a
    // later slide
    val retSnap = Option(properties.get(GraftTable.RetentionSnapshotsProp))
      .map(_.toInt)
    val retHours = Option(properties.get(GraftTable.RetentionHoursProp))
      .map(_.toDouble)
    val retained =
      if (retSnap.isEmpty && retHours.isEmpty) tracked
      else GraftTable.stampRetention(tracked, retSnap, retHours)
    (partCols, bucketSpec, mode, checks, retained)
  }

  override def createTable(ident: Identifier, schema0: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // tables and views share one name universe (r18): a table must not
    // shadow a view — reads through the name would silently flip
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    val (partCols, bucketSpec, mode, checks, schema) =
      parseTableSpec(ident, schema0, partitions, properties)
    val t = new GraftTable(
      (ident.namespace() :+ ident.name()).mkString("."), schema, partCols,
      mode, bucketSpec, checks)
    // durable store: attach BEFORE the table becomes visible in the
    // store — registering first would open a window where a concurrent
    // writer commits v1 into a not-yet-durable table and the commit
    // never reaches the log (silently lost on restart). Two processes
    // racing one CREATE decide at the entry-0 hard-link CAS.
    store.warehouse.foreach { wh =>
      val dir = GraftDurableLoader.allocateTableDir(
        wh, ident.namespace().toSeq, ident.name())
      t.attachDurable(new GraftTableDurability(
          new GraftTableLog(dir, store.logStore)),
        ident.namespace().toSeq, ident.name())
    }
    // atomic: two concurrent CREATEs must not both succeed (the loser's
    // table object could already be receiving a CTAS write); a losing
    // durable create removes its just-created directory
    if (store.tables.putIfAbsent(key(ident), t).isDefined) {
      t.dropDurable()
      throw new TableAlreadyExistsException(ident)
    }
    t
  }

  /** The Column[]-based CREATE (the shape that carries IDENTITY specs
    * and GENERATED ALWAYS AS expressions — the StructType fallback
    * conversion silently drops both): preserve them as field metadata,
    * validated now (a bad generation expression fails the CREATE), then
    * delegate. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val schema = GraftFill.schemaFromColumns(columns)
    GraftFill.generatedCols(schema) // compile now: CREATE fails loudly
    createTable(ident, schema, partitions, properties)
  }

  override def stageCreate(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val schema = GraftFill.schemaFromColumns(columns)
    GraftFill.generatedCols(schema)
    stageCreate(ident, schema, partitions, properties)
  }

  override def stageReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val schema = GraftFill.schemaFromColumns(columns)
    GraftFill.generatedCols(schema)
    stageReplace(ident, schema, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val schema = GraftFill.schemaFromColumns(columns)
    GraftFill.generatedCols(schema)
    stageCreateOrReplace(ident, schema, partitions, properties)
  }

  // ---- StagingTableCatalog: ATOMIC CTAS / REPLACE TABLE ---------------
  // With this trait present, Spark plans AtomicCreateTableAsSelect /
  // AtomicReplaceTableAsSelect against the catalog: the CTAS/RTAS data
  // writes into an INVISIBLE staged table and only commitStagedChanges()
  // makes it real — a crash at any earlier point leaves the catalog
  // exactly as it was (Delta's staged-commit contract; the r12 verdict's
  // task 2). Durable staging:
  //   CREATE  — the staged table lives in a top-level `_stage-<uuid>`
  //     dir the warehouse loader skips; commit atomically RENAMES the
  //     whole dir to its real name and reloads it.
  //   REPLACE — the staged table lives in `<targetDir>/stage-<uuid>/`
  //     (nested dirs are invisible to discovery by construction); its
  //     field ids seed from the target's monotonic counter so pre- and
  //     post-replace ids are DISJOINT; commit renames the finished
  //     segments into the target's `data/` (same volume — zero byte
  //     copies) and lands ONE schema-swapping entry on the TARGET's own
  //     log under its commit lease. The predecessor's history stays:
  //     time travel to pre-replace versions serves, while the change
  //     feed refuses to read across the swap (disjoint field ids).
  // Crashed stages sweep by age: VACUUM / automatic reclaim for nested
  // `stage-*` dirs, warehouse open for top-level `_stage-*` dirs.

  /** One staged (invisible) table plus its commit/abort actions. */
  private final class GraftStagedTable(staged: GraftTable,
      doCommit: () => Unit, doAbort: () => Unit)
      extends StagedTable with SupportsRead with SupportsWrite {
    override def name(): String = staged.name()
    override def schema(): StructType = staged.schema()
    override def partitioning(): Array[Transform] = staged.partitioning()
    override def properties(): util.Map[String, String] = staged.properties()
    override def capabilities(): util.Set[TableCapability] =
      staged.capabilities()
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder = staged.newScanBuilder(options)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      staged.newWriteBuilder(info)
    override def commitStagedChanges(): Unit = doCommit()
    override def abortStagedChanges(): Unit = doAbort()
  }

  /** Build the invisible staged table: id-seeded schema, the same spec
    * parsing as CREATE, durably attached under `stageDir` when the
    * store is a warehouse. Never registered in the store. */
  private def buildStaged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      seed: Long, stageDir: Option[java.nio.file.Path]): GraftTable = {
    // tables and views share one name universe (r18): the staged
    // CTAS/REPLACE paths refuse a view collision like plain CREATE
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    val seeded = FieldIds.assignFrom(schema, seed)
    val (partCols, bucketSpec, mode, checks, stamped) =
      parseTableSpec(ident, seeded, partitions, properties)
    val t = new GraftTable(
      (ident.namespace() :+ ident.name()).mkString("."), stamped, partCols,
      mode, bucketSpec, checks)
    stageDir.foreach { dir =>
      t.attachDurable(new GraftTableDurability(
        new GraftTableLog(dir, store.logStore)),
        ident.namespace().toSeq, ident.name())
    }
    t
  }

  private def stageDirForCreate(ident: Identifier)
      : Option[java.nio.file.Path] =
    store.warehouse.map(_.resolve("_stage-" +
      (ident.namespace().toSeq :+ ident.name())
        .map(GraftDurableLoader.encodePart).mkString("_") + "-" +
      java.util.UUID.randomUUID().toString.take(12)))

  private def stageDirForReplace(target: GraftTable)
      : Option[java.nio.file.Path] =
    target.durable.map(_.log.dir.resolve(
      "stage-" + java.util.UUID.randomUUID().toString.take(12)))

  /** CREATE commit: in-JVM registers the staged object; durable
    * atomically renames the whole stage dir to its real name (same
    * volume) and reloads — until the rename, discovery cannot see it. */
  private def commitStagedCreate(ident: Identifier,
      staged: GraftTable): Unit = store.warehouse match {
    case None =>
      if (store.tables.putIfAbsent(key(ident), staged).isDefined)
        throw new TableAlreadyExistsException(ident)
    case Some(wh) =>
      val stageDir = staged.durable.get.log.dir
      val finalDir = GraftDurableLoader.allocateTableDir(
        wh, ident.namespace().toSeq, ident.name())
      java.nio.file.Files.move(stageDir, finalDir,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // re-root on the moved dir: a fresh fold (2 log entries, zero
      // segment reads) — the staged object's absolute segment handles
      // died with the rename
      val live = GraftDurableLoader.loadTable(finalDir, store.logStore)
      if (store.tables.putIfAbsent(key(ident), live).isDefined) {
        live.dropDurable()
        throw new TableAlreadyExistsException(ident)
      }
  }

  /** REPLACE commit: splice the staged state into the target's log as
    * one swap entry (see [[GraftTable.commitReplace]]) and swap the
    * store mapping to the re-rooted replacement object. */
  private def commitStagedReplace(ident: Identifier, staged: GraftTable,
      seed: Long): Unit = {
    val target = store.tables.getOrElse(key(ident), {
      staged.dropDurable()
      throw new NoSuchTableException(ident)
    })
    val replacement = target.commitReplace(staged, seed)
    if (!store.tables.replace(key(ident), target, replacement))
      throw new java.util.ConcurrentModificationException(
        s"${ident.name()}: the table was dropped or replaced while this " +
          "REPLACE was committing")
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (store.tables.contains(key(ident)))
      throw new TableAlreadyExistsException(ident)
    val staged = buildStaged(ident, schema, partitions, properties,
      seed = 0L, stageDirForCreate(ident))
    new GraftStagedTable(staged,
      () => commitStagedCreate(ident, staged),
      () => staged.dropDurable())
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val target = store.tables.getOrElse(key(ident),
      throw new NoSuchTableException(ident))
    val seed = target.fieldIdSeed
    val staged = buildStaged(ident, schema, partitions, properties,
      seed, stageDirForReplace(target))
    new GraftStagedTable(staged,
      () => commitStagedReplace(ident, staged, seed),
      () => staged.dropDurable())
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    store.tables.get(key(ident)) match {
      case Some(target) =>
        val seed = target.fieldIdSeed
        val staged = buildStaged(ident, schema, partitions, properties,
          seed, stageDirForReplace(target))
        new GraftStagedTable(staged,
          // the target may vanish between stage and commit — OR REPLACE
          // then degrades to a plain create of the staged state
          () => if (store.tables.contains(key(ident)))
                  commitStagedReplace(ident, staged, seed)
                else commitStagedCreateFromReplaceStage(ident, staged),
          () => staged.dropDurable())
      case None =>
        val staged = buildStaged(ident, schema, partitions, properties,
          seed = 0L, stageDirForCreate(ident))
        new GraftStagedTable(staged,
          // a table created meanwhile makes this a replace: refuse with
          // the optimistic-retry contract rather than clobbering it
          // with create semantics (the staged ids were not seeded
          // against it)
          () => commitStagedCreate(ident, staged),
          () => staged.dropDurable())
    }

  /** CREATE-degraded commit of a REPLACE-staged table (its target was
    * dropped mid-stage): the stage dir nests inside the now-destroyed
    * target dir, so rename it out to a real top-level name first. */
  private def commitStagedCreateFromReplaceStage(ident: Identifier,
      staged: GraftTable): Unit = store.warehouse match {
    case None => commitStagedCreate(ident, staged)
    case Some(wh) =>
      val stageDir = staged.durable.get.log.dir
      if (!java.nio.file.Files.isDirectory(stageDir))
        throw new java.util.ConcurrentModificationException(
          s"${ident.name()}: the REPLACE target was dropped mid-stage " +
            "and its directory (holding the staged data) went with it — " +
            "retry the statement")
      commitStagedCreate(ident, staged)
  }

  /** `ALTER TABLE ... ADD COLUMNS` — the schema-evolution route the
    * reference reaches via Delta's `overwriteSchema`
    * (Notebooks/Batch_Bronze_to_Silver.Notebook/notebook-content.py:200):
    * new nullable columns append to the schema and every pre-evolution
    * row reads NULL in them. Other change kinds are rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // branch-addressed ALTER (`t@audit` ADD COLUMNS) evolves the BRANCH
    // chain only — additive evolution is exactly what an audit/staging
    // branch wants, and a later fast-forward replays it onto main
    val t = resolveName(ident.namespace().toSeq, ident.name()).getOrElse(
      throw new NoSuchTableException(ident))
    t.applyChanges(changes)
    t
  }

  override def dropTable(ident: Identifier): Boolean =
    store.tables.remove(key(ident)) match {
      case Some(t) =>
        // the table's branches die with it (their chains live inside
        // the table dir the durable drop removes)
        store.branchTables.keys
          .filter(k => k._1 == ident.namespace().toSeq &&
            k._2 == ident.name())
          .foreach(store.branchTables.remove)
        // managed durable table: DROP removes the data too (Delta's
        // managed-table semantics — the reference's tables are managed)
        t.dropDurable()
        true
      case None => false
    }

  // ---- FunctionCatalog: the engine's codegen kernels as catalog-
  // qualified SQL functions (`graft_cat.<ns>.poly_hash(...)`) — resolve
  // for any session that can see the catalog, no per-session
  // registration. Namespace-independent (like Spark's built-ins).
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctionsV2.all.keys.map(Identifier.of(namespace, _)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctionsV2.all.getOrElse(ident.name(),
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // same reservations as createTable: a renamed-in '@' or '$' would
    // make the table permanently unloadable (resolution diverts those
    // names to branches / metadata tables before the store lookup)
    if (newIdent.name().contains('$') || newIdent.name().contains('@'))
      throw new IllegalArgumentException(
        s"table name ${newIdent.name()} may not contain '$$' or '@' " +
          "(reserved for metadata-table suffixes and branch addressing " +
          "— such a table could never be loaded)")
    val t = store.tables.getOrElse(key(oldIdent),
      throw new NoSuchTableException(oldIdent))
    // move the SAME object (a copy would detach in-flight writes whose
    // commit closure mutates this instance) and only then retire the old
    // key; losing the putIfAbsent race leaves the store untouched
    if (store.tables.putIfAbsent(key(newIdent), t).isDefined)
      throw new TableAlreadyExistsException(newIdent)
    t.rename((newIdent.namespace() :+ newIdent.name()).mkString("."))
    t.renameDurable(newIdent.namespace().toSeq, newIdent.name())
    store.tables.remove(key(oldIdent))
    // branch heads follow their base table's logical name
    store.branchTables.snapshot().foreach { case (k, bt) =>
      if (k._1 == oldIdent.namespace().toSeq && k._2 == oldIdent.name()) {
        store.branchTables.put(
          (newIdent.namespace().toSeq, newIdent.name(), k._3), bt)
        store.branchTables.remove(k)
      }
    }
  }

  // ---- SQL views (r18 — the DSv2 ViewCatalog surface) -----------------
  // A view is a persisted, parameter-free SQL definition that INLINES
  // at read time (graft.plans.GraftViewSubstitution), so Catalyst's
  // pruning/pushdown flow through it into the scans' zone/bloom
  // skipping. Definitions persist per warehouse (`_views/` JSONs —
  // restart-served, cross-process-visible); tables and views share one
  // name universe (creation refuses collisions both ways).

  private def viewKey(ident: Identifier): (Seq[String], String) =
    (ident.namespace().toSeq, ident.name())

  private class GraftView(m: GraftViewMeta) extends View {
    override def name(): String = (m.namespace :+ m.name).mkString(".")
    override def query(): String = m.sql
    override def currentCatalog(): String = m.currentCatalog
    override def currentNamespace(): Array[String] =
      m.currentNamespace.toArray
    override def schema(): StructType = StructType.fromDDL(m.schemaDdl)
    override def queryColumnNames(): Array[String] =
      m.queryColumnNames.toArray
    override def columnAliases(): Array[String] = m.columnAliases.toArray
    override def columnComments(): Array[String] =
      Array.fill[String](m.columnAliases.length)(null)
    override def properties(): util.Map[String, String] =
      m.properties.asJava
  }

  /** The stored definition behind a view ident in THIS catalog. */
  private[graft] def viewMeta(ident: Identifier): Option[GraftViewMeta] =
    store.lookupView(ident.namespace().toSeq, ident.name())

  private def metaOf(info: ViewInfo): GraftViewMeta =
    GraftViewMeta(info.ident.namespace().toSeq, info.ident.name(),
      info.sql, info.currentCatalog, info.currentNamespace.toSeq,
      info.schema.toDDL, info.queryColumnNames.toSeq,
      info.columnAliases.toSeq,
      Option(info.properties).map(_.asScala.toMap).getOrElse(Map.empty))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toSeq
    val metas = store.warehouse match {
      case Some(wh) => GraftViews.list(wh, ns)
      case None =>
        store.views.values.filter(_.namespace == ns).toSeq.sortBy(_.name)
    }
    metas.map(m => Identifier.of(m.namespace.toArray, m.name)).toArray
  }

  override def loadView(ident: Identifier): View =
    viewMeta(ident).map(new GraftView(_)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))

  override def viewExists(ident: Identifier): Boolean =
    viewMeta(ident).isDefined

  private def requireViewName(ident: Identifier): Unit = {
    val n = ident.name()
    if (n.contains("@") || n.contains("$"))
      throw new IllegalArgumentException(
        s"invalid view name '$n': '@' and '$$' are reserved for ref " +
          "and metadata-table addressing")
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    requireViewName(ident)
    val (ns, n) = viewKey(ident)
    if (store.tables.contains((ns, n)))
      throw new TableAlreadyExistsException(ident)
    val meta = metaOf(info)
    store.warehouse match {
      case Some(wh) =>
        // CAS through the log-store backend: two processes racing the
        // same name refuse deterministically
        if (!GraftViews.create(wh, store.logStore, meta))
          throw new org.apache.spark.sql.catalyst.analysis
            .ViewAlreadyExistsException(ident)
      case None =>
        if (store.views.putIfAbsent((ns, n), meta).isDefined)
          throw new org.apache.spark.sql.catalyst.analysis
            .ViewAlreadyExistsException(ident)
    }
    new GraftView(meta)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident
    requireViewName(ident)
    val (ns, n) = viewKey(ident)
    if (store.tables.contains((ns, n)))
      throw new TableAlreadyExistsException(ident)
    if (!viewExists(ident) && !orCreate)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    val meta = metaOf(info)
    store.warehouse match {
      case Some(wh) => GraftViews.replace(wh, meta)
      case None => store.views.put((ns, n), meta); ()
    }
    new GraftView(meta)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val m = viewMeta(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))
    val props = changes.foldLeft(m.properties) {
      case (acc, s: ViewChange.SetProperty) =>
        acc + (s.property() -> s.value())
      case (acc, r: ViewChange.RemoveProperty) => acc - r.property()
      case (acc, _) => acc
    }
    val updated = m.copy(properties = props)
    store.warehouse match {
      case Some(wh) => GraftViews.replace(wh, updated)
      case None => store.views.put(viewKey(ident), updated); ()
    }
    new GraftView(updated)
  }

  override def dropView(ident: Identifier): Boolean = {
    val (ns, n) = viewKey(ident)
    store.warehouse match {
      case Some(wh) => GraftViews.drop(wh, store.logStore, ns, n)
      case None => store.views.remove((ns, n)).isDefined
    }
  }

  override def renameView(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    requireViewName(newIdent)
    val m = viewMeta(oldIdent).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent))
    if (store.tables.contains(viewKey(newIdent)))
      throw new TableAlreadyExistsException(newIdent)
    val moved = m.copy(namespace = newIdent.namespace().toSeq,
      name = newIdent.name())
    store.warehouse match {
      case Some(wh) =>
        if (!GraftViews.create(wh, store.logStore, moved))
          throw new org.apache.spark.sql.catalyst.analysis
            .ViewAlreadyExistsException(newIdent)
        GraftViews.drop(wh, store.logStore,
          oldIdent.namespace().toSeq, oldIdent.name())
        ()
      case None =>
        if (store.views.putIfAbsent(viewKey(newIdent), moved).isDefined)
          throw new org.apache.spark.sql.catalyst.analysis
            .ViewAlreadyExistsException(newIdent)
        store.views.remove(viewKey(oldIdent))
        ()
    }
  }
}

/** One table universe: (namespace, table) → [[GraftTable]] plus the
  * declared namespaces. `warehouse = None` is the in-JVM store (tables
  * die with the process — the test-double mode); `Some(path)` backs
  * every table durably under that directory (parquet segments + JSON
  * commit log — tables survive restart and exceed heap). */
final class GraftStoreState(val warehouse: Option[java.nio.file.Path],
    val logStore: GraftLogStore = GraftLogStore.LocalFs) {
  val tables: TrieMap[(Seq[String], String), GraftTable] = TrieMap.empty
  val namespaces: TrieMap[Seq[String], util.Map[String, String]] =
    TrieMap.empty

  /** Live branch heads, keyed (namespace, table, branch) — one
    * [[GraftTable]] per branch, sharing the base table's segment store
    * but owning its own commit chain. Addressed `t@branch` through the
    * catalog's name resolution; never listed by listTables. */
  val branchTables: TrieMap[(Seq[String], String, String), GraftTable] =
    TrieMap.empty

  /** Chains this engine SKIPPED at warehouse open — a table dir a
    * NEWER engine stamped (format above ours), or a branch chain that
    * failed to fold (a crashed DROP BRANCH remnant): dir name (or
    * `dir@branch`) → the refusal. The warehouse's healthy tables and
    * branches stay served; a direct load of a skipped chain still
    * fails loudly with the recorded message. */
  val skippedNewerFormat: TrieMap[String, String] = TrieMap.empty

  /** SQL views (r18) for the IN-JVM store only — durable stores read
    * their `_views/` JSONs directly, so a second process's DDL is
    * visible with no invalidation protocol (see [[GraftViews]]). */
  val views: TrieMap[(Seq[String], String), GraftViewMeta] = TrieMap.empty

  /** Diagnostic: `lookupView` calls against THIS store — the analyzer
    * fast-path pin (GraftExtensionsSpec asserts a view-free query
    * analyzes with zero probes). Per-store (r20, the r19-advice fix)
    * so another store's background view activity cannot flake the
    * assertion; the JVM-global [[GraftViews.probes]] still totals
    * across stores. Never read on a hot path. */
  val viewProbes = new java.util.concurrent.atomic.AtomicLong(0)

  /** The view definition behind (ns, name), wherever it lives. */
  def lookupView(ns: Seq[String], name: String): Option[GraftViewMeta] = {
    viewProbes.incrementAndGet()
    GraftViews.probes.incrementAndGet()
    warehouse match {
      case Some(wh) => GraftViews.read(wh, ns, name)
      case None => views.get((ns, name))
    }
  }

  /** Analyzer fast path (r19 — [[graft.plans.GraftViewSubstitution]]):
    * can this store universe possibly hold a view? In-JVM: the live
    * map. Durable: the `_views/` dir exists — created by the FIRST
    * CREATE VIEW (this process's or a second one's) and never removed
    * by DROP, so `true` caches forever and `false` re-stats (one
    * `Files.isDirectory` per probe, never a file read): cross-process
    * first-CREATE visibility holds with zero invalidation protocol,
    * and a warehouse that has ever held a view conservatively keeps
    * the (cheap, per-name) lookups. */
  @volatile private var viewsSeen = false
  def mayHoldViews: Boolean = warehouse match {
    case None => views.nonEmpty
    case Some(wh) =>
      viewsSeen || {
        val e = java.nio.file.Files.isDirectory(GraftViews.viewsDir(wh))
        if (e) viewsSeen = true
        e
      }
  }
}

/** JVM-global store registry. The default (in-JVM, non-durable) store is
  * `global`, shared by every catalog instance without a `warehouse`
  * option — the local-mode analog of a shared metastore. Durable stores
  * cache per canonical warehouse path, so two catalog instances over the
  * same warehouse IN ONE JVM share a universe; [[openIsolated]] skips
  * the cache to simulate a SECOND PROCESS over the same path (the
  * cross-process commit-protocol spec surface). */
object GraftTableStore {
  val global = new GraftStoreState(None)
  /** Compatibility aliases: the in-JVM store's maps (the historical
    * public surface — specs and the maintenance SQL resolve keep
    * working unchanged). */
  val tables: TrieMap[(Seq[String], String), GraftTable] = global.tables
  val namespaces: TrieMap[Seq[String], util.Map[String, String]] =
    global.namespaces

  private val byWarehouse = TrieMap.empty[String, GraftStoreState]

  private def canonical(path: String): String =
    java.nio.file.Paths.get(path).toAbsolutePath.normalize.toString

  def forWarehouse(path: String): GraftStoreState =
    byWarehouse.getOrElseUpdate(canonical(path), GraftDurableLoader.open(path))

  /** A FRESH store over the warehouse, bypassing the cache — each call
    * replays the on-disk log into independent table objects, exactly what a
    * second process would see. Test/maintenance surface. */
  def openIsolated(path: String,
      logStore: GraftLogStore = GraftLogStore.LocalFs): GraftStoreState =
    GraftDurableLoader.open(path, logStore)

  /** All stores this JVM knows (global first) — the search space for
    * store-agnostic resolution (maintenance SQL). */
  def allStores: Seq[GraftStoreState] = global +: byWarehouse.values.toSeq

  def lookup(namespace: Seq[String], table: String): Option[GraftTable] =
    allStores.iterator.flatMap(_.tables.get((namespace, table))).nextOption()

  def keyExists(key: (Seq[String], String)): Boolean =
    allStores.exists(_.tables.contains(key))

  /** Existence inside ONE store universe (a scoped maintenance call) —
    * or the global store when the call is unscoped. */
  def keyExistsIn(key: (Seq[String], String),
                  scope: Option[GraftStoreState]): Boolean =
    scope.getOrElse(global).tables.contains(key)
}

/** Commit-timestamp source for time travel, replaceable in tests so
  * TIMESTAMP AS OF resolution is deterministic under spec control.
  * Production default: wall clock in microseconds (the unit Spark's
  * time-travel resolver uses). [[GraftTable]] additionally enforces
  * strictly increasing commit timestamps per table, so two commits in
  * the same microsecond still resolve unambiguously. */
object GraftClock {
  @volatile var nowMicros: () => Long = () => System.currentTimeMillis() * 1000L
}

/** Iceberg-style FIELD IDS (column mapping): every table column carries
  * a stable numeric id in its StructField metadata, assigned at create /
  * ADD COLUMN and PRESERVED by RENAME — so the change data feed, stream
  * projections, and any cross-schema-version matching resolve columns by
  * IDENTITY. Matching by name alone would turn a rename into
  * "the old commits' values vanished". */
private[sources] object FieldIds {
  import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField}
  val Key = "graft.field.id"

  def idOf(f: StructField): Option[Long] =
    if (f.metadata.contains(Key)) Some(f.metadata.getLong(Key)) else None

  def withId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(Key, id).build())

  /** Assign fresh ids to any field missing one. Existing ids are kept
    * UNLESS duplicated (a CTAS whose projection carries another graft
    * table's id metadata could clash) — duplicates reassign. */
  def assign(schema: StructType): StructType = {
    var next = schema.fields.iterator.flatMap(idOf).foldLeft(-1L)(math.max) + 1
    val seen = scala.collection.mutable.Set.empty[Long]
    StructType(schema.fields.map { f =>
      idOf(f) match {
        case Some(id) if !seen.contains(id) => seen += id; f
        case _ =>
          while (seen.contains(next)) next += 1
          val g = withId(f, next); seen += next; next += 1; g
      }
    })
  }

  def nextId(schema: StructType): Long =
    schema.fields.iterator.flatMap(idOf).foldLeft(-1L)(math.max) + 1

  /** Assign fresh ids to EVERY field starting at `start`, ignoring any
    * carried id metadata (a CTAS projection over another graft table
    * would otherwise smuggle that table's ids in). The staged-REPLACE
    * seeding: the replacement's ids must be DISJOINT from every id the
    * target ever used, so cross-version id-matching (CDF
    * canonicalization, stream projections) can never attribute a
    * pre-replace column's values to an unrelated post-replace column. */
  def assignFrom(schema: StructType, start: Long): StructType = {
    var next = start
    StructType(schema.fields.map { f =>
      val g = withId(f, next); next += 1; g
    })
  }

  /** Ordinal of `target` in `source`: by FIELD ID when the target
    * carries one, by name only for id-less fields (the `_change_type` /
    * `_commit_*` meta columns); -1 when absent. An id-carrying target
    * whose id is missing from the source NEVER falls back to name:
    * after RENAME a→b + ADD COLUMN a (new id), historical schemas still
    * hold 'a' under the OLD id, and a name match would hand the old
    * column's values to the new, unrelated column — the mis-attribution
    * field ids exist to prevent. Absent means NULL, by design. */
  def ordinalOf(target: StructField, source: StructType): Int =
    idOf(target) match {
      case Some(id) => source.fields.indexWhere(f => idOf(f).contains(id))
      case None => source.fields.indexWhere(_.name == target.name)
    }
}

/** Per-column zone-map entry of one data file: min/max over the file's
  * non-null values (both null when every value is null) plus the null
  * count. min/max hold CATALYST-internal values (UTF8String, Int days,
  * Long micros, Decimal ...), all of which are Comparable — the same
  * representation the rows store, so zone tests never convert per row. */
final case class ColZone(min: Any, max: Any, nullCount: Long)

object ColZone {
  /** Boxed compare in the zones' Catalyst-internal representation —
    * THE zone-value ordering, shared by every consumer (aggregate
    * pushdown, CDC disjointness, envelope building) so the semantics
    * cannot drift between copies. */
  def cmp(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)
}

/** ROW TRACKING state of one data file (Delta's row-tracking /
  * Iceberg-v3 row-lineage design, reproduced Spark-side): every row of
  * a tracked table carries a STABLE `_row_id` minted at first insert
  * and a `_row_commit_version` naming the commit that last produced its
  * current value. Freshly-written files are ARITHMETIC — `id(p) = base
  * + p`, `ver(p) = ver` — so the commit log stays O(files): only `base`
  * and `ver` persist per file. Files produced by a REWRITE that
  * reorders or mixes provenance (COW update/merge survivors, OPTIMIZE /
  * ZORDER output) carry EXPLICIT per-row vectors; on durable tables
  * those live in a `<segment>.rowids` sidecar (exactly where Delta
  * materializes row ids into the data file) loaded lazily via
  * `loader`, so metadata stays O(files) and a 100 TB table's log never
  * carries a row-sized payload. Position VIEWS share their base's
  * track — `_row_pos` is the ORIGINAL position by contract, so the
  * arithmetic (and the base's explicit vectors) bind unchanged. */
final class GraftRowTrack(
    val base: Long, val ver: Long,
    ids0: Array[Long], vers0: Array[Long],
    val explicit: Boolean = false,
    loader: () => (Array[Long], Array[Long]) = null) {
  @volatile private var idsCache: Array[Long] = ids0
  @volatile private var versCache: Array[Long] = vers0
  private def force(): Unit = synchronized {
    if (idsCache == null && loader != null) {
      val (i, v) = loader()
      versCache = v
      idsCache = i
    }
  }
  /** Explicit per-row ids (null = arithmetic). May lazy-load the
    * durable sidecar on first call. */
  def ids: Array[Long] = {
    if (idsCache == null && explicit) force()
    idsCache
  }
  def vers: Array[Long] = {
    if (versCache == null && explicit) force()
    versCache
  }
  def idAt(p: Int): Long = {
    val a = ids
    if (a != null) a(p) else base + p
  }
  def verAt(p: Int): Long = {
    val a = vers
    if (a != null) a(p) else ver
  }
  /** Highest id this file's rows can carry (hw recovery on adoption). */
  def maxIdExclusive(rowCount: Int): Long =
    if (!explicit) base + rowCount
    else { val a = ids; if (a == null || a.isEmpty) 0L else a.max + 1L }
}

object GraftRowTrack {
  /** Sentinel inside a writer-captured vector: "mint a fresh id here" /
    * "stamp the committing version here" — resolved at snap(). */
  val Mint: Long = -1L

  /** Re-bind a track to a REWRITTEN file with identical row order
    * (DROP COLUMN / type rebuilds): arithmetic tracks share as-is; an
    * explicit track's vectors re-materialize beside the new segment so
    * the identity outlives the old segment's vacuum. */
  private[sources] def carry(t: GraftRowTrack,
      nf: GraftDataFile): GraftRowTrack = {
    if (t == null || !t.explicit) return t
    val (ids, vers) = (t.ids, t.vers)
    if (nf.persisted)
      GraftRowIdSidecar.write(nf.segment.path, ids, vers)
    new GraftRowTrack(t.base, t.ver, ids, vers, explicit = true)
  }

  /** PENDING explicit track from per-row vectors (resolved at snap). */
  private[sources] def pending(ids: Array[Long],
      vers: Array[Long]): GraftRowTrack =
    new GraftRowTrack(-1L, -1L, ids, vers)
}

/** One immutable data file of a [[GraftTable]]: the rows one writer task
  * delivered in one commit (split per partition group on partitioned
  * tables), plus the file-level statistics a real table format keeps in
  * its transaction log — per-column zone maps for data skipping, a byte
  * size for `SupportsReportStatistics`, and the partition-group key when
  * the whole file belongs to a single identity partition (which lets
  * partition deletes/overwrites drop whole files by reference).
  *
  * ROW STORAGE is tiered: a freshly-written file holds its rows on heap;
  * once a durable commit persists the rows to a parquet segment
  * ([[spill]]) the strong reference drops — the heap copy becomes a
  * SoftReference cache the GC reclaims under pressure, and later reads
  * stream the segment back from disk. A table's resident set is its
  * WORKING set, not its size: the heap wall the in-memory store had is
  * gone. Metadata (zones, size, group key, row count) always stays
  * resident — pruning and planning never touch a segment. */
final class GraftDataFile private (
    rows0: Array[InternalRow],
    val zones: Array[ColZone], // index = schema ordinal; null = no stats
    val sizeBytes: Long,
    val groupKey: Option[Seq[Any]],
    val rowCount: Int,
    seg0: GraftSegmentHandle,
    sel0: scala.collection.immutable.BitSet = null,
    selExclude0: Boolean = false,
    derive0: GraftDeriveRecipe = null,
    blooms0: Array[GraftBloom] = null,
    bloomRefs0: Array[GraftBloomRef] = null,
    // the pre-evolution file this one is the degrouped twin of (see
    // GraftDataFile.degrouped) — RESTORE across a spec evolution uses
    // it to canonicalize a restored census onto the LIVE identities, so
    // unchanged files stay "shared" and the restore's CDC stays
    // delta-sized instead of recording whole-table churn
    private[sources] val degroupedFrom: GraftDataFile = null)
    extends ZoneView[Int] {

  def this(rows: Array[InternalRow], zones: Array[ColZone], sizeBytes: Long,
           groupKey: Option[Seq[Any]]) =
    this(rows, zones, sizeBytes, groupKey, rows.length, null)

  /** Compact bloom descriptors (what the LOG carries — the words live
    * in the segment's sidecar): non-null iff the file has filters.
    * Freshly built files derive refs from their eager array; decoded
    * files carry the entry's refs and load words lazily. */
  private[sources] val bloomRefs: Array[GraftBloomRef] =
    if (bloomRefs0 != null) bloomRefs0
    else GraftBloomSidecar.refsOf(blooms0)

  @volatile private var bloomsCache: Array[GraftBloom] = blooms0

  /** Per-column Bloom filters (index = schema ordinal, null = none) —
    * built only for `bloom.columns`-flagged fields. A position VIEW
    * inherits its base's filters (a superset: conservative, like the
    * zone envelope). Empty array = no bloom'd columns. For a file
    * decoded from the durable log the words load LAZILY from the
    * segment's sidecar (`<segment>.bloom`) the first time a point
    * lookup consults them — the commit log and checkpoints carry only
    * [[bloomRefs]], so commit metadata stays O(files), never O(rows). */
  def blooms: Array[GraftBloom] = {
    val c = bloomsCache
    if (c != null) return c
    val loaded =
      if (bloomRefs == null || segment == null) GraftDataFile.NoBlooms
      else GraftBloomSidecar.read(segment.path)
    bloomsCache = loaded
    loaded
  }
  def bloom(i: Int): GraftBloom = {
    val b = blooms
    if (i < b.length) b(i) else null
  }

  /** Zone of schema ordinal `i`; null for an unsupported type, or past
    * the zones of a file written before the schema grew. */
  def zone(i: Int): ColZone = if (i < zones.length) zones(i) else null

  /** Non-null ⇒ a DERIVED pseudo-file (the CDC feed): rows are COMPUTED
    * from other files' segments by a serializable partition recipe —
    * the scan plans the recipe's InputPartition and the computation
    * (projection to the change schema, multiset cancellation) runs in
    * the partition reader, EXECUTOR-side. `rowCount`/zones here are
    * planning metadata; when the recipe's count is inexact (a cancel
    * recipe's upper bound) [[GraftDeriveRecipe.exactCount]] says so and
    * limit pruning must not trust it. */
  private[sources] val derive: Option[GraftDeriveRecipe] = Option(derive0)

  /** Non-null ⇒ this file is a POSITION VIEW of its segment: the rows
    * at (`selExclude` = false) or excluding (`selExclude` = true) these
    * positions. Views are how CDC records reference preimages without
    * copying them — the log stores positions, never rows, and the base
    * segment stays alive while the view is retained. */
  private val sel: scala.collection.immutable.BitSet = sel0
  private val selExclude: Boolean = selExclude0
  private[sources] def viewSel
      : Option[(scala.collection.immutable.BitSet, Boolean)] =
    Option(sel).map((_, selExclude))

  /** ROW-TRACKING state (null = untracked). Assigned ONCE — at the
    * commit that adds the file (snap mints arithmetic tracks; rewrites
    * attach explicit vectors before install) or at log decode — and
    * shared by every derived identity (views, degrouped/retyped twins)
    * whose positions still index this file's rows. */
  @volatile private[sources] var track: GraftRowTrack = null

  @volatile private var strong: Array[InternalRow] = rows0
  @volatile private[sources] var segment: GraftSegmentHandle = seg0
  @volatile private var soft
      : java.lang.ref.SoftReference[Array[InternalRow]] = null

  def rows: Array[InternalRow] = {
    val s = strong
    if (s != null) return s
    val sr = soft
    if (sr != null) {
      val cached = sr.get()
      if (cached != null) return cached
    }
    val d = derive.orNull
    if (d != null) {
      // a derived file's rows on the driver (the key-grouped chunks and
      // a stream's unprojectable commits): the recipe's whole-width
      // partition through the one reader; the scan path plans the
      // partition instead and never lands here
      val computed = GraftPartitionReaderFactory
        .rowsOf(d.partition(Array.range(0, d.width)))
        .map(_.copy()).toArray
      soft = new java.lang.ref.SoftReference(computed)
      return computed
    }
    val h = segment
    val all = h.load()
    val loaded =
      if (sel == null) all
      else if (selExclude) GraftDataFile.liveRows(all, sel)
      else sel.iterator.map(all(_)).toArray
    // cache only if the handle didn't change underfoot (a concurrent
    // metadata-only ADD COLUMN re-points it — pre-widening rows must
    // not become the cache of the widened handle)
    if (h eq segment) soft = new java.lang.ref.SoftReference(loaded)
    loaded
  }

  private[sources] def persisted: Boolean = segment != null

  /** Test hook: drop the soft row cache so the next read must hit the
    * parquet segment (what GC memory pressure does). No-op while the
    * file is heap-only. */
  private[sources] def evict(): Unit = if (segment != null) soft = null

  /** Metadata-only ADD COLUMN: re-point the segment handle at the
    * WIDENED schema. The parquet reader null-pads requested field ids
    * the file doesn't contain, so the stored bytes serve the new layout
    * without a rewrite. Cached narrow rows drop; zones stay capture-
    * width (readers guard, [[colOrd]]-style consumers decline). */
  private[sources] def resegment(schema: StructType): Unit = {
    val h = segment
    if (h != null && h.schema.length < schema.length) {
      segment = new GraftSegmentHandle(h.path, schema)
      soft = null
    }
  }

  /** The durable segment is written: release the strong reference so
    * the heap copy is GC-reclaimable (kept soft for warm re-reads). */
  private[sources] def spill(h: GraftSegmentHandle): Unit = {
    segment = h
    soft = new java.lang.ref.SoftReference(strong)
    strong = null
  }
}

/** How a DERIVED pseudo-file materializes: `partition` builds the
  * serializable InputPartition (given the required ordinals into the
  * file's logical schema, `width` columns wide) that computes the rows
  * in the partition reader. Scans plan it executor-side; a driver
  * consumer of [[GraftDataFile.rows]] runs the whole-width partition
  * through the same reader. `exactCount` is false when the file's
  * claimed rowCount is an upper bound (a cancel recipe cannot know the
  * surviving count without reading) — limit pruning treats such files
  * as contributing nothing toward the limit, which only ever errs
  * toward reading more. */
private[sources] final class GraftDeriveRecipe(
    val exactCount: Boolean,
    val width: Int,
    val partition: Array[Int] => GraftScanPartition,
    // true only when BOTH the row count and every zone (min/max AND
    // nullCount) describe the emitted rows exactly — what aggregate
    // pushdown needs. A pure file over a position VIEW keeps the
    // base's superset envelope (exact count, inexact zones), so
    // exactCount alone must not admit it to planAgg.
    val statsExact: Boolean = true)

object GraftDataFile {

  private[sources] val NoBlooms: Array[GraftBloom] = Array.empty

  /** A DERIVED pseudo-file (see [[GraftDeriveRecipe]]). */
  private[sources] def derived(recipe: GraftDeriveRecipe,
      zones: Array[ColZone], sizeBytes: Long,
      rowCount: Int): GraftDataFile =
    new GraftDataFile(null, zones, sizeBytes, None, rowCount, null,
      derive0 = recipe)

  /** The same file WITHOUT its partition-group key — what partition-
    * spec evolution turns every pre-evolution file into: a "legacy
    * remainder" file (Iceberg's unpartitioned-remainder semantics),
    * spanning by construction, already first-class on every read/write
    * path. Segment handle, zones, blooms, and row cache all carry;
    * only the grouping clears. Identity is NEW — the old object (with
    * its old-layout key) stays referenced by pre-evolution history
    * entries, which time travel binds under the old layout. */
  private[sources] def degrouped(f: GraftDataFile): GraftDataFile =
    if (f.groupKey.isEmpty) f
    else {
      val g =
        if (f.persisted)
          new GraftDataFile(null, f.zones, f.sizeBytes, None, f.rowCount,
            f.segment, f.sel, f.selExclude,
            blooms0 = f.bloomsCache, bloomRefs0 = f.bloomRefs,
            degroupedFrom = f)
        else
          new GraftDataFile(f.rows, f.zones, f.sizeBytes, None, f.rowCount,
            null, blooms0 = f.bloomsCache, degroupedFrom = f)
      g.track = f.track // same rows, same positions, same identities
      g
    }

  /** Lossless type WIDENINGS the parquet reader serves without a
    * rewrite (requesting the wide type upcasts INT32/FLOAT values at
    * decode — verified against Spark's ParquetRowConverter): the
    * Delta-typeWidening / Iceberg-type-promotion families. */
  private[sources] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (org.apache.spark.sql.types.ByteType,
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.ShortType,
            org.apache.spark.sql.types.IntegerType |
            org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.FloatType,
            org.apache.spark.sql.types.DoubleType) => true
      // int-or-narrower → double is exact (|v| ≤ 2³¹ < 2⁵³); LONG →
      // double is NOT (lossy above 2⁵³) and stays refused, as Delta's
      case (org.apache.spark.sql.types.ByteType |
            org.apache.spark.sql.types.ShortType |
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.DoubleType) => true
      case _ => false
    }

  /** The same persisted file under a TYPE-WIDENED schema: the handle
    * re-points (the parquet reader upcasts the stored narrow values at
    * decode), the widened ordinal's zone values convert to the wide
    * representation (exactly — all supported widenings are lossless),
    * and blooms carry (integral hashes are longValue-based, so a stored
    * INT's filter answers the widened BIGINT lookup bit-identically).
    * Identity is NEW — pre-widen history entries keep the old-typed
    * object, which time travel serves under the old schema. */
  private[sources] def retyped(f: GraftDataFile, ord: Int,
      schema: StructType): GraftDataFile = {
    val to = schema.fields(ord).dataType
    def up(v: Any): Any = v match {
      case null => null
      case n: java.lang.Number => to match {
        case org.apache.spark.sql.types.LongType =>
          java.lang.Long.valueOf(n.longValue)
        case org.apache.spark.sql.types.IntegerType =>
          java.lang.Integer.valueOf(n.intValue)
        case org.apache.spark.sql.types.ShortType =>
          java.lang.Short.valueOf(n.shortValue)
        case org.apache.spark.sql.types.DoubleType =>
          java.lang.Double.valueOf(n.doubleValue)
        case _ => v
      }
      case other => other
    }
    val zs = f.zones.clone()
    if (ord < zs.length && zs(ord) != null)
      zs(ord) = ColZone(up(zs(ord).min), up(zs(ord).max),
        zs(ord).nullCount)
    val g = new GraftDataFile(null, zs, f.sizeBytes, f.groupKey, f.rowCount,
      new GraftSegmentHandle(f.segment.path, schema), f.sel, f.selExclude,
      blooms0 = f.bloomsCache, bloomRefs0 = f.bloomRefs)
    g.track = f.track // same rows, same positions, same identities
    g
  }

  /** A file resurrected from the durable log: rows load lazily from the
    * parquet segment; all metadata comes from the log entry. */
  def fromSegment(h: GraftSegmentHandle, zones: Array[ColZone],
                  sizeBytes: Long, groupKey: Option[Seq[Any]],
                  rowCount: Int,
                  blooms: Array[GraftBloom] = null,
                  bloomRefs: Array[GraftBloomRef] = null): GraftDataFile =
    new GraftDataFile(null, zones, sizeBytes, groupKey, rowCount, h,
      blooms0 = blooms, bloomRefs0 = bloomRefs)

  /** Position view over a PERSISTED base file (see `viewSel`): the CDC
    * record of a row-level delete/restore costs O(positions) in the
    * log and ZERO new bytes — no driver row load, no cdc segment
    * encode. Zones are the base's (a superset envelope — conservative
    * for skipping). */
  def viewOf(base: GraftDataFile, sel: scala.collection.immutable.BitSet,
             exclude: Boolean): GraftDataFile = {
    require(base.persisted, "position views require a persisted base")
    val n = if (exclude) base.rowCount - sel.size else sel.size
    val bytes = math.max(1L,
      base.sizeBytes * math.max(n, 1) / math.max(base.rowCount, 1))
    // zones must stay CONSERVATIVE under the reduced row count: min/max
    // are supersets (fine), but the base's nullCount can exceed the
    // view's rowCount and wrongly prove "all null" (IsNotNull pruning
    // would drop live rows) or "has nulls". Exact only at the extremes
    // (no nulls / all null in the base — the view inherits the fact);
    // ambiguous columns claim BOTH possibilities (1 <= nc < n), or drop
    // the zone entirely when n == 1 cannot encode ambiguity.
    val zones = base.zones.map { z =>
      if (z == null) null
      else if (z.nullCount == 0L) ColZone(z.min, z.max, 0L)
      else if (z.nullCount >= base.rowCount) ColZone(z.min, z.max, n.toLong)
      else if (n >= 2) ColZone(z.min, z.max, 1L)
      else null // n == 1, base mixed: "unknown" is the only safe claim
    }
    // bloom metadata passes through WITHOUT forcing the base's lazy
    // sidecar load: the view shares the base's segment, so its own
    // lazy load reads the same sidecar on first consult. If the base
    // already HAS its words (eager build, legacy inline decode, or a
    // prior consult), share them — same filters, no second read
    val v = new GraftDataFile(null, zones, bytes, base.groupKey, n,
      base.segment, sel, exclude, blooms0 = base.bloomsCache,
      bloomRefs0 = base.bloomRefs)
    // a view's `_row_pos` is the base's ORIGINAL position, so the
    // base's track (arithmetic or explicit) serves the view unchanged
    v.track = base.track
    v
  }

  /** A view decoded from the log (all metadata from the entry). */
  def fromSegmentView(h: GraftSegmentHandle, zones: Array[ColZone],
      sizeBytes: Long, groupKey: Option[Seq[Any]], rowCount: Int,
      sel: scala.collection.immutable.BitSet,
      exclude: Boolean,
      blooms: Array[GraftBloom] = null,
      bloomRefs: Array[GraftBloomRef] = null): GraftDataFile =
    new GraftDataFile(null, zones, sizeBytes, groupKey, rowCount, h,
      sel, exclude, blooms0 = blooms, bloomRefs0 = bloomRefs)

  /** `rows` minus the DEAD positions, original order preserved — THE
    * delete-vector application, shared by every read path so the
    * semantics (skip, never renumber) cannot drift between copies. */
  def liveRows(rows: Array[InternalRow],
               dead: scala.collection.immutable.BitSet): Array[InternalRow] =
    if (dead.isEmpty) rows
    else {
      val out = Array.newBuilder[InternalRow]
      var i = 0
      while (i < rows.length) {
        if (!dead.contains(i)) out += rows(i)
        i += 1
      }
      out.result()
    }

  /** Types whose internal values have an SQL ordering the zones can
    * bound — the zone-map-eligible set. Binary, arrays, maps and structs
    * get no zones (files always scan). */
  def statsSupported(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | BooleanType | StringType | DateType |
           TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Build a file over `rows`, computing zone maps + size in one pass.
    * `keyOf` (partitioned tables) detects a uniform partition-group key,
    * enabling file-level partition drops.
    *
    * The stats kernel is COLUMN-MAJOR with type-specialized primitive
    * loops (one dispatch per column, not per cell): this pass runs at
    * every commit over every genuinely new file, so at scale it is the
    * write path's per-row cost — boxed Comparable dispatch per cell
    * would tax every insert for the benefit of the few columns that are
    * actually strings/decimals. */
  def build(rows: Array[InternalRow], schema: StructType,
            keyOf: Option[InternalRow => Seq[Any]]): GraftDataFile = {
    import org.apache.spark.sql.types._
    val n = schema.length
    val mins = new Array[Any](n)
    val maxs = new Array[Any](n)
    val nulls = new Array[Long](n)
    val supported = schema.fields.map(f => statsSupported(f.dataType))
    val dts = schema.fields.map(_.dataType)
    var size = 0L
    val defaultRowSize = schema.defaultSize.toLong
    var ri = 0
    while (ri < rows.length) {
      rows(ri) match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
          size += u.getSizeInBytes.toLong
        case _ => size += defaultRowSize
      }
      ri += 1
    }
    var i = 0
    while (i < n) {
      if (supported(i)) {
        // rows may be WIDER than the captured schema mid-evolution
        // (files publish before the widened schema) — never narrower
        var nullCount = 0L
        dts(i) match {
          case IntegerType | DateType =>
            var lo = Int.MaxValue; var hi = Int.MinValue; var seen = false
            var j = 0
            while (j < rows.length) {
              val r = rows(j)
              if (r.isNullAt(i)) nullCount += 1
              else {
                val v = r.getInt(i)
                if (!seen || v < lo) lo = v
                if (!seen || v > hi) hi = v
                seen = true
              }
              j += 1
            }
            if (seen) { mins(i) = lo; maxs(i) = hi }
          case LongType | TimestampType | TimestampNTZType =>
            var lo = Long.MaxValue; var hi = Long.MinValue; var seen = false
            var j = 0
            while (j < rows.length) {
              val r = rows(j)
              if (r.isNullAt(i)) nullCount += 1
              else {
                val v = r.getLong(i)
                if (!seen || v < lo) lo = v
                if (!seen || v > hi) hi = v
                seen = true
              }
              j += 1
            }
            if (seen) { mins(i) = lo; maxs(i) = hi }
          case DoubleType =>
            // java.lang.Double.compare, NOT primitive </>: zone pruning
            // orders with compareTo (NaN = largest double), and primitive
            // comparisons make NaN sticky-or-invisible — a file holding
            // [NaN, 3.0] must publish min=3.0/max=NaN or EqualTo(col,3.0)
            // prunes it and silently drops matching rows
            var lo = 0.0; var hi = 0.0; var seen = false
            var j = 0
            while (j < rows.length) {
              val r = rows(j)
              if (r.isNullAt(i)) nullCount += 1
              else {
                val v = r.getDouble(i)
                if (!seen || java.lang.Double.compare(v, lo) < 0) lo = v
                if (!seen || java.lang.Double.compare(v, hi) > 0) hi = v
                seen = true
              }
              j += 1
            }
            if (seen) { mins(i) = lo; maxs(i) = hi }
          case dt =>
            // strings, decimals, the narrow integrals, booleans:
            // object/boxed compare (these columns are the minority of a
            // fact schema's width)
            var j = 0
            while (j < rows.length) {
              val r = rows(j)
              if (r.isNullAt(i)) nullCount += 1
              else {
                val v = r.get(i, dt)
                if (mins(i) == null || ColZone.cmp(v, mins(i)) < 0) mins(i) = v
                if (maxs(i) == null || ColZone.cmp(v, maxs(i)) > 0) maxs(i) = v
              }
              j += 1
            }
        }
        nulls(i) = nullCount
      }
      i += 1
    }
    val zones = Array.tabulate(n) { i =>
      if (supported(i)) ColZone(mins(i), maxs(i), nulls(i)) else null
    }
    // per-file Bloom filters for `bloom.columns`-flagged fields (the
    // flag rides StructField metadata, so executor-side writers see it
    // through the shipped schemaJson with zero extra plumbing)
    val blooms: Array[GraftBloom] = {
      val flagged = schema.fields.map(f =>
        f.metadata.contains(GraftBloom.MetaKey) &&
          f.metadata.getBoolean(GraftBloom.MetaKey) &&
          GraftBloom.supported(f.dataType))
      if (!flagged.exists(identity) || rows.isEmpty) null
      else Array.tabulate(n) { i =>
        if (!flagged(i)) null
        else GraftBloom.build(
          rows.iterator.filterNot(_.isNullAt(i)).map(_.get(i, dts(i))),
          rows.length, GraftBloom.bitsOf(schema.fields(i)))
      }
    }
    val gk = keyOf.flatMap { f =>
      if (rows.isEmpty) None
      else {
        val k = f(rows.head)
        if (rows.forall(r => f(r) == k)) Some(k) else None
      }
    }
    new GraftDataFile(rows, zones, size, gk, rows.length, null,
      blooms0 = blooms)
  }
}

/** One commit in a [[GraftTable]]'s history: the complete post-commit
  * state plus the commit's wall-clock timestamp (micros) for
  * TIMESTAMP AS OF resolution, the operation kind (DESCRIBE HISTORY
  * surface), and the commit's CHANGE-DATA record — the data files this
  * commit added and the files (or partial-file row sets) it removed,
  * captured AT WRITE TIME. References only, never copies: the same
  * file objects the state vectors hold, so CDC retention rides the
  * history retention that already bounds snapshots. Write-time capture
  * (Delta's CDC-file approach) rather than state diffing means layout
  * commits (OPTIMIZE / ZORDER / ALTER padding) correctly record ZERO
  * row changes even though their file sets differ. */
private[sources] final case class CommitEntry(version: Int,
    schema: StructType, files: Vector[GraftDataFile], tsMicros: Long,
    operation: String = "UNKNOWN",
    added: Vector[GraftDataFile] = Vector.empty,
    removed: Vector[GraftDataFile] = Vector.empty,
    dvs: Map[GraftDataFile, scala.collection.immutable.BitSet] = Map.empty,
    // Delta's operationParameters: what the operation was ASKED to do
    // (predicate text, target version, source dir…) — audit metadata,
    // persisted with the entry, surfaced by DESCRIBE HISTORY
    params: Map[String, String] = Map.empty)

/** What one scan build observed: the data-skipping census. `filesRead` /
  * `rowsRead` count files/rows that SURVIVED zone-map pruning under the
  * pushed filters — the numbers a selective 100 TB query lives or dies
  * by, exposed so specs (and operators) can assert skipping without
  * instrumenting Spark internals. */
final case class ScanCensus(filesTotal: Int, filesRead: Int,
                            rowsTotal: Long, rowsRead: Long,
                            pushed: Seq[String])

/** One in-JVM table: readable, appendable, truncatable, and MERGE-able via
  * [[SupportsRowLevelOperations]]. Rows are stored as copied InternalRows
  * inside [[GraftDataFile]]s (one per writer-task commit message, split
  * per partition group), each carrying commit-time zone maps.
  *
  * With identity `partitionCols`, the row-level path becomes
  * PER-PARTITION copy-on-write instead of whole-table: the operation's
  * scan implements [[SupportsRuntimeV2Filtering]] on the partition
  * columns, Spark's runtime group filter (the DPP-style subquery its
  * rewrite rules plan against the source join) narrows the scan to the
  * partitions that actually contain matched rows, and commit replaces
  * exactly the scanned groups — untouched partitions' stored rows are
  * carried over by reference, never rewritten. That is the delta-sized
  * rewrite a real COW table format does per file/partition. */
class GraftTable(initialName: String, initialSchema: StructType,
                 val partitionCols: Seq[String] = Nil,
                 val rowLevelMode: String = GraftTable.CopyOnWrite,
                 val bucketSpec: Option[(Int, String)] = None,
                 initialChecks: Map[String, GraftConstraints.Check] =
                   Map.empty)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsDeleteV2
    with SupportsMetadataColumns {

  /** Metadata columns (Delta's `_metadata`, Iceberg's `_file`/`_pos`):
    * `_file_id` = ordinal of the row's data file in the current file
    * vector, `_row_pos` = the row's position within that file — the
    * file-level audit surface (joinable against `t$files`) and the
    * stable row address a merge-on-read delete vector needs. Served by
    * the scan only when the query references them; never materialized
    * otherwise. */
  override def metadataColumns(): Array[MetadataColumn] =
    if (rowTrackingEnabled)
      GraftTable.MetaColumns ++ GraftTable.TrackMetaColumns
    else GraftTable.MetaColumns

  // evolves under ADD COLUMNS (append-only, so the partition ordinals
  // below stay valid for the table's whole life)
  // every field carries a FIELD ID (Iceberg's column mapping): renames
  // keep the id, so projections and the change data feed match columns
  // across schema versions by identity, not by name
  @volatile private var tableSchema: StructType = FieldIds.assign(initialSchema)

  // MONOTONIC field-id counter (never reused, like Iceberg's
  // max-column-id): an ADD after a DROP must not inherit the dropped
  // column's id, or identity matching would hand the old column's
  // historical values to the new one
  private var nextFieldId: Long = FieldIds.nextId(tableSchema)

  /** ROW TRACKING enabled? Stamped in field metadata (like
    * `bloom.columns`), so the flag persists in the log and reaches
    * every restart/foreign process with the schema. */
  private[sources] def rowTrackingEnabled: Boolean =
    GraftTable.rowTrackingStamped(tableSchema)

  // next `_row_id` to mint — MONOTONIC per chain, persisted O(1) in
  // every commit's params and recovered from the latest entry on
  // restart/foreign sync; never rewound (RESTORE moves state, not ids)
  private var rowIdHw: Long = 0L

  // partition/bucket bindings resolve by NAME against whichever schema
  // a caller binds ([[boundGroupKeyFor]]) — DROP COLUMN shifts ordinals,
  // so nothing caches them (dropping a partition or bucket-source column
  // itself is rejected)

  private def keyOfOpt: Option[InternalRow => Seq[Any]] =
    boundGroupKeyFor(tableSchema)

  /** In-JVM ADD COLUMN and ALTER COLUMN TYPE: rebuild every heap file
    * through `rewrite` (a positional row transform that PRESERVES row
    * order and count) under `newSchema`. The group key binds against the
    * NEW schema — the rewritten rows' layout — never the table's current
    * one. */
  private def rebuildFiles(newSchema: StructType,
      rewrite: InternalRow => InternalRow): Unit = {
    val keyOf = boundGroupKeyFor(newSchema)
    installRebuilt(files.map { f =>
      val nf = GraftDataFile.build(f.rows.map(rewrite), newSchema, keyOf)
      nf.track = f.track // positional contract: same rows, same order
      f -> nf
    })
  }

  /** Swap in the positional rebuild `pairs` (old file -> new file):
    * delete vectors follow their file (positions preserved), and the
    * rebuilt state publishes BEFORE the caller swaps the schema — a
    * scan builder created in the window between the two assignments
    * must pair the new files with the OLD schema (safe for adds — old
    * ordinals resolve against wider rows; loud for drops — out of
    * bounds), never the NEW (narrower) schema with the old files, which
    * would silently read shifted ordinals. snap() republishes at the end
    * of the change as before. */
  private def installRebuilt(
      pairs: Vector[(GraftDataFile, GraftDataFile)]): Unit = {
    dvs = dvs.flatMap { case (of, bs) =>
      pairs.find(_._1 eq of).map(_._2 -> bs)
    }
    files = pairs.map(_._2)
    readState = (files, dvs)
  }

  /** DROP COLUMN's rebuild, on either store: one positional
    * [[GraftRewrite.compact]] job per file ([[runTasks]]) reads the
    * `keep` ordinals of every stored row — from the segment where it
    * lies, or a heap file's rows — and lands the rebuilt file, so a
    * 100 TB drop spreads across the cluster instead of moving every row
    * through driver heap. Row order and count are preserved, so delete
    * vectors re-key to the new files by position and row identity
    * carries 1:1. A position view rebuilds its whole base segment and
    * becomes the same view over the rebuilt one: its selection,
    * `_row_id`s and delete vector keep their original positions exactly
    * (a durable table's; an in-JVM table cannot hold the rebuilt base,
    * and `viewOf` refuses). */
  private def rebuildFilesDistributed(newSchema: StructType,
      keep: Array[Int]): Unit = {
    val rebuilt = runTasks()(spec => files.zipWithIndex.map { case (f, i) =>
      val in = GraftTable.inputOf(f, tableSchema,
        scala.collection.immutable.BitSet.empty, Nil, keep) match {
        // a view reads its base's every position
        case s: GraftSegmentScanPartition =>
          s.copy(sel = Array.empty, selExclude = false)
        case heap => heap
      }
      GraftCompactJob(Seq(in), spec.copy(schemaJson = newSchema.json,
        rowTracking = false), i, Nil, Int.MaxValue, positional = true)
    })(GraftRewrite.compact)
    installRebuilt(files.zip(rebuilt).map { case (of, out) =>
      val nf = adopt(out.toSeq, newSchema).head
      // explicit vectors re-materialize beside the rebuilt segment
      nf.track = GraftRowTrack.carry(of.track, nf)
      of -> of.viewSel.fold(nf) { case (bs, ex) =>
        GraftDataFile.viewOf(nf, bs, ex)
      }
    })
  }

  /** Schema evolution under the commit lock: ADD COLUMNS (nullable,
    * appended; stored rows pad with NULL), RENAME COLUMN (metadata-only —
    * the FIELD ID travels with the column, so cross-version matching in
    * the change data feed and stream projections survives the rename),
    * and DROP COLUMN (rows rebuild without the ordinal; partition /
    * bucket-source columns are protected). ALTER COLUMN TYPE serves
    * LOSSLESS WIDENINGS without a rewrite (the parquet reader upcasts
    * at decode — Delta's typeWidening); narrowing, other type changes,
    * and positioned adds are rejected loudly rather than silently
    * corrupting stored rows.
    *
    * Publish order for the lock-free readers: rebuilt FILES install
    * first, the new schema second. For adds a concurrent old-schema scan
    * over wide rows is safe (old ordinals resolve); for drops the worst
    * case is a LOUD out-of-bounds on a racing scan, never a silent
    * wrong-column read (schema-first would shift ordinals under the old
    * rows). */
  private[sources] def applyChanges(changes: Seq[TableChange]): Unit =
    mutate {
      var widened = false
      var alterParams = Map.empty[String, String]
      changes.foreach {
        case add: TableChange.AddColumn =>
          if (add.fieldNames.length != 1)
            throw new UnsupportedOperationException(
              "only top-level ADD COLUMNS is supported")
          val name = add.fieldNames.head
          if (tableSchema.fieldNames.exists(_.equalsIgnoreCase(name)))
            throw new IllegalArgumentException(s"column $name already exists")
          if (!add.isNullable)
            throw new UnsupportedOperationException(
              s"added column $name must be nullable: existing rows read NULL")
          if (add.position != null)
            throw new UnsupportedOperationException(
              "added columns append at the end (no FIRST/AFTER)")
          // ADD COLUMN ... DEFAULT (r19 — the SQL EXISTS_DEFAULT
          // contract): existing rows read the default, future INSERTs
          // without the column get it too. The literal must fold at
          // ALTER time (fail fast, driver-side); the READ-side
          // backfill is stateless — GraftSegmentIO fills a requested
          // field whose id is absent from a file's FOOTER, so
          // checkpoint folds, clones and foreign processes all serve
          // it with zero extra state. The add stays metadata-only.
          // the ALTER session's zone is CAPTURED with the default:
          // the read-side backfill and the insert-side fill must agree
          // on a timezone-sensitive literal whatever zone later
          // sessions run under (r20, the r19-advice fix)
          val declTz = org.apache.spark.sql.internal.SQLConf.get
            .sessionLocalTimeZone
          val defaultSql = Option(add.defaultValue).map { dv =>
            val sql = dv.getSql
            try {
              val lit = GraftTable.evalDefault(sql, add.dataType, declTz)
              if (lit == null && !add.isNullable)
                throw new IllegalArgumentException("NULL default on a " +
                  "non-nullable column")
            } catch {
              case scala.util.control.NonFatal(e) =>
                throw new UnsupportedOperationException(
                  s"added column $name: DEFAULT $sql must be a literal " +
                    s"of ${add.dataType.simpleString} — ${e.getMessage}")
            }
            sql
          }
          val oldFields = tableSchema.fields
          val mdb = new org.apache.spark.sql.types.MetadataBuilder()
          defaultSql.foreach { sql =>
            mdb.putString("CURRENT_DEFAULT", sql)
            mdb.putString("EXISTS_DEFAULT", sql)
            mdb.putString(GraftTable.ExistsDefaultTzMeta, declTz)
          }
          val newSchema = StructType(oldFields :+
            FieldIds.withId(org.apache.spark.sql.types.StructField(
              name, add.dataType, nullable = true,
              metadata = mdb.build()), nextFieldId))
          nextFieldId += 1
          if (durable.isDefined && files.forall(_.persisted)) {
            // METADATA-ONLY on durable tables (the Delta/Iceberg ADD
            // COLUMN contract): no row is rewritten — each live file's
            // segment handle re-points at the widened schema, and the
            // parquet reader null-pads the requested field id the file
            // doesn't contain. An ADD COLUMN on a 100 TB table costs a
            // log entry, not a table rewrite. (Restart replays decode
            // files against their entries' schemas and inherit the same
            // padding — this just brings the live objects in line.)
            files.foreach(_.resegment(newSchema))
            readState = (files, dvs)
          } else {
            // in-JVM tables: heap rows carry no capture schema, so the
            // stored arrays must match the table layout — rebuild (the
            // test fast-path; data is small by construction)
            val width = oldFields.length
            val dts = oldFields.map(_.dataType)
            val fillVal = defaultSql
              .map(GraftTable.evalDefault(_, add.dataType, declTz)).orNull
            rebuildFiles(newSchema, { r =>
              val vals = new Array[Any](width + 1)
              var i = 0
              while (i < width) { vals(i) = r.get(i, dts(i)); i += 1 }
              // null without a DEFAULT; the EXISTS_DEFAULT value with
              vals(width) = fillVal
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                vals): InternalRow
            })
          }
          tableSchema = newSchema // widens over padded rows — safe

        case ren: TableChange.RenameColumn =>
          if (ren.fieldNames.length != 1)
            throw new UnsupportedOperationException(
              "only top-level RENAME COLUMN is supported")
          val from = ren.fieldNames.head
          val idx = tableSchema.fieldNames.indexWhere(_.equalsIgnoreCase(from))
          if (idx < 0)
            throw new IllegalArgumentException(s"no such column: $from")
          if (tableSchema.fieldNames.exists(_.equalsIgnoreCase(ren.newName)))
            throw new IllegalArgumentException(
              s"column ${ren.newName} already exists")
          if (partitionCols.exists(_.equalsIgnoreCase(from)) ||
              bucketSpec.exists(_._2.equalsIgnoreCase(from)))
            throw new UnsupportedOperationException(
              s"cannot rename partition/bucket column $from " +
                "(the table's transforms reference it by name)")
          // a CHECK constraint's stored TEXT references the column by
          // name; renaming under it would keep enforcement correct (the
          // binding is ordinal) but advertise a constraint no recompile
          // could honor — drop the constraint first (Delta's rule)
          checks.foreach { case (cname, c) =>
            c.expr.foreach {
              case b: org.apache.spark.sql.catalyst.expressions.BoundReference
                  if b.ordinal == idx =>
                throw new UnsupportedOperationException(
                  s"cannot rename column $from: CHECK constraint " +
                    s"'$cname' (${c.text}) references it — drop the " +
                    "constraint first")
              case _ => ()
            }
          }
          // metadata-only: rows and files untouched, the field id rides
          tableSchema = StructType(tableSchema.fields.zipWithIndex.map {
            case (f, i) => if (i == idx) f.copy(name = ren.newName) else f
          })

        case del: TableChange.DeleteColumn =>
          if (del.fieldNames.length != 1)
            throw new UnsupportedOperationException(
              "only top-level DROP COLUMN is supported")
          val name = del.fieldNames.head
          val idx = tableSchema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          if (idx < 0)
            throw new IllegalArgumentException(s"no such column: $name")
          if (tableSchema.length == 1)
            throw new UnsupportedOperationException(
              "cannot drop the only column")
          if (partitionCols.exists(_.equalsIgnoreCase(name)) ||
              bucketSpec.exists(_._2.equalsIgnoreCase(name)))
            throw new UnsupportedOperationException(
              s"cannot drop partition/bucket column $name")
          // CHECK constraints: one referencing the dropped column blocks
          // the drop (drop the constraint first — Delta's rule); the
          // rest re-bind their ordinals to the narrowed layout
          checks.foreach { case (cname, c) =>
            c.expr.foreach {
              case b: org.apache.spark.sql.catalyst.expressions.BoundReference
                  if b.ordinal == idx =>
                throw new UnsupportedOperationException(
                  s"cannot drop column $name: CHECK constraint '$cname' " +
                    s"(${c.text}) references it — drop the constraint first")
              case _ => ()
            }
          }
          checks = checks.map { case (cname, c) =>
            cname -> c.copy(expr = c.expr.transform {
              case b: org.apache.spark.sql.catalyst.expressions.BoundReference
                  if b.ordinal > idx =>
                b.copy(ordinal = b.ordinal - 1)
            })
          }
          val oldFields = tableSchema.fields
          val newSchema = StructType(
            oldFields.zipWithIndex.filter(_._2 != idx).map(_._1))
          val keep = oldFields.indices.filter(_ != idx).toArray
          rebuildFilesDistributed(newSchema, keep)
          tableSchema = newSchema // after the narrow rows — loud, not wrong

        case sp: TableChange.SetProperty
            if sp.property.startsWith(GraftConstraints.Prefix) =>
          val cname = sp.property.stripPrefix(GraftConstraints.Prefix)
          val chk = GraftConstraints.compile(sp.value, tableSchema)
          // Delta semantics: adding a constraint validates EXISTING rows
          val live = files.iterator.flatMap(effRows)
          live.foreach { r =>
            if (chk.violates(r))
              throw new IllegalStateException(
                s"$tableName: cannot add CHECK constraint '$cname' (" +
                  s"${chk.text}): an existing row violates it")
          }
          checks = checks.updated(cname, chk)

        case rp: TableChange.RemoveProperty
            if rp.property.startsWith(GraftConstraints.Prefix) =>
          checks = checks - rp.property.stripPrefix(GraftConstraints.Prefix)

        // bloom-index evolution (Delta: ALTER + a rewrite backfills):
        // the flag set REPLACES wholesale in the schema metadata.
        // Existing files keep serving without filters (bloom absence is
        // conservative by construction); new writes build them, and an
        // OPTIMIZE backfills the old files through the shared stats
        // kernel — index creation on a 100 TB table is a property flip
        // plus an incremental compaction, never a blocking scan.
        case sp: TableChange.SetProperty
            if sp.property == GraftBloom.BloomProp =>
          // re-stamping REPLACES the column set but keeps the table's
          // bloom.fpp sizing in force (set at CREATE or by a prior
          // ALTER) — dropping it would silently revert new files to the
          // 10-bits/key default
          tableSchema = GraftBloom.stamp(
            GraftBloom.unstamp(tableSchema), sp.value,
            GraftBloom.fppOf(tableSchema))
          readState = (files, dvs)
        case sp: TableChange.SetProperty
            if sp.property == GraftBloom.FppProp =>
          // re-size: same column set, new fpp; refuses a malformed
          // value loudly (bitsForFpp's range check). Old files keep
          // their filters — sizing applies to new builds, OPTIMIZE
          // re-sizes incrementally (same contract as column flips)
          val cols = GraftBloom.stampedCols(tableSchema)
          tableSchema = GraftBloom.stamp(
            GraftBloom.unstamp(tableSchema), cols.mkString(","),
            Some(sp.value.toDouble))
          readState = (files, dvs)
        case rp: TableChange.RemoveProperty
            if rp.property == GraftBloom.FppProp =>
          val cols = GraftBloom.stampedCols(tableSchema)
          tableSchema = GraftBloom.stamp(
            GraftBloom.unstamp(tableSchema), cols.mkString(","), None)
          readState = (files, dvs)
        case rp: TableChange.RemoveProperty
            if rp.property == GraftBloom.BloomProp =>
          tableSchema = GraftBloom.unstamp(tableSchema)
          readState = (files, dvs)

        // ROW TRACKING enablement mid-life (Delta's ALTER TABLE SET
        // TBLPROPERTIES delta.enableRowTracking): metadata-only — every
        // existing file takes an arithmetic track at this commit's
        // snap() (deterministic: file order x rowCounts from the
        // pre-commit high-water mark, so a replaying process assigns
        // identically), new writes mint beyond. Disable just unstamps;
        // assigned tracks stay dormant on the file objects.
        case sp: TableChange.SetProperty
            if sp.property == GraftTable.RowTrackingProp =>
          sp.value match {
            case "true" =>
              if (!rowTrackingEnabled) {
                alterParams += (GraftTable.RowIdBackfillParam ->
                  rowIdHw.toString)
                tableSchema = GraftTable.stampRowTracking(tableSchema)
              }
            case "false" =>
              tableSchema = GraftTable.unstampRowTracking(tableSchema)
            case other => throw new IllegalArgumentException(
              s"${GraftTable.RowTrackingProp} must be 'true' or " +
                s"'false', got '$other'")
          }
          readState = (files, dvs)
        case rp: TableChange.RemoveProperty
            if rp.property == GraftTable.RowTrackingProp =>
          tableSchema = GraftTable.unstampRowTracking(tableSchema)
          readState = (files, dvs)

        // per-table retention flips (round 20): metadata-only — the
        // NEXT commit's slide (and RETAIN-less VACUUM) honor the new
        // window; setting one half keeps the other
        case sp: TableChange.SetProperty
            if sp.property == GraftTable.RetentionSnapshotsProp =>
          tableSchema = GraftTable.stampRetention(tableSchema,
            Some(sp.value.toInt),
            GraftTable.retentionHoursOf(tableSchema))
          readState = (files, dvs)
        case sp: TableChange.SetProperty
            if sp.property == GraftTable.RetentionHoursProp =>
          tableSchema = GraftTable.stampRetention(tableSchema,
            GraftTable.retentionSnapshotsOf(tableSchema),
            Some(sp.value.toDouble))
          readState = (files, dvs)
        case rp: TableChange.RemoveProperty
            if rp.property == GraftTable.RetentionSnapshotsProp =>
          tableSchema = GraftTable.stampRetention(tableSchema, None,
            GraftTable.retentionHoursOf(tableSchema))
          readState = (files, dvs)
        case rp: TableChange.RemoveProperty
            if rp.property == GraftTable.RetentionHoursProp =>
          tableSchema = GraftTable.stampRetention(tableSchema,
            GraftTable.retentionSnapshotsOf(tableSchema), None)
          readState = (files, dvs)

        // auto-compaction policy flips: metadata-only, next commit's
        // hook sees the new threshold (or none) — no blocking rewrite
        case sp: TableChange.SetProperty
            if sp.property == GraftTable.AutoCompactProp =>
          tableSchema = GraftTable.stampAutoCompact(
            GraftTable.unstampAutoCompact(tableSchema),
            GraftTable.parseAutoCompact(sp.value))
          readState = (files, dvs)
        case rp: TableChange.RemoveProperty
            if rp.property == GraftTable.AutoCompactProp =>
          tableSchema = GraftTable.unstampAutoCompact(tableSchema)
          readState = (files, dvs)

        // CLUSTER BY flips (r18): metadata-only — existing files keep
        // serving under their current layout, the next plain OPTIMIZE
        // re-clusters along the (new) keys; UNSET reverts OPTIMIZE to
        // plain bin-packing
        case sp: TableChange.SetProperty
            if sp.property == GraftTable.ClusterByProp =>
          val cs = sp.value.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
          if (cs.isEmpty) throw new IllegalArgumentException(
            s"${GraftTable.ClusterByProp} needs at least one column")
          if (bucketSpec.isDefined)
            throw new UnsupportedOperationException(
              s"$tableName: ${GraftTable.ClusterByProp} cannot combine " +
                "with bucketing — the file layout is hash-owned")
          if (partitionCols.nonEmpty)
            throw new UnsupportedOperationException(
              s"$tableName: ${GraftTable.ClusterByProp} replaces hard " +
                "partitioning — evolve the spec to unpartitioned first")
          GraftZCurve.checkCols(tableSchema, cs)
          tableSchema = GraftTable.stampClusterBy(
            GraftTable.unstampClusterBy(tableSchema), cs)
          readState = (files, dvs)
        case rp: TableChange.RemoveProperty
            if rp.property == GraftTable.ClusterByProp =>
          tableSchema = GraftTable.unstampClusterBy(tableSchema)
          readState = (files, dvs)

        // ALTER COLUMN ... TYPE — lossless type WIDENING without a
        // rewrite (Delta's typeWidening / Iceberg's type promotion):
        // the parquet reader upcasts stored narrow values when the
        // requested schema says the wide type, so a 100 TB widen costs
        // a log entry. The live census re-types into twins (converted
        // zone values, re-pointed handles, carried blooms — integral
        // hashes are longValue-based so they answer wide lookups
        // bit-identically); history keeps the old-typed objects, which
        // time travel serves under the old schema.
        case upd: TableChange.UpdateColumnType =>
          if (upd.fieldNames.length != 1)
            throw new UnsupportedOperationException(
              "only top-level ALTER COLUMN TYPE is supported")
          val name = upd.fieldNames.head
          val idx = tableSchema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
          if (idx < 0)
            throw new IllegalArgumentException(s"no such column: $name")
          val from = tableSchema.fields(idx).dataType
          val to = upd.newDataType
          if (!GraftDataFile.widens(from, to))
            throw new UnsupportedOperationException(
              s"cannot change column $name from $from to $to: only " +
                "lossless widenings serve without a rewrite " +
                "(TINYINT/SMALLINT/INT to a wider integral, " +
                "FLOAT to DOUBLE)")
          if (partitionCols.exists(_.equalsIgnoreCase(name)) ||
              bucketSpec.exists(_._2.equalsIgnoreCase(name)))
            throw new UnsupportedOperationException(
              s"cannot widen partition/bucket column $name: group keys " +
                "are typed by the layout — evolve the partitioning " +
                "off the column first")
          // generation expressions are compiled against the narrow
          // type; evaluating them into (or from) a widened column would
          // store the wrong representation — refuse both directions
          val wf = tableSchema.fields(idx)
          if (wf.metadata.contains(GraftFill.GeneratedKey) ||
              wf.metadata.contains(GraftFill.IdentityKey))
            throw new UnsupportedOperationException(
              s"cannot widen identity/generated column $name")
          GraftFill.generatedCols(tableSchema).foreach { g =>
            g.check.expr.foreach {
              case b: org.apache.spark.sql.catalyst.expressions.BoundReference
                  if b.ordinal == idx =>
                throw new UnsupportedOperationException(
                  s"cannot widen column $name: generated column " +
                    s"${g.name} computes from it")
              case _ => ()
            }
          }
          val newSchema = StructType(tableSchema.fields.zipWithIndex.map {
            case (f, i) => if (i == idx) f.copy(dataType = to) else f
          })
          if (durable.isDefined && files.forall(_.persisted)) {
            val twins = files.map(GraftDataFile.retyped(_, idx, newSchema))
            dvs = files.lazyZip(twins).flatMap { (of, nf) =>
              dvs.get(of).map(nf -> _)
            }.toMap
            files = twins
          } else {
            // in-JVM: heap rows carry no capture schema — rebuild with
            // the upcast applied (the test fast-path)
            val oldFields = tableSchema.fields
            val dts = oldFields.map(_.dataType)
            rebuildFiles(newSchema, { r =>
              val vals = new Array[Any](oldFields.length)
              var i = 0
              while (i < oldFields.length) {
                vals(i) = if (r.isNullAt(i)) null else r.get(i, dts(i))
                i += 1
              }
              vals(idx) = (vals(idx), to) match {
                case (null, _) => null
                case (n: java.lang.Number,
                      org.apache.spark.sql.types.LongType) => n.longValue
                case (n: java.lang.Number,
                      org.apache.spark.sql.types.IntegerType) => n.intValue
                case (n: java.lang.Number,
                      org.apache.spark.sql.types.ShortType) => n.shortValue
                case (n: java.lang.Number,
                      org.apache.spark.sql.types.DoubleType) => n.doubleValue
                case (v, _) => v
              }
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                vals): InternalRow
            })
          }
          // CHECK constraints re-bind against the wide type (their
          // comparisons upcast; the texts are unchanged)
          checks = checks.map { case (n, c) =>
            n -> GraftConstraints.compile(c.text, newSchema)
          }
          tableSchema = newSchema
          readState = (files, dvs)
          widened = true

        case other => throw new UnsupportedOperationException(
          s"unsupported table change: $other")
      }
      // a commit, but NOT a data change: the rebuilt files hold the same
      // logical rows, so CDC and streaming tails deliver nothing. A
      // WIDEN gets its own op tag: pre-widen change records carry the
      // narrow representation, so CDF/streaming reads crossing it must
      // refuse (see assertCdfRangeReadable) — additive ALTERs need not.
      snap(if (widened) GraftTable.WidenOp else "ALTER TABLE",
        params = alterParams)
      // mid-life row-tracking ENABLEMENT persists its backfill through
      // a forced checkpoint: the backfilled tracks of pre-existing
      // files never re-encode in a delta entry, so the full-state
      // anchor is what carries them to restarts (foreign live readers
      // replay the same deterministic assignment off the params)
      if (alterParams.contains(GraftTable.RowIdBackfillParam))
        durable.foreach { d =>
          val e = history.last
          val checksTxt = checks.map { case (k, c) => k -> c.text }
          val (manifest, parts) = GraftLogCodec.encodeCheckpoint(e,
            partitionCols, bucketSpec, d.log.dir, checksTxt, nextFieldId,
            epochLedger, GraftTable.checkpointPartFiles, checkpointLayout,
            colStats)
          d.log.installCheckpoint(e.version, manifest, parts)
          d.addAnchor(e.version)
        }
    }

  /** Partition-group key of a stored row: the identity partition
    * columns' values in declaration order, or — on a bucketed table —
    * the row's bucket id (through the SAME kernel the catalog `bucket`
    * function and the write-side clustering use). [[boundGroupKey]]
    * binds the ordinals ONCE against the current schema — per-row loops
    * must use it rather than re-resolving per row. */
  private[sources] def boundGroupKey(): InternalRow => Seq[Any] =
    boundGroupKeyFor(tableSchema).getOrElse(_ => Nil)

  /** [[boundGroupKey]] bound against an EXPLICIT schema (schema-
    * evolution rebuilds pass the post-evolution layout). None when the
    * table has no grouping. */
  private def boundGroupKeyFor(schema: StructType)
      : Option[InternalRow => Seq[Any]] =
    GraftGroupKeys.keyOf(schema, partitionCols, bucketSpec)

  private[sources] def groupKeyOf(r: InternalRow): Seq[Any] =
    boundGroupKey()(r)

  @volatile private var tableName: String = initialName
  @volatile private var files: Vector[GraftDataFile] = Vector.empty
  /** Test/inspection hook: the current file census (immutable). */
  private[sources] def filesSnapshot: Vector[GraftDataFile] = files

  /** ANALYZE TABLE's column statistics: per column [ndv, nullCount,
    * avgLen, maxLen] — served to Catalyst's CBO through the scan's
    * `Statistics.columnStats()` and persisted in every log entry (like
    * the checks/epoch state), so restarts and foreign readers plan with
    * the same inputs. A snapshot as of the ANALYZE: later writes leave
    * it stale until the next ANALYZE, the standard CBO convention. */
  @volatile private var colStats: Map[String, Array[Long]] = Map.empty
  private[sources] def columnStatsSnapshot: Map[String, Array[Long]] =
    colStats
  private[sources] def setColStats(m: Map[String, Array[Long]]): Unit =
    mutate {
      colStats = m
      snap("ANALYZE") // stats change, zero logical row changes
    }

  /** Identity/generated-column fill recipe of one write (None when the
    * table has neither): identity value blocks reserve off the
    * persisted high-water ledger here, and the commit verifies the
    * reservation still holds ([[withIdentityReserved]]). With
    * `rowLevel` (a row-level rewrite) carried identity values pass
    * through, merge-INSERTED rows mint from the rewrite's own block,
    * and generated columns RECOMPUTE on delivery, so an UPDATE touching
    * a generation source never leaves the derived column stale
    * (Delta's semantics). */
  private[sources] def fillSpecOf(rowLevel: Boolean): Option[GraftFillSpec] = {
    val ids = GraftFill.identityCols(tableSchema)
    val gens = GraftFill.generatedCols(tableSchema)
    if (ids.isEmpty && gens.isEmpty) None
    else {
      refreshIfStale() // reserve off the latest foreign high-water
      val bases = ids.map { id =>
        math.max(id.start, epochLedger.getOrElse(
          GraftFill.IdentityLedgerPrefix + id.name, id.start))
      }
      Some(GraftFillSpec(tableSchema.json, ids, bases, gens, rowLevel))
    }
  }

  /** `base` behind the identity reservation check of `fs` — unchanged
    * when the write mints no identity values. */
  private def withIdentityReserved(fs: Option[GraftFillSpec],
      base: Array[GraftDelivery] => Unit): Array[GraftDelivery] => Unit =
    fs match {
      case Some(f) if f.identities.nonEmpty =>
        ds => installIdentityReserved(f, ds, base)
      case _ => base
    }

  /** DELETE VECTORS (merge-on-read): per data file, the positions a MOR
    * row-level operation has deleted WITHOUT rewriting the file — the
    * Delta/Iceberg-v2 deletion-vector mechanism: at 100 TB, deleting a
    * thousand rows costs a thousand bits, not a file rewrite. Keyed by
    * file IDENTITY (files are immutable), swapped immutably per commit
    * and captured in the history, so time travel and clones see the
    * right positions. Always empty on copy-on-write tables. */
  @volatile private var dvs: Map[GraftDataFile, scala.collection.immutable.BitSet] =
    Map.empty

  /** CHECK constraints (name -> compiled check). Every write's rows
    * validate against ALL of them in the writer task, which fails on
    * the first violating row, and the commit refuses rows validated
    * against a set that has since changed ([[adoptDeliveries]] compares
    * the fingerprints). Adding one validates the existing rows first —
    * the table can never hold a violating row. */
  @volatile private var checks: Map[String, GraftConstraints.Check] =
    initialChecks

  private[sources] def currentChecks: Map[String, GraftConstraints.Check] =
    checks

  /** A file's delete vector (empty when it has none). */
  private def deadOf(f: GraftDataFile): scala.collection.immutable.BitSet =
    dvs.getOrElse(f, scala.collection.immutable.BitSet.empty)

  /** A file's LIVE rows (delete vector applied). */
  private def effRows(f: GraftDataFile): Array[InternalRow] =
    GraftDataFile.liveRows(f.rows, deadOf(f))

  /** Pseudo-file holding the given POSITIONS of `f` (CDC/diff helper).
    * Persisted base ⇒ a position VIEW: the commit records positions,
    * never loads or re-encodes the rows (the driver does O(positions)
    * work for a 100 TB table's delete, not O(deleted bytes)). Heap-only
    * base ⇒ the rows are already resident; copy as before. */
  private def pseudoOf(f: GraftDataFile,
      positions: Iterable[Int]): Option[GraftDataFile] = {
    val ps = positions.toArray.sorted
    if (ps.isEmpty) None
    else if (f.persisted)
      Some(GraftDataFile.viewOf(f,
        scala.collection.immutable.BitSet.fromSpecific(ps), exclude = false))
    else {
      val g = GraftDataFile.build(ps.map(f.rows(_)), tableSchema, keyOfOpt)
      // heap copy renumbers positions: carry the rows' identities as
      // an explicit vector so the change feed still serves them
      val t = f.track
      if (t != null)
        g.track = new GraftRowTrack(-1L, t.ver,
          ps.map(t.idAt), ps.map(t.verAt), explicit = true)
      Some(g)
    }
  }

  /** CDC view of a file set: EFFECTIVE rows only (a DV'd file's dead
    * positions were already reported deleted by the MOR commit that
    * killed them, so neither a removal nor an adoption may re-report
    * them). Files without a vector ride by reference. */
  private def cdcLiveView(fs: Vector[GraftDataFile]): Vector[GraftDataFile] =
    fs.flatMap { f =>
      dvs.get(f) match {
        case None => Some(f)
        case Some(bs) if f.rowCount - bs.size <= 0 => None
        case Some(bs) =>
          // persisted base: an EXCLUDE view (DV positions) — the CDC
          // record costs the DV, never a row load/re-encode
          if (f.persisted)
            Some(GraftDataFile.viewOf(f, bs, exclude = true))
          else {
            val live = (0 until f.rowCount).filterNot(bs.contains).toArray
            if (live.isEmpty) None
            else {
              val g = GraftDataFile.build(live.map(f.rows(_)),
                tableSchema, keyOfOpt)
              val t = f.track
              if (t != null)
                g.track = new GraftRowTrack(-1L, t.ver,
                  live.map(t.idAt), live.map(t.verAt), explicit = true)
              Some(g)
            }
          }
      }
    }

  /** Drop DV entries whose file left the current file vector. */
  private def pruneDvs(): Unit =
    if (dvs.nonEmpty) {
      val live = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[GraftDataFile, java.lang.Boolean]())
      files.foreach(live.add)
      dvs = dvs.filter { case (f, _) => live.contains(f) }
    }

  /** Data-skipping census of the most recent scan BUILD against this
    * table (set even when no filters pushed — then filesRead ==
    * filesTotal). Diagnostic surface for specs and capacity planning. */
  @volatile var lastScanCensus: Option[ScanCensus] = None

  /** Commit history for time travel, index-aligned neither to versions
    * nor timestamps — each entry carries its own version number, so
    * RETENTION can drop old entries without renumbering. Entry 0 of a
    * fresh table = the empty just-created state. File vectors are
    * copy-on-write everywhere (every install builds a new vector), so
    * entries hold references — a snapshot costs one Vector cell plus the
    * file handles, never a data copy. Bounded: once the history exceeds
    * [[GraftTable.historyRetention]] commits, the oldest entries retire
    * (their file references drop, so superseded row arrays become
    * collectable) and reads of those versions fail loudly — Delta's log
    * retention, not an unbounded leak. */
  // seeded with the ID-ASSIGNED schema (not the raw initialSchema):
  // entry 0 must compare equal to the running schema, or RESTORE TO
  // VERSION AS OF 0 would spuriously read as a cross-schema restore
  @volatile private var history: Vector[CommitEntry] =
    Vector(CommitEntry(0, tableSchema, Vector.empty,
      GraftClock.nowMicros()))

  /** (files, delete vectors) as ONE volatile cell, republished at the
    * end of every commit: lock-free readers must never observe commit
    * N's file vector with commit N+1's delete vectors (a mix that could
    * show deletes applied but the same commit's inserts missing). Scans
    * bind to this pair. */
  @volatile private var readState: (Vector[GraftDataFile],
      Map[GraftDataFile, scala.collection.immutable.BitSet]) =
    (Vector.empty, Map.empty)

  // ---- REPLACE TABLE lineage ------------------------------------------
  /** Layouts superseded by atomic REPLACEs, ascending by version:
    * `(untilVersion, partitionCols, bucketSpec)` — retained commits at
    * or below `untilVersion` were written under that layout. Time
    * travel / clones of pre-replace versions must bind THAT layout
    * (their files' group keys were computed under it), not the current
    * one. Empty on never-replaced tables. */
  @volatile private[sources] var priorLayouts
      : List[(Int, Seq[String], Option[(Int, String)])] = Nil

  /** True once this table's log carries a REPLACE swap anywhere in its
    * life (even if retention dropped it): checkpoints must then embed
    * their layout, because table.json only records the CREATION layout
    * and a fold starting from a post-replace checkpoint would otherwise
    * decode group keys under the wrong columns. */
  @volatile private[sources] var everReplaced: Boolean = false

  /** Set on BRANCH tables only: (branch name, fork version). The fork
    * version is the main-chain commit this branch's creation snapshot
    * copied — the ancestry anchor FAST FORWARD checks against. */
  @volatile private[sources] var branchMeta: Option[(String, Int)] = None

  /** BRANCH tables: the declared ref age (`CREATE BRANCH b RETAIN h
    * HOURS`), re-read from `_branch.json` at load. Backs the r19
    * resolve-time expiry refusal — see [[requireBranchNotExpired]]. */
  @volatile private[sources] var refAgeHoursDeclared: Option[Double] = None

  /** Append one ref-lifecycle audit event (r19 — the `t$refs_log`
    * relation): action ∈ CREATE/DROP/ALTER/EXPIRE × BRANCH/TAG plus
    * FAST_FORWARD / CHERRY_PICK / MERGE_BRANCH. Durable tables only
    * (refs are); `actor` records pid@host — the closest thing a
    * library engine has to "who". Never on a data path. */
  private[sources] def recordRefEvent(action: String, ref: String,
      kind: String, version: Int, details: String = ""): Unit =
    durable.foreach { d =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val actor = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getName
      val ts = GraftTableLog.nextRefEventMicros()
      d.log.appendRefEvent(JsonMethods.compact(JsonMethods.render(
        JObject(List(
          "ts" -> JLong(ts),
          "action" -> JString(action),
          "ref" -> JString(ref),
          "kind" -> JString(kind),
          "version" -> JInt(version),
          "details" -> JString(details),
          "actor" -> JString(actor))))), ts)
    }

  /** Resolve-time branch expiry (r19 — closes the tag/branch
    * asymmetry): an aged-out branch refuses the moment it is addressed
    * (as expired tags always have), instead of serving stale reads
    * until main's next sweep destroys the chain. A branch ages from
    * its LAST commit (an actively-written branch never expires), so
    * once this fires no write can revive it — the sweep's census is
    * the same arithmetic. The sweep still reclaims; this only closes
    * the serve-until-swept window. */
  private[sources] def requireBranchNotExpired(): GraftTable = {
    refAgeHoursDeclared.foreach { h =>
      val last = history.last.tsMicros
      val expiry = last + (h * 3600d * 1e6).toLong
      if (GraftClock.nowMicros() > expiry)
        throw new UnsupportedOperationException(
          s"$tableName: this branch EXPIRED at epoch-micros $expiry " +
            s"(RETAIN $h HOURS after its last commit at $last); the " +
            "next main-chain sweep reclaims it — re-fork from main, " +
            "rescue it (ALTER TABLE t ALTER BRANCH b RETAIN n HOURS), " +
            "or DROP BRANCH now")
    }
    this
  }

  /** Declarative per-chain snapshot retention (r18 —
    * `CREATE BRANCH b RETAIN n SNAPSHOTS`, persisted in the branch's
    * `_branch.json`): overrides the engine-wide
    * [[GraftTable.historyRetention]] for THIS chain's automatic
    * retention slide and for `VACUUM` without an explicit RETAIN. None
    * (every main chain, retention-less branches) keeps the global. */
  @volatile private[sources] var retainSnapshotsOverride: Option[Int] = None

  /** Declarative per-chain TIME-based snapshot retention (r19 —
    * `CREATE BRANCH b RETAIN h HOURS SNAPSHOTS`, Iceberg's
    * maxSnapshotAgeMs analog, persisted beside the count in
    * `_branch.json`): the automatic slide and declared-retention VACUUM
    * also drop snapshots OLDER than the window. Count and time compose
    * as min — a snapshot survives only inside both windows. */
  @volatile private[sources] var retainHoursOverride: Option[Double] = None

  /** Snapshots of `h` within the declared time window (all of them when
    * no window is declared). Ages off the commit timestamps and the
    * injectable [[GraftClock]], so specs pin the boundary. */
  private def withinRetainWindow(h: Vector[CommitEntry]): Int = {
    // branch declaration and table property compose as MIN (tightest
    // window wins) — the r20 per-table retention rides the schema
    val declared = (retainHoursOverride.toSeq ++
      GraftTable.retentionHoursOf(tableSchema)).minOption
    declared match {
      case Some(hours) =>
        val cutoff = GraftClock.nowMicros() - (hours * 3600d * 1e6).toLong
        h.count(_.tsMicros >= cutoff)
      case None => Int.MaxValue
    }
  }

  /** Declared COUNT window: branch declaration and table property
    * compose as min; neither declared → the engine-wide default. */
  private def declaredCountWindow: Int =
    (retainSnapshotsOverride.toSeq ++
      GraftTable.retentionSnapshotsOf(tableSchema)).minOption
      .getOrElse(GraftTable.historyRetention)

  /** The chain's effective snapshot-retention window over history `h`:
    * min of the count window (declared or engine-wide) and the declared
    * time window. The floor of 2 is structural: the change feed and
    * ancestry checks need at least the previous entry. */
  private def effectiveRetention(h: Vector[CommitEntry]): Int =
    math.max(2, math.min(declaredCountWindow, withinRetainWindow(h)))

  /** `VACUUM` WITHOUT a RETAIN clause honors the chain's DECLARED
    * retention (r18; extended by the r19 time window): count and time
    * compose as min; a time-only declaration keeps exactly the window
    * (never collapsing to the explicit-vacuum default of 1); no
    * declaration at all keeps the default 1. Floor 1 — VACUUM is the
    * explicit reclaim, the structural floor of 2 belongs to the
    * automatic slide. */
  private def declaredVacuumKeep: Int = {
    val c = (retainSnapshotsOverride.toSeq ++
      GraftTable.retentionSnapshotsOf(tableSchema)).minOption
    val t = (retainHoursOverride.toSeq ++
      GraftTable.retentionHoursOf(tableSchema)).minOption
    (c, t) match {
      case (None, None) => 1
      case _ => math.max(1, math.min(
        c.getOrElse(Int.MaxValue),
        if (t.isDefined) withinRetainWindow(history) else Int.MaxValue))
    }
  }

  /** The (partitionCols, bucketSpec) in effect at commit `v`. */
  private[sources] def layoutAt(v: Int): (Seq[String], Option[(Int, String)]) =
    priorLayouts.find(v <= _._1).map(p => (p._2, p._3))
      .getOrElse((partitionCols, bucketSpec))

  /** Newest RETAINED schema-breaking commit — a REPLACE swap (disjoint
    * field ids) or a type WIDENING (narrow pre-widen representations) —
    * as (version, op). Once retention drops it (and with it every
    * earlier entry — history is contiguous), the feed is uniform again
    * and no guard is needed. */
  private[sources] def lastSchemaBreakVersion: Option[(Int, String)] = {
    val h = history
    h.reverseIterator.find(e =>
      e.operation == GraftTable.ReplaceOp ||
        e.operation == GraftTable.WidenOp)
      .map(e => (e.version, e.operation))
  }

  private[sources] def lastReplaceVersion: Option[Int] =
    lastSchemaBreakVersion.map(_._1)

  /** Refuse a change-feed read whose version range is not entirely
    * ABOVE the newest retained schema break (Delta's contract: CDF does
    * not read across a non-additive schema change). Across a REPLACE
    * the field ids are disjoint — pre-replace change rows would
    * null-pad every column; across a WIDEN the ids match but pre-widen
    * rows carry the NARROW representation of the widened column —
    * serving them as wide rows would hand Catalyst mistyped values.
    * `lower` is the read's proven lower bound on `_commit_version`
    * (from pushed filters / the stream's start offset); None means
    * unbounded. */
  private[sources] def assertCdfRangeReadable(lower: Option[Int]): Unit =
    lastSchemaBreakVersion.foreach { case (r, op) =>
      if (!lower.exists(_ > r))
        throw new IllegalStateException(
          s"$tableName: the change feed crosses $op at " +
            s"version $r — earlier changes are expressed under an " +
            "incompatible schema (disjoint field ids across a replace; " +
            "a narrower column representation across a widen), so they " +
            "cannot be served as rows of the current schema. Constrain " +
            s"the read to _commit_version >= ${r + 1} (streaming: " +
            s"startingVersion >= ${r + 1}), or time-travel to an " +
            "earlier version for the old state.")
    }

  // ---- durable backing ------------------------------------------------
  /** None = in-JVM table (the historical mode); Some = every commit
    * persists parquet segments + a JSON log entry under the table dir
    * (see [[GraftTableDurability]]) and the table survives the JVM. */
  @volatile private[sources] var durable: Option[GraftTableDurability] = None

  /** Every mutating operation runs through here: the table monitor (in-
    * process), then — durable only — the cross-process commit lease plus
    * a replay of any log entries another writer landed since we last
    * looked. The replay is what makes the existing optimistic conflict
    * checks (identity-prefix, lost-update) fire correctly for a SECOND
    * PROCESS: its appends surface as new suffix files (appends both
    * land), its rewrites replace objects (prefix identity breaks → the
    * racing COW/MOR aborts). Lock order everywhere: table monitor →
    * per-dir JVM monitor → OS file lock. */
  private def mutate[T](body: => T): T = synchronized {
    durable match {
      case None => body
      case Some(d) => d.log.withCommitLock { syncFromLog(d); body }
    }
  }

  /** Cheap staleness probe for READS on a durable table: one
    * Files.exists on the next log entry; replay only when a foreign
    * commit actually exists. No-op on in-JVM tables. */
  private def refreshIfStale(): Unit = durable.foreach { d =>
    if (d.log.hasEntry(history.last.version + 1)) mutate(())
  }

  /** Replay foreign log entries (version > ours) into this table. */
  private def syncFromLog(d: GraftTableDurability): Unit = {
    val cur = history.last.version
    // a foreign VACUUM that retired the log PAST this writer frees the
    // very version numbers it would commit next — a stale CAS would
    // then FORK the log (our entry invisible to every fold, our base
    // unreachable). Our own last entry's presence is the cheap witness:
    // reclaim only ever deletes a prefix below its anchor, so entry
    // `cur` missing ⇔ the anchor moved past us. Checked inside the
    // commit lease, so it cannot race another process's reclaim.
    if (!d.log.hasEntry(cur))
      throw new java.util.ConcurrentModificationException(
        s"$tableName: this writer's base v$cur was retired by another " +
          "process's VACUUM; re-open the table to continue")
    if (d.log.hasEntry(cur + 1))
      d.log.readEntriesFrom(cur + 1).foreach { case (v, json) =>
        // foreign DELTA entries fold on top of OUR materialized state —
        // sound only while the tail is contiguous from our version
        require(v == history.last.version + 1,
          s"$tableName: commit log gap at v$v (this reader held " +
            s"v${history.last.version}; the tail between was reclaimed)")
        applyDecoded(GraftLogCodec.decodeEntry(json, partitionCols,
          bucketSpec, d.log.dir, d.registry, Some(history.last)))
      }
  }

  /** Install one decoded log entry as the current state + a history
    * entry — the shared replay step of restart load and foreign-commit
    * sync. `allowReplace` is true only during the restart FOLD (where
    * the table object is constructed with the final layout): a live
    * object can never adopt a foreign REPLACE swap — its immutable
    * layout (partitionCols / bucketSpec / row-level mode) may differ
    * from the replacement's — so a sync that meets one refuses loudly
    * and the caller re-opens the table. */
  private def applyDecoded(dec: GraftLogCodec.DecodedEntry,
      allowReplace: Boolean = false): Unit = {
    val e = dec.entry
    if (e.operation == GraftTable.ReplaceOp && !allowReplace)
      throw new java.util.ConcurrentModificationException(
        s"$tableName: the table was REPLACEd by another writer at " +
          s"version ${e.version}; this handle's layout is stale — " +
          "re-open the table to continue")
    if (e.operation == GraftTable.EvolveOp && !allowReplace)
      throw new java.util.ConcurrentModificationException(
        s"$tableName: the partition spec evolved under another writer " +
          s"at version ${e.version}; this handle's layout is stale — " +
          "re-open the table to continue")
    // a file first decoded under an OLDER entry keeps its registry
    // identity; as newer entries replay, re-point its handle at the
    // widest schema seen (metadata-only ADD COLUMN — the parquet read
    // null-pads; older entries reading wider rows is the documented
    // "rows may be wider, never narrower" tolerance)
    (e.files.iterator ++ e.added.iterator ++ e.removed.iterator)
      .foreach(_.resegment(e.schema))
    files = e.files
    dvs = e.dvs
    if (tableSchema != e.schema) tableSchema = e.schema
    nextFieldId = math.max(nextFieldId, dec.nextFieldId)
    restoreEpochs(dec.epochs)
    // ROW TRACKING high-water recovery: every tracked commit carries
    // the post-commit mark; the fold's last word wins (monotonic guard
    // against an out-of-order replay ever rewinding the mint counter)
    e.params.get(GraftTable.RowIdHwParam).foreach { hw =>
      rowIdHw = math.max(rowIdHw, hw.toLong)
    }
    // mid-life enablement replay: a delta entry cannot re-carry the
    // backfilled tracks of pre-existing files, so re-run the SAME
    // deterministic assignment (file order x rowCounts from the
    // recorded starting mark) over any still-untracked live file
    e.params.get(GraftTable.RowIdBackfillParam).foreach { start =>
      var hw = start.toLong
      e.files.foreach { f =>
        if (f.track == null) {
          f.track = new GraftRowTrack(hw, e.version, null, null)
          hw += f.rowCount
        }
      }
    }
    // wholesale: every writer embeds its CURRENT stats in every entry,
    // so the fold's last word is the table's latest ANALYZE
    colStats = dec.colStats
    checks = dec.checksText.map { case (nm, txt) =>
      nm -> GraftConstraints.compile(txt, e.schema)
    }
    history = history :+ e
    val over = history.length - effectiveRetention(history)
    if (over > 0) history = history.drop(over)
    changesCache = None
    readState = (files, dvs)
  }

  /** Restart bootstrap: adopt the durable backing and replay the whole
    * retained log (called by the loader on a FRESH table object — data,
    * time travel and the change feed all reconstruct from the log). */
  private[sources] def bootstrapDurable(d: GraftTableDurability,
      decoded: Seq[GraftLogCodec.DecodedEntry]): Unit = synchronized {
    durable = Some(d)
    history = Vector.empty // the log IS the history; drop the synthetic v0
    decoded.foreach(applyDecoded(_, allowReplace = true))
  }

  /** CREATE-time attach: write table.json + the creation entry (v0). */
  private[sources] def attachDurable(d: GraftTableDurability,
      namespace: Seq[String], name: String): Unit = synchronized {
    d.log.init()
    d.log.writeTableMeta(GraftLogCodec.encodeTableMeta(namespace, name,
      tableName, partitionCols, rowLevelMode, bucketSpec))
    val e = history.head
    if (!d.log.writeEntry(e.version, GraftLogCodec.encodeEntry(e,
        partitionCols, bucketSpec, d.log.dir,
        checks.map { case (k, c) => k -> c.text }, nextFieldId)))
      throw new IllegalStateException(
        s"$tableName: table dir ${d.log.dir} already holds a commit log")
    durable = Some(d)
  }

  /** Durable rename: only table.json moves (the dir name is physical
    * identity, decoupled from the logical name — segments keep their
    * paths, in-flight writes keep their handles). */
  private[sources] def renameDurable(namespace: Seq[String],
      name: String): Unit =
    durable.foreach { d =>
      // preserve the stamped format generation: a rename of a BRANCHED
      // table must not quietly downgrade the stamp that keeps
      // pre-branch engines out
      val fmt =
        try math.max(GraftLogCodec.BaseFormat,
          GraftLogCodec.decodeTableMeta(d.log.readTableMeta()).format)
        catch { case _: java.io.IOException => GraftLogCodec.BaseFormat }
      d.log.writeTableMeta(GraftLogCodec.encodeTableMeta(
        namespace, name, tableName, partitionCols, rowLevelMode,
        bucketSpec, fmt))
    }

  /** DROP TABLE on a durable (managed) table removes its directory. */
  private[sources] def dropDurable(): Unit =
    durable.foreach(_.log.destroy())

  /** Persist one commit: write every not-yet-persisted file (state
    * segments AND change-record pseudo-files) as parquet, spill their
    * heap rows, then CAS the log entry. Files carried by reference
    * through COW/OPTIMIZE are already persisted and pay NOTHING here —
    * only genuinely new files cost a write. */
  private def persistCommit(d: GraftTableDurability, e: CommitEntry): Unit = {
    var n = 0
    // branch chains tag their segments: main and a branch legally hold
    // the SAME version numbers (the fork point onward), and the shared
    // data/ dir must never let two chains' commit-v files collide
    val bTag = d.log.branch.map(b => s"$b-").getOrElse("")
    def persist(f: GraftDataFile, kind: String): Unit = if (!f.persisted) {
      val rel = s"data/$kind-$bTag${e.version}-$n.parquet"
      n += 1
      val abs = d.log.dir.resolve(rel)
      GraftSegmentIO.write(abs, e.schema, f.rows)
      // bloomed heap files persist their filter words as the segment's
      // sidecar — the log entry carries only the refs
      GraftBloomSidecar.write(abs, f.blooms)
      // explicit row-id vectors persist beside the segment the same way
      val t = f.track
      if (t != null && t.explicit)
        GraftRowIdSidecar.write(abs, t.ids, t.vers)
      f.spill(new GraftSegmentHandle(abs, e.schema))
      d.registry.put(rel, f)
    }
    e.files.foreach(persist(_, "seg"))
    e.added.foreach(persist(_, "cdc"))
    e.removed.foreach(persist(_, "cdc"))
    val checksTxt = checks.map { case (k, c) => k -> c.text }
    def full: String = GraftLogCodec.encodeEntry(e, partitionCols,
      bucketSpec, d.log.dir, checksTxt, nextFieldId, epochLedger,
      colStats = colStats)
    // DELTA entry when the commit decomposes against the previous state
    // (snap() just appended `e`, so the pre-commit census sits one back)
    // — a 1-row append to an N-file table writes O(1) JSON, not O(N)
    val json = GraftLogCodec.encodeDelta(e, history(history.length - 2),
      partitionCols, bucketSpec, d.log.dir, checksTxt, nextFieldId,
      epochLedger, colStats).getOrElse(full)
    if (!d.log.writeEntry(e.version, json))
      throw new java.util.ConcurrentModificationException(
        s"$tableName: commit ${e.version} already exists in the log — " +
          "a writer outside the commit lease raced this commit; retry")
    // periodic anchor: a full-state checkpoint every K commits bounds
    // restart replay to one checkpoint + a K-to-retention-sized tail,
    // and is what lets reclaim retire the delta entries below it.
    // Large censuses split into multi-part payloads (manifest CAS'd
    // last) so the fold decodes them in parallel
    if (e.version > 0 && e.version % GraftTable.checkpointInterval == 0) {
      val (manifest, parts) = GraftLogCodec.encodeCheckpoint(e,
        partitionCols, bucketSpec, d.log.dir, checksTxt, nextFieldId,
        epochLedger, GraftTable.checkpointPartFiles, checkpointLayout,
        colStats)
      d.log.installCheckpoint(e.version, manifest, parts)
      d.addAnchor(e.version)
    }
  }

  /** Layout to embed in a checkpoint: required once the table has been
    * REPLACEd (a fold starting from this checkpoint cannot thread the
    * layout from table.json — that records only the creation layout);
    * omitted otherwise so never-replaced tables' checkpoint bytes stay
    * exactly the v2 format. */
  private def checkpointLayout: Option[GraftLogCodec.Layout] =
    if (everReplaced) Some((partitionCols, bucketSpec, rowLevelMode))
    else None

  /** Delete log entries below the retained base and segments no
    * retained entry references (the bytes-reclaiming half of VACUUM /
    * retention). Foreign (clone-shared, absolute-ref) segments are
    * never touched; reads of reclaimed history fail loudly.
    *
    * ANCHOR-GATED: delta entries are only readable on top of a full
    * snapshot, so the deletion floor is the newest anchor (v0 or a
    * checkpoint — ours or a foreign process's, re-listed from disk) at
    * or below the retention base. Explicit VACUUM (minAge 0) installs
    * a checkpoint AT the base first, so it reclaims maximally; the
    * automatic per-commit slide just rides the periodic checkpoints —
    * its floor trails the base by < checkpointInterval entries, never
    * paying an O(files) checkpoint write per commit. */
  /** Tree-aware retention's SIBLING UNION: every other live chain over
    * this table dir — main's and each branch's — contributes its
    * referenced refs (dir-relative, "data/…") so no chain's sweep can
    * free another's segments. Collected LEASELESS from disk (a
    * superset of each sibling's live set —
    * [[GraftTableLog.allReferencedRefs]]): no cross-chain lease is
    * ever taken (no lock-order cycle between two chains reclaiming
    * concurrently) and a branch another PROCESS created is seen
    * without loading it. Cached per sibling on (chain identity, head
    * version) — an IDLE sibling costs one name listing + one stat per
    * slide instead of a full log re-parse; a stale hit is a safe
    * superset (entries are immutable, a sibling's own reclaim only
    * shrinks its set). TAGS pin the same way: every tag's census joins
    * the union (immutable → refs cache forever; a name no longer
    * listed evicts). Free for ref-less main chains: two directory
    * checks. */
  private def pinnedLiveRefs(d: GraftTableDurability): Set[String] = {
    val branches = d.log.listBranches
    val tags = d.log.listTags
    if (branches.isEmpty && tags.isEmpty && d.log.branch.isEmpty)
      return Set.empty
    val tagRefs: Iterator[String] = {
      d.tagRefCache.keys.filterNot(tags.contains)
        .foreach(d.tagRefCache.remove)
      tags.iterator.flatMap { n =>
        val p = d.log.tagPath(n)
        // identity-checked hit: a cross-process DROP + re-CREATE under
        // the same name must re-read, never pin the OLD snapshot
        val identity =
          try Some(d.log.fileIdentity(p))
          catch { case _: java.io.IOException => None }
        (identity, identity.flatMap(id =>
          d.tagRefCache.get(n).collect { case (cid, r) if cid == id => r })
        ) match {
          case (_, Some(hit)) => hit
          case (None, _) =>
            // listed but already GONE: a concurrent DROP TAG — nothing
            // to pin (its refs fall to whoever still references them)
            if (java.nio.file.Files.exists(p))
              throw new java.io.UncheckedIOException(
                new java.io.IOException(
                  s"$tableName: tag '$n' exists but cannot be read — " +
                    "refusing to sweep without its pins"))
            Set.empty[String]
          case (Some(id), None) =>
            try {
              val r = d.log.refsOfEntryJson(d.log.readTag(n))
                .filter(x => !java.nio.file.Paths.get(x).isAbsolute)
              d.tagRefCache.put(n, (id, r))
              r
            } catch {
              case e: java.io.IOException =>
                // a LISTED tag that cannot be read is a transient
                // fault, not a drop: sweeping without its pins would
                // delete a live tag's segments — fail the reclaim
                // instead (the automatic slide SKIPS this round; the
                // explicit VACUUM surfaces the error)
                if (java.nio.file.Files.exists(p))
                  throw new java.io.UncheckedIOException(e)
                Set.empty[String]
            }
        }
      }
    }
    val siblings: Seq[Option[String]] =
      (branches.map(Option(_)) ++
        (if (d.log.branch.isDefined) Seq(None) else Nil))
        .filterNot(_ == d.log.branch)
    (tagRefs ++ siblings.iterator.flatMap { b =>
      val key = b.getOrElse("")
      val slog = new GraftTableLog(d.log.dir, d.log.store, b)
      val vs = slog.listEntryVersions
      if (vs.isEmpty) { d.siblingRefCache.remove(key); Iterator.empty }
      else {
        def stat(f: java.nio.file.Path => Long): Long =
          try f(slog.entryPath(vs.head))
          catch { case _: java.io.IOException => -1L }
        val identity = (vs.head,
          stat(p => java.nio.file.Files.getLastModifiedTime(p).toMillis),
          stat(java.nio.file.Files.size))
        val head = vs.last
        val refs = d.siblingRefCache.get(key) match {
          case Some((cid, chead, set))
              if cid == identity && chead == head => set
          case _ =>
            val fresh = slog.allReferencedRefs
              .filter(r => !java.nio.file.Paths.get(r).isAbsolute)
            d.siblingRefCache.put(key, (identity, head, fresh))
            fresh
        }
        refs.iterator
      }
    }).toSet
  }

  private def reclaimDurable(d: GraftTableDurability,
                             minAgeMillis: Long = 0L): Unit = {
    // refs past their declared age drop FIRST, so this very sweep
    // reclaims what they alone pinned (r18 ref aging)
    expireAgedRefs(d)
    val live = scala.collection.mutable.Set.empty[String]
    def add(f: GraftDataFile): Unit =
      if (f.persisted && f.segment.path.startsWith(d.log.dir))
        live += "data/" + f.segment.path.getFileName.toString
    history.foreach { e =>
      e.files.foreach(add); e.added.foreach(add); e.removed.foreach(add)
      e.dvs.keys.foreach(add)
    }
    files.foreach(add)
    // TREE-AWARE retention, union built FIRST: every OTHER live chain
    // over this table dir — main's and every branch's — pins its
    // referenced segments before this chain's sweep decides what is
    // unreferenced (see [[pinnedLiveRefs]]). A pin that cannot be
    // PROVEN (a listed tag that fails to read) must never sweep blind:
    // the automatic slide skips this round (retrying next commit);
    // the explicit VACUUM propagates the fault loudly.
    try pinnedLiveRefs(d).foreach(live += _)
    catch {
      case e: java.io.UncheckedIOException =>
        if (minAgeMillis > 0L) return else throw e
    }
    val base = history.head.version
    val anchorsNow = d.anchors ++ d.log.listCheckpointVersions
    var floor = anchorsNow.rangeTo(base).lastOption.getOrElse(0)
    if (floor < base && minAgeMillis <= 0L) {
      val h = history.head
      // checks text must COMPILE against the entry's own schema at fold
      // time; current texts are only guaranteed to under the current
      // schema (a tail entry re-delivers them anyway — and when there is
      // no tail, h IS the current entry, schemas equal)
      val checksTxt =
        if (h.schema == tableSchema)
          checks.map { case (k, c) => k -> c.text }
        else Map.empty[String, String]
      // the anchored entry may predate a REPLACE: its census's group
      // keys encode (and decode) under the layout in force AT h, and a
      // replaced table's checkpoint must say which layout that is
      val (pcH, bsH) = layoutAt(h.version)
      val ckptLayout =
        if (everReplaced) Some((pcH, bsH, rowLevelMode)) else None
      val (manifest, parts) = GraftLogCodec.encodeCheckpoint(h,
        pcH, bsH, d.log.dir, checksTxt, nextFieldId,
        epochLedger, GraftTable.checkpointPartFiles, ckptLayout,
        colStats)
      d.log.installCheckpoint(base, manifest, parts)
      d.addAnchor(base)
      floor = base
    }
    // RETAIN-0 sweeps (a) hold a sweep-intent marker across the data
    // pass — the fence CREATE TAG's post-pin re-validation checks, so a
    // tag pinned from a version this sweep is reclaiming either re-pins
    // in time or refuses loudly, never dangles — and (b) re-validate
    // candidates against a FRESH sibling/tag union between listing and
    // deletion (see [[GraftTableLog.reclaim]]): a sibling's commit or
    // tag landing across the leaseless union re-pins its refs.
    if (minAgeMillis <= 0L) {
      d.log.writeSweepIntent()
      try d.log.reclaim(floor, live.toSet, minAgeMillis,
        recheckLive = Some(() => pinnedLiveRefs(d)))
      finally d.log.clearSweepIntent()
    } else d.log.reclaim(floor, live.toSet, minAgeMillis)
    d.registry.filterInPlace((ref, _) =>
      live.contains(ref) || java.nio.file.Paths.get(ref).isAbsolute)
  }

  private def snap(op: String,
                   added: Vector[GraftDataFile] = Vector.empty,
                   removed: Vector[GraftDataFile] = Vector.empty,
                   params: Map[String, String] = Map.empty): Unit = {
    val last = history.last
    // ROW TRACKING assignment — the single chokepoint every commit
    // passes through BEFORE its state becomes readable: fresh files
    // take an arithmetic track (base = the high-water mark, advancing
    // by rowCount — O(1) per file); rewrite outputs arrived with
    // PENDING captured vectors whose Mint sentinels resolve here (new
    // ids for merge-inserts, this commit's version for updated rows).
    // Durable explicit vectors land in the segment's .rowids sidecar
    // now, before any scan can plan against the new state.
    val paramsT =
      if (!rowTrackingEnabled) params
      else {
        val v = last.version + 1
        def settle(f: GraftDataFile): Unit = {
          val t = f.track
          if (t == null) {
            f.track = new GraftRowTrack(rowIdHw, v, null, null)
            rowIdHw += f.rowCount
          } else if (!t.explicit && t.ids != null) {
            val ids = t.ids; val vers = t.vers
            var i = 0
            while (i < ids.length) {
              if (ids(i) == GraftRowTrack.Mint) {
                ids(i) = rowIdHw; rowIdHw += 1
              }
              if (vers(i) == GraftRowTrack.Mint) vers(i) = v
              i += 1
            }
            f.track = new GraftRowTrack(-1L, v, ids, vers, explicit = true)
            if (f.persisted)
              GraftRowIdSidecar.write(f.segment.path, ids, vers)
          }
        }
        files.foreach(settle)
        params + (GraftTable.RowIdHwParam -> rowIdHw.toString)
      }
    // strictly increasing per table: commits in the same microsecond
    // (or a test clock standing still) must still resolve unambiguously
    val ts = math.max(GraftClock.nowMicros(), last.tsMicros + 1)
    history = history :+ CommitEntry(last.version + 1, tableSchema, files, ts,
      op, added, removed, dvs, paramsT)
    val over = history.length - effectiveRetention(history)
    if (over > 0) history = history.drop(over)
    readState = (files, dvs)
    durable.foreach { d =>
      persistCommit(d, history.last)
      // automatic retention slide: spare young unreferenced segments —
      // a concurrent write's tasks may have landed them ahead of its
      // commit (see GraftTableLog.reclaim)
      if (over > 0) reclaimDurable(d, GraftTable.orphanGraceMillis)
    }
  }

  /** Read-only view of commit `v` (see GraftCatalog.loadTable(_, version)). */
  private[sources] def snapshotAt(
      v: Int, ident: Identifier): GraftSnapshotTable = {
    val e = entryAt(v, ident)
    // the layout IN EFFECT AT v (a later REPLACE may have changed it;
    // this snapshot's group keys were computed under the old one)
    new GraftSnapshotTable(s"$tableName@v$v", e.schema, e.files,
      layoutAt(v)._1, e.dvs)
  }

  /** Read-only view as of a wall-clock instant: the latest commit with
    * tsMicros <= the requested timestamp (Delta's TIMESTAMP AS OF
    * contract). Between-commit instants resolve to the EARLIER version;
    * instants before the earliest retained commit fail loudly. */
  private[sources] def snapshotAsOf(
      tsMicros: Long, ident: Identifier): GraftSnapshotTable = {
    val e = entryAsOf(tsMicros, ident)
    new GraftSnapshotTable(s"$tableName@v${e.version}", e.schema, e.files,
      layoutAt(e.version)._1, e.dvs)
  }

  /** Commit log view: (version, timestampMicros) per retained commit —
    * the DESCRIBE HISTORY surface, also what specs pin retention with. */
  def commitHistory: Seq[(Int, Long)] =
    history.map(e => (e.version, e.tsMicros))

  /** (schema, files, delete vectors) of the current state or a retained
    * version — the clone source. */
  private[sources] def stateAt(version: Option[Int], ident: Identifier)
      : (StructType, Vector[GraftDataFile],
         Map[GraftDataFile, scala.collection.immutable.BitSet]) =
    version match {
      case None => (tableSchema, files, dvs)
      case Some(v) =>
        val h = history
        val base = h.head.version
        if (v < base || v > h.last.version)
          throw new IllegalArgumentException(
            s"$ident has no retained version $v " +
              s"(retained: $base..${h.last.version})")
        val e = h(v - base)
        (e.schema, e.files, e.dvs)
    }

  /** Clone bootstrap: adopt shared file references (and their delete
    * vectors) as commit 1. The CDC/stream record of the adoption is the
    * LIVE-ROW view — a cloned MOR table's dead positions must not
    * resurface as inserts in the clone's change feed. */
  private[sources] def adoptFiles(fs: Vector[GraftDataFile],
      fsDvs: Map[GraftDataFile, scala.collection.immutable.BitSet]): Unit =
    mutate {
      files = fs; dvs = fsDvs
      // a tracked clone adopts its source's row ids BY REFERENCE; the
      // clone's own mint counter must clear every adopted id or its
      // first append would re-mint a row identity already in use
      if (rowTrackingEnabled)
        fs.foreach { f =>
          val t = f.track
          if (t != null)
            rowIdHw = math.max(rowIdHw, t.maxIdExclusive(f.rowCount))
        }
      snap("CLONE", added = cdcLiveView(fs))
    }

  /** CLONE REPLACE (the deep-copy re-point): take ownership of every
    * FOREIGN segment this table still serves by reference — a shallow
    * clone's shared files — so vacuuming the clone SOURCE no longer
    * invalidates this table. Durable tables BYTE-COPY the segment files
    * into their own data dir (no parquet decode, no heap transit);
    * in-JVM tables materialize the rows on heap. Delete vectors carry
    * over keyed by the new file identity; recorded as a commit with a
    * ZERO row delta (the row multiset is unchanged — CDC and streaming
    * tails deliver nothing). Returns the number of files re-pointed.
    * Time travel to pre-replace versions still references the shared
    * segments and dies with the source's retention, exactly Delta's
    * deep-CLONE contract. */
  private[sources] def deepenClone(): Int = mutate {
    var copied = 0
    val newDvs = scala.collection.mutable.Map
      .empty[GraftDataFile, scala.collection.immutable.BitSet]
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val fresh = files.map { f =>
      val owned = durable match {
        case Some(d) => !f.persisted || f.segment.path.startsWith(d.log.dir)
        case None => !f.persisted
      }
      if (owned) { dvs.get(f).foreach(newDvs(f) = _); f }
      else {
        copied += 1
        val nf = durable match {
          case Some(d) =>
            val rel = s"data/adopt-$tag-$copied.parquet"
            val abs = d.log.dir.resolve(rel)
            java.nio.file.Files.createDirectories(abs.getParent)
            java.nio.file.Files.copy(f.segment.path, abs)
            // the bloom sidecar is part of the segment's bytes: the
            // deep-copied clone must keep skipping after its source is
            // vacuumed
            GraftBloomSidecar.copyAlongside(f.segment.path, abs)
            // explicit row-id vectors are part of the segment's bytes
            // too: the deep clone keeps serving stable row identity
            // after its source is vacuumed
            GraftRowIdSidecar.copyAlongside(f.segment.path, abs)
            val g = GraftDataFile.fromSegment(
              new GraftSegmentHandle(abs, f.segment.schema),
              f.zones, f.sizeBytes, f.groupKey, f.rowCount,
              bloomRefs = f.bloomRefs)
            d.registry.put(rel, g)
            g
          case None =>
            // strong heap copy: the new file owns the array outright
            new GraftDataFile(f.rows, f.zones, f.sizeBytes, f.groupKey)
        }
        // row identity carries with the bytes: same positions, same
        // ids — an explicit track re-points its loader at the COPIED
        // sidecar so it outlives the source's vacuum
        val t = f.track
        nf.track =
          if (t == null || !t.explicit) t
          else {
            val seg = nf.segment
            if (seg == null) t
            else {
              val p0 = seg.path
              new GraftRowTrack(t.base, t.ver, null, null,
                explicit = true,
                loader = () => GraftRowIdSidecar.read(p0))
            }
          }
        dvs.get(f).foreach(newDvs(nf) = _)
        nf
      }
    }
    files = fresh
    dvs = newDvs.toMap
    readState = (files, dvs)
    snap("CLONE REPLACE")
    copied
  }

  /** `RESTORE TABLE ... TO VERSION AS OF v`: reset the current state to a
    * retained snapshot, recorded as a NEW commit (Delta's contract —
    * restore moves the table forward in history to an old state, it never
    * rewinds the log). The CDC record diffs by file REFERENCE first, so
    * files shared between the two states contribute nothing; a shared
    * file whose DELETE VECTOR differs contributes exactly the positions
    * whose liveness flipped. */
  /** The CDC record of a whole-state swap (RESTORE, PUBLISH): the
    * reference-diff of `target` against the CURRENT state. Shared file
    * objects contribute nothing; files on one side only appear or
    * disappear as position views of their LIVE rows; shared files with
    * differing delete vectors contribute exactly the DV delta.
    * Metadata-only — row positions come from rowCounts and vectors,
    * never a segment load (a 100 TB swap reads no data on the driver). */
  private def stateDiffCdc(target: Vector[GraftDataFile],
      targetDvs: Map[GraftDataFile, scala.collection.immutable.BitSet])
      : (Vector[GraftDataFile], Vector[GraftDataFile]) = {
    val cur = files
    val curDvs = dvs
    val curSet = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[GraftDataFile, java.lang.Boolean]())
    cur.foreach(curSet.add)
    val tgtSet = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[GraftDataFile, java.lang.Boolean]())
    target.foreach(tgtSet.add)
    val empty = scala.collection.immutable.BitSet.empty
    def live(f: GraftDataFile,
             m: Map[GraftDataFile, scala.collection.immutable.BitSet]) = {
      val dead = m.getOrElse(f, empty)
      (0 until f.rowCount).filterNot(dead.contains)
    }
    val added = Vector.newBuilder[GraftDataFile]
    val removed = Vector.newBuilder[GraftDataFile]
    // files only in one state: their live rows appear/disappear whole
    target.filterNot(curSet.contains)
      .foreach(f => pseudoOf(f, live(f, targetDvs)).foreach(added += _))
    cur.filterNot(tgtSet.contains)
      .foreach(f => pseudoOf(f, live(f, curDvs)).foreach(removed += _))
    // shared files: only DV differences matter
    target.filter(curSet.contains).foreach { f =>
      val dCur = curDvs.getOrElse(f, empty)
      val dTgt = targetDvs.getOrElse(f, empty)
      pseudoOf(f, (dCur diff dTgt).toSeq).foreach(added += _)   // revived
      pseudoOf(f, (dTgt diff dCur).toSeq).foreach(removed += _) // re-dead
    }
    (added.result(), removed.result())
  }

  /** WAP PUBLISH (Delta's `CREATE OR REPLACE TABLE … CLONE` onto an
    * EXISTING table): adopt the source table's current state as ONE
    * commit on THIS table — the write-audit-publish close. The staging
    * table is (typically) a shallow clone of this one: audited writes
    * landed there in isolation, and the publish swaps the whole audited
    * state in atomically, by reference (no data copies; foreign
    * segments persist as absolute refs exactly like a shallow clone's).
    *
    * Unlike `REPLACE TABLE` — whose staged swap mints DISJOINT field
    * ids and therefore refuses CDF/streaming reads across it — the
    * publish requires the schemas to agree BY FIELD ID (the clone
    * shares them), so the change feed and streaming tails read straight
    * through: the commit's CDC record is the reference-diff row delta.
    * Schema or layout drift refuses loudly with the REPLACE remedy. */
  /** ROW TRACKING across chains: adopting another chain's state (or a
    * commit of it) adopts row ids that chain minted — this chain's own
    * counter must clear them or a later append would re-mint a row
    * identity already in use. Monotonic max, never a rewind. */
  private def adoptRowIdHw(src: GraftTable): Unit =
    if (rowTrackingEnabled) rowIdHw = math.max(rowIdHw, src.rowIdHw)

  private[sources] def publishFrom(src: GraftTable,
      ident: Identifier, version: Option[Int] = None): Int = mutate {
    adoptRowIdHw(src)
    val (srcSchema, fs, fsDvs) =
      src.stateAt(version, Identifier.of(Array.empty[String], src.name()))
    // StructType equality compares field METADATA too, so schema
    // equality already proves field-id agreement (ids live in the
    // metadata) — one check covers both
    if (srcSchema != tableSchema)
      throw new UnsupportedOperationException(
        s"$ident: cannot PUBLISH from ${src.name()} — the schemas (or " +
          "their field ids) differ. Publish requires a staging table " +
          "cloned from this one (evolve this table first, or use " +
          "REPLACE TABLE for an incompatible swap)")
    if (src.partitionCols != partitionCols || src.bucketSpec != bucketSpec)
      throw new UnsupportedOperationException(
        s"$ident: cannot PUBLISH from ${src.name()} — the partition " +
          "layouts differ (group keys would mis-encode); evolve the " +
          "layouts to agree first")
    val (added, removed) = stateDiffCdc(fs, fsDvs)
    files = fs
    dvs = fsDvs
    snap("PUBLISH", added = added, removed = removed,
      params = Map("source" -> src.name()) ++
        version.map(v => "source_version" -> v.toString))
    fs.length
  }

  /** `ALTER TABLE t MERGE BRANCH b` (r18) — SQUASH-MERGE a DIVERGED
    * branch: main adopts the branch head's net STATE as ONE commit —
    * the remedy FAST FORWARD's divergence refusal names. The adopted
    * segments come by reference (same table dir — zero copies; the
    * tree union and then main's own history keep them alive), the
    * branch head is untouched, and the commit's CDC record is the
    * [[stateDiffCdc]] reference-diff against main's pre-merge state:
    * the branch's net-new rows appear as inserts, main's divergent
    * rows as deletes — the change feed and streaming tails read
    * straight through (REPLACE, the alternative, refuses them). Like
    * PUBLISH, schemas must agree by field id and the partition layouts
    * must match — drift refuses loudly with the evolve-first remedy.
    * Unlike FAST FORWARD there is no ancestry requirement: divergence
    * is exactly the case this serves (an undiverged main can still
    * prefer FF for the per-commit replay). Returns main's new head
    * version. */
  private[sources] def mergeBranchFrom(bt: GraftTable,
      branch: String): Int = mutate {
    val d = durable.getOrElse(throw new UnsupportedOperationException(
      s"$tableName: not a durable table"))
    // r19: the target may be MAIN or a BRANCH chain — `t@b1 MERGE
    // BRANCH b2` squashes b2's net state onto b1 under b1's OWN lease
    // (a WAP workflow with stacked audit branches consolidates without
    // touching main). The one refusal is a SELF-merge: squashing a
    // chain onto itself is a no-op dressed as a commit — caught by
    // live-handle identity AND by (chain, name) so a second process's
    // foreign handle to the same chain refuses identically.
    if ((bt eq this) || d.log.branch.contains(branch))
      throw new UnsupportedOperationException(
        s"$tableName: cannot MERGE BRANCH '$branch' onto itself — " +
          "merge a DIFFERENT branch, or FAST FORWARD main to this one")
    // EXPIRED-source asymmetry, BY DESIGN (documented in SURVEY's
    // expiry-scope note): the resolve-time expiry refusal guards the
    // READ surface; the maintenance path that resolved `bt` serves the
    // chain regardless, because adopting audited work you already paid
    // for is a REMEDY for an aged ref, not a read of it — the same
    // reason DROP BRANCH, VACUUM, FAST FORWARD and CHERRY-PICK keep
    // working on an expired-but-unswept ref.
    val ident = Identifier.of(Array.empty[String], bt.name())
    val (srcSchema, fs, fsDvs) = bt.stateAt(None, ident)
    if (srcSchema != tableSchema)
      throw new UnsupportedOperationException(
        s"$tableName: cannot MERGE BRANCH '$branch' — the schemas (or " +
          "their field ids) drifted since the fork; evolve this table " +
          "to match the branch first, or publish via CREATE OR " +
          "REPLACE ... CLONE")
    if (bt.partitionCols != partitionCols || bt.bucketSpec != bucketSpec)
      throw new UnsupportedOperationException(
        s"$tableName: cannot MERGE BRANCH '$branch' — the partition " +
          "layouts differ (group keys would mis-encode); evolve the " +
          "layouts to agree first")
    // fork-shared segments are the SAME physical files under two
    // folds' DISTINCT registries (each chain decodes its own objects).
    // Re-bind the branch census to MAIN's objects by segment ref, so
    // the reference diff sees genuinely-shared files as shared — the
    // identity contract RESTORE/publish get for free from a single
    // chain. Without this every fork-shared file would diff as
    // removed+added: row-correct after multiset cancellation, but an
    // O(table) CDC record instead of O(net delta) — the difference
    // between a metadata commit and a table-sized one at 100 TB.
    val byRef = files.iterator.filter(_.persisted)
      .map(f => f.segment.path -> f).toMap
    def rebind(f: GraftDataFile): GraftDataFile =
      if (f.persisted) byRef.getOrElse(f.segment.path, f) else f
    val boundFs = fs.map(rebind)
    val boundDvs = fsDvs.map { case (f, bs) => rebind(f) -> bs }
    adoptRowIdHw(bt)
    val (added, removed) = stateDiffCdc(boundFs, boundDvs)
    files = boundFs
    dvs = boundDvs
    snap(GraftTable.MergeBranchOp, added = added, removed = removed,
      params = Map("source_branch" -> branch,
        "source_version" -> bt.commitHistory.last._1.toString))
    recordRefEvent("MERGE_BRANCH", branch, "branch",
      history.last.version,
      "target=" + d.log.branch.getOrElse("main"))
    history.last.version
  }

  // ---- named branches (Iceberg-style refs over one durable log) -------

  /** `ALTER TABLE t CREATE BRANCH b`: fork a named branch at this
    * table's current head. The branch is its OWN commit chain
    * (`log/<b>/` + `ckpt/<b>/` + per-branch lease) over the SHARED
    * segment store, seeded with ONE full-census entry at the fork
    * version — self-anchoring, so branch folds never read the main
    * chain. table.json stamps format generation 3 the FIRST time a
    * branch exists: a pre-branch engine then refuses the whole table
    * loudly instead of folding (or worse, vacuuming) half a tree.
    * Runs under the MAIN chain's lease so the fork point is one
    * consistent head. Returns the live branch table; the caller
    * registers it under (ns, t, b).
    *
    * Stale-handle note (the documented stale-reader hazard, extended
    * to refs): a FOREIGN process's live handle to a branch that is
    * DROPPED and RE-CREATED under the same name may alias the new
    * chain's version numbers onto its old state — like any reader
    * whose table was vacuumed past it, the remedy is to re-open; the
    * engine's own store always re-registers the fresh object. */
  private[sources] def forkBranch(branch: String,
      retainSnapshots: Option[Int] = None,
      refAgeHours: Option[Double] = None,
      retainHoursSnapshots: Option[Double] = None): GraftTable = mutate {
    val d = durable.getOrElse(throw new UnsupportedOperationException(
      s"$tableName: branches need a durable table — create the " +
        "catalog with a `warehouse` and recreate the table there"))
    if (d.log.branch.isDefined)
      throw new UnsupportedOperationException(
        s"$tableName: cannot branch from a branch — fork from the " +
          "main table")
    GraftTable.requireRefName(branch, "branch")
    retainSnapshots.filter(_ < 1).foreach(n =>
      throw new IllegalArgumentException(
        s"$tableName: RETAIN $n SNAPSHOTS — must keep at least 1"))
    refAgeHours.filter(_ <= 0).foreach(h =>
      throw new IllegalArgumentException(
        s"$tableName: RETAIN $h HOURS — the ref age must be positive"))
    retainHoursSnapshots.filter(_ <= 0).foreach(h =>
      throw new IllegalArgumentException(
        s"$tableName: RETAIN $h HOURS SNAPSHOTS — the snapshot " +
          "window must be positive"))
    val blog = new GraftTableLog(d.log.dir, d.log.store, Some(branch))
    if (blog.hasAnyEntry)
      throw new IllegalArgumentException(
        s"$tableName: branch '$branch' already exists")
    // refs share one `t@name` namespace: a branch must not shadow a tag
    if (java.nio.file.Files.exists(d.log.tagPath(branch)))
      throw new IllegalArgumentException(
        s"$tableName: a tag named '$branch' already exists")
    // format stamp FIRST (before the creation CAS): once any ref
    // can exist, pre-ref engines must refuse. A stamp whose CAS
    // then loses is merely conservative, never unsafe.
    stampRefFormat(d)
    blog.init()
    val v = history.last.version
    blog.writeBranchMeta(v, retainSnapshots, refAgeHours,
      retainHoursSnapshots)
    val ts = math.max(GraftClock.nowMicros(), history.last.tsMicros + 1)
    // CLUSTER BY tables (r19): record MAIN's clustering anchor at the
    // fork, so the branch's first defaulted OPTIMIZE re-lays only
    // post-fork files instead of the whole table — at 100 TB the
    // difference between a routine pass and a full rewrite. The
    // branch-side fallback reads the recorded main entry leaselessly
    // (immutable once CAS'd); if retention trims it first, the branch
    // conservatively falls back to the full re-layout.
    val clusterAnchor = {
      val cols = GraftTable.clusterByCols(tableSchema)
      if (cols.isEmpty) Map.empty[String, String]
      else {
        val fresh = incrementalClusterScope(cols)
        val pending = files.filter(f => f.persisted && fresh(f))
        if (pending.isEmpty && !files.exists(fresh))
          Map("clusterForkCovered" -> "true",
            "clusterForkKeys" -> cols.mkString(","))
        // PARTIAL coverage (r19): main owes a few files between its
        // last pass and this fork — stamp their NAMES (bounded; the
        // steady-state pending set is small) so the branch re-lays
        // only what main owed plus its own post-fork files. An
        // oversized or coverage-less pending set skips the stamp —
        // conservative full re-layout
        else if (pending.length == files.count(_.persisted) ||
            pending.length > 256 || files.exists(f => !f.persisted))
          Map.empty[String, String]
        else Map("clusterForkKeys" -> cols.mkString(","),
          "clusterForkPending" -> pending
            .map(_.segment.path.getFileName.toString).mkString(","))
      }
    }
    // ROW TRACKING: the fork seeds the branch's mint counter at main's
    // — branch-minted ids start beyond every id the fork adopted
    val trackParams =
      if (rowTrackingEnabled)
        Map(GraftTable.RowIdHwParam -> rowIdHw.toString)
      else Map.empty[String, String]
    val e = CommitEntry(v, tableSchema, files, ts,
      GraftTable.CreateBranchOp, Vector.empty, Vector.empty, dvs,
      Map("forkVersion" -> v.toString) ++ clusterAnchor ++ trackParams)
    // the creation entry embeds its layout exactly when a fold could
    // not thread it from table.json (the checkpointLayout invariant)
    val json = GraftLogCodec.encodeEntry(e, partitionCols, bucketSpec,
      d.log.dir, checks.map { case (k, c) => k -> c.text }, nextFieldId,
      epochLedger, checkpointLayout, colStats)
    if (!blog.writeEntry(v, json))
      throw new IllegalArgumentException(
        s"$tableName: branch '$branch' already exists")
    recordRefEvent("CREATE_BRANCH", branch, "branch", v,
      (retainSnapshots.map(n => s"retainSnapshots=$n").toSeq ++
        refAgeHours.map(h => s"refAgeHours=$h") ++
        retainHoursSnapshots.map(h => s"retainHoursSnapshots=$h"))
        .mkString(","))
    GraftDurableLoader.loadTable(d.log.dir, d.log.store, Some(branch))
  }

  /** `ALTER TABLE t ALTER BRANCH b RETAIN ...` (r19): replace THIS
    * branch chain's declared retention wholesale — the statement's
    * clauses ARE the new declaration, so omitting every clause clears
    * the properties back to the engine defaults (Iceberg's replace-ref
    * semantics). Runs under the branch's own lease; the fork identity
    * is untouched. Works on an EXPIRED-but-unswept branch by design —
    * extending the age is the rescue the expiry refusal names (the
    * maintenance path resolves the chain without the read-surface
    * expiry gate). A FOREIGN process's live handle keeps the old
    * declaration until it re-opens or refolds — the documented
    * stale-handle contract, and retention only ever trims history, so
    * a stale window is conservative-or-tighter, never unsafe. */
  private[sources] def alterBranchRetention(
      retainSnapshots: Option[Int],
      refAgeHours: Option[Double],
      retainHoursSnapshots: Option[Double]): Unit = mutate {
    val d = durable.getOrElse(throw new UnsupportedOperationException(
      s"$tableName: not a durable table"))
    if (d.log.branch.isEmpty)
      throw new UnsupportedOperationException(
        s"$tableName: ALTER BRANCH declares a BRANCH chain's " +
          "retention — main chains keep the engine-wide window")
    retainSnapshots.filter(_ < 1).foreach(n =>
      throw new IllegalArgumentException(
        s"$tableName: RETAIN $n SNAPSHOTS — must keep at least 1"))
    refAgeHours.filter(_ <= 0).foreach(h =>
      throw new IllegalArgumentException(
        s"$tableName: RETAIN $h HOURS — the ref age must be positive"))
    retainHoursSnapshots.filter(_ <= 0).foreach(h =>
      throw new IllegalArgumentException(
        s"$tableName: RETAIN $h HOURS SNAPSHOTS — the snapshot " +
          "window must be positive"))
    val fork = branchMeta.map(_._2)
      .getOrElse(d.log.readBranchProps()._1)
    d.log.replaceBranchMeta(fork, retainSnapshots, refAgeHours,
      retainHoursSnapshots)
    retainSnapshotsOverride = retainSnapshots
    refAgeHoursDeclared = refAgeHours
    retainHoursOverride = retainHoursSnapshots
    recordRefEvent("ALTER_BRANCH", d.log.branch.get, "branch",
      history.last.version,
      (retainSnapshots.map(n => s"retainSnapshots=$n").toSeq ++
        refAgeHours.map(h => s"refAgeHours=$h") ++
        retainHoursSnapshots.map(h => s"retainHoursSnapshots=$h"))
        .mkString(","))
  }

  /** Lazily load a branch chain that exists ON DISK but not in this
    * engine's store map — a branch created by a SECOND process after
    * this engine opened the warehouse. FAST FORWARD, `t$branches` and
    * tree-aware retention already discover such chains from disk; this
    * closes the asymmetry for `t@b` reads/writes and CHERRY-PICK
    * (mirroring how tag reads fall through to [[tagSnapshot]]). None
    * when no healthy chain exists (an unloadable crashed-DROP remnant
    * stays unreachable, exactly as at warehouse open). */
  private[sources] def loadForeignBranch(branch: String)
      : Option[GraftTable] =
    durable.flatMap { d =>
      if (d.log.branch.isDefined) None
      else if (!branch.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*") ||
          branch == "main") None
      else {
        val blog = new GraftTableLog(d.log.dir, d.log.store, Some(branch))
        if (blog.hasAnyEntry &&
            java.nio.file.Files.exists(blog.branchMetaPath))
          try Some(GraftDurableLoader.loadTable(
            d.log.dir, d.log.store, Some(branch)))
          catch { case scala.util.control.NonFatal(_) => None }
        else None
      }
    }

  /** Stamp table.json to the ref format generation (3) if still below
    * it: once any branch or tag can exist, an engine that does not
    * honor ref pins must refuse the whole table (its vacuum would eat
    * ref-pinned segments silently). */
  private def stampRefFormat(d: GraftTableDurability): Unit = {
    val meta = GraftLogCodec.decodeTableMeta(d.log.readTableMeta())
    if (meta.format < GraftLogCodec.BranchFormat)
      d.log.writeTableMeta(GraftLogCodec.encodeTableMeta(meta.namespace,
        meta.name, meta.displayName, meta.partitionCols,
        meta.rowLevelMode, meta.bucketSpec, GraftLogCodec.BranchFormat))
  }

  // ---- tags (Iceberg's immutable refs) --------------------------------

  /** `ALTER TABLE t CREATE TAG name [AS OF VERSION n]` — a named,
    * IMMUTABLE, retention-pinned snapshot: the tagged state's complete
    * census serializes as ONE self-contained full-entry JSON under
    * `tags/<name>.json` (layout embedded), so the tag outlives log
    * retention of the version it named and `t@name` reads decode it
    * without folding any chain. Every chain's reclaim unions tag refs
    * into its live set (see [[pinnedLiveRefs]]) — vacuum keeps a
    * tagged snapshot's segments for as long as the tag lives. Tags on
    * a BRANCH table pin that branch's state (the namespace is
    * table-level). Returns the tagged version. */
  private[sources] def createTag(tag: String,
      version: Option[Int], ident: Identifier,
      refAgeHours: Option[Double] = None): Int = mutate {
    val d = durable.getOrElse(throw new UnsupportedOperationException(
      s"$tableName: tags need a durable table — create the catalog " +
        "with a `warehouse` and recreate the table there"))
    GraftTable.requireRefName(tag, "tag")
    refAgeHours.filter(_ <= 0).foreach(h =>
      throw new IllegalArgumentException(
        s"$tableName: RETAIN $h HOURS — the ref age must be positive"))
    // the branch/tag same-name exclusion must be checked under the
    // MAIN chain's lease: CREATE BRANCH holds main's lease, and a tag
    // created THROUGH a branch address holds only the branch's — the
    // two pre-checks could otherwise both pass concurrently and leave
    // one name shadowing the other. Lock order branch→main occurs
    // nowhere reversed with leases (fast-forward reads the branch
    // leaselessly), so the nesting cannot cycle.
    withMainLease(d) {
    if (new GraftTableLog(d.log.dir, d.log.store, Some(tag)).hasAnyEntry)
      throw new IllegalArgumentException(
        s"$tableName: a branch named '$tag' already exists")
    stampRefFormat(d)
    val e0 = version.map(v => entryAt(v, ident)).getOrElse(history.last)
    // a tag is a STATE snapshot, not a change record: the commit's CDC
    // vectors stay behind (pinning them would retain change files no
    // read of the tag can ever serve)
    // declarative tag expiry (r18, Iceberg's maxRefAgeMs analog) rides
    // the params: creation instant + declared age, so ANY chain's sweep
    // — and the read path — can decide expiry off the self-contained
    // JSON alone
    val e = e0.copy(added = Vector.empty, removed = Vector.empty,
      operation = GraftTable.CreateTagOp,
      params = Map("version" -> e0.version.toString) ++
        refAgeHours.map(h => Map(
          "refAgeHours" -> h.toString,
          "createdMicros" -> GraftClock.nowMicros().toString))
          .getOrElse(Map.empty))
    val (pcV, bsV) = layoutAt(e0.version)
    val json = GraftLogCodec.encodeEntry(e, pcV, bsV, d.log.dir,
      Map.empty, nextFieldId, Map.empty,
      layout = Some((pcV, bsV, rowLevelMode)))
    if (!d.log.writeTag(tag, json))
      throw new IllegalArgumentException(
        s"$tableName: tag '$tag' already exists")
    // POST-PIN re-validation — the RETAIN-0 × CREATE TAG cross-chain
    // fence. A sibling chain's RETAIN-0 vacuum holds its OWN lease (not
    // main's), and its leaseless ref union may have listed this tag's
    // segments as candidates BEFORE the pin landed. Once the tag JSON
    // is durable: (1) any sweep STARTING now unions it (sweeps list
    // tags fresh each run, and re-validate candidates just before
    // deleting); (2) a sweep already PAST its recheck advertises itself
    // via its intent marker — refuse and self-delete rather than risk
    // a dangling pin; (3) no intent means any overlapping sweep's
    // deletes are complete, so the segment-existence check below is
    // decisive. A tag can never dangle: it either serves bit-exact or
    // the CREATE fails loudly (retry once the vacuum finishes).
    def failLoudly(why: String): Nothing = {
      d.log.deleteTag(tag)
      d.tagRefCache.remove(tag)
      d.tagSnapshotCache.remove(tag)
      d.tagExpiryCache.remove(tag)
      throw new IllegalStateException(
        s"$tableName: CREATE TAG '$tag' raced a concurrent RETAIN-0 " +
          s"vacuum and lost — $why. The tag was NOT created; retry " +
          "once the vacuum finishes")
    }
    if (d.log.anySweepIntent())
      failLoudly("a RETAIN-0 sweep is in flight over this table and " +
        "may already have listed the tagged snapshot's segments for " +
        "deletion")
    d.log.refsOfEntryJson(json)
      .filter(r => !java.nio.file.Paths.get(r).isAbsolute)
      .find(r => !java.nio.file.Files.exists(d.log.dir.resolve(r)))
      .foreach(r => failLoudly(
        s"the tagged snapshot's segment '$r' is already reclaimed"))
    recordRefEvent("CREATE_TAG", tag, "tag", e0.version,
      refAgeHours.map(h => s"refAgeHours=$h").getOrElse(""))
    e0.version
    }
  }

  /** The MAIN chain's commit lease, for table-LEVEL DDL (tags) issued
    * through a branch address — reentrant when this IS the main chain
    * (its mutate already holds it). */
  private def withMainLease[T](d: GraftTableDurability)(body: => T): T =
    if (d.log.branch.isEmpty) body
    else new GraftTableLog(d.log.dir, d.log.store, None)
      .withCommitLock(body)

  /** `ALTER TABLE t DROP TAG name`: the pin releases; the snapshot's
    * unshared segments fall to the next reclaim. */
  private[sources] def dropTag(tag: String): Unit = mutate {
    val d = durable.getOrElse(throw new UnsupportedOperationException(
      s"$tableName: not a durable table"))
    GraftTable.requireRefName(tag, "tag")
    if (!java.nio.file.Files.exists(d.log.tagPath(tag)))
      throw new IllegalArgumentException(
        s"$tableName: no such tag '$tag'")
    d.log.deleteTag(tag)
    d.tagRefCache.remove(tag)
    d.tagSnapshotCache.remove(tag)
    d.tagExpiryCache.remove(tag)
    recordRefEvent("DROP_TAG", tag, "tag", -1)
    ()
  }

  /** The `t@<tag>` read surface: decode the tag's self-contained
    * census into a read-only snapshot (cached — tags are immutable).
    * Decodes with a FRESH registry: a tag may predate a partition
    * evolution, and letting its old group keys re-bind the LIVE
    * chain's registry objects would hand later folds stale identities.
    * None when no such tag exists. */
  /** Is tag `n` past its declared ref age (r18 tag expiry)? Decided off
    * the tag's own self-contained JSON; tags without the property never
    * expire; an UNREADABLE tag is NOT expired (a transient fault must
    * never void a pin — the sweep path already fails loudly there). */
  private def tagExpired(d: GraftTableDurability, n: String): Boolean =
    try {
      // identity-keyed cache: the expiry pair is immutable per tag
      // FILE, and this check runs per `t@tag` read — re-parsing the
      // whole census JSON every read would defeat the snapshot cache
      val id = d.log.fileIdentity(d.log.tagPath(n))
      val expiry = d.tagExpiryCache.get(n) match {
        case Some((cid, e)) if cid == id => e
        case _ =>
          val p = d.log.tagParams(n)
          val e = (p.get("refAgeHours"), p.get("createdMicros")) match {
            case (Some(h), Some(c)) => Some((h.toDouble, c.toLong))
            case _ => None
          }
          d.tagExpiryCache.put(n, (id, e))
          e
      }
      expiry.exists { case (h, c) =>
        GraftClock.nowMicros() > c + (h * 3600d * 1e6).toLong
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Drop refs past their declared age (r18, Iceberg's maxRefAgeMs
    * analog) — called at the head of every reclaim, so "the next sweep"
    * both releases an expired ref AND reclaims its unshared segments.
    * Expired TAGS delete from any chain's sweep (tag DDL takes no chain
    * lease beyond main's, and a double delete is harmless). Expired
    * BRANCHES destroy from MAIN-chain sweeps only — chain destruction
    * is main-lease DDL, and main's mutate holds exactly that here; the
    * destroyed chain's in-JVM live handles deregister so `t@b` stops
    * serving immediately (foreign processes follow the documented
    * stale-handle contract: re-open). */
  private def expireAgedRefs(d: GraftTableDurability): Unit = {
    d.log.listTags.foreach { n =>
      if (tagExpired(d, n)) {
        d.log.deleteTag(n)
        d.tagRefCache.remove(n)
        d.tagSnapshotCache.remove(n)
        d.tagExpiryCache.remove(n)
        recordRefEvent("EXPIRE_TAG", n, "tag", -1)
      }
    }
    if (d.log.branch.isEmpty) {
      // audit cap rides the same main-chain sweep head as ref expiry
      d.log.trimRefEvents(GraftTable.refEventsRetention)
      val now = GraftClock.nowMicros()
      d.log.listBranches.foreach { b =>
        val blog = new GraftTableLog(d.log.dir, d.log.store, Some(b))
        try {
          val age = blog.readBranchProps()._3
          val vs = blog.listEntryVersions
          // a branch ages from its LAST commit, not its creation: an
          // actively-written branch never expires out from under its
          // writer
          if (age.exists(h => vs.nonEmpty && now >
              blog.entryTs(vs.last) + (h * 3600d * 1e6).toLong)) {
            blog.destroyBranch()
            recordRefEvent("EXPIRE_BRANCH", b, "branch", -1)
            d.siblingRefCache.remove(b)
            GraftTableStore.allStores.foreach(_.branchTables
              .filterInPlace { case (_, bt) =>
                !bt.durable.exists(bd => bd.log.dir == d.log.dir &&
                  bd.log.branch.contains(b))
              })
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  private[sources] def tagSnapshot(tag: String): Option[GraftSnapshotTable] =
    // a tag past its declared age refuses BEFORE any sweep ran — the
    // pre-expiry read serves, the post-expiry read is already gone
    durable.filterNot(tagExpired(_, tag)).flatMap { d =>
      val p = d.log.tagPath(tag)
      // a hit serves only while the file's identity still matches: a
      // DROP (anyone's) evicts at the next read instead of serving a
      // ghost, and a DROP + re-CREATE can never serve the OLD snapshot
      val identity =
        try Some(d.log.fileIdentity(p))
        catch { case _: java.io.IOException => None }
      identity match {
        case None => d.tagSnapshotCache.remove(tag); None
        case Some(id) =>
          d.tagSnapshotCache.get(tag) match {
            case Some((cid, t)) if cid == id =>
              Some(t.asInstanceOf[GraftSnapshotTable])
            case _ =>
              val dec = GraftLogCodec.decodeEntry(d.log.readTag(tag),
                partitionCols, bucketSpec, d.log.dir,
                scala.collection.concurrent.TrieMap.empty)
              val pc = dec.layout.map(_._1).getOrElse(partitionCols)
              val t = new GraftSnapshotTable(s"$tableName@$tag",
                dec.entry.schema, dec.entry.files, pc, dec.entry.dvs)
              d.tagSnapshotCache.put(tag, (id, t))
              Some(t)
          }
      }
    }

  /** `ALTER TABLE t CHERRY-PICK b VERSION v` — the surgical remedy the
    * FAST FORWARD divergence refusal points at: adopt ONE branch
    * commit's appended rows onto main as a new commit, by reference
    * (the picked segments are shared under the same table dir — zero
    * byte copies; tree-aware retention already pins shared segments).
    * APPEND-ONLY commits pick (Iceberg's cherry-pick contract): a
    * commit carrying removals/DVs refuses — replaying a delete whose
    * preimage rows main may not share is not well-defined. The picked
    * entry's schema must match main's CURRENT schema (field ids —
    * cross-schema picks refuse with the evolve-first remedy). Group
    * keys carry over only when the layouts agree and the branch never
    * re-keyed; otherwise the picked files adopt DEGROUPED (the
    * always-correct legacy-remainder state — OPTIMIZE regroups), never
    * mis-grouped. Picking the same commit twice duplicates rows — the
    * record (`source_branch`/`source_version` in the history) is the
    * caller's idempotence surface, like Iceberg's. Returns main's new
    * head version. */
  private[sources] def cherryPickFrom(bt: GraftTable, v: Int,
      branch: String): Int = mutate {
    val ident = Identifier.of(Array.empty[String], bt.name())
    // append-onlyness is proven against the PRECEDING entry: without
    // it (v is the branch's oldest retained commit) a row-mutating
    // commit could masquerade as an append — refuse rather than guess
    if (v <= bt.commitHistory.head._1)
      throw new IllegalArgumentException(
        s"$tableName: cannot CHERRY-PICK ${bt.name()}@v$v — the " +
          "branch's retained history starts there, so the commit " +
          "cannot be proven append-only; retain more snapshots or " +
          "publish via CLONE")
    val e = bt.entryAt(v, ident)
    if (e.schema != tableSchema)
      throw new UnsupportedOperationException(
        s"$tableName: cannot CHERRY-PICK ${bt.name()}@v$v — the " +
          "schemas (or their field ids) differ; evolve this table to " +
          "match first")
    if (e.removed.nonEmpty || e.dvs != bt.entryAt(v - 1, ident).dvs)
      throw new UnsupportedOperationException(
        s"$tableName: cannot CHERRY-PICK ${bt.name()}@v$v — the commit " +
          "removes rows (rewrite/delete/DV change); only append-only " +
          "commits replay onto a diverged main. Publish via CLONE, or " +
          "MERGE the rows across")
    if (e.added.isEmpty)
      throw new IllegalArgumentException(
        s"$tableName: ${bt.name()}@v$v appends nothing to pick")
    val layoutSafe = bt.partitionCols == partitionCols &&
      bt.bucketSpec == bucketSpec && !bt.everReplaced && !everReplaced
    adoptRowIdHw(bt)
    val adopt =
      if (layoutSafe) e.added else e.added.map(GraftDataFile.degrouped)
    files = files ++ adopt
    snap("CHERRY-PICK", added = adopt,
      params = Map("source_branch" -> branch,
        "source_version" -> v.toString))
    recordRefEvent("CHERRY_PICK", branch, "branch",
      history.last.version, s"source_version=$v")
    history.last.version
  }

  /** `ALTER TABLE t DROP BRANCH b`: delete the branch chain's log and
    * checkpoints (under the MAIN lease — creation and drop serialize).
    * The branch's own segments become unreferenced and fall to the
    * next tree-aware reclaim; shared segments stay pinned by the
    * chains that still reference them. */
  private[sources] def dropBranchChain(branch: String): Unit = mutate {
    val d = durable.getOrElse(throw new UnsupportedOperationException(
      s"$tableName: not a durable table"))
    if (d.log.branch.isDefined)
      throw new UnsupportedOperationException(
        s"$tableName: DROP BRANCH targets the main table")
    GraftTable.requireRefName(branch, "branch")
    val blog = new GraftTableLog(d.log.dir, d.log.store, Some(branch))
    // a crashed destroy may leave entries without the sidecar (log is
    // deleted first) or the sidecar alone — either remnant re-sweeps
    if (!blog.hasAnyEntry &&
        !java.nio.file.Files.exists(blog.branchMetaPath))
      throw new IllegalArgumentException(
        s"$tableName: no such branch '$branch'")
    blog.destroyBranch()
    recordRefEvent("DROP_BRANCH", branch, "branch", -1)
  }

  /** `ALTER TABLE t FAST FORWARD main TO b`: adopt branch `b`'s commit
    * suffix onto THIS (main) chain — iff main has not moved since the
    * fork (or since the last fast-forward from `b`). The branch's
    * entries are immutable once CAS'd, so they copy VERBATIM into
    * main's log: main's history — and its change feed — REPLAYS the
    * branch's per-commit censuses one commit at a time, the
    * capability a WAP publish's single reference-diff commit cannot
    * provide. Refuses loudly when main diverged (remedy: MERGE the
    * rows across, or publish via CLONE/REPLACE), when the suffix
    * carries a REPLACE/partition-evolution (layout-identity swaps
    * cannot replay onto a live handle), or when branch retention
    * already dropped part of the suffix. Returns the number of
    * commits adopted. */
  private[sources] def fastForwardFrom(branch: String): Int = mutate {
    import java.nio.charset.StandardCharsets.UTF_8
    val d = durable.getOrElse(throw new UnsupportedOperationException(
      s"$tableName: not a durable table"))
    if (d.log.branch.isDefined)
      throw new UnsupportedOperationException(
        s"$tableName: FAST FORWARD targets the main chain")
    GraftTable.requireRefName(branch, "branch")
    val blog = new GraftTableLog(d.log.dir, d.log.store, Some(branch))
    if (!blog.hasAnyEntry)
      throw new IllegalArgumentException(
        s"$tableName: no such branch '$branch'")
    val fork = blog.readBranchMeta()
    val head = history.last.version
    val bvs = blog.listEntryVersions
    val bHead = bvs.last
    def refuseDiverged(why: String): Nothing =
      throw new IllegalStateException(
        s"$tableName: cannot FAST FORWARD to '$branch' — $why. Main " +
          s"has commits the branch does not know (forked at v$fork); " +
          s"squash-merge with ALTER TABLE ... MERGE BRANCH $branch, " +
          "adopt one commit with CHERRY-PICK, or publish with CREATE " +
          "OR REPLACE ... CLONE instead")
    if (head < fork) refuseDiverged(
      s"main is at v$head, before the fork point v$fork")
    // ancestry: every main commit PAST the fork must BE the branch's
    // entry (a previous fast-forward's verbatim copy) — one divergent
    // byte refuses. Entries below main's own retention floor are gone
    // on both sides or unverifiable; the retained window decides.
    if (head > fork) {
      val ours = d.log.listEntryVersions
      (math.max(fork + 1, ours.head) to head).foreach { v =>
        val mine =
          try new String(java.nio.file.Files.readAllBytes(
            d.log.entryPath(v)), UTF_8)
          catch { case _: java.io.IOException => null }
        val theirs =
          if (blog.hasEntry(v))
            new String(java.nio.file.Files.readAllBytes(
              blog.entryPath(v)), UTF_8)
          else null
        if (mine == null || theirs == null || mine != theirs)
          refuseDiverged(s"main's v$v is not the branch's v$v")
      }
    }
    if (bHead <= head) 0
    else {
      (head + 1 to bHead).foreach { v =>
        if (!blog.hasEntry(v))
          throw new IllegalStateException(
            s"$tableName: branch '$branch' no longer retains v$v — its " +
              "retention dropped part of the suffix; publish with " +
              "CREATE OR REPLACE ... CLONE instead")
      }
      val suffix = (head + 1 to bHead).map { v =>
        v -> new String(java.nio.file.Files.readAllBytes(
          blog.entryPath(v)), UTF_8)
      }
      // pre-check BEFORE any CAS: a layout-identity swap in the suffix
      // must refuse with nothing copied, not half-adopt a tree
      suffix.foreach { case (v, json) =>
        val op = org.json4s.jackson.JsonMethods.parse(json)
          .asInstanceOf[org.json4s.JObject].obj.toMap.get("op") match {
          case Some(org.json4s.JString(s)) => s
          case _ => ""
        }
        if (op == GraftTable.ReplaceOp || op == GraftTable.EvolveOp)
          throw new UnsupportedOperationException(
            s"$tableName: branch '$branch' carries a $op at v$v — a " +
              "layout-identity swap cannot fast-forward; publish via " +
              "REPLACE TABLE instead")
      }
      suffix.foreach { case (v, json) =>
        if (!d.log.writeEntry(v, json))
          throw new java.util.ConcurrentModificationException(
            s"$tableName: commit v$v landed outside the lease during " +
              "the fast-forward; retry")
      }
      // adopt in memory through the ordinary foreign-commit replay —
      // CDC records, DVs, schema and epoch ledger all fold exactly as
      // a restart would fold them
      syncFromLog(d)
      recordRefEvent("FAST_FORWARD", branch, "branch",
        history.last.version, s"commits_adopted=${suffix.length}")
      suffix.length
    }
  }

  private[sources] def restoreTo(v: Int, ident: Identifier): Unit =
    mutate {
      val (schema, target0, targetDvs0) = stateAt(Some(v), ident)
      if (schema != tableSchema)
        throw new UnsupportedOperationException(
          s"$ident: cannot RESTORE across a schema change " +
            s"(version $v has a different schema)")
      // RESTORE across a partition-spec evolution: the target census's
      // group keys were computed under the OLD layout — meaningless
      // (and mis-encoding) under the current one. The restored files
      // DEGROUP into legacy remainder files, exactly as the evolution
      // itself degrouped the then-live census; OPTIMIZE regroups.
      val layoutDiffers = layoutAt(v) != ((partitionCols, bucketSpec))
      val (target, targetDvs) =
        if (!layoutDiffers) (target0, targetDvs0)
        else {
          // canonicalize onto LIVE identities first: a pre-evolution
          // file still live now exists in the current census as its
          // degrouped twin (live path: origin link; post-restart: same
          // segment ref) — mapping to the twin keeps it "shared", so
          // the restore's CDC is the true DV delta, not phantom churn
          val curByOrigin =
            new java.util.IdentityHashMap[GraftDataFile, GraftDataFile]()
          files.foreach { cf =>
            if (cf.degroupedFrom != null) curByOrigin.put(cf.degroupedFrom, cf)
          }
          val curByRef = files.iterator.filter(_.persisted)
            .map(f => f.segment.path.toString -> f).toMap
          def canon(f: GraftDataFile): GraftDataFile = {
            val byO = curByOrigin.get(f)
            if (byO != null) byO
            else if (f.persisted)
              curByRef.getOrElse(f.segment.path.toString,
                GraftDataFile.degrouped(f))
            else GraftDataFile.degrouped(f)
          }
          val tw = target0.map(canon)
          (tw, target0.lazyZip(tw).flatMap { (of, nf) =>
            targetDvs0.get(of).map(nf -> _)
          }.toMap)
        }
      val (added, removed) = stateDiffCdc(target, targetDvs)
      files = target
      dvs = targetDvs
      snap("RESTORE", added = added, removed = removed,
        params = Map("version" -> v.toString))
    }

  /** Field-id seed for a staged replacement: the target's monotonic
    * counter, refreshed against the log so a foreign ADD COLUMN that
    * already landed is included. Ids at or above this are unused by any
    * retained OR historical schema of this table. */
  private[sources] def fieldIdSeed: Long = {
    refreshIfStale()
    nextFieldId
  }

  /** ATOMIC staged REPLACE TABLE commit (Delta's history-preserving
    * replace, the r12 verdict's task 2): under THIS table's commit
    * lease, splice the staged table's finished state in as ONE
    * schema-swapping commit on THIS table's log — the predecessor's
    * history stays retained (time travel to pre-replace versions still
    * serves), and until the swap entry's CAS lands, every reader and a
    * crash at any point see the OLD table. Durable staging wrote its
    * segments executor-side into `<tableDir>/stage-<uuid>/` (invisible
    * to warehouse discovery — nested dirs are never listed); the commit
    * is same-volume renames into `data/` plus one log entry, O(files)
    * metadata and zero byte copies. Returns the REPLACEMENT table
    * object (the staged object re-rooted onto this table's log + prior
    * history); the caller swaps it into the store. This object becomes
    * a stale handle: any later sync that meets the swap entry refuses
    * loudly (see [[applyDecoded]]).
    *
    * `stagedSeed` is the field-id seed captured at stage time: a
    * foreign schema evolution that advanced past it would break the
    * id-disjointness the replace depends on, so the commit aborts with
    * the standard optimistic-retry contract. */
  private[sources] def commitReplace(staged: GraftTable,
      stagedSeed: Long): GraftTable = mutate {
    if (nextFieldId > stagedSeed)
      throw new java.util.ConcurrentModificationException(
        s"$tableName: the schema evolved while the replacement was " +
          s"staged (field ids reached $nextFieldId, past the staged " +
          s"seed $stagedSeed) — the replace's id-disjointness no longer " +
          "holds; retry the REPLACE")
    val last = history.last
    val v = last.version + 1
    val ts = math.max(GraftClock.nowMicros(), last.tsMicros + 1)
    val layoutChanged = staged.partitionCols != partitionCols ||
      staged.bucketSpec != bucketSpec
    val carried =
      if (layoutChanged) priorLayouts :+ ((v - 1, partitionCols, bucketSpec))
      else priorLayouts
    val ledger = epochLedger
    durable match {
      case None =>
        val e = CommitEntry(v, staged.tableSchema, staged.files, ts,
          GraftTable.ReplaceOp)
        staged.adoptReplacedHistory(tableName, history, e, None, carried,
          ledger)
      case Some(d) =>
        val stagedD = staged.durable.getOrElse(
          throw new IllegalStateException(
            s"$tableName: a durable table's replacement must be staged " +
              "durably"))
        java.nio.file.Files.createDirectories(d.log.dataDir)
        var n = 0
        val moved = staged.files.map { f =>
          val rel = s"data/repl-$v-$n.parquet"
          n += 1
          val abs = d.log.dir.resolve(rel)
          if (f.persisted) {
            // same volume (the stage nests inside this table's dir):
            // a rename, never a byte copy — the bloom sidecar moves
            // with its segment
            val src = f.segment.path
            java.nio.file.Files.move(src, abs)
            GraftBloomSidecar.moveAlongside(src, abs)
          } else {
            // unpersisted staged rows (an empty-log edge; normally the
            // staged CTAS commit persisted everything): write directly
            GraftSegmentIO.write(abs, staged.tableSchema, f.rows)
            GraftBloomSidecar.write(abs, f.blooms)
          }
          val nf = GraftDataFile.fromSegment(
            new GraftSegmentHandle(abs, staged.tableSchema),
            f.zones, f.sizeBytes, f.groupKey, f.rowCount,
            bloomRefs = f.bloomRefs)
          d.registry.put(rel, nf)
          nf
        }
        val e = CommitEntry(v, staged.tableSchema, moved, ts,
          GraftTable.ReplaceOp)
        val checksTxt = staged.checks.map { case (k, c) => k -> c.text }
        val layout = Some((staged.partitionCols, staged.bucketSpec,
          staged.rowLevelMode))
        // the swap entry ALWAYS embeds its layout: it is the log's
        // record of the layout change (table.json keeps the creation
        // layout — the fold threads layout from entries, Delta's
        // per-version metaData model)
        val json = GraftLogCodec.encodeEntry(e, staged.partitionCols,
          staged.bucketSpec, d.log.dir, checksTxt, staged.nextFieldId,
          ledger, layout)
        if (!d.log.writeEntry(v, json))
          throw new java.util.ConcurrentModificationException(
            s"$tableName: commit $v already exists in the log — a " +
              "writer outside the commit lease raced this REPLACE; retry")
        if (v % GraftTable.checkpointInterval == 0) {
          val (manifest, parts) = GraftLogCodec.encodeCheckpoint(e,
            staged.partitionCols, staged.bucketSpec, d.log.dir, checksTxt,
            staged.nextFieldId, ledger, GraftTable.checkpointPartFiles,
            layout)
          d.log.installCheckpoint(v, manifest, parts)
          d.addAnchor(v)
        }
        // stage scaffolding (table.json + its 2-entry log) goes now;
        // the segments were moved out above, so nothing of value remains
        stagedD.log.destroy()
        staged.adoptReplacedHistory(tableName, history, e, Some(d), carried,
          ledger)
    }
  }

  /** Partition-spec EVOLUTION (`ALTER TABLE … SET PARTITIONED BY`,
    * Iceberg's spec evolution): change the partitioning WITHOUT
    * rewriting a byte of data. Pre-evolution files' group keys CLEAR —
    * they become spanning "legacy remainder" files (Iceberg's
    * unpartitioned remainder), already first-class on every read/write
    * path: zone pruning is grouping-independent, partition predicates
    * over them take the executor-side split, and OPTIMIZE regroups them
    * under the new spec (compaction splits per current group key — the
    * "rewrite to migrate" path for free). New writes cluster under the
    * new spec. The old layout joins [[priorLayouts]], so time travel
    * and clones of pre-evolution versions bind the old group keys.
    *
    * `partitionCols` is immutable construction state (load-bearing in
    * the key kernels, SPJ reporting, metadata deletes, runtime group
    * filters), so evolution returns a NEW table object that adopts this
    * one's entire state — the adoptReplacedHistory shape, but KEEPING
    * field ids, checks, stats and the epoch ledger (schema unchanged —
    * CDF and streaming read straight through). The caller swaps the
    * store mapping; a stale handle or foreign process meeting the
    * entry re-opens (same contract as REPLACE). */
  private[sources] def evolvePartitioning(newCols0: Seq[String])
      : GraftTable = mutate {
    if (bucketSpec.isDefined)
      throw new UnsupportedOperationException(
        s"$tableName: partition-spec evolution is not defined for " +
          "bucketed tables (a hash bucket is not a value partition)")
    // resolve case-insensitively (Spark's resolution; the widen and
    // partition/bucket guards already match this way) and adopt the
    // SCHEMA's canonical spelling — the group-key kernels index fields
    // by exact name, so an unnormalized variant would miss
    val newCols = newCols0.map { c =>
      tableSchema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"$tableName: SET PARTITIONED BY: no such column $c"))
    }
    if (newCols == partitionCols) return this // no-op, no commit
    val last = history.last
    val v = last.version + 1
    val ts = math.max(GraftClock.nowMicros(), last.tsMicros + 1)
    // the live census DEGROUPS: every file keyed under the old spec
    // becomes a legacy remainder file (new identity — the old objects
    // stay referenced, old-keyed, by pre-evolution history entries)
    val twinFiles = files.map(GraftDataFile.degrouped)
    val twinDvs = files.lazyZip(twinFiles).flatMap { (of, nf) =>
      dvs.get(of).map(nf -> _)
    }.toMap
    // a LAYOUT-ONLY commit: zero logical row changes — CDF delivers
    // nothing, streaming tails pass through (added/removed empty,
    // schema and field ids unchanged)
    val e = CommitEntry(v, tableSchema, twinFiles, ts,
      GraftTable.EvolveOp, dvs = twinDvs,
      // the twin adopts the mint counter; the entry records it so a
      // fold/foreign reader agrees (rows' identities are untouched by
      // a layout change — the degrouped twins share their tracks)
      params = if (rowTrackingEnabled)
        Map(GraftTable.RowIdHwParam -> rowIdHw.toString)
      else Map.empty)
    val layouts = priorLayouts :+ ((v - 1, partitionCols, bucketSpec))
    val twin = new GraftTable(tableName, tableSchema, newCols,
      rowLevelMode, None, checks)
    durable.foreach { d =>
      val checksTxt = checks.map { case (k, c) => k -> c.text }
      // FULL-format entry with the new layout EMBEDDED (the log's
      // record of the change — the same per-version metaData threading
      // REPLACE uses; the restart fold binds old group keys below it).
      // Full, not delta: every census identity changed (degrouping), so
      // a delta would be 2×O(files) — and the full census re-encodes
      // with group=null, which is what the registry-replacing decode
      // keys off at fold time.
      val json = GraftLogCodec.encodeEntry(e, newCols, None, d.log.dir,
        checksTxt, nextFieldId, epochLedger,
        Some((newCols, None, rowLevelMode)), colStats)
      if (!d.log.writeEntry(v, json))
        throw new java.util.ConcurrentModificationException(
          s"$tableName: commit $v already exists in the log — a writer " +
            "outside the commit lease raced this evolution; retry")
      if (v % GraftTable.checkpointInterval == 0) {
        val (manifest, parts) = GraftLogCodec.encodeCheckpoint(e,
          newCols, None, d.log.dir, checksTxt, nextFieldId, epochLedger,
          GraftTable.checkpointPartFiles, Some((newCols, None,
            rowLevelMode)), colStats)
        d.log.installCheckpoint(v, manifest, parts)
        d.addAnchor(v)
      }
      // re-bind the registry: later decodes of these refs must share
      // the DEGROUPED identity, not the old-keyed one
      twinFiles.foreach { f =>
        if (f.persisted && f.segment.path.startsWith(d.log.dir))
          d.registry.put(GraftLogCodec.refOf(f, d.log.dir), f)
      }
    }
    twin.adoptEvolved(history :+ e, durable, layouts, epochLedger,
      colStats, nextFieldId, rowIdHw)
  }

  /** Re-root `this` (a freshly constructed post-evolution twin) over
    * the evolved state: everything carries EXCEPT the layout — field
    * ids, checks (ctor), column stats (schema unchanged, still valid),
    * the streaming/txn epoch ledger, durability, and the full retained
    * history. Called only from [[evolvePartitioning]], under the
    * predecessor's lease. */
  private def adoptEvolved(h: Vector[CommitEntry],
      d: Option[GraftTableDurability],
      layouts: List[(Int, Seq[String], Option[(Int, String)])],
      epochs: Map[String, Long], stats: Map[String, Array[Long]],
      fieldIdCounter: Long, rowIdHwMark: Long): GraftTable = synchronized {
    val e = h.last
    files = e.files
    dvs = e.dvs
    var hh = h
    val over = hh.length - effectiveRetention(hh)
    if (over > 0) hh = hh.drop(over)
    history = hh
    priorLayouts = layouts
    everReplaced = true // checkpoints must embed their layout from now on
    durable = d
    restoreEpochs(epochs)
    colStats = stats
    nextFieldId = fieldIdCounter
    // ROW TRACKING: the twin must keep minting BEYOND the
    // predecessor's mark — a reset would re-issue live identities
    // (caught by the randomized soak's uniqueness invariant, r20)
    rowIdHw = rowIdHwMark
    changesCache = None
    readState = (files, dvs)
    this
  }

  /** Re-root the STAGED table object as the replacement: the target's
    * retained history plus the swap commit becomes its history, the
    * target's durability (when any) becomes its backing, and the
    * target's streaming-epoch ledger carries over (a replayed epoch
    * from a pre-replace stream must still be recognized, not
    * double-applied). Called only from [[commitReplace]], under the
    * target's lease. */
  private def adoptReplacedHistory(name: String,
      prior: Vector[CommitEntry], swap: CommitEntry,
      d: Option[GraftTableDurability],
      layouts: List[(Int, Seq[String], Option[(Int, String)])],
      epochs: Map[String, Long]): GraftTable = synchronized {
    tableName = name
    files = swap.files
    dvs = Map.empty
    var h = prior :+ swap
    val over = h.length - effectiveRetention(h)
    if (over > 0) h = h.drop(over)
    history = h
    priorLayouts = layouts
    everReplaced = true
    durable = d
    restoreEpochs(epochs)
    // stats describe the PREDECESSOR's columns (disjoint field ids) —
    // the replacement starts unanalyzed
    colStats = Map.empty
    changesCache = None
    readState = (files, dvs)
    this
  }

  /** `RESTORE ... TO TIMESTAMP AS OF`: Delta's timestamp form —
    * resolves to the LATEST retained commit at or before the instant
    * (the snapshotAsOf contract) and restores to it; an instant before
    * the earliest retained commit fails loudly. Returns the resolved
    * version. */
  private[sources] def restoreAsOf(tsMicros: Long,
      ident: Identifier): Int = mutate {
    val h = history
    val idx = h.lastIndexWhere(_.tsMicros <= tsMicros)
    if (idx < 0)
      throw new IllegalArgumentException(
        s"$ident has no commit at or before timestamp $tsMicros " +
          s"(earliest retained commit: ${h.head.tsMicros})")
    val v = h(idx).version
    restoreTo(v, ident)
    v
  }

  /** Early history truncation (`VACUUM`): retire all but the last
    * `keepLast` snapshots NOW instead of waiting for the retention
    * window to slide — the superseded row arrays become collectable.
    * Returns the number of snapshots retired. Data files referenced by
    * the retained snapshots (including clones') are untouched. */
  /** Delta's TIME-BASED retention (`VACUUM t RETAIN n HOURS`): retire
    * every snapshot whose commit timestamp is strictly older than the
    * cutoff, always keeping the current one. Commit timestamps are
    * strictly increasing per table, so the kept suffix is contiguous by
    * construction; the count and the truncation run under ONE commit
    * lease (the lease is reentrant), so a racing commit can never
    * shift the cutoff onto a snapshot younger than it. */
  private[sources] def vacuumRetainHours(hours: Double): Int = mutate {
    val cutoff = GraftClock.nowMicros() - (hours * 3600d * 1e6).toLong
    vacuumHistory(math.max(1, history.count(_.tsMicros >= cutoff)))
  }

  /** `VACUUM ... DRY RUN` (Delta's dry run): what the vacuum WOULD
    * reclaim, with nothing deleted — (snapshots that would retire,
    * reclaimable segment files, reclaimable bytes). The segment census
    * lists the data dir and subtracts everything the KEPT history
    * suffix (plus the current state) still references; stage dirs and
    * log entries are not counted (metadata-sized). In-JVM tables
    * reclaim no bytes by construction. */
  private[sources] def vacuumDryRun(keepLast: Int): (Int, Int, Long) =
    mutate {
      val keep =
        if (keepLast == GraftTable.VacuumDeclaredRetention)
          declaredVacuumKeep
        else keepLast
      require(keep >= 1, "must keep at least the current snapshot")
      val retire = math.max(0, history.length - keep)
      durable match {
        case None => (retire, 0, 0L)
        case Some(d) =>
          val kept = history.drop(retire)
          val live = scala.collection.mutable.Set.empty[String]
          def add(f: GraftDataFile): Unit =
            if (f.persisted && f.segment.path.startsWith(d.log.dir))
              live += f.segment.path.getFileName.toString
          kept.foreach { e =>
            e.files.foreach(add); e.added.foreach(add)
            e.removed.foreach(add); e.dvs.keys.foreach(add)
          }
          files.foreach(add)
          // sibling chains pin their segments here too, or the dry run
          // would over-report what a tree-aware reclaim actually frees
          // (this census keys by bare file name, hence the strip)
          pinnedLiveRefs(d).foreach(r => live += r.stripPrefix("data/"))
          var nSeg = 0
          var bytes = 0L
          if (java.nio.file.Files.isDirectory(d.log.dataDir)) {
            val s = java.nio.file.Files.list(d.log.dataDir)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.foreach { p =>
                val name = p.getFileName.toString
                if (name.endsWith(".parquet") && !live.contains(name)) {
                  nSeg += 1
                  bytes += (try java.nio.file.Files.size(p)
                            catch { case _: java.io.IOException => 0L })
                }
              }
            } finally s.close()
          }
          (retire, nSeg, bytes)
      }
    }

  /** DRY RUN of the time-based form: same cutoff arithmetic as
    * [[vacuumRetainHours]], nothing deleted. */
  private[sources] def vacuumDryRunHours(hours: Double): (Int, Int, Long) =
    mutate {
      val cutoff = GraftClock.nowMicros() - (hours * 3600d * 1e6).toLong
      vacuumDryRun(math.max(1, history.count(_.tsMicros >= cutoff)))
    }

  private[sources] def vacuumHistory(keepLast: Int): Int = mutate {
    // the "VACUUM without RETAIN" sentinel: honor the chain's DECLARED
    // retention property (r18) when one exists, else the explicit-
    // vacuum default of 1. Every EXPLICIT value keeps the floor
    // contract (keepLast >= 1 refuses loudly at 0).
    val keep =
      if (keepLast == GraftTable.VacuumDeclaredRetention)
        declaredVacuumKeep
      else keepLast
    require(keep >= 1, "must keep at least the current snapshot")
    val over = history.length - keep
    if (over > 0) history = history.drop(over)
    // vacuum truncates WITHOUT a version bump — the memoized CDC files
    // would otherwise keep serving (and pinning) the retired commits
    changesCache = None
    // durable: the truncation also reclaims BYTES — retired log entries
    // delete, and segments no retained entry references delete with
    // them (Delta's VACUUM contract; reads of retired versions already
    // fail loudly above). Runs even when no snapshot retired: an
    // aborted write whose committed task's message raced the job abort
    // leaves ORPHANED segments no log entry references — VACUUM is the
    // sweep that reclaims them (Delta's uncommitted-file cleanup).
    durable.foreach(reclaimDurable(_, 0L))
    math.max(0, over)
  }

  // ---- metadata tables (`t$files`, `t$history`) -----------------------
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField}
  import org.apache.spark.unsafe.types.UTF8String

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  /** `SELECT * FROM t$files`: one row per current data file — row count,
    * byte size, partition-group key, and the zone-map envelope rendered
    * per column. The files audit a real format serves from its manifest.
    * `VERSION AS OF` / `TIMESTAMP AS OF` compose (Iceberg's
    * snapshot-scoped files table): the census is the requested COMMIT's
    * file vector, numbered exactly as that snapshot's `_file_id`
    * metadata column numbers it — a time-travel audit joins a
    * versioned read against the version's own census. */
  private[sources] def filesMetaTable: GraftSnapshotTable = {
    refreshIfStale() // the audit must cover foreign writers' commits
    // clustered coverage (r18 — the observability half of liquid
    // clustering): which files the incremental anchor already
    // considers laid out. NULL on tables without `cluster.by`.
    val cols = GraftTable.clusterByCols(tableSchema)
    val marker =
      if (cols.isEmpty) None
      else {
        val fresh = incrementalClusterScope(cols)
        Some((f: GraftDataFile) => !fresh(f))
      }
    filesCensusTable(files, tableSchema, clusteredOf = marker)
  }

  /** The `t$files` census of one retained commit (see [[filesMetaTable]]).
    * `clustered` reads NULL here: the coverage column is a CURRENT-state
    * diagnostic (the incremental anchor is a property of the live head,
    * not of a historical snapshot). */
  private[sources] def filesMetaTableAt(e: CommitEntry): GraftSnapshotTable =
    filesCensusTable(e.files, e.schema, s"@v${e.version}")

  private def filesCensusTable(snap: Vector[GraftDataFile],
      s: StructType, tag: String = "",
      clusteredOf: Option[GraftDataFile => Boolean] = None)
      : GraftSnapshotTable = {
    val schema = StructType(Seq(
      StructField("file_id", IntegerType, nullable = false),
      StructField("row_count", IntegerType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("group_key", StringType, nullable = true),
      StructField("zones", StringType, nullable = true),
      StructField("clustered",
        org.apache.spark.sql.types.BooleanType, nullable = true)))
    val rows = snap.iterator.zipWithIndex.map { case (f, i) =>
      val zones = s.fields.iterator.zipWithIndex.flatMap { case (fl, j) =>
        Option(f.zone(j)).map(z =>
          s"${fl.name}:[${z.min}..${z.max}] nulls=${z.nullCount}")
      }.mkString("; ")
      new GenericInternalRow(Array[Any](i, f.rowCount, f.sizeBytes,
        utf8(f.groupKey.map(_.mkString("/")).orNull),
        utf8(zones),
        clusteredOf.map(m => Boolean.box(m(f))).orNull)): InternalRow
    }.toArray
    new GraftSnapshotTable(s"$tableName$$files$tag", schema,
      Vector(GraftDataFile.build(rows, schema, None)))
  }

  /** `SELECT * FROM t$partitions` (Iceberg's partitions metadata
    * table): one row per partition group — file count, stored rows,
    * LIVE rows (delete vectors applied), bytes. Group-spanning files
    * (pre-partitioning legacy, compacted None-bins) report under the
    * NULL partition. Composes with VERSION/TIMESTAMP AS OF like
    * `t$files` (the commit's own census, its own DV state). */
  private[sources] def partitionsMetaTable: GraftSnapshotTable = {
    refreshIfStale()
    partitionsCensusTable(files, dvs)
  }

  private[sources] def partitionsMetaTableAt(e: CommitEntry)
      : GraftSnapshotTable =
    partitionsCensusTable(e.files, e.dvs, s"@v${e.version}")

  private def partitionsCensusTable(snap: Vector[GraftDataFile],
      dvm: Map[GraftDataFile, scala.collection.immutable.BitSet],
      tag: String = ""): GraftSnapshotTable = {
    val schema = StructType(Seq(
      StructField("partition", StringType, nullable = true),
      StructField("file_count", IntegerType, nullable = false),
      StructField("row_count", LongType, nullable = false),
      StructField("live_rows", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false)))
    val rows = snap.groupBy(_.groupKey).toSeq
      .map { case (k, fs) =>
        (k.map(_.mkString("/")), fs.length,
          fs.iterator.map(_.rowCount.toLong).sum,
          fs.iterator.map(f => f.rowCount.toLong -
            dvm.get(f).map(_.size.toLong).getOrElse(0L)).sum,
          fs.iterator.map(_.sizeBytes).sum)
      }
      .sortBy(_._1.getOrElse("")) // deterministic relation order
      .map { case (k, nf, nr, lv, by) =>
        new GenericInternalRow(Array[Any](
          utf8(k.orNull), nf, nr, lv, by)): InternalRow
      }.toArray
    new GraftSnapshotTable(s"$tableName$$partitions$tag", schema,
      Vector(GraftDataFile.build(rows, schema, None)))
  }

  /** Retained commit entry at version `v` — the shared resolver for
    * every versioned surface (data snapshots, the versioned `t$files`
    * census); fails loudly outside the retained range. */
  private[sources] def entryAt(v: Int, ident: Identifier): CommitEntry = {
    refreshIfStale()
    val h = history
    val latest = h.last.version
    if (v < 0 || v > latest)
      throw new IllegalArgumentException(
        s"$ident has no version $v (versions 0..$latest)")
    val base = h.head.version
    if (v < base)
      throw new IllegalArgumentException(
        s"$ident version $v has been retired by history retention " +
          s"(oldest retained: $base)")
    h(v - base)
  }

  /** Retained commit entry as of a wall-clock instant (the
    * TIMESTAMP AS OF contract — latest commit at or before it). */
  private[sources] def entryAsOf(tsMicros: Long,
      ident: Identifier): CommitEntry = {
    refreshIfStale()
    val h = history
    val idx = h.lastIndexWhere(_.tsMicros <= tsMicros)
    if (idx < 0)
      throw new IllegalArgumentException(
        s"$ident has no commit at or before timestamp $tsMicros " +
          s"(earliest retained commit: ${h.head.tsMicros})")
    h(idx)
  }

  /** `SELECT * FROM t$history`: the retained commit log — version,
    * commit timestamp, operation kind, the post-commit file/row census,
    * and the commit's operationMetrics (Delta's DESCRIBE HISTORY map,
    * served as typed columns instead of map<string,string> so they
    * filter/aggregate like any relation).
    *
    * Two provenances, each exact for what it measures:
    *  - `files_*` / `bytes_*` are PHYSICAL: an identity diff of the
    *    entry's file vector against its predecessor's. Every data path
    *    carries untouched files by reference (append concatenates, COW
    *    replaces exactly the rewritten groups, OPTIMIZE/REORG/ZORDER
    *    splice their bins, MOR only adds delta files — its DV'd bases
    *    survive, so files_removed is 0 there, same as Delta's), which
    *    makes the diff the t$files delta itself. Zeros when retention
    *    already dropped the predecessor, and for the metadata-only
    *    re-wrap commits (ALTER/WIDEN/EVOLVE/ANALYZE/CLONE REPLACE)
    *    where object identity would misreport a full rewrite — Delta
    *    shows an empty metrics map there too.
    *  - `rows_*` are LOGICAL: the write-time CDC censuses (rows the
    *    commit wrote / rows it retired, including rows a MOR delete
    *    vector killed inside a surviving file). Layout rewrites are
    *    zero logical change by construction. */
  private[sources] def historyMetaTable: GraftSnapshotTable = {
    refreshIfStale()
    val schema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("timestamp_micros", LongType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("files_added", IntegerType, nullable = false),
      StructField("files_removed", IntegerType, nullable = false),
      StructField("rows_added", LongType, nullable = false),
      StructField("rows_removed", LongType, nullable = false),
      StructField("bytes_added", LongType, nullable = false),
      StructField("bytes_removed", LongType, nullable = false),
      // Delta's operationParameters, rendered "k=v; k2=v2" (sorted) —
      // what the operation was ASKED to do, beside what it did
      StructField("parameters", StringType, nullable = false)))
    val metadataOps = Set("ALTER TABLE", GraftTable.WidenOp,
      GraftTable.EvolveOp, "ANALYZE", "CLONE REPLACE")
    def identitySet(fs: Vector[GraftDataFile]) = {
      val m = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[GraftDataFile, java.lang.Boolean]())
      fs.foreach(m.add); m
    }
    val h = history
    val rows = h.iterator.zipWithIndex.map { case (e, i) =>
      val (physAdd, physRem): (Vector[GraftDataFile], Vector[GraftDataFile]) =
        if (i == 0 || metadataOps.contains(e.operation))
          (Vector.empty, Vector.empty)
        else {
          val prev = h(i - 1).files
          val before = identitySet(prev)
          val after = identitySet(e.files)
          (e.files.filterNot(before.contains), prev.filterNot(after.contains))
        }
      new GenericInternalRow(Array[Any](e.version, e.tsMicros,
        utf8(e.operation), e.files.length,
        e.files.iterator.map(_.rowCount.toLong).sum,
        physAdd.length, physRem.length,
        e.added.iterator.map(_.rowCount.toLong).sum,
        e.removed.iterator.map(_.rowCount.toLong).sum,
        physAdd.iterator.map(_.sizeBytes).sum,
        physRem.iterator.map(_.sizeBytes).sum,
        utf8(e.params.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString("; ")))): InternalRow
    }.toArray
    new GraftSnapshotTable(s"$tableName$$history", schema,
      Vector(GraftDataFile.build(rows, schema, None)))
  }

  /** `SELECT * FROM t$branches` — Iceberg's `refs` metadata table: one
    * row per live branch chain, straight off the log LAYOUT (a name
    * listing + the fork sidecar + one head-entry ts parse — no chain
    * is folded): branch name, the main-chain version it forked at, its
    * current head version and the head commit's timestamp. The same
    * tree from any chain (`t@audit$branches` ≡ `t$branches`); empty on
    * branch-less or in-JVM tables. A half-created branch (no entries)
    * is invisible, like everywhere else. */
  private[sources] def branchesMetaTable: GraftSnapshotTable = {
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("fork_version", IntegerType, nullable = false),
      StructField("head_version", IntegerType, nullable = false),
      StructField("head_timestamp_micros", LongType, nullable = false),
      // the declarative retention surface (r18/r19): per-branch
      // snapshot retention (count + time window) and per-ref age,
      // NULL where undeclared
      StructField("retain_snapshots", IntegerType, nullable = true),
      StructField("ref_age_hours", DoubleType, nullable = true),
      StructField("retain_snapshot_hours", DoubleType, nullable = true),
      // r19: an aged-out ref that no sweep has reclaimed yet shows its
      // state here (reads of it already refuse at resolve)
      StructField("expired",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val rows: Array[InternalRow] = durable match {
      case None => Array.empty
      case Some(d) =>
        val branchRows = d.log.listBranches.flatMap { b =>
          val blog = new GraftTableLog(d.log.dir, d.log.store, Some(b))
          val vs = blog.listEntryVersions
          if (vs.isEmpty) None
          else try {
            val (fork, retain, age, retainHrs) = blog.readBranchProps()
            val lastTs = blog.entryTs(vs.last)
            val expired = age.exists(h => GraftClock.nowMicros() >
              lastTs + (h * 3600d * 1e6).toLong)
            Some(new GenericInternalRow(Array[Any](
              utf8(b), utf8("branch"), fork, vs.last,
              lastTs, retain.map(Int.box).orNull,
              age.map(Double.box).orNull,
              retainHrs.map(Double.box).orNull, expired)): InternalRow)
          } catch {
            // a crashed DROP's remnant chain: introspection skips it
            // (the loader records the refusal; reads of it fail loudly)
            case scala.util.control.NonFatal(_) => None
          }
        }
        // tags: one row per immutable ref — fork == head == the tagged
        // version, off the tag's own self-contained JSON
        val tagRows = d.log.listTags.flatMap { t =>
          try {
            val (v, ts) = d.log.tagVersionTs(t)
            val age = d.log.tagParams(t).get("refAgeHours").map(_.toDouble)
            Some(new GenericInternalRow(Array[Any](
              utf8(t), utf8("tag"), v, v, ts, null,
              age.map(Double.box).orNull, null,
              tagExpired(d, t))): InternalRow)
          } catch { case scala.util.control.NonFatal(_) => None }
        }
        (branchRows ++ tagRows).toArray
    }
    new GraftSnapshotTable(s"$tableName$$branches", schema,
      if (rows.isEmpty) Vector.empty
      else Vector(GraftDataFile.build(rows, schema, None)))
  }

  /** `SELECT * FROM t$refs_log` (r19): the ref-lifecycle AUDIT — one
    * row per CREATE/DROP/ALTER/EXPIRE/FAST FORWARD/CHERRY-PICK/MERGE
    * of a branch or tag, oldest first, decoded off the table-level
    * `refevents/` census (any chain serves the same relation —
    * `t@b$refs_log` ≡ `t$refs_log`). Unlike `t$branches` (the refs
    * ALIVE now) this answers "who did what to which ref, when" —
    * including refs that no longer exist. Empty on in-JVM tables. */
  private[sources] def refsLogMetaTable: GraftSnapshotTable = {
    import org.apache.spark.sql.types.IntegerType
    val schema = StructType(Seq(
      StructField("ts_micros", LongType, nullable = false),
      StructField("action", StringType, nullable = false),
      StructField("ref", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("details", StringType, nullable = false),
      StructField("actor", StringType, nullable = false)))
    val rows: Array[InternalRow] = durable match {
      case None => Array.empty
      case Some(d) =>
        d.log.listRefEvents().flatMap { json =>
          try {
            val o = org.json4s.jackson.JsonMethods.parse(json)
              .asInstanceOf[org.json4s.JObject].obj.toMap
            def str(k: String) = o(k) match {
              case org.json4s.JString(v) => v
              case other => other.toString
            }
            def num(k: String): Long = o(k) match {
              case org.json4s.JInt(b) => b.toLong
              case org.json4s.JLong(l) => l
              case other => other.toString.toLong
            }
            Some(new GenericInternalRow(Array[Any](
              num("ts"), utf8(str("action")), utf8(str("ref")),
              utf8(str("kind")), num("version").toInt,
              utf8(str("details")), utf8(str("actor")))): InternalRow)
          } catch { case scala.util.control.NonFatal(_) => None }
        }.toArray
    }
    new GraftSnapshotTable(s"$tableName$$refs_log", schema,
      if (rows.isEmpty) Vector.empty
      else Vector(GraftDataFile.build(rows, schema, None)))
  }

  /** `SELECT * FROM t$changes`: the CHANGE DATA FEED — per retained
    * commit, the MINIMAL row-level delta as `_change_type`
    * ('insert'/'delete') + `_commit_version` + `_commit_timestamp` +
    * the data columns (Delta's `table_changes`, served as an ordinary
    * relation; version-range reads are `WHERE _commit_version BETWEEN`,
    * which the zone maps turn into file skipping because each commit's
    * changes land in their own file). The delta is minimal because the
    * write-time CDC record (added/removed files) is MULTISET-CANCELLED
    * row-level at read: a COW rewrite's carried-along unchanged rows
    * cancel out, leaving an UPDATE as exactly its preimage deletes +
    * postimage inserts. Layout commits (OPTIMIZE/ZORDER/ALTER) record
    * no changes at all. Rows of pre-evolution commits project to the
    * CURRENT schema with NULL in the added columns. */
  private[sources] def changesSchema: StructType = {
    val base =
      StructField("_change_type", StringType, nullable = false) +:
      StructField("_commit_version", IntegerType, nullable = false) +:
      StructField("_commit_timestamp", LongType, nullable = false) +:
      tableSchema.fields.toSeq
    // ROW TRACKING: the feed carries each change row's stable identity
    // as a trailing column, so a consumer pairs an UPDATE's preimage
    // and postimage by `_row_id` instead of positional/multiset
    // heuristics (and the multiset cancellation itself keys on
    // (data, id) — two equal-valued rows with different identities no
    // longer cancel). Null on pre-tracking commits' rows.
    if (rowTrackingEnabled)
      StructType((base :+
        StructField("_row_id", LongType, nullable = true)).toArray)
    else StructType(base.toArray)
  }

  // (last version, schema identity) -> materialized CDC files; the feed
  // is read far more often than it changes (every t$changes scan and
  // every CDF micro-batch planner builds against it)
  @volatile private var changesCache
      : Option[(Int, StructType, Vector[GraftDataFile])] = None

  /** Current CDC files: the derived files [[changeFilesOf]] plans for
    * each change-carrying retained commit, on every store (the
    * `_commit_version` zones make version-range reads skip every other
    * commit's files). Memoized per (version, schema) — retention
    * dropping OLD entries between same-version reads cannot occur
    * (retention only moves when a commit bumps the version). */
  private[sources] def changesFiles: Vector[GraftDataFile] = {
    refreshIfStale() // the CDF tails foreign writers' commits too
    val h = history // ONE volatile read: tag and build from the same log
    val v = h.last.version
    val schema = changesSchema
    changesCache match {
      case Some((cv, cs, fs)) if cv == v && cs == schema => fs
      case _ =>
        // entries at or below a retained schema break (REPLACE swap or
        // type WIDEN) never serve (the plan-time range guard already
        // refused any read reaching them); their change records are
        // expressed under an incompatible schema — disjoint field ids
        // (replace) or a narrower column representation (widen) — and
        // would canonicalize to garbage, so skip the build entirely
        val floor = h.reverseIterator
          .find(e => e.operation == GraftTable.ReplaceOp ||
            e.operation == GraftTable.WidenOp)
          .map(_.version).getOrElse(Int.MinValue)
        val fs = h.iterator.filter(_.version > floor)
          .flatMap(changeFilesOf).toVector
        changesCache = Some((v, schema, fs))
        fs
    }
  }

  /** CDC pseudo-files of ONE commit, planned from metadata alone on
    * every store: no change row is computed on the driver. The multiset
    * cancellation the feed's semantics demand is decomposed by zone
    * metadata —
    *  1. a file present on BOTH sides cancels whole (identity);
    *  2. an (added, removed) file pair with a provably DISJOINT zone
    *     range on any surviving column shares no row, so a file with no
    *     overlapping partner on the other side emits directly (a pure
    *     insert/delete DERIVED file, one partition per file);
    *  3. only genuinely overlapping files group into cancel components,
    *     whose signed-multiset diff runs in the PARTITION READER,
    *     hash-sliced past [[GraftTable.cdcCancelSliceRows]].
    * A persisted file enters its partition as a segment reference; any
    * other (an in-JVM table's heap file, a mid-flight record) ships its
    * rows in the commit's layout. An overwrite with fresh keys is case 2
    * throughout: its t$changes read plans like any other scan. */
  private[sources] def changeFilesOf(e: CommitEntry): Seq[GraftDataFile] = {
    if (e.added.isEmpty && e.removed.isEmpty) return Nil
    val outSchema = changesSchema
    val dataSchema = tableSchema
    // current-schema ordinal -> commit-schema ordinal (-1 = null-pad)
    val ordMap = dataSchema.fields.map(f => FieldIds.ordinalOf(f, e.schema))
    def idSet(fs: Seq[GraftDataFile]) = {
      val s = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[GraftDataFile, java.lang.Boolean]())
      fs.foreach(s.add)
      s
    }
    val remIds = idSet(e.removed)
    val addIds = idSet(e.added)
    val adds = e.added.filterNot(remIds.contains)
    val rems = e.removed.filterNot(addIds.contains)
    if (adds.isEmpty && rems.isEmpty) return Nil
    // a row can sit on both sides only if EVERY canonical column's
    // ranges overlap between the pair — one no-null disjoint-range
    // column proves the pair shares nothing
    def disjoint(a: GraftDataFile, b: GraftDataFile): Boolean =
      ordMap.exists { j =>
        j >= 0 && {
          val za = a.zone(j); val zb = b.zone(j)
          za != null && zb != null &&
            za.nullCount == 0L && zb.nullCount == 0L &&
            za.min != null && zb.min != null && {
              try ColZone.cmp(za.max, zb.min) < 0 ||
                  ColZone.cmp(zb.max, za.min) < 0
              catch { case _: ClassCastException => false }
            }
        }
      }
    // union-find overlap components (bipartite: edges only add<->rem)
    val n = adds.length + rems.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def union(x: Int, y: Int): Unit = { parent(find(x)) = find(y) }
    var ai = 0
    while (ai < adds.length) {
      var ri = 0
      while (ri < rems.length) {
        if (!disjoint(adds(ai), rems(ri))) union(ai, adds.length + ri)
        ri += 1
      }
      ai += 1
    }
    val trackedCdc = rowTrackingEnabled
    val idCol = if (trackedCdc) Seq("_row_id") else Nil
    // one change input: the file's whole rows in the commit's layout; a
    // tracked input's rows end in their `_row_id`
    def inputOf(f: GraftDataFile): GraftScanPartition =
      GraftTable.inputOf(f, e.schema, scala.collection.immutable.BitSet.empty,
        idCol)
    def zonesFor(tagMin: String, tagMax: String,
        members: Seq[GraftDataFile], claimed: Int): Array[ColZone] = {
      val z = new Array[ColZone](outSchema.length)
      z(0) = ColZone(utf8(tagMin), utf8(tagMax), 0L)
      z(1) = ColZone(e.version, e.version, 0L)
      z(2) = ColZone(e.tsMicros, e.tsMicros, 0L)
      val total = members.iterator.map(_.rowCount.toLong).sum
      var i = 0
      while (i < dataSchema.length) {
        val j = ordMap(i)
        z(3 + i) =
          if (j < 0) ColZone(null, null, claimed.toLong) // null-padded col
          else {
            val zs = members.map(_.zone(j))
            if (zs.contains(null)) null
            else if (members.lengthCompare(1) == 0) zs.head // exact
            else {
              val mins = zs.flatMap(z0 => Option(z0.min))
              val maxs = zs.flatMap(z0 => Option(z0.max))
              val mn = mins.reduceOption((a, b) =>
                if (ColZone.cmp(a, b) <= 0) a else b).orNull
              val mx = maxs.reduceOption((a, b) =>
                if (ColZone.cmp(a, b) >= 0) a else b).orNull
              val nulls = zs.iterator.map(_.nullCount).sum
              // CONSERVATIVE null claim under the inexact row count:
              // certain-none / certain-all are transferable; a mix can
              // only claim "some but not all" (needs claimed >= 2)
              if (nulls == 0L) ColZone(mn, mx, 0L)
              else if (nulls >= total) ColZone(mn, mx, claimed.toLong)
              else if (claimed >= 2) ColZone(mn, mx, 1L)
              else null
            }
          }
        i += 1
      }
      z
    }
    def pureFile(f: GraftDataFile, insert: Boolean): GraftDataFile = {
      val tag = if (insert) "insert" else "delete"
      val recipe = new GraftDeriveRecipe(
        exactCount = true, width = outSchema.length,
        partition = proj => GraftChangeScanPartition(
          if (insert) Seq(inputOf(f)) else Nil,
          if (insert) Nil else Seq(inputOf(f)),
          cancel = false, ordMap, dataSchema.json,
          e.version, e.tsMicros, proj, tracked = trackedCdc),
        // a position view's zones are the base's superset envelope
        statsExact = f.viewSel.isEmpty)
      GraftDataFile.derived(recipe, zonesFor(tag, tag, Seq(f), f.rowCount),
        f.sizeBytes, f.rowCount)
    }
    def cancelFiles(as: Seq[GraftDataFile],
        rs: Seq[GraftDataFile]): Seq[GraftDataFile] = {
      val claimed = (as.iterator ++ rs.iterator).map(_.rowCount.toLong).sum
      // hash-slice big components so no single task holds a
      // table-sized multiset: each slice re-reads the component's
      // inputs but counts only its share of the canonical row space
      val target = math.max(1L, GraftTable.cdcCancelSliceRows.toLong)
      val nSlices = math.max(1L, math.min(64L,
        (claimed + target - 1L) / target)).toInt
      val perSlice = ((claimed + nSlices - 1L) / nSlices).toInt
      val bytes = (as.iterator ++ rs.iterator).map(_.sizeBytes).sum
      val zones = zonesFor("delete", "insert", as ++ rs,
        math.max(2, perSlice)) // ≥2 keeps the null-ambiguity claim legal
      (0 until nSlices).map { i =>
        val recipe = new GraftDeriveRecipe(
          exactCount = false, // survivors unknown without reading
          width = outSchema.length,
          partition = proj => GraftChangeScanPartition(as.map(inputOf),
            rs.map(inputOf), cancel = true, ordMap, dataSchema.json,
            e.version, e.tsMicros, proj, slice = i, nSlices = nSlices,
            tracked = trackedCdc),
          statsExact = false)
        GraftDataFile.derived(recipe, zones,
          math.max(1L, bytes / nSlices), math.max(1, perSlice))
      }
    }
    val out = Vector.newBuilder[GraftDataFile]
    val comps = (0 until n).groupBy(find)
    // deterministic order: components by first member index; inside a
    // mixed component the reader emits adds then removes
    comps.toSeq.sortBy(_._2.head).foreach { case (_, members) =>
      val cAdds = members.filter(_ < adds.length).map(adds(_))
      val cRems = members.filter(_ >= adds.length)
        .map(i => rems(i - adds.length))
      if (cRems.isEmpty) cAdds.foreach(f => out += pureFile(f, insert = true))
      else if (cAdds.isEmpty)
        cRems.foreach(f => out += pureFile(f, insert = false))
      else out ++= cancelFiles(cAdds, cRems)
    }
    out.result()
  }

  /** Retained commit entries with version <= end (the CDF initial
    * replay). */
  private[sources] def entriesUpTo(end: Int): Seq[CommitEntry] = {
    val h = history
    val until = end + 1 - h.head.version
    if (until <= 0) Nil else h.slice(0, math.min(h.length, until))
  }

  private[sources] def changesMetaTable: GraftChangesTable =
    new GraftChangesTable(this)

  /** `SELECT * FROM t$detail` (Delta's DESCRIBE DETAIL): one row of
    * table-level facts — write mode, partitioning, file/row/byte census,
    * delete-vector census, constraints, retained history extent. */
  private[sources] def detailMetaTable: GraftSnapshotTable = {
    refreshIfStale()
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("row_level_mode", StringType, nullable = false),
      StructField("partitioning", StringType, nullable = false),
      StructField("num_files", IntegerType, nullable = false),
      StructField("num_rows", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("num_dv_files", IntegerType, nullable = false),
      StructField("num_dv_deleted_rows", LongType, nullable = false),
      StructField("constraints", StringType, nullable = false),
      StructField("retained_versions", StringType, nullable = false),
      StructField("bloom_columns", StringType, nullable = false),
      StructField("analyzed_columns", StringType, nullable = false),
      // r20 per-table declarative retention (NULL = engine default)
      StructField("retention_snapshots", IntegerType, nullable = true),
      StructField("retention_hours", DoubleType, nullable = true)))
    val fs = files
    val dvm = dvs
    val h = history
    val row = new GenericInternalRow(Array[Any](
      utf8(tableName),
      utf8(rowLevelMode),
      utf8(partitioning().map(_.toString).mkString(", ")),
      fs.length,
      fs.iterator.map(_.rowCount.toLong).sum -
        dvm.valuesIterator.map(_.size.toLong).sum,
      fs.iterator.map(_.sizeBytes).sum,
      dvm.size,
      dvm.valuesIterator.map(_.size.toLong).sum,
      utf8(checks.toSeq.sortBy(_._1)
        .map { case (n, c) => s"$n: ${c.text}" }.mkString("; ")),
      utf8(s"${h.head.version}..${h.last.version}"),
      utf8(GraftBloom.stampedCols(tableSchema).mkString(", ")),
      utf8(colStats.keys.toSeq.sorted.mkString(", ")),
      GraftTable.retentionSnapshotsOf(tableSchema)
        .map(Int.box).orNull,
      GraftTable.retentionHoursOf(tableSchema)
        .map(Double.box).orNull)): InternalRow
    new GraftSnapshotTable(s"$tableName$$detail", schema,
      Vector(GraftDataFile.build(Array(row), schema, None)))
  }

  def currentRows: Array[InternalRow] = files.toArray.flatMap(effRows)

  /** Current data files (file census surface for specs/maintenance). */
  private[graft] def dataFiles: Vector[GraftDataFile] = files

  /** Delete-vector census: (file ordinal, deleted-position count) for
    * every file carrying a DV — the MOR audit surface. */
  private[graft] def dvCensus: Seq[(Int, Int)] =
    files.zipWithIndex.collect {
      case (f, i) if dvs.contains(f) => (i, dvs(f).size)
    }

  // ---- commit paths ---------------------------------------------------
  // Commit callbacks run driver-side but possibly from concurrent query
  // threads; every install is a read-modify-write of `files`, so two
  // concurrent INSERTs into the same table could lose one batch without
  // the lock. Synchronizing on the table instance makes the documented
  // "atomic swap" hold under concurrent writers; readers stay lock-free
  // (volatile read of an immutable vector).

  /** Per-task deliveries → data files. A rows delivery (heap mode)
    * builds one file per non-empty task batch here, split per partition
    * group on partitioned tables by the rule the durable writer task
    * applies ([[GraftRewrite.regroup]]), zone maps computed here — the
    * "stats at commit time" half of data skipping. File deliveries are
    * ALREADY split/stat'd/persisted by their writer task and adopt by
    * reference — the driver never touches their rows. */
  private def buildFiles(ds: Array[GraftDelivery]): Vector[GraftDataFile] =
    ds.iterator.flatMap {
      case GraftFilesDelivery(fs) => fs.iterator
      case GraftRowsDelivery(batch, tIds, tVers) =>
        GraftRewrite.regroup(batch, tableSchema, keyOfOpt, Nil, Int.MaxValue)
          .iterator.map(idx => buildPending(idx.map(batch(_)),
            GraftRewrite.pick(tIds, idx), GraftRewrite.pick(tVers, idx),
            tableSchema))
    }.toVector

  // ---- executor-side writes -------------------------------------------
  /** Stable name of the current constraint set (order-free). */
  private def checksFingerprint: String =
    checks.toSeq.sortBy(_._1)
      .map { case (n, c) => s"$n=${c.text}" }.mkString(";")

  /** Fresh per-write recipe for the writer tasks and the task-side
    * rewrites; `tableDir` is None on in-JVM tables, whose rows ride
    * back in the commit message. A new writeId per call keeps
    * concurrent writes' segment names disjoint. */
  private[sources] def writeSpec(): GraftWriteSpec =
    GraftWriteSpec(durable.map(_.log.dir.toString), tableSchema.json,
      partitionCols, bucketSpec,
      checks.toSeq.sortBy(_._1),
      java.util.UUID.randomUUID().toString.take(12),
      checksFingerprint,
      rowTracking = rowTrackingEnabled)

  /** Driver-side adoption of commit messages: rows messages pass
    * through; segment messages become lazily-loadable files referencing
    * the parquet their TASK already wrote (registered in the durable
    * registry so the log's encode/decode shares object identity). The
    * commit that follows is a log entry — data never crosses here.
    * Either kind's rows were CHECK-validated task-side against the set
    * bound at write START; if a concurrent ADD CONSTRAINT landed since,
    * they were never validated against it — abort (retry revalidates),
    * never let them slip in (Delta's metadata-conflict abort). */
  private[sources] def adoptDeliveries(
      messages: Array[WriterCommitMessage]): Array[GraftDelivery] = {
    def checked(fingerprint: String): Unit =
      if (fingerprint != checksFingerprint)
        throw new java.util.ConcurrentModificationException(
          s"$tableName: CHECK constraints changed while this write " +
            "was in flight; its rows were validated against the old " +
            "set — retry the statement")
    messages.map {
      case m: GraftRowsMessage =>
        checked(m.checksFingerprint)
        GraftRowsDelivery(m.rows, m.trackIds, m.trackVers)
      case m: GraftSegmentsMessage =>
        if (durable.isEmpty) throw new IllegalStateException(
          s"$tableName: segment commit message on a non-durable table")
        checked(m.checksFingerprint)
        // a metadata-only ADD COLUMN may have widened the table between
        // the write factory's creation and this commit — bring the
        // adopted handles in line (no-op otherwise)
        val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
        GraftFilesDelivery(m.segs.iterator.map(adoptSegment(_, schema))
          .tapEach(_.resegment(tableSchema)).toVector)
      case other => throw new IllegalStateException(
        s"$tableName: unexpected commit message $other")
    }
  }

  /** The file for a segment a task wrote under `schema`, registered in
    * the durable registry so the log's encode/decode shares object
    * identity. Row identity attaches as the task left it: a lazy loader
    * for a task-written `.rowids` sidecar, or the shipped vectors as a
    * PENDING track whose Mint sentinels snap() resolves. */
  private def adoptSegment(m: GraftSegmentMeta,
      schema: StructType): GraftDataFile = {
    val d = durable.get
    val path = d.log.dir.resolve(m.rel)
    val f = GraftDataFile.fromSegment(new GraftSegmentHandle(path, schema),
      m.zones, m.bytes, m.groupKey, m.rowCount, bloomRefs = m.bloomRefs)
    if (m.trackSidecar)
      f.track = new GraftRowTrack(-1L, -1L, null, null, explicit = true,
        loader = () => GraftRowIdSidecar.read(path))
    else if (m.trackIds != null)
      f.track = GraftRowTrack.pending(m.trackIds, m.trackVers)
    d.registry.put(m.rel, f)
    f
  }

  /** The driver's side of every rewrite, either store: a task-written
    * segment becomes a file reference ([[adoptSegment]]), an in-JVM
    * chunk a heap file carrying its rows' identities ([[buildPending]]). */
  private def adopt(chunks: Seq[GraftChunk],
      schema: StructType): Vector[GraftDataFile] =
    chunks.iterator.map {
      case m: GraftSegmentMeta => adoptSegment(m, schema)
      case GraftRowsChunk(rows, ids, vers) =>
        buildPending(rows, ids, vers, schema)
    }.toVector

  /** Runs the rewrites ([[GraftRewrite]]) of either store: `plan` turns
    * a fresh write recipe (table directory — none on an in-JVM table —,
    * current schema and row-tracking state, a new write id) into jobs,
    * and `kernel` runs on each. A durable table's jobs run as Spark
    * tasks under `session`, one per job. An in-JVM table's run on the
    * calling thread, where its rows live — its heap files share row
    * objects across versions, and a task boundary would copy every row
    * — and so does any job without a session: the same kernel either
    * way. */
  private def runTasks[J: scala.reflect.ClassTag, R: scala.reflect.ClassTag](
      session: Option[org.apache.spark.sql.SparkSession] =
        org.apache.spark.sql.SparkSession.getActiveSession)(
      plan: GraftWriteSpec => Seq[J])(kernel: J => R): Array[R] = {
    val jobs = plan(writeSpec())
    session match {
      case Some(sp) if durable.isDefined && jobs.nonEmpty =>
        val prev = org.apache.spark.sql.SparkSession.getActiveSession
        org.apache.spark.sql.SparkSession.setActiveSession(sp)
        try sp.sparkContext.parallelize(jobs, jobs.length).map(kernel)
          .collect()
        finally prev match {
          case Some(x) => org.apache.spark.sql.SparkSession.setActiveSession(x)
          case None => org.apache.spark.sql.SparkSession.clearActiveSession()
        }
      case _ => jobs.map(kernel).toArray
    }
  }

  /** A rewrite's input: file `f`'s live rows (`dead` skipped) in
    * `spec`'s layout, ending in their identity when `spec` tracks rows.
    * A durable table's tasks read what [[GraftTable.inputOf]] gives
    * them; an in-JVM table's kernel runs on the driver, so it takes
    * every file's rows as the driver caches them. */
  private def rewriteInput(f: GraftDataFile,
      dead: scala.collection.immutable.BitSet,
      spec: GraftWriteSpec): GraftScanPartition = {
    val meta =
      if (spec.rowTracking) Seq("_row_id", "_row_commit_version") else Nil
    if (durable.isDefined) GraftTable.inputOf(f, spec.schema, dead, meta)
    else GraftInputPartition(GraftTable.heapRows(f, spec.schema,
      Array.range(0, spec.schema.length), dead, meta, -1))
  }

  /** A heap file of `rows` in `schema` carrying their identities as a
    * PENDING track (Mint sentinels resolve, and the track finalizes, at
    * snap) — a rewrite moves rows, never ids. Null `ids` = nothing
    * preserved. */
  private def buildPending(rows: Array[InternalRow], ids: Array[Long],
      vers: Array[Long], schema: StructType): GraftDataFile = {
    val nf = GraftDataFile.build(rows, schema, boundGroupKeyFor(schema))
    if (ids != null) nf.track = GraftRowTrack.pending(ids, vers)
    nf
  }

  /** Abort/replay cleanup: delete the segments an uncommitted write's
    * tasks landed (a skipped streaming-epoch replay, or a job abort
    * after task commits). Only files absent from every retained commit
    * are touched — an install that already succeeded is never undone
    * here. */
  private[sources] def discardDeliveries(
      messages: Array[WriterCommitMessage]): Unit =
    discardSegments(messages.iterator.collect {
      case m: GraftSegmentsMessage => m.segs.iterator.map(_.rel)
    }.flatten)

  /** Deliveries-based twin (post-adoption — a skipped streaming-epoch
    * replay holds adopted file objects, not raw messages). */
  private def discardDeliveriesD(ds: Array[GraftDelivery]): Unit =
    durable.foreach { d =>
      discardSegments(ds.iterator.collect {
        case GraftFilesDelivery(fs) => fs.iterator
          .filter(f => f.persisted && f.segment.path.startsWith(d.log.dir))
          .map(f => d.log.dir.relativize(f.segment.path).toString)
      }.flatten)
    }

  private def discardSegments(rels: Iterator[String]): Unit =
    durable.foreach { d =>
      val pending = rels.toSeq
      if (pending.nonEmpty) {
        // live = every segment any retained commit OR the current
        // in-memory state references (the two can briefly diverge if a
        // commit's log CAS failed after the state swap) — an installed
        // file is never deleted here
        val live: Set[String] = (history.iterator.flatMap(e =>
          e.files.iterator ++ e.added.iterator ++ e.removed.iterator)
          ++ files.iterator)
          .filter(_.persisted)
          .map(f => f.segment.path.toString).toSet
        pending.foreach { rel =>
          val abs = d.log.dir.resolve(rel)
          if (!live.contains(abs.toString)) {
            d.registry.remove(rel)
            GraftRewrite.delete(abs)
          }
        }
      }
    }

  /** Remove all rows of the partition groups matching `touched`. Files
    * wholly owned by a dropped group (the common, writer-aligned case)
    * drop BY REFERENCE; files spanning groups (post-compaction) split in
    * tasks ([[GraftRewrite.split]]), one per file, whatever the file is.
    * Returns (kept files, removed row sets): the second component feeds
    * the commit's CDC record — whole dropped files ride by reference, a
    * partially-dropped file contributes a pseudo-file holding exactly
    * its dropped rows. */
  private def dropGroupRows(fs: Vector[GraftDataFile],
      touched: Seq[Any] => Boolean)
      : (Vector[GraftDataFile], Vector[GraftDataFile]) = {
    val kept = Vector.newBuilder[GraftDataFile]
    val removed = Vector.newBuilder[GraftDataFile]
    val spanning = fs.filter(_.groupKey.isEmpty)
    val splits: Map[GraftDataFile, GraftSplitResult] = spanning.zip(
      runTasks()(spec => spanning.zipWithIndex.map { case (f, i) =>
        GraftSplitJob(rewriteInput(f, deadOf(f), spec), spec, i, touched)
      })(GraftRewrite.split)).toMap // identity-keyed
    fs.foreach { f =>
      f.groupKey match {
        case Some(k) =>
          // `removed` feeds ONLY the CDC record, so a DV'd file reports
          // its live rows; a kept file keeps its identity (and its DV)
          if (touched(k)) removed ++= cdcLiveView(Vector(f)) else kept += f
        case None =>
          val res = splits(f)
          if (res.goneRows == 0) kept += f // untouched: keep identity
          else if (res.stayRows == 0) removed ++= cdcLiveView(Vector(f))
          else {
            removed ++= adopt(res.gone.toSeq, tableSchema)
            // rebuilt from live rows → the new file needs no DV
            kept ++= adopt(res.stay.toSeq, tableSchema)
          }
      }
    }
    (kept.result(), removed.result())
  }

  private[sources] def installAppend(batches: Array[Array[InternalRow]]): Unit =
    installAppend(GraftDeliveries.rows(batches))
  private[sources] def installAppend(ds: Array[GraftDelivery]): Unit =
    installAppendAs("APPEND", ds)
  /** Append commit with an explicit DESCRIBE HISTORY operation tag
    * (COPY INTO labels its one commit so the log reads like Delta's
    * history and the command's rows_loaded census can find it). */
  private[sources] def installAppendAs(op: String,
      ds: Array[GraftDelivery],
      params: Map[String, String] = Map.empty): Unit =
    mutate {
      val nf = buildFiles(ds)
      files = files ++ nf
      snap(op, added = nf, params = params)
      maybeAutoCompact()
    }

  /** Partition groups whose sub-target files cross the knob: count
    * mode (enc > 0) fires at enc files; byte mode (enc < 0) fires when
    * >= 2 sub-target files accumulate -enc bytes. Metadata-only. */
  private def autoCompactTrigger(enc: Long): Set[Option[Seq[Any]]] = {
    val small = files.iterator
      .filter(_.rowCount < GraftTable.AutoCompactTargetRows)
      .toSeq.groupBy(_.groupKey)
    if (enc > 0)
      small.collect {
        case (k, fs) if fs.lengthCompare(enc.toInt) >= 0 => k
      }.toSet
    else
      small.collect {
        case (k, fs) if fs.lengthCompare(2) >= 0 &&
          fs.iterator.map(_.sizeBytes).sum >= -enc => k
      }.toSet
  }

  /** Dedup guard: at most one queued pass per table (a pass that finds
    * more work re-queues nothing — the next commit's hook does). */
  private val autoCompactQueued =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Post-commit AUTO-COMPACTION hook (`auto.compact`, Delta's
    * autoCompact): called INSIDE the committing mutate, but on a durable
    * table it only census-checks and ENQUEUES — the rewrite itself runs
    * on the [[GraftAutoCompact]] daemon, outside this commit's lease, so
    * a large pending compaction never inflates an INSERT's or a
    * streaming epoch's commit latency and never blocks concurrent
    * commits. An in-JVM table's pass is short and in-process on its
    * heap rows: it runs right here, so the next statement sees the
    * compacted layout instead of racing it. BEST-EFFORT by contract,
    * like Delta's: the triggering write has already committed, so a
    * compaction failure (or a conflict-abort against an intervening
    * commit) surfaces as a missed maintenance pass — the next commit's
    * hook retries — never as a failed INSERT. */
  private def maybeAutoCompact(): Unit =
    GraftTable.autoCompactEncoded(tableSchema).foreach { enc =>
      // capture the session HERE: getActiveSession is thread-local and
      // the daemon thread has none
      val session = org.apache.spark.sql.SparkSession.getActiveSession
      def pass(): Unit =
        try autoCompactPass(session)
        catch {
          case scala.util.control.NonFatal(e) => // retried next commit
            System.err.println(
              s"[graft:auto-compact] $tableName: pass skipped: $e")
        }
      if (autoCompactTrigger(enc).nonEmpty) {
        if (durable.isEmpty) pass()
        else if (autoCompactQueued.compareAndSet(false, true))
          GraftAutoCompact.submit { () =>
            autoCompactQueued.set(false)
            pass()
          }
      }
    }

  /** One background auto-compaction pass — the async OPTIMIZE shape a
    * production table format runs (Delta's post-commit autoCompact,
    * Iceberg's maintenance rewrite):
    *
    *  1. PLAN under a short fresh lease: re-census the trigger against
    *     the CURRENT state (the enqueue-time observation may be stale)
    *     and bin-pack the offending groups' sub-target files with
    *     OPTIMIZE's planner ([[compactionPlan]]), snapshotting each
    *     input's delete vector.
    *  2. REWRITE outside any lock or lease (an in-JVM table's pass runs
    *     inside its triggering commit, see [[maybeAutoCompact]]): the
    *     bins rebuild through [[runTasks]] under the session captured at
    *     enqueue, with [[GraftRewrite.compact]] — the kernel OPTIMIZE
    *     uses, including the per-live-group-key regroup. Concurrent
    *     commits proceed freely.
    *  3. SPLICE under a second fresh lease, optimistically: if an
    *     intervening commit rewrote/removed ANY planned input, folded
    *     new deletes into one (splicing would resurrect rows the
    *     rewrite never saw deleted), or changed the schema, the
    *     compaction ABORTS — segments discarded, ingest untouched,
    *     the next commit's hook re-plans. Otherwise the new files
    *     swap in as an ordinary OPTIMIZE commit. */
  private def autoCompactPass(
      session: Option[org.apache.spark.sql.SparkSession]): Unit = {
    final case class Plan(bins: Vector[Seq[GraftDataFile]],
        dvSnap: Map[GraftDataFile, scala.collection.immutable.BitSet],
        schema: StructType)
    val target = GraftTable.AutoCompactTargetRows
    val planned: Option[Plan] = mutate {
      GraftTable.autoCompactEncoded(tableSchema).flatMap { enc =>
        val trigger = autoCompactTrigger(enc)
        val bins = compactionPlan(target, f => trigger.contains(f.groupKey))
          .collect { case Right(fs) => fs }
        if (bins.isEmpty) None
        else Some(Plan(bins, bins.flatten.map(f => f -> deadOf(f)).toMap,
          tableSchema))
      }
    }
    planned.foreach { p =>
      val out = runTasks(session)(spec0 => {
        val spec = spec0.copy(schemaJson = p.schema.json)
        p.bins.zipWithIndex.map { case (fs, i) =>
          GraftCompactJob(fs.map(f => rewriteInput(f, p.dvSnap(f), spec)),
            spec, i, Nil, target)
        }
      })(GraftRewrite.compact).toSeq.flatten
      GraftAutoCompact.reachedSplice.foreach(_.countDown())
      GraftAutoCompact.holdBeforeSplice.foreach(_.await())
      val committed = mutate {
        val inputs = p.bins.flatten
        val schemaOk = tableSchema == p.schema
        val present = inputs.forall(f => files.exists(_ eq f))
        val dvsSame = inputs.forall(f => deadOf(f) == p.dvSnap(f))
        if (!(schemaOk && present && dvsSame)) false
        else {
          files = files.filterNot(f => inputs.exists(_ eq f)) ++
            adopt(out, p.schema)
          pruneDvs()
          snap("OPTIMIZE", params = Map("trigger" -> "auto"))
          true
        }
      }
      if (!committed) {
        GraftAutoCompact.aborts.incrementAndGet()
        discardSegments(out.iterator.collect {
          case m: GraftSegmentMeta => m.rel
        })
      }
    }
  }
  private[sources] def installReplace(ds: Array[GraftDelivery]): Unit =
    mutate {
      val old = cdcLiveView(files)
      val nf = buildFiles(ds)
      files = nf
      pruneDvs()
      snap("OVERWRITE", added = nf, removed = old)
    }

  /** Row-level (COW) commit: replace exactly the `touched` partition
    * groups with the delivered post-operation contents; rows of untouched
    * groups carry over BY REFERENCE. `None` = the runtime group filter
    * never ran (unpartitioned table, or an unrecognized predicate shape)
    * — the scanned group was the whole table, so the whole table swaps.
    * `op` labels the commit (MERGE / UPDATE / DELETE).
    *
    * OPTIMISTIC CONCURRENCY: the delivered contents derive from
    * `expectedBase` (the scan's snapshot), so the commit verifies it is
    * still an identity-prefix of the table and that no concurrent
    * append landed IN a rewritten scope — a whole-table swap conflicts
    * with any append, a group swap only with appends into a touched
    * group (appends elsewhere carry over untouched). Without this check
    * a concurrent INSERT's committed rows would silently vanish in the
    * swap (Delta's ConcurrentAppendException, not a lost update). */
  private[sources] def installReplaceGroups(batches: Array[Array[InternalRow]],
      touched: Option[Seq[Any] => Boolean],
      op: String,
      expectedBase: Vector[GraftDataFile]): Unit =
    installReplaceGroups(GraftDeliveries.rows(batches), touched, op,
      expectedBase)
  private[sources] def installReplaceGroups(ds: Array[GraftDelivery],
      touched: Option[Seq[Any] => Boolean],
      op: String = "MERGE",
      expectedBase: Vector[GraftDataFile]): Unit = mutate {
    val fsnap = files
    if (fsnap.length < expectedBase.length ||
        !expectedBase.indices.forall(i => fsnap(i) eq expectedBase(i)))
      throw new java.util.ConcurrentModificationException(
        s"$tableName: data files were rewritten between this $op's scan " +
          "and its commit; retry the statement")
    val suffix = fsnap.drop(expectedBase.length) // concurrent appends
    val conflicting = touched match {
      case None => suffix.nonEmpty
      case Some(pred) =>
        val keyOf = boundGroupKey()
        suffix.exists(f => f.groupKey.map(pred).getOrElse {
          // a keyless persisted suffix file would need a segment read
          // ON THE DRIVER to prove non-overlap — conservatively abort
          // instead (task-written appends on partitioned tables always
          // carry keys, so this fires only for exotic concurrent
          // layouts, and a retry is always safe)
          f.persisted || f.rows.exists(r => pred(keyOf(r)))
        })
    }
    if (conflicting)
      throw new java.util.ConcurrentModificationException(
        s"$tableName: a concurrent append landed in a scope this $op " +
          "rewrites; committing would discard it — retry the statement")
    val nf = buildFiles(ds)
    val dropped = touched match {
      case None => val old = cdcLiveView(fsnap); files = nf; old
      case Some(pred) =>
        val (kept, gone) = dropGroupRows(fsnap, pred)
        files = kept ++ nf
        gone
    }
    pruneDvs()
    snap(op, added = nf, removed = dropped,
      params = Map("mode" -> GraftTable.CopyOnWrite))
    maybeAutoCompact()
  }

  /** INSERT OVERWRITE of specific partition groups (static mode with a
    * partition predicate): delete the matching groups, then append. */
  private[sources] def installOverwriteGroups(ds: Array[GraftDelivery],
      touched: Seq[Any] => Boolean): Unit = mutate {
    val (kept, gone) = dropGroupRows(files, touched)
    val nf = buildFiles(ds)
    files = kept ++ nf
    pruneDvs()
    snap("OVERWRITE", added = nf, removed = gone)
  }

  /** Dynamic-partition INSERT OVERWRITE: replace exactly the groups the
    * delivered rows land in; every other partition is untouched (the
    * same contract as the parquet-side s22 path, and Hive/Delta's
    * `partitionOverwriteMode=dynamic`). */
  private[sources] def installDynamicOverwrite(
      ds: Array[GraftDelivery]): Unit = mutate {
    val keyOf = boundGroupKey()
    // a task-written file's key comes from its metadata — the touched
    // set never needs the segment's rows
    val touched = ds.iterator.flatMap {
      case GraftRowsDelivery(rows, _, _) => rows.iterator.map(keyOf)
      case GraftFilesDelivery(fs) =>
        fs.iterator.map(_.groupKey.getOrElse(Nil))
    }.toSet
    val (kept, gone) = dropGroupRows(files, touched.contains)
    val nf = buildFiles(ds)
    files = kept ++ nf
    pruneDvs()
    snap("OVERWRITE", added = nf, removed = gone)
    maybeAutoCompact()
  }

  /** Compile an `OPTIMIZE … WHERE` / `REORG … WHERE` partition
    * predicate into a file-scope test. The predicate binds against a
    * schema of the PARTITION COLUMNS ONLY (Delta's contract — a
    * non-partition reference fails loudly as "no such column"), and a
    * file is in scope when its partition-group key satisfies it.
    * Group-SPANNING files (the post-compaction None bin) are out of
    * every partition's scope by construction — plain OPTIMIZE covers
    * them. Null never matches (SQL WHERE semantics). */
  private[sources] def groupScope(predText: String)
      : GraftDataFile => Boolean = {
    if (bucketSpec.isDefined)
      throw new UnsupportedOperationException(
        "OPTIMIZE ... WHERE is not defined for bucketed tables (a hash " +
          "bucket is not a value partition)")
    if (partitionCols.isEmpty)
      throw new IllegalArgumentException(
        "OPTIMIZE ... WHERE requires a partitioned table — the " +
          "predicate scopes partition groups")
    val pschema = StructType(partitionCols.map(c =>
      tableSchema.fields(tableSchema.fieldIndex(c))).toArray)
    val chk = GraftConstraints.compile(predText, pschema)
    f => f.groupKey.exists { k =>
      chk.expr.eval(new GenericInternalRow(k.toArray)) ==
        java.lang.Boolean.TRUE
    }
  }

  /** The bin plan of OPTIMIZE and auto-compaction, metadata-only (row
    * counts and group keys — no row loads): in-scope files below
    * `targetRows` merge greedily per partition group, in file order,
    * until a bin would pass the target (a packed file never spans
    * partitions it didn't already span); other files carry over BY
    * REFERENCE (Left), in encounter order. A lone bin file with no
    * delete vector has nothing to gain from a rewrite and carries over
    * too; anything else rebuilds from LIVE rows — compaction purges the
    * delete vectors of the small files it touches (Delta's OPTIMIZE +
    * REORG PURGE behavior). */
  private def compactionPlan(targetRows: Int,
      inScope: GraftDataFile => Boolean)
      : Vector[Either[GraftDataFile, Seq[GraftDataFile]]] = {
    val plan = Vector.newBuilder[Either[GraftDataFile, Seq[GraftDataFile]]]
    val bins = scala.collection.mutable.LinkedHashMap
      .empty[Option[Seq[Any]], scala.collection.mutable.ArrayBuffer[GraftDataFile]]
    def flush(key: Option[Seq[Any]]): Unit =
      bins.remove(key).filter(_.nonEmpty).foreach { fs =>
        if (fs.length == 1 && !dvs.contains(fs.head)) plan += Left(fs.head)
        else plan += Right(fs.toSeq)
      }
    files.foreach { f =>
      if (!inScope(f) || f.rowCount >= targetRows) plan += Left(f)
      else {
        val buf = bins.getOrElseUpdate(f.groupKey,
          scala.collection.mutable.ArrayBuffer.empty)
        if (buf.iterator.map(_.rowCount).sum + f.rowCount > targetRows)
          flush(f.groupKey)
        bins.getOrElseUpdate(f.groupKey,
          scala.collection.mutable.ArrayBuffer.empty) += f
      }
    }
    bins.keys.toSeq.foreach(flush)
    plan.result()
  }

  /** `OPTIMIZE` (bin-packing compaction), the Delta/Iceberg small-file
    * maintenance op: [[compactionPlan]] bins the in-scope files below
    * `targetRows`; files at or above the target carry over BY
    * REFERENCE. The row multiset is UNCHANGED and the rewrite is
    * recorded as a commit, so time travel serves the pre- and
    * post-compaction layouts with identical data. Returns (filesBefore,
    * filesAfter). */
  private[sources] def optimizeCompact(targetRows: Int,
      inScope: GraftDataFile => Boolean = _ => true,
      params: Map[String, String] = Map.empty): (Int, Int) =
    mutate {
      require(targetRows > 0, "targetRows must be positive")
      val before = files
      files = runCompaction(compactionPlan(targetRows, inScope), Nil,
        targetRows)
      pruneDvs()
      // layout-only: zero logical row changes
      snap("OPTIMIZE",
        params = params + ("target_rows" -> targetRows.toString))
      (before.length, files.length)
    }

  /** `REORG TABLE … APPLY (PURGE)` (Delta's reorg): rewrite EXACTLY the
    * files carrying delete vectors — each rebuilds solo from its live
    * rows — so soft-deleted data physically leaves the table without a
    * full compaction; DV-less files carry over by reference, whatever
    * their size. The follow-up VACUUM then reclaims the old segments:
    * the two-step GDPR-delete a MOR table owes its users. Returns
    * (files purged, rows physically removed). */
  private[sources] def reorgPurge(
      inScope: GraftDataFile => Boolean = _ => true): (Int, Long) =
    mutate {
      val before = files
      val planned: Vector[Either[GraftDataFile, Seq[GraftDataFile]]] =
        before.map { f =>
          if (dvs.contains(f) && inScope(f)) Right(Seq(f))
          else Left(f)
        }
      val mergeBins = planned.collect { case Right(fs) => fs }
      val purgedRows = mergeBins.iterator
        .map(fs => dvs.get(fs.head).map(_.size.toLong).getOrElse(0L)).sum
      files = runCompaction(planned, Nil, Int.MaxValue)
      pruneDvs()
      // layout-only: zero logical row changes
      snap("REORG", params = Map("apply" -> "PURGE"))
      (mergeBins.length, purgedRows)
    }

  /** Execute a compaction plan: carried files (Left) stay, each merge
    * bin (Right) is replaced by its live rows regrouped under
    * [[GraftRewrite.regroup]] — split by the current group key, then
    * (with `zorderCols`) z-ordered and cut into `targetRows`-row files.
    * Each bin is one [[GraftRewrite.compact]] job ([[runTasks]]),
    * whatever its files are, and the driver adopts the outputs (the
    * Delta distributed-OPTIMIZE shape — at 100 TB, rebuild cost spreads
    * across the cluster and the driver never holds a durable table's
    * rows). */
  private def runCompaction(
      planned: Vector[Either[GraftDataFile, Seq[GraftDataFile]]],
      zorderCols: Seq[String], targetRows: Int): Vector[GraftDataFile] = {
    val mergeBins = planned.collect { case Right(fs) => fs }
    val merged = runTasks()(spec => mergeBins.zipWithIndex.map {
      case (fs, i) =>
        GraftCompactJob(fs.map(f => rewriteInput(f, deadOf(f), spec)), spec,
          i, zorderCols, targetRows)
    })(GraftRewrite.compact).iterator.map(out => adopt(out.toSeq,
      tableSchema))
    planned.flatMap {
      case Left(f) => Vector(f)
      case Right(_) => merged.next()
    }
  }

  /** `OPTIMIZE ZORDER BY (cols...)`: rewrite the file LAYOUT along the
    * Morton curve — 16-bin order-preserving quantization per clustering
    * column (from the scope's min/max), bits interleaved, rows sorted by
    * curve position and re-packed into `targetRows`-sized files. Each
    * file then covers a RECTANGLE in clustering space, so its zone maps
    * prune multi-dimensional selective scans (the s31-census effect,
    * now served by the real read path on demand). Partitioned tables
    * cluster WITHIN each partition group (the Delta semantics — ZORDER
    * never mixes partitions): each group's files form one bin, and a
    * scope holding group-SPANNING files (legacy remainders after a spec
    * evolution) is one bin that [[runCompaction]] regroups. Row
    * multiset unchanged; recorded as a commit. Clustering columns must
    * be integral-valued (int/long/short/byte/date/timestamp) or
    * strings. */
  private[sources] def zorderCompact(cols: Seq[String],
      targetRows: Int,
      inScope: GraftDataFile => Boolean = _ => true,
      params: Map[String, String] = Map.empty): (Int, Int) =
    mutate {
      require(cols.nonEmpty, "ZORDER BY needs at least one column")
      require(targetRows > 0, "targetRows must be positive")
      GraftZCurve.checkCols(tableSchema, cols) // validate before any work
      val all = files
      val before = all.filter(inScope)
      val scopes: Vector[Seq[GraftDataFile]] =
        if (before.isEmpty) Vector.empty
        else if (partitionCols.isEmpty || before.exists(_.groupKey.isEmpty))
          Vector(before)
        else
          before.groupBy(_.groupKey).toVector
            .sortBy(_._1.map(_.mkString("|")).getOrElse(""))
            .map(_._2.toSeq)
      files = runCompaction(all.filterNot(inScope).map(Left(_)) ++
        scopes.map(Right(_)), cols, targetRows)
      pruneDvs()
      // layout-only: zero logical row changes
      snap("ZORDER", params = params +
        ("zorder_by" -> cols.mkString(",")) +
        ("target_rows" -> targetRows.toString))
      (all.length, files.length)
    }

  /** Incremental-clustering scope for a CLUSTER BY table's defaulted
    * OPTIMIZE (r18): everything NOT already laid out by the newest
    * retained FULL-table ZORDER over the same keys. That commit's
    * census is fully clustered by construction (its scope files were
    * re-laid; its carried files were the previous pass's output), so
    * only files that entered the table SINCE — appends, COW/MOR
    * rewrites — re-cluster: routine OPTIMIZE cost tracks NEW data, not
    * table size (Delta's liquid-clustering contract; at 100 TB the
    * difference between a daily table rewrite and a daily delta pass).
    * WHERE-scoped passes never anchor (their carried remainder was
    * not clustered); no anchor retained → everything is in scope (the
    * first pass is the full layout). Same-fold object identity is the
    * membership key — the decode registry dedupes refs per chain, so
    * a restart preserves it. */
  private[sources] def incrementalClusterScope(cols: Seq[String])
      : GraftDataFile => Boolean = {
    val keys = cols.mkString(",")
    history.reverseIterator.find(e =>
      e.operation == "ZORDER" &&
        e.params.get("zorder_by").contains(keys) &&
        !e.params.contains("where")) match {
      case None =>
        // BRANCH chains with no clustering pass of their own (r19):
        // when MAIN's coverage was COMPLETE at the fork (forkBranch
        // checked main's own scope and stamped the creation entry),
        // the fork census is already laid out — the branch's first
        // defaulted OPTIMIZE re-lays only post-fork files instead of
        // the whole table (at 100 TB, a routine pass instead of a
        // full rewrite). An unstamped fork (pre-r19 branch, or main
        // had pending files) degrades to the full re-layout —
        // conservative and correct.
        history.headOption.filter(e =>
          e.operation == GraftTable.CreateBranchOp &&
            e.params.get("clusterForkKeys").contains(keys) &&
            (e.params.get("clusterForkCovered").contains("true") ||
              e.params.contains("clusterForkPending"))) match {
          case Some(creation) =>
            // full coverage: every fork file is laid out; partial
            // coverage: all but the stamped PENDING names are
            val pendingNames = creation.params
              .get("clusterForkPending")
              .map(_.split(',').toSet).getOrElse(Set.empty)
            val clustered = java.util.Collections.newSetFromMap(
              new java.util.IdentityHashMap[
                GraftDataFile, java.lang.Boolean]())
            creation.files.foreach { f =>
              if (!(f.persisted && pendingNames.contains(
                  f.segment.path.getFileName.toString)))
                clustered.add(f)
            }
            f => !clustered.contains(f)
          case None => _ => true
        }
      case Some(e) =>
        val clustered = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[GraftDataFile, java.lang.Boolean]())
        e.files.foreach(clustered.add)
        f => !clustered.contains(f)
    }
  }

  // ---- metadata-only DELETE ------------------------------------------
  // A DELETE whose condition is expressible over the identity partition
  // columns needs no rewrite at all: it is a partition drop — the 100 TB
  // operation a real table format serves from the transaction log without
  // touching a data file. Spark's metadata-delete rule consults
  // canDeleteWhere BEFORE planning the row-level fallback, so an
  // inexpressible condition (non-partition columns, unrecognized shape)
  // degrades to the COW route automatically.
  private def alwaysTrueOnly(filters: Array[Predicate]): Boolean =
    filters.isEmpty || filters.forall(_.name == "ALWAYS_TRUE")

  override def canDeleteWhere(filters: Array[Predicate]): Boolean =
    alwaysTrueOnly(filters) || groupKeyTest(filters).isDefined

  /** The filters as an exact partition-group test ([[ZonePredicate]]). */
  private def groupKeyTest(filters: Array[Predicate]) =
    ZonePredicate.groupKeyTest(filters, partitionCols, tableSchema)

  override def deleteWhere(filters: Array[Predicate]): Unit = mutate {
    val gone =
      if (alwaysTrueOnly(filters)) {
        val old = cdcLiveView(files); files = Vector.empty; old
      }
      else {
        val pred = groupKeyTest(filters)
          .getOrElse(throw new UnsupportedOperationException(
            s"deleteWhere called with inexpressible filters " +
              s"${filters.mkString(", ")} — canDeleteWhere should have " +
              "routed this to the row-level rewrite"))
        val (kept, dropped) = dropGroupRows(files, pred)
        files = kept
        dropped
      }
    pruneDvs()
    snap("DELETE", removed = gone,
      params = Map("predicate" ->
        (if (alwaysTrueOnly(filters)) "true"
         else filters.mkString(" AND "))))
  }

  /** Catalog RENAME support: the same object keeps its rows and in-flight
    * writes; only the reported name moves. Locked with the install
    * callbacks so a rename never interleaves a commit's read-modify-write. */
  private[sources] def rename(newName: String): Unit =
    synchronized { tableName = newName }

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def properties(): util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put(GraftTable.RowLevelModeProp, rowLevelMode)
    val bloomed = GraftBloom.stampedCols(tableSchema)
    if (bloomed.nonEmpty)
      m.put(GraftBloom.BloomProp, bloomed.mkString(","))
    GraftBloom.fppOf(tableSchema).foreach(p =>
      m.put(GraftBloom.FppProp, p.toString))
    GraftTable.autoCompactEncoded(tableSchema).foreach(enc =>
      m.put(GraftTable.AutoCompactProp, GraftTable.renderAutoCompact(enc)))
    val clusterBy = GraftTable.clusterByCols(tableSchema)
    if (clusterBy.nonEmpty)
      m.put(GraftTable.ClusterByProp, clusterBy.mkString(","))
    if (rowTrackingEnabled)
      m.put(GraftTable.RowTrackingProp, "true")
    GraftTable.retentionSnapshotsOf(tableSchema).foreach(n =>
      m.put(GraftTable.RetentionSnapshotsProp, n.toString))
    GraftTable.retentionHoursOf(tableSchema).foreach(h =>
      m.put(GraftTable.RetentionHoursProp, h.toString))
    checks.foreach { case (n, c) =>
      m.put(GraftConstraints.Prefix + n, c.text)
    }
    m
  }

  /** Transforms incoming writes cluster by (one task per group → one
    * file per group): the identity partition columns, or the bucket
    * transform — which Spark's distribution planner evaluates through
    * the catalog's own `bucket` function, the same kernel
    * [[groupKeyOf]] uses. */
  private def clusterTransforms
      : Array[org.apache.spark.sql.connector.expressions.Expression] = {
    val hard = partitioning().map(t =>
      t: org.apache.spark.sql.connector.expressions.Expression)
    // CLUSTER BY tables (never hard-partitioned — the exclusions hold
    // at declaration): co-locate same-key rows per write task, so
    // fresh files carry tight zone maps without waiting for OPTIMIZE
    if (hard.nonEmpty) hard
    else GraftTable.clusterByCols(tableSchema)
      .map(c => Expressions.identity(c)
        : org.apache.spark.sql.connector.expressions.Expression).toArray
  }

  /** Within-task write ordering for CLUSTER BY tables: sorted runs on
    * the clustering keys tighten each fresh file's zone envelope (the
    * skipping clustering exists for) at zero extra shuffle. */
  private def clusterOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    GraftTable.clusterByCols(tableSchema).map(c =>
      Expressions.sort(Expressions.identity(c),
        org.apache.spark.sql.connector.expressions.SortDirection
          .ASCENDING)).toArray
  // a table created PARTITIONED BY must also REPORT its partitioning —
  // DESCRIBE/SHOW CREATE and any planner path keying off partitioning()
  // would otherwise see an unpartitioned table
  override def partitioning(): Array[Transform] =
    bucketSpec match {
      case Some((n, c)) => Array(Expressions.bucket(n, c))
      case None => partitionCols.map(c => Expressions.identity(c)).toArray
    }
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // MERGE … WITH SCHEMA EVOLUTION (Delta's autoMerge): Spark's
      // ResolveMergeIntoSchemaEvolution computes the additive source−
      // target TableChanges and routes them through alterTable — the
      // existing metadata-only ADD COLUMN / lossless type WIDEN — then
      // the row-level write proceeds against the reconciled schema.
      // Non-additive drift dies in applyChanges' loud refusals.
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  /** Streaming-sink exactly-once ledger: highest epoch committed per
    * streaming QUERY (the id Spark persists in the checkpoint, stable
    * across restarts). A replayed epoch — the sink committed but the
    * failure hit before the offset log recorded it, so restart re-runs
    * the batch — is recognized and skipped INSIDE the table lock, which
    * is what makes `writeStream.toTable` exactly-once on this store
    * (Delta's txn-version dedup, in-JVM scope). */
  private val streamEpochs = TrieMap.empty[String, Long]
  private[sources] def installStreamingEpoch(queryId: String, epochId: Long,
      batches: Array[GraftDelivery],
      install: Array[GraftDelivery] => Unit): Unit = mutate {
    if (streamEpochs.get(queryId).exists(_ >= epochId)) {
      // replayed epoch on a durable table: its tasks re-wrote fresh
      // segments that will never be referenced — reclaim them now
      // rather than waiting for retention to sweep orphans
      discardDeliveriesD(batches)
    } else {
      // ledger advances BEFORE the install so the commit's log entry
      // carries the post-epoch ledger (the durable exactly-once state a
      // restarted process replays — Delta's txn-version dedup); a
      // refused install (a write conflict) rolls the ledger back so the
      // epoch stays retryable
      val prev = streamEpochs.get(queryId)
      streamEpochs.put(queryId, epochId)
      try install(batches)
      catch {
        case t: Throwable =>
          prev match {
            case Some(p) => streamEpochs.put(queryId, p)
            case None => streamEpochs.remove(queryId)
          }
          throw t
      }
    }
  }

  private[sources] def epochLedger: Map[String, Long] = streamEpochs.toMap

  /** Commit step of a COPY INTO batch: publish one ledger mark PER
    * SOURCE FILE atomically with the append, so a re-run (or a
    * concurrent copier, or a crash-and-retry) recognizes loaded files
    * INSIDE the commit lease — Delta's COPY INTO file-level
    * idempotence, on the same persisted exactly-once ledger the
    * streaming sink and txn writers ride (marks fold on restart and
    * read through to foreign commits). All keys already marked ⇒ the
    * whole batch was loaded by someone else — skip, reclaim the
    * delivered segments. A PARTIAL overlap aborts with the retry
    * contract: the deliveries hold every pending file's rows in one
    * indivisible batch, and committing them would double-load the
    * overlap (the retry recomputes the pending set and converges). */
  private[sources] def installCopyMarks(keys: Seq[String],
      ds: Array[GraftDelivery],
      install: Array[GraftDelivery] => Unit,
      force: Boolean = false): Unit = mutate {
    val marked = keys.count(k => streamEpochs.get(k).exists(_ >= 1L))
    if (!force && marked == keys.length) {
      discardDeliveriesD(ds)
    } else if (!force && marked > 0) {
      discardDeliveriesD(ds)
      throw new java.util.ConcurrentModificationException(
        s"$tableName: a concurrent COPY INTO loaded $marked of these " +
          s"${keys.length} files between plan and commit; retry the " +
          "statement (the pending set re-resolves)")
    } else {
      // FORCE skips the overlap checks by contract (the caller accepts
      // duplicates); previously-present marks survive a failed install
      val fresh = keys.filterNot(k => streamEpochs.get(k).exists(_ >= 1L))
      fresh.foreach(k => streamEpochs.put(k, 1L))
      try install(ds)
      catch {
        case t: Throwable =>
          fresh.foreach(streamEpochs.remove)
          throw t
      }
    }
  }

  /** Commit step of an identity-filling write: INSIDE the lease (so a
    * foreign commit is synced first), verify no concurrent writer
    * claimed the value blocks this write's tasks minted from, then
    * publish the advanced high-waters so they ride this commit's log
    * entry — Delta's optimistic identity allocation: the loser of a
    * racing pair aborts with the standard retry contract instead of
    * silently duplicating ids. */
  private[sources] def installIdentityReserved(fs: GraftFillSpec,
      ds: Array[GraftDelivery],
      install: Array[GraftDelivery] => Unit): Unit = mutate {
    fs.identities.zip(fs.identityBases).foreach { case (id, b) =>
      val key = GraftFill.IdentityLedgerPrefix + id.name
      if (streamEpochs.get(key).exists(_ > b)) {
        discardDeliveriesD(ds)
        throw new java.util.ConcurrentModificationException(
          s"$tableName: identity values for ${id.name} were claimed by " +
            "a concurrent writer between plan and commit; retry the " +
            "statement")
      }
    }
    val prev = fs.identities.map { id =>
      val k = GraftFill.IdentityLedgerPrefix + id.name
      k -> streamEpochs.get(k)
    }
    fs.identities.zip(fs.identityBases).foreach { case (id, b) =>
      streamEpochs.put(GraftFill.IdentityLedgerPrefix + id.name,
        b + GraftFill.BlockUnits)
    }
    // delivered identity values that did NOT come from this write's
    // reserved block — BY DEFAULT explicit inserts, and the carried/
    // explicit mix a row-level rewrite passes through — must still
    // advance the high-water, or a future block could re-mint below
    // them. The delivered maximum is free: it is the identity column's
    // zone-map max over the committed files (rows for in-JVM tables) —
    // max-merge it BEFORE install so it rides this commit's log entry.
    fs.identities.foreach { id =>
      var mx = Long.MinValue
      def fold(v: Any): Unit = v match {
        case n: java.lang.Number => mx = math.max(mx, n.longValue)
        case _ => ()
      }
      ds.foreach {
        case GraftFilesDelivery(files) => files.foreach { f =>
          Option(f.zone(id.ord)).foreach(z => fold(z.max))
        }
        case GraftRowsDelivery(rows, _, _) =>
          val dt = fs.schema.fields(id.ord).dataType
          rows.foreach { r =>
            if (!r.isNullAt(id.ord)) fold(r.get(id.ord, dt))
          }
      }
      if (mx != Long.MinValue) {
        val k = GraftFill.IdentityLedgerPrefix + id.name
        if (streamEpochs.get(k).forall(_ <= mx))
          streamEpochs.put(k, mx + 1)
      }
    }
    try install(ds)
    catch {
      case t: Throwable =>
        prev.foreach {
          case (k, Some(v)) => streamEpochs.put(k, v)
          case (k, None) => streamEpochs.remove(k)
        }
        throw t
    }
  }

  /** Latest committed `txnVersion` for a batch writer app (−1 when the
    * app never committed here) — what a restarted writer consults to
    * resume exactly after its last applied transaction, Delta's
    * `txnVersion(appId)`. Reads through to foreign commits first: the
    * ledger rides every log entry, so another process's transactions
    * are visible the same way its rows are. */
  def latestTxnVersion(appId: String): Long = {
    refreshIfStale()
    streamEpochs.getOrElse(GraftTable.TxnLedgerPrefix + appId, -1L)
  }

  /** COPY INTO's plan-time probe: is the file behind this ledger key
    * already loaded? Reads through to foreign commits (a file another
    * process copied is skipped here, not at the commit conflict). */
  private[sources] def copyMarked(key: String): Boolean = {
    refreshIfStale()
    streamEpochs.get(key).exists(_ >= 1L)
  }
  private[sources] def restoreEpochs(m: Map[String, Long]): Unit =
    m.foreach { case (q, e) =>
      if (!streamEpochs.get(q).exists(_ >= e)) streamEpochs.put(q, e)
    }

  // ---- streaming-source surface (package-private, used by the stream) --
  private[sources] def currentVersion: Int = {
    refreshIfStale() // a durable table tails foreign writers' commits too
    history.last.version
  }

  /** Rows the newest COPY INTO commit after `sinceVersion` added — the
    * command's rows_loaded census, read from the commit log entry the
    * write itself produced (sum of the delivered files' row counts)
    * instead of a second pre-write count() scan over the landing files
    * (which would double the ingest cost and could diverge from the
    * committed rows if a pending file were rewritten between the two
    * jobs). */
  private[sources] def copyRowsSince(sinceVersion: Int,
      sourceDir: Option[String] = None): Long =
    history.iterator
      .find(e => e.version > sinceVersion &&
        e.operation == GraftTable.CopyOp &&
        sourceDir.forall(d => e.params.get("source").forall(_ == d)))
      .map(_.added.iterator.map(_.rowCount.toLong).sum)
      .getOrElse(0L)

  /** Earliest retained commit version with tsMicros >= the instant;
    * current version + 1 when the instant is after every commit (the
    * stream then starts with only-new-data). Used by the stream's
    * `startingTimestamp`. */
  private[sources] def versionAtOrAfter(tsMicros: Long): Int = {
    val h = history
    // history truncated before the requested instant: fail loudly like
    // a retired startingVersion would — a stream must never silently
    // skip log it can no longer see
    if (h.head.version > 0 && tsMicros < h.head.tsMicros)
      throw new IllegalStateException(
        s"$tableName: commits at or after the requested timestamp have " +
          s"been retired by history retention (earliest retained: " +
          s"${h.head.tsMicros}); restart from a snapshot instead")
    h.find(_.tsMicros >= tsMicros) match {
      case Some(e) => e.version
      case None => h.last.version + 1
    }
  }
  /** Commit entries with start < version <= end (at most `cap` of
    * them); fails loudly when any has been retired by history retention
    * (the Delta behavior — a stream cannot silently skip log it can no
    * longer see). SLICED, not filtered: history versions are contiguous
    * (every commit appends +1; retention drops a prefix), so the window
    * indexes directly — the admission planner's cost per micro-batch is
    * O(entries admitted), never O(backlog), which is what keeps a
    * catch-up over thousands of commits from paying quadratic planning. */
  private def sliceBetween(start: Int, end: Int,
                           cap: Int = Int.MaxValue): Seq[CommitEntry] = {
    val h = history
    val base = h.head.version
    if (start + 1 < base)
      throw new IllegalStateException(
        s"$tableName: streaming offset $start has been retired by history " +
          s"retention (oldest retained commit: $base); restart the stream " +
          "from a fresh checkpoint")
    val from = math.max(0, start + 1 - base)
    val until = math.min(h.length.toLong,
      math.min((end + 1 - base).toLong, from.toLong + cap)).toInt
    if (until <= from) Nil else h.slice(from, until)
  }

  private[sources] def entriesBetween(start: Int, end: Int): Seq[CommitEntry] =
    sliceBetween(start, end)

  private[sources] def entriesBetweenLimited(start: Int, end: Int,
      cap: Int): Seq[CommitEntry] = sliceBetween(start, end, cap)

  /** Diagnostic: commit entries EXAMINED by streaming admission control
    * (latestOffset) — the spec surface pinning O(1)-per-commit
    * amortized planner cost across a deep catch-up. */
  private[sources] val admissionVisits =
    new java.util.concurrent.atomic.AtomicLong(0)

  // ---- read path -----------------------------------------------------
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    refreshIfStale() // bind foreign writers' committed state, if any
    new GraftScanBuilder(tableSchema, () => readState,
      c => lastScanCensus = Some(c), partitionCols,
      streamSource = Some(this), streamOptions = options,
      bucketSpec = bucketSpec)
  }

  // ---- plain write path (INSERT INTO/OVERWRITE / CTAS) ---------------
  // Four commit modes: append (INSERT INTO), full replace (truncate /
  // INSERT OVERWRITE in static mode with no partition predicate),
  // group overwrite (static INSERT OVERWRITE restricted to partition
  // predicates), and dynamic-partition overwrite (replace exactly the
  // groups the new rows land in). canOverwrite = false makes Spark's
  // V2Writes raise an analysis error — for OVERWRITE there is NO
  // rewrite fallback (unlike DELETE), so an inexpressible predicate
  // (one the zone evaluator cannot decide exactly per partition group)
  // fails loudly instead of silently overwriting the wrong rows;
  // truncate and dynamic modes remain available for such tables.
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate with SupportsOverwriteV2
      with SupportsDynamicOverwrite {
      private var install: Array[GraftDelivery] => Unit = installAppend

      /** Delta's idempotent-writer options (`txnAppId`/`txnVersion`,
        * DataFrameWriterV2 `.option(...)`): the commit routes through
        * the same persisted exactly-once ledger the streaming sink
        * uses, namespaced so a writer app can never collide with a
        * streaming query id. A write whose version is <= the ledger's
        * recorded high-water for that app is recognized INSIDE the
        * commit lease and skipped (its task-written segments reclaimed)
        * — which is what makes a retried foreachBatch / re-run job
        * converge instead of double-appending, across restarts and
        * across processes (the ledger rides every log entry). */
      private val txn: Option[(String, Long)] = {
        val o = info.options
        (Option(o.get("txnAppId")), Option(o.get("txnVersion"))) match {
          case (Some(app), Some(v)) => Some((app, v.toLong))
          case (None, None) => None
          case _ => throw new IllegalArgumentException(
            "txnAppId and txnVersion must be set together — one " +
              "without the other cannot identify the transaction")
        }
      }
      private def withTxn(base: Array[GraftDelivery] => Unit)
          : Array[GraftDelivery] => Unit = txn match {
        case None => base
        case Some((app, v)) =>
          ds => installStreamingEpoch(GraftTable.TxnLedgerPrefix + app,
            v, ds, base)
      }

      /** COPY INTO's per-file idempotence marks (set by the maintenance
        * command, never by hand): comma-joined ledger keys published
        * atomically with this append's commit. A COPY is ALWAYS an
        * append (the command never truncates/overwrites), so the inner
        * install is pinned to the append path with the "COPY INTO"
        * history tag — Delta's DESCRIBE HISTORY shows the same, and the
        * command's rows_loaded census reads that entry back instead of
        * paying a second pre-write count() scan. */
      private val copyKeys: Option[Seq[String]] =
        Option(info.options.get(GraftTable.CopyKeysOption))
          .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
          .filter(_.nonEmpty)
      private val copyForce: Boolean =
        Option(info.options.get(GraftTable.CopyForceOption))
          .exists(_.toBoolean)
      private val copyParams: Map[String, String] =
        Option(info.options.get(GraftTable.CopyParamsOption))
          .map(_.split('\n').toSeq.flatMap { kv =>
            val i = kv.indexOf('=')
            if (i > 0) Some(kv.take(i) -> kv.drop(i + 1)) else None
          }.toMap).getOrElse(Map.empty)
      private def withCopy(base: Array[GraftDelivery] => Unit)
          : Array[GraftDelivery] => Unit = copyKeys match {
        case None => base
        case Some(ks) =>
          ds => installCopyMarks(ks, ds,
            d => installAppendAs(GraftTable.CopyOp, d, copyParams),
            copyForce)
      }

      /** The fill recipe of THIS write, reserved at build time. */
      private lazy val fillSpec = fillSpecOf(rowLevel = false)

      override def truncate(): WriteBuilder = { install = installReplace; this }

      override def canOverwrite(filters: Array[Predicate]): Boolean =
        alwaysTrueOnly(filters) || groupKeyTest(filters).isDefined

      override def overwrite(filters: Array[Predicate]): WriteBuilder = {
        if (alwaysTrueOnly(filters)) install = installReplace
        else {
          val pred = groupKeyTest(filters)
            .getOrElse(throw new UnsupportedOperationException(
              s"overwrite called with inexpressible filters " +
                s"${filters.mkString(", ")} — canOverwrite should have " +
                "routed this to delete-and-append"))
          install = installOverwriteGroups(_, pred)
        }
        this
      }

      override def overwriteDynamicPartitions(): WriteBuilder = {
        // a bucket holds many values — "overwrite the buckets the new
        // rows land in" would silently drop unrelated rows sharing them
        if (bucketSpec.isDefined)
          throw new UnsupportedOperationException(
            "dynamic-partition overwrite is not defined for bucketed " +
              "tables (a hash bucket is not a value partition)")
        install = installDynamicOverwrite
        this
      }

      override def build(): Write = new GraftWrite(clusterTransforms,
        () => new GraftBatchWrite(GraftTable.this,
          withIdentityReserved(fillSpec, withCopy(withTxn(install))),
          fillSpec),
        // streaming sink (writeStream.toTable): same install modes —
        // append per epoch, or replace per epoch under Complete output
        // (Spark calls truncate() once at build time for that mode)
        Some(() => {
          // per-epoch tasks restart partition ids at 0 — one reserved
          // block cannot keep epochs disjoint; refuse rather than mint
          // duplicate identity values
          if (fillSpec.exists(_.identities.nonEmpty))
            throw new UnsupportedOperationException(
              s"$tableName: streaming writes into identity-column " +
                "tables are not supported — identity blocks are " +
                "reserved per batch write")
          new GraftStreamingWrite(GraftTable.this,
            info.queryId(), install, fillSpec)
        }), clusterOrdering)
    }

  // ---- MOR delta commit (SupportsDelta write path) -------------------
  /** Delta-based row-level commit: deletes arrive as (file, position)
    * ADDRESSES and fold into the delete vectors — the touched files are
    * never rewritten; inserts (including update postimages) append as
    * new files. CDC records the deleted positions' rows as preimages.
    *
    * OPTIMISTIC CONCURRENCY (the Delta/Iceberg commit-conflict check):
    * the addresses were minted against `expectedBase`, so the commit
    * verifies that vector is still an identity-PREFIX of the current
    * files — concurrent APPENDS only extend the suffix and pass, but a
    * rewrite (OPTIMIZE / overwrite / COW) between scan and commit
    * shifted the ordinals and MUST abort rather than delete the wrong
    * rows. A position already dead: benign for DELETE (idempotent
    * replay/duplicate target), a LOST UPDATE for UPDATE/MERGE — the
    * preimage this commit read no longer exists — so those abort. */
  private[sources] def installDelta(deletes: Array[(Int, Int)],
      inserts: Array[Array[InternalRow]], op: String,
      expectedBase: Vector[GraftDataFile]): Unit =
    installDelta(deletes, GraftDeliveries.rows(inserts), op, expectedBase)
  private[sources] def installDelta(deletes: Array[(Int, Int)],
      inserts: Array[GraftDelivery], op: String,
      expectedBase: Vector[GraftDataFile]): Unit = mutate {
    val fsnap = files
    if (fsnap.length < expectedBase.length ||
        !expectedBase.indices.forall(i => fsnap(i) eq expectedBase(i)))
      throw new java.util.ConcurrentModificationException(
        s"$tableName: data files were rewritten between this $op's scan " +
          "and its commit (concurrent OPTIMIZE/overwrite/rewrite); " +
          "row addresses no longer bind — retry the statement")
    val strictPositions = op != "DELETE"
    val removed = Vector.newBuilder[GraftDataFile]
    var newDvs = dvs
    deletes.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (fid, ps) =>
      if (fid < 0 || fid >= expectedBase.length)
        throw new IllegalStateException(
          s"$tableName: delta delete addresses unknown file $fid " +
            s"(${expectedBase.length} files in the scanned snapshot)")
      val f = fsnap(fid)
      val old = newDvs.getOrElse(f, scala.collection.immutable.BitSet.empty)
      val (dead, fresh) =
        ps.iterator.map(_._2).toSeq.distinct.partition(old.contains)
      if (dead.nonEmpty && strictPositions)
        throw new java.util.ConcurrentModificationException(
          s"$tableName: a row this $op read was deleted concurrently " +
            s"(file $fid, position ${dead.head}) — retry the statement")
      if (fresh.nonEmpty) {
        removed ++= pseudoOf(f, fresh)
        newDvs = newDvs.updated(f, old ++ fresh)
      }
    }
    val nf = buildFiles(inserts)
    dvs = newDvs
    files = fsnap ++ nf
    snap(op, added = nf, removed = removed.result(),
      params = Map("mode" -> GraftTable.MergeOnRead))
    // a MOR table's per-statement delta files are the steady small-file
    // generator auto-compaction exists for
    maybeAutoCompact()
  }

  // ---- row-level operations (MERGE / UPDATE / DELETE SQL) ------------
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    if (rowLevelMode == GraftTable.MergeOnRead)
      () => new RowLevelOperation with SupportsDelta {
        override def command(): RowLevelOperation.Command = info.command()

        // the whole operation binds ONE snapshot: the scan reads it, the
        // row addresses index into it, and the commit verifies it is
        // still an identity-prefix of the table (optimistic concurrency)
        @volatile private var scannedState
            : (Vector[GraftDataFile],
               Map[GraftDataFile, scala.collection.immutable.BitSet]) = _

        // MOR needs no group narrowing: only matched rows produce delta
        // actions, so the write is delta-sized by construction. The scan
        // is the table's REAL scan — zone skipping, runtime filtering,
        // and the metadata columns the row IDs resolve against.
        override def newScanBuilder(options: CaseInsensitiveStringMap)
            : ScanBuilder = {
          scannedState = readState
          new GraftScanBuilder(tableSchema, () => scannedState,
            c => lastScanCensus = Some(c), partitionCols)
        }

        override def rowId(): Array[NamedReference] =
          Array(Expressions.column("_file_id"), Expressions.column("_row_pos"))

        // ROW TRACKING: the delta writer reads the original row's
        // identity from these to preserve `_row_id` through an UPDATE's
        // delete+insert decomposition (Delta's MOR update semantics)
        override def requiredMetadataAttributes(): Array[NamedReference] =
          if (rowTrackingEnabled)
            Array(Expressions.column("_row_id"),
              Expressions.column("_row_commit_version"))
          else Array.empty

        override def newWriteBuilder(wInfo: LogicalWriteInfo)
            : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
          new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
            override def build()
                : org.apache.spark.sql.connector.write.DeltaWrite = {
              val fs = fillSpecOf(rowLevel = true)
              new GraftDeltaWrite(GraftTable.this, (dels, ins) =>
                withIdentityReserved(fs, ds => installDelta(dels, ds,
                  command().toString, scannedState._1))(ins), fs)
            }
          }
      }
    else () => new RowLevelOperation {
      override def command(): RowLevelOperation.Command = info.command()

      // the operation's scan defines the rewritten group set: for a
      // partitioned table Spark's group-filter subquery narrows it to
      // the partitions with matched rows; an unpartitioned table is one
      // group, the whole table. No column pruning — the rewrite re-writes
      // complete rows. The scanned FILE VECTOR is captured for the
      // commit's write-conflict check.
      @volatile private var rlScan: GraftRowLevelScan = _
      @volatile private var scannedFiles: Vector[GraftDataFile] = _
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        () => {
          refreshIfStale()
          val st = readState
          scannedFiles = st._1
          // ROW TRACKING: the rewrite's scan serves each row's
          // identity as trailing metadata columns (the ones
          // requiredMetadataAttributes asked for), so the writer can
          // preserve ids into the replacement files
          val trackMeta: Seq[String] =
            if (rowTrackingEnabled)
              Seq("_row_id", "_row_commit_version", "_row_probe")
            else Nil
          // hand the scan FILES, not rows — the runtime group filter
          // drops untouched partitions' files before a row (or, durable,
          // a segment byte) is ever read
          rlScan = new GraftRowLevelScan(tableSchema, partitionCols,
            st._1, st._2, boundGroupKey(), trackMeta)
          rlScan
        }

      // group-based COW: the write receives the COMPLETE post-operation
      // contents of the scanned groups — commit swaps exactly those in
      // (plus inserted rows, which ride along in the delivery regardless
      // of group). Physical rows arrive prefixed with Spark's
      // __row_operation column (WRITE / WRITE_WITH_METADATA; deleted rows
      // simply don't arrive) — the writer strips it (`opPrefixed`).
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): Write = {
            // ONE spec instance: the writers mint from the same reserved
            // block the commit verifies (plan-time reservation, commit-
            // time optimistic check — the plain path's contract)
            val fs = fillSpecOf(rowLevel = true)
            val installAll = withIdentityReserved(fs,
              delivered => installReplaceGroups(delivered,
                Option(rlScan).flatMap(_.scannedGroups),
                op = command().toString,
                expectedBase = scannedFiles))
            new GraftWrite(clusterTransforms,
              () => new GraftBatchWrite(GraftTable.this, installAll, fs,
                opPrefixed = true),
              orderExprs = clusterOrdering)
          }
        }

      // ROW TRACKING: ask the scan to thread each row's identity
      // through the rewrite — the writer reads it off the metadata
      // view and preserves it into the replacement files (_row_probe
      // is how it tells copied from updated; see GraftReplaceDataOps)
      override def requiredMetadataAttributes(): Array[NamedReference] =
        if (rowTrackingEnabled)
          Array(Expressions.column("_row_id"),
            Expressions.column("_row_commit_version"),
            Expressions.column("_row_probe"))
        else Array.empty
    }
}

/** One metadata column of a [[GraftTable]]. */
final case class GraftMetaCol(colName: String, colType: DataType,
                              colComment: String,
                              colNullable: Boolean = false)
    extends MetadataColumn {
  override def name(): String = colName
  override def dataType(): DataType = colType
  override def isNullable: Boolean = colNullable
  override def comment(): String = colComment
}

object GraftTable {
  /** Ref (branch/tag) names validate at EVERY entry point that builds a
    * path from one — creation AND destruction/forward/pick/drop. The
    * pattern rejects a leading dot, so `.`/`..` can never alias
    * `log/.` onto MAIN'S OWN log dir (a DROP BRANCH of '.' would
    * otherwise destroy the main chain — log, checkpoints and lease —
    * from one SQL typo). 'main' is reserved as the unnamed chain. */
  def requireRefName(name: String, what: String): Unit =
    if (!name.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*") || name == "main")
      throw new IllegalArgumentException(
        s"invalid $what name '$name' (letters, digits, _ . - ; must " +
          "start with a letter/digit/_ and must not be 'main')")

  val RowLevelModeProp = "write.rowlevel.mode"
  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"

  /** ROW TRACKING (Delta's `delta.enableRowTracking`): stable per-row
    * `_row_id` / `_row_commit_version` identity surviving COW rewrites,
    * OPTIMIZE/ZORDER, clones, branches and restarts. Declared as a
    * table property, stamped into field metadata like `bloom.columns` /
    * `auto.compact` so it persists in the log and reaches restarts and
    * foreign processes with zero plumbing. */
  val RowTrackingProp = "row.tracking"
  private val RowTrackMeta = "graft.rowtrack"
  /** Commit-params key carrying the row-id high-water mark (the next
    * id to mint) — O(1) per commit; restart/foreign-sync recovery reads
    * the latest entry's value. */
  val RowIdHwParam = "rowid.hw"
  /** Params key of a mid-life enablement commit: the PRE-commit mark
    * its deterministic backfill (file order x rowCounts) started from —
    * what a replaying process re-runs to assign identical tracks. */
  val RowIdBackfillParam = "rowid.backfill"

  private[sources] def stampRowTracking(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putBoolean(RowTrackMeta, true)
        .build())
    })
  private[sources] def unstampRowTracking(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(RowTrackMeta)) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        mb.remove(RowTrackMeta)
        f.copy(metadata = mb.build())
      }
    })
  private[sources] def rowTrackingStamped(schema: StructType): Boolean =
    schema.fields.exists(f => f.metadata.contains(RowTrackMeta) &&
      f.metadata.getBoolean(RowTrackMeta))

  /** Per-TABLE declarative retention for the MAIN chain (round 20 —
    * Delta's `delta.logRetentionDuration` analog, split into the same
    * count/time pair the branch machinery declares): TBLPROPERTIES
    * `retention.snapshots` = keep at most N snapshots,
    * `retention.hours` = drop snapshots older than the window. Stamped
    * into field metadata like every declarative property here, so the
    * declaration persists in the log and reaches restarts and foreign
    * processes with the schema. Composes with a branch's own declared
    * retention (and the engine-wide default) as MIN with the
    * structural floor of 2; honored by the automatic slide and by
    * VACUUM without an explicit RETAIN. */
  val RetentionSnapshotsProp = "retention.snapshots"
  val RetentionHoursProp = "retention.hours"
  private val RetentionSnapshotsMeta = "graft.retention.snapshots"
  private val RetentionHoursMeta = "graft.retention.hours"

  private[sources] def stampRetention(schema: StructType,
      snapshots: Option[Int], hours: Option[Double]): StructType = {
    snapshots.filter(_ < 1).foreach(n =>
      throw new IllegalArgumentException(
        s"$RetentionSnapshotsProp = $n — must keep at least 1"))
    hours.filter(_ <= 0).foreach(h =>
      throw new IllegalArgumentException(
        s"$RetentionHoursProp = $h — the window must be positive"))
    StructType(schema.fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      mb.remove(RetentionSnapshotsMeta)
      mb.remove(RetentionHoursMeta)
      snapshots.foreach(n => mb.putLong(RetentionSnapshotsMeta, n.toLong))
      hours.foreach(h => mb.putDouble(RetentionHoursMeta, h))
      f.copy(metadata = mb.build())
    })
  }
  private[sources] def retentionSnapshotsOf(
      schema: StructType): Option[Int] =
    schema.fields.collectFirst {
      case f if f.metadata.contains(RetentionSnapshotsMeta) =>
        f.metadata.getLong(RetentionSnapshotsMeta).toInt
    }
  private[sources] def retentionHoursOf(
      schema: StructType): Option[Double] =
    schema.fields.collectFirst {
      case f if f.metadata.contains(RetentionHoursMeta) =>
        f.metadata.getDouble(RetentionHoursMeta)
    }

  /** The `_file_id`/`_row_pos` metadata columns — shared by the live
    * table AND every snapshot-backed relation (time travel, the
    * `t$changes` feed), so a 100 TB audit can address rows whichever
    * reader variant its table state plans. For DERIVED pseudo-files
    * (CDC recipes, whose rows are synthesized) `_row_pos` enumerates
    * the derived output — scan-relative, not a durable address. */
  val MetaColumns: Array[MetadataColumn] =
    Array(
      GraftMetaCol("_file_id", org.apache.spark.sql.types.IntegerType,
        "ordinal of the row's data file (see t$files)"),
      GraftMetaCol("_row_pos", org.apache.spark.sql.types.IntegerType,
        "row position within its data file"),
      // Delta's _metadata.file_path: the PHYSICAL segment behind the
      // row — NULL for heap-resident files and derived (CDC) rows,
      // the base segment for a position view
      GraftMetaCol("_file_ref", org.apache.spark.sql.types.StringType,
        "physical segment path (NULL for heap/derived rows)",
        colNullable = true))

  /** The ROW-TRACKING metadata columns — served only on tables with
    * `row.tracking` enabled (Delta's `_metadata.row_id` /
    * `row_commit_version`). Nullable: DERIVED pseudo-files (CDC
    * recipes) synthesize rows with no durable identity, and a table
    * that enabled tracking mid-life may retain pre-tracking snapshots. */
  val TrackMetaColumns: Array[MetadataColumn] =
    Array(
      GraftMetaCol("_row_id", org.apache.spark.sql.types.LongType,
        "stable row id (survives COW rewrites and OPTIMIZE)",
        colNullable = true),
      GraftMetaCol("_row_commit_version",
        org.apache.spark.sql.types.LongType,
        "commit version that last produced this row's value",
        colNullable = true),
      // internal: canonical hash of the row's data columns — the COW
      // rewrite requests it so its writers can tell a copied row (keep
      // version) from an updated one (take the committing version)
      // without the plan disclosing the operation per row
      GraftMetaCol("_row_probe", org.apache.spark.sql.types.LongType,
        "canonical data-row hash (rewrite-internal)",
        colNullable = true))

  private val metaColumnOf: Map[String, MetadataColumn] =
    (MetaColumns ++ TrackMetaColumns).map(c => c.name -> c).toMap

  /** Is `name` one of the metadata columns declared above? */
  def isMetaColumn(name: String): Boolean = metaColumnOf.contains(name)

  /** The output field of one metadata column: its type and nullability
    * as declared above (scans build meta schemas by NAME). */
  def metaField(name: String): org.apache.spark.sql.types.StructField = {
    val c = metaColumnOf(name)
    org.apache.spark.sql.types.StructField(name, c.dataType, c.isNullable)
  }

  /** THE metadata-column projector: the only code that turns a data row
    * plus its ORIGINAL position into the `project`ed data columns
    * followed by `metaCols`. Built once per file or partition:
    * `inSchema` is the incoming rows' layout (`_row_probe` hashes the
    * whole incoming row, so a caller asking for it passes whole rows),
    * `fid` the file's scan ordinal, `ref` its physical segment (null for
    * heap and derived rows) and `track` its row track (null serves NULL
    * ids and versions). The returned row is reused: copy it to keep it. */
  private[sources] def metaProjector(inSchema: StructType,
      project: Array[Int], metaCols: Seq[String], fid: Int, ref: String,
      track: GraftRowTrack): (InternalRow, Int) => InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
    def refs(ords: Seq[Int]): Seq[Expression] = ords.map(i =>
      BoundReference(i, inSchema(i).dataType, inSchema(i).nullable))
    val proj = UnsafeProjection.create(refs(project.toIndexedSeq) ++
      metaCols.zipWithIndex.map { case (n, j) =>
        val f = metaField(n)
        BoundReference(inSchema.length + j, f.dataType, f.nullable)
      })
    lazy val probeProj = UnsafeProjection.create(refs(inSchema.indices))
    val refStr =
      if (ref == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(ref)
    val values: Array[(InternalRow, Int) => Any] = metaCols.map {
      case "_file_id" => (_: InternalRow, _: Int) => fid: Any
      case "_row_pos" => (_: InternalRow, p: Int) => p: Any
      case "_file_ref" => (_: InternalRow, _: Int) => refStr: Any
      case "_row_id" => (_: InternalRow, p: Int) =>
        if (track == null) null else (track.idAt(p): java.lang.Long): Any
      case "_row_commit_version" => (_: InternalRow, p: Int) =>
        if (track == null) null else (track.verAt(p): java.lang.Long): Any
      case "_row_probe" => (r: InternalRow, _: Int) =>
        (GraftReplaceDataOps.probeOf(probeProj, r): java.lang.Long): Any
    }.toArray
    val meta = new GenericInternalRow(values.length)
    val joined = new JoinedRow
    (r, p) => {
      var j = 0
      while (j < values.length) { meta.update(j, values(j)(r, p)); j += 1 }
      proj(joined(r, meta))
    }
  }

  /** One file's live rows on the DRIVER (heap files; the fallback of
    * lazy chunks) in the shape its segment partition streams: DEAD
    * positions skipped, never renumbered, the `project`ed columns of
    * `schema` plus `metaCols` from [[metaProjector]]. A position view
    * serving meta columns enumerates its BASE, so its addresses are the
    * base's; with no meta column and a whole projection the live rows
    * go out as they are. */
  private[sources] def heapRows(f: GraftDataFile, schema: StructType,
      project: Array[Int], dead: scala.collection.immutable.BitSet,
      metaCols: Seq[String], fid: Int): Array[InternalRow] =
    if (metaCols.isEmpty && project.sameElements(schema.indices))
      GraftDataFile.liveRows(f.rows, dead)
    else {
      val meta = metaProjector(schema, project, metaCols, fid,
        if (f.persisted && f.derive.isEmpty) f.segment.path.toString
        else null, f.track)
      val (rows, keep) = f.viewSel match {
        case Some((bs, ex)) if metaCols.nonEmpty => (f.segment.load(),
          (p: Int) => bs.contains(p) != ex && !dead.contains(p))
        case _ => (f.rows, (p: Int) => !dead.contains(p))
      }
      rows.indices.iterator.filter(keep)
        .map(p => meta(rows(p), p).copy(): InternalRow).toArray
    }

  /** One file as a task input — the one rule of the change feed and the
    * rewrites: a persisted file (a position view included) is a
    * reference to its segment, read where the task runs; any other file
    * ships its rows, laid out in `schema`. Either way the input yields
    * the live rows (`dead` skipped, positions never renumbered) of the
    * `project`ed columns — every stored column when null — followed by
    * `metaCols`. */
  private[sources] def inputOf(f: GraftDataFile, schema: StructType,
      dead: scala.collection.immutable.BitSet, metaCols: Seq[String],
      project: Array[Int] = null): GraftScanPartition =
    if (f.persisted)
      GraftSegmentScanPartition.of(f,
        Option(project).getOrElse(Array.range(0, f.segment.schema.length)),
        dead.toArray, metaCols)
    else GraftInputPartition(heapRows(f, schema,
      Option(project).getOrElse(Array.range(0, schema.length)), dead,
      metaCols, -1))

  /** Operation tag of the atomic REPLACE TABLE swap commit. Marked
    * because it is the ONE commit kind whose pre/post states do not
    * share field ids — the change feed and streaming tails refuse to
    * read across it (see [[GraftTable.assertCdfRangeReadable]]). */
  val ReplaceOp = "REPLACE TABLE"

  /** Operation tag of a partition-spec evolution commit (`ALTER TABLE …
    * SET PARTITIONED BY`, Iceberg's spec evolution). Unlike a REPLACE,
    * the schema and its field ids are UNCHANGED — CDF and streaming
    * tails read straight through it — but the live table object swaps
    * (partitionCols is load-bearing construction state), so a stale
    * in-process handle or foreign process meeting the entry re-opens,
    * the same contract REPLACE has. */
  val EvolveOp = "EVOLVE PARTITIONING"

  /** Operation tag of a type-WIDENING commit (`ALTER COLUMN … TYPE`,
    * Delta's typeWidening). Schema field ids are unchanged, but the
    * widened column's REPRESENTATION differs across the commit: change
    * records below it carry narrow values, so CDF and streaming reads
    * crossing it refuse (restart above it); plain scans, time travel
    * and appends read straight through. */
  val WidenOp = "WIDEN COLUMN TYPE"

  /** Operation tag of a branch's creation entry — the full fork-point
    * census that anchors the branch's own commit chain
    * (`ALTER TABLE … CREATE BRANCH`, Iceberg's refs). */
  val CreateBranchOp = "CREATE BRANCH"

  /** Operation tag inside a TAG's self-contained snapshot JSON
    * (`ALTER TABLE … CREATE TAG`, Iceberg's immutable refs). */
  val CreateTagOp = "CREATE TAG"

  /** Operation tag of a branch SQUASH-MERGE commit (`ALTER TABLE …
    * MERGE BRANCH b`, r18): main adopts the branch head's net state as
    * one commit whose CDC record is the reference state diff. */
  val MergeBranchOp = "MERGE BRANCH"

  /** Ledger-key namespace of batch `txnAppId` idempotent writes: the
    * batch and streaming exactly-once high-waters share one persisted
    * ledger, and the prefix (illegal in a Spark streaming query id,
    * which is a UUID) keeps an app id from ever colliding with one. */
  val TxnLedgerPrefix = "txn:"

  /** Ledger-key namespace of COPY INTO's per-file load marks
    * ("cpy:<md5(absolute path + size + mtime)>" — hashed so the ledger
    * entry stays fixed-width whatever the path length). File identity
    * is (path, size, mtime), not path alone: a landing file re-uploaded
    * with NEW content under the same name derives a NEW key and loads
    * again, instead of being silently skipped forever (Delta's COPY
    * INTO tracks the same triple). Re-loading an UNCHANGED file is the
    * FORCE escape hatch. */
  val CopyLedgerPrefix = "cpy:"

  /** Write option the COPY INTO command uses to thread its per-file
    * marks into the append's commit (comma-joined ledger keys). */
  val CopyKeysOption = "graft.copy.keys"

  /** Write option of `COPY INTO … FORCE`: load the matched files
    * regardless of existing marks (Delta's `'force' = 'true'` — the
    * caller accepts possible duplicates); marks still install so later
    * non-FORCE runs skip. */
  val CopyForceOption = "graft.copy.force"

  /** Write option carrying the COPY's operationParameters into the
    * commit (newline-joined `k=v` pairs — newlines cannot appear in a
    * path option the SQL layer built, unlike commas). */
  val CopyParamsOption = "graft.copy.params"

  /** DESCRIBE HISTORY operation tag of a COPY INTO commit (Delta shows
    * the same); also the anchor the command's `rows_loaded` census
    * reads back from the commit log entry. */
  val CopyOp = "COPY INTO"

  private[sources] def copyKeyOf(absPath: String, sizeBytes: Long,
                                 mtimeMillis: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    CopyLedgerPrefix +
      md.digest(s"$absPath\n$sizeBytes\n$mtimeMillis".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
  }

  /** The pre-(size,mtime) ledger identity: md5(path) only. Read-side
    * compatibility — a ledger written before the identity change must
    * keep skipping its files (path-only semantics, as it always had)
    * instead of re-loading the whole landing zone once on upgrade. New
    * marks always write the full identity. */
  private[sources] def copyKeyLegacy(absPath: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    CopyLedgerPrefix +
      md.digest(absPath.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** AUTO-COMPACTION (Delta's autoCompact / Iceberg's commit-triggered
    * rewrite): `'auto.compact'='true'` (default file-count threshold),
    * `'auto.compact'='<minFiles>'` (count trigger), or
    * `'auto.compact'='<n>KB|MB|GB|B'` (BYTE trigger: a partition group
    * compacts once its sub-target files accumulate that many bytes —
    * the production knob: at streaming-ingest rates "how many bytes of
    * small files is a rewrite worth" is the stable quantity, file
    * counts are an artifact of epoch cadence). After a file-adding
    * commit the hook only ENQUEUES: the rewrite runs on a background
    * daemon, OUTSIDE the triggering commit's lease — plan under a
    * short fresh lease, distributed rewrite under no lock at all,
    * splice under a second fresh lease with optimistic conflict checks
    * (an intervening commit aborts the COMPACTION, never the ingest).
    * At 100 TB streaming ingest the small-files problem is continuous
    * — per-epoch appends would otherwise grow a partition's file count
    * without bound between manual OPTIMIZE cadences, and a synchronous
    * hook would put a multi-GB rewrite inside every unlucky INSERT's
    * latency. The knob rides schema field metadata (like
    * `bloom.columns`), so it persists in the log and reaches
    * restarts/foreign processes with zero extra plumbing. */
  val AutoCompactProp = "auto.compact"
  val AutoCompactMeta = "graft.autocompact"
  val AutoCompactDefaultMinFiles = 16
  /** The bounded OPTIMIZE's bin target — the SQL OPTIMIZE default. */
  val AutoCompactTargetRows: Int = 1 << 20

  /** Parse the knob to its ENCODED form: positive = min sub-target
    * FILE COUNT per group; negative = -(min accumulated sub-target
    * BYTES per group). One Long so the schema-metadata stamp (and the
    * log encoding riding it) is unchanged from the count-only era. */
  private[sources] def parseAutoCompact(v: String): Long = {
    val s = v.trim
    val SizeRe = "(?i)(\\d+)\\s*(B|KB|MB|GB)".r
    s match {
      case "true" => AutoCompactDefaultMinFiles.toLong
      case SizeRe(_, _) =>
        -parseByteSize(s, s"$AutoCompactProp byte threshold")
      case _ =>
        val n = try s.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$AutoCompactProp must be 'true', a file-count threshold " +
                s">= 2, or a byte size like '256MB', got '$v'")
        }
        if (n < 2) throw new IllegalArgumentException(
          s"$AutoCompactProp threshold must be >= 2 (a 1-file group has " +
            s"nothing to compact), got '$v'")
        n
    }
  }

  /** "123" (bytes) or "<n>B|KB|MB|GB" — the shared byte-size parser
    * (streaming caps; [[parseAutoCompact]]'s byte arm delegates here,
    * keeping only its own 'true'/file-count cases). */
  private[sources] def parseByteSize(v: String, what: String): Long = {
    val t = v.trim
    val SizeRe = "(?i)(\\d+)\\s*(B|KB|MB|GB)".r
    val bytes = t match {
      case SizeRe(n, unit) =>
        n.toLong * (unit.toUpperCase match {
          case "B" => 1L
          case "KB" => 1L << 10
          case "MB" => 1L << 20
          case "GB" => 1L << 30
        })
      case _ => try t.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$what must be a byte count or a size like '32MB', got '$v'")
      }
    }
    if (bytes < 1) throw new IllegalArgumentException(
      s"$what must be >= 1 byte, got '$v'")
    bytes
  }

  /** Render the encoded knob back to its property string (count mode
    * round-trips as the bare number; byte mode as '<n>B', which
    * [[parseAutoCompact]] accepts back). */
  private[sources] def renderAutoCompact(enc: Long): String =
    if (enc > 0) enc.toString else s"${-enc}B"

  /** Stamp/strip/read the knob in field metadata. Stamped on EVERY
    * field so a later DROP COLUMN cannot silently shed it. */
  private[sources] def stampAutoCompact(schema: StructType,
      encoded: Long): StructType =
    StructType(schema.fields.map { f =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putLong(AutoCompactMeta, encoded)
        .build())
    })
  private[sources] def unstampAutoCompact(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(AutoCompactMeta)) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        mb.remove(AutoCompactMeta)
        f.copy(metadata = mb.build())
      }
    })
  private[sources] def autoCompactEncoded(schema: StructType): Option[Long] =
    schema.fields.collectFirst {
      case f if f.metadata.contains(AutoCompactMeta) =>
        f.metadata.getLong(AutoCompactMeta)
    }

  /** `cluster.by` (r18 — Delta liquid-clustering-style CLUSTER BY):
    * clustering KEYS without hard partitioning. Declared as a table
    * property (comma-separated columns), stamped into field metadata
    * like `bloom.columns`/`auto.compact` so it persists in the log and
    * reaches restarts and foreign processes with zero plumbing. Three
    * effects: (1) writes request a clustered distribution + a
    * within-task sort on the keys (tight zone maps per fresh file,
    * without one-file-per-key partition explosion); (2) a plain
    * `OPTIMIZE` defaults to `ZORDER BY` the clustering keys — the
    * incremental re-layout liquid clustering promises; (3) the flip is
    * metadata-only (`ALTER TABLE … SET/UNSET TBLPROPERTIES`) — existing
    * files keep serving, the next OPTIMIZE re-clusters. Incompatible
    * with identity partitioning and bucketing (clustering REPLACES the
    * hard layout; a bucketed table's files are hash-owned). */
  val ClusterByProp = "cluster.by"
  private val ClusterByMeta = "graft.cluster.by"

  /** The `VACUUM` without-an-explicit-RETAIN sentinel (r18): resolve to
    * the chain's declared retention property, else 1. A dedicated value
    * — NOT 0 — so the programmatic floor contract (`keepLast >= 1`,
    * explicit 0 refuses loudly) is untouched. */
  val VacuumDeclaredRetention: Int = Int.MinValue

  private[sources] def stampClusterBy(schema: StructType,
      cols: Seq[String]): StructType =
    StructType(schema.fields.map { f =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(ClusterByMeta, cols.mkString(","))
        .build())
    })
  private[sources] def unstampClusterBy(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(ClusterByMeta)) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        mb.remove(ClusterByMeta)
        f.copy(metadata = mb.build())
      }
    })
  private[sources] def clusterByCols(schema: StructType): Seq[String] =
    schema.fields.collectFirst {
      case f if f.metadata.contains(ClusterByMeta) =>
        f.metadata.getString(ClusterByMeta)
          .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    }.getOrElse(Nil)

  /** Max commits retained per table for time travel (ADVICE r7: snap()
    * pinned every superseded row array forever — a streaming writer
    * committing per micro-batch leaked O(commits × table size)). Beyond
    * this depth the oldest snapshots retire and their arrays become
    * collectable; VERSION AS OF on a retired version fails loudly,
    * mirroring Delta's log retention. Floor of 2 (current + previous)
    * regardless of the setting. */
  @volatile var historyRetention: Int = 128

  /** Evaluate a column-DEFAULT sql text to its Catalyst value at the
    * column's type (r19 — `ADD COLUMN ... DEFAULT`): session-free
    * (CatalystSqlParser), so read-side backfill can run EXECUTOR-side.
    * Throws on anything that is not a foldable literal expression. */
  def evalDefault(sql: String,
      dt: org.apache.spark.sql.types.DataType,
      timeZone: String = "UTC"): Any = {
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql)
    if (!parsed.foldable)
      throw new IllegalArgumentException(s"'$sql' is not a constant")
    org.apache.spark.sql.catalyst.expressions.Cast(parsed, dt,
      Some(timeZone),
      org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
  }

  /** Timezone a stored default evaluates under: the ALTER session's,
    * captured into the field metadata at declaration (r20 — a
    * timezone-sensitive default like a string→timestamp cast must
    * serve the SAME value from the read-side backfill on every
    * executor and every process, regardless of their session zones).
    * Pre-capture metadata (r19 tables) keeps the UTC it was written
    * under. */
  val ExistsDefaultTzMeta = "EXISTS_DEFAULT_TZ"
  def defaultTzOf(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(ExistsDefaultTzMeta))
      f.metadata.getString(ExistsDefaultTzMeta)
    else "UTC"

  /** Ref-event AUDIT retention (r19 — `t$refs_log`): the newest N
    * events kept; older ones trim at main-chain reclaims (the same
    * head where ref expiry runs). Audit events are DDL-frequency, so
    * the default gives years of headroom while bounding the dir. */
  @volatile var refEventsRetention: Int = 10000

  /** How long the AUTOMATIC reclaim spares an unreferenced segment:
    * long enough for any in-flight write's tasks to reach their commit
    * (explicit VACUUM ignores this — the RETAIN-0 sweep). */
  @volatile var orphanGraceMillis: Long = 10L * 60 * 1000

  /** Max canonical rows one CDC cancel task holds: components whose
    * claimed row count exceeds this hash-slice across ⌈claimed/this⌉
    * tasks (capped at 64), bounding per-task memory at the price of
    * re-reading the component's segments per slice. */
  @volatile var cdcCancelSliceRows: Int = 1 << 22

  /** Every K-th durable commit also writes a FULL-state checkpoint
    * (Delta's periodic parquet checkpoint, JSON here): the anchor a
    * restart folds from and the floor log-entry reclaim can retire
    * delta entries below. Smaller = faster restarts + tighter reclaim,
    * at an O(files) metadata write each K commits. */
  @volatile var checkpointInterval: Int = 16

  /** Max census files one checkpoint payload holds inline: bigger
    * censuses split into ⌈files/this⌉ sibling PART files plus a
    * manifest CAS'd last (Delta's multi-part checkpoint shape), so a
    * restart fold reads and decodes the census in parallel instead of
    * one O(table) blob on one thread. */
  @volatile var checkpointPartFiles: Int = 1 << 14
}

/** Write of a [[GraftTable]]: on PARTITIONED tables it REQUESTS a
  * clustered distribution on the partition columns
  * ([[RequiresDistributionAndOrdering]]), so Spark shuffles incoming
  * rows by partition key before the writers run and every partition
  * group lands in ONE task → ONE data file — the Iceberg/Delta write
  * contract that prevents the small-files explosion (without it, an
  * insert arriving in T tasks scatters each group across up to T files;
  * at 100 TB that is the difference between file counts tracking
  * partitions and tracking partitions × tasks). Unpartitioned tables
  * leave the distribution unspecified — the caller's layout (e.g. the
  * s33 z-order repartition) passes through untouched. */
class GraftWrite(clusterExprs: Array[
                   org.apache.spark.sql.connector.expressions.Expression],
                 batchWrite: () => BatchWrite,
                 streamingWrite: Option[
                   () => org.apache.spark.sql.connector.write.streaming
                     .StreamingWrite] = None,
                 orderExprs: Array[
                   org.apache.spark.sql.connector.expressions.SortOrder] =
                   Array.empty)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}

  override def requiredDistribution(): Distribution =
    if (clusterExprs.isEmpty) Distributions.unspecified()
    else Distributions.clustered(clusterExprs)

  // no within-task order requirement for grouped tables (buildFiles
  // splits per group anyway); CLUSTER BY tables request sorted runs on
  // their keys so fresh files carry tight zone envelopes
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    orderExprs

  override def toBatch: BatchWrite = batchWrite()

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    streamingWrite.map(_()).getOrElse(super.toStreaming)
}

/** Streaming sink of a [[GraftTable]] (`writeStream.toTable` — the Delta
  * streaming-sink path): each epoch's delivered rows install through the
  * write builder's chosen mode (append per epoch; replace per epoch under
  * Complete output), deduplicated by (queryId, epochId) in the table's
  * epoch ledger so a post-commit failure's replayed batch lands exactly
  * once. */
class GraftStreamingWrite(table: GraftTable, queryId: String,
                          install: Array[GraftDelivery] => Unit,
                          fill: Option[GraftFillSpec] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    GraftWriterFactory(table.writeSpec(), fill = fill)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit =
    table.installStreamingEpoch(queryId, epochId,
      table.adoptDeliveries(messages), install)

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    table.discardDeliveries(messages)
}

/** Merge-on-read row-level write ([[org.apache.spark.sql.connector.write.DeltaWrite]]):
  * Spark's delta-based rewrite delivers per-row ACTIONS — delete(id),
  * update(id, row), insert(row) — where id = (_file_id, _row_pos), the
  * metadata-column row address. Writers buffer addresses + new rows;
  * commit folds them into the table's delete vectors and appends the
  * inserts. An update is a delete of the old address plus an insert of
  * the new row (same file-level effect Delta's MOR write has). */
class GraftDeltaWrite(table: GraftTable,
    commitFn: (Array[(Int, Int)], Array[GraftDelivery]) => Unit,
    fill: Option[GraftFillSpec] = None)
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWriterFactory}

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory =
      // the SAME spec instance the commit verifies — writers must mint
      // from the block the reservation check covers
      GraftDeltaWriterFactory(table.writeSpec(), fill)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.map(_.asInstanceOf[GraftDeltaMessage])
      commitFn(ms.flatMap(_.deletes),
        table.adoptDeliveries(ms.map(_.inserts)))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      table.discardDeliveries(messages.collect {
        case m: GraftDeltaMessage => m.inserts
      })
  }
}

/** MOR delta writer: delete/update addresses buffer (tiny — two ints per
  * action) and fold into delete vectors at commit; INSERT rows route
  * through a nested [[GraftSegmentDataWriter]], the same writer appends
  * use — on a durable table it writes them as task-side segments, so MOR
  * insert data never crosses to the driver either. */
case class GraftDeltaWriterFactory(spec: GraftWriteSpec,
    guard: Option[GraftFillSpec] = None)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val dels = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      private val insWriter = new GraftSegmentDataWriter(spec,
        opPrefixed = false, partitionId, taskId, epochId = -1L, guard)
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        dels += ((id.getInt(0), id.getInt(1)))
      override def update(meta: InternalRow, id: InternalRow,
                          row: InternalRow): Unit = {
        delete(meta, id)
        // ROW TRACKING: an update's postimage KEEPS the preimage's
        // `_row_id` (read off the projected metadata row) and takes
        // the committing version — Delta's MOR row-tracking contract
        if (spec.rowTracking && meta != null && meta.numFields >= 1 &&
            !meta.isNullAt(0))
          insWriter.noteTrack(meta.getLong(0), GraftRowTrack.Mint)
        insert(row)
      }
      override def insert(row: InternalRow): Unit = insWriter.write(row)
      override def commit(): WriterCommitMessage =
        GraftDeltaMessage(dels.toArray, insWriter.commit())
      override def abort(): Unit = { dels.clear(); insWriter.abort() }
      override def close(): Unit = insWriter.close()
    }
}

/** `inserts` is the nested writer's commit message — rows on an in-JVM
  * table ([[GraftRowsMessage]]), file refs only on a durable one
  * ([[GraftSegmentsMessage]]). */
case class GraftDeltaMessage(deletes: Array[(Int, Int)],
                             inserts: WriterCommitMessage)
    extends WriterCommitMessage

/** `OPTIMIZE` entry point — the table-maintenance surface (Delta
  * `OPTIMIZE t`, Iceberg `rewrite_data_files`) for [[GraftTable]]s:
  * bin-packs small data files, preserves the row multiset exactly, and
  * records the rewrite as a commit so time travel sees both layouts. */
object GraftMaintenance {
  final case class OptimizeResult(filesBefore: Int, filesAfter: Int)

  // store-agnostic by default: maintenance statements address tables in
  // the global in-JVM store AND any opened durable warehouse store. A
  // CATALOG-qualified statement passes that catalog's store as `scope`
  // instead — two warehouses may both hold an `ns.t`, and
  // `VACUUM cat_a.ns.t` acting on cat_b's table would be silent
  // cross-warehouse damage
  private def resolve(namespace: Seq[String], table: String,
                      scope: Option[GraftStoreState] = None): GraftTable = {
    // branch-addressed maintenance (`OPTIMIZE cat.ns.t@audit`,
    // `VACUUM …`, `DESCRIBE HISTORY …`): the branch chain is its own
    // maintenance domain — compaction/retention on it never touches
    // main's chain, and the tree union still protects shared segments
    val at = table.indexOf('@')
    val found =
      if (at > 0) {
        val key = (namespace, table.substring(0, at), table.substring(at + 1))
        scope match {
          case Some(st) => st.branchTables.get(key)
          case None => GraftTableStore.allStores.iterator
            .flatMap(_.branchTables.get(key)).nextOption()
        }
      } else scope match {
        case Some(st) => st.tables.get((namespace, table))
        case None => GraftTableStore.lookup(namespace, table)
      }
    found.getOrElse(
      throw new NoSuchTableException(
        Identifier.of(namespace.toArray, table)))
  }

  def optimize(namespace: Seq[String], table: String,
               targetRows: Int = 1 << 20,
               scope: Option[GraftStoreState] = None,
               where: Option[String] = None): OptimizeResult = {
    val t = resolve(namespace, table, scope)
    val params = where.map(w => Map("where" -> w)).getOrElse(Map.empty)
    val inScope = where.map(t.groupScope)
      .getOrElse((_: GraftDataFile) => true)
    // CLUSTER BY tables (r18): a PLAIN OPTIMIZE defaults to ZORDER BY
    // the declared clustering keys — the liquid-clustering contract
    // (declare once, every routine compaction re-clusters) — and runs
    // INCREMENTALLY: only files that entered since the last full
    // clustering pass re-lay, so routine cost tracks new data. An
    // explicit ZORDER BY clause stays the FULL re-layout.
    val cluster = GraftTable.clusterByCols(t.schema())
    val (b, a) =
      if (cluster.nonEmpty) {
        val fresh = t.incrementalClusterScope(cluster)
        t.zorderCompact(cluster, targetRows,
          f => inScope(f) && fresh(f),
          params + ("clustering" -> GraftTable.ClusterByProp))
      } else t.optimizeCompact(targetRows, inScope, params)
    OptimizeResult(b, a)
  }

  /** Current schema of a resolved table (ANALYZE's validation). */
  def schemaOf(namespace: Seq[String], table: String,
               scope: Option[GraftStoreState] = None): StructType =
    resolve(namespace, table, scope).schema()

  /** COPY INTO's plan-time probe: split `files` (path, size, mtime —
    * the triple IS the file's ledger identity) into (pending with
    * ledger keys, already-loaded count). Reads through to foreign
    * commits — a file another process copied is skipped at plan.
    * `force` treats every file as pending (Delta's 'force'='true'). */
  def copyPending(namespace: Seq[String], table: String,
      files: Seq[(String, Long, Long)],
      scope: Option[GraftStoreState] = None,
      force: Boolean = false)
      : (Seq[(String, String)], Int) = {
    val t = resolve(namespace, table, scope)
    val keyed = files.map { case (f, sz, mt) =>
      f -> GraftTable.copyKeyOf(f, sz, mt)
    }
    if (force) (keyed, 0)
    else {
      // a mark under EITHER identity skips: the current (path,size,
      // mtime) key, or the pre-upgrade md5(path) key a legacy ledger
      // carries (its path-only semantics persist for those files)
      val (loaded, pending) =
        keyed.partition { case (f, k) =>
          t.copyMarked(k) || t.copyMarked(GraftTable.copyKeyLegacy(f))
        }
      (pending, loaded.size)
    }
  }

  /** Current commit version of a resolved table (COPY INTO captures it
    * before the append so rows_loaded can anchor on its own commit). */
  def tableVersion(namespace: Seq[String], table: String,
                   scope: Option[GraftStoreState] = None): Int =
    resolve(namespace, table, scope).currentVersion

  /** Rows THIS command's COPY INTO commit added: the EARLIEST COPY
    * commit after `sinceVersion` whose recorded source dir matches —
    * a concurrent copier's later commit (or one from another landing
    * dir) never misattributes (see [[GraftTable.copyRowsSince]]). */
  def copyCommitRows(namespace: Seq[String], table: String,
                     sinceVersion: Int,
                     sourceDir: Option[String] = None,
                     scope: Option[GraftStoreState] = None): Long =
    resolve(namespace, table, scope).copyRowsSince(sinceVersion, sourceDir)

  /** Merge-install ANALYZE's column statistics (FOR COLUMNS re-analyzes
    * the named columns, keeps the rest) as one log-persisted commit. */
  def setColumnStats(namespace: Seq[String], table: String,
                     stats: Map[String, Array[Long]],
                     scope: Option[GraftStoreState] = None): Unit = {
    val t = resolve(namespace, table, scope)
    t.setColStats(t.columnStatsSnapshot ++ stats)
  }

  /** `ALTER TABLE t SET PARTITIONED BY (col [, col…])` — partition-spec
    * evolution without a rewrite (Iceberg's spec evolution): the live
    * census degroups into legacy remainder files, new writes cluster
    * under the new spec, and the STORE MAPPING swaps to the evolved
    * table object (partitionCols is construction state). Returns the
    * number of files degrouped. An empty column list un-partitions. */
  def evolvePartitioning(namespace: Seq[String], table: String,
      cols: Seq[String],
      scope: Option[GraftStoreState] = None): Int = {
    val key = (namespace, table)
    val st = scope.orElse(
      GraftTableStore.allStores.find(_.tables.contains(key))).getOrElse(
      throw new NoSuchTableException(
        Identifier.of(namespace.toArray, table)))
    val target = st.tables.getOrElse(key,
      throw new NoSuchTableException(
        Identifier.of(namespace.toArray, table)))
    val legacy = target.filesSnapshot.count(_.groupKey.nonEmpty)
    val twin = target.evolvePartitioning(cols)
    if (twin ne target) {
      if (!st.tables.replace(key, target, twin))
        throw new java.util.ConcurrentModificationException(
          s"$table: the table was dropped or replaced while the " +
            "partition evolution was committing")
      legacy
    } else 0
  }

  /** `REORG TABLE t [WHERE pred] APPLY (PURGE)` — rewrite exactly the
    * delete-vector-carrying files so soft-deleted rows physically leave
    * the storage (then VACUUM reclaims the old segments). Returns
    * (files purged, rows physically removed). */
  def reorgPurge(namespace: Seq[String], table: String,
                 scope: Option[GraftStoreState] = None,
                 where: Option[String] = None): (Int, Long) = {
    val t = resolve(namespace, table, scope)
    t.reorgPurge(where.map(t.groupScope).getOrElse(_ => true))
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE dst SHALLOW CLONE src
    * [VERSION AS OF v]`): a new table whose first commit adopts the
    * source snapshot's data files BY REFERENCE — zero data copy, O(files)
    * metadata. Copy-on-write everywhere means subsequent writes to
    * either table never touch the shared arrays, so the two histories
    * diverge safely from the shared root. */
  def cloneTable(srcNamespace: Seq[String], src: String,
                 dstNamespace: Seq[String], dst: String,
                 version: Option[Int] = None,
                 scope: Option[GraftStoreState] = None): Int = {
    // cloning FROM a branch head is ordinary (the branch resolves like
    // any source; shared-segment retention has the same documented
    // shallow-clone hazard); a branch-ADDRESSED destination is not a
    // creatable table — write to the branch directly, or FAST FORWARD
    if (dst.contains('@'))
      throw new IllegalArgumentException(
        s"cannot clone onto '$dst': a branch is not a clone " +
          "destination — write to the branch directly (INSERT INTO " +
          "`t@b`), or FAST FORWARD main to it")
    val s = resolve(srcNamespace, src, scope)
    val (schema, fs, fsDvs) = s.stateAt(version,
      Identifier.of(srcNamespace.toArray, src))
    // CHECK constraints are compiled against the source's CURRENT
    // schema; a version-pinned clone with a different schema cannot
    // adopt them (their ordinals would mis-bind) — Delta requires
    // re-adding constraints after such a clone too
    val cloneChecks =
      if (schema == s.schema()) s.currentChecks
      else Map.empty[String, GraftConstraints.Check]
    // a version-pinned clone binds the layout IN EFFECT AT that version
    // (a later REPLACE may have changed it; the adopted files' group
    // keys were computed under the old layout)
    val (clonePartCols, cloneBucket) = version
      .map(s.layoutAt).getOrElse((s.partitionCols, s.bucketSpec))
    val clone = new GraftTable(
      (dstNamespace :+ dst).mkString("."), schema, clonePartCols,
      s.rowLevelMode, cloneBucket, cloneChecks)
    // the clone registers in the SAME universe its source resolved in —
    // scoped calls must not leak clones into the global store
    if (scope.getOrElse(GraftTableStore.global).tables
        .putIfAbsent((dstNamespace, dst), clone).isDefined)
      throw new TableAlreadyExistsException(
        Identifier.of(dstNamespace.toArray, dst))
    clone.adoptFiles(fs, fsDvs)
    fs.length
  }

  /** WAP PUBLISH (`CREATE OR REPLACE TABLE dst … CLONE src` onto an
    * EXISTING dst): the destination adopts the source table's state as
    * ONE commit — see [[GraftTable.publishFrom]] for the field-id
    * read-through contract. Returns the adopted file count. */
  def publish(srcNamespace: Seq[String], src: String,
              dstNamespace: Seq[String], dst: String,
              version: Option[Int] = None,
              scope: Option[GraftStoreState] = None): Int = {
    val s = resolve(srcNamespace, src, scope)
    val d = resolve(dstNamespace, dst, scope)
    if (s eq d)
      throw new IllegalArgumentException(
        s"cannot PUBLISH ${(srcNamespace :+ src).mkString(".")} onto " +
          "itself — RESTORE moves a table to its own retained versions")
    d.publishFrom(s, Identifier.of(dstNamespace.toArray, dst), version)
  }

  /** The store universe holding (namespace, table) — where a branch
    * head registers/deregisters. */
  private def storeOf(namespace: Seq[String], table: String,
      scope: Option[GraftStoreState]): GraftStoreState =
    scope.getOrElse(GraftTableStore.allStores
      .find(_.tables.contains((namespace, table)))
      .getOrElse(GraftTableStore.global))

  /** `ALTER TABLE t CREATE BRANCH b`: fork a named branch at the
    * table's head and register its live head under (ns, t, b).
    * Returns the fork version. */
  def createBranch(namespace: Seq[String], table: String, branch: String,
      scope: Option[GraftStoreState] = None,
      retainSnapshots: Option[Int] = None,
      refAgeHours: Option[Double] = None,
      retainHoursSnapshots: Option[Double] = None): Int = {
    val t = resolve(namespace, table, scope)
    val bt = t.forkBranch(branch, retainSnapshots, refAgeHours,
      retainHoursSnapshots)
    storeOf(namespace, table, scope)
      .branchTables.put((namespace, table, branch), bt)
    bt.branchMeta.map(_._2).getOrElse(0)
  }

  /** `ALTER TABLE t ALTER BRANCH b [RETAIN ...]` (r19): replace the
    * branch's declared retention wholesale (no clauses = clear back to
    * engine defaults). Resolves the chain WITHOUT the read-surface
    * expiry gate — extending an expired-but-unswept branch's age is
    * this statement's rescue use. Returns the number of properties
    * now declared. */
  def alterBranch(namespace: Seq[String], table: String, branch: String,
      scope: Option[GraftStoreState] = None,
      retainSnapshots: Option[Int] = None,
      refAgeHours: Option[Double] = None,
      retainHoursSnapshots: Option[Double] = None): Int = {
    val bt =
      try resolve(namespace, s"$table@$branch", scope)
      catch {
        case e: NoSuchTableException =>
          // a branch another process created: load it from disk like
          // the read path does, then alter the registered chain
          resolve(namespace, table, scope).loadForeignBranch(branch)
            .map { t =>
              storeOf(namespace, table, scope).branchTables
                .putIfAbsent((namespace, table, branch), t).getOrElse(t)
            }.getOrElse(throw e)
      }
    bt.alterBranchRetention(retainSnapshots, refAgeHours,
      retainHoursSnapshots)
    retainSnapshots.size + refAgeHours.size + retainHoursSnapshots.size
  }

  /** `ALTER TABLE t DROP BRANCH b`: remove the branch chain; its
    * unshared segments fall to the next tree-aware reclaim. */
  def dropBranch(namespace: Seq[String], table: String, branch: String,
      scope: Option[GraftStoreState] = None): Unit = {
    val t = resolve(namespace, table, scope)
    t.dropBranchChain(branch)
    storeOf(namespace, table, scope)
      .branchTables.remove((namespace, table, branch))
    ()
  }

  /** `ALTER TABLE t FAST FORWARD main TO b`: replay the branch's
    * commit suffix onto main (ancestry-checked). Returns the number
    * of commits adopted. */
  def fastForward(namespace: Seq[String], table: String, branch: String,
      scope: Option[GraftStoreState] = None): Int =
    resolve(namespace, table, scope).fastForwardFrom(branch)

  /** `ALTER TABLE t CHERRY-PICK b VERSION v`: adopt one append-only
    * branch commit onto main. Returns main's new head version. */
  def cherryPick(namespace: Seq[String], table: String, branch: String,
      version: Int, scope: Option[GraftStoreState] = None): Int = {
    val main = resolve(namespace, table, scope)
    val bt = resolve(namespace, s"$table@$branch", scope)
    main.cherryPickFrom(bt, version, branch)
  }

  /** `ALTER TABLE t[@b1] MERGE BRANCH b2`: squash-merge branch b2's
    * head state onto a (possibly diverged) target — main, or another
    * branch (r19) — as one commit under the TARGET chain's lease.
    * The source is always a branch of the BASE table (the target's
    * own ref suffix never nests). Returns the target's new head
    * version. */
  def mergeBranch(namespace: Seq[String], table: String, branch: String,
      scope: Option[GraftStoreState] = None): Int = {
    val target = resolve(namespace, table, scope)
    val at = table.indexOf('@')
    val base = if (at > 0) table.substring(0, at) else table
    // the merge SOURCE honors expiry like any read (r19-advice fix):
    // an expired-but-unswept branch must not silently squash its state
    // onto the target while direct reads of it refuse — rescue it with
    // ALTER BRANCH first. Maintenance (VACUUM/ALTER BRANCH) keeps the
    // bypass: those operate ON the expired state.
    val bt = resolve(namespace, s"$base@$branch", scope)
      .requireBranchNotExpired()
    target.mergeBranchFrom(bt, branch)
  }

  /** `ALTER TABLE t CREATE TAG n [AS OF VERSION v]`: pin an immutable
    * named snapshot, readable as `t@n`. Returns the tagged version. */
  def createTag(namespace: Seq[String], table: String, tag: String,
      version: Option[Int] = None,
      scope: Option[GraftStoreState] = None,
      refAgeHours: Option[Double] = None): Int =
    resolve(namespace, table, scope).createTag(tag, version,
      Identifier.of(namespace.toArray, table), refAgeHours)

  /** `ALTER TABLE t DROP TAG n`: release the pin. */
  def dropTag(namespace: Seq[String], table: String, tag: String,
      scope: Option[GraftStoreState] = None): Unit =
    resolve(namespace, table, scope).dropTag(tag)

  /** `VACUUM`: retire all but the last `keepLast` snapshots immediately
    * (history retention is the sliding backstop; this is the explicit
    * reclaim). Returns the number of snapshots retired. */
  def vacuum(namespace: Seq[String], table: String, keepLast: Int = 1,
             scope: Option[GraftStoreState] = None): Int =
    resolve(namespace, table, scope).vacuumHistory(keepLast)

  /** `VACUUM t RETAIN n HOURS` — Delta's time-based retention contract;
    * see [[GraftTable.vacuumRetainHours]]. */
  def vacuumHours(namespace: Seq[String], table: String, hours: Double,
                  scope: Option[GraftStoreState] = None): Int =
    resolve(namespace, table, scope).vacuumRetainHours(hours)

  /** `VACUUM t ... DRY RUN` — Delta's dry run: the reclaim census with
    * nothing deleted. Returns (snapshots that would retire,
    * reclaimable segments, reclaimable bytes). */
  def vacuumDryRun(namespace: Seq[String], table: String, keepLast: Int = 1,
                   scope: Option[GraftStoreState] = None): (Int, Int, Long) =
    resolve(namespace, table, scope).vacuumDryRun(keepLast)

  /** Time-based dry run: `VACUUM t RETAIN n HOURS DRY RUN`. */
  def vacuumDryRunHours(namespace: Seq[String], table: String,
                        hours: Double,
                        scope: Option[GraftStoreState] = None)
      : (Int, Int, Long) =
    resolve(namespace, table, scope).vacuumDryRunHours(hours)

  /** `RESTORE TABLE t TO TIMESTAMP AS OF ts` — Delta's timestamp form;
    * resolves to the latest retained commit at or before the instant.
    * Returns the resolved version. */
  def restoreTimestamp(namespace: Seq[String], table: String,
                       tsMicros: Long,
                       scope: Option[GraftStoreState] = None): Int =
    resolve(namespace, table, scope).restoreAsOf(tsMicros,
      Identifier.of(namespace.toArray, table))

  /** CLONE REPLACE: deep-copy a shallow clone's shared segments into
    * the clone's own storage so the source can be vacuumed without
    * invalidating it (see [[GraftTable.deepenClone]]). Returns the
    * number of files re-pointed. */
  def deepenClone(namespace: Seq[String], table: String,
                  scope: Option[GraftStoreState] = None): Int =
    resolve(namespace, table, scope).deepenClone()

  /** SQL gateway for sessions built WITHOUT the parser extension:
    * maintenance statements (see [[GraftSqlParser]]) execute here, any
    * other SQL falls through to `spark.sql`. With
    * `spark.sql.extensions=graft.plans.GraftExtensions` set, plain
    * `spark.sql("OPTIMIZE …")` works directly and this helper is just
    * a uniform entry point. */
  def sql(spark: org.apache.spark.sql.SparkSession,
          sqlText: String): org.apache.spark.sql.DataFrame =
    GraftSqlParser.parseMaintenance(sqlText, Some(spark)) match {
      case Some(cmd: GraftMaintenanceCommand) =>
        val rows = cmd.run(spark)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          org.apache.spark.sql.types.StructType(cmd.output.map(a =>
            org.apache.spark.sql.types.StructField(
              a.name, a.dataType, a.nullable))))
      case Some(_) =>
        // a DESCRIBE HISTORY/DETAIL rewrite: a relation plan, not a
        // command — re-enter through its SQL-text twin (shared regexes)
        spark.sql(GraftSqlParser.describeRewriteSql(sqlText).getOrElse(
          sqlText))
      case _ => spark.sql(sqlText)
    }

  /** `RESTORE TABLE t TO VERSION AS OF v` (Delta's restore): reset the
    * current state to a retained snapshot, AS A NEW COMMIT — history
    * moves forward, time travel still sees the undone commits, and the
    * change data feed records the restore's row-level delta. File
    * references are adopted, never copied. */
  def restore(namespace: Seq[String], table: String, version: Int,
              scope: Option[GraftStoreState] = None): Unit =
    resolve(namespace, table, scope).restoreTo(version,
      Identifier.of(namespace.toArray, table))

  /** `OPTIMIZE ZORDER BY`: re-layout the table's files along the Morton
    * curve of `cols` (within each partition group), so multi-dimensional
    * selective scans prune files by zone map — see
    * [[GraftTable.zorderCompact]]. */
  def zorderBy(namespace: Seq[String], table: String, cols: Seq[String],
               targetRows: Int = 1 << 20,
               scope: Option[GraftStoreState] = None,
               where: Option[String] = None): OptimizeResult = {
    val t = resolve(namespace, table, scope)
    val (b, a) = t.zorderCompact(cols, targetRows,
      where.map(t.groupScope).getOrElse(_ => true),
      where.map(w => Map("where" -> w)).getOrElse(Map.empty))
    OptimizeResult(b, a)
  }
}

/** The copy-on-write rewrite's scan over a [[GraftTable]], whose rows
  * come out whole (no column pruning) followed by `trackMeta`. On a
  * PARTITIONED table it advertises the leading identity partition
  * column as a runtime-filter attribute, so Spark's row-level
  * group-filtering rule plans a DPP-style subquery (target ⋈ source on
  * the operation condition, projected to the partition column) and
  * calls [[filter]] with the partition values that actually contain
  * matched rows. The scan then returns only those groups' rows, records
  * the group set, and the table's commit replaces exactly that set. A
  * predicate that [[ZonePredicate.groupKeyTest]] cannot decide exactly
  * per group degrades to no pruning — a whole-table rewrite is correct,
  * just not delta-sized. An unpartitioned table (empty `partCols`) is
  * one group: it advertises no filter attribute and reads every file. */
class GraftRowLevelScan(tableSchema: StructType, partCols: Seq[String],
                        allFiles: Vector[GraftDataFile],
                        dvs: Map[GraftDataFile,
                          scala.collection.immutable.BitSet],
                        groupKeyOf: InternalRow => Seq[Any],
                        // ROW TRACKING: the metadata columns appended to
                        // every row (the ones the operation requires)
                        trackMeta: Seq[String])
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportStatistics {
  private val schema =
    StructType(tableSchema.fields ++ trackMeta.map(GraftTable.metaField))

  /** Files surviving the runtime group filter. FILE-level narrowing:
    * a file wholly owned by an untouched partition group drops here
    * without its rows ever materializing — on a durable table its
    * parquet segment is never opened, so an UPDATE touching one
    * partition costs I/O proportional to that partition, not the
    * table (the heap-independence half of group-based COW). Files
    * spanning groups (post-compaction) row-filter at read. */
  @volatile private var kept: Vector[GraftDataFile] = allFiles
  /** Groups the rewrite must replace; None = all (no runtime filter). */
  @volatile private[sources] var scannedGroups: Option[Seq[Any] => Boolean] =
    None

  /** Only the LEADING partition column: Spark's group-filter rule builds
    * ONE InSubquery over every advertised attribute, and the runtime
    * V2-predicate translation (`translateRuntimeFilterV2`) only converts
    * a single-column InSubqueryExec — a multi-attribute subquery's
    * struct child fails `PushableColumnAndNestedColumn` and the filter
    * silently drops. Advertising the prefix keeps the narrowing that CAN
    * translate; over-selected groups (right year, wrong state) rewrite
    * to identical contents, so prefix narrowing is always correct —
    * exactly leading-prefix partition pruning. */
  override def filterAttributes(): Array[NamedReference] =
    partCols.take(1).map(c => Expressions.column(c): NamedReference).toArray

  override def filter(predicates: Array[Predicate]): Unit = {
    // NULL-SAFE membership: the runtime IN lists the matched rows' group
    // values, the NULL group as a NULL literal, which SQL's IN never
    // matches — that group's matched rows would escape the rewrite
    val isNull: Expression => Boolean = {
      case l: Literal[_] => l.value == null; case _ => false }
    val nullSafe = predicates.map(p => p.children().toSeq match {
      case c +: ls if p.name() == "IN" && ls.exists(isNull) =>
        val nullKey = new Predicate("IS_NULL", Array(c))
        if (ls.forall(isNull)) nullKey else new Or(nullKey,
          new Predicate("IN", (c +: ls.filterNot(isNull)).toArray))
      case _ => p
    })
    ZonePredicate.groupKeyTest(nullSafe, partCols, schema).foreach { pred =>
      kept = allFiles.filter(f => f.groupKey match {
        case Some(k) => pred(k) // file-level: untouched groups never read
        case None => true // group-spanning: row-filtered at read
      })
      // the touched set is what the filter SELECTED (not just non-empty
      // groups): a selected group whose rows all get deleted must still
      // be replaced (with nothing)
      scannedGroups = Some(pred)
    }
  }

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(1L, allFiles.iterator.map(_.sizeBytes).sum))
    override def numRows(): util.OptionalLong =
      util.OptionalLong.of(allFiles.iterator.map(f =>
        f.rowCount.toLong - dvs.get(f).fold(0)(_.size)).sum)
  }

  /** LAZY partitions: Spark calls planInputPartitions once BEFORE the
    * runtime group filter arrives (outputPartitioning needs a partition
    * count) — materializing rows there would read every group and
    * defeat the file-level skip. A persisted file therefore ships only
    * its segment scan partition, whole-row projection, with a spanning
    * file's group re-filter as DATA (partition-column ordinals in the
    * SEGMENT's schema + the literal-only key predicate) — never a
    * closure over this scan, which would drag every heap row to the
    * executors (or fail to serialize at all). Heap-only files (in-JVM
    * tables, rows not yet spilled) ship their rows through the same
    * metadata projector. */
  override def planInputPartitions(): Array[InputPartition] = {
    val groups = scannedGroups
    val whole = Array.tabulate(tableSchema.length)(identity)
    val parts = kept.iterator.flatMap { f =>
      val dead = dvs.getOrElse(f, scala.collection.immutable.BitSet.empty)
      // wholly-owned file: every row belongs to a kept group
      val keyPred = if (f.groupKey.isDefined) None else groups
      if (f.persisted) {
        val segSchema = f.segment.schema
        val ords = if (keyPred.isEmpty) Array.emptyIntArray
          else partCols.map(c =>
            segSchema.fields.indexWhere(_.name.equalsIgnoreCase(c))).toArray
        Iterator.single(GraftSegmentScanPartition.of(f, whole, dead.toArray,
          trackMeta, keyOrds = ords, keyPred = keyPred): InputPartition)
      } else {
        val all = GraftTable.heapRows(f, tableSchema, whole, dead, trackMeta,
          -1)
        val rows = keyPred.fold(all)(p => all.filter(r => p(groupKeyOf(r))))
        if (rows.isEmpty) Iterator.empty
        else Iterator.single(GraftInputPartition(rows): InputPartition)
      }
    }.toArray
    if (parts.isEmpty) Array(GraftInputPartition(Array.empty)) else parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftPartitionReaderFactory()
}

/** Scan builder with column pruning, v2 PREDICATE PUSHDOWN (zone-map
  * data skipping), AGGREGATE PUSHDOWN (metadata-only MIN/MAX/COUNT), LIMIT
  * pushdown, and statistics. A query projecting 2 of 30 columns reads
  * 2-column rows, and a query whose predicate excludes a file's min/max
  * envelope never reads that file — the two DSv2 contracts every real
  * format honors, here over the in-JVM file store. Predicates compile
  * through the one zone evaluator, [[ZonePredicate]], whose may-match
  * test any compiled result serves (its `exact` flag matters only to
  * partition drops). All pushed predicates are ALSO returned as
  * residuals, so Spark re-applies them row-level: skipping is an I/O
  * optimization, provably unable to change results.
  * `files` is passed as a thunk so the scan binds the table's CURRENT
  * contents at build time, after any earlier statement in the same query
  * plan committed; `census` reports what was skipped.
  *
  * Aggregate pushdown is the METADATA-ONLY QUERY path (Delta serves
  * `SELECT count(*) FROM t` from the transaction log; parquet footers
  * serve min/max): an unfiltered global — or partition-grouped —
  * MIN/MAX/COUNT is answered entirely from the commit-time file stats,
  * reading ZERO data rows. Complete pushdown only (the answer is final,
  * never partial), and only for shapes the stats answer EXACTLY:
  * Spark's rule guarantees no residual filters remain when it offers an
  * aggregate, group-by columns must be identity partition columns with
  * every file group-keyed, COUNT(DISTINCT) and SUM never qualify, and a
  * mid-evolution file missing a zone disqualifies its column. */
class GraftScanBuilder(tableSchema: StructType,
                       state: () => (Vector[GraftDataFile],
                         Map[GraftDataFile, scala.collection.immutable.BitSet]),
                       census: ScanCensus => Unit = _ => (),
                       partitionCols: Seq[String] = Nil,
                       streamSource: Option[GraftTable] = None,
                       streamOptions: CaseInsensitiveStringMap =
                         CaseInsensitiveStringMap.empty(),
                       streamChangeFeed: Boolean = false,
                       bucketSpec: Option[(Int, String)] = None,
                       cdfBase: Option[GraftTable] = None)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  private var required: StructType = tableSchema
  private var pushed: Array[Predicate] = Array.empty
  private var tests: Array[GraftDataFile => Boolean] = Array.empty
  // (agg output schema, final rows, file snapshot the answer derives from)
  private var aggResult: Option[(StructType, Array[InternalRow], Int, Long)] =
    None
  private var limit: Option[Int] = None

  // metadata columns the query referenced (suffix of the scan output)
  private var metaCols: Seq[String] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve table column order; an empty projection (count(*)) is
    // legal. After an aggregate pushdown the scan output IS the agg
    // schema — ignore pruning there (Spark projects above the scan).
    if (aggResult.isEmpty) {
      // a data column of the same name (the tracked change feed's
      // `_row_id`) is read as data, not appended again as metadata
      metaCols = requiredSchema.fieldNames.toSeq.filter(n =>
        GraftTable.isMetaColumn(n) && !tableSchema.fieldNames.contains(n))
      required = StructType(
        tableSchema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))
    }

  // file-skip filters DERIVED through generated columns (census label)
  private var derivedShown: Seq[String] = Nil

  /** A zone-backed column: its ordinal in the files' zones and its type. */
  private def fileColumn(name: String): Option[(Int, DataType)] =
    Some(tableSchema.fields.indexWhere(_.name == name)).filter(i =>
      i >= 0 && GraftDataFile.statsSupported(tableSchema(i).dataType)
    ).map(i => (i, tableSchema(i).dataType))

  override def pushPredicates(predicates: Array[Predicate])
      : Array[Predicate] = {
    val compiled = predicates.flatMap(p =>
      ZonePredicate.compile(Seq(p), fileColumn).map(p -> _))
    pushed = compiled.map(_._1)
    // generated-column partition pruning (Delta's): an equality/IN
    // filter on a generation SOURCE column derives the generated
    // column's value by evaluating the generation expression on the
    // literal — a table partitioned by `GENERATED ALWAYS AS (f(src))`
    // prunes on `WHERE src = lit` even though src's own zones span
    // every file. FILE-level only, and sound: GENERATED ALWAYS refuses
    // explicit values and recomputes on every rewrite, so every stored
    // row with src = lit has gen = f(lit) exactly — a file whose
    // gen-zone excludes f(lit) holds no matching row. Any derivation
    // failure skips silently (pruning lost, rows never).
    val derived = deriveGenerated(predicates)
    tests = (compiled.map(_._2) ++ ZonePredicate.compile(derived, fileColumn))
      .map(_.mayMatch)
    derivedShown = derived.map(d => s"derived:$d")
    predicates // everything stays a residual: Spark re-applies row-level
  }

  /** True when the generation expression is provably NON-DECREASING in
    * its single source — the gate for deriving RANGE filters (equality
    * and IN never need it: f(lit) is exact whatever f's shape). The
    * whitelist is deliberately OVERFLOW-SAFE, not merely "monotone on
    * paper": division by a positive literal only shrinks magnitudes
    * (and truncation toward zero preserves order), and a lossless
    * numeric/temporal up-cast is exact — so f can never wrap for ANY
    * stored value. Add/Multiply are monotone over the reals but wrap
    * at Long's edges, and a wrapped stored value would make a derived
    * range filter LOSE ROWS — the one failure mode this path may never
    * have — so they stay off the list. This is exactly Delta's
    * timestamp→day-bucket shape (`PARTITIONED BY (ts div 86400)`):
    * `ts BETWEEN a AND b` derives `day BETWEEN a div 86400 AND
    * b div 86400` and reads only those days' files. */
  private def monotoneNonDecreasing(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic,
      BoundReference, Cast, Divide, Expression, IntegralDivide}
    // foldable, not Literal: the dialect's widening pass wraps an INT
    // literal in Cast(…, BIGINT) when the source is BIGINT
    def positiveLit(x: Expression): Boolean =
      x.foldable && (try x.eval(null) match {
        case v: Number => v.doubleValue > 0
        case v: org.apache.spark.sql.types.Decimal => v.toDouble > 0
        case _ => false
      } catch { case scala.util.control.NonFatal(_) => false })
    // DECIMAL arithmetic stays off the list wholesale: under non-ANSI
    // eval an overflowing Decimal divide yields NULL (and an
    // IntegralDivide quotient of a >Long-range decimal wraps), so a
    // stored row's generated value could be NULL where f(lit) is not —
    // a derived range filter would LOSE that row, the one failure mode
    // this path may never have. Double division is IEEE-monotone for
    // ANY positive divisor (overflow saturates to ±Infinity, order
    // preserved), so fractional divisors are fine there.
    def decimal(x: Expression): Boolean =
      x.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]
    e match {
      case _: BoundReference => true
      case d: BinaryArithmetic
          if d.isInstanceOf[IntegralDivide] || d.isInstanceOf[Divide] =>
        !decimal(d.left) && !decimal(d) &&
          positiveLit(d.right) && monotoneNonDecreasing(d.left)
      case c: Cast =>
        // lossless numeric/temporal widening is exact hence
        // order-preserving; string casts order differently — excluded
        c.child.dataType != org.apache.spark.sql.types.StringType &&
          c.dataType != org.apache.spark.sql.types.StringType &&
          Cast.canUpCast(c.child.dataType, c.dataType) &&
          monotoneNonDecreasing(c.child)
      case _ => false
    }
  }

  private def deriveGenerated(predicates: Array[Predicate]): Seq[Predicate] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo, GenericInternalRow, GreaterThanOrEqual, In, LessThanOrEqual, Literal}
    val gens = try GraftFill.generatedCols(tableSchema) catch {
      case scala.util.control.NonFatal(_) => Nil
    }
    if (gens.isEmpty) return Nil
    val leaves = predicates.toSeq.flatMap(ZonePredicate.leaf)
    gens.flatMap { g =>
      // only single-source expressions derive: the literal binds one
      // ordinal, and every other reference would read an unbound NULL
      val refs = g.check.expr.collect {
        case b: org.apache.spark.sql.catalyst.expressions.BoundReference =>
          b.ordinal
      }.distinct
      val genField = tableSchema.fields(g.ord)
      // ...and only into the column's own type: a write stores the
      // expression's value as it evaluates
      if (refs.length != 1 || g.check.expr.dataType != genField.dataType) Nil
      else {
        val srcField = tableSchema.fields(refs.head)
        // range filters derive only through the monotone whitelist:
        // src >= L implies gen >= f(L) (and symmetrically above), with
        // the derived bound always INCLUSIVE — f collapses values, so
        // a strict source bound still admits gen = f(L)
        val mono = monotoneNonDecreasing(g.check.expr)
        // literals arrive Catalyst-internal, the form the generation
        // expression evaluates over and the zones hold
        def derive(v: Any): Option[Any] =
          if (v == null) None
          else try {
            val row = new GenericInternalRow(tableSchema.length)
            row.update(refs.head, v)
            Option(g.check.expr.eval(row))
          } catch { case scala.util.control.NonFatal(_) => None }
        val gen = AttributeReference(genField.name, genField.dataType)()
        leaves.filter(l => l.column == srcField.name &&
            l.values.forall(_.dataType == srcField.dataType)).flatMap { l =>
          val dvs = l.values.map(v => derive(v.value))
          // one underivable IN value poisons the set (the row could land
          // in any file) — derive only when every value maps
          if (!dvs.forall(_.isDefined)) None
          else {
            val lits = dvs.flatten.map(Literal(_, genField.dataType))
            (l.op match {
              case "=" => Some(EqualTo(gen, lits.head))
              case "IN" => Some(In(gen, lits))
              case ">" | ">=" if mono => Some(GreaterThanOrEqual(gen, lits.head))
              case "<" | "<=" if mono => Some(LessThanOrEqual(gen, lits.head))
              case _ => None
            }).flatMap(new org.apache.spark.sql.catalyst.util
              .V2ExpressionBuilder(_, true).buildPredicate())
          }
        }
      }
    }
  }

  override def pushedPredicates(): Array[Predicate] = pushed

  // ---- LIMIT pushdown: partial (Spark re-applies the limit), so the
  // scan may stop delivering rows past the mark — composed with zone
  // pruning it caps the I/O of `SELECT ... LIMIT n` probes. Spark only
  // offers a limit when no post-scan filters remain, so truncation can
  // never starve a residual filter of matching rows.
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  // ---- aggregate pushdown -------------------------------------------
  import org.apache.spark.sql.connector.expressions.aggregate.{
    Aggregation, Count, CountStar, Max, Min}
  import org.apache.spark.sql.types.{LongType, StructField}

  private def singleName(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }

  /** None when the stats cannot answer `agg` exactly; otherwise the
    * final (schema, rows) over a consistent snapshot of the files. */
  private def planAgg(agg: Aggregation)
      : Option[(StructType, Array[InternalRow], Int, Long)] = {
    if (pushed.nonEmpty) return None // residual rows would overcount
    // a change feed carrying a retained REPLACE cannot answer from
    // stats — punt to build(), whose range guard refuses loudly
    if (cdfBase.exists(_.lastReplaceVersion.isDefined)) return None
    val (fs, dvm) = state()
    // a delete vector invalidates raw file stats (counts overcount the
    // dead positions; min/max may sit on a deleted row) — never answer
    // from stats on a DV'd table
    if (fs.exists(dvm.contains)) return None
    // inexact stats cannot answer an aggregate: a DERIVED file without
    // statsExact (a CDC cancel component's upper bound, or a pure file
    // over a position view) carries envelope zones whose min/max may
    // sit on a row it never emits — and a position VIEW in the state
    // itself (a RESTORE revival) keeps its base's superset envelope
    // and an ambiguity-encoded nullCount for the same reason
    if (fs.exists(f => f.viewSel.isDefined ||
        f.derive.exists(d => !d.statsExact))) return None
    // group-by columns must be identity partition columns, and grouping
    // requires every file to carry its group key (a post-compaction file
    // spanning groups cannot attribute its stats)
    val gNames = agg.groupByExpressions.toSeq.map(singleName)
    if (gNames.exists(_.isEmpty)) return None
    val gIdx = gNames.map(_.get).map(n =>
      partitionCols.indexWhere(_.equalsIgnoreCase(n)))
    if (gIdx.exists(_ < 0)) return None
    if (gIdx.nonEmpty && !fs.forall(_.groupKey.isDefined)) return None
    val gFields = gNames.map(_.get).map { n =>
      val f = tableSchema.fields(
        tableSchema.fields.indexWhere(_.name.equalsIgnoreCase(n)))
      StructField(f.name, f.dataType, f.nullable)
    }

    def colOrd(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Int] =
      singleName(e).map(n =>
        tableSchema.fields.indexWhere(_.name.equalsIgnoreCase(n)))
        .filter(_ >= 0)
        // every file must carry a zone for the column (mid-evolution
        // files may be narrower; unsupported types have null zones)
        .filter(i => fs.forall(_.zone(i) != null))

    val aggFns: Seq[Option[(StructField, Seq[GraftDataFile] => Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some((
          StructField("pushed_count_star", LongType, nullable = false),
          (g: Seq[GraftDataFile]) =>
            java.lang.Long.valueOf(g.iterator.map(_.rowCount.toLong).sum)))
        case c: Count if !c.isDistinct => colOrd(c.column()).map(i => (
          StructField(s"pushed_count_$i", LongType, nullable = false),
          (g: Seq[GraftDataFile]) => java.lang.Long.valueOf(
            g.iterator.map(f => f.rowCount.toLong - f.zones(i).nullCount).sum)))
        case m: Min => colOrd(m.column()).map(i => (
          StructField(s"pushed_min_$i",
            tableSchema.fields(i).dataType, nullable = true),
          (g: Seq[GraftDataFile]) => g.iterator.map(_.zones(i).min)
            .filter(_ != null)
            .reduceOption((a, b) => if (ColZone.cmp(a, b) <= 0) a else b).orNull))
        case m: Max => colOrd(m.column()).map(i => (
          StructField(s"pushed_max_$i",
            tableSchema.fields(i).dataType, nullable = true),
          (g: Seq[GraftDataFile]) => g.iterator.map(_.zones(i).max)
            .filter(_ != null)
            .reduceOption((a, b) => if (ColZone.cmp(a, b) >= 0) a else b).orNull))
        case _ => None // SUM/AVG/DISTINCT: stats cannot answer exactly
      }
    if (aggFns.exists(_.isEmpty)) return None
    val fns = aggFns.map(_.get)

    val schema = StructType(gFields ++ fns.map(_._1))
    def rowOf(keyVals: Seq[Any], g: Seq[GraftDataFile]): InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        (keyVals ++ fns.map(_._2(g))).toArray)
    val rows: Array[InternalRow] =
      if (gIdx.isEmpty) Array(rowOf(Nil, fs)) // global agg: one row, even empty
      else fs.groupBy(f => gIdx.map(f.groupKey.get(_))).toSeq
        .sortBy(_._1.mkString("|"))
        .map { case (k, g) => rowOf(k, g) }.toArray
    Some((schema, rows, fs.length, fs.iterator.map(_.rowCount.toLong).sum))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    planAgg(agg) match {
      case Some(r) => aggResult = Some(r); true
      case None => false
    }

  /** Proven lower bound on `_commit_version` from the pushed filters
    * (a change-feed read's version range as planning sees it). Only
    * bounds the pushdown COULD compile count — an uncompiled residual
    * stays invisible here, which errs toward refusing (loud), never
    * toward serving a crossing read. */
  private def cdfLowerBound: Option[Int] = {
    def boundOf(p: Predicate): Option[Int] =
      if (p.name == "AND")
        p.children.collect { case q: Predicate => q }.flatMap(boundOf).maxOption
      else ZonePredicate.leaf(p).filter(l => l.column == "_commit_version" &&
          l.values.nonEmpty && l.values.forall(_.value.isInstanceOf[Number]))
        .flatMap { l =>
          val ns = l.values.map(_.value.asInstanceOf[Number].intValue)
          l.op match {
            case ">" => Some(ns.head + 1)
            case ">=" | "=" | "IN" => Some(ns.min)
            case _ => None
          }
        }
    pushed.flatMap(boundOf).maxOption
  }

  override def build(): Scan = {
    // change-feed range guard (REPLACE TABLE): deferred to the scan's
    // BATCH consumption — see GraftScan.toBatch (a streaming read of
    // the same scan guards per batch in the stream planner instead)
    val guard: () => Unit =
      () => cdfBase.foreach(_.assertCdfRangeReadable(cdfLowerBound))
    aggResult.foreach { case (schema, rows, nFiles, nRows) =>
      // metadata-only answer: zero data rows read
      census(ScanCensus(nFiles, 0, nRows, 0, Seq("aggregate: pushed")))
      return new GraftScan(schema, Array(ScanChunk(rows)),
        math.max(1L, rows.length.toLong * math.max(1, schema.defaultSize)))
    }
    val (all, dvm) = state()
    // delete-vector view: live row count and live positions per file —
    // identical to the raw arrays on COW tables (dvm empty)
    val emptyBs = scala.collection.immutable.BitSet.empty
    def dvOf(f: GraftDataFile) = dvm.getOrElse(f, emptyBs)
    def liveCount(f: GraftDataFile): Long = f.rowCount.toLong - dvOf(f).size
    // file ordinals ride along: they are the `_file_id` metadata value
    // and must survive zone/limit pruning (t$files numbers the SAME way)
    val zoneSurviving =
      all.zipWithIndex.filter { case (f, _) => tests.forall(_(f)) }
    // partial limit: stop delivering files once `limit` rows are reached
    // (Spark re-applies the limit; fewer whole files read is pure I/O win)
    val surviving = limit match {
      case Some(l) =>
        var seen = 0L
        zoneSurviving.takeWhile { case (f, _) =>
          val take = seen < l
          // a derived file with an INEXACT count (cancel recipe upper
          // bound) must not count toward the limit — overclaiming here
          // would wrongly drop later files; contributing 0 only errs
          // toward reading more
          if (!f.derive.exists(d => !d.exactCount)) seen += liveCount(f)
          take
        }
      case None => zoneSurviving
    }
    census(ScanCensus(all.length, surviving.length,
      all.iterator.map(liveCount).sum,
      surviving.iterator.map(p => liveCount(p._1)).sum,
      pushed.map(_.toString).toSeq ++ derivedShown ++
        limit.map(l => s"limit: $l")))
    // column-fraction size scaling: a pruned read costs proportionally
    // less, and the reported stats should say so (auto-broadcast sizing)
    val colFrac =
      if (tableSchema.isEmpty) 1.0
      else required.length.toDouble / tableSchema.length
    val bytes = math.max(1L,
      (surviving.iterator.map(_._1.sizeBytes).sum * colFrac).toLong)
    val zonesByName = ScanChunk.zonesByName(tableSchema)
    // storage-partitioned-join eligibility: the scan can report a
    // key-grouped layout only when the partition (or bucket-source)
    // columns survive into the output (join keys must resolve against it)
    val spjCols =
      if (partitionCols.nonEmpty && partitionCols.forall(c =>
        required.fieldNames.exists(_.equalsIgnoreCase(c)))) partitionCols
      else Nil
    val spjBucket = bucketSpec.filter { case (_, c) =>
      required.fieldNames.exists(_.equalsIgnoreCase(c))
    }
    // streaming read (readStream on a live catalog table): the scan's
    // micro-batch surface tails the commit log from the same builder
    // state — pruned schema and zone tests apply per delivered commit
    val mb = streamSource.map(t =>
      () => new GraftMicroBatchStream(t, required, tests, streamOptions,
        streamChangeFeed, tableSchema)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream)
    // metadata columns (the MOR operation's row address, row tracking)
    // trail the data columns: `_file_id` is the file ordinal, which
    // survives pruning above, `_row_pos` the ORIGINAL position — the
    // stable row address a delete vector targets, so DV'd positions are
    // skipped, never renumbered. A position VIEW reports its BASE
    // file's positions; only DERIVED pseudo-files (CDC recipes —
    // synthesized rows with no durable address) enumerate their output.
    val outSchema = StructType(required.fields ++
      metaCols.map(GraftTable.metaField))
    val idx = required.fields.map(f => tableSchema.fieldIndex(f.name))
    // persisted files plan LAZY segment partitions: the parquet
    // streams executor-side at execution; a zone/limit/runtime-pruned
    // file costs zero I/O anywhere (metadata decided its fate)
    val chunks = surviving.map { case (f, fid) =>
      val dead = dvOf(f)
      val rows = () =>
        GraftTable.heapRows(f, tableSchema, idx, dead, metaCols, fid)
      f.derive match {
        case Some(rcp) =>
          // DERIVED pseudo-file (CDC): the recipe's partition computes
          // the rows executor-side, the wrapper appends the meta columns
          // there; zones/rowCount drove pruning above
          val part =
            if (metaCols.isEmpty) rcp.partition(idx)
            else GraftMetaWrapPartition(rcp.partition(idx), required.json,
              metaCols, fid)
          ScanChunk.lazily(part, zonesByName(f), f.groupKey, f.rowCount,
            f.sizeBytes, rows)
        case None if f.persisted =>
          ScanChunk.lazily(
            GraftSegmentScanPartition.of(f, idx, dead.toArray, metaCols, fid),
            zonesByName(f), f.groupKey, f.rowCount - dead.size, f.sizeBytes,
            rows)
        case None => ScanChunk(rows(), zonesByName(f), f.groupKey)
      }
    }.toArray
    new GraftScan(outSchema, chunks, bytes, census,
      pushed.map(_.toString).toSeq, spjCols, mb, spjBucket, guard,
      streamSource.map(_.columnStatsSnapshot).getOrElse(Map.empty))
  }
}

/** One surviving data file inside a [[GraftScan]]: its (possibly
  * column-pruned) rows plus its zones by column name — kept on
  * the scan so RUNTIME filters (DPP subquery results) can skip whole
  * chunks after planning, not just the static pushdown at build time.
  * `groupKey` (partition-column values, when the file is wholly owned by
  * one identity partition) feeds storage-partitioned join reporting.
  *
  * Rows are LAZY: `lazySeg` (persisted files) carries a self-contained
  * segment-read partition — the scan plans it without materializing a
  * row, and the partition reader streams the parquet EXECUTOR-side at
  * execution. Zone/limit/runtime pruning all work off the resident
  * metadata (`zones`, `rowCount`, `groupKey`), so a pruned durable file
  * never costs a byte of I/O anywhere; metadata columns ride in the
  * partition too. `sizeBytes` (the file's stored size) is what
  * [[GraftScan.planInputPartitions]] packs segment partitions by.
  * Heap-only files, and key-grouped (SPJ) groups that hold a derived
  * file's chunk, use the `rows` materializer ([[GraftTable.heapRows]]). */
private[sources] final class ScanChunk(
    rowsFn: () => Array[InternalRow],
    val zones: ZoneView[String],
    val groupKey: Option[Seq[Any]],
    val rowCount: Int,
    val sizeBytes: Long,
    val lazySeg: Option[InputPartition]) {
  lazy val rows: Array[InternalRow] = rowsFn()
  /** Runtime-filter exclusion under key-grouped reporting: same
    * partition value, zero rows, zero I/O. */
  def emptied: ScanChunk =
    new ScanChunk(() => Array.empty, zones, groupKey, 0, 0L, None)
}

private[sources] object ScanChunk {
  val NoZones: ZoneView[String] = new ZoneView[String] {
    def zone(col: String): ColZone = null
    def bloom(col: String): GraftBloom = null
  }

  /** A file's zones by COLUMN NAME of `schema`: names survive column
    * pruning (runtime filters reference output columns), ordinals do
    * not. A Bloom filter (possibly a sidecar read) loads only when a
    * runtime point or IN test consults it, never at plain planning. */
  def zonesByName(schema: StructType): GraftDataFile => ZoneView[String] = {
    val ordOf = schema.fieldNames.zipWithIndex.toMap
    f => new ZoneView[String] {
      def zone(col: String): ColZone = ordOf.get(col).map(f.zone).orNull
      def bloom(col: String): GraftBloom = ordOf.get(col).map(f.bloom).orNull
    }
  }

  def apply(rows: Array[InternalRow], zones: ZoneView[String] = NoZones,
            groupKey: Option[Seq[Any]] = None): ScanChunk =
    new ScanChunk(() => rows, zones, groupKey, rows.length, 0L, None)

  def lazily(seg: InputPartition, zones: ZoneView[String],
             groupKey: Option[Seq[Any]], rowCount: Int, sizeBytes: Long,
             loader: () => Array[InternalRow]): ScanChunk =
    new ScanChunk(loader, zones, groupKey, rowCount, sizeBytes, Some(seg))
}

/** Every partition kind the catalog's scans plan. Sealed, so the
  * compiler checks that [[GraftPartitionReaderFactory]]'s match covers
  * each kind. */
sealed trait GraftScanPartition extends InputPartition

/** A scan partition that carries a parquet segment REFERENCE plus its
  * read recipe (delete-vector positions to skip, column-pruning
  * ordinals into the file layout, and — for metadata-column reads —
  * the requested meta columns plus this file's ordinal): the reader
  * streams the file at execution, executor-side. Everything is plain
  * serializable data — the partition ships to a real cluster's
  * executors unchanged; the task-side rewrites ([[GraftRewrite]]) take
  * their inputs in the same form. Build it with
  * [[GraftSegmentScanPartition.of]]. */
case class GraftSegmentScanPartition(ref: String, schemaJson: String,
    project: Array[Int], dead: Array[Int],
    metaCols: Seq[String] = Nil, fid: Int = -1,
    // position-VIEW selection (CDC records): read only these original
    // positions (`selExclude` = read everything BUT them). Mutually
    // exclusive with `dead` — a view never carries a delete vector.
    sel: Array[Int] = Array.empty,
    selExclude: Boolean = false,
    // ROW TRACKING: `tracked` files serve `_row_id` / `_row_commit_
    // version` — arithmetically from (trackBase, trackVer), or (when
    // `trackExplicit`) from the segment's `.rowids` sidecar, loaded
    // once per partition EXECUTOR-side (the partition itself stays
    // O(1); a 1000-executor scan never ships a row-sized vector)
    tracked: Boolean = false,
    trackExplicit: Boolean = false,
    trackBase: Long = -1L,
    trackVer: Long = -1L,
    // the copy-on-write rewrite's group re-filter of a group-SPANNING
    // file: `keyOrds` (partition-column ordinals in THIS segment's
    // schema) + `keyPred` (a literal-capturing exact group-key test,
    // [[ZonePredicate.groupKeyTest]]). Only with a whole-row `project`.
    keyOrds: Array[Int] = Array.empty,
    keyPred: Option[Seq[Any] => Boolean] = None) extends GraftScanPartition {

  /** Whether ORIGINAL position `p` is read: off the delete vector and,
    * for a position view, inside (or, with `selExclude`, outside) its
    * selection. */
  def liveAt: Int => Boolean = {
    val deadBs = scala.collection.immutable.BitSet(dead: _*)
    val selBs = scala.collection.immutable.BitSet(sel: _*)
    val isView = sel.nonEmpty || selExclude
    p => !deadBs.contains(p) && (!isView || selBs.contains(p) != selExclude)
  }

  /** The segment's row track (null when untracked): arithmetic from the
    * shipped (base, ver), or the `.rowids` sidecar, loaded on first use
    * wherever this partition runs. */
  def rowTrack: GraftRowTrack =
    if (!tracked) null
    else new GraftRowTrack(trackBase, trackVer, null, null, trackExplicit,
      () => GraftRowIdSidecar.read(java.nio.file.Paths.get(ref)))
}

object GraftSegmentScanPartition {
  /** The segment partition of persisted file `f`: its segment ref, view
    * selection and row track come from the file, the read recipe from
    * the caller. `schema` overrides the handle's layout (a stream lifts
    * a pre-widen file's stored types to its bound ones). */
  def of(f: GraftDataFile, project: Array[Int], dead: Array[Int] = Array.empty,
      metaCols: Seq[String] = Nil, fid: Int = -1, schema: StructType = null,
      keyOrds: Array[Int] = Array.empty,
      keyPred: Option[Seq[Any] => Boolean] = None): GraftSegmentScanPartition = {
    val (sel, selEx) = f.viewSel.fold((Array.empty[Int], false)) {
      case (bs, ex) => (bs.toArray, ex)
    }
    val t = f.track
    GraftSegmentScanPartition(f.segment.path.toString,
      Option(schema).getOrElse(f.segment.schema).json, project, dead,
      metaCols, fid, sel, selEx,
      tracked = t != null,
      trackExplicit = t != null && t.explicit,
      trackBase = if (t != null) t.base else -1L,
      trackVer = if (t != null) t.ver else -1L,
      keyOrds, keyPred)
  }
}

/** Metadata-column wrapper over a derived file's partition: delegates
  * the data rows to the inner partition's reader and appends the
  * requested meta columns executor-side — `_file_id` = the wrapped
  * file's scan ordinal, `_row_pos` = the position in the inner reader's
  * output. Used for DERIVED pseudo-files (CDC recipes), whose rows are
  * synthesized: there is no durable address to serve, so the position
  * is scan-relative by documented contract. `schemaJson` is the inner
  * reader's (already-projected) data schema. */
case class GraftMetaWrapPartition(inner: GraftScanPartition,
    schemaJson: String, metaCols: Seq[String], fid: Int)
    extends GraftScanPartition

/** Several segment REFERENCES read one after another in one task, in
  * the order given: [[GraftScan]] packs runs of small segments into
  * these by Spark's file-split rule, so a table fragmented by appends
  * does not pay one task per file. Each segment still opens once,
  * executor-side. */
case class GraftPackedSegmentPartition(segs: Seq[GraftSegmentScanPartition])
    extends GraftScanPartition

/** Key-grouped variant (durable tables): all of one identity-partition
  * key's segments, reported with the key so a storage-partitioned join
  * aligns without shuffling — and without the driver ever materializing
  * a row. */
case class GraftKeyedSegmentPartition(packed: GraftPackedSegmentPartition,
                                      key: InternalRow)
    extends GraftScanPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Executor-side segment streaming shared by every reader that
  * consumes a [[GraftSegmentScanPartition]]: one parquet open per
  * partition, decoding only the projected columns, with delete-vector,
  * position-view and group filtering by ORIGINAL file position. */
private[sources] object GraftSegmentReads {
  def rowsOf(s: GraftSegmentScanPartition): Iterator[InternalRow] = {
    val fileSchema = DataType.fromJson(s.schemaJson)
      .asInstanceOf[StructType]
    val path = java.nio.file.Paths.get(s.ref)
    val live = s.liveAt
    // the group re-filter tests, and `_row_probe` hashes, the whole
    // stored row, so only they make the read decode every column
    val whole = s.keyPred.isDefined || s.metaCols.contains("_row_probe")
    val rows = GraftSegmentIO.read(path, fileSchema,
      if (whole) null else s.project)
    val inGroup: InternalRow => Boolean = s.keyPred match {
      case Some(pred) =>
        val dts = s.keyOrds.map(i =>
          if (i >= 0) fileSchema.fields(i).dataType
          else org.apache.spark.sql.types.NullType)
        r => pred(s.keyOrds.toSeq.lazyZip(dts).map((i, dt) =>
          if (i < 0 || r.isNullAt(i)) null else r.get(i, dt)))
      case None => _ => true
    }
    val kept = rows.zipWithIndex.filter { case (r, p) =>
      live(p) && inGroup(r)
    }
    if (s.metaCols.isEmpty) {
      // plain read: rows go out as decoded
      if (s.dead.isEmpty && s.sel.isEmpty && !s.selExclude &&
          s.keyPred.isEmpty) rows
      else kept.map(_._1)
    } else {
      // metadata columns carry ORIGINAL row addresses; a position
      // view's selection filters WHICH positions emit, the addresses
      // stay the base file's (the view and the base agree on every
      // shared row)
      val meta =
        if (whole) GraftTable.metaProjector(fileSchema, s.project,
          s.metaCols, s.fid, s.ref, s.rowTrack)
        else GraftTable.metaProjector(
          StructType(s.project.map(fileSchema.fields(_))),
          s.project.indices.toArray, s.metaCols, s.fid, s.ref, s.rowTrack)
      kept.map { case (r, p) => meta(r, p) }
    }
  }
}

/** CDC partition: one commit's change rows — or one overlap COMPONENT
  * of them — computed in the PARTITION READER from its inputs. Added
  * rows emit as inserts, removed as deletes; with `cancel` set the
  * reader first cancels the signed row multiset (the rows a COW rewrite
  * carried through unchanged). An input is any partition the one reader
  * serves: a persisted file's segment reference, or an in-JVM file's
  * rows in its commit's layout — so the driver plans every store's feed
  * from zone metadata alone and never computes a change row.
  * `ordMap` canonicalizes input rows to the CURRENT data schema
  * (append-only evolution: -1 = null-pad); `project` selects the
  * required ordinals of the changes schema (0 = _change_type,
  * 1 = _commit_version, 2 = _commit_timestamp, 3+i = data column i). */
case class GraftChangeScanPartition(
    adds: Seq[GraftScanPartition],
    rems: Seq[GraftScanPartition],
    cancel: Boolean,
    ordMap: Array[Int],
    dataSchemaJson: String,
    version: Int,
    tsMicros: Long,
    project: Array[Int],
    // hash-SLICED cancellation: this partition counts only canonical
    // rows with hash ≡ slice (mod nSlices). Cancellation is per row
    // VALUE, so slicing the row space partitions the diff exactly —
    // a whole-table rewrite's multiset spreads over nSlices tasks with
    // bounded memory each, instead of one table-sized map (the cost is
    // nSlices re-reads of the component's inputs)
    slice: Int = 0,
    nSlices: Int = 1,
    // ROW TRACKING: each input's rows end in `_row_id`; the canonical
    // row extends with it, and the feed emits it as the trailing output
    // column
    tracked: Boolean = false) extends GraftScanPartition

private[sources] object GraftChangeReads {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection, UnsafeRow}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  def rowsOf(p: GraftChangeScanPartition): Iterator[InternalRow] = {
    val dataSchema = DataType.fromJson(p.dataSchemaJson)
      .asInstanceOf[StructType]
    // canonical row: the current data schema (null-padding columns the
    // commit's schema did not have), then `_row_id` on a tracked feed
    def inputExprs(in: GraftScanPartition): IndexedSeq[Expression] = {
      val data = dataSchema.fields.toIndexedSeq.zipWithIndex.map {
        case (f, i) => p.ordMap(i) match {
          case -1 => Literal.create(null, f.dataType): Expression
          case j => BoundReference(j, f.dataType, nullable = true): Expression
        }
      }
      if (!p.tracked) data
      else {
        // an input's rows arrive [columns..., _row_id]: the id ordinal
        // is that input's own projected width
        val width = in match {
          case s: GraftSegmentScanPartition => s.project.length
          case g: GraftInputPartition =>
            g.rows.headOption.fold(0)(_.numFields - 1)
          case other => throw new IllegalArgumentException(
            s"not a change input: $other")
        }
        data :+ BoundReference(width, LongType, nullable = true)
      }
    }
    val canonical: IndexedSeq[Expression] =
      (dataSchema.fields.map(_.dataType) ++ Option.when(p.tracked)(LongType))
        .toIndexedSeq.zipWithIndex.map { case (dt, i) =>
          BoundReference(i, dt, nullable = true): Expression
        }
    def outProj(tag: String, cols: IndexedSeq[Expression]): UnsafeProjection =
      UnsafeProjection.create(p.project.toIndexedSeq.map {
        case 0 => Literal(UTF8String.fromString(tag), StringType): Expression
        case 1 => Literal(p.version, IntegerType): Expression
        case 2 => Literal(p.tsMicros, LongType): Expression
        case r => cols(r - 3)
      })
    if (!p.cancel) {
      def emit(ins: Seq[GraftScanPartition], tag: String)
          : Iterator[InternalRow] =
        ins.iterator.flatMap { in =>
          val proj = outProj(tag, inputExprs(in))
          GraftPartitionReaderFactory.rowsOf(in).map(proj(_))
        }
      emit(p.adds, "insert") ++ emit(p.rems, "delete")
    } else {
      // signed multiset over FULL canonical rows (cancellation is
      // defined on whole rows regardless of column pruning — and, on a
      // tracked table, on the row's identity too), then the pruned
      // projection on the survivors
      val counts = new java.util.LinkedHashMap[UnsafeRow, Int]()
      def mine(r: UnsafeRow): Boolean = p.nSlices <= 1 ||
        java.lang.Math.floorMod(r.hashCode, p.nSlices) == p.slice
      def bump(ins: Seq[GraftScanPartition], d: Int): Unit =
        ins.foreach { in =>
          val canon = UnsafeProjection.create(inputExprs(in))
          GraftPartitionReaderFactory.rowsOf(in).foreach { r =>
            val k = canon(r)
            if (mine(k)) counts.merge(k.copy(), d, (a, b) => a + b)
          }
        }
      bump(p.adds, 1)
      bump(p.rems, -1)
      val ins = outProj("insert", canonical)
      val del = outProj("delete", canonical)
      import scala.jdk.CollectionConverters._
      counts.entrySet().iterator().asScala.flatMap { en =>
        val c = en.getValue.intValue()
        if (c == 0) Iterator.empty
        else {
          val (proj, n) = if (c > 0) (ins, c) else (del, -c)
          Iterator.fill(n)(proj(en.getKey): InternalRow)
        }
      }
    }
  }
}

/** Scan over the surviving data files (one chunk per file). Durable
  * segments plan by Spark's file-split rule: runs of small segments
  * pack into one input partition, a big one stays alone; a few large
  * heap files split into slices so downstream operators still
  * parallelize. Reports `SupportsReportStatistics` — size
  * AFTER zone pruning and column pruning, so Catalyst's join planning
  * sees the real read cost and auto-broadcasts dim-sized tables without
  * hints (the path a real format's stats serve).
  *
  * Also implements [[SupportsRuntimeV2Filtering]] over every zone-backed
  * column: when this table is the BIG side of a join whose other side
  * broadcasts, Spark plans a DPP-style subquery over the join key and
  * hands the realized key set to [[filter]] — chunks whose zone envelope
  * excludes every key drop BEFORE any row is read. That is dynamic file
  * skipping (the Iceberg/Delta runtime-filter read path): the static
  * half (predicate literals) prunes at build, this half prunes from
  * runtime join keys, both through the same [[ZonePredicate]] may-match
  * test (any compiled result serves; `exact` is not needed). Always
  * safe: the join re-applies its condition, so over-retention costs only
  * I/O, and the zone test is conservative. */
class GraftScan(schema: StructType, chunks0: Array[ScanChunk],
                sizeBytes: Long, census: ScanCensus => Unit = _ => (),
                staticPushed: Seq[String] = Nil,
                partitionCols: Seq[String] = Nil,
                mbStream: Option[
                  () => org.apache.spark.sql.connector.read.streaming
                    .MicroBatchStream] = None,
                bucketSpec: Option[(Int, String)] = None,
                batchGuard: () => Unit = () => (),
                colStats: Map[String, Array[Long]] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  @volatile private var chunks: Array[ScanChunk] = chunks0
  private val totalRows: Long = chunks0.iterator.map(_.rowCount.toLong).sum

  override def readSchema(): StructType = schema
  // the guard fires only when the scan is consumed as a BATCH: the
  // same Scan object also serves toMicroBatchStream, whose per-batch
  // version ranges are guarded in the stream's own planner (a stream
  // legitimately starting ABOVE a REPLACE swap must not be refused by
  // the batch rule, which cannot see the stream's offsets)
  override def toBatch: Batch = { batchGuard(); this }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    mbStream.map(_())
      .getOrElse(super.toMicroBatchStream(checkpointLocation))

  // ---- storage-partitioned join reporting ---------------------------
  // When every chunk is wholly owned by one identity partition and v2
  // bucketing is on, report the key-grouped layout: a join of two such
  // tables on the partition key plans WITHOUT a shuffle on either side
  // (Spark's storage-partitioned join, the Iceberg/Delta bucketing
  // path) — at 100 TB the difference between a co-located merge and
  // re-shuffling both fact tables. Spark 4 turns
  // `spark.sql.sources.v2.bucketing.enabled` on by DEFAULT, so every
  // scan of an identity-partitioned table that projects its partition
  // columns plans exactly one task per key, joined or not: a 50-state
  // table runs 50 tasks of a few hundred rows each.
  private def spjActive: Boolean =
    (partitionCols.nonEmpty || bucketSpec.isDefined) &&
      org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
      chunks.forall(_.groupKey.isDefined)

  /** The grouping expressions a co-partitioned join aligns on: the
    * identity columns, or the bucket transform (whose function Spark
    * resolves through this catalog's FunctionCatalog). */
  private def keyExprs
      : Array[org.apache.spark.sql.connector.expressions.Expression] =
    bucketSpec match {
      case Some((n, c)) => Array(Expressions.bucket(n, c))
      case None => partitionCols.map(c => Expressions.identity(c):
        org.apache.spark.sql.connector.expressions.Expression).toArray
    }

  /** Chunks per distinct partition key, deterministic order. */
  private def keyedGroups: Seq[(Seq[Any], Array[ScanChunk])] =
    chunks.groupBy(_.groupKey.get).toSeq.sortBy(_._1.mkString("|"))

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjActive)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        keyExprs, keyedGroups.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** Under key-grouped reporting, every row in an input partition holds
    * the SAME identity-partition key values — trivially sorted by them.
    * Reporting that order lets EnsureRequirements drop the per-partition
    * sorts a sort-merge join would otherwise add, so a storage-
    * partitioned join of two such tables runs with NO shuffle AND no
    * sort on either side (the full Iceberg bucketed-join contract). */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    // identity only: a bucket's rows share the BUCKET, not the value,
    // so a bucketed partition is not sorted by the source column
    if (spjActive && bucketSpec.isEmpty)
      partitionCols.map(c =>
        Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
          : org.apache.spark.sql.connector.expressions.SortOrder).toArray
    else Array.empty

  override def filterAttributes(): Array[NamedReference] =
    schema.fields.collect {
      case f if GraftDataFile.statsSupported(f.dataType) =>
        Expressions.column(f.name)
    }

  override def filter(predicates: Array[Predicate]): Unit = {
    ZonePredicate.compile(predicates, name =>
      schema.find(_.name == name).map(f => (name, f.dataType))
    ).foreach { t =>
      // under key-grouped reporting the partition-value set must be
      // PRESERVED (Spark asserts the runtime filter kept the layout):
      // excluded chunks empty out instead of dropping — same I/O win,
      // stable partitioning
      chunks =
        if (spjActive)
          chunks.map(c => if (t.mayMatch(c.zones)) c else c.emptied)
        else chunks.filter(c => t.mayMatch(c.zones))
      val live = chunks.count(_.rowCount > 0)
      census(ScanCensus(chunks0.length, live, totalRows,
        chunks.iterator.map(_.rowCount.toLong).sum,
        staticPushed ++ predicates.map(p => s"runtime:$p")))
    }
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(sizeBytes)
    override def numRows(): util.OptionalLong =
      util.OptionalLong.of(totalRows)
    // ANALYZE TABLE's per-column stats (ndv / nulls / lengths), mapped
    // into Catalyst ColumnStat by DataSourceV2Relation.transformV2Stats
    // — what CBO's join-cardinality and filter-selectivity estimation
    // read. Snapshot-stale by convention; only output columns report.
    override def columnStats(): util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      schema.fields.foreach { f =>
        colStats.get(f.name).foreach { vs =>
          val vNdv = vs(0); val vNulls = vs(1)
          val vAvgLen = vs(2); val vMaxLen = vs(3)
          // histogram packing (see the ANALYZE handler): entries past
          // the base four are [heightBits, minBits, maxBits, nBins,
          // (loBits, hiBits, binNdv)*] — an equi-height histogram plus
          // the min/max CBO's range estimator requires. Served only for
          // numeric columns (the estimator converts bounds through the
          // attribute's type).
          import java.lang.Double.longBitsToDouble
          val numericBound: Double => Any = f.dataType match {
            case org.apache.spark.sql.types.ByteType => d => d.toByte
            case org.apache.spark.sql.types.ShortType => d => d.toShort
            case org.apache.spark.sql.types.IntegerType => d => d.toInt
            case org.apache.spark.sql.types.LongType => d => d.toLong
            case org.apache.spark.sql.types.FloatType => d => d.toFloat
            case org.apache.spark.sql.types.DoubleType => d => d
            // histogram domain = catalyst-internal rep: DATE bounds are
            // epoch DAYS (Int), TIMESTAMP bounds epoch MICROS (Long) —
            // exactly what FilterEstimation converts literals into
            case org.apache.spark.sql.types.DateType => d => d.toInt
            case org.apache.spark.sql.types.TimestampType => d => d.toLong
            case _ => null
          }
          val hist: Option[(Double, Double,
              org.apache.spark.sql.connector.read.colstats.Histogram)] =
            if (vs.length < 8 || numericBound == null) None
            else {
              val binHeight = longBitsToDouble(vs(4))
              val colMin = longBitsToDouble(vs(5))
              val colMax = longBitsToDouble(vs(6))
              val n = vs(7).toInt
              val binArr = Array.tabulate(n) { i =>
                val b = 8 + 3 * i
                val bLo = longBitsToDouble(vs(b))
                val bHi = longBitsToDouble(vs(b + 1))
                val bNdv = vs(b + 2)
                new org.apache.spark.sql.connector.read.colstats
                  .HistogramBin {
                  override def lo(): Double = bLo
                  override def hi(): Double = bHi
                  override def ndv(): Long = bNdv
                }
              }
              Some((colMin, colMax,
                new org.apache.spark.sql.connector.read.colstats
                  .Histogram {
                  override def height(): Double = binHeight
                  override def bins(): Array[
                    org.apache.spark.sql.connector.read.colstats
                      .HistogramBin] = binArr
                }))
            }
          m.put(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(f.name),
            new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
              override def distinctCount(): util.OptionalLong =
                util.OptionalLong.of(vNdv)
              override def nullCount(): util.OptionalLong =
                util.OptionalLong.of(vNulls)
              override def avgLen(): util.OptionalLong =
                util.OptionalLong.of(vAvgLen)
              override def maxLen(): util.OptionalLong =
                util.OptionalLong.of(vMaxLen)
              override def min(): util.Optional[Object] =
                hist.map(h => numericBound(h._1).asInstanceOf[Object])
                  .map(util.Optional.of[Object])
                  .getOrElse(util.Optional.empty[Object]())
              override def max(): util.Optional[Object] =
                hist.map(h => numericBound(h._2).asInstanceOf[Object])
                  .map(util.Optional.of[Object])
                  .getOrElse(util.Optional.empty[Object]())
              override def histogram(): util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hist.map(h => util.Optional.of(h._3))
                  .getOrElse(util.Optional.empty())
            })
        }
      }
      m
    }
  }

  override def description(): String =
    s"GraftScan(files=${chunks.length}/${chunks0.length}, rows=$totalRows, " +
      s"sizeBytes=$sizeBytes)"

  override def planInputPartitions(): Array[InputPartition] = {
    if (spjActive) {
      // key-grouped layout: exactly ONE partition per distinct partition
      // key (HasPartitionKey), never sliced — the contract Spark's
      // storage-partitioned join aligns both sides by. Durable tables
      // ship segment REFERENCES per key (rows stream executor-side);
      // heap chunks ship rows as before
      return keyedGroups.map { case (k, g) =>
        val keyRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            k.toArray)
        val live = g.filter(_.rowCount > 0)
        if (live.nonEmpty && live.forall(
            _.lazySeg.exists(_.isInstanceOf[GraftSegmentScanPartition])))
          GraftKeyedSegmentPartition(GraftPackedSegmentPartition(
            live.map(_.lazySeg.get.asInstanceOf[GraftSegmentScanPartition])
              .toSeq), keyRow): InputPartition
        else
          GraftKeyedInputPartition(g.flatMap(_.rows), keyRow): InputPartition
      }.toArray
    }
    val cs = chunks
    val live = cs.filter(_.rowCount > 0)
    if (live.isEmpty) return Array(GraftInputPartition(Array.empty))
    // Segment chunks pack by Spark's file-source split rule
    // (FilePartition): each costs its size plus the open cost, a split
    // holds at most maxSplitBytes = min(maxPartitionBytes, max(openCost,
    // total / minPartitionNum)), filled next-fit in FILE order — no size
    // sort, so an unordered scan returns rows in file order. Nothing is
    // materialized here: the reader streams the parquet executor-side.
    // Derived and heap chunks end a run and plan as before: one
    // partition per derived file, and few big heap files split so the
    // local-mode parallelism survives compaction.
    val openCost =
      org.apache.spark.sql.internal.SQLConf.get.filesOpenCostInBytes
    lazy val maxSplit = org.apache.spark.sql.execution.datasources
      .FilePartition.maxSplitBytes(
        org.apache.spark.sql.SparkSession.active,
        live.iterator.filter(_.lazySeg.exists(
          _.isInstanceOf[GraftSegmentScanPartition]))
          .map(_.sizeBytes + openCost).sum)
    val slicesPerChunk = math.max(1, 8 / math.max(1, cs.length))
    val out = Array.newBuilder[InputPartition]
    val run = scala.collection.mutable.ArrayBuffer
      .empty[GraftSegmentScanPartition]
    var runBytes = 0L
    def closeRun(): Unit = {
      if (run.length == 1) out += run.head
      else if (run.nonEmpty) out += GraftPackedSegmentPartition(run.toList)
      run.clear(); runBytes = 0L
    }
    live.foreach { c =>
      c.lazySeg match {
        case Some(seg: GraftSegmentScanPartition) =>
          if (runBytes + c.sizeBytes > maxSplit) closeRun()
          run += seg; runBytes += c.sizeBytes + openCost
        case Some(part) => closeRun(); out += part
        case None =>
          closeRun()
          val rows = c.rows
          val slices = math.max(1, math.min(slicesPerChunk, rows.length))
          out ++= rows.grouped(math.ceil(rows.length.toDouble / slices).toInt)
            .map(GraftInputPartition.apply(_): InputPartition)
      }
    }
    closeRun()
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftPartitionReaderFactory()
}

/** The ONE reader factory for every [[GraftScanPartition]] kind:
  * row-carrying (heap files, key-grouped SPJ groups), segment-reference
  * scan partitions (executor-side parquet streaming that decodes only
  * the projected columns — every column when `_row_probe` or a
  * rewrite's group re-filter needs whole rows — and skips delete-vector
  * positions), multi-segment partitions (packed runs, and key-grouped
  * bundles, which are a packed run plus its key) read one segment after
  * another, change-feed partitions and the metadata wrapper over a
  * derived file's partition. Batch scans, the row-level rewrite and
  * streaming tails all plan through it. */
case class GraftPartitionReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it: Iterator[InternalRow] = p match {
        case s: GraftScanPartition => GraftPartitionReaderFactory.rowsOf(s)
      }
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}

object GraftPartitionReaderFactory {
  /** The rows of one partition, wherever it runs: the executor reader
    * above, a change partition's inputs and a derived file's driver
    * materialization all read through here. */
  private[sources] def rowsOf(p: GraftScanPartition): Iterator[InternalRow] =
    p match {
      case g: GraftInputPartition => g.rows.iterator
      case k: GraftKeyedInputPartition => k.rows.iterator
      case c: GraftChangeScanPartition => GraftChangeReads.rowsOf(c)
      case s: GraftSegmentScanPartition => GraftSegmentReads.rowsOf(s)
      case m: GraftPackedSegmentPartition =>
        m.segs.iterator.flatMap(GraftSegmentReads.rowsOf)
      case k: GraftKeyedSegmentPartition => rowsOf(k.packed)
      case w: GraftMetaWrapPartition =>
        // position = output ordinal of the derived rows
        val dataSchema = DataType.fromJson(w.schemaJson)
          .asInstanceOf[StructType]
        val meta = GraftTable.metaProjector(dataSchema,
          dataSchema.indices.toArray, w.metaCols, w.fid, null, null)
        rowsOf(w.inner).zipWithIndex.map { case (r, pos) => meta(r, pos) }
    }
}

/** Streaming offset of a [[GraftTable]] tail: the last commit version
  * this stream has fully delivered. -1 = nothing yet (initial-snapshot
  * mode delivers the whole table as the first batch, then tails). */
case class GraftStreamOffset(version: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** Micro-batch streaming source over a live [[GraftTable]] — the Delta
  * streaming-source read path (`spark.readStream.table(...)`), served
  * from the table's own commit log. Offsets are commit versions; batch
  * (start, end] delivers exactly the data files the commits in that
  * range APPENDED, by reference — per-batch cost tracks the new data,
  * never the table size, which is what makes a 100 TB table tailable.
  *
  * Contract (Delta's): the default initial offset delivers the CURRENT
  * snapshot as the first batch, then tails — retention-proof, since it
  * needs no retired log. `startingVersion` (an integer, or `latest` for
  * only-new-data) opts into replay from a retained commit. A commit
  * that REMOVED rows (OVERWRITE / DELETE / MERGE / UPDATE / RESTORE) is
  * a CHANGE COMMIT: the stream fails loudly unless
  * `skipChangeCommits=true`, in which case the whole commit is skipped
  * (Delta's `skipChangeCommits`). Layout commits (OPTIMIZE / ZORDER /
  * ALTER TABLE padding) record zero row changes and deliver nothing.
  * Zone tests from pushed filters prune appended files per batch;
  * delivered rows project to the stream's (possibly pruned) schema by
  * name, pre-evolution commits padding NULL for later-added columns. */
class GraftMicroBatchStream(table: GraftTable, required: StructType,
                            tests: Array[GraftDataFile => Boolean],
                            options: CaseInsensitiveStringMap,
                            changeFeed: Boolean = false,
                            testsSchema: StructType = new StructType())
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}

  // Trigger.AvailableNow: pin the end of the backlog at prepare time and
  // drain TO IT in read-limit-sized batches. Implemented natively
  // because Spark's compatibility wrapper for sources without this trait
  // ignores read limits (everything lands in one batch).
  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(table.currentVersion)

  private val skipChangeCommits: Boolean =
    options.getBoolean("skipChangeCommits", false)

  /** `maxFilesPerTrigger`: cap each micro-batch's file intake (Delta's
    * option) — backlog drains in bounded batches instead of one giant
    * catch-up batch. Offsets stay commit versions, so the cap advances
    * WHOLE commits: a batch takes commits until the next one would break
    * the budget, always at least one (progress guarantee). The initial
    * snapshot is one batch regardless (it has no sub-version offsets). */
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    }

  /** `maxBytesPerTrigger` (Delta's): cap each micro-batch's ADDED
    * bytes. Same whole-commit prefix semantics as the file cap, same
    * at-least-one progress guarantee; the two caps COMPOSE — a commit
    * admits only under both budgets. Spark has no bytes ReadLimit
    * type, so the cap rides the same ReadMaxFiles admission pass (the
    * file budget defaults to unlimited when only bytes are set). */
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxBytesPerTrigger"))
      .map(GraftTable.parseByteSize(_, "maxBytesPerTrigger"))

  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger.getOrElse(Int.MaxValue))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = versionOf(start)
    val cur = availableNowTarget.getOrElse(table.currentVersion)
    limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles
          if s >= 0 =>
        var v = s
        var budget = mf.maxFiles()
        var byteBudget = maxBytesPerTrigger.getOrElse(Long.MaxValue)
        var stopped = false // offsets are a PREFIX: stop at the first
                            // commit that breaks either budget
        while (!stopped) {
          // windowed fetch: the planner touches O(admitted) entries per
          // batch, never the remaining backlog — at catch-up depth the
          // whole drain costs O(backlog) TOTAL, amortized O(1) per
          // commit (pinned by GraftStreamBacklogSpec via admissionVisits)
          val chunk = table.entriesBetweenLimited(v, cur,
            math.max(budget + 1, 16))
          if (chunk.isEmpty) stopped = true
          else {
            var i = 0
            while (i < chunk.length && !stopped) {
              val e = chunk(i)
              table.admissionVisits.incrementAndGet()
              val cost =
                // raw-CDC emptiness is O(1); a rewrite whose delta
                // happens to fully cancel counts 1, only shrinking the
                // batch
                if (changeFeed) {
                  if (e.added.isEmpty && e.removed.isEmpty) 0 else 1
                } else e.added.length
              val bcost =
                if (changeFeed)
                  e.added.iterator.map(_.sizeBytes).sum +
                    e.removed.iterator.map(_.sizeBytes).sum
                else e.added.iterator.map(_.sizeBytes).sum
              if (v == s || (cost <= budget && bcost <= byteBudget)) {
                v = e.version; budget -= cost; byteBudget -= bcost
              } else stopped = true
              i += 1
            }
          }
        }
        GraftStreamOffset(v)
      case _ => GraftStreamOffset(cur)
    }
  }

  override def reportLatestOffset(): Offset =
    GraftStreamOffset(table.currentVersion)

  override def initialOffset(): Offset =
    (Option(options.get("startingVersion")),
      Option(options.get("startingTimestamp"))) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "set either startingVersion or startingTimestamp, not both")
      case (None, None) => GraftStreamOffset(-1) // initial snapshot, tail
      case (Some("latest"), _) => GraftStreamOffset(table.currentVersion)
      case (Some(v), _) =>
        val sv = try v.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingVersion must be an integer or 'latest', got '$v'")
        }
        require(sv >= 0, s"startingVersion must be >= 0, got $sv")
        // deliver commit sv onward. Clamped at 0: offset -1 is the
        // initial-SNAPSHOT sentinel, and startingVersion=0 must REPLAY
        // the log, not deliver the current snapshot — commit 0 holds no
        // data, so replay from offset 0 ≡ replay from 0
        GraftStreamOffset(math.max(0, sv - 1))
      case (None, Some(ts)) =>
        // Delta's contract: replay from the EARLIEST commit at or after
        // the instant; a future instant means only-new-data. Parsed as
        // UTC — commit timestamps are epoch-based, never JVM-local
        val t = ts.trim
        val ldt =
          if (t.matches("\\d{4}-\\d{2}-\\d{2}"))
            java.time.LocalDate.parse(t).atStartOfDay
          else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        val micros =
          ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
        // REPLAY semantics (like startingVersion), never the -1
        // initial-snapshot sentinel: version 0 holds no data, so the
        // earliest meaningful replay point is offset 0
        GraftStreamOffset(math.max(0, table.versionAtOrAfter(micros) - 1))
    }

  override def latestOffset(): Offset = GraftStreamOffset(table.currentVersion)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toInt)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def versionOf(o: Offset): Int = o match {
    case GraftStreamOffset(v) => v
    case other => other.json().trim.toInt
  }

  /** Project one commit's rows (laid out by `from`) to the stream's
    * schema by NAME; columns added after the commit read NULL. */
  private def projectTo(from: StructType, rows: Array[InternalRow])
      : Array[InternalRow] =
    if (from == required) rows
    else {
      val proj = UnsafeProjection.create(
        required.fields.toIndexedSeq.map { f =>
          FieldIds.ordinalOf(f, from) match {
            case -1 => Literal.create(null, f.dataType)
                : org.apache.spark.sql.catalyst.expressions.Expression
            case i =>
              // a historical row may hold the column's NARROW pre-widen
              // representation — cast up instead of mis-reading the slot
              val st = from.fields(i).dataType
              val ref = BoundReference(i, st, nullable = true)
              if (st == f.dataType) ref
              else org.apache.spark.sql.catalyst.expressions.Cast(
                ref, f.dataType)
          }
        })
      rows.map(r => proj(r).copy(): InternalRow)
    }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = versionOf(start)
    val e = versionOf(end)
    if (changeFeed) {
      // streaming-CDF REPLACE guard: a batch whose range touches any
      // version at or below the newest retained swap would serve
      // pre-replace preimages under disjoint field ids — refuse at
      // plan time with the startingVersion remedy (Delta's contract)
      table.lastReplaceVersion.foreach { r =>
        if (s < r) table.assertCdfRangeReadable(Some(s + 1))
      }
      // change-data-feed tail: each commit's MINIMAL row delta is the
      // batch — change commits are consumable deltas here, never errors;
      // layout commits yield nothing. Initial position replays every
      // RETAINED commit's changes (bounded by history retention).
      // Every commit plans its DERIVED partitions (the executor-side
      // multiset diff, same as the batch t$changes scan); only a stream
      // bound to a column the feed has since dropped reads the derived
      // rows on the driver and projects them by name.
      val entries =
        if (s < 0) table.entriesUpTo(e) else table.entriesBetween(s, e)
      val csch = table.changesSchema
      val projIdx = required.fields.map(f => FieldIds.ordinalOf(f, csch))
      val useDerived = projIdx.forall(_ >= 0)
      return entries.flatMap { entry =>
        table.changeFilesOf(entry).flatMap { f =>
          f.derive match {
            case Some(rcp) if useDerived =>
              Some(rcp.partition(projIdx): InputPartition)
            case _ =>
              val rows = f.rows
              if (rows.isEmpty) None
              else Some(GraftInputPartition(
                projectTo(csch, rows)): InputPartition)
          }
        }
      }.toArray
    }
    // (commit schema, file, delete vector at that state) per batch file
    val batchFiles: Seq[(StructType, GraftDataFile,
        scala.collection.immutable.BitSet)] =
      if (s < 0) {
        // initial snapshot: the complete table state at `e` — a MOR
        // table's delete vectors apply (live rows only)
        val (schema, fs, sdvs) = table.stateAt(Some(e),
          Identifier.of(Array.empty[String], table.name()))
        fs.map(f => (schema, f,
          sdvs.getOrElse(f, scala.collection.immutable.BitSet.empty)))
      } else table.entriesBetween(s, e).flatMap { entry =>
        // a REPLACE swap carries no change vectors (added/removed stay
        // empty — CDF across it is refused), so the removed-rows check
        // below cannot catch it; it must still fail the stream — the
        // stream's schema binds pre-replace field ids, and the new
        // table's files would silently project to all-NULL
        if (entry.operation == GraftTable.ReplaceOp)
          throw new IllegalStateException(
            s"${table.name()}: commit ${entry.version} REPLACEd the " +
              "table — the streaming tail's schema no longer matches " +
              "(field ids are disjoint across a replace). Restart the " +
              "stream against the replaced table.")
        // a type WIDEN likewise carries no change vectors, but a stream
        // BOUND BEFORE it types the widened column narrow — rows
        // appended after the widen carry wide values the old binding
        // cannot hold. Refuse only when this stream's bound output
        // actually disagrees (by field id) with the widen entry's
        // type: a restarted stream re-binds the wide schema and passes
        // (version offsets carry straight across the checkpoint), and a
        // stream that pruned the widened column away never cared.
        if (entry.operation == GraftTable.WidenOp) {
          val mismatch = required.fields.exists { f =>
            val o = FieldIds.ordinalOf(f, entry.schema)
            o >= 0 && entry.schema.fields(o).dataType != f.dataType
          }
          if (mismatch)
            throw new IllegalStateException(
              s"${table.name()}: commit ${entry.version} widened a " +
                "column's type — this streaming tail's schema binds " +
                "the narrow type. Restart the stream (same checkpoint).")
        }
        if (entry.removed.nonEmpty) {
          if (skipChangeCommits) Nil
          else throw new IllegalStateException(
            s"${table.name()}: commit ${entry.version} " +
              s"(${entry.operation}) removed or rewrote rows; a streaming " +
              "read tails appends only. Set skipChangeCommits=true to " +
              "skip such commits, or process changes via the t$changes " +
              "change data feed")
        } else entry.added.map(f => (entry.schema, f,
          scala.collection.immutable.BitSet.empty)) // appended files are whole
      }
    // zone tests were compiled against testsSchema's ordinals; a
    // historical file laid out under a DIFFERENT column order (a later
    // DROP COLUMN shifted ordinals) must not be tested against the
    // wrong column's zones — misaligned files are simply read (skipping
    // is an optimization; not skipping is always correct)
    def aligned(entrySchema: StructType): Boolean =
      entrySchema.fields.indices.forall(i =>
        i < testsSchema.length &&
          testsSchema.fields(i).name == entrySchema.fields(i).name)
    batchFiles
      .filter { case (schema, f, _) =>
        tests.isEmpty || !aligned(schema) || tests.forall(_(f))
      }
      .map { case (schema, f, dead) =>
        // persisted files ship segment REFERENCES (a position view with
        // its selection) — a streaming tail of a durable table moves its
        // micro-batch rows executor-side, not through the driver.
        // Projection ordinals resolve by FIELD ID against the file's own
        // layout; an unresolvable column (a column the stream's schema
        // has that this historical file cannot serve even as null) falls
        // back to the driver path, whose id-projection nulls it
        val lazyPart: Option[InputPartition] =
          if (!f.persisted) None
          else {
            val fs0 = f.segment.schema
            // a restarted (wide-bound) stream reading a PRE-WIDEN file:
            // lift the file's narrow stored types to the stream's bound
            // types (by field id) in the requested schema — the parquet
            // reader upcasts at decode, so the old segment serves wide
            // values directly
            val fs = StructType(fs0.fields.map { ff =>
              FieldIds.idOf(ff).flatMap(id =>
                required.fields.find(rf => FieldIds.idOf(rf).contains(id)))
                .filter(rf =>
                  GraftDataFile.widens(ff.dataType, rf.dataType))
                .map(rf => ff.copy(dataType = rf.dataType))
                .getOrElse(ff)
            })
            val ords = required.fields.map(rf => FieldIds.ordinalOf(rf, fs))
            if (ords.forall(_ >= 0))
              Some(GraftSegmentScanPartition.of(f, ords, dead.toArray,
                schema = fs))
            else None
          }
        lazyPart.getOrElse(GraftInputPartition(
          projectTo(schema, GraftDataFile.liveRows(f.rows, dead)))
          : InputPartition)
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftPartitionReaderFactory()
}

/** Rows ride inside the partition (driver → executor); UnsafeRow is
  * Externalizable, so this serializes in cluster mode too. */
case class GraftInputPartition(rows: Array[InternalRow])
    extends GraftScanPartition

/** Key-grouped variant for storage-partitioned joins: all rows of one
  * identity-partition key, reporting that key so Spark can align the
  * two sides of a join without shuffling either. */
case class GraftKeyedInputPartition(rows: Array[InternalRow],
                                    key: InternalRow)
    extends GraftScanPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Batch write of a [[GraftTable]]: every task runs the one
  * [[GraftSegmentDataWriter]] under a fresh [[GraftWriteSpec]], and the
  * commit adopts the tasks' messages — file refs + stats on a durable
  * table (its tasks wrote their own parquet segments, and the driver-side
  * commit is a log entry), rows on an in-JVM table (EACH TASK'S BATCH
  * BECOMES ONE DATA FILE per partition group, zone maps computed at
  * commit). `opPrefixed` marks a group-based row-level (replace-data)
  * write, whose rows arrive as `[__row_operation:int] ++ tableColumns`
  * (RowDeltaUtils contract — WRITE(5) / WRITE_WITH_METADATA(6) rows are
  * the group's surviving contents; deleted rows never arrive): the writer
  * keeps surviving rows, projected back to the table schema, so a COW
  * group rewrite streams through the tasks instead of materializing the
  * post-merge groups on the driver. The factory is a standalone
  * serializable value; the table stays driver-side. */
class GraftBatchWrite(table: GraftTable,
                      install: Array[GraftDelivery] => Unit,
                      fill: Option[GraftFillSpec] = None,
                      opPrefixed: Boolean = false)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftWriterFactory(table.writeSpec(), opPrefixed, fill)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    install(table.adoptDeliveries(messages))

  /** A failed job (or a commit whose install refused — CHECK drift,
    * write conflict) leaves only task-written segments behind; delete
    * them so aborts reclaim immediately instead of waiting for the
    * retention sweep. */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    table.discardDeliveries(messages)
}

/** Executor-side writer factory of batch and streaming writes (epoch
  * identity lives in the commit, not the writer; on a durable table the
  * epoch id joins the segment name so every epoch's files stay
  * disjoint). `opPrefixed` = the rows carry the __row_operation prefix
  * (row-level replace-data writes); a row that arrives un-prefixed
  * (numFields == schema size) passes through unchanged, guarding
  * against rewrite-rule variants that pre-project. */
case class GraftWriterFactory(spec: GraftWriteSpec,
                              opPrefixed: Boolean = false,
                              fill: Option[GraftFillSpec] = None)
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, epochId = -1L)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftSegmentDataWriter(spec, opPrefixed, partitionId, taskId,
      epochId, fill)
}

/** The `t$changes` relation as a live TABLE: batch reads serve the
  * retained change data feed (one zone-mapped file per change-carrying
  * commit, so `WHERE _commit_version BETWEEN` skips files), and
  * STREAMING reads (`spark.readStream.table("cat.ns.`t$changes`")`)
  * tail the feed itself — each commit's minimal row delta arrives as a
  * micro-batch, so change commits become consumable deltas instead of
  * stream-breakers (Delta's `readChangeFeed` streaming mode). The
  * downstream pattern this enables: incremental materialization that
  * stays correct under UPDATE/DELETE, by applying inserts positively
  * and deletes negatively. */
class GraftChangesTable(base: GraftTable) extends Table with SupportsRead
    with SupportsMetadataColumns {
  override def name(): String = base.name() + "$changes"
  override def schema(): StructType = base.changesSchema
  /** The feed serves the shared address columns too — `_file_id` names
    * the change record (derived pseudo-file) a row came from, `_row_pos`
    * its scan-relative position there (see [[GraftTable.MetaColumns]]). */
  override def metadataColumns(): Array[MetadataColumn] =
    GraftTable.MetaColumns
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(base.changesSchema,
      () => (base.changesFiles, Map.empty),
      streamSource = Some(base), streamOptions = options,
      streamChangeFeed = true, cdfBase = Some(base))
}

/** Frozen read-only view of one commit in a [[GraftTable]]'s history —
  * what `VERSION AS OF n` / `TIMESTAMP AS OF ts` resolve to. Pruned,
  * zone-skipped reads reuse the live table's scan builder; there is no
  * write surface at all, so a DML statement against a snapshot fails at
  * analysis. */
class GraftSnapshotTable(snapName: String, snapSchema: StructType,
                         snapFiles: Vector[GraftDataFile],
                         snapPartitionCols: Seq[String] = Nil,
                         snapDvs: Map[GraftDataFile,
                           scala.collection.immutable.BitSet] = Map.empty)
    extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = snapName
  override def schema(): StructType = snapSchema
  /** Snapshot relations serve the same `_file_id`/`_row_pos` address
    * surface as the live table: a time-travel audit joins against the
    * version's own file census, and the CDC feed's rows say which
    * change record produced them. A tracked snapshot (row tracking
    * stamped in its schema) serves `_row_id`/`_row_commit_version`
    * too — row identity is the whole point of auditing ACROSS
    * versions (the scan reads each file's own track, so a pre-tracking
    * snapshot's rows serve NULL, never a wrong id). */
  override def metadataColumns(): Array[MetadataColumn] =
    if (GraftTable.rowTrackingStamped(snapSchema))
      GraftTable.MetaColumns ++ GraftTable.TrackMetaColumns
    else GraftTable.MetaColumns
  // the layout IN FORCE AT the snapshot's version (layoutAt) — after a
  // REPLACE or a partition-spec evolution this differs from the live
  // table's; reporting it keeps introspection honest about what the
  // snapshot's group keys mean
  override def partitioning(): Array[Transform] =
    snapPartitionCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions
        .identity(c): Transform).toArray
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(snapSchema, () => (snapFiles, snapDvs),
      partitionCols = snapPartitionCols)
}
