package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, LongType, Metadata, MetadataBuilder, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog PLUGIN — the last rung of the sources ladder: a
  * `TableCatalog` the engine mounts under
  * `spark.sql.catalog.<name> = graft.sources.MemCatalog`, after which
  * the WHOLE SQL front door drives it: CREATE TABLE / INSERT INTO /
  * DELETE FROM / TRUNCATE / ALTER RENAME / DROP all resolve through
  * this class's methods instead of the built-in session catalog. This
  * is the Spark-native re-expression of the reference's mounted
  * KV chunk store (`KeyValueStore/KeyValueStore.py:13-59` — a storage
  * service the framework addresses by name): instead of bespoke RPC
  * verbs, the storage system implements the catalog + read + write +
  * delete connector contracts and every engine feature (resolution,
  * capability checks, commit protocol, delete pushdown) applies.
  *
  * The DATA plane here is a deliberate toy — rows live in driver
  * memory, commit messages carry row payloads — because the protocol
  * is the point: at 100 TB the same class of catalog fronts manifest
  * files and object storage (Iceberg/Delta), and nothing in the
  * CONTROL flow below would change. Each session builds its own
  * catalog instance (CatalogManager is session-scoped), so gated
  * queries are rerun-safe by construction.
  *
  * DELETE is METADATA delete (`SupportsDelete`): predicates the store
  * can evaluate exactly (=, <, <=, >, >=, IN on long columns) are
  * accepted in `canDeleteWhere` and applied in `deleteWhere` without
  * a rewrite job — the Iceberg partition-drop shape; anything else is
  * refused, and the engine reports it rather than deleting wrongly. */
class MemCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with FunctionCatalog with ProcedureCatalog {
  private var catalogName: String = _
  private val tables = new ConcurrentHashMap[String, MemTable]()

  private def key(ident: Identifier): String =
    (ident.namespace :+ ident.name).mkString(".")

  /** ATOMIC CTAS/RTAS (`StagingTableCatalog`): the staged table is
    * invisible until `commitStagedChanges` — a CTAS whose write job
    * FAILS leaves no table behind (CatalogSpec pins it), vs the
    * non-atomic create-then-write path where a crash strands an empty
    * husk. The Iceberg atomicity rung. */
  private def isMor(properties: util.Map[String, String]): Boolean =
    properties.getOrDefault("mor", "false").toBoolean

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    if (tables.containsKey(key(ident)))
      throw new TableAlreadyExistsException((ident.namespace :+ ident.name).toSeq)
    // PARTITIONED BY must survive the staged path too: an atomic CTAS
    // that silently dropped the declared layout would later fail SHOW
    // PARTITIONS / dynamic overwrite with no error at create time
    new MemStagedTable(ident, new MemTable(key(ident), schema,
      isMor(properties),
      MemCatalog.partitionColsOf(schema, partitions)), this, replace = false)
  }
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable =
    new MemStagedTable(ident, new MemTable(key(ident), schema,
      isMor(properties),
      MemCatalog.partitionColsOf(schema, partitions)), this, replace = true)
  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable =
    new MemStagedTable(ident, new MemTable(key(ident), schema,
      isMor(properties),
      MemCatalog.partitionColsOf(schema, partitions)), this, replace = true)

  private[sources] def commitStaged(ident: Identifier, t: MemTable,
                                    replace: Boolean): Unit = {
    if (replace) tables.put(key(ident), t)
    else if (tables.putIfAbsent(key(ident), t) != null)
      throw new TableAlreadyExistsException((ident.namespace :+ ident.name).toSeq)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val in = tables.keySet.asScala.toArray.sorted
      .map(_.split('.'))
      .filter(_.dropRight(1).sameElements(namespace))
      .map(p => Identifier.of(p.dropRight(1), p.last))
    // namespaces exist implicitly through their tables OR explicitly
    // through the registry (CREATE NAMESPACE) — an empty listing is
    // legal for a registered-but-empty namespace, and the
    // TableCatalog contract wants NoSuchNamespaceException otherwise
    if (in.isEmpty && namespace.nonEmpty && !nsExists(namespace))
      throw new NoSuchNamespaceException(namespace.toSeq)
    in
  }

  override def loadTable(ident: Identifier): Table = {
    val t = tables.get(key(ident))
    if (t != null) return t
    // the WRITABLE BRANCH ADDRESS `ns.t.branch_<name>` (Iceberg's
    // branch-suffix convention): resolves to a table whose reads see
    // base + staged appends and whose writes APPEND to the branch
    if (ident.name.startsWith("branch_") && ident.namespace.nonEmpty) {
      val pt = tables.get(ident.namespace.mkString("."))
      val branch = ident.name.stripPrefix("branch_")
      if (pt != null && pt.hasBranch(branch))
        return new MemBranchTable(pt, branch)
    }
    throw new NoSuchTableException((ident.namespace :+ ident.name).toSeq)
  }

  /** TIME TRAVEL through the catalog (`VERSION AS OF n`): every
    * content-changing commit lands an immutable VERSION MANIFEST —
    * an array of row references, the toy-plane analogue of an Iceberg
    * snapshot's manifest list (row payloads are shared and immutable;
    * the manifest is O(rows) pointers) — and a versioned read serves
    * manifest n verbatim. Later commits, and crucially later
    * COMPACTIONS (which rewrite the live base), cannot perturb a
    * landed manifest: maintenance reorganizes the present, never the
    * past (CatalogSpec pins it). Reads use the CURRENT schema with
    * per-row layout resolution — the read-time schema-evolution
    * contract the live scan already carries. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = tables.get(key(ident))
    if (t == null) throw new NoSuchTableException((ident.namespace :+ ident.name).toSeq)
    t.atVersion(version)
  }

  /** `TIMESTAMP AS OF` — the engine hands MICROSECONDS since epoch;
    * the store resolves the LATEST manifest whose commit time is ≤
    * the asked instant (the Iceberg snapshot-log rule). Commit times
    * are recorded when manifests land; asking before the first
    * commit is an error (there was no table state to read). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = tables.get(key(ident))
    if (t == null) throw new NoSuchTableException((ident.namespace :+ ident.name).toSeq)
    t.atTimestamp(timestamp)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val t = new MemTable(key(ident), schema, isMor(properties),
      MemCatalog.partitionColsOf(schema, partitions))
    if (tables.putIfAbsent(key(ident), t) != null)
      throw new TableAlreadyExistsException((ident.namespace :+ ident.name).toSeq)
    t
  }

  /** Schema evolution WITHOUT rewrite — ALTER TABLE ADD COLUMN
    * (DEFAULT supported via [[capabilities]]): the catalog appends the
    * field to the table schema and records the column's
    * EXISTS-default; committed base rows are NEVER touched (CatalogSpec
    * pins the rewrite counter flat), and the SCAN surfaces the default
    * for legacy rows whose stored arity predates the column — the
    * Iceberg add-column contract, where 100 TB of old files never get
    * rewritten because the schema grew. Spark itself fills the
    * CURRENT-default for post-evolution INSERTs that omit the column
    * (it reads the `CURRENT_DEFAULT` field metadata this method
    * writes). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = tables.get(key(ident))
    if (t == null) throw new NoSuchTableException((ident.namespace :+ ident.name).toSeq)
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            "ADD COLUMN into nested structs not supported")
        if (add.position != null)
          throw new UnsupportedOperationException(
            "only trailing ADD COLUMN supported (legacy-row backfill is positional)")
        val dv = add.defaultValue()
        if (dv == null && !add.isNullable)
          throw new UnsupportedOperationException(
            "ADD COLUMN NOT NULL requires a DEFAULT (legacy rows need a value)")
        val meta: Metadata =
          if (dv == null) Metadata.empty
          else {
            val sql = Option(dv.getSql).getOrElse(dv.getValue.toString)
            new MetadataBuilder()
              .putString("CURRENT_DEFAULT", sql)
              .putString("EXISTS_DEFAULT", sql).build()
          }
        t.addColumn(
          StructField(add.fieldNames()(0), add.dataType, add.isNullable, meta),
          if (dv == null) null else dv.getValue.value())
      case ren: TableChange.RenameColumn =>
        if (ren.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            "RENAME inside nested structs not supported")
        t.renameColumn(ren.fieldNames()(0), ren.newName())
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames.length != 1)
          throw new UnsupportedOperationException(
            "DROP inside nested structs not supported")
        t.dropColumn(del.fieldNames()(0),
          del.ifExists != null && del.ifExists.booleanValue())
      case ac: TableChange.AddConstraint =>
        t.addConstraint(ac.constraint())
      case dc: TableChange.DropConstraint =>
        t.dropConstraint(dc.name(), dc.ifExists())
      case c =>
        throw new UnsupportedOperationException(s"ALTER change $c not supported")
    }
    t
  }

  /** Declares DEFAULT-value support so the engine routes
    * `ADD COLUMN ... DEFAULT` here instead of refusing it up front. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** The TableInfo overload is what carries CONSTRAINTS — the
    * default delegation would silently drop them. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val t = new MemTable(key(ident), info.schema(),
      isMor(info.properties),
      MemCatalog.partitionColsOf(info.schema(), info.partitions()),
      info.constraints())
    if (tables.putIfAbsent(key(ident), t) != null)
      throw new TableAlreadyExistsException((ident.namespace :+ ident.name).toSeq)
    t
  }

  override def dropTable(ident: Identifier): Boolean =
    tables.remove(key(ident)) != null

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val t = tables.get(key(oldIdent))
    if (t == null) throw new NoSuchTableException((oldIdent.namespace :+ oldIdent.name).toSeq)
    // claim the destination FIRST (putIfAbsent, commitStaged's
    // pattern): renaming onto an occupied name must throw, not
    // silently destroy that table, and the source entry stays visible
    // until the destination exists — no window where neither resolves
    if (tables.putIfAbsent(key(newIdent), t) != null)
      throw new TableAlreadyExistsException((newIdent.namespace :+ newIdent.name).toSeq)
    tables.remove(key(oldIdent))
  }

  /** V2 FUNCTION catalog — catalog-scoped SQL functions resolved
    * through the connector, the surface Iceberg uses for its bucket/
    * truncate transforms: `SELECT <catalog>.ns.hamming64(a, b)`
    * resolves here to an [[UnboundFunction]], binds against the
    * argument types, and — because the bound function exposes the
    * MAGIC `invoke(long, long)` method — the engine calls it through
    * a codegen'd static-style Invoke instead of boxing through
    * `produceResult` row-at-a-time. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "hamming64"),
      Identifier.of(namespace, "bitxor"))
  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    ident.name.toLowerCase match {
      case "hamming64" => Hamming64Fn
      case "bitxor"    => BitXorAggFn
      case _ => throw new NoSuchFunctionException(ident)
    }
  override def functionExists(ident: Identifier): Boolean =
    ident.name.equalsIgnoreCase("hamming64") ||
      ident.name.equalsIgnoreCase("bitxor")

  /** V2 PROCEDURE catalog — the MAINTENANCE-operation surface
    * (Iceberg's `CALL catalog.system.rewrite_data_files` shape):
    * `CALL <catalog>.sys.compact('ns.tbl')` resolves here through the
    * engine's procedure resolution (UnboundProcedure → bind on the
    * coerced argument row → call), and folds the named merge-on-read
    * table's delta log into its base. Maintenance as a first-class
    * catalog verb matters at 100 TB because compaction must be
    * SCHEDULED (off-peak, amortized), not implied by DML — the
    * catalog exposes the knob, the operator turns it.
    *
    * Every verb is one row of `procedureTable`, which both
    * `listProcedures` and `loadProcedure` read. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procedureTable.map(p => Identifier.of(namespace, p.name())).toArray
  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure =
    procedureTable.find(_.name().equalsIgnoreCase(ident.name))
      .getOrElse(throw new RuntimeException(
        s"procedure not found: ${key(ident)}"))

  private def tableArg(in: InternalRow): MemTable =
    tableByName(in.getUTF8String(0).toString)

  private val procedureTable: Seq[MemProcedure] = {
    import MemProcedure.summary
    val tblParam = "tbl" -> StringType
    val refParam = "name" -> StringType
    Seq(
      new MemProcedure("compact",
        "compact('ns.tbl'): fold a merge-on-read table's delta log into its base",
        Seq(tblParam), deterministic = false)({ in =>
        val (folded, baseRows) = tableArg(in).compact()
        summary("folded_deltas", "base_rows")(folded, baseRows)
      }),
      // the CDC read between two committed versions
      // ([[MemTable.changesBetween]]): one row per inserted/deleted row
      // reference per commit in (from, to], in the table's CURRENT
      // schema (per-row field-id layout resolution, like every scan)
      // plus `_change_type` and `_commit_version` — the Delta CDF
      // column convention. A procedure because the engine exposes no
      // TVF hook to V2 catalogs; it reads committed state only, so it
      // is deterministic for a fixed history and the CALL itself is
      // the gated query.
      new MemProcedure("changes",
        "changes('ns.tbl', from_v, to_v): row-level insert/delete diff " +
          "between committed versions",
        Seq(tblParam, "from_v" -> LongType, "to_v" -> LongType),
        deterministic = true)({ in =>
        val t = tableArg(in)
        val recs = t.changesBetween(in.getLong(1), in.getLong(2))
        val schema = t.schema()
        val ids = t.layoutSnapshot
        val defaults = t.defaultsSnapshot
        val outSchema = StructType(schema.fields ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_commit_version", LongType, nullable = false)))
        val outRows = recs.map { case (v, typ, mr) =>
          InternalRow.fromSeq(
            schema.fields.indices.map { j =>
              val pos = mr.layout.indexOf(ids(j))
              if (pos < 0) defaults.getOrElse(ids(j), null)
              else mr.row.get(pos, schema.fields(j).dataType)
            } ++
            Seq(org.apache.spark.unsafe.types.UTF8String.fromString(typ),
              java.lang.Long.valueOf(v)))
        }.toArray
        (outSchema, outRows)
      }),
      // VERSION RETENTION (Iceberg `expire_snapshots`, Delta VACUUM +
      // log retention): all but the newest `keep_n` version manifests
      // are dropped with their row references and commit deltas, and
      // every read that needs them (`VERSION AS OF`, `TIMESTAMP AS
      // OF`, `changes` ranges) fails loudly from then on
      // ([[MemTable.expire]]). This is what makes a takedown DELETE
      // stick: without it, purged content is one `VERSION AS OF n-1`
      // away forever.
      new MemProcedure("expire",
        "expire('ns.tbl', keep_n): drop all but the newest keep_n version " +
          "manifests; expired versions become unreadable",
        Seq(tblParam, "keep_n" -> LongType), deterministic = false)({ in =>
        val (expired, retained, firstLive) =
          tableArg(in).expire(in.getLong(1).toInt)
        summary("expired_versions", "retained_versions",
          "first_live_version")(expired, retained, firstLive)
      }),
      // NAMED VERSION REFS (Iceberg tags): an immutable pointer at a
      // committed version, readable via `VERSION AS OF 'name'` and
      // PROTECTED from retention (`expire` clamps its cut below the
      // oldest tag). The audit/rollback handle a compliance review
      // pins BEFORE a retention sweep runs.
      new MemProcedure("tag",
        "tag('ns.tbl', 'name', v): immutable named ref to version v; " +
          "tagged versions survive expire",
        Seq(tblParam, refParam, "v" -> LongType), deterministic = false)({ in =>
        summary("tagged_version")(tableArg(in)
          .createTag(in.getUTF8String(1).toString, in.getLong(2)))
      }),
      new MemProcedure("untag",
        "untag('ns.tbl', 'name'): drop a named ref; its version becomes " +
          "expirable again",
        Seq(tblParam, refParam), deterministic = false)({ in =>
        summary("untagged_version")(
          tableArg(in).dropTag(in.getUTF8String(1).toString))
      }),
      new MemProcedure("branch",
        "branch('ns.tbl', 'name'): writable branch ref at the current " +
          "head; write via ns.tbl.branch_<name>, then sys.publish",
        Seq(tblParam, refParam), deterministic = false)({ in =>
        val t = tableArg(in)
        summary("branched_at_version")(t.createBranch(
          in.getUTF8String(1).toString, t.versionCount.toLong))
      }),
      new MemProcedure("publish",
        "publish('ns.tbl', 'name'): audit the branch against the table's " +
          "CHECK constraints, then fast-forward main to it; a failing " +
          "audit refuses and leaves main untouched",
        Seq(tblParam, refParam), deterministic = false)({ in =>
        val tbl = in.getUTF8String(0).toString
        val branch = in.getUTF8String(1).toString
        val t = tableByName(tbl)
        if (!t.hasBranch(branch)) throw new IllegalArgumentException(
          s"no such branch '$branch' on $tbl")
        // THE AUDIT: every CHECK constraint must hold over the branch
        // view before main moves. Branch writes were deliberately
        // unchecked (WAP stages first); this is where the contract is
        // enforced — engine-evaluated over the branch address, so the
        // predicate semantics are exactly the write-path ones. NULL
        // passes CHECK (the SQL standard), hence the coalesce shape.
        val spark = org.apache.spark.sql.SparkSession.active
        val addr = s"${name()}.$tbl.branch_$branch"
        t.constraints().foreach {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            val bad = spark.sql(
              s"""SELECT count(*) FROM $addr
                 |WHERE coalesce(NOT (${c.predicateSql()}), false)"""
                .stripMargin).head().getLong(0)
            if (bad > 0) throw new IllegalStateException(
              s"publish '$branch': audit failed on ${c.name()} " +
                s"(${c.predicateSql()}) — $bad violating rows; " +
                "branch kept, main untouched")
          case _ => ()
        }
        val (v, n) = t.publishBranch(branch)
        summary("published_version", "rows_published")(v, n)
      }),
      new MemProcedure("rebase",
        "rebase('ns.tbl', 'name'): move a branch's base to the current " +
          "head (conflict-free for append-only staging) so a refused " +
          "fast-forward publish can retry",
        Seq(tblParam, refParam), deterministic = false)({ in =>
        summary("rebased_to_version")(
          tableArg(in).rebaseBranch(in.getUTF8String(1).toString))
      }),
      new MemProcedure("drop_branch",
        "drop_branch('ns.tbl', 'name'): discard a branch and its staged " +
          "appends (the repair verb for a failed audit)",
        Seq(tblParam, refParam), deterministic = false)({ in =>
        summary("was_based_on_version")(
          tableArg(in).dropBranch(in.getUTF8String(1).toString))
      }))
  }

  private[sources] def tableByName(name: String): MemTable = {
    val t = tables.get(name)
    if (t == null) throw new NoSuchTableException(name.split('.').toSeq)
    t
  }

  // NOT implemented: ViewCatalog. The interface ships in the 4.1 API
  // jar, but a classpath scan shows ZERO engine classes consume it —
  // ResolveSessionCatalog throws MISSING_CATALOG_ABILITY.VIEWS for
  // every non-session catalog regardless (verified empirically with
  // an implementing catalog; Iceberg wires views through its OWN
  // SQL extensions, not this engine path). An implementation would
  // be engine-unreachable dead surface; see COVERAGE.md absentees.

  // Namespace LIFECYCLE (`SupportsNamespaces`, full contract): a
  // namespace exists if explicitly REGISTERED (CREATE NAMESPACE —
  // possibly empty, with properties, the declared-ahead-of-data
  // shape) or implicitly POPULATED (a table lives under it) — the
  // same two-source existence rule as the partition registry. DROP
  // refuses a non-empty namespace without CASCADE (and with it,
  // drops the tables); properties live only on explicit entries
  // (ALTER materializes an implicit namespace into the registry).
  private val namespaces =
    new ConcurrentHashMap[String, util.Map[String, String]]()
  private def nsKey(ns: Array[String]): String = ns.mkString(".")
  private def implicitNamespaces: Set[Seq[String]] =
    tables.keySet.asScala.map(_.split('.').dropRight(1).toSeq).toSet
  private def nsExists(ns: Array[String]): Boolean =
    namespaces.containsKey(nsKey(ns)) ||
      implicitNamespaces.contains(ns.toSeq)

  override def listNamespaces(): Array[Array[String]] =
    (implicitNamespaces ++
        namespaces.keySet.asScala.map(_.split('.').toSeq))
      .toSeq.distinct.sortBy(_.mkString("."))
      .map(_.toArray).toArray
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!nsExists(namespace))
      throw new NoSuchNamespaceException(namespace.toSeq)
    // flat namespace space: no children below a concrete namespace
    Array.empty
  }
  override def namespaceExists(namespace: Array[String]): Boolean =
    nsExists(namespace)
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    Option(namespaces.get(nsKey(namespace))).getOrElse {
      if (implicitNamespaces.contains(namespace.toSeq))
        util.Collections.emptyMap()
      else throw new NoSuchNamespaceException(namespace.toSeq)
    }
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (nsExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    namespaces.put(nsKey(namespace),
      new util.HashMap[String, String](metadata))
  }
  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit = {
    if (!nsExists(namespace))
      throw new NoSuchNamespaceException(namespace.toSeq)
    // materialize an implicit namespace so its properties persist
    val props = namespaces.computeIfAbsent(nsKey(namespace),
      _ => new util.HashMap[String, String]())
    props.synchronized {
      changes.foreach {
        case s: NamespaceChange.SetProperty =>
          props.put(s.property(), s.value())
        case r: NamespaceChange.RemoveProperty =>
          props.remove(r.property())
        case c =>
          throw new UnsupportedOperationException(
            s"namespace change $c not supported")
      }
    }
  }
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!nsExists(namespace)) return false
    val owned = tables.keySet.asScala
      .filter(_.split('.').dropRight(1).sameElements(namespace)).toSeq
    if (owned.nonEmpty && !cascade)
      throw org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace, "namespace holds tables",
          None)
    owned.foreach(tables.remove)
    namespaces.remove(nsKey(namespace))
    true
  }
}

/** A table that EXISTS only to its writer until committed. */
class MemStagedTable(ident: Identifier, inner: MemTable,
                     cat: MemCatalog, replace: Boolean)
    extends StagedTable with SupportsWrite {
  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities(): util.Set[TableCapability] =
    inner.capabilities()
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit =
    cat.commitStaged(ident, inner, replace)
  override def abortStagedChanges(): Unit = ()
}

object MemTable {
  /** Driver-side observability for the spec: how DML routed. A
    * DELETE whose predicate the store can evaluate must take the
    * METADATA path (deleteWhere — no job); anything else, plus
    * UPDATE/MERGE, must take the copy-on-write REWRITE path.
    * Atomic (not volatile +=): parallel suites must not drop
    * increments, and rewrites is bumped in the COMMIT (exactly once
    * per rewrite), not in toBatch, which the engine may call more
    * than once per write. MoR tables route DML to deltaCommits
    * instead — rewrites MUST stay flat for them (CatalogSpec pins
    * it). */
  val metadataDeletes = new java.util.concurrent.atomic.AtomicInteger(0)
  val rewrites = new java.util.concurrent.atomic.AtomicInteger(0)
  val deltaCommits = new java.util.concurrent.atomic.AtomicInteger(0)
  val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
  val replaceWheres = new java.util.concurrent.atomic.AtomicInteger(0)
  val dynamicOverwrites = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Read-side partition pruning, observable: the LAST pushed-filter
    * scan build's (partition tuples in the snapshot, partition tuples
    * actually shipped to tasks). CatalogSpec pins that a
    * `WHERE day=… AND region=…` read ships ONE tuple of many. */
  val lastScanPartsTotal = new java.util.concurrent.atomic.AtomicLong(-1)
  val lastScanPartsKept = new java.util.concurrent.atomic.AtomicLong(-1)
}

object MemCatalog {
  /** Parse CREATE's PARTITIONED BY: any number of IDENTITY transforms
    * on existing BIGINT columns — real tables partition by
    * (date, region), so the layout metadata, pruning, partition DDL
    * and dynamic overwrite all carry N columns (the toy store's
    * partition currency stays BIGINT — the contract, not the type
    * width, is the point). Non-identity transforms are refused. */
  private[sources] def partitionColsOf(schema: StructType,
                                       partitions: Array[Transform])
      : Seq[String] = partitions.toSeq.map {
    case t if t.name == "identity" && t.references.length == 1 =>
      val col = t.references()(0).fieldNames.mkString(".")
      val f = schema.fields.find(_.name.equalsIgnoreCase(col)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $col not in schema"))
      if (f.dataType != LongType)
        throw new UnsupportedOperationException(
          s"mem catalog partitions only BIGINT columns, got ${f.dataType}")
      f.name
    case t => throw new UnsupportedOperationException(
      s"mem catalog supports only identity partition transforms, got $t")
  }
}

/** A stored row plus the LAYOUT it was written under: the field ids,
  * in row order, of the schema at write time. Schema evolution never
  * rewrites stored rows — scans resolve each requested field id
  * against the row's own layout (Iceberg's field-id contract: a
  * renamed column keeps its id and its data; a dropped-then-re-added
  * name gets a NEW id, so old values can never resurrect). The layout
  * array is shared per write epoch, not per row. */
case class MemRow(layout: Array[Int], row: InternalRow) extends Serializable

/** One committed merge-on-read delta record (Iceberg MoR shape):
  * base rows stay immutable; scans merge the log. */
sealed trait MemDeltaRec extends Serializable
case class MemDelRec(key: Long) extends MemDeltaRec
case class MemUpdRec(key: Long, row: MemRow) extends MemDeltaRec
case class MemInsRec(row: MemRow) extends MemDeltaRec

class MemTable(tableName: String, tableSchema: StructType,
               val mor: Boolean = false,
               val partitionCols: Seq[String] = Nil,
               initialConstraints:
                 Array[org.apache.spark.sql.connector.catalog.constraints
                   .Constraint] = Array.empty)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with TruncatableTable
    with SupportsRowLevelOperations with SupportsPartitionManagement {

  /** CHECK constraints declared at CREATE (or added by ALTER): the
    * store records them, the ENGINE enforces them — V2 writes inject
    * a validation that fails the job on the first violating row, so
    * a constrained table can never commit bad data regardless of
    * which query wrote it. Declarative table quality at the protocol
    * level, not in pipeline code. */
  @volatile private var tableConstraints = initialConstraints
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tableConstraints
  private[sources] def addConstraint(
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint)
      : Unit = tableConstraints = tableConstraints :+ c
  private[sources] def dropConstraint(name: String, ifExists: Boolean)
      : Unit = {
    if (!ifExists && !tableConstraints.exists(_.name == name))
      throw new IllegalArgumentException(
        s"no constraint $name on $tableName")
    tableConstraints = tableConstraints.filterNot(_.name == name)
  }

  /** PARTITIONED BY (identity, ...) — what makes dynamic overwrite
    * meaningful: the overwrite unit is the partition, not the table.
    * N identity columns are N transforms, in declaration order. */
  override def partitioning(): Array[Transform] =
    partitionCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c)
        : Transform)
      .toArray

  // ----- partition lifecycle DDL (SupportsPartitionManagement) -----
  // A partition EXISTS if it is explicitly registered (ADD PARTITION,
  // possibly empty — a landing slot declared ahead of its data) or
  // implicitly populated (any stored row carries its value): the Hive
  // metastore contract, where SHOW PARTITIONS is metadata truth, not
  // a data scan promise. DROP drops data + registration; TRUNCATE
  // PARTITION drops data, keeps the slot. Keys are the FULL
  // partition-value tuple (one Long per partition column).
  private val partMeta =
    new ConcurrentHashMap[Seq[Long], util.Map[String, String]]()

  private def partValue(ident: InternalRow): Seq[Long] =
    partitionCols.indices.map(ident.getLong)

  override def partitionSchema(): StructType =
    StructType(partitionCols.map(c =>
      tableSchema.fields.find(_.name.equalsIgnoreCase(c)).get))

  override def partitionExists(ident: InternalRow): Boolean = {
    val v = partValue(ident)
    partMeta.containsKey(v) || rows.synchronized {
      rows.asScala.exists(r => partitionValueOf(r) == v)
    }
  }

  override def createPartition(ident: InternalRow,
                               properties: util.Map[String, String]): Unit = {
    if (partitionExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .PartitionsAlreadyExistException(tableName, ident, partitionSchema())
    partMeta.put(partValue(ident), properties)
  }

  override def dropPartition(ident: InternalRow): Boolean = {
    val existed = partitionExists(ident)
    removePartitions(Set(partValue(ident)))
    partMeta.remove(partValue(ident))
    existed
  }

  override def truncatePartition(ident: InternalRow): Boolean = {
    if (!partitionExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(tableName, ident, partitionSchema())
    // keep the slot registered: truncation empties, never unregisters
    partMeta.putIfAbsent(partValue(ident),
      java.util.Collections.emptyMap[String, String]())
    removePartitions(Set(partValue(ident)))
    true
  }

  override def replacePartitionMetadata(
      ident: InternalRow, properties: util.Map[String, String]): Unit = {
    if (!partitionExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(tableName, ident, partitionSchema())
    partMeta.put(partValue(ident), properties)
  }

  override def loadPartitionMetadata(ident: InternalRow)
      : util.Map[String, String] =
    partMeta.getOrDefault(partValue(ident),
      java.util.Collections.emptyMap[String, String]())

  override def listPartitionIdentifiers(
      names: Array[String], ident: InternalRow): Array[InternalRow] = {
    import scala.math.Ordering.Implicits.seqOrdering
    val implicitVals = rows.synchronized {
      rows.asScala.map(partitionValueOf).toSet
    }
    val all = (implicitVals ++ partMeta.keySet.asScala).toSeq.sorted
    // PARTIAL spec (`SHOW PARTITIONS t PARTITION (p1=5)`): `names`
    // carries the specified subset of partition columns, `ident` their
    // values in the same order — a partition matches if it agrees on
    // every specified position
    val specified = names.toSeq.zipWithIndex.map { case (n, i) =>
      val pos = partitionCols.indexWhere(_.equalsIgnoreCase(n))
      // AnalysisException-family, matching the other partition-DDL
      // error paths (PartitionsAlreadyExist/NoSuchPartition) — a bad
      // spec is an analysis error, not an IllegalArgumentException
      // columnName carries ONLY the offending identifier — Spark's
      // error-class template quotes it, and getMessageParameters
      // consumers expect a clean column name, not embedded prose
      if (pos < 0)
        throw new org.apache.spark.sql.AnalysisException(
          "NON_PARTITION_COLUMN", Map("columnName" -> n))
      pos -> ident.getLong(i)
    }
    val filtered = all.filter(v => specified.forall { case (p, x) => v(p) == x })
    filtered.map(v => InternalRow.fromSeq(v): InternalRow).toArray
  }

  /** Row-level operations, two shapes:
    *
    * COPY-ON-WRITE (default) — the engine reads the affected groups
    * through the operation's scan, computes the replacement rows, and
    * writes them back through the operation's write, which REPLACES
    * the scanned content (truncate + append in one driver-side
    * commit). This table is one group (no reported partitioning), so
    * the rewrite is a full-table copy-on-write — the
    * unpartitioned-parquet shape. The op's scan deliberately
    * implements NO pushdown: pruned rows would be silently dropped by
    * the whole-table replacement. Where the predicate IS
    * store-evaluable, the engine's metadata-delete optimization
    * routes around all of this.
    *
    * MERGE-ON-READ (`TBLPROPERTIES('mor'='true')`) — the operation
    * implements [[SupportsDelta]]: the engine plans a WriteDelta that
    * hands the writer per-row delete/update/insert DELTAS keyed by
    * the row id (the first column), the commit appends them to a
    * delta LOG, and scans merge log over base — so a 1-row UPDATE
    * against a huge group commits one delta record instead of
    * rewriting the group (the Iceberg MoR shape; at 100 TB this is
    * the difference between writing bytes ∝ change and bytes ∝
    * group). Spec pins the routing via [[MemTable.deltaCommits]] vs
    * [[MemTable.rewrites]] and that base rows stay untouched. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (mor) new MemDeltaOperation(MemTable.this, info)
        else new RowLevelOperation {
          override def command(): RowLevelOperation.Command = info.command()
          override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
            new ScanBuilder {
              override def build(): Scan =
                new MemScan(snapshot(), schema(), layoutSnapshot,
                  schema(), defaultsSnapshot)
            }
          override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
            new WriteBuilder {
              override def build(): Write = new Write {
                override def toBatch: BatchWrite =
                  new MemBatchWrite(MemTable.this, truncateFirst = true,
                    rowLevel = true)
              }
            }
        }
    }
  // the toy data plane: committed BASE rows, appended under the
  // buffer lock, plus (MoR only) the committed delta log
  private val rows = new java.util.ArrayList[MemRow]()
  private val deltaLog = new java.util.ArrayList[MemDeltaRec]()
  // VERSION MANIFESTS — one immutable row-reference array per
  // content-changing commit (see MemCatalog.loadTable(ident, version)).
  // Compaction records NOTHING here: it rewrites the live base without
  // changing content, and landed manifests keep their own references.
  private val versionLog = new java.util.ArrayList[Array[MemRow]]()
  // PER-COMMIT DELTA LOG, index-aligned with versionLog: the row
  // references that ENTERED and LEFT the table view at each commit —
  // landed AT COMMIT TIME (the Delta/Iceberg change-log shape), so a
  // `table_changes` read touches only the requested commits' deltas,
  // O(changed), never re-diffing O(Σ manifest sizes). A production
  // store gets these records from the commit operation itself; this
  // toy commit path derives them from the manifest pair it already
  // holds in memory (no asymptotic cost over the snapshot() the
  // commit pays anyway) — the READ-path contract is what's real.
  // Caveat, same as the real systems': a COPY-ON-WRITE rewrite mints
  // references for every rewritten row, so ITS delta is ∝ rewrite
  // (Delta CDF without CDC files reads the rewritten files too);
  // MoR/append/metadata-delete commits log ∝ change, and the spec
  // pins that shape.
  private val changeLog =
    new java.util.ArrayList[(Array[MemRow], Array[MemRow])]()
  // wall-clock commit instants (micros), index-aligned with
  // versionLog — what TIMESTAMP AS OF resolves against
  private val versionTimes = new java.util.ArrayList[Long]()
  /** Land the CURRENT merged view as the next version manifest —
    * called at the end of every content-changing commit, under the
    * row lock (reentrant from the commit's own critical section). */
  private var lastVersionTime = 0L
  private[sources] def commitVersion(): Unit =
    rows.synchronized {
      val prev: Array[MemRow] =
        if (versionLog.isEmpty) Array.empty
        else versionLog.get(versionLog.size - 1)
      val cur = snapshot()
      // reference diff (a commit reuses every untouched row's
      // reference, so this finds exactly the touched rows); the
      // VALUE-level cancellation stays at read time — it must resolve
      // under the reader's current schema, not the commit-time one
      val prevSet = idSetOf(prev)
      val curSet = idSetOf(cur)
      changeLog.add((prev.filterNot(curSet.contains),
        cur.filterNot(prevSet.contains)))
      versionLog.add(cur)
      // strictly-increasing commit instants: max(prev+1, now) makes
      // same-millisecond commits distinguishable to TIMESTAMP AS OF
      // and keeps the recorded history monotonic even under a
      // non-monotonic wall clock (atTimestamp's last-index-<=-ts scan
      // tolerated disorder, but the recorded times were misleading)
      lastVersionTime = math.max(lastVersionTime + 1,
        System.currentTimeMillis() * 1000L)
      versionTimes.add(lastVersionTime)
    }
  private[graft] def versionCount: Int = rows.synchronized(versionLog.size)
  // VERSION RETENTION (`CALL sys.expire`): versions 1..expiredThrough
  // have been expired — their manifest and change-log slots are nulled
  // (dropping the row references, the toy analogue of deleting
  // unreferenced data files), and any read that needs them fails
  // LOUDLY (the Delta/Iceberg expire-snapshots contract: retention is
  // a compliance verb, so a resurrected read must be an error, never
  // a silent fallback to some other version).
  private var expiredThrough: Int = 0
  // NAMED REFS (Iceberg tags): immutable name → version-ordinal
  // pointers. A tagged version is retention-PROTECTED — expire clamps
  // its cut below the oldest tag (the expire_snapshots contract:
  // refs pin their snapshots), and versioned reads accept a tag name
  // wherever they accept an ordinal.
  // java.lang.Integer, NOT scala Int: `get` on a missing key must
  // return a null the lookup can see (a primitive value type would
  // silently unbox null to 0 and turn "no such tag" into "version 0")
  private val versionTags =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()
  /** Create an immutable tag at a committed, unexpired version.
    * Returns the tagged ordinal. */
  private[sources] def createTag(name: String, v: Long): Int =
    rows.synchronized {
      // atVersion parses ordinals before consulting tags, so an
      // all-numeric tag name ('2024') would be creatable yet never
      // resolvable — VERSION AS OF '2024' would silently read
      // ordinal 2024. Refuse at create time instead.
      if (scala.util.Try(name.trim.toLong).isSuccess)
        throw new IllegalArgumentException(
          s"tag '$name': all-numeric tag names are reserved for " +
            s"commit ordinals on $tableName; pick a non-numeric name")
      if (versionTags.containsKey(name))
        throw new IllegalArgumentException(
          s"tag '$name' already exists on $tableName (tags are " +
            "immutable; untag first)")
      if (v < 1 || v > versionLog.size)
        throw new IllegalArgumentException(
          s"tag '$name': version $v outside committed versions " +
            s"[1, ${versionLog.size}] of $tableName")
      if (v <= expiredThrough)
        throw new IllegalStateException(
          s"tag '$name': version $v of $tableName has been expired")
      versionTags.put(name, v.toInt)
      v.toInt
    }
  /** Drop a tag; its version becomes expirable again. Returns the
    * ordinal the tag pointed at. */
  private[sources] def dropTag(name: String): Int = rows.synchronized {
    val v = versionTags.remove(name)
    if (v == null) throw new IllegalArgumentException(
      s"no such tag '$name' on $tableName")
    v.intValue()
  }
  // WRITABLE BRANCH REFS (write-audit-publish): a branch is a named
  // ref created at a committed version whose staged appends are
  // invisible to main until `CALL sys.publish` fast-forwards it —
  // the other half of the Iceberg refs contract begun by tags
  // (ref: mapReduceGCP keeps no version chain at all; this is the
  // lakehouse-maturity surface a production ingest workflow needs).
  // Branch writes are deliberately UNCHECKED (the WAP point: stage
  // first, audit the staged state, publish only what passes); the
  // CHECK-constraint audit runs engine-side in the `publish` verb.
  private final class BranchState(val baseV: Int) {
    val pending = new java.util.ArrayList[MemRow]()
  }
  private val branchRefs =
    new java.util.concurrent.ConcurrentHashMap[String, BranchState]()
  private[sources] def createBranch(name: String, v: Long): Int =
    rows.synchronized {
      // same reservation as tags: ordinals parse first in atVersion
      if (scala.util.Try(name.trim.toLong).isSuccess)
        throw new IllegalArgumentException(
          s"branch '$name': all-numeric ref names are reserved for " +
            s"commit ordinals on $tableName")
      if (versionTags.containsKey(name) || branchRefs.containsKey(name))
        throw new IllegalArgumentException(
          s"ref '$name' already exists on $tableName")
      if (v < 1 || v > versionLog.size)
        throw new IllegalArgumentException(
          s"branch '$name': version $v outside committed versions " +
            s"[1, ${versionLog.size}] of $tableName")
      if (v <= expiredThrough)
        throw new IllegalStateException(
          s"branch '$name': version $v of $tableName has been expired")
      branchRefs.put(name, new BranchState(v.toInt))
      v.toInt
    }
  /** Drop a branch and its staged appends (the WAP repair verb for a
    * failed audit). Returns the base version it pointed at. */
  private[sources] def dropBranch(name: String): Int = rows.synchronized {
    val b = branchRefs.remove(name)
    if (b == null) throw new IllegalArgumentException(
      s"no such branch '$name' on $tableName")
    b.baseV
  }
  private def branchOrThrow(name: String): BranchState = {
    val b = branchRefs.get(name)
    if (b == null) throw new IllegalArgumentException(
      s"no such branch '$name' on $tableName")
    b
  }
  private[sources] def hasBranch(name: String): Boolean =
    branchRefs.containsKey(name)
  /** The branch view: base manifest + staged appends, in order. */
  private[sources] def branchManifest(name: String): Array[MemRow] =
    rows.synchronized {
      val b = branchOrThrow(name)
      import scala.jdk.CollectionConverters._
      versionLog.get(b.baseV - 1) ++ b.pending.asScala
    }
  /** Stage an append on the branch — main's manifests are untouched
    * and no version lands (publish commits the whole batch as ONE
    * version, the WAP commit grain). */
  private[sources] def branchAppend(name: String,
                                    batch: Seq[InternalRow]): Unit =
    rows.synchronized {
      val b = branchOrThrow(name)
      val layout = curLayout
      batch.foreach(r => b.pending.add(MemRow(layout, r)))
    }
  /** REBASE a branch onto the current head — the recovery verb for a
    * refused fast-forward. Append-only branches rebase WITHOUT
    * conflicts by construction: staged rows reference no base state,
    * so moving the base replays them unchanged over whatever main
    * now holds (the property a general merge cannot promise). Returns
    * the new base version. */
  private[sources] def rebaseBranch(name: String): Int =
    rows.synchronized {
      val b = branchOrThrow(name)
      val nb = new BranchState(versionLog.size)
      nb.pending.addAll(b.pending)
      branchRefs.put(name, nb)
      versionLog.size
    }

  /** FAST-FORWARD main to the branch: refuses unless main's head is
    * still the branch base (the Iceberg fast_forward contract — a
    * diverged main needs [[rebaseBranch]] first; appends-only staging
    * makes that always safe); commits the staged appends as ONE new
    * version and drops the branch. The caller (the `publish` verb) has
    * already audited. Returns (published version, rows published). */
  private[sources] def publishBranch(name: String): (Int, Int) =
    rows.synchronized {
      val b = branchOrThrow(name)
      if (versionLog.size != b.baseV)
        throw new IllegalStateException(
          s"publish '$name': main of $tableName advanced to version " +
            s"${versionLog.size} past branch base ${b.baseV}; " +
            "not a fast-forward")
      import scala.jdk.CollectionConverters._
      val n = b.pending.size
      b.pending.asScala.foreach(rows.add)
      commitVersion()
      branchRefs.remove(name)
      (versionLog.size, n)
    }

  /** Expire all but the newest `keepN` version manifests. Refuses to
    * break the live chain (`keepN >= 1`), never expires a TAGGED
    * version (the cut clamps below the oldest tag), and is
    * idempotent/monotonic: re-expiring with a larger keepN never
    * un-expires. Returns (newly expired, retained, first live
    * version). */
  private[sources] def expire(keepN: Int): (Int, Int, Int) =
    rows.synchronized {
      if (keepN < 1) throw new IllegalArgumentException(
        s"expire must retain at least the live version of $tableName " +
          s"(keep_n >= 1, got $keepN)")
      if (versionLog.isEmpty) throw new IllegalStateException(
        s"$tableName has no committed versions to expire")
      val total = versionLog.size
      val wanted = math.max(expiredThrough, total - keepN)
      // a tagged version (and everything after it — ordinal holes
      // would renumber nothing but complicate the chain contract)
      // survives retention
      val oldestTag = {
        var m = Int.MaxValue
        versionTags.values.forEach(v => m = math.min(m, v))
        // a branch's base manifest must survive too: its view is
        // base + staged appends, and expiring the base would orphan
        // every unpublished write on it
        branchRefs.values.forEach(b => m = math.min(m, b.baseV))
        m
      }
      val cut = math.min(wanted, oldestTag - 1)
      val newly = cut - expiredThrough
      // null the slots (ordinals must stay stable — an expired
      // version is an ERROR, not a renumbering) so the manifests'
      // row references and the commits' delta pre-images are
      // unreachable and collectable
      for (i <- expiredThrough until cut) {
        versionLog.set(i, null)
        changeLog.set(i, null)
      }
      expiredThrough = cut
      (newly, total - cut, cut + 1)
    }
  private[graft] def expiredVersionCount: Int =
    rows.synchronized(expiredThrough)
  /** The read-only table view serving version manifest `version` —
    * a 1-based commit ordinal (the store's snapshot-id scheme) or a
    * TAG name ([[createTag]]). */
  private[sources] def atVersion(version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        val tagged = versionTags.get(version)
        // IllegalState, not IllegalArgument: the engine's relation
        // resolution swallows some exception types from loadTable
        // into a generic TABLE_OR_VIEW_NOT_FOUND (observed on
        // Spark 4.1); ISE propagates raw, keeping the refusal loud
        // and attributable (the retention errors' contract)
        if (tagged == null) {
          // a branch name is a named ref too (Iceberg: VERSION AS OF
          // resolves branches): serve base + staged appends read-only
          if (hasBranch(version))
            return new MemVersionTable(s"$tableName@branch_$version",
              branchManifest(version), effectiveSchema, layoutSnapshot,
              defaultsSnapshot)
          throw new IllegalStateException(
            s"version must be a commit ordinal or a tag name; " +
              s"'$version' is neither on $tableName")
        }
        tagged.longValue()
    }
    val manifest = rows.synchronized {
      if (v < 1 || v > versionLog.size)
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchTableException(Seq(tableName, s"version $v of " +
            s"${versionLog.size}"))
      if (v <= expiredThrough)
        throw new IllegalStateException(
          s"version $v of $tableName has been expired (retention keeps " +
            s"versions ${expiredThrough + 1}..${versionLog.size})")
      versionLog.get(v.toInt - 1)
    }
    new MemVersionTable(s"$tableName@v$v", manifest, effectiveSchema,
      layoutSnapshot, defaultsSnapshot)
  }
  /** Reference-identity set of a manifest — the diff primitive shared
    * by the commit-time delta landing and nothing else (reads consume
    * the landed deltas). */
  private def idSetOf(a: Array[MemRow]): java.util.Set[MemRow] = {
    val s = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[MemRow, java.lang.Boolean]())
    a.foreach(s.add); s
  }

  /** Per-commit delta sizes (deletes, inserts) — exposed so the spec
    * can pin that the landed change log is ∝ CHANGE, not ∝ table
    * (a 1-row update against a large table logs 2 records). */
  private[graft] def changeRecCounts: Seq[(Int, Int)] =
    rows.synchronized {
      import scala.jdk.CollectionConverters._
      changeLog.asScala.map(d => (d._1.length, d._2.length)).toSeq
    }

  /** Row-level CDC between two landed versions — the
    * `table_changes(from_v, to_v)` read (Delta's CDF / Iceberg's
    * changelog shape): for each commit in (fromV, toV], emit the rows
    * that ENTERED ("insert") and LEFT ("delete") the table view,
    * stamped with the commit ordinal. The read consumes the
    * PER-COMMIT DELTA LOG landed at commit time ([[commitVersion]])
    * — cost O(changed rows in range), never O(Σ manifest sizes); the
    * snapshot manifests serve time travel only. Reference-diffed
    * deltas mean an unchanged row never appears, an update surfaces
    * as delete(old) + insert(new) at its commit, and a compaction
    * between the two versions contributes NOTHING (maintenance is
    * content-neutral — the same invariant time travel pins; it calls
    * no commitVersion, so it lands no delta). MoR deltas are already
    * folded: commits land post-merge.
    *
    * The landed reference-diff finds the touched rows; a VALUE-level
    * cancellation pass at READ time (it must resolve under the
    * reader's CURRENT schema, not the commit-time one) drops
    * delete/insert pairs that are value-equal: a value-preserving
    * rewrite (UPDATE that sets a column to its existing value) mints
    * a new MemRow but is CDC-invisible under the value-multiset
    * contract — the DuckDB oracle's EXCEPT ALL replay emits nothing
    * for it, and so must we. */
  private[sources] def changesBetween(fromV: Long, toV: Long)
      : Seq[(Long, String, MemRow)] = rows.synchronized {
    if (fromV < 1 || toV < fromV || toV > changeLog.size)
      throw new IllegalArgumentException(
        s"table_changes range [$fromV, $toV] outside committed " +
          s"versions [1, ${changeLog.size}] of $tableName")
    // (fromV, toV] consumes the deltas of commits fromV+1..toV, so the
    // earliest readable baseline after an expiry is exactly
    // expiredThrough (its own delta is gone, but a baseline needs no
    // delta). A range that reaches into expired commits must fail
    // loudly — serving a partial diff would silently drop changes.
    if (fromV < expiredThrough)
      throw new IllegalStateException(
        s"table_changes range ($fromV, $toV] of $tableName covers " +
          s"expired commits (versions 1..$expiredThrough are expired; " +
          s"earliest readable baseline is $expiredThrough)")
    // a row's value tuple under the CURRENT schema (the same field-id
    // resolution every scan applies) — value identity, not reference
    // identity, decides what the CDC read emits
    val ids = layoutSnapshot
    val sch = effectiveSchema
    val defs = defaultsSnapshot
    def valKey(mr: MemRow): Seq[Any] =
      sch.fields.indices.map { j =>
        val pos = mr.layout.indexOf(ids(j))
        if (pos < 0) defs.getOrElse(ids(j), null)
        else mr.row.get(pos, sch.fields(j).dataType)
      }
    (fromV until toV).flatMap { v =>
      val (dels, inss) = changeLog.get(v.toInt)
      // cancel value-equal delete/insert pairs (multiset semantics:
      // each delete consumes at most one value-equal insert). Emitted
      // rows resolve to values anyway, so WHICH instance survives a
      // duplicate-value cancellation is unobservable.
      val insCnt = scala.collection.mutable.Map.empty[Seq[Any], Int]
      inss.foreach(r => insCnt.updateWith(valKey(r))(
        c => Some(c.getOrElse(0) + 1)))
      val cancelled = scala.collection.mutable.Map.empty[Seq[Any], Int]
      val delKept = dels.filter { r =>
        val k = valKey(r)
        val avail = insCnt.getOrElse(k, 0) - cancelled.getOrElse(k, 0)
        if (avail > 0) { cancelled.updateWith(k)(
          c => Some(c.getOrElse(0) + 1)); false }
        else true
      }
      val insKept = inss.filter { r =>
        val k = valKey(r)
        val left = cancelled.getOrElse(k, 0)
        if (left > 0) { cancelled.update(k, left - 1); false } else true
      }
      delKept.map(r => (v + 1, "delete", r)) ++
        insKept.map(r => (v + 1, "insert", r))
    }
  }

  /** Latest manifest committed at or before `tsMicros` (the Iceberg
    * snapshot-log rule); see [[MemCatalog.loadTable(ident,Long)]]. */
  private[sources] def atTimestamp(tsMicros: Long): Table =
    rows.synchronized {
      var v = 0
      for (i <- 0 until versionTimes.size)
        if (versionTimes.get(i) <= tsMicros) v = i + 1
      if (v == 0)
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchTableException(Seq(tableName,
            s"no commit at or before timestamp $tsMicros"))
      // a timestamp landing on an expired version surfaces atVersion's
      // loud retention error — never a silent snap to the first live
      // version (Iceberg: timestamps older than the oldest retained
      // snapshot are unanswerable)
      atVersion(v.toString)
    }
  // FIELD-ID schema (the Iceberg evolution model): every column gets
  // a stable id at birth; RENAME keeps the id (and therefore the
  // data), DROP retires it, a re-ADD under the same name mints a NEW
  // id — stored rows are never rewritten, scans resolve ids against
  // each row's own write-time layout, and EXISTS-defaults are keyed
  // by id
  private var colIds: Vector[Int] = tableSchema.indices.toVector
  private var colFields: Vector[StructField] = tableSchema.fields.toVector
  private var nextId: Int = tableSchema.length
  private var idDefaults: Map[Int, Any] = Map.empty
  /** The field ids of the CURRENT schema, in order (shared, immutable
    * per epoch — stamped onto every row written under it). */
  private var curLayout: Array[Int] = colIds.toArray

  private[sources] def addColumn(f: StructField, existsDefault: Any): Unit =
    rows.synchronized {
      if (colFields.exists(_.name.equalsIgnoreCase(f.name)))
        throw new IllegalArgumentException(s"column ${f.name} already exists")
      colIds :+= nextId; colFields :+= f
      idDefaults += nextId -> existsDefault
      nextId += 1
      curLayout = colIds.toArray
    }
  private[sources] def renameColumn(name: String, newName: String): Unit =
    rows.synchronized {
      val i = colFields.indexWhere(_.name.equalsIgnoreCase(name))
      if (i < 0) throw new IllegalArgumentException(s"no column $name")
      if (colFields.exists(_.name.equalsIgnoreCase(newName)))
        throw new IllegalArgumentException(s"column $newName already exists")
      // partitionCols store the create-time NAMES: renaming under one
      // would leave partitionValueOf resolving indexWhere == -1 and
      // crash every later partition operation — refuse, like the MoR
      // row-id guard in dropColumn
      if (partitionCols.exists(_.equalsIgnoreCase(name)))
        throw new UnsupportedOperationException(
          s"cannot rename the partition column $name")
      // the id — and with it the stored data — survives the rename
      colFields = colFields.updated(i, colFields(i).copy(name = newName))
    }
  private[sources] def dropColumn(name: String, ifExists: Boolean): Unit =
    rows.synchronized {
      val i = colFields.indexWhere(_.name.equalsIgnoreCase(name))
      if (i < 0) {
        if (ifExists) return
        throw new IllegalArgumentException(s"no column $name")
      }
      if (mor && i == idOrdinal)
        throw new UnsupportedOperationException(
          "cannot drop the row-id column of a merge-on-read table")
      if (partitionCols.exists(_.equalsIgnoreCase(name)))
        throw new UnsupportedOperationException(
          s"cannot drop the partition column $name")
      if (colFields.length == 1)
        throw new UnsupportedOperationException("cannot drop the last column")
      // metadata-only: the id is retired, stored values become
      // unreachable (and a later same-name ADD cannot resurrect them)
      colIds = colIds.patch(i, Nil, 1); colFields = colFields.patch(i, Nil, 1)
      curLayout = colIds.toArray
    }
  private[sources] def defaultsSnapshot: Map[Int, Any] =
    rows.synchronized(idDefaults)
  /** (field ids in schema order) under the lock — the scan's view. */
  private[sources] def layoutSnapshot: Array[Int] =
    rows.synchronized(curLayout)
  /** Ordinal of the MoR row-id column (first field, must be LONG). */
  private[sources] def idOrdinal: Int = 0
  private[graft] def baseRowCount: Int = rows.synchronized(rows.size)
  private[graft] def deltaLogSize: Int = rows.synchronized(deltaLog.size)
  private[sources] def appendDeltas(recs: Seq[MemDeltaRec]): Unit =
    rows.synchronized(recs.foreach(r => deltaLog.add(r)))
  /** Field id of the MoR row-id column (position [[idOrdinal]] of the
    * current schema — undropable on MoR tables, and renames keep the
    * id, so it is stable for the table's lifetime). */
  private def rowIdFid: Int = colIds(idOrdinal)
  private def keyOf(mr: MemRow): Long =
    mr.row.getLong(mr.layout.indexOf(rowIdFid))
  /** Scan-time view: base merged with the delta log (MoR), or the
    * base rows verbatim. LinkedHashMap keyed by row id keeps base
    * order for updated rows and appends inserts — deterministic, and
    * honest merge-on-read: the base list is never mutated by DML. */
  private[sources] def snapshot(): Array[MemRow] = rows.synchronized {
    if (!mor || deltaLog.isEmpty) rows.asScala.toArray
    else {
      val m = new java.util.LinkedHashMap[Long, MemRow]()
      rows.forEach(r => m.put(keyOf(r), r))
      deltaLog.forEach {
        case MemDelRec(k)      => m.remove(k)
        case MemUpdRec(k, row) => m.put(k, row)
        case MemInsRec(row)    => m.put(keyOf(row), row)
      }
      m.values.asScala.toArray
    }
  }
  /** MoR MAINTENANCE — fold the delta log into the base (the
    * rewrite_data_files half of the Iceberg MoR bargain): DML stays
    * cheap because commits append deltas, but every scan pays the
    * log-over-base merge until a compaction folds the log — one
    * amortized rewrite, scheduled by the operator via
    * `CALL <catalog>.sys.compact(...)`, instead of one per DML.
    * Atomic under the row lock; the merged view becomes the new base
    * (each row KEEPS its own write-time layout — compaction is a
    * data-file rewrite, not a schema migration), the log clears, and
    * scans before/after are identical by construction (the fold IS
    * `snapshot()`). No-op on an empty log. Returns
    * (deltas folded, base rows after). */
  private[sources] def compact(): (Int, Int) = rows.synchronized {
    val folded = deltaLog.size
    if (folded > 0) {
      val merged = snapshot().toSeq
      rows.clear(); merged.foreach(rows.add)
      deltaLog.clear()
      MemTable.compactions.incrementAndGet()
    }
    (folded, rows.size)
  }
  /** Run `f` under the row lock — the commit-protocol entry point for
    * multi-step mutations (remove-matching + append must be ONE
    * atomic commit: a concurrent scan's snapshot() taken between them
    * would observe the slice deleted but not yet replaced). The lock
    * is reentrant, so the helpers' own synchronized blocks nest. */
  private[sources] def withRowLock[T](f: => T): T = rows.synchronized(f)
  /** Append under the lock, stamping the CURRENT layout — the one
    * shared array per write epoch that later scans resolve against. */
  private[sources] def append(batch: Seq[InternalRow]): Unit =
    rows.synchronized {
      val layout = curLayout
      batch.foreach(r => rows.add(MemRow(layout, r)))
    }

  override def name(): String = tableName
  // a MoR table's row id must be non-null (the delta log keys on it,
  // and the engine rejects nullable row-id attributes) — the store
  // declares that contract in its schema. A def, not a val: ALTER
  // ADD/RENAME/DROP COLUMN evolve the schema in place.
  private def effectiveSchema: StructType = {
    val cur = rows.synchronized(StructType(colFields.toArray))
    if (mor)
      StructType(cur.fields.zipWithIndex.map { case (f, i) =>
        if (i == idOrdinal) f.copy(nullable = false) else f
      })
    else cur
  }
  override def schema(): StructType = effectiveSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.MICRO_BATCH_READ)

  /** STREAMING read of the commit log ([[MemChangeStream]]): `fromV` =
    * last SEEN commit ordinal (0 = nothing seen), returns the rows
    * that ENTERED at commits fromV+1..toV. REFUSES a resume whose
    * gap covers expired commits (fromV < expiredThrough — their
    * deltas are nulled): the stream must FAIL LOUDLY and demand a
    * fresh start, never silently skip the hole (the Delta/Iceberg
    * streaming-after-VACUUM contract; catalog_expire pins the batch
    * CDC twin of this refusal). Inserts-only by contract: this is
    * the append-stream shape `readStream.table` serves — the
    * row-level before/after feed is the CDC procedure's job. */
  private[sources] def streamInserts(fromV: Long, toV: Long): Array[MemRow] =
    rows.synchronized {
      if (fromV < expiredThrough)
        throw new IllegalStateException(
          s"stream resume at version $fromV of $tableName covers " +
            s"expired commits (versions 1..$expiredThrough are " +
            "expired); restart the stream from a fresh checkpoint")
      if (toV > changeLog.size || fromV < 0)
        throw new IllegalArgumentException(
          s"stream range ($fromV, $toV] outside committed versions " +
            s"[1, ${changeLog.size}] of $tableName")
      (fromV + 1 to toV).flatMap(v => changeLog.get(v.toInt - 1)._2).toArray
    }

  /** Clear base + delta log WITHOUT landing a version — the building
    * block for commits that clear-then-append atomically (their ONE
    * version lands at commit end, never the intermediate gap). */
  private[sources] def clearData(): Unit =
    rows.synchronized { rows.clear(); deltaLog.clear() }

  override def truncateTable(): Boolean = {
    // a direct TRUNCATE TABLE is its own content-changing commit
    rows.synchronized { clearData(); commitVersion() }; true
  }

  /** Exact store-side predicate evaluation for metadata delete,
    * resolved through field ids against each row's own layout.
    * [[evaluable]] guarantees the id exists in EVERY stored layout. */
  private def eval(f: Filter, mr: MemRow): Boolean = {
    def fid(a: String): Int = colIds(colFields.indexWhere(_.name == a))
    def lng(a: String): Long = mr.row.getLong(mr.layout.indexOf(fid(a)))
    def num(v: Any): Long = v match {
      case l: java.lang.Long => l
      case i: java.lang.Integer => i.toLong
    }
    f match {
      case EqualTo(a, v)            => lng(a) == num(v)
      case GreaterThan(a, v)        => lng(a) > num(v)
      case GreaterThanOrEqual(a, v) => lng(a) >= num(v)
      case LessThan(a, v)           => lng(a) < num(v)
      case LessThanOrEqual(a, v)    => lng(a) <= num(v)
      case In(a, vs)                => vs.map(num).contains(lng(a))
      case _ => throw new IllegalArgumentException(s"unevaluable $f")
    }
  }
  // The metadata-delete shortcut applies only to LONG columns whose
  // field id is present in EVERY stored row's layout: a row written
  // before the column existed holds no value for it (the scan
  // backfills the default), and a null-valued nullable add needs
  // 3-valued predicate semantics this exact evaluator deliberately
  // does not carry — those deletes route through the engine's rewrite
  // path instead.
  /** A column the exact evaluator covers: LONG-typed, field id
    * present in EVERY stored row's layout. */
  private def evaluableRef(a: String): Boolean = rows.synchronized {
    val i = colFields.indexWhere(_.name == a)
    i >= 0 && colFields(i).dataType == LongType && {
      val id = colIds(i)
      var all = true
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Array[Int], java.lang.Boolean]())
      rows.forEach { r =>
        if (seen.add(r.layout) && !r.layout.contains(id)) all = false
      }
      all
    }
  }
  private def evaluable(f: Filter): Boolean =
    f.references.forall(evaluableRef) && (f match {
      // an IN list carrying NULL needs 3-valued semantics the exact
      // evaluator deliberately does not have (num(null) would throw
      // at scan/delete time) — leave it to the engine
      case In(_, vs) => vs != null && !vs.contains(null)
      case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
           _: LessThan | _: LessThanOrEqual => true
      case _ => false
    })

  // MoR tables refuse the metadata shortcut: deleteWhere mutates the
  // BASE list, which would bypass the delta log's merge semantics —
  // their deletes route through the SupportsDelta path instead
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !mor && filters.forall(evaluable)

  /** Store-side removal under a v1 filter conjunction — the delete
    * half of REPLACE WHERE. Returns the removed-row count (the
    * write's driver-side metric). */
  private[sources] def removeWhere(filters: Array[Filter]): Int =
    rows.synchronized {
      val before = rows.size
      val keep = rows.asScala.filterNot(r => filters.forall(eval(_, r))).toSeq
      rows.clear(); keep.foreach(rows.add)
      before - keep.size
    }

  private[sources] def overwritableFilters(filters: Array[Filter]): Boolean =
    filters.forall {
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case f => evaluable(f)
    }

  /** Partition value TUPLE of a stored row (dynamic overwrite's
    * grouping key), resolved through field ids like every scan. */
  private[sources] def partitionValueOf(mr: MemRow): Seq[Long] = {
    if (partitionCols.isEmpty)
      throw new IllegalStateException("unpartitioned table")
    partitionCols.map { name =>
      val fid = colIds(colFields.indexWhere(_.name == name))
      mr.row.getLong(mr.layout.indexOf(fid))
    }
  }

  /** Remove every row whose partition tuple lands in `keys` — the
    * dynamic-overwrite delete step. Returns the removed-row count. */
  private[sources] def removePartitions(keys: Set[Seq[Long]]): Int =
    rows.synchronized {
      val before = rows.size
      val keep = rows.asScala.filterNot(r =>
        keys.contains(partitionValueOf(r))).toSeq
      rows.clear(); keep.foreach(rows.add)
      before - keep.size
    }
  override def deleteWhere(filters: Array[Filter]): Unit = {
    MemTable.metadataDeletes.incrementAndGet()
    rows.synchronized {
      val keep = rows.asScala.filterNot(r => filters.forall(eval(_, r))).toSeq
      rows.clear(); keep.foreach(rows.add)
      commitVersion()
    }
  }

  /** PARTITION PRUNING ON READS: a filter is store-evaluable for the
    * scan when every referenced column is a partition column and the
    * exact evaluator covers it — the identity-partitioned analogue of
    * a parquet table's partition-directory pruning, on ANY number of
    * partition columns (a `WHERE day=3 AND region=1` read ships one
    * (day, region) tuple's rows, never the table). Accepted filters
    * are evaluated EXACTLY ([[eval]] through field ids), so the
    * engine does not re-check them; anything else is returned as a
    * post-scan filter. At 100 TB this is the difference between a
    * point read and a table scan on every partition-keyed lookup. */
  private def partitionPushable(f: Filter): Boolean =
    f.references.nonEmpty &&
      f.references.forall(n =>
        partitionCols.exists(_.equalsIgnoreCase(n))) &&
      (evaluable(f) || (f match {
        // the engine derives IsNotNull conjuncts from every pushed
        // equality — accept them too (exact under evalScan's null
        // semantics) so a fully-pushed read leaves NO residual Filter
        case org.apache.spark.sql.sources.IsNotNull(a) => evaluableRef(a)
        case _ => false
      }))

  /** Scan-side exact evaluation: [[eval]] plus IsNotNull and SQL null
    * semantics — a comparison over a NULL slot is not-true (eval's
    * getLong would read garbage there; the DML paths never see nulls
    * because [[evaluable]] excludes IsNotNull and metadata deletes on
    * nullable-with-null data route to the rewrite path via the
    * engine's own planning, but a scan must be null-correct). */
  private[sources] def evalScan(f: Filter, mr: MemRow): Boolean = {
    def pos(a: String): Int =
      mr.layout.indexOf(colIds(colFields.indexWhere(_.name == a)))
    f match {
      case org.apache.spark.sql.sources.IsNotNull(a) =>
        !mr.row.isNullAt(pos(a))
      case _ =>
        f.references.forall(a => !mr.row.isNullAt(pos(a))) && eval(f, mr)
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      private var required = effectiveSchema
      private var pushed = Array.empty[Filter]
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        val (ours, engines) = filters.partition(partitionPushable)
        pushed = ours
        engines
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def build(): Scan = {
        val snap = snapshot()
        val data =
          if (pushed.isEmpty) snap
          else {
            val kept = snap.filter(r => pushed.forall(evalScan(_, r)))
            // observability for the pruning pin: tuples present vs
            // tuples shipped (partitionCols is non-empty whenever a
            // filter passed partitionPushable)
            MemTable.lastScanPartsTotal.set(
              snap.map(partitionValueOf).distinct.length.toLong)
            MemTable.lastScanPartsKept.set(
              kept.map(partitionValueOf).distinct.length.toLong)
            kept
          }
        val batch = new MemScan(data, effectiveSchema, layoutSnapshot,
          required, defaultsSnapshot)
        // the live scan doubles as the streaming entry point
        // (readStream.table): batch reads delegate unchanged, the
        // stream walks the commit log
        new Scan {
          override def readSchema(): StructType = batch.readSchema()
          override def toBatch: Batch = batch
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming
                .MicroBatchStream =
            new MemChangeStream(MemTable.this, required, pushed)
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate with SupportsOverwrite
        with SupportsDynamicOverwrite {
      // overwrite-by-truncate: clear atomically with the append, in
      // the driver-side commit (RTAS and INSERT OVERWRITE route here)
      private var truncateFirst = false
      // REPLACE WHERE: delete-matching + append in ONE commit
      private var owFilters: Option[Array[Filter]] = None
      // dynamic partition overwrite: replace exactly the partitions
      // the incoming batch touches, leave every other one alone
      private var dynamic = false
      override def truncate(): WriteBuilder = { truncateFirst = true; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        // MoR guard (mirrors canDeleteWhere): removeWhere mutates only
        // the BASE rows, so on a table with pending delta records the
        // overwrite would delete matching base rows and then snapshot()
        // would re-apply the stale deltas on top — overwritten rows
        // silently resurrecting. Only the AlwaysTrue path is safe (it
        // routes to truncateTable, which clears the log too).
        if (mor && !filters.forall(
            _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          throw new UnsupportedOperationException(
            "REPLACE WHERE on a merge-on-read table is not supported " +
              "(base-row removal would not see pending delta records); " +
              "compact first or use DELETE/INSERT")
        if (!overwritableFilters(filters))
          throw new UnsupportedOperationException(
            "overwrite condition not store-evaluable: " +
              filters.mkString(", "))
        if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          truncateFirst = true
        else owFilters = Some(filters.filterNot(
          _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
        this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        if (mor)
          throw new UnsupportedOperationException(
            "dynamic partition overwrite on a merge-on-read table is " +
              "not supported (base-row removal would not see pending " +
              "delta records); compact first")
        if (partitionCols.isEmpty)
          throw new UnsupportedOperationException(
            "dynamic overwrite needs a partitioned table")
        dynamic = true
        this
      }
      override def build(): Write = {
        val bw = new MemBatchWrite(MemTable.this, truncateFirst,
          rowLevel = false, overwriteFilters = owFilters,
          dynamicPartitions = dynamic)
        new Write {
          override def toBatch: BatchWrite = bw
          /** Write-side twin of the scan metrics: rows written
            * (task-reported) and rows the overwrite REMOVED
            * (driver-reported at commit) — the audit trail of a
            * REPLACE WHERE / dynamic overwrite lives on the query. */
          override def supportedCustomMetrics()
              : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
            Array(new RowsWrittenMetric, new OverwriteRemovedMetric)
          override def reportDriverMetrics()
              : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
            Array(SeqTaskMetric("graft_overwrite_removed", bw.lastRemoved))
        }
      }
    }
}

/** A read-only table view over one landed version manifest — what
  * `VERSION AS OF n` resolves to. No write/delete/DML surface at all:
  * the past is immutable by TYPE, not by convention (the engine
  * cannot even plan a write against it). Reads go through the same
  * [[MemScan]] as the live table, with the current schema and
  * field-id layout resolution. */
class MemVersionTable(versionName: String, manifest: Array[MemRow],
                      tableSchema: StructType, layout: Array[Int],
                      defaults: Map[Int, Any])
    extends Table with SupportsRead {
  override def name(): String = versionName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        new MemScan(manifest, tableSchema, layout, required, defaults)
    }
}

/** The WRITABLE BRANCH ADDRESS `ns.t.branch_<name>`: reads serve the
  * branch view (base manifest + staged appends); writes APPEND to the
  * branch staging area only — main's manifests never move until
  * `CALL sys.publish`. The table deliberately reports NO constraints:
  * WAP stages data first and audits before publishing (the engine
  * would otherwise fail the branch write itself, defeating the
  * workflow). Append-only by capability: no truncate, overwrite, or
  * row-level surface — a branch is an ingest staging area, not a
  * second live table. */
class MemBranchTable(parent: MemTable, branch: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"${parent.name()}@branch_$branch"
  override def schema(): StructType = parent.schema()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = parent.schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan =
        new MemScan(parent.branchManifest(branch), parent.schema(),
          parent.layoutSnapshot, required, parent.defaultsSnapshot)
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              i: PhysicalWriteInfo): DataWriterFactory =
            new MemWriterFactory(parent.schema(), rowLevel = false)
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            parent.branchAppend(branch, messages.toSeq.flatMap(
              _.asInstanceOf[MemRowsMsg].rows.toSeq))
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
}

/** Scan over a snapshot: rows ride the serialized partitions to the
  * tasks (the toy data plane); column pruning applies in the reader.
  * Each requested column is a FIELD ID (`fullIds` aligns with `full`),
  * resolved against every row's own write-time layout — a stored row
  * that predates the column surfaces its EXISTS-default (`defaults`,
  * keyed by id); a retired id is simply never requested again. */
class MemScan(data: Array[MemRow], full: StructType, fullIds: Array[Int],
              required: StructType,
              defaults: Map[Int, Any] = Map.empty) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val parts = math.max(1, math.min(4, data.length))
    val step = (data.length + parts - 1) / math.max(1, parts)
    if (data.isEmpty) Array(MemPartition(Array.empty))
    else data.grouped(step).map(g => MemPartition(g): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    // bind locally: the anonymous factory must not capture the scan
    // itself (Scan is not Serializable; the factory ships to tasks)
    val ids = required.fieldNames.map(n => fullIds(full.fieldIndex(n)))
    val types = required.fields.map(_.dataType)
    val defs = defaults
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rows = p.asInstanceOf[MemPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow =
            InternalRow.fromSeq(ids.indices.map { j =>
              val pos = rows(i).layout.indexOf(ids(j))
              if (pos < 0) defs.getOrElse(ids(j), null)
              else rows(i).row.get(pos, types(j))
            })
          override def close(): Unit = ()
        }
    }
  }
}

case class MemPartition(rows: Array[MemRow]) extends InputPartition

/** Offset = last seen commit ordinal; json round-trips the number. */
case class MemStreamOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = v.toString
}

/** STREAMING over the catalog table's commit log (`readStream
  * .table("cat.ns.t")`): offsets are commit ordinals, each
  * micro-batch ships the rows that ENTERED at commits (start, end]
  * (the landed per-commit deltas — cost ∝ change, never a snapshot
  * diff). The RESUME CONTRACT is the point: a checkpoint whose next
  * commit has been expired by retention fails loudly in
  * [[MemTable.streamInserts]] — silently skipping the hole would
  * serve a stream missing committed data (the Delta/Iceberg
  * stream-after-VACUUM semantics; `catalog_stream_expire` gates it).
  * Pushed filters and column pruning arrive through the same live
  * ScanBuilder as the batch path. */
class MemChangeStream(table: MemTable, required: StructType,
                      pushed: Array[Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset}
  override def initialOffset(): SOffset = MemStreamOffset(0L)
  override def latestOffset(): SOffset =
    MemStreamOffset(table.versionCount.toLong)
  override def deserializeOffset(json: String): SOffset =
    MemStreamOffset(json.toLong)
  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
  override def planInputPartitions(start: SOffset,
                                   end: SOffset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[MemStreamOffset].v
    val e0 = end.asInstanceOf[MemStreamOffset].v
    if (e0 <= s0) return Array(MemPartition(Array.empty))
    val ins = table.streamInserts(s0, e0)
    val kept = if (pushed.isEmpty) ins
               else ins.filter(r => pushed.forall(table.evalScan(_, r)))
    // split like the batch scan (≤4 partitions): a commit batch is a
    // parallel read, not a single-task funnel
    if (kept.isEmpty) return Array(MemPartition(Array.empty))
    val parts = math.max(1, math.min(4, kept.length))
    val step = (kept.length + parts - 1) / parts
    kept.grouped(step).map(g => MemPartition(g): InputPartition).toArray
  }
  // partitions are MemPartitions, so the batch reader factory (layout
  // resolution + defaults, bound to the required columns) serves the
  // stream verbatim
  override def createReaderFactory(): PartitionReaderFactory =
    new MemScan(Array.empty, table.schema(), table.layoutSnapshot,
      required, table.defaultsSnapshot).createReaderFactory()
}

class MemBatchWrite(table: MemTable, truncateFirst: Boolean = false,
                    rowLevel: Boolean = false,
                    overwriteFilters: Option[Array[Filter]] = None,
                    dynamicPartitions: Boolean = false)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new MemWriterFactory(table.schema(), rowLevel)
  /** Rows the overwrite removed at commit — the Write's driver
    * metric (reportDriverMetrics is called after the write ends). */
  @volatile private[sources] var lastRemoved = 0L

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    if (rowLevel) MemTable.rewrites.incrementAndGet()
    val incoming = messages.toSeq.flatMap(
      _.asInstanceOf[MemRowsMsg].rows.toSeq)
    // the WHOLE remove + append sequence runs under ONE row lock: a
    // concurrent scan snapshots either the pre-commit or post-commit
    // state, never the deleted-but-not-yet-replaced gap (the
    // documented REPLACE WHERE / dynamic-overwrite atomicity contract)
    table.withRowLock {
      if (truncateFirst) table.clearData()
      // REPLACE WHERE: one atomic delete-matching + append commit
      overwriteFilters.foreach { fs =>
        MemTable.replaceWheres.incrementAndGet()
        // `fs` is a non-empty conjunction of real filters BY
        // CONSTRUCTION: WriteBuilder.overwrite reroutes an
        // all-AlwaysTrue array to truncateFirst and strips AlwaysTrue
        // from every other one before setting owFilters
        lastRemoved += table.removeWhere(fs)
      }
      // dynamic overwrite: replace exactly the partitions the batch
      // touches (computed from the incoming rows, never declared)
      if (dynamicPartitions) {
        MemTable.dynamicOverwrites.incrementAndGet()
        val ords = table.partitionCols.map(table.schema().fieldIndex)
        val touched = incoming
          .map(r => ords.map(r.getLong): Seq[Long]).toSet
        lastRemoved += table.removePartitions(touched)
      }
      table.append(incoming)
      // ONE manifest per commit — the post-commit state, never the
      // cleared/removed intermediate
      table.commitVersion()
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class MemRowsMsg(rows: Array[InternalRow]) extends WriterCommitMessage

class RowsWrittenMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name: String = "graft_rows_written"
  override def description: String = "rows written to the store"
}
class OverwriteRemovedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name: String = "graft_overwrite_removed"
  override def description: String = "rows removed by the overwrite commit"
}

/** The MERGE-ON-READ row-level operation ([[SupportsDelta]]): the
  * engine projects each affected row's ROW ID (here the first
  * column) through the operation scan, computes the per-row
  * delete/update/insert actions, and hands them to [[MemDeltaWriter]]
  * as deltas — never the unaffected rows. The scan implements no
  * pushdown for the same reason as the CoW path: the engine's
  * MERGE/UPDATE plans own the matching. */
class MemDeltaOperation(table: MemTable, info: RowLevelOperationInfo)
    extends RowLevelOperation with SupportsDelta {
  override def command(): RowLevelOperation.Command = info.command()
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      table.schema().fields(table.idOrdinal).name))
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new MemScan(table.snapshot(), table.schema(), table.layoutSnapshot,
          table.schema(), table.defaultsSnapshot)
    }
  override def newWriteBuilder(winfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = new MemDeltaBatchWrite(table)
      }
    }
}

class MemDeltaBatchWrite(table: MemTable) extends DeltaBatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new MemDeltaWriterFactory(table.schema(), table.layoutSnapshot,
      table.idOrdinal)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    MemTable.deltaCommits.incrementAndGet()
    table.withRowLock {
      messages.foreach { m =>
        table.appendDeltas(m.asInstanceOf[MemDeltaMsg].recs.toSeq)
      }
      table.commitVersion()
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class MemDeltaMsg(recs: Array[MemDeltaRec]) extends WriterCommitMessage

class MemDeltaWriterFactory(schema: StructType, layout: Array[Int],
                            idOrd: Int) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new MemDeltaWriter(schema, layout, idOrd)
}

class MemDeltaWriter(schema: StructType, layout: Array[Int], idOrd: Int)
    extends DeltaWriter[InternalRow] {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[MemDeltaRec]
  // rows arrive in reused UnsafeRow buffers — copy values out, cloning
  // strings (the MemWriterFactory lesson); delta rows are stamped with
  // the CURRENT layout like any other write
  private def copyRow(r: InternalRow): MemRow =
    MemRow(layout, InternalRow.fromSeq(
      schema.fields.zipWithIndex.map { case (f, i) =>
        r.get(i, f.dataType) match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
          case v => v
        }
      }.toIndexedSeq))
  override def delete(meta: InternalRow, id: InternalRow): Unit =
    buf += MemDelRec(id.getLong(0))
  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit =
    buf += MemUpdRec(id.getLong(0), copyRow(row))
  override def insert(row: InternalRow): Unit =
    buf += MemInsRec(copyRow(row))
  override def commit(): WriterCommitMessage = MemDeltaMsg(buf.toArray)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

class MemWriterFactory(schema: StructType, rowLevel: Boolean)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      /** Spark 4.1's group-based rewrite hands writers the plan rows
        * UNPROJECTED when the operation declares no metadata columns
        * (ReplaceDataExec.writingTask falls back to the plain
        * DataWritingSparkTask) — each row arrives as
        * [__row_operation: int, data...]. Strip the leading operation
        * column on the row-level path only; strings are cloned out of
        * the reused UnsafeRow buffer. */
      private def clean(record: InternalRow): InternalRow =
        if (rowLevel && record.numFields == schema.length + 1) {
          InternalRow.fromSeq(schema.fields.zipWithIndex.map { case (f, i) =>
            record.get(i + 1, f.dataType) match {
              case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
              case v => v
            }
          }.toIndexedSeq)
        } else record.copy()
      override def write(record: InternalRow): Unit = buf += clean(record)
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        Array(SeqTaskMetric("graft_rows_written", buf.size.toLong))
      override def commit(): WriterCommitMessage = MemRowsMsg(buf.toArray)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** Catalog-registered scalar function: 64-bit Hamming distance —
  * popcount(a XOR b), the SimHash comparison kernel. The BOUND form
  * carries the MAGIC `invoke(long, long)` method, so Catalyst plans a
  * codegen'd call (no row boxing); `produceResult` stays as the
  * contract-required interpreted fallback. DuckDB replays it as
  * bit_count(xor(a, b)) — the oracle pins both paths agree. */
object Hamming64Fn
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "hamming64"
  override def description(): String =
    "hamming64(a BIGINT, b BIGINT) -> BIGINT: popcount(a XOR b)"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    if (inputType.fields.length != 2 ||
        !inputType.fields.forall(_.dataType == LongType))
      throw new UnsupportedOperationException(
        s"hamming64 expects (BIGINT, BIGINT), got $inputType")
    new Hamming64Bound
  }
}

class Hamming64Bound
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(LongType, LongType)
  override def resultType(): org.apache.spark.sql.types.DataType = LongType
  override def name(): String = "hamming64"
  override def canonicalName(): String = "graft.hamming64"
  override def isResultNullable: Boolean = false
  override def isDeterministic: Boolean = true
  /** Magic method — resolved reflectively by name+signature and
    * compiled into the generated code as a direct call. */
  def invoke(a: Long, b: Long): Long = java.lang.Long.bitCount(a ^ b).toLong
  override def produceResult(input: InternalRow): java.lang.Long =
    invoke(input.getLong(0), input.getLong(1))
}

/** Catalog-registered V2 AGGREGATE function — the other half of the
  * function-catalog surface ([[Hamming64Fn]] covers scalars):
  * `bitxor(x BIGINT)` XOR-folds a group. The engine wraps the bound
  * [[functions.AggregateFunction]] in its V2Aggregator, which is a
  * real two-phase aggregate: `update` runs map-side per partition,
  * the serialized state rides the exchange, and `merge` combines
  * partials — so a connector-supplied aggregate gets map-side
  * combine for free, exactly like a built-in (the exchange carries
  * group cardinality, not the table). XOR is associative/commutative
  * so any merge tree is exact; DuckDB replays it as `bit_xor`. */
object BitXorAggFn
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bitxor"
  override def description(): String =
    "bitxor(x BIGINT) -> BIGINT: XOR fold of the group"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    if (inputType.fields.length != 1 ||
        inputType.fields(0).dataType != LongType)
      throw new UnsupportedOperationException(
        s"bitxor expects (BIGINT), got $inputType")
    new BitXorAggBound
  }
}

class BitXorAggBound
    extends org.apache.spark.sql.connector.catalog.functions.AggregateFunction[java.lang.Long, java.lang.Long] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(LongType)
  override def resultType(): org.apache.spark.sql.types.DataType = LongType
  override def name(): String = "bitxor"
  override def canonicalName(): String = "graft.bitxor"
  override def isDeterministic: Boolean = true
  // SQL aggregate semantics: an empty (or all-null) group is NULL,
  // and null inputs are skipped — the state stays null until the
  // first non-null value folds in
  override def isResultNullable: Boolean = true
  override def newAggregationState(): java.lang.Long = null
  override def update(state: java.lang.Long, input: InternalRow): java.lang.Long =
    if (input.isNullAt(0)) state
    else java.lang.Long.valueOf(
      (if (state == null) 0L else state.longValue) ^ input.getLong(0))
  override def merge(a: java.lang.Long, b: java.lang.Long): java.lang.Long =
    if (a == null) b else if (b == null) a
    else java.lang.Long.valueOf(a.longValue ^ b.longValue)
  override def produceResult(state: java.lang.Long): java.lang.Long = state
}

/** One stored procedure of [[MemCatalog]]'s procedure table: `bind`
  * checks the coerced argument row against `params` once, at
  * analysis, and `call` hands the argument row to `run`, whose result
  * set rides a [[LocalScan]] — the engine surfaces it as the CALL's
  * result, so a maintenance verb reports what it did in-band (the
  * Iceberg procedure-result contract). `deterministic` is false for
  * every verb that mutates table state. */
class MemProcedure(verb: String, about: String,
                   params: Seq[(String, DataType)], deterministic: Boolean)(
    run: InternalRow => (StructType, Array[InternalRow]))
    extends procedures.UnboundProcedure {
  override def name(): String = verb
  override def description(): String = about
  override def bind(inputType: StructType): procedures.BoundProcedure = {
    if (inputType.fields.map(_.dataType).toSeq != params.map(_._2))
      throw new UnsupportedOperationException(
        s"$verb expects (${params.map(_._2.sql).mkString(", ")}), " +
          s"got $inputType")
    new procedures.BoundProcedure {
      override def name(): String = verb
      override def description(): String = about
      override def parameters(): Array[procedures.ProcedureParameter] =
        params.map { case (p, t) =>
          procedures.ProcedureParameter.in(p, t).build() }.toArray
      override def isDeterministic: Boolean = deterministic
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val (schema, result) = run(input)
        val out: Scan = new LocalScan {
          override def readSchema(): StructType = schema
          override def rows(): Array[InternalRow] = result
        }
        util.List.of(out).iterator()
      }
    }
  }
}

object MemProcedure {
  /** The one-row, all-BIGINT summary most verbs return. */
  def summary(cols: String*)(values: Long*): (StructType, Array[InternalRow]) =
    (StructType(cols.map(StructField(_, LongType, nullable = false))),
      Array(InternalRow.fromSeq(values)))
}
