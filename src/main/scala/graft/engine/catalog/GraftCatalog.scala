package graft.engine.catalog

import graft.engine.GraftTable
import graft.engine.format.TableLayout
import graft.engine.source.CarbonishTable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** Name-based SQL surface for carbonish tables (the reference's primary
  * user surface is its metastore-backed catalog + parser,
  * CarbonSource.scala / CarbonSpark2SqlParser.scala:75-788).
  *
  * Register with
  * {{{
  * spark.sql.catalog.graft           = graft.engine.catalog.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  * after which `CREATE TABLE graft.ns.t (...) USING carbonish`,
  * CTAS, `INSERT INTO graft.ns.t`, `SELECT ... FROM graft.ns.t` and
  * `DELETE FROM graft.ns.t WHERE ...` all work by name through
  * `spark.sql`. Layout: `<warehouse>/<namespace...>/<table>` — each
  * table directory is a normal carbonish table (usable by path too).
  *
  * Scale note: the catalog itself holds no data state — table metadata
  * stays in each table's own `_meta/` commit log, so catalog calls are
  * O(1) filesystem probes and every reader/writer still goes through
  * the same tablestatus protocol as path-addressed access.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _

  private def conf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()
  private def fs: FileSystem = warehouse.getFileSystem(conf)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"GraftCatalog requires spark.sql.catalog.$name.warehouse"))
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  override def defaultNamespace(): Array[String] = Array("default")

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)((p, n) => new Path(p, n))
  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), ident.name())
  /** External tables (CREATE TABLE … LOCATION '<path>' — reference
    * docs/ddl-of-carbondata.md:589-637): the warehouse dir holds only a
    * pointer file; data and _meta live at the external location. DROP
    * removes the pointer, never the data (hive external semantics, same
    * as the reference's external table drop). */
  private def externalPointer(p: Path): Path = new Path(p, "_external")
  private def resolvedPath(p: Path): Path =
    if (fs.exists(externalPointer(p))) {
      val in = fs.open(externalPointer(p))
      try new Path(new String(
        in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    } else p
  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(resolvedPath(p), "_meta/tablemeta.json"))

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(tablePath(ident))

  /** (path, layout, schema) of an existing table. Every catalog table
    * open passes here, and attaches graft to the session it runs in. */
  private def open(ident: Identifier): (String, TableLayout, StructType) = {
    val p = resolvedPath(tablePath(ident))
    if (!fs.exists(new Path(p, "_meta/tablemeta.json")))
      throw new NoSuchTableException(ident)
    graft.engine.GraftSession.install(SparkSession.active)
    val layout = new TableLayout(p.toString, conf)
    val schema = DataType.fromJson(layout.readTableMeta().schemaJson).asInstanceOf[StructType]
    (p.toString, layout, schema)
  }

  override def loadTable(ident: Identifier): Table = {
    val (p, _, schema) = open(ident)
    new CarbonishTable(p, schema)
  }

  /** `SELECT … FROM graft.ns.t VERSION AS OF <v>` — Spark's own time-
    * travel grammar lands here (r17): the returned table pins every
    * scan to [[TableLayout.statusAt]]'s reconstruction of commit
    * version `v`. Served under the current schema; horizon bounds per
    * statusAt. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (p, layout, schema) = open(ident)
    val v =
      try version.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"carbonish versions are commit-log numbers, got '$version'") }
    layout.statusAt(v) // fail at resolution time, not first scan
    new CarbonishTable(p, schema, asOfVersion = Some(v))
  }

  /** `… TIMESTAMP AS OF <ts>` — Spark resolves the literal in the
    * session time zone and hands MICROSECONDS since epoch; resolved to
    * the newest commit at or before it from the PERSISTED per-commit
    * `committedAt` stamps (r18; file mtimes only as the pre-stamp
    * fallback). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = resolvedPath(tablePath(ident))
    if (!fs.exists(new Path(p, "_meta/tablemeta.json")))
      throw new NoSuchTableException(ident)
    val layout = new TableLayout(p.toString, conf)
    loadTable(ident, layout.versionAtTimestamp(timestamp / 1000L).toString)
  }

  override def createTable(
      ident: Identifier,
      columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // PARTITIONED BY (c1, c2): identity transforms → hive-style partition
    // layout (per-value dirs inside each segment); bucket(n, cols) →
    // hash bucketing (Buckets.scala); other transforms have no carbonish
    // meaning
    var bucketProps = Map.empty[String, String]
    val pCols = partitions.toSeq.flatMap { t =>
      val refs = t.references()
      t match {
        case _ if t.name() == "identity" && refs.length == 1 &&
            refs(0).fieldNames().length == 1 =>
          Some(refs(0).fieldNames()(0))
        case _ if t.name() == "bucket" =>
          val n = t.arguments().collectFirst {
            case lit: org.apache.spark.sql.connector.expressions.Literal[_]
                if lit.dataType == org.apache.spark.sql.types.IntegerType =>
              lit.value.asInstanceOf[Int]
          }.getOrElse(throw new IllegalArgumentException(s"bucket transform without count: $t"))
          val cols = refs.toSeq.map { r =>
            require(r.fieldNames().length == 1, s"nested bucket column: $r")
            r.fieldNames()(0)
          }
          bucketProps = Map("bucket_columns" -> cols.mkString(","),
            "bucket_count" -> n.toString)
          None
        case _ => throw new UnsupportedOperationException(
          s"carbonish supports identity and bucket partition transforms, got $t; " +
            "for clustering use TBLPROPERTIES('sort_columns'='a,b')")
      }
    }
    val props = properties.asScala.toMap ++ bucketProps
    val sortCols = props.get("sort_columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val sortScope = props.getOrElse("sort_scope", "GLOBAL_SORT").toUpperCase
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    val userProps = props --
      Seq("sort_columns", "sort_scope", "provider", "owner", "location", "comment")
    props.get("location") match {
      case Some(loc) =>
        // external table: data lives at `loc`; the warehouse dir is a
        // pointer. Adopting an existing carbonish dir keeps its meta
        // (schema from disk wins — the reference's external table
        // likewise infers from the location).
        val locPath = new Path(loc)
        val hasMeta = fs.exists(new Path(locPath, "_meta/tablemeta.json"))
        if (!hasMeta) {
          require(columns.nonEmpty,
            s"CREATE TABLE $ident LOCATION '$loc': no carbonish table there and " +
              "no columns given — provide a schema or point at an existing table")
          GraftTable.create(SparkSession.active, loc, schema,
            sortCols, sortScope, userProps, partitionColumns = pCols)
        }
        val dir = tablePath(ident)
        fs.mkdirs(dir)
        val out = fs.create(externalPointer(dir), true)
        try out.write(loc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      case None =>
        GraftTable.create(SparkSession.active, tablePath(ident).toString, schema,
          sortCols, sortScope, userProps, partitionColumns = pCols)
    }
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = GraftTable.at(SparkSession.active, resolvedPath(tablePath(ident)).toString)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1, "nested ADD COLUMN is not supported")
        t.addColumns(Seq(org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, a.isNullable)))
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1, "nested DROP COLUMN is not supported")
        t.dropColumns(Seq(d.fieldNames.head))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1, "nested RENAME COLUMN is not supported")
        t.renameColumn(r.fieldNames.head, r.newName)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1, "nested ALTER COLUMN is not supported")
        t.changeColumnType(u.fieldNames.head, u.newDataType)
      // property changes commit together, below
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change ${other.getClass.getSimpleName}")
    }
    val set = changes.collect { case p: TableChange.SetProperty => p.property -> p.value }
    val unset = changes.collect { case p: TableChange.RemoveProperty => p.property }
    if (set.nonEmpty || unset.nonEmpty) t.alterProperties(set.toMap, unset)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val dir = tablePath(ident)
    if (fs.exists(externalPointer(dir))) fs.delete(dir, true) // pointer only; data stays
    else GraftTable.drop(SparkSession.active, dir.toString)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val dst = tablePath(newIdent)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(tablePath(oldIdent), dst))
      throw new IllegalStateException(s"rename $oldIdent -> $newIdent failed")
  }

  // ---------------------------------------------------------- functions

  /** The `bucket` transform function — resolved by Spark's
    * storage-partitioned join to check two scans' reported
    * KeyGroupedPartitionings are compatible. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (!(namespace.isEmpty || namespaceExists(namespace)))
      throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") BucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(warehouse)) return Array.empty
    fs.listStatus(warehouse)
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir)
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => namespace :+ s.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = nsPath(namespace)
      fs.exists(p) && !isTableDir(p)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    fs.mkdirs(nsPath(namespace))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) return false
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(p, true)
  }
}
