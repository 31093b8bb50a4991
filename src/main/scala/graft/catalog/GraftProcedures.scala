package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataTypes, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.{AnnIndex, NgramIndex, ScalarIndex, TextIndex, ZorderIndex}

/** SQL-surface INDEX MANAGEMENT — the reference ecosystem's index DDL
  * (create_index / optimize / list_indices) re-expressed as Spark 4 DSv2
  * procedures under the catalog's `system` namespace, so the whole index
  * lifecycle is drivable from pure SQL:
  * {{{
  *   CALL graft.system.create_index(
  *     name => 'graft.db.events_value_idx', index_type => 'btree',
  *     source => '/data/events.parquet', id_col => 'event_id',
  *     key_cols => 'value', location => '/indexes/events_value')
  *   CALL graft.system.compact_index(index => 'graft.db.events_value_idx')
  *   CALL graft.system.rebuild_index(index => 'graft.db.events_value_idx')
  *   CALL graft.system.vacuum_index(index => 'graft.db.events_value_idx')
  *   CALL graft.system.compact_table(table => 'graft.db.events',
  *     target_mb => '128', cluster_by => 'ts,value')
  * }}}
  * `index` arguments accept either a registered capability-pointer table
  * name (resolved through the catalog property, the q228/q245 device) or
  * a raw location. Families needing training artifacts (ivf/ivf_pq/
  * ivf_sq) refuse create/rebuild loudly — their builds go through the
  * Scala ensure APIs that take centroids/codebooks/ranges.
  *
  * Each procedure returns its receipt as rows (a [[LocalScan]] —
  * driver-side, metadata-sized), so `CALL` output is SELECT-able like
  * any other Spark procedure result.
  */
object GraftProcedures {

  val Namespace: Array[String] = Array("system")

  private def spark: SparkSession = SparkSession.active

  private def str(v: Any): String = v match {
    case null => null
    case s: UTF8String => s.toString
    case s => s.toString
  }

  /** A catalog table's storage location, through the DSv2 loadTable
    * properties (`SHOW TBLPROPERTIES` hides the reserved `location`
    * key, so the SQL route cannot answer this). */
  def tableLocation(tableName: String): String = {
    import scala.jdk.CollectionConverters._
    val parts = spark.sessionState.sqlParser
      .parseMultipartIdentifier(tableName)
    require(parts.length >= 2, s"need a catalog-qualified name, got " +
      tableName)
    val cat = spark.sessionState.catalogManager.catalog(parts.head)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val tbl = cat.loadTable(
      Identifier.of(parts.tail.init.toArray, parts.last))
    Option(tbl.properties().asScala.getOrElse("location", null)).getOrElse(
      throw new IllegalArgumentException(
        s"compact_table: $tableName has no location property"))
  }

  /** Table-name-or-location → location (the TVFs' resolveIdx rule). */
  private def resolveIdx(idx: String): String =
    if (AnnIndex.readManifest(idx).isDefined) idx
    else AnnIndex.resolveIndexLocation(spark, idx)

  private def localScan(schema: StructType,
      rowData: Seq[Seq[Any]]): java.util.Iterator[Scan] = {
    // distinct name from the LocalScan method — `rows` would resolve to
    // the override itself inside the anon class (infinite recursion)
    val materialized = rowData.map { cells =>
      InternalRow.fromSeq(cells.map {
        case s: String => UTF8String.fromString(s)
        case other => other
      })
    }.toArray
    java.util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = materialized
      override def readSchema(): StructType = schema
    }).iterator()
  }

  private def in(name: String): ProcedureParameter =
    ProcedureParameter.in(name, DataTypes.StringType).build()
  private def inDefault(name: String, default: String): ProcedureParameter =
    ProcedureParameter.in(name, DataTypes.StringType)
      .defaultValue(default).build()

  private abstract class GraftProcedure(procName: String,
      params: Array[ProcedureParameter], out: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    protected def run(input: InternalRow): Seq[Seq[Any]]
    /** Every procedure may move what route discovery would find, so the
      * next optimization of every session walks the catalogs again
      * ([[graft.plans.IndexRoute.catalogsChanged]]). */
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      try localScan(out, run(input))
      finally graft.plans.IndexRoute.catalogsChanged()
  }

  private val receiptSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("location", DataTypes.StringType),
    org.apache.spark.sql.types.StructField("index_type", DataTypes.StringType),
    org.apache.spark.sql.types.StructField("action", DataTypes.StringType)))

  /** Families create/rebuild can reconstruct purely from (source, cols) —
    * the same set [[AnnIndex.rebuildFromSource]] serves. */
  private def buildIndex(indexType: String, source: String, idCol: String,
      keyCols: Seq[String], location: String, buckets: Int): Boolean = {
    val src = spark.read.parquet(source)
    indexType match {
      case "btree" =>
        require(keyCols.length == 1, "btree takes one key column")
        ScalarIndex.ensureBtree(src, idCol, keyCols.head, location, source,
          nBuckets = buckets)
      case "bitmap" =>
        require(keyCols.length == 1, "bitmap takes one key column")
        ScalarIndex.ensureBitmap(src, idCol, keyCols.head, location, source)
      case "label_list" =>
        require(keyCols.length == 1, "label_list takes one array column")
        ScalarIndex.ensureLabelList(src, idCol, keyCols.head, location, source)
      case "ngram" =>
        require(keyCols.length == 1, "ngram takes one text column")
        NgramIndex.ensureNgram(src, idCol, keyCols.head, location, source,
          nBuckets = buckets)
      case "inverted" =>
        require(keyCols.length == 1, "inverted takes one text column")
        TextIndex.ensureInverted(src, idCol, keyCols.head, location, source,
          nBuckets = buckets)
      case "zorder" =>
        require(keyCols.length == 2, "zorder takes two key columns")
        ZorderIndex.ensureZorder(src, idCol, keyCols(0), keyCols(1),
          location, source, nBuckets = buckets)
      case t => throw new IllegalArgumentException(
        s"create_index: a '$t' index needs training artifacts " +
          "(centroids/codebook/ranges) — build through the Scala ensure API")
    }
  }

  private val createIndex = new GraftProcedure("create_index",
    Array(in("name"), in("index_type"), in("source"), in("id_col"),
      in("key_cols"), in("location"), inDefault("buckets", "'32'")),
    receiptSchema) {
    override protected def run(input: InternalRow): Seq[Seq[Any]] = {
      val name = str(input.getUTF8String(0))
      val indexType = str(input.getUTF8String(1))
      val source = str(input.getUTF8String(2))
      val idCol = str(input.getUTF8String(3))
      val keyCols = str(input.getUTF8String(4)).split(",").map(_.trim).toSeq
      val location = str(input.getUTF8String(5))
      val buckets = str(input.getUTF8String(6)).toInt
      val built = buildIndex(indexType, source, idCol, keyCols,
        location, buckets)
      AnnIndex.registerIndexTable(spark, name, location)
      // register the route directly as well: catalog discovery walks
      // again after this CALL, but only when it is on and `name` lives in
      // a graft catalog of this session, and this serves either way.
      // Exact families only (registerFromManifest never auto-routes the
      // approximate vector tiers); Try-guarded — a registration problem
      // must not fail the DDL that built the index.
      scala.util.Try(graft.plans.IndexRoute.registerFromManifest(location))
      Seq(Seq(location, indexType, if (built) "built" else "reused"))
    }
  }

  private val rebuildIndex = new GraftProcedure("rebuild_index",
    Array(in("index")), receiptSchema) {
    override protected def run(input: InternalRow): Seq[Seq[Any]] = {
      val loc = resolveIdx(str(input.getUTF8String(0)))
      AnnIndex.rebuildFromSource(spark, loc)
      val man = AnnIndex.readManifest(loc).get
      // a mid-session rebuild serves immediately (see create_index)
      scala.util.Try(graft.plans.IndexRoute.registerFromManifest(loc))
      Seq(Seq(loc, man.indexType, "rebuilt"))
    }
  }

  /** `CALL graft.system.refresh_index(index => …)` — the INCREMENTAL
    * maintenance verb between `rebuild_index`'s full rebuilds: after a
    * source-side DELETE (the copy-on-write mutation path), fold the
    * disappeared ids as tombstones + compaction
    * ([[ScalarIndex.refreshAfterDelete]] — narrow reads, no corpus-wide
    * sort) and re-stamp freshness; any NON-pure-delete change (inserts,
    * key updates, multiplicity drift) degrades to the full rebuild the
    * old loop used. The receipt says which leg ran. */
  private val refreshIndex = new GraftProcedure("refresh_index",
    Array(in("index")), receiptSchema) {
    override protected def run(input: InternalRow): Seq[Seq[Any]] = {
      val loc = resolveIdx(str(input.getUTF8String(0)))
      val man = AnnIndex.readManifest(loc).getOrElse(
        throw new IllegalStateException(s"no index at $loc"))
      val action =
        if (man.indexType == "btree" || man.indexType == "bitmap")
          // NonFatal, not just the proof-failure exceptions: a mid-fold
          // runtime failure (failed job during the anti-join, tombstone
          // write, compaction) leaves the index stale-by-fingerprint —
          // safe — but the documented contract is that ANY non-foldable
          // state degrades to the full rebuild, not a failed CALL
          // (ADVICE r16). The receipt still says which leg ran.
          try { ScalarIndex.refreshAfterDelete(spark, loc); "folded" }
          catch { case scala.util.control.NonFatal(_) =>
            AnnIndex.rebuildFromSource(spark, loc); "rebuilt"
          }
        else { AnnIndex.rebuildFromSource(spark, loc); "rebuilt" }
      // either leg leaves a fresh index: serve it this session
      scala.util.Try(graft.plans.IndexRoute.registerFromManifest(loc))
      Seq(Seq(loc, man.indexType, action))
    }
  }

  private val compactIndex = new GraftProcedure("compact_index",
    Array(in("index")), receiptSchema) {
    override protected def run(input: InternalRow): Seq[Seq[Any]] = {
      val loc = resolveIdx(str(input.getUTF8String(0)))
      val man = AnnIndex.readManifest(loc).getOrElse(
        throw new IllegalStateException(s"no index at $loc"))
      man.indexType match {
        case "btree" => ScalarIndex.compactBtree(spark, loc)
        case "bitmap" | "label_list" => ScalarIndex.compactBitmap(spark, loc)
        case "zorder" => ZorderIndex.compactZorder(spark, loc)
        case "ngram" => NgramIndex.compactNgram(spark, loc)
        case "inverted" => TextIndex.compactInverted(spark, loc)
        case "ivf" | "ivf_pq" | "ivf_sq" => AnnIndex.compactIvf(spark, loc)
        case t => throw new IllegalArgumentException(
          s"compact_index: unknown index type '$t' at $loc")
      }
      Seq(Seq(loc, man.indexType, "compacted"))
    }
  }

  private val vacuumIndex = new GraftProcedure("vacuum_index",
    Array(in("index"), inDefault("older_than_hours", "'24'")),
    StructType(Seq(
      org.apache.spark.sql.types.StructField("deleted",
        DataTypes.StringType)))) {
    override protected def run(input: InternalRow): Seq[Seq[Any]] = {
      val loc = resolveIdx(str(input.getUTF8String(0)))
      val hours = str(input.getUTF8String(1)).toLong
      AnnIndex.vacuumIndex(loc, olderThanMs = hours * 3600 * 1000)
        .map(Seq(_))
    }
  }

  private val describeIndex = new GraftProcedure("describe_index",
    Array(in("index")),
    StructType(Seq("location", "index_type", "metric", "nlist", "m",
      "divergent", "source_path", "source_id_col", "source_key_col")
      .map(org.apache.spark.sql.types.StructField(_, DataTypes.StringType)))) {
    override protected def run(input: InternalRow): Seq[Seq[Any]] = {
      val loc = resolveIdx(str(input.getUTF8String(0)))
      val m = AnnIndex.readManifest(loc).getOrElse(
        throw new IllegalStateException(s"no index at $loc"))
      Seq(Seq(loc, m.indexType, m.metric, m.nlist.toString, m.m.toString,
        m.divergent.toString, m.sourcePath, m.sourceIdCol, m.sourceKeyCol))
    }
  }

  /** TABLE maintenance — the lakehouse OPTIMIZE shape for graft catalog
    * tables: rewrite a table's (many small) data files into
    * `target_mb`-sized ones, optionally CLUSTERED — one `cluster_by`
    * column range-sorts the layout (downstream range filters prune at
    * the parquet rowgroup level); two columns z-order it through the
    * same Morton curve the zorder index family rides (both dimensions
    * keep locality — the Databricks OPTIMIZE ZORDER BY pairing). The
    * rewrite materializes the arranged layout into a STAGING directory
    * first, then INSERT OVERWRITEs the table from it — the overwrite
    * rides [[GraftTable]]'s truncate write (preexisting files deleted
    * at commit, catalog caches evicted), so readers see old-or-new,
    * and any index routed over the table's files declines by
    * fingerprint until `rebuild_index` (the q256 loop). At 100 TB this
    * is THE small-file story: streaming/CDC ingest leaves thousands of
    * KB-files per partition whose per-file open cost dominates scans —
    * one linear rewrite restores ~maxPartitionBytes-sized reads. */
  private val compactTable = new GraftProcedure("compact_table",
    Array(in("table"), inDefault("target_mb", "'128'"),
      inDefault("cluster_by", "''")),
    StructType(Seq("location", "files_before", "files_after", "action")
      .map(org.apache.spark.sql.types.StructField(_, DataTypes.StringType)))) {
    override protected def run(input: InternalRow): Seq[Seq[Any]] = {
      import org.apache.spark.sql.functions.{col, min, max}
      val tableName = str(input.getUTF8String(0))
      val targetMb = str(input.getUTF8String(1)).toLong
      require(targetMb >= 1, s"compact_table: target_mb >= 1, got $targetMb")
      val clusterCols = str(input.getUTF8String(2))
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val loc = tableLocation(tableName)
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      def dataFiles(): Seq[org.apache.hadoop.fs.FileStatus] = {
        val it = fs.listFiles(p, true)
        val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) {
          val f = it.next()
          val n = f.getPath.getName
          if (f.isFile && !n.startsWith("_") && !n.startsWith(".")) buf += f
        }
        buf.result()
      }
      val before = dataFiles()
      val bytes = before.map(_.getLen).sum
      val nParts = math.max(1,
        math.ceil(bytes.toDouble / (targetMb * 1024L * 1024L)).toInt)
      val src = spark.table(tableName)
      val arranged = clusterCols match {
        case Nil => src.repartition(nParts)
        case Seq(c) =>
          src.repartitionByRange(nParts, col(c)).sortWithinPartitions(col(c))
        case Seq(cx, cy) =>
          // the zorder index family's frozen-grid Morton curve, computed
          // over THIS table's ranges (one narrow agg), as a transient
          // sort key the written layout keeps but the schema drops
          val mm = src.agg(
            min(col(cx)).cast("double"), max(col(cx)).cast("double"),
            min(col(cy)).cast("double"), max(col(cy)).cast("double")).head()
          require(!mm.isNullAt(0) && !mm.isNullAt(2),
            s"compact_table: cluster_by columns $cx/$cy are all-null")
          import org.apache.spark.sql.functions.{floor, greatest, least, lit}
          def g(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
            if (hi > lo)
              least(greatest(floor((c.cast("double") - lit(lo))
                  / lit(hi - lo) * lit(65535.0)), lit(0.0)),
                lit(65535.0)).cast("long")
            else lit(0L)
          val z = graft.ops.ZOrder.zValue(
            g(col(cx), mm.getDouble(0), mm.getDouble(1)),
            g(col(cy), mm.getDouble(2), mm.getDouble(3)), 16)
          src.withColumn("__graft_z", z)
            .repartitionByRange(nParts, col("__graft_z"))
            .sortWithinPartitions(col("__graft_z"))
            .drop("__graft_z")
        case more => throw new IllegalArgumentException(
          s"compact_table: cluster_by takes 0, 1 or 2 columns, got $more")
      }
      // stripSuffix: a trailing-slash location would otherwise put the
      // staging dir INSIDE the tree the truncate-overwrite deletes at
      // commit (ADVICE r15)
      val staging = s"${loc.stripSuffix("/")}.compact-" +
        java.util.UUID.randomUUID().toString.take(8)
      try {
        arranged.write.parquet(staging)
        // explicit column list on BOTH sides: never rely on positional
        // SELECT * alignment from the staging parquet (ADVICE r15)
        val cols = src.schema.fieldNames
          .map(n => s"`$n`").mkString(", ")
        spark.sql(s"INSERT OVERWRITE $tableName ($cols) " +
          s"SELECT $cols FROM parquet.`$staging`")
      } finally
        fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      val after = dataFiles()
      Seq(Seq(loc, before.size.toString, after.size.toString, "compacted"))
    }
  }

  private val all: Map[String, UnboundProcedure] = Map(
    "create_index" -> createIndex,
    "rebuild_index" -> rebuildIndex,
    "refresh_index" -> refreshIndex,
    "compact_index" -> compactIndex,
    "vacuum_index" -> vacuumIndex,
    "describe_index" -> describeIndex,
    "compact_table" -> compactTable)

  def load(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Namespace),
      s"no procedure namespace ${ident.namespace().mkString(".")}")
    all.getOrElse(ident.name(), throw new IllegalArgumentException(
      s"no procedure ${ident.name()} — have ${all.keys.toSeq.sorted
        .mkString(", ")}"))
  }

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Namespace) || namespace.isEmpty)
      all.keys.toSeq.sorted.map(Identifier.of(Namespace, _)).toArray
    else Array.empty
}
