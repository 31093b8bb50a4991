package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, NumericType, StringType}

/** Persisted SCALAR indexes — the btree/bitmap members of the index-type
  * family, next to the vector ([[AnnIndex]]) and full-text ([[TextIndex]])
  * lifecycles. The reference's format offers scalar, full-text, and vector
  * indexes over a table; the catalog layer hands out a location pointer
  * either way (`GlueNamespace.java:257-268`), and this module is the
  * scalar pair of that story re-expressed Spark-first.
  *
  * == BTREE (range) ==
  * On-disk layout under `location`:
  * {{{
  *   postings/bkt=<n>/...  (id, key) PARTITIONED BY a range bucket — the
  *                         build is one `repartitionByRange` (the
  *                         canonical distributed sort; sampled boundaries,
  *                         no driver bottleneck), so each bucket holds a
  *                         contiguous key range
  *   zonemap/              (bkt, lo, hi, n_rows) DELTA rows — one set per
  *                         build/append; a search aggregates min(lo) /
  *                         max(hi) per bucket (≤ nBuckets rows, the only
  *                         driver-side collect, bounded by construction)
  *   boundaries/           (bkt, upper) — FROZEN at build; appends assign
  *                         rows to buckets against these uppers with a
  *                         codegen'd O(nBuckets) literal-array fold (no
  *                         join, no shuffle beyond the bucketed write)
  *   tombstones/           (id) — deletes since compaction; searches
  *                         anti-join the live view
  *   _MANIFEST.properties  type=btree/metric=range/nlist=nBuckets/
  *                         fingerprint
  * }}}
  * A range search `[lo, hi]` prunes buckets against the aggregated
  * zonemap DRIVER-SIDE, so the postings read carries a static
  * `bkt IN (...)` partition filter (the cid device): at 100 TB a selective
  * range reads ~overlapping/nBuckets of the bytes, plus the tiny zonemap.
  * The residual `key BETWEEN lo AND hi` re-applies on the pruned rows in
  * the key's NATIVE type, so sampling-nondeterministic bucket boundaries
  * never affect results — the zonemap only has to be conservative, which
  * min/max of what was actually written always is.
  *
  * == BITMAP (equality, low-cardinality) ==
  * {{{
  *   postings/k=<value>/...  (id) PARTITIONED BY the (stringified) key —
  *                           `k IN (...)` prunes to the asked-for values'
  *                           directories at file-listing time
  *   values/                 (k, n_rows) DELTA rows — per-value counts
  *   tombstones/ _MANIFEST   as above (type=bitmap, nlist=cardinality)
  * }}}
  * Build refuses high-cardinality keys (`maxCardinality`) — a bitmap over
  * a near-unique column is a full copy with no pruning story; that column
  * wants the btree.
  *
  * Shared discipline (one lifecycle contract across index families):
  * [[AnnIndex]]'s manifest codec, stat fingerprint staleness, atomic
  * staging-dir publish, `partial:` crash-safe build+append stamping,
  * tombstone DELETEs, and atomic compaction swaps.
  */
object ScalarIndex {

  // ---- shared bits -----------------------------------------------------

  private def tombstoneDir(location: String): String =
    s"$location/tombstones"

  def hasTombstones(location: String): Boolean =
    IndexFs.exists(tombstoneDir(location))

  /** DELETE ids from a scalar index (btree or bitmap) — tombstones, never
    * a postings rewrite. Unlike BM25 there are no corpus statistics to
    * adjust: delete ≡ filter on the id set, which is what the spec pins.
    * Set semantics: re-deletes land duplicate rows the search-side
    * `distinct()` folds; never-indexed ids simply never match. Stamps the
    * manifest's `divergent` flag: an index-only delete makes the live
    * view a strict subset of the source, and compaction folds the
    * tombstones away WITHOUT restoring that equality — the optimizer
    * route must keep declining until a rebuild. */
  def deleteIds(ids: DataFrame, idCol: String, location: String): Unit = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1)
      .write.mode("append").parquet(tombstoneDir(location))
    if (!man.divergent)
      AnnIndex.writeManifest(location, man.copy(divergent = true))
  }

  private def antiTombstones(rows: DataFrame, location: String): DataFrame =
    if (!hasTombstones(location)) rows
    else rows.join(
      broadcast(IndexFs.readParquet(rows.sparkSession, tombstoneDir(location))
        .select(col("id")).distinct()),
      Seq("id"), "left_anti")

  /** Commit leg of a compaction: atomically retire-and-replace the live
    * `sub` dir with its already-written `.compact.$pid` staging, rolling
    * back on failure. Every staging subtree MUST be fully written before
    * the first swap commits ([[compactBtree]]'s ordering note). */
  private[ops] def swapStaged(location: String, sub: String,
      pid: String): Unit = {
    val live = s"$location/$sub"
    val retired = s"$location/$sub.retired.$pid"
    IndexFs.renameIntoOrThrow(live, retired)
    try IndexFs.renameIntoOrThrow(s"$location/$sub.compact.$pid", live)
    catch {
      case e: Throwable =>
        IndexFs.renameIntoOrThrow(retired, live)
        throw e
    }
    AnnIndex.deleteRecursively(retired)
  }

  /** The live postings over their memoized schema. */
  private def postingsOf(spark: SparkSession, location: String): DataFrame =
    IndexFs.readParquet(spark, s"$location/postings")

  /** The btree zonemap aggregated per bucket: `(bkt, lo, hi, n)` rows,
    * ≤ nBuckets, the only driver-side collect of a search. Memoized by
    * the zonemap's listing ([[IndexFs.memoized]]): appends add files and
    * rebuilds or compactions replace them, so a warm planning reuses the
    * rows without a job and a changed index recomputes them. */
  private def zonemapBuckets(spark: SparkSession, location: String)
      : Array[Row] = {
    val dir = s"$location/zonemap"
    IndexFs.memoized(spark, dir, "zonemap-buckets") {
      IndexFs.readParquet(spark, dir).groupBy(col("bkt"))
        .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"),
          sum(col("n_rows")).as("n"))
        .select(col("bkt"), col("lo"), col("hi"), col("n"))
        .collect()
    }
  }

  /** The zonemap's bound type: a numeric DOUBLE shadow, or the native
    * date/timestamp/string key. */
  private def zonemapKeyType(spark: SparkSession, location: String)
      : DataType =
    IndexFs.parquetSchema(spark, s"$location/zonemap")("lo").dataType

  // ---- BTREE: build ----------------------------------------------------

  private def btreeRows(df: DataFrame, idCol: String, keyCol: String)
      : DataFrame =
    TextFunctions.widen(df)
      .filter(col(keyCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(keyCol).as("key"))

  /** Build (or reuse, if the source fingerprint is unchanged) a btree
    * range index at `location`. One distributed range-sort of (id, key)
    * into `nBuckets` contiguous buckets; the key keeps its NATIVE type in
    * the postings (the zonemap/boundaries store a double shadow for
    * driver-side pruning arithmetic — conservative for any integral type
    * up to 2^53, i.e. every key in scope). Null keys are not indexed (the
    * scalar-index convention: an indexed search can never return them, so
    * a query needing `key IS NULL` goes to the base table). */
  /** The double-shadow exactness domain: every int/float/double key is
    * exact in a double, and BIGINT keys are iff |key| ≤ 2^53 — beyond
    * that the zonemap/residual double compares alias. [[ensureBtree]] /
    * [[appendBtree]] enforce the bound for LongType keys (one narrow
    * min/max aggregate over the slice), so [[searchBtreeRange]]'s
    * "residual re-applies exactly" claim holds for every key the index
    * ACCEPTS, instead of silently degrading past 2^53 (ADVICE r13). */
  private val DoubleExactBound = 1L << 53

  private def requireLongKeysExact(slice: DataFrame, what: String): Unit =
    if (slice.schema("key").dataType == LongType) {
      val mm = slice.agg(min(col("key")), max(col("key"))).head()
      if (!mm.isNullAt(0))
        require(mm.getLong(0) >= -DoubleExactBound &&
            mm.getLong(1) <= DoubleExactBound,
          s"$what: BIGINT keys beyond ±2^53 alias in the btree's double " +
            s"zonemap/residual (got [${mm.getLong(0)}, ${mm.getLong(1)}]) " +
            "— rescale the key or index a narrower column")
    }

  def ensureBtree(df: DataFrame, idCol: String, keyCol: String,
      location: String, sourcePath: String, nBuckets: Int = 32,
      fingerprintOverride: Option[String] = None): Boolean = {
    require(nBuckets >= 1, s"ensureBtree: nBuckets >= 1, got $nBuckets")
    val fp = fingerprintOverride.getOrElse(
      AnnIndex.sourceFingerprint(sourcePath))
    AnnIndex.readManifest(location) match {
      // sourceRows >= 0 / filestats SETTLED (present or provably
      // declined): pre-accounting and pre-filestats manifests each
      // rebuild once so the metadata-served aggregates and the mutation
      // file pruning have what they need — and a declined-provenance
      // index is rebuilt at most once, not on every ensure (ADVICE r16)
      case Some(m) if m.fingerprint == fp && m.indexType == "btree" &&
          m.nlist == nBuckets && m.sourcePath.nonEmpty &&
          m.sourceRows >= 0 && fileStatsFresh(location) =>
        false
      case _ =>
        AnnIndex.deleteRecursively(location)
        // ALL source rows, including null keys the index will not store
        // — the reconciliation denominator for count(*)/GROUP BY service.
        // Plain count(): Catalyst prunes every column and partial-counts
        // per partition — the widen() wrapper this used to ride shuffled
        // every full row of the source just to count them (guide §2.3)
        val totalRows = df.count()
        val rows = btreeRows(df, idCol, keyCol)
        // the key's TRUE type rides the manifest: registration declares
        // the real postings schema from it (a BIGINT-keyed btree used to
        // be registered as DOUBLE and fail any SQL read — ADVICE r13)
        val keyDdl = rows.schema("key").dataType.sql
        // numeric keys keep the double-shadow zonemap (driver arithmetic
        // on plain doubles, 1-ulp pruning slack); NON-numeric keys
        // (date/timestamp/string) store the zonemap in the key's NATIVE
        // type — min/max of the key itself, exact native ordering, no
        // shadow at all. One build shape either way.
        val shadow: Column => Column =
          if (numericKey(rows.schema("key").dataType)) _.cast("double")
          else identity
        AnnIndex.buildAndPublish(location,
          AnnIndex.Manifest("btree", "range", nBuckets, 0, fp,
            keyType = keyDdl, sourcePath = sourcePath,
            sourceIdCol = idCol, sourceKeyCol = keyCol,
            sourceRows = totalRows)) { staging =>
          val bucketed = rows
            .repartitionByRange(nBuckets, col("key"), col("id"))
            .withColumn("bkt", spark_partition_id())
          bucketed.write.mode("overwrite").partitionBy("bkt")
            .parquet(s"$staging/postings")
          val written = df.sparkSession.read.parquet(s"$staging/postings")
          // ONE postings pass (guide §2.4): the zonemap aggregates, the
          // frozen boundaries, and — for BIGINT keys — the ±2^53
          // exactness guard all derive from a single ≤nBuckets-row
          // collect. Previously three jobs each re-read the postings
          // (exactness agg, zonemap write, boundaries write).
          val keyIsLong = written.schema("key").dataType == LongType
          val extraAggs =
            if (keyIsLong)
              Seq(min(col("key")).as("__nlo"), max(col("key")).as("__nhi"))
            else Nil
          val zmAgg = written.groupBy(col("bkt"))
            .agg(min(shadow(col("key"))).as("lo"),
              (Seq(max(shadow(col("key"))).as("hi"),
                count(lit(1)).as("n_rows")) ++ extraAggs): _*)
          val zmRows = zmAgg.collect()
          if (keyIsLong && zmRows.nonEmpty) {
            val nlo = zmRows.map(_.getLong(4)).min
            val nhi = zmRows.map(_.getLong(5)).max
            require(nlo >= -DoubleExactBound && nhi <= DoubleExactBound,
              "ensureBtree: BIGINT keys beyond ±2^53 alias in the btree's " +
                s"double zonemap/residual (got [$nlo, $nhi]) " +
                "— rescale the key or index a narrower column")
          }
          import scala.jdk.CollectionConverters._
          val zmLocal = df.sparkSession.createDataFrame(
            zmRows.map(r => org.apache.spark.sql.Row(
              r.get(0), r.get(1), r.get(2), r.get(3))).toSeq.asJava,
            org.apache.spark.sql.types.StructType(zmAgg.schema.take(4)))
          zmLocal.coalesce(1).write.mode("overwrite")
            .parquet(s"$staging/zonemap")
          zmLocal.select(col("bkt"), col("hi").as("upper"))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$staging/boundaries")
          // FILESTATS: a file-level zonemap over the SOURCE layout —
          // (source file, key lo/hi, n) from one extra NARROW scan of
          // the SOURCE TREE ITSELF (deliberately NOT folded into the
          // range-sort, which would carry a ~100-byte path string per
          // row through the build's dominant shuffle; and deliberately
          // not the caller's df, whose provenance can mis-attribute —
          // see [[writeBtreeFileStats]]). Serves mutation-time file
          // pruning: a DELETE/UPDATE predicate on this key reads only
          // overlapping files instead of probe-scanning the corpus
          // (VERDICT r15 #5). Null-key rows are excluded — they can
          // never match an eq/range mutation predicate.
          writeBtreeFileStats(df.sparkSession, keyCol,
            rows.schema("key").dataType,
            s"$staging/filestats", "overwrite", sourcePath)
        }
    }
  }

  private def numericKey(dt: DataType): Boolean = dt.isInstanceOf[NumericType]

  /** True when `location`'s filestats state is SETTLED — either a valid
    * map is present, or a previous build provably DECLINED provenance
    * and stamped the marker. The ensure* freshness matches accept both:
    * without the marker, a declined index (memory-built sources,
    * fingerprint-override harnesses, sources missing the key column)
    * could never satisfy "filestats present" and would pay a full
    * delete+rebuild on EVERY ensure call — reuse silently lost for
    * exactly the sources the validator declines (ADVICE r16). */
  private[graft] def fileStatsFresh(location: String): Boolean =
    IndexFs.exists(s"$location/filestats") ||
      IndexFs.exists(s"$location/filestats.declined")

  /** Record "provenance unprovable, at most once": drop any stats at
    * `dest` and stamp the sibling declined marker. Readers treat the
    * marker exactly as absence (probe scan); [[fileStatsFresh]] treats
    * it as settled so the index is not rebuilt forever. */
  private def declineFileStats(dest: String): Unit = {
    AnnIndex.deleteRecursively(dest)
    IndexFs.writeBytes(dest + ".declined", Array.emptyByteArray)
  }

  /** The path component of a file URI — the comparison key between
    * `input_file_name()` names (`file:///a/b`) and Hadoop listing URIs
    * (`file:/a/b`), whose scheme spellings differ on local FS. */
  private def uriPath(f: String): String =
    scala.util.Try(new java.net.URI(f).getPath).toOption match {
      case Some(p) if p != null && p.nonEmpty => p
      case _ => f
    }

  /** Source data files NOT yet named by the stats at `dest` — the
    * append delta's scan list (appends must extend the map without
    * rescanning the corpus). Driver-bounded: one recursive listing of
    * the source (≤ #files) + one stats read (≤ #files rows). */
  private def newSourceFiles(spark: SparkSession, dest: String,
      sourcePath: String): Seq[String] = {
    val known = spark.read.parquet(dest).select(col("f")).distinct()
      .collect().map(r => uriPath(r.getString(0))).toSet
    IndexFs.listFilesRecursive(sourcePath)
      .filterNot(f => known.contains(uriPath(f)))
  }

  /** Build-time filestats from a FRESH narrow scan of the source tree
    * itself — NEVER the caller's df. `input_file_name()` is a
    * task-thread-local stamped by file readers: a df whose rows were
    * evaluated OUTSIDE the source file scan (cached InMemoryRelation,
    * union/join legs) can attribute rows to the wrong file of the SAME
    * source tree, which the out-of-tree validator cannot see — and a
    * mis-attributed map makes the mutation probe skip a file that
    * really holds matching rows, silently leaving them undeleted
    * (ADVICE r16). Scanning `sourcePath` directly puts the provenance
    * column in the scan's own stage: correct by construction.
    * `onlyFiles` restricts the scan to an append's NEW files (the
    * corpus is not rescanned per append). Any failure — empty binding,
    * unreadable source, missing key column, key-type drift against the
    * postings — DECLINES via [[declineFileStats]]: the probe falls back
    * to the scan, wrongness never survives, and the decline is settled
    * (rebuilt at most once). */
  private def writeBtreeFileStats(spark: SparkSession, keyCol: String,
      keyType: DataType, dest: String, mode: String, sourcePath: String,
      onlyFiles: Option[Seq[String]] = None): Unit = {
    if (onlyFiles.exists(_.isEmpty)) return // append with no new files
    val ok = sourcePath != null && sourcePath.nonEmpty && scala.util.Try {
      val src = onlyFiles match {
        case Some(fs) => spark.read.parquet(fs: _*)
        case None => spark.read.parquet(sourcePath)
      }
      require(src.schema(keyCol).dataType == keyType,
        s"filestats: source column $keyCol is ${src.schema(keyCol)
          .dataType} but the postings key is $keyType")
      val shadow: Column => Column =
        if (numericKey(keyType)) _.cast("double") else identity
      src.filter(col(keyCol).isNotNull)
        .select(shadow(col(keyCol)).as("key"), input_file_name().as("f"))
        .groupBy(col("f"))
        .agg(min(col("key")).as("lo"), max(col("key")).as("hi"),
          count(lit(1)).as("n"))
        .coalesce(1).write.mode(mode).parquet(dest)
    }.isSuccess
    if (!ok) declineFileStats(dest)
    else validateFileStats(spark, dest, sourcePath)
  }

  /** The bitmap twin of [[writeBtreeFileStats]]: distinct (value, file)
    * pairs from a fresh narrow source scan — same provenance-by-
    * construction rationale, same decline discipline. */
  private def writeBitmapFileStats(spark: SparkSession, keyCol: String,
      dest: String, mode: String, sourcePath: String,
      onlyFiles: Option[Seq[String]] = None): Unit = {
    if (onlyFiles.exists(_.isEmpty)) return
    val ok = sourcePath != null && sourcePath.nonEmpty && scala.util.Try {
      val src = onlyFiles match {
        case Some(fs) => spark.read.parquet(fs: _*)
        case None => spark.read.parquet(sourcePath)
      }
      src.filter(col(keyCol).isNotNull)
        .select(col(keyCol).cast("string").as("k"),
          input_file_name().as("f"))
        .filter(col("k") =!= "")
        .distinct()
        .coalesce(1).write.mode(mode).parquet(dest)
    }.isSuccess
    if (!ok) declineFileStats(dest)
    else validateFileStats(spark, dest, sourcePath)
  }

  /** Delete the just-written filestats unless EVERY recorded file name
    * is non-empty and lives under the source path. `input_file_name` is
    * a TASK-THREAD-LOCAL stamped by file readers: rows that were NOT
    * evaluated inside a file scan (local relations, cached plans, union
    * legs) report whatever file that executor thread read LAST — the
    * full-suite spec caught a memory-built index attributing its rows
    * to a DIFFERENT dataset's parquet left in the thread-local by an
    * earlier query. A wrong name would MIS-PRUNE mutations (a DELETE
    * could skip the file really holding its rows), so out-of-tree or
    * empty provenance deletes the stats: absence falls back to the
    * probe scan, wrongness never survives. Driver-bounded: one distinct
    * file-name collect (≤ #source files). */
  private def validateFileStats(spark: SparkSession, dest: String,
      sourcePath: String): Unit = {
    // an empty/malformed source binding can prove nothing — drop the
    // stats (some property/race harnesses build with a fingerprint
    // override and no real source path; absence only costs the probe)
    val ok = sourcePath != null && sourcePath.nonEmpty &&
      scala.util.Try {
        val files = spark.read.parquet(dest)
          .select(col("f")).distinct().collect().map(_.getString(0))
        val u = new org.apache.hadoop.fs.Path(sourcePath).toUri
        val p0 = Option(u.getPath).getOrElse("")
        val base =
          if (Option(u.getScheme).isEmpty && !p0.startsWith("/"))
            new java.io.File(p0).getAbsolutePath
          else p0
        files.nonEmpty && files.forall { f =>
          f != null && f.nonEmpty &&
            scala.util.Try(new java.net.URI(f).getPath).toOption.exists(p =>
              p == base || p.startsWith(base + "/"))
        }
      }.getOrElse(false)
    if (!ok) declineFileStats(dest)
    else IndexFs.deleteRecursively(dest + ".declined") // settled: valid
  }

  /** Incrementally ADD rows against the FROZEN build-time boundaries: a
    * codegen'd fold over the ≤nBuckets-entry upper-bound literal array
    * assigns each row's bucket (rows beyond the last upper land in the
    * highest bucket; rows in boundary gaps go to the next bucket up —
    * either way the appended zonemap DELTA records the true min/max, so
    * pruning stays conservative and exact). Same crash discipline as
    * [[AnnIndex.appendIvf]]: build with a `partial:` fingerprint, and this
    * re-stamps `newFingerprint` only AFTER the appends commit. */
  def appendBtree(delta: DataFrame, idCol: String, keyCol: String,
      location: String, newFingerprint: String): Unit = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    val spark = delta.sparkSession
    // bounded driver read: one row per non-empty bucket (≤ nlist)
    val boundsDf = spark.read.parquet(s"$location/boundaries")
    // numeric-keyed btrees store DOUBLE-shadow boundaries; native-keyed
    // ones store the key type itself — the stored type picks the path
    val numeric = numericKey(boundsDf.schema("upper").dataType)
    val boundRows = boundsDf.orderBy(col("bkt")).collect()
    require(boundRows.nonEmpty, s"btree index at $location has no buckets")
    val bktIds = boundRows.map(_.getInt(0))
    val rows = btreeRows(delta, idCol, keyCol)
    requireLongKeysExact(rows, "appendBtree") // delta-sized narrow agg
    val slot =
      if (boundRows.length == 1) lit(0)
      else if (numeric) {
        val uppers = boundRows.map(_.getDouble(1)).dropRight(1)
        aggregate(lit(uppers), lit(0),
          (acc, u) => acc + when(col("key").cast("double") > u, 1).otherwise(0))
      } else {
        // native-keyed boundaries (date/timestamp/string): the same
        // O(nBuckets) codegen'd fold, as a when-chain over typed
        // literals — literal arrays of these types don't fold the same
        // way, and nBuckets is ≤ manifest nlist small
        val uppers = boundRows.map(_.get(1)).dropRight(1)
        uppers.foldLeft(lit(0)) { (acc, u) =>
          acc + when(col("key") > lit(u), 1).otherwise(0)
        }
      }
    val shadow: Column => Column =
      if (numeric) _.cast("double") else identity
    val assigned = rows.withColumn("bkt",
      element_at(lit(bktIds), slot + 1))
    assigned.write.mode("append").partitionBy("bkt")
      .parquet(s"$location/postings")
    assigned.groupBy(col("bkt"))
      .agg(min(shadow(col("key"))).as("lo"),
        max(shadow(col("key"))).as("hi"),
        count(lit(1)).as("n_rows"))
      .coalesce(1).write.mode("append").parquet(s"$location/zonemap")
    // filestats delta — only when the build stamped them (a pre-filestats
    // or declined index must not gain a PARTIAL map: readers treat
    // presence as completeness). The delta scan covers exactly the
    // source files the map does not know yet (fresh-source provenance,
    // delta-sized — the corpus is never rescanned per append); a delta
    // whose rows live OUTSIDE the source tree contributes no source
    // files and therefore, correctly, no stats rows.
    if (IndexFs.exists(s"$location/filestats"))
      writeBtreeFileStats(spark, keyCol, rows.schema("key").dataType,
        s"$location/filestats", "append", man.sourcePath,
        onlyFiles = Some(newSourceFiles(spark, s"$location/filestats",
          man.sourcePath)))
    // row accounting: ALL delta rows (incl. null keys) join the
    // reconciliation denominator; unknown (-1) stays unknown
    val newRows =
      if (man.sourceRows < 0) -1L
      else man.sourceRows + delta.count() // pruned count, no widen shuffle
    AnnIndex.writeManifest(location,
      man.copy(fingerprint = newFingerprint, sourceRows = newRows))
  }

  // ---- BTREE: search ---------------------------------------------------

  /** Range search `key ∈ [lo, hi]` over the persisted btree: aggregate
    * the zonemap deltas (≤ nBuckets rows — the bounded collect), prune to
    * overlapping buckets driver-side, read ONLY those partitions (static
    * `bkt IN (...)`), re-apply the exact predicate on the native key,
    * anti-join tombstones. Returns (id, key). Bounds are inclusive by
    * default; `loInclusive`/`hiInclusive` = false serve the STRICT
    * shapes (`key > lo` / `key < hi`), and ±Infinity bounds serve
    * one-sided asks (every indexed key is non-null and finite-comparable,
    * so `key >= -Inf` is vacuous) — pruning always uses the inclusive
    * envelope (conservative; the residual is exact). */
  def searchBtreeRange(spark: SparkSession, location: String,
      lo: Double, hi: Double, loInclusive: Boolean = true,
      hiInclusive: Boolean = true): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    require(numericKey(zonemapKeyType(spark, location)),
      s"btree at $location has NATIVE (${man.keyType}) keys — " +
        "use searchBtreeRangeTyped")
    val zm = zonemapBuckets(spark, location)
    // prune with 1-ulp slack on the bucket bounds: the zonemap stores a
    // DOUBLE shadow of the native key, and for integral keys beyond 2^53
    // the cast rounds to nearest — without slack a bucket whose true lo
    // sits just under its rounded-up shadow could be wrongly pruned. The
    // residual predicate is exact on the native type, so the slack only
    // ever costs reading one extra bucket, never a wrong row.
    val bkts = zm.filter(r => Math.nextDown(r.getDouble(1)) <= hi &&
        Math.nextUp(r.getDouble(2)) >= lo)
      .map(_.getInt(0)).sorted
    val postings = postingsOf(spark, location)
    val pruned =
      if (bkts.isEmpty) postings.filter(lit(false))
      else postings.filter(col("bkt").isin(bkts.map(Int.box): _*))
    val loPred =
      if (loInclusive) col("key") >= lit(lo) else col("key") > lit(lo)
    val hiPred =
      if (hiInclusive) col("key") <= lit(hi) else col("key") < lit(hi)
    antiTombstones(pruned.filter(loPred && hiPred), location)
      .select(col("id"), col("key"))
  }

  /** Unsigned-byte comparison of two strings' UTF-8 encodings — the SAME
    * total order `UTF8String.binaryCompare` gives Spark's min/max, hence
    * the order the string zonemap was BUILT in. JVM `String.compareTo`
    * orders by UTF-16 code unit, which diverges for supplementary-plane
    * characters (their surrogates sort below U+E000..U+FFFF in UTF-16 but
    * above them in code points/UTF-8), so any driver-side prune that used
    * it could wrongly skip a bucket that holds matching rows (ADVICE
    * r14). Every driver comparison against zonemap strings goes through
    * here. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** [[utf8Cmp]]-consistent Comparable dispatch: strings compare in UTF-8
    * byte order, every other native key type (Date/Timestamp/
    * LocalDateTime) via its own Comparable — those agree with Spark's
    * ordering already. */
  private def nativeCmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => utf8Cmp(x, y)
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** Range search `key ∈ [lo, hi]` over a NATIVE-keyed btree (date /
    * timestamp / string — any key whose zonemap stores the key type
    * itself): prune buckets driver-side with the values' own ordering
    * ([[nativeCmp]] — exact, and UTF-8-byte-consistent with how Spark
    * built the zonemap; no shadow, no ulp slack), read only the
    * overlapping partitions, re-apply the typed residual, anti-join
    * tombstones. Bounds are JVM values of the key's external type
    * (`java.sql.Date` / `java.sql.Timestamp` / `String`), inclusive by
    * default; `loInclusive`/`hiInclusive` = false serve the STRICT
    * shapes (pruning always uses the inclusive envelope — conservative;
    * the residual is exact); a NULL bound serves the one-sided shapes —
    * every indexed key is non-null, so the missing side is vacuous and
    * prunes nothing. Returns (id, key). Numeric-keyed btrees keep
    * [[searchBtreeRange]] — their zonemap is the double shadow this API
    * must not compare against. */
  def searchBtreeRangeTyped(spark: SparkSession, location: String,
      lo: Any, hi: Any, loInclusive: Boolean = true,
      hiInclusive: Boolean = true): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    require(lo != null || hi != null,
      "searchBtreeRangeTyped: at least one bound required")
    require(!numericKey(zonemapKeyType(spark, location)),
      s"btree at $location has a numeric double-shadow zonemap — " +
        "use searchBtreeRange")
    val zm = zonemapBuckets(spark, location)
    val bkts = zm.filter(r =>
        (hi == null || nativeCmp(r.get(1), hi) <= 0) &&
        (lo == null || nativeCmp(r.get(2), lo) >= 0))
      .map(_.getInt(0)).sorted
    val postings = postingsOf(spark, location)
    val pruned =
      if (bkts.isEmpty) postings.filter(lit(false))
      else postings.filter(col("bkt").isin(bkts.map(Int.box): _*))
    val loPred =
      if (lo == null) lit(true)
      else if (loInclusive) col("key") >= lit(lo) else col("key") > lit(lo)
    val hiPred =
      if (hi == null) lit(true)
      else if (hiInclusive) col("key") <= lit(hi) else col("key") < lit(hi)
    antiTombstones(pruned.filter(loPred && hiPred), location)
      .select(col("id"), col("key"))
  }

  /** Prefix search `key LIKE 'p%'` over a STRING-keyed btree: in UTF-8
    * byte space — where a string prefix is exactly a byte prefix, and
    * which IS the order the zonemap was built in — a bucket [lo, hi] can
    * hold prefixed strings iff `bytes(hi) >= bytes(p)` AND
    * `bytes(lo).take(|bytes(p)|) <= bytes(p)` (byte truncation sidesteps
    * the increment-the-last-byte trick; comparing whole code units in
    * JVM order instead would diverge from the zonemap's UTF8String
    * binary order on supplementary-plane keys and could wrongly prune a
    * matching bucket — ADVICE r14). Prune buckets driver-side with that
    * test, read only the overlapping partitions, re-apply the exact
    * `startswith` residual, anti-join tombstones. Returns (id, key). At
    * 100 TB this is the classic prefix-scan story: a sorted layout turns
    * `LIKE 'p%'` — unanswerable by hash/bitmap layouts — into a
    * contiguous-bucket read. */
  def searchBtreePrefix(spark: SparkSession, location: String,
      prefix: String): DataFrame = {
    require(prefix.nonEmpty, "searchBtreePrefix: prefix must be non-empty")
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    require(zonemapKeyType(spark, location) == StringType,
      s"btree at $location is not string-keyed (${man.keyType}) — " +
        "prefix search needs the native string zonemap")
    val zm = zonemapBuckets(spark, location)
    val p = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def byteCmp(x: Array[Byte], y: Array[Byte]): Int = {
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    val bkts = zm.filter { r =>
      val lo = r.getString(1)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val hi = r.getString(2)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      byteCmp(hi, p) >= 0 && byteCmp(lo.take(p.length), p) <= 0
    }.map(_.getInt(0)).sorted
    val postings = postingsOf(spark, location)
    val pruned =
      if (bkts.isEmpty) postings.filter(lit(false))
      else postings.filter(col("bkt").isin(bkts.map(Int.box): _*))
    antiTombstones(
      pruned.filter(col("key").startsWith(prefix)), location)
      .select(col("id"), col("key"))
  }

  /** The PRUNED (id, key) scan behind `ORDER BY key [DESC] LIMIT k`
    * served from the btree: aggregate the zonemap deltas (≤ nBuckets
    * rows), walk buckets in key order (by lo ascending / hi descending)
    * accumulating exact row counts until ≥ k, take the cutoff bucket's
    * far edge T as the threshold, and read every bucket whose range
    * reaches T — the prefix buckets alone hold ≥ k rows on the correct
    * side of T, so the true top-k all live in the returned scan and a
    * sort+limit OVER it equals the full-table sort+limit (for non-null
    * keys; the caller owns the null-ordering guard). None when the index
    * holds fewer than k rows — then the full plan's answer could include
    * rows (null keys) the index does not store, and the caller must
    * decline. At 100 TB this turns a full-corpus TakeOrdered into a
    * ~k-row-sized partition-pruned read. */
  def btreeTopKScan(spark: SparkSession, location: String, k: Int,
      ascending: Boolean): Option[DataFrame] = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    // double-shadow zonemaps prune with 1-ulp slack; NATIVE zonemaps
    // (date/timestamp/string) compare exactly with the values' own
    // ordering — [[nativeCmp]], so string walks use the zonemap's own
    // UTF-8 byte order, not JVM UTF-16 order
    val shadowed = numericKey(zonemapKeyType(spark, location))
    def cmp(a: Any, b: Any): Int = nativeCmp(a, b)
    def down(v: Any): Any =
      if (shadowed) Math.nextDown(v.asInstanceOf[Double]) else v
    def up(v: Any): Any =
      if (shadowed) Math.nextUp(v.asInstanceOf[Double]) else v
    val zm = zonemapBuckets(spark, location)
      .map(r => (r.getInt(0), r.get(1), r.get(2), r.getLong(3)))
    if (zm.map(_._4).sum < k) None
    else if (hasTombstones(location))
      // zonemap counts are PHYSICAL: with uncompacted tombstones a
      // bucket prefix chosen from them could underfill the live top-k,
      // so fall back to all buckets — still an index-only narrow read
      // (the optimizer route declines tombstoned indexes anyway; this
      // keeps the direct API exact too)
      Some(antiTombstones(
        postingsOf(spark, location), location)
        .select(col("id"), col("key")))
    else {
      val ordered =
        if (ascending) zm.sortWith((a, b) => cmp(a._2, b._2) < 0)
        else zm.sortWith((a, b) => cmp(a._3, b._3) > 0)
      var acc = 0L
      var cut = 0
      while (acc < k && cut < ordered.length) {
        acc += ordered(cut)._4; cut += 1
      }
      // threshold = the cutoff bucket's far edge
      val bkts =
        if (ascending) {
          val t = up(ordered(cut - 1)._3)
          zm.filter(b => cmp(down(b._2), t) <= 0).map(_._1)
        } else {
          val t = down(ordered(cut - 1)._2)
          zm.filter(b => cmp(up(b._3), t) >= 0).map(_._1)
        }
      Some(antiTombstones(
        postingsOf(spark, location)
          .filter(col("bkt").isin(bkts.sorted.map(Int.box): _*)),
        location)
        .select(col("id"), col("key")))
    }
  }

  /** One-row `(cnt BIGINT)` plan for `count(*) WHERE key ∈ range`
    * served from the btree WITHOUT scanning the range's interior: the
    * aggregated zonemap (≤ nBuckets rows, the bounded collect) splits
    * overlapping buckets into INTERIOR ones — whole [lo, hi] envelope
    * inside the ask, every row provably matches, their `n_rows` sum is
    * a driver-side literal — and EDGE buckets, whose postings alone are
    * read and counted under the exact residual. At 100 TB a wide range
    * over a sorted layout becomes two bucket reads plus metadata — the
    * classic zonemap-aggregation story, and strictly less I/O than the
    * filter rewrite (which still reads every overlapping bucket).
    *
    * Soundness of the interior classification rests on the exactness
    * domain [[requireLongKeysExact]] enforces: every key the btree
    * ACCEPTS has an exact double shadow, so `zlo >= lo && zhi <= hi` in
    * shadow space equals the native comparison (the ask bounds arrive
    * through the route's `numericLit`, which declines inexact BIGINT
    * literals). Edge membership stays conservative with the same 1-ulp
    * slack as [[searchBtreeRange]] — slack can only move a bucket from
    * interior to edge, never the reverse, and edges are counted exactly.
    *
    * Tombstoned indexes are REFUSED (interior counts would include
    * deleted rows — the caller declines to the scan); ±Infinity bounds
    * serve the one-sided shapes. Numeric (double-shadow) btrees only. */
  def btreeCountRange(spark: SparkSession, location: String,
      lo: Double, hi: Double, loInclusive: Boolean = true,
      hiInclusive: Boolean = true): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    require(!hasTombstones(location),
      s"btree at $location carries tombstones — zonemap counts would " +
        "include deleted rows; compact first (the optimizer route " +
        "declines instead of calling this)")
    require(numericKey(zonemapKeyType(spark, location)),
      s"btree at $location has NATIVE (${man.keyType}) keys — " +
        "count-range serves the double-shadow tier only")
    val zm = zonemapBuckets(spark, location)
    val overlapping = zm.filter(r => Math.nextDown(r.getDouble(1)) <= hi &&
      Math.nextUp(r.getDouble(2)) >= lo)
    def inside(zlo: Double, zhi: Double): Boolean =
      (if (loInclusive) zlo >= lo else zlo > lo) &&
        (if (hiInclusive) zhi <= hi else zhi < hi)
    val (interior, edges) =
      overlapping.partition(r => inside(r.getDouble(1), r.getDouble(2)))
    val interiorN = interior.map(_.getLong(3)).sum
    if (edges.isEmpty)
      spark.range(1).select(lit(interiorN).as("cnt"))
    else {
      val pruned = postingsOf(spark, location)
        .filter(col("bkt").isin(edges.map(r => Int.box(r.getInt(0))): _*))
      val loPred =
        if (lo == Double.NegativeInfinity) lit(true)
        else if (loInclusive) col("key") >= lit(lo) else col("key") > lit(lo)
      val hiPred =
        if (hi == Double.PositiveInfinity) lit(true)
        else if (hiInclusive) col("key") <= lit(hi) else col("key") < lit(hi)
      pruned.filter(loPred && hiPred)
        .agg((count(lit(1)) + lit(interiorN)).as("cnt"))
    }
  }

  /** [[btreeCountRange]] for the NATIVE-zonemap tier (date / timestamp /
    * string keys): interior buckets — whole [lo, hi] envelope inside the
    * ask under the values' own exact ordering ([[nativeCmp]], no shadow,
    * no slack) — contribute their `n_rows` sum as a driver literal; only
    * EDGE buckets are read and counted under the exact typed residual.
    * The most common SQL count shape is a DATE range (ADVICE/VERDICT
    * r15 #6 — the numeric-only restriction was the first asymmetry a
    * user hits); at 100 TB this turns it into two bucket reads plus
    * metadata. Bounds are JVM values of the key's external type; a NULL
    * bound serves the one-sided shapes. Tombstoned indexes are REFUSED
    * (the caller declines to the scan). */
  def btreeCountRangeTyped(spark: SparkSession, location: String,
      lo: Any, hi: Any, loInclusive: Boolean = true,
      hiInclusive: Boolean = true): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    require(lo != null || hi != null,
      "btreeCountRangeTyped: at least one bound required")
    require(!hasTombstones(location),
      s"btree at $location carries tombstones — zonemap counts would " +
        "include deleted rows; compact first (the optimizer route " +
        "declines instead of calling this)")
    require(!numericKey(zonemapKeyType(spark, location)),
      s"btree at $location has a numeric double-shadow zonemap — " +
        "use btreeCountRange")
    val zm = zonemapBuckets(spark, location)
    val overlapping = zm.filter(r =>
      (hi == null || nativeCmp(r.get(1), hi) <= 0) &&
      (lo == null || nativeCmp(r.get(2), lo) >= 0))
    def inside(zlo: Any, zhi: Any): Boolean =
      (lo == null ||
        (if (loInclusive) nativeCmp(zlo, lo) >= 0
         else nativeCmp(zlo, lo) > 0)) &&
      (hi == null ||
        (if (hiInclusive) nativeCmp(zhi, hi) <= 0
         else nativeCmp(zhi, hi) < 0))
    val (interior, edges) =
      overlapping.partition(r => inside(r.get(1), r.get(2)))
    val interiorN = interior.map(_.getLong(3)).sum
    if (edges.isEmpty)
      spark.range(1).select(lit(interiorN).as("cnt"))
    else {
      val pruned = postingsOf(spark, location)
        .filter(col("bkt").isin(edges.map(r => Int.box(r.getInt(0))): _*))
      val loPred =
        if (lo == null) lit(true)
        else if (loInclusive) col("key") >= lit(lo) else col("key") > lit(lo)
      val hiPred =
        if (hi == null) lit(true)
        else if (hiInclusive) col("key") <= lit(hi) else col("key") < lit(hi)
      pruned.filter(loPred && hiPred)
        .agg((count(lit(1)) + lit(interiorN)).as("cnt"))
    }
  }

  /** One-row `(mn, mx, cnt)` plan for `min(key)/max(key)/count(*)` UNDER
    * a numeric range predicate, served like [[btreeCountRange]]:
    * INTERIOR buckets (whole envelope inside the ask) contribute their
    * zonemap lo/hi/n as driver literals — each zonemap bound is the
    * exact shadow of a REAL key, so an interior bucket's lo/hi ARE the
    * min/max of its keys, cast back to the manifest's native type
    * (exact over the enforced shadow domain) — and only EDGE buckets
    * are read and aggregated under the exact residual; `least`/
    * `greatest` fold the two sources (they skip the NULL a matchless
    * edge aggregate returns). No matching rows → (NULL, NULL, 0),
    * SQL's aggregate semantics. Tombstoned indexes are REFUSED; the
    * same 1-ulp edge-conservatism as the count twin. */
  def btreeStatsRange(spark: SparkSession, location: String,
      lo: Double, hi: Double, loInclusive: Boolean = true,
      hiInclusive: Boolean = true): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    require(!hasTombstones(location),
      s"btree at $location carries tombstones — zonemap stats would " +
        "include deleted rows; compact first (the optimizer route " +
        "declines instead of calling this)")
    require(numericKey(zonemapKeyType(spark, location)),
      s"btree at $location has NATIVE (${man.keyType}) keys — " +
        "stats-range serves the double-shadow tier only")
    val zm = zonemapBuckets(spark, location)
    val overlapping = zm.filter(r => Math.nextDown(r.getDouble(1)) <= hi &&
      Math.nextUp(r.getDouble(2)) >= lo)
    def inside(zlo: Double, zhi: Double): Boolean =
      (if (loInclusive) zlo >= lo else zlo > lo) &&
        (if (hiInclusive) zhi <= hi else zhi < hi)
    val (interior, edges) =
      overlapping.partition(r => inside(r.getDouble(1), r.getDouble(2)))
    val interiorN = interior.map(_.getLong(3)).sum
    val iMin = interior.map(_.getDouble(1)).minOption
    val iMax = interior.map(_.getDouble(2)).maxOption
    def litK(v: Option[Double]): Column =
      v.fold(lit(null).cast(man.keyType))(d => lit(d).cast(man.keyType))
    if (edges.isEmpty)
      spark.range(1).select(litK(iMin).as("mn"), litK(iMax).as("mx"),
        lit(interiorN).as("cnt"))
    else {
      val pruned = postingsOf(spark, location)
        .filter(col("bkt").isin(edges.map(r => Int.box(r.getInt(0))): _*))
      val loPred =
        if (lo == Double.NegativeInfinity) lit(true)
        else if (loInclusive) col("key") >= lit(lo) else col("key") > lit(lo)
      val hiPred =
        if (hi == Double.PositiveInfinity) lit(true)
        else if (hiInclusive) col("key") <= lit(hi) else col("key") < lit(hi)
      pruned.filter(loPred && hiPred)
        .agg(least(min(col("key")), litK(iMin)).as("mn"),
          greatest(max(col("key")), litK(iMax)).as("mx"),
          (count(lit(1)) + lit(interiorN)).as("cnt"))
    }
  }

  /** [[btreeStatsRange]] for the NATIVE-zonemap tier (date / timestamp /
    * string keys): interior buckets' lo/hi ARE the min/max of their keys
    * in the key's own type (no shadow, no cast), compared exactly with
    * [[nativeCmp]]; only edge buckets are read under the exact typed
    * residual. NULL bounds serve the one-sided shapes; a matchless
    * range answers (NULL, NULL, 0). Tombstoned indexes are REFUSED. */
  def btreeStatsRangeTyped(spark: SparkSession, location: String,
      lo: Any, hi: Any, loInclusive: Boolean = true,
      hiInclusive: Boolean = true): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    require(lo != null || hi != null,
      "btreeStatsRangeTyped: at least one bound required")
    require(!hasTombstones(location),
      s"btree at $location carries tombstones — zonemap stats would " +
        "include deleted rows; compact first (the optimizer route " +
        "declines instead of calling this)")
    require(!numericKey(zonemapKeyType(spark, location)),
      s"btree at $location has a numeric double-shadow zonemap — " +
        "use btreeStatsRange")
    val zm = zonemapBuckets(spark, location)
    val overlapping = zm.filter(r =>
      (hi == null || nativeCmp(r.get(1), hi) <= 0) &&
      (lo == null || nativeCmp(r.get(2), lo) >= 0))
    def inside(zlo: Any, zhi: Any): Boolean =
      (lo == null ||
        (if (loInclusive) nativeCmp(zlo, lo) >= 0
         else nativeCmp(zlo, lo) > 0)) &&
      (hi == null ||
        (if (hiInclusive) nativeCmp(zhi, hi) <= 0
         else nativeCmp(zhi, hi) < 0))
    val (interior, edges) =
      overlapping.partition(r => inside(r.get(1), r.get(2)))
    val interiorN = interior.map(_.getLong(3)).sum
    val nativeOrd: Ordering[Any] = (a: Any, b: Any) => nativeCmp(a, b)
    val iMin = interior.map(_.get(1)).minOption(nativeOrd)
    val iMax = interior.map(_.get(2)).maxOption(nativeOrd)
    def litK(v: Option[Any]): Column =
      v.fold(lit(null).cast(man.keyType))(x => lit(x))
    if (edges.isEmpty)
      spark.range(1).select(litK(iMin).as("mn"), litK(iMax).as("mx"),
        lit(interiorN).as("cnt"))
    else {
      val pruned = postingsOf(spark, location)
        .filter(col("bkt").isin(edges.map(r => Int.box(r.getInt(0))): _*))
      val loPred =
        if (lo == null) lit(true)
        else if (loInclusive) col("key") >= lit(lo) else col("key") > lit(lo)
      val hiPred =
        if (hi == null) lit(true)
        else if (hiInclusive) col("key") <= lit(hi) else col("key") < lit(hi)
      pruned.filter(loPred && hiPred)
        .agg(least(min(col("key")), litK(iMin)).as("mn"),
          greatest(max(col("key")), litK(iMax)).as("mx"),
          (count(lit(1)) + lit(interiorN)).as("cnt"))
    }
  }

  /** One-row `(mn, mx, cnt)` plan for the global `min(key)` / `max(key)`
    * / `count(key)` aggregates served ENTIRELY from the zonemap — no
    * postings read at all: min(lo) / max(hi) over the ≤ nBuckets delta
    * rows ARE the extremes of every indexed key (each zonemap bound is
    * the exact shadow of a real key), and `sum(n_rows)` is the non-null
    * key count — exactly what SQL's null-ignoring MIN/MAX/COUNT(col)
    * compute over the source. `mn`/`mx` come back CAST to the manifest's
    * native key type (exact over the enforced shadow domain; identity
    * for native-keyed date/timestamp/string zonemaps). Tombstoned
    * indexes are REFUSED — a deleted row may have been the extreme. At
    * 100 TB this answers a full-corpus aggregate from kilobytes of
    * metadata. */
  def btreeMinMaxCount(spark: SparkSession, location: String): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    require(!hasTombstones(location),
      s"btree at $location carries tombstones — a deleted row may have " +
        "been the min/max; compact first (the optimizer route declines " +
        "instead of calling this)")
    IndexFs.readParquet(spark, s"$location/zonemap")
      .agg(min(col("lo")).cast(man.keyType).as("mn"),
        max(col("hi")).cast(man.keyType).as("mx"),
        coalesce(sum(col("n_rows")), lit(0L)).as("cnt"))
  }

  /** Per-value row counts `(k STRING, cnt BIGINT)` straight from the
    * bitmap's values table — the metadata answer to
    * `SELECT key, count(*) GROUP BY key`: the delta rows sum per value
    * (≤ cardinality rows read, no postings touched). The CALLER owns
    * proving the index saw every source row (manifest `sourceRows` ==
    * [[indexedRowSum]]) — a source with null/empty keys has groups the
    * bitmap cannot see and must decline to the scan. Tombstoned
    * indexes are REFUSED (deleted rows still count here). */
  def bitmapGroupCounts(spark: SparkSession, location: String): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "bitmap", s"not a bitmap index: $location")
    require(!hasTombstones(location),
      s"bitmap at $location carries tombstones — value counts would " +
        "include deleted rows; compact first (the optimizer route " +
        "declines instead of calling this)")
    IndexFs.readParquet(spark, s"$location/values")
      .groupBy(col("k"))
      .agg(sum(col("n_rows")).cast("long").as("cnt"))
  }

  /** `count(*) WHERE key IN (values)` straight from the values table:
    * filter the asked values, sum their delta counts — one partial-
    * aggregated stage over ≤ cardinality metadata rows, no per-value
    * GROUP BY exchange and no postings read (the filtered-count twin of
    * [[bitmapGroupCounts]]; same tombstone refusal, same caller-owned
    * row accounting). Absent values contribute the 0 a postings count
    * would have produced. */
  def bitmapValueCountSum(spark: SparkSession, location: String,
      values: Seq[String]): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "bitmap", s"not a bitmap index: $location")
    require(!hasTombstones(location),
      s"bitmap at $location carries tombstones — value counts would " +
        "include deleted rows; compact first (the optimizer route " +
        "declines instead of calling this)")
    IndexFs.readParquet(spark, s"$location/values")
      .filter(col("k").isInCollection(values))
      .agg(coalesce(sum(col("n_rows")), lit(0L)).cast("long").as("cnt"))
  }

  /** How many rows the index STORES — sum of the btree zonemap's /
    * bitmap values table's delta counts (a metadata-sized driver read).
    * Equal to the manifest's `sourceRows` exactly when the source had
    * no null/empty keys — the reconciliation the metadata-served
    * count(*)/GROUP-BY routes run on every planning. Memoized by the
    * counted directory's listing ([[IndexFs.memoized]]), so a warm
    * planning pays a listing, not a distributed read. */
  def indexedRowSum(spark: SparkSession, location: String): Long = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    man.indexType match {
      case "btree" => zonemapBuckets(spark, location).map(_.getLong(3)).sum
      case "bitmap" | "label_list" =>
        val dir = s"$location/values"
        IndexFs.memoized[java.lang.Long](spark, dir, "row-sum") {
          IndexFs.readParquet(spark, dir)
            .agg(coalesce(sum(col("n_rows")), lit(0L)).cast("long"))
            .head().getLong(0)
        }.longValue
      case t => throw new IllegalArgumentException(
        s"indexedRowSum: no row accounting for index type '$t'")
    }
  }

  /** Fold a SOURCE-side pure-DELETE mutation into a btree/bitmap index
    * WITHOUT a rebuild — the incremental half of the q256 loop
    * (VERDICT r15 #7: a DELETE-heavy feed forced full rebuilds). A
    * copy-on-write DELETE rewrites files but leaves every surviving row
    * identical, so the index only needs the deleted ids tombstoned and
    * folded; the work is a NARROW (id, key) source read plus a
    * compaction of the postings — no corpus-wide sort, no wide-column
    * rewrite, which is the whole point at 100 TB.
    *
    * Soundness is PROVEN before the fingerprint is re-stamped, never
    * assumed:
    *  1. every indexable source row (id, key) must already be in the
    *     index's LIVE view — a new or key-changed row fails loudly
    *     ("not a pure delete") and the caller rebuilds;
    *  2. after tombstoning the disappeared ids and compacting, the
    *     index's stored-row count must EQUAL the indexable source row
    *     count (multiplicity drift — e.g. duplicate (id, key) pairs
    *     deleted once — fails loudly);
    *  3. filestats are recomputed from the new file layout.
    * Only then is the manifest re-stamped: fresh fingerprint, new
    * `sourceRows`, divergence CLEARED (the live view now provably
    * equals the source again). Any failure or crash before the re-stamp
    * leaves the index stale-by-fingerprint — it declines, never serves
    * wrong rows. */
  def refreshAfterDelete(spark: SparkSession, location: String): Unit = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree" || man.indexType == "bitmap",
      s"refreshAfterDelete: btree/bitmap only, got ${man.indexType}")
    require(man.sourcePath.nonEmpty && man.sourceIdCol.nonEmpty &&
        man.sourceKeyCol.nonEmpty,
      s"refreshAfterDelete: the index at $location predates " +
        "source-binding manifests — rebuild it")
    val src = spark.read.parquet(man.sourcePath)
    val keyed = src.filter(col(man.sourceKeyCol).isNotNull)
      .select(col(man.sourceIdCol).cast("long").as("id"),
        col(man.sourceKeyCol).as("skey"))
    val srcRows = man.indexType match {
      case "btree" => keyed
      case _ => keyed
        .select(col("id"), col("skey").cast("string").as("skey"))
        .filter(col("skey") =!= "")
    }
    val postings = man.indexType match {
      case "btree" => spark.read.parquet(s"$location/postings")
        .select(col("id"), col("key"))
      case _ => bitmapPostings(spark, location)
        .select(col("id"), col("k").as("key"))
    }
    val live = antiTombstones(postings, location)
    // (1) pure-delete proof: no source row the live index does not hold
    val added = srcRows.join(live,
      srcRows("id") === live("id") && srcRows("skey") === live("key"),
      "left_anti")
    require(added.head(1).isEmpty,
      s"refreshAfterDelete: $location — the source holds rows the index " +
        "does not (not a pure delete); rebuild instead")
    // (2) tombstone the disappeared ids, fold, and re-prove row counts
    val deleted = live.select(col("id")).distinct()
      .join(srcRows.select(col("id")).distinct(), Seq("id"), "left_anti")
    val anyDeleted = deleted.head(1).nonEmpty
    if (anyDeleted)
      deleted.coalesce(1).write.mode("append")
        .parquet(tombstoneDir(location))
    if (hasTombstones(location)) man.indexType match {
      case "btree" => compactBtree(spark, location)
      case _ => compactBitmap(spark, location)
    }
    val stored = indexedRowSum(spark, location)
    val wantRows = srcRows.count()
    require(stored == wantRows,
      s"refreshAfterDelete: $location stores $stored rows but the source " +
        s"holds $wantRows indexable ones (multiplicity drift) — rebuild")
    // (3) filestats follow the NEW file layout (fresh-source scan —
    // exactly the provenance-by-construction discipline of the build)
    man.indexType match {
      case "btree" =>
        writeBtreeFileStats(spark, man.sourceKeyCol,
          postings.schema("key").dataType,
          s"$location/filestats", "overwrite", man.sourcePath)
      case _ =>
        writeBitmapFileStats(spark, man.sourceKeyCol,
          s"$location/filestats", "overwrite", man.sourcePath)
    }
    // only now does the index become fresh again
    val cur = AnnIndex.readManifest(location).getOrElse(man)
    AnnIndex.writeManifest(location, cur.copy(
      fingerprint = AnnIndex.sourceFingerprint(man.sourcePath),
      sourceRows = src.count(), // pruned count, no widen shuffle
      divergent = false))
  }

  // ---- mutation-time file pruning (filestats readers) -------------------

  /** A mutation-pruning answer: the SUPERSET of source files that may
    * hold matches, plus the stats' total distinct file count — the
    * probe receipt's denominator, derived from the already-read
    * filestats rows so the index-pruned path never pays a recursive
    * listing of the table (VERDICT r16 "what's wrong" #3: at millions
    * of files the telemetry would outweigh the probe). */
  final case class FileCandidates(files: Seq[String], totalFiles: Int)

  /** SOURCE files that may hold rows with `key ∈ [lo, hi]`, from the
    * btree's build-stamped filestats (file-level zonemap) — the
    * mutation-probe pruning seam: a DELETE/UPDATE whose predicate covers
    * this key opens only the returned files instead of probe-scanning
    * the corpus. Same 1-ulp conservative slack as [[searchBtreeRange]];
    * a SUPERSET by construction (every indexed row contributed its
    * file's stats, and null-key rows can never match an eq/range
    * predicate). None — caller falls back to the probe scan — when the
    * index predates filestats, the key is native-typed (v1 serves the
    * double-shadow tier), or any stats row has an empty/unknown file
    * (non-file build source: provenance unknown). The CALLER owns
    * freshness (manifest fingerprint vs live source stat) — stale stats
    * could name files that no longer exist. */
  def btreeCandidateFiles(spark: SparkSession, location: String,
      lo: Double, hi: Double): Option[FileCandidates] = {
    if (!IndexFs.exists(s"$location/filestats")) return None
    val fsDf = spark.read.parquet(s"$location/filestats")
    if (!numericKey(fsDf.schema("lo").dataType)) return None
    val rows = fsDf.groupBy(col("f"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .collect() // ≤ one row per source file — driver-bounded metadata
    if (rows.exists(r => r.isNullAt(0) || r.getString(0).isEmpty)) None
    else Some(FileCandidates(
      rows.filter(r => Math.nextDown(r.getDouble(1)) <= hi &&
          Math.nextUp(r.getDouble(2)) >= lo)
        .map(_.getString(0)).toSeq.sorted,
      rows.length))
  }

  /** [[btreeCandidateFiles]] for NATIVE-keyed (date/timestamp/string)
    * btrees: the filestats lo/hi are the key type itself, compared with
    * [[nativeCmp]] — exact, no slack needed. Bounds are JVM values of
    * the key's external type; NULL bounds serve one-sided asks. Same
    * decline conditions (missing stats, numeric-shadow stats, unknown
    * provenance). */
  def btreeCandidateFilesTyped(spark: SparkSession, location: String,
      lo: Any, hi: Any): Option[FileCandidates] = {
    if ((lo == null && hi == null) ||
        !IndexFs.exists(s"$location/filestats")) return None
    val fsDf = spark.read.parquet(s"$location/filestats")
    if (numericKey(fsDf.schema("lo").dataType)) return None
    val rows = fsDf.groupBy(col("f"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .collect() // ≤ one row per source file — driver-bounded metadata
    if (rows.exists(r => r.isNullAt(0) || r.getString(0).isEmpty)) None
    else Some(FileCandidates(
      rows.filter(r =>
          (hi == null || nativeCmp(r.get(1), hi) <= 0) &&
          (lo == null || nativeCmp(r.get(2), lo) >= 0))
        .map(_.getString(0)).toSeq.sorted,
      rows.length))
  }

  /** SOURCE files that may hold rows with `key ∈ values`, from the
    * bitmap's distinct (value, file) filestats. The value filter runs
    * DISTRIBUTED (the pair set can be cardinality × files large — never
    * collected whole); only the matching file names come back. None
    * under the same decline conditions as [[btreeCandidateFiles]], plus
    * empty-string asks (bitmapRows never indexes them). */
  def bitmapCandidateFiles(spark: SparkSession, location: String,
      values: Seq[String]): Option[FileCandidates] = {
    if (values.isEmpty || values.exists(v => v == null || v.isEmpty) ||
        !IndexFs.exists(s"$location/filestats")) return None
    val fsDf = spark.read.parquet(s"$location/filestats")
    // ONE stats-metadata-sized job (≤ #files rows collected) answers all
    // three questions the probe needs — unknown provenance, the receipt's
    // total-file denominator, and the per-file match flag. Previously
    // three separate jobs re-read the stats (unknown check, distinct
    // total, matching collect); still NEVER a recursive listing of the
    // table (VERDICT r16 #3).
    val rows = fsDf.groupBy(col("f"))
      .agg(max(col("k").isInCollection(values)).as("__m"))
      .collect()
    if (rows.exists(r => r.isNullAt(0) || r.getString(0).isEmpty)) None
    else Some(FileCandidates(
      rows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq.sorted,
      rows.length))
  }

  /** Fold tombstones into the btree layout: postings minus deleted ids
    * rewritten bucket-partitioned, zonemap recomputed EXACTLY from the
    * surviving rows (so a delete that emptied a bucket's range edge
    * tightens pruning), boundaries kept frozen, tombstones cleared.
    * BOTH staging subtrees are written before EITHER swap commits — the
    * zonemap derives from the WRITTEN postings staging, so nothing is
    * left to recompute from paths a swap already retired (a cached live
    * view evicted between two swaps would otherwise re-read moved files
    * — ADVICE r13). Atomic old-or-new swaps; results unchanged. */
  def compactBtree(spark: SparkSession, location: String): Unit = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "btree", s"not a btree index: $location")
    val pid = AnnIndex.uniqueSuffix()
    antiTombstones(spark.read.parquet(s"$location/postings"), location)
      .repartition(col("bkt"))
      .write.mode("overwrite").partitionBy("bkt")
      .parquet(s"$location/postings.compact.$pid")
    val compacted = spark.read.parquet(s"$location/postings.compact.$pid")
    val shadow: Column => Column =
      if (numericKey(compacted.schema("key").dataType)) _.cast("double")
      else identity
    compacted
      .groupBy(col("bkt"))
      .agg(min(shadow(col("key"))).as("lo"),
        max(shadow(col("key"))).as("hi"),
        count(lit(1)).as("n_rows"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$location/zonemap.compact.$pid")
    swapStaged(location, "postings", pid)
    swapStaged(location, "zonemap", pid)
    AnnIndex.deleteRecursively(tombstoneDir(location))
  }

  // ---- BITMAP ----------------------------------------------------------

  /** (id, k) rows for the value-directory layouts. NULL and EMPTY-STRING
    * keys are not indexed: the partition codec writes "" as
    * `__HIVE_DEFAULT_PARTITION__` and reads it back as NULL, so an
    * empty-string key could neither be searched nor distinguished from
    * null — a query needing them goes to the base table. */
  private def bitmapRows(df: DataFrame, idCol: String, keyCol: String)
      : DataFrame =
    TextFunctions.widen(df)
      .filter(col(keyCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(keyCol).cast("string").as("k"))
      .filter(col("k") =!= "")

  /** Read the bitmap postings with the partition key pinned to STRING
    * (partition-value type inference would otherwise turn `k=42` into an
    * int and break the string-equality contract). */
  private def bitmapPostings(spark: SparkSession, location: String)
      : DataFrame =
    spark.read.schema("id BIGINT, k STRING").parquet(s"$location/postings")

  /** Build (or reuse) a bitmap index: one directory of row ids per
    * distinct (stringified) key value. Refuses keys with more than
    * `maxCardinality` distinct values — that column wants the btree. */
  def ensureBitmap(df: DataFrame, idCol: String, keyCol: String,
      location: String, sourcePath: String, maxCardinality: Int = 10000,
      fingerprintOverride: Option[String] = None): Boolean = {
    val fp = fingerprintOverride.getOrElse(
      AnnIndex.sourceFingerprint(sourcePath))
    AnnIndex.readManifest(location) match {
      // sourceRows >= 0 / filestats SETTLED (present or provably
      // declined): pre-accounting and pre-filestats manifests each
      // rebuild once; declined indexes are not rebuilt forever
      case Some(m) if m.fingerprint == fp && m.indexType == "bitmap" &&
          m.sourcePath.nonEmpty && m.sourceRows >= 0 &&
          fileStatsFresh(location) => false
      case _ =>
        AnnIndex.deleteRecursively(location)
        buildValueDirs(bitmapRows(df, idCol, keyCol), location,
          "bitmap", "equality", maxCardinality, fp,
          s"ensureBitmap: $keyCol",
          " — use a btree index",
          sourcePath, idCol, keyCol,
          sourceRows = df.count(), // pruned count, no widen shuffle
          fileStats = Some(dest => writeBitmapFileStats(df.sparkSession,
            keyCol, dest, "overwrite", sourcePath)))
    }
  }

  /** The shared bitmap/label-list build: ONE corpus scan writes the
    * value-partitioned postings into staging; per-value counts and the
    * cardinality guard derive from the WRITTEN postings (index-local
    * narrow reads — naive lineage would scan the corpus once per output,
    * 3× the cost at 100 TB). An over-cardinality key aborts BEFORE
    * publish, so the guard still refuses the index — it just pays its
    * one scan first instead of a scan to pre-count plus two more. */
  private def buildValueDirs(rows: DataFrame, location: String,
      indexType: String, metric: String, maxCardinality: Int, fp: String,
      what: String, hint: String,
      sourcePath: String, idCol: String, keyCol: String,
      sourceRows: Long = -1L,
      fileStats: Option[String => Unit] = None): Boolean = {
    val spark = rows.sparkSession
    var card = 0L
    val built = AnnIndex.buildAndPublish(location,
      AnnIndex.Manifest(indexType, metric, 0, 0, fp,
        sourcePath = sourcePath, sourceIdCol = idCol,
        sourceKeyCol = keyCol, sourceRows = sourceRows)) { staging =>
      rows.repartition(col("k"))
        .write.mode("overwrite").partitionBy("k")
        .parquet(s"$staging/postings")
      val values = spark.read
        .schema("id BIGINT, k STRING").parquet(s"$staging/postings")
        .groupBy(col("k")).agg(count(lit(1)).as("n_rows"))
      values.coalesce(1).write.mode("overwrite").parquet(s"$staging/values")
      // stats writer gets the staging destination; it validates or
      // declines in place (see writeBitmapFileStats)
      fileStats.foreach(write => write(s"$staging/filestats"))
      card = spark.read.parquet(s"$staging/values").count()
      require(card <= maxCardinality,
        s"$what has $card distinct values " +
          s"(> maxCardinality=$maxCardinality)$hint")
    }
    // stamp the true cardinality as nlist (the manifest was written with
    // 0 inside the staging callback, before the count existed)
    if (built)
      AnnIndex.readManifest(location).foreach(m =>
        AnnIndex.writeManifest(location, m.copy(nlist = card.toInt)))
    built
  }

  /** The RUNNING value cardinality after an append, re-checked against
    * the same bound the build enforces: without this, incremental ingest
    * could grow a bitmap's value-directory count arbitrarily past the
    * limit that would have refused the build — the degenerate
    * near-unique layout the guard exists to prevent (ADVICE r13). One
    * aggregate over the delta-row values table (≤ cardinality × slices
    * rows, metadata-sized). Throws AFTER the postings landed but BEFORE
    * the manifest re-stamp, so the index reads as stale (the `partial:`
    * crash discipline) and the next ensure* rebuild refuses properly. */
  private def checkAppendCardinality(spark: SparkSession, location: String,
      maxCardinality: Int, what: String, hint: String): Int = {
    val card = spark.read.parquet(s"$location/values")
      .select(col("k")).distinct().count()
    require(card <= maxCardinality,
      s"$what: appends grew the index to $card distinct values " +
        s"(> maxCardinality=$maxCardinality)$hint")
    card.toInt
  }

  /** Incrementally ADD rows: new values simply create new partitions;
    * per-value counts land as delta rows. The build's cardinality guard
    * RE-APPLIES to the running total ([[checkAppendCardinality]]), and
    * the manifest's nlist tracks it. Crash discipline as above. */
  def appendBitmap(delta: DataFrame, idCol: String, keyCol: String,
      location: String, newFingerprint: String,
      maxCardinality: Int = 10000): Unit = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "bitmap", s"not a bitmap index: $location")
    val rows = bitmapRows(delta, idCol, keyCol)
    rows.repartition(col("k"))
      .write.mode("append").partitionBy("k").parquet(s"$location/postings")
    rows.groupBy(col("k")).agg(count(lit(1)).as("n_rows"))
      .coalesce(1).write.mode("append").parquet(s"$location/values")
    // filestats delta — only when the build stamped them (presence means
    // completeness to readers); fresh-source provenance over exactly the
    // files the map does not know yet (see the btree twin)
    if (IndexFs.exists(s"$location/filestats"))
      writeBitmapFileStats(delta.sparkSession, keyCol,
        s"$location/filestats", "append", man.sourcePath,
        onlyFiles = Some(newSourceFiles(delta.sparkSession,
          s"$location/filestats", man.sourcePath)))
    val card = checkAppendCardinality(delta.sparkSession, location,
      maxCardinality, s"appendBitmap: $keyCol", " — use a btree index")
    // row accounting: ALL delta rows (incl. null/empty keys) join the
    // reconciliation denominator; unknown (-1) stays unknown
    val newRows =
      if (man.sourceRows < 0) -1L
      else man.sourceRows + delta.count() // pruned count, no widen shuffle
    AnnIndex.writeManifest(location,
      man.copy(fingerprint = newFingerprint, nlist = card,
        sourceRows = newRows))
  }

  /** Equality search: ids whose key ∈ `values`. The read carries a static
    * `k IN (...)` partition filter — only the asked-for values'
    * directories are listed, the 100 TB pruning story for categorical
    * predicates. Returns (id, k), tombstone-cleaned. */
  def searchBitmap(spark: SparkSession, location: String,
      values: Seq[String]): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "bitmap", s"not a bitmap index: $location")
    require(values.nonEmpty, "searchBitmap: values must be non-empty")
    antiTombstones(
      bitmapPostings(spark, location)
        .filter(col("k").isInCollection(values)),
      location)
      .select(col("id"), col("k"))
  }

  /** Conjunctive bitmap search — `keyA ∈ valuesA AND keyB ∈ valuesB` via
    * TWO bitmap indexes: both sides are partition-pruned directory reads
    * of narrow id lists, intersected with a semi-join (AQE picks
    * broadcast when a side is selective). The composability that makes
    * bitmaps worth persisting: arbitrary categorical conjunctions without
    * touching the base table. Returns the matching ids. */
  def searchBitmapAnd(spark: SparkSession,
      locationA: String, valuesA: Seq[String],
      locationB: String, valuesB: Seq[String]): DataFrame =
    searchBitmap(spark, locationA, valuesA).select(col("id"))
      .join(searchBitmap(spark, locationB, valuesB).select(col("id")),
        Seq("id"), "left_semi")

  // ---- LABEL_LIST (array membership) ------------------------------------

  /** Incrementally ADD rows to a label-list index: the delta's exploded
    * distinct pairs append as new files (new labels = new directories);
    * per-label counts land as delta rows. The pairs-distinct law holds
    * across slices because an id arrives in exactly one slice. Crash
    * discipline as everywhere: `partial:` at build, re-stamp here. */
  def appendLabelList(delta: DataFrame, idCol: String, arrCol: String,
      location: String, newFingerprint: String,
      maxCardinality: Int = 10000): Unit = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "label_list",
      s"not a label-list index: $location")
    val rows = TextFunctions.widen(delta)
      .filter(col(arrCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), explode(col(arrCol)).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("id"), col("__v").cast("string").as("k"))
      .filter(col("k") =!= "") // empty labels unindexed, the bitmapRows rule
      .distinct()
    rows.repartition(col("k"))
      .write.mode("append").partitionBy("k").parquet(s"$location/postings")
    rows.groupBy(col("k")).agg(count(lit(1)).as("n_rows"))
      .coalesce(1).write.mode("append").parquet(s"$location/values")
    val card = checkAppendCardinality(delta.sparkSession, location,
      maxCardinality, s"appendLabelList: $arrCol", "")
    AnnIndex.writeManifest(location,
      man.copy(fingerprint = newFingerprint, nlist = card))
  }

  /** Build (or reuse) a LABEL-LIST index over an ARRAY column: the bitmap
    * layout applied to the EXPLODED distinct (id, label) pairs — one id
    * directory per label, so `array_has_any`/`array_has_all` predicates
    * prune to the asked-for labels' directories exactly like bitmap
    * equality does for scalars. The cardinality guard applies to the
    * LABEL vocabulary (ids appear under every label they carry). Null
    * arrays and null elements are not indexed — a membership search can
    * never return them. */
  def ensureLabelList(df: DataFrame, idCol: String, arrCol: String,
      location: String, sourcePath: String, maxCardinality: Int = 10000,
      fingerprintOverride: Option[String] = None): Boolean = {
    val fp = fingerprintOverride.getOrElse(
      AnnIndex.sourceFingerprint(sourcePath))
    AnnIndex.readManifest(location) match {
      case Some(m) if m.fingerprint == fp &&
          m.indexType == "label_list" && m.sourcePath.nonEmpty =>
        false
      case _ =>
        AnnIndex.deleteRecursively(location)
        val rows = TextFunctions.widen(df)
          .filter(col(arrCol).isNotNull)
          .select(col(idCol).cast("long").as("id"),
            explode(col(arrCol)).as("__v"))
          .filter(col("__v").isNotNull)
          .select(col("id"), col("__v").cast("string").as("k"))
          .filter(col("k") =!= "") // empty labels unindexed
          .distinct()
        buildValueDirs(rows, location, "label_list", "membership",
          maxCardinality, fp, s"ensureLabelList: $arrCol", "",
          sourcePath, idCol, arrCol)
    }
  }

  /** `array_has_any(arr, labels)` via the label-list index: the union of
    * the asked-for labels' id directories, deduplicated (an id carrying
    * several of the labels appears once). Partition-pruned read,
    * tombstone-cleaned. Returns (id). */
  def searchHasAny(spark: SparkSession, location: String,
      labels: Seq[String]): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "label_list",
      s"not a label-list index: $location")
    require(labels.nonEmpty, "searchHasAny: labels must be non-empty")
    antiTombstones(
      bitmapPostings(spark, location)
        .filter(col("k").isInCollection(labels)),
      location)
      .select(col("id")).distinct()
  }

  /** `array_has_all(arr, labels)` via the label-list index: ids present
    * under EVERY asked-for label — pairs are distinct by construction, so
    * carrying all |labels| labels ⇔ matching |labels| rows (the same
    * count law the ngram candidate phase uses; here it is exact, not a
    * pre-filter, because membership IS the predicate). Returns (id). */
  def searchHasAll(spark: SparkSession, location: String,
      labels: Seq[String]): DataFrame = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "label_list",
      s"not a label-list index: $location")
    val distinctLabels = labels.distinct
    require(distinctLabels.nonEmpty, "searchHasAll: labels must be non-empty")
    antiTombstones(
      bitmapPostings(spark, location)
        .filter(col("k").isInCollection(distinctLabels)),
      location)
      .groupBy(col("id")).agg(count(lit(1)).as("__k"))
      .filter(col("__k") === distinctLabels.size)
      .select(col("id"))
  }

  /** Fold tombstones into the bitmap or label-list layout (postings
    * rewritten minus deleted ids, per-value counts collapsed to one true
    * row each, tombstones cleared). Both stagings written before either
    * swap — the values staging derives from the WRITTEN postings staging
    * (the [[compactBtree]] ordering discipline). Results unchanged. */
  def compactBitmap(spark: SparkSession, location: String): Unit = {
    val man = AnnIndex.readManifest(location).getOrElse(
      throw new IllegalStateException(s"no index at $location"))
    require(man.indexType == "bitmap" || man.indexType == "label_list",
      s"not a bitmap/label-list index: $location")
    val pid = AnnIndex.uniqueSuffix()
    antiTombstones(bitmapPostings(spark, location), location)
      .repartition(col("k"))
      .write.mode("overwrite").partitionBy("k")
      .parquet(s"$location/postings.compact.$pid")
    spark.read.schema("id BIGINT, k STRING")
      .parquet(s"$location/postings.compact.$pid")
      .groupBy(col("k")).agg(count(lit(1)).as("n_rows"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$location/values.compact.$pid")
    swapStaged(location, "postings", pid)
    swapStaged(location, "values", pid)
    AnnIndex.deleteRecursively(tombstoneDir(location))
  }
}
