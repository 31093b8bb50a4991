package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}

/** `write_commit`: write transactions on a managed catalog table copied at
  * set-up from the first `baseRows` rows of `events`, with a btree index on
  * `value`. Each cycle has an INSERT batch, an UPDATE and a MERGE upsert
  * on it, an index-prunable DELETE that retires the previous cycle's rows,
  * so the table size stays steady; then the maintenance calls
  * `refresh_index`, `compact_index` and `compact_table` through
  * `CALL mem.system.*`. One batch is one cycle.
  *
  * Rows inserted in cycle `c` get key values in `[10000 + c, 10001 + c)`,
  * above every copied value, so each cycle's rows form their own key range.
  * The workload keeps a model of those rows and, after each op, checks the
  * table's row count and checksums against it. */
final class WriteCommit(spark: SparkSession, dataDir: String, workDir: String,
    baseRows: Int, base: WriteCommit.Totals, baseBytes: Long) extends Workload {
  import WriteCommit._

  private val table = "mem.db.ev"
  private var tableDir: String = _
  private val indexDir = s"$workDir/idx/ev_value_btree"
  /** event_id -> (user_id, props) of the rows the workload inserted */
  private val live = scala.collection.mutable.HashMap.empty[Long, (Long, String)]
  private var nextId = FirstId
  private var cycle = 0
  private var queue = List.empty[() => Op]

  val warmupSeconds = 1.0

  // commit accounting over the traced ops
  private var filesWritten = 0L
  private var bytesWritten = 0L
  private var userBytes = 0L
  private var tracedOps = 0L

  def setup(): Unit = {
    Harness.registerMemoryCatalog(spark, "mem")
    spark.sql("CREATE NAMESPACE mem.db")
    spark.sql(s"CREATE TABLE $table (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING)")
    spark.sql(s"INSERT INTO $table SELECT event_id, user_id, event_type, value, props " +
      s"FROM parquet.`$dataDir/events.parquet` WHERE event_id < $baseRows")
    tableDir = new java.net.URI(graft.catalog.GraftProcedures.tableLocation(table)).getPath
    spark.sql(
      s"""CALL mem.system.create_index(name => 'mem.db.ev_value_idx',
         |  index_type => 'btree', source => '$tableDir', id_col => 'event_id',
         |  key_cols => 'value', location => '$indexDir')""".stripMargin).collect()
  }

  /** A transaction on the table. `ids` are the rows it changes and
    * `apply` updates the model; the check then reads the table back. */
  private def txn(kind: String, sql: String, ids: Seq[Long] = Nil,
      apply: () => Unit = () => ()): Op = {
    val traced = Trace.enabled
    val before = if (traced) listing() else Map.empty[String, Long]
    val layer = kind.takeWhile(_ != '.')
    Op(kind, () => Trace.span(layer, kind)(spark.sql(sql).collect()), { _ =>
      val sizeBefore = ids.map(id => live.get(id).fold(0L)(rowBytes))
      apply()
      if (traced) {
        val sizeAfter = ids.map(id => live.get(id).fold(0L)(rowBytes))
        val fresh = listing().filter { case (p, n) => !before.get(p).contains(n) }
        filesWritten += fresh.size
        bytesWritten += fresh.values.sum
        userBytes += sizeBefore.zip(sizeAfter).map { case (a, b) => a max b }.sum
        tracedOps += 1
      }
      readBack()
    })
  }

  private def cycleOps(c: Int): List[() => Op] = {
    val k = 10000 + c
    val first = nextId
    nextId += IdsPerCycle
    val ids = first until first + InsertRows
    val lowHalf = ids.filter(_ % 100 < 50)
    val matched = ids.take(MergeRows)
    val fresh = (0 until MergeRows).map(ids.last + 1 + _)
    val txns = List(
      () => txn("commit.insert",
        s"""INSERT INTO $table SELECT id, id % 1500, 'click', $k + (id % 100) / 100.0,
           |  concat('{"k": ', id % 100, '}')
           |FROM range($first, ${ids.last + 1}) t(id)""".stripMargin,
        ids, () => ids.foreach(id => live(id) = (id % 1500, s"""{"k": ${id % 100}}"""))),
      () => txn("commit.update",
        s"UPDATE $table SET user_id = user_id + 1 WHERE value >= $k AND value < $k.5",
        lowHalf, () => lowHalf.foreach(id => live(id) = (live(id)._1 + 1, live(id)._2))),
      () => txn("commit.merge",
        s"""MERGE INTO $table t USING (
           |  SELECT id AS event_id, id % 1500 AS user_id, 'view' AS event_type,
           |    $k + (id % 100) / 100.0 AS value, 'merged' AS props
           |  FROM range($first, ${matched.last + 1}) r(id)
           |  UNION ALL
           |  SELECT id, id % 1500, 'view', $k.99, 'merged'
           |  FROM range(${fresh.head}, ${fresh.last + 1}) r(id)) s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET t.props = s.props
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
        matched ++ fresh, () => {
          matched.foreach(id => live(id) = (live(id)._1, "merged"))
          fresh.foreach(id => live(id) = (id % 1500, "merged"))
        }),
      () => {
        val retired = (first - IdsPerCycle until first).filter(live.contains)
        txn("commit.delete", s"DELETE FROM $table WHERE value >= ${k - 1} AND value < $k",
          retired, () => retired.foreach(live.remove))
      })
    txns ++ List(
      () => txn("ops.refresh_index", s"CALL mem.system.refresh_index(index => '$indexDir')"),
      () => txn("ops.compact_index", s"CALL mem.system.compact_index(index => '$indexDir')"),
      () => txn("ops.compact_table", s"CALL mem.system.compact_table(table => '$table')"))
  }

  /** One batch is one cycle. */
  def next(): Op = {
    if (queue.isEmpty) { queue = cycleOps(cycle); cycle += 1 }
    val op = queue.head()
    queue = queue.tail
    if (queue.isEmpty) op.copy(endsBatch = true) else op
  }

  private def readBack(): Option[String] = {
    val r: Row = spark.sql(
      s"""SELECT count(*), coalesce(sum(event_id), 0), coalesce(sum(user_id), 0),
         |  coalesce(sum(length(props)), 0) FROM $table""".stripMargin).head()
    val got = Totals(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val want = Totals(base.rows + live.size, base.idSum + live.keys.sum,
      base.userSum + live.values.map(_._1).sum,
      base.propsLen + live.values.map(_._2.length.toLong).sum)
    if (got == want) None
    else {
      val rows = spark.sql(s"SELECT event_id, user_id, props FROM $table " +
        s"WHERE event_id >= $FirstId").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      val diff = (rows.keySet ++ live.keySet).toSeq.sorted
        .filter(id => rows.get(id) != live.get(id)).take(3)
        .map(id => s"$id: table ${rows.get(id)}, model ${live.get(id)}")
      Some(s"read-back $got, model $want; ${diff.mkString("; ")}")
    }
  }

  /** Data files under the table and index directories, with their sizes. */
  private def listing(): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f.getPath -> f.length)
    Seq(tableDir, indexDir).flatMap(d => walk(new File(d))).toMap
  }

  override def layerMetrics: Map[String, Double] =
    Map(
      "commit.files_written" -> filesWritten.toDouble / tracedOps.max(1),
      "commit.write_amplification" -> bytesWritten.toDouble / userBytes.max(1),
      "commit.space_amplification" ->
        listing().values.sum.toDouble / (baseBytes + live.values.map(rowBytes).sum))
}

object WriteCommit {
  /** The first id the workload inserts, above every copied id. */
  val FirstId = 10000000L
  val InsertRows = 200
  val MergeRows = 50
  /** ids reserved per cycle: the insert batch, then the merge's new rows */
  val IdsPerCycle = 1000L

  /** Row count and checksums of the table. */
  final case class Totals(rows: Long, idSum: Long, userSum: Long, propsLen: Long)

  /** Approximate logical bytes of one row: three 8-byte numbers, a short
    * event type and the props text. The copied rows are sized the same way. */
  def rowBytes(r: (Long, String)): Long = 29L + r._2.length
}
