package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** `sql_lookup`: short selective SQL through catalog tables in a memory
  * catalog (`mem`) and a hive2 catalog (`hms`), both registered in one
  * session. `hms` also holds declared tables and the index pointer tables.
  * Btree-routed ranges and bitmap-routed `IN` counts run beside filters and
  * aggregates no index serves.
  *
  * The queries and their expected rows come from the input file, computed
  * over the raw parquet before the run. */
final class SqlLookup(spark: SparkSession, seed: Long, dataDir: String,
    workDir: String, queries: Seq[SqlLookup.Query], nDeclared: Int) extends Workload {
  private val rnd = new scala.util.Random(seed)
  private var n = 0
  private var routable = 0
  private var served = 0

  val warmupSeconds = 5.0
  val BatchOps = 5

  def setup(): Unit = {
    Harness.registerMemoryCatalog(spark, "mem")
    Harness.registerHiveCatalog(spark, "hms")
    spark.sql("CREATE NAMESPACE mem.db")
    spark.sql(s"CREATE TABLE mem.db.events LOCATION '$dataDir/events.parquet'")
    spark.sql("CREATE NAMESPACE hms.db")
    spark.sql(s"CREATE TABLE hms.db.customer LOCATION '$dataDir/customer.parquet'")
    val hms = spark.sessionState.catalogManager.catalog("hms")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val schema = new StructType().add("id", LongType).add("name", StringType)
    (0 until nDeclared).foreach { i =>
      hms.createTable(Identifier.of(Array("db"), f"declared_$i%03d"), schema,
        Array.empty, java.util.Collections.emptyMap[String, String])
    }
    createIndex("mem", "ev_value_btree", "btree", s"$dataDir/events.parquet",
      "event_id", "value")
    createIndex("hms", "cust_segment_bitmap", "bitmap", s"$dataDir/customer.parquet",
      "c_custkey", "c_mktsegment")
  }

  private def createIndex(cat: String, name: String, kind: String, source: String,
      id: String, key: String): Unit = Harness.step(s"create index $name") {
    spark.sql(
      s"""CALL $cat.system.create_index(name => '$cat.db.${name}_idx',
         |  index_type => '$kind', source => '$source', id_col => '$id',
         |  key_cols => '$key', location => '$workDir/idx/$name')""".stripMargin)
      .collect()
  }

  private val byShape = queries.groupBy(_.shape).values.toIndexedSeq.sortBy(_.head.shape)

  /** Shapes take turns, so every batch has the same mix; the query within
    * a shape is drawn at random. */
  def next(): Op = {
    val pool = byShape(n % byShape.size)
    n += 1
    val q = pool(rnd.nextInt(pool.size))
    Op(q.shape, () => SqlLookup.run(spark, q.sql), { r =>
      val (df, rows) = r.asInstanceOf[(DataFrame, Array[Row])]
      if (q.index.nonEmpty) {
        // the executed plan of an index-served query names the index
        routable += 1
        val plan = df.queryExecution.executedPlan.toString
        if (plan.contains(q.index)) served += 1
        else if (routable - served == 1)
          System.err.println(s"[perfbench] first unrouted ${q.shape} plan: " +
            plan.replace("\n", " / "))
      }
      val got = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      if (got == q.expected) None
      else Some(s"${q.sql}: ${got.size} rows, want ${q.expected.size}; " +
        s"first ${got.take(2).mkString(",")} vs ${q.expected.take(2).mkString(",")}")
    }, n % BatchOps == 0)
  }

  override def layerMetrics: Map[String, Double] =
    Map("plans.route_served_ratio" -> (if (routable == 0) 0.0 else served.toDouble / routable))
}

object SqlLookup {
  final case class Query(shape: String, sql: String, index: String, expected: Seq[String])

  /** Parse and analyze, optimize, plan and execute as separately timed
    * phases of one query. */
  def run(spark: SparkSession, sql: String): (DataFrame, Array[Row]) = {
    val df = Trace.span("plans", "analyze")(spark.sql(sql))
    val qe = df.queryExecution
    Trace.span("plans", "optimize")(qe.optimizedPlan)
    Trace.span("plans", "physical")(qe.executedPlan)
    (df, Trace.span("exec", "collect")(df.collect()))
  }
}
