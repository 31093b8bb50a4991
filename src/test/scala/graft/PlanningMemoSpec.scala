package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.backend.{MemoryBackend, MetadataBackend}
import graft.core.ObjectIdentifier
import graft.plans.IndexRoute

/** Memory backend that counts route-discovery walks (root namespace
  * listings) per `tag` option, and refuses them with `fail_list=true`. */
class CountingBackend extends MemoryBackend {
  private var tag = ""
  private var failList = false

  override def initialize(props: Map[String, String]): Unit = {
    super.initialize(props)
    tag = props.getOrElse("tag", "")
    failList = props.get("fail_list").contains("true")
  }

  override def listNamespaces(parent: ObjectIdentifier): Seq[ObjectIdentifier] = {
    if (parent.isRoot) CountingBackend.walks(tag).incrementAndGet()
    if (failList)
      throw new IllegalStateException(s"listNamespaces refused by $tag")
    super.listNamespaces(parent)
  }
}

object CountingBackend {
  private val counts =
    scala.collection.concurrent.TrieMap.empty[String, AtomicInteger]
  def walks(tag: String): AtomicInteger =
    counts.getOrElseUpdate(tag, new AtomicInteger())
}

/** Planning reuses metadata that has not changed: route discovery walks
  * the catalogs once per catalog epoch, and a warm routed query over
  * catalog tables is analyzed and optimized without a Spark job — while a
  * changed table or index is still seen on the next planning. */
class PlanningMemoSpec extends SparkSpec {

  MetadataBackend.register("counting", () => new CountingBackend)

  private lazy val root = Files.createTempDirectory("graft-planmemo").toString

  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** (event_id, value) with value in [0, 99.9]. */
  private val eventRows: Seq[(Long, Double)] =
    (0L until 4000L).map(i => (i, ((i * 7919L) % 1000L) / 10.0))

  private val customerRows: Seq[(Long, String)] =
    (0L until 3000L).map(i => (i, segments(((i * 31L) % 5L).toInt)))

  private def writeEvents(dir: String): Unit = {
    import spark.implicits._
    eventRows.toDF("event_id", "value").coalesce(2).write.parquet(dir)
  }

  private def optimize(src: String): Unit = {
    spark.read.parquet(src).filter(col("value") > 50.0)
      .select(col("event_id"), col("value")).queryExecution.optimizedPlan
    ()
  }

  private def createIndex(cat: String, name: String, kind: String,
      source: String, id: String, key: String): String = {
    val loc = s"$root/idx/$name"
    spark.sql(
      s"""CALL $cat.system.create_index(name => '$cat.$name',
         |  index_type => '$kind', source => '$source', id_col => '$id',
         |  key_cols => '$key', location => '$loc', buckets => '8')"""
        .stripMargin).collect()
    loc
  }

  test("route discovery walks the catalogs once per catalog epoch: 20 " +
      "optimizations make one walk, and CALL create_index, CREATE TABLE, " +
      "IndexRoute.clear() and a newly registered catalog each add one") {
    val src = s"$root/epoch_src"
    writeEvents(src)
    Graft.registerCatalog(spark, "cnt", "counting", Map("tag" -> "epoch"))
    val walks = CountingBackend.walks("epoch")
    try {
      spark.sql("CREATE NAMESPACE cnt.db")
      val w0 = walks.get()
      (1 to 20).foreach(_ => optimize(src))
      assert(walks.get() - w0 == 1, "20 optimizations, one walk")

      // counted from before the change: a statement that returns rows
      // (CALL) is optimized again after it ran, which may take the walk
      def oneMoreWalkAfter(what: String)(change: => Unit): Unit = {
        val before = walks.get()
        change
        (1 to 5).foreach(_ => optimize(src))
        assert(walks.get() - before == 1, s"one walk after $what")
      }
      oneMoreWalkAfter("CALL create_index") {
        createIndex("cnt", "db.epoch_idx", "btree", src, "event_id", "value")
      }
      oneMoreWalkAfter("CREATE TABLE") {
        spark.sql("CREATE TABLE cnt.db.plain (id BIGINT)")
      }
      oneMoreWalkAfter("IndexRoute.clear()")(IndexRoute.clear())
      // the clear emptied the registry; the walk that followed found the
      // index again through its pointer table in `cnt`
      val routed = spark.read.parquet(src).filter(col("value") > 50.0)
        .select(col("event_id"), col("value"))
      assert(routed.queryExecution.executedPlan.toString.contains("epoch_idx"))
      oneMoreWalkAfter("registering another graft catalog") {
        Graft.registerCatalog(spark, "cnt_other", "memory")
      }
      assert(IndexRoute.discoveryOutcome(spark).map(_.catalog)
        .contains("cnt_other"))
      val cnt = IndexRoute.discoveryOutcome(spark).find(_.catalog == "cnt").get
      assert(cnt.namespaces == 1 && cnt.routes == 1 && cnt.errors.isEmpty,
        cnt.toString)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cnt.db.epoch_idx")
      spark.sql("DROP TABLE IF EXISTS cnt.db.plain")
      spark.conf.unset("spark.sql.catalog.cnt")
      spark.conf.unset("spark.sql.catalog.cnt_other")
      IndexRoute.clear()
    }
  }

  test("a catalog whose backend fails the walk still lets the query " +
      "plan, and the discovery outcome names the error") {
    val src = s"$root/broken_src"
    writeEvents(src)
    Graft.registerCatalog(spark, "broken", "counting",
      Map("tag" -> "broken", "fail_list" -> "true"))
    try {
      val df = spark.read.parquet(src).filter(col("value") > 50.0)
        .select(col("event_id"))
      assert(df.count() == eventRows.count(_._2 > 50.0))
      val out = IndexRoute.discoveryOutcome(spark)
        .find(_.catalog == "broken").get
      assert(out.namespaces == 0 && out.routes == 0)
      assert(out.errors.size == 1 &&
        out.errors.head.startsWith("java.lang.IllegalStateException") &&
        out.errors.head.contains("listNamespaces refused by broken"),
        out.toString)
    } finally spark.conf.unset("spark.sql.catalog.broken")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("warm routed catalog queries plan without a Spark job, and plan " +
      "from the new index after INSERT + refresh_index") {
    import spark.implicits._
    val evSrc = s"$root/ev_src"
    val custSrc = s"$root/cust_src"
    writeEvents(evSrc)
    customerRows.toDF("c_custkey", "c_mktsegment").coalesce(2)
      .write.parquet(custSrc)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.plan")
    spark.sql(s"CREATE TABLE graft.plan.events LOCATION '$evSrc'")
    spark.sql(s"CREATE TABLE graft.plan.customer LOCATION '$custSrc'")
    try {
      createIndex("graft", "plan.ev_value_idx", "btree", evSrc, "event_id",
        "value")
      createIndex("graft", "plan.cust_seg_idx", "bitmap", custSrc,
        "c_custkey", "c_mktsegment")
      val qRange = "SELECT event_id, value FROM graft.plan.events " +
        "WHERE value BETWEEN 12.5 AND 14.0"
      val qCount = "SELECT count(*) FROM graft.plan.events " +
        "WHERE value BETWEEN 20.0 AND 60.0"
      val qBitmap = "SELECT c_mktsegment, count(*) FROM graft.plan.customer " +
        "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') GROUP BY c_mktsegment"
      def expected(ev: Seq[(Long, Double)], cust: Seq[(Long, String)])
          : Map[String, Seq[String]] = Map(
        qRange -> ev.filter(r => r._2 >= 12.5 && r._2 <= 14.0)
          .map(r => s"${r._1}|${r._2}").sorted,
        qCount -> Seq(ev.count(r => r._2 >= 20.0 && r._2 <= 60.0).toString),
        qBitmap -> cust.map(_._2)
          .filter(s => s == "BUILDING" || s == "MACHINERY")
          .groupBy(identity).map { case (k, v) => s"$k|${v.size}" }
          .toSeq.sorted)

      def check(want: Map[String, Seq[String]]): Unit =
        Seq(qRange, qCount, qBitmap).foreach { q =>
          spark.sql(q).collect() // warm: first planning fills the memo
          val (df, jobs) = JobCounter.jobsDuring(spark.sparkContext) {
            val df = spark.sql(q)
            df.queryExecution.optimizedPlan
            df
          }
          assert(jobs == 0, s"$jobs job(s) planning $q")
          val plan = df.queryExecution.executedPlan.toString
          assert(!plan.contains("BatchScan"), s"$q not index-served:\n$plan")
          assert(rows(df) == want(q), q)
        }

      check(expected(eventRows, customerRows))

      val moreEvents = Seq((100000L, 13.0), (100001L, 30.0))
      val moreCustomers = Seq((90000L, "BUILDING"))
      spark.sql("INSERT INTO graft.plan.events VALUES " +
        "(100000, 13.0D), (100001, 30.0D)")
      spark.sql("INSERT INTO graft.plan.customer VALUES (90000, 'BUILDING')")
      spark.sql("CALL graft.system.refresh_index(" +
        "index => 'graft.plan.ev_value_idx')").collect()
      spark.sql("CALL graft.system.refresh_index(" +
        "index => 'graft.plan.cust_seg_idx')").collect()
      check(expected(eventRows ++ moreEvents, customerRows ++ moreCustomers))
    } finally {
      Seq("events", "customer", "ev_value_idx", "cust_seg_idx")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft.plan.$t"))
      IndexRoute.clear()
    }
  }

  test("a table whose files are replaced by a wider-schema write reports " +
      "the new schema") {
    import spark.implicits._
    val dir = s"$root/wide_src"
    Seq((1L, "a")).toDF("id", "name").write.parquet(dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.plan")
    spark.sql(s"CREATE TABLE graft.plan.wide LOCATION '$dir'")
    try {
      assert(spark.table("graft.plan.wide").columns.toSeq == Seq("id", "name"))
      Seq((2L, "b", 2.5)).toDF("id", "name", "score")
        .write.mode("overwrite").parquet(dir)
      val t = spark.table("graft.plan.wide")
      assert(t.columns.toSeq == Seq("id", "name", "score"))
      assert(t.collect().toSeq == Seq(Row(2L, "b", 2.5)))
    } finally spark.sql("DROP TABLE IF EXISTS graft.plan.wide")
  }
}
