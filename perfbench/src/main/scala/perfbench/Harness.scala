package perfbench

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** Session, catalogs and logging shared by the workloads. */
object Harness {
  val Cores = 4

  /** Root WARN, and the embedded metastore's chatty loggers at WARN by
    * name, since its audit log writes one INFO line per RPC. */
  def quietLogs(): Unit = {
    Configurator.setRootLevel(Level.WARN)
    Seq("org.apache.hadoop.hive.metastore.HiveMetaStore.audit",
      "org.apache.hadoop.hive.metastore.HiveMetaStore",
      "org.apache.hadoop.hive.metastore.ObjectStore",
      "org.apache.hadoop.hive.metastore.RetryingHMSHandler",
      "DataNucleus", "org.datanucleus", "org.apache.spark", "org.apache.hadoop")
      .foreach(Configurator.setLevel(_, Level.WARN))
  }

  def session(workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      // untruncated scan locations in plan strings, where the index shows
      .config("spark.sql.maxMetadataStringLength", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietLogs()
    spark
  }

  /** The run's work directory; the catalogs' warehouse roots go under it. */
  var workDir = ""

  def registerMemoryCatalog(spark: SparkSession, name: String): Unit =
    register(spark, name, "timed-memory", Map.empty)

  def registerHiveCatalog(spark: SparkSession, name: String): Unit = {
    val hms = step("metastore boot")(graft.hive.LocalHiveMetastore.instance)
    quietLogs()
    register(spark, name, "timed-hive2",
      Map("hive.metastore.uris" -> s"thrift://localhost:${hms.port}"))
  }

  private def register(spark: SparkSession, name: String, backend: String,
      opts: Map[String, String]): Unit = {
    val p = s"spark.sql.catalog.$name"
    spark.conf.set(p, "graft.catalog.GraftCatalog")
    spark.conf.set(s"$p.backend", backend)
    spark.conf.set(s"$p.root", s"$workDir/warehouse/$name")
    opts.foreach { case (k, v) => spark.conf.set(s"$p.$k", v) }
  }

  /** Process CPU, GC and JIT compilation time of this JVM so far, in ms. */
  def jvmTimes(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map("cpu" -> os.getProcessCpuTime / 1e6,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.toDouble).sum,
      "jit" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  /** Runs one set-up step and logs its wall time. */
  def step[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}
