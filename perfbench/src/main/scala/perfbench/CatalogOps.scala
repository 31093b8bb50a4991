package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.types._

import graft.catalog.GraftCatalog

/** `catalog_ops`: a read-heavy mix of DSv2 calls on a `GraftCatalog` over
  * the hive2 backend and the embedded thrift metastore, against one
  * namespace of declared tables. Each create is followed by a drop of a
  * random table, so the table count stays constant. No Spark jobs run.
  *
  * The workload keeps a model of the namespace (table names and schemas)
  * and checks every listing, description and existence answer against it. */
final class CatalogOps(spark: SparkSession, seed: Long, nTables: Int) extends Workload {
  private val rnd = new scala.util.Random(seed)
  private val ns = Array("bench")
  private var catalog: GraftCatalog = _
  /** table name -> schema, the generator's model of the catalog */
  private val model = scala.collection.mutable.TreeMap.empty[String, StructType]
  private var created = 0

  val warmupSeconds = 5.0

  private val types = Seq(LongType, IntegerType, DoubleType, StringType,
    TimestampType, BooleanType, DateType)
  private def randomSchema(): StructType =
    StructType((0 until 2 + rnd.nextInt(7)).map { i =>
      StructField(s"c$i", types(rnd.nextInt(types.size)))
    })
  private def ident(t: String) = Identifier.of(ns, t)

  def setup(): Unit = {
    Harness.registerHiveCatalog(spark, "hms")
    catalog = spark.sessionState.catalogManager.catalog("hms").asInstanceOf[GraftCatalog]
    catalog.createNamespace(ns, Map("bench.seed" -> seed.toString).asJava)
    Harness.step(s"declare $nTables tables")(Seq.fill(nTables)(newTable()).foreach {
      case (name, schema) => declare(name, schema)
    })
  }

  private def newTable(): (String, StructType) = {
    created += 1
    (f"t$created%05d", randomSchema())
  }

  private def declare(name: String, schema: StructType): Unit = {
    catalog.createTable(ident(name), schema, Array.empty,
      Map("bench.owner" -> "perfbench").asJava)
    model(name) = schema
  }

  private def pick(): String = {
    val keys = model.keysIterator.toIndexedSeq
    keys(rnd.nextInt(keys.size))
  }

  private def call[T](name: String)(f: => T): T = Trace.span("catalog", name)(f)

  /** One batch: 46 units of 50 ops, as each create is followed by a drop.
    * Every batch runs the same mix, in a seeded order. */
  private val batchUnits: Seq[String] =
    Seq.fill(20)("loadTable") ++ Seq.fill(4)("tableExists") ++ Seq.fill(2)("tableMissing") ++
      Seq.fill(5)("listTables") ++ Seq("listTablesWithData") ++
      Seq.fill(5)("namespaceExists") ++ Seq.fill(5)("loadNamespaceMetadata") ++
      Seq.fill(4)("createTable")
  private var queue = List.empty[String]

  def next(): Op = {
    if (queue.isEmpty) queue = rnd.shuffle(batchUnits).toList.flatMap {
      case "createTable" => List("createTable", "dropTable")
      case unit => List(unit)
    }
    val kind = queue.head
    queue = queue.tail
    val ends = queue.isEmpty
    kind match {
      case "createTable" =>
        val (name, schema) = newTable()
        Op("createTable", () => call("createTable")(declare(name, schema)),
          _ => if (model.contains(name)) None else Some(s"createTable($name) not in model"))
      case "dropTable" =>
        val victim = pick()
        Op("dropTable", () => call("dropTable")(catalog.dropTable(ident(victim))), { r =>
          model.remove(victim)
          if (r == true) None else Some(s"dropTable($victim) returned $r")
        }, ends)
      case "loadTable" =>
        val t = pick()
        Op("loadTable", () => call("loadTable")(catalog.loadTable(ident(t))), { r =>
          val got = r.asInstanceOf[Table].schema()
          if (got == model(t)) None else Some(s"loadTable($t) schema $got, want ${model(t)}")
        }, ends)
      case "tableExists" | "tableMissing" =>
        val (t, want) =
          if (kind == "tableExists") (pick(), true) else (s"missing${rnd.nextInt(1000)}", false)
        Op("tableExists", () => call("tableExists")(catalog.tableExists(ident(t))),
          r => if (r == want) None else Some(s"tableExists($t) = $r, want $want"), ends)
      case "listTables" =>
        Op("listTables", () => call("listTables")(catalog.listTables(ns)), { r =>
          val got = r.asInstanceOf[Array[Identifier]].map(_.name).sorted.toSeq
          if (got == model.keys.toSeq) None
          else Some(s"listTables: ${got.size} names, model has ${model.size}")
        }, ends)
      case "listTablesWithData" =>
        // every table is declared only (no data files), so none survive
        Op("listTablesWithData",
          () => call("listTables")(catalog.listTables(ns, includeDeclared = false)), { r =>
            val got = r.asInstanceOf[Array[Identifier]]
            if (got.isEmpty) None else Some(s"includeDeclared=false listed ${got.length}")
          }, ends)
      case "namespaceExists" =>
        Op("namespaceExists", () => call("namespaceExists")(catalog.namespaceExists(ns)),
          r => if (r == true) None else Some("namespaceExists = false"), ends)
      case "loadNamespaceMetadata" =>
        Op("loadNamespaceMetadata",
          () => call("loadNamespaceMetadata")(catalog.loadNamespaceMetadata(ns)), { r =>
            val got = r.asInstanceOf[java.util.Map[String, String]].get("bench.seed")
            if (got == seed.toString) None else Some(s"namespace bench.seed = $got")
          }, ends)
    }
  }
}
