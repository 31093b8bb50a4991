package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.backend.{CreateMode, DropMode, MetadataBackend, Page, TableInfo}
import graft.core.{GraftError, ObjectIdentifier}

/** A `MetadataBackend` that forwards every member to another backend and
  * records a `backend` span around each call. Registered under its own
  * short name through the public `MetadataBackend.register`, so a catalog
  * configured with that name runs the real backend behind it.
  *
  * Every overridable member is forwarded, the batch and paged ones too:
  * falling back to a trait default would turn one bulk RPC into one call
  * per table and change what is measured. */
class TimedBackend(delegate: MetadataBackend) extends MetadataBackend
    with AutoCloseable {

  private def timed[T](name: String)(f: => T): T = {
    try Trace.span("backend", name)(f)
    catch {
      case e: GraftError.TableNotFound => throw e
      case e: GraftError.NamespaceNotFound => throw e
      case e: Throwable =>
        TimedBackend.errors.incrementAndGet()
        TimedBackend.lastError = s"$name: $e"
        throw e
    }
  }

  override def initialize(props: Map[String, String]): Unit =
    delegate.initialize(props)
  override def backendId: String = s"timed(${delegate.backendId})"

  override def listNamespaces(parent: ObjectIdentifier): Seq[ObjectIdentifier] =
    timed("listNamespaces")(delegate.listNamespaces(parent))
  override def createNamespace(id: ObjectIdentifier, properties: Map[String, String],
      mode: CreateMode): Map[String, String] =
    timed("createNamespace")(delegate.createNamespace(id, properties, mode))
  override def namespaceExists(id: ObjectIdentifier): Boolean =
    timed("namespaceExists")(delegate.namespaceExists(id))
  override def describeNamespace(id: ObjectIdentifier): Map[String, String] =
    timed("describeNamespace")(delegate.describeNamespace(id))
  override def dropNamespace(id: ObjectIdentifier, mode: DropMode): Map[String, String] =
    timed("dropNamespace")(delegate.dropNamespace(id, mode))
  override def updateNamespaceProperties(id: ObjectIdentifier,
      updates: Map[String, String], removals: Set[String]): Map[String, String] =
    timed("updateNamespaceProperties")(
      delegate.updateNamespaceProperties(id, updates, removals))

  override def listTables(ns: ObjectIdentifier): Seq[ObjectIdentifier] =
    timed("listTables")(delegate.listTables(ns))
  override def tableExists(id: ObjectIdentifier): Boolean =
    timed("tableExists")(delegate.tableExists(id))
  override def describeTable(id: ObjectIdentifier): TableInfo =
    timed("describeTable")(delegate.describeTable(id))
  override def describeTables(ids: Seq[ObjectIdentifier]): Seq[TableInfo] =
    timed("describeTables")(delegate.describeTables(ids))
  override def declareTable(id: ObjectIdentifier, location: Option[String],
      properties: Map[String, String], schemaJson: Option[String]): TableInfo =
    timed("declareTable")(delegate.declareTable(id, location, properties, schemaJson))
  override def dropTable(id: ObjectIdentifier, purge: Boolean): TableInfo =
    timed("dropTable")(delegate.dropTable(id, purge))
  override def defaultTableLocation(root: String, id: ObjectIdentifier): String =
    timed("defaultTableLocation")(delegate.defaultTableLocation(root, id))

  override def listNamespacesPaged(parent: ObjectIdentifier, pageToken: Option[String],
      limit: Option[Int]): Page[ObjectIdentifier] =
    timed("listNamespacesPaged")(delegate.listNamespacesPaged(parent, pageToken, limit))
  override def listTablesPaged(ns: ObjectIdentifier, pageToken: Option[String],
      limit: Option[Int]): Page[ObjectIdentifier] =
    timed("listTablesPaged")(delegate.listTablesPaged(ns, pageToken, limit))

  override def close(): Unit = delegate match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

object TimedBackend {
  /** Backend calls that failed, traced or not. Not-found answers are
    * results, not failures, and are not counted. Failures that a caller
    * swallows still count here. */
  val errors = new AtomicLong
  @volatile var lastError: String = ""

  /** Register `timed-<name>` for each backend short name given. */
  def register(names: Seq[String]): Unit = names.foreach { n =>
    MetadataBackend.register(s"timed-$n", () => new TimedBackend(MetadataBackend.create(n)))
  }

  /** The `MetadataBackend` members that reach the delegate of the decorator
    * `wrap` makes as a different call than the one made (empty when every
    * member is forwarded). Each trait member is invoked through the
    * decorator over a recording proxy, with placeholder arguments. */
  def unforwarded(wrap: MetadataBackend => MetadataBackend = new TimedBackend(_))
      : Seq[String] = {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def placeholder(c: Class[_]): AnyRef = c match {
      case t if t == classOf[ObjectIdentifier] => ObjectIdentifier.of(Array("ns"), "t")
      case t if t == classOf[String] => "x"
      case t if t == java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
      case t if t == classOf[CreateMode] => CreateMode.ExistOk
      case t if t == classOf[DropMode] => DropMode.Skip
      case t if t == classOf[Option[_]] => None
      case t if t == classOf[TableInfo] =>
        TableInfo(ObjectIdentifier.of(Array("ns"), "t"), "x", Map.empty)
      case t if t == classOf[Page[_]] => Page(Nil, None)
      case t if classOf[scala.collection.immutable.Map[_, _]].isAssignableFrom(t) => Map.empty
      case t if classOf[scala.collection.immutable.Set[_]].isAssignableFrom(t) => Set.empty
      case t if classOf[scala.collection.immutable.Seq[_]].isAssignableFrom(t) => Nil
      case t if t == java.lang.Void.TYPE => null
      case _ => null
    }
    val recorder = new InvocationHandler {
      override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
        seen += m.getName
        if (m.getReturnType == classOf[TableInfo] && args != null && args.nonEmpty)
          TableInfo(args(0).asInstanceOf[ObjectIdentifier], "x", Map.empty)
        else placeholder(m.getReturnType)
      }
    }
    val proxy = Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[MetadataBackend], classOf[AutoCloseable]), recorder)
      .asInstanceOf[MetadataBackend]
    val decorator = wrap(proxy)
    val members = classOf[MetadataBackend].getMethods.toSeq
      .filterNot(m => java.lang.reflect.Modifier.isStatic(m.getModifiers)) :+
      classOf[AutoCloseable].getMethod("close")
    members.flatMap { m =>
      val label = s"${m.getName}(${m.getParameterTypes.map(_.getSimpleName).mkString(",")})"
      seen.clear()
      if (!m.getDeclaringClass.isInstance(decorator)) Some(s"$label is not implemented")
      else {
        m.invoke(decorator, m.getParameterTypes.map(placeholder): _*)
        if (seen.toSeq == Seq(m.getName)) None
        else Some(s"$label reached the delegate as [${seen.mkString(",")}]")
      }
    }
  }
}
