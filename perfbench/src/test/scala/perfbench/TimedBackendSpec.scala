package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.backend.{CreateMode, DropMode, MetadataBackend, TableInfo}
import graft.core.ObjectIdentifier

class TimedBackendSpec extends AnyFunSuite {

  test("the timing decorator forwards every MetadataBackend member as itself") {
    assert(TimedBackend.unforwarded().isEmpty)
  }

  test("a decorator that leaves a member to the trait default is caught") {
    // forwards only the abstract members: describeTables, the paged
    // listings, updateNamespaceProperties and defaultTableLocation fall back
    final class AbstractOnly(d: MetadataBackend) extends MetadataBackend {
      def initialize(props: Map[String, String]): Unit = d.initialize(props)
      def backendId: String = d.backendId
      def listNamespaces(parent: ObjectIdentifier) = d.listNamespaces(parent)
      def createNamespace(id: ObjectIdentifier, p: Map[String, String], m: CreateMode) =
        d.createNamespace(id, p, m)
      def namespaceExists(id: ObjectIdentifier) = d.namespaceExists(id)
      def describeNamespace(id: ObjectIdentifier) = d.describeNamespace(id)
      def dropNamespace(id: ObjectIdentifier, m: DropMode) = d.dropNamespace(id, m)
      def listTables(ns: ObjectIdentifier) = d.listTables(ns)
      def tableExists(id: ObjectIdentifier) = d.tableExists(id)
      def describeTable(id: ObjectIdentifier): TableInfo = d.describeTable(id)
      def declareTable(id: ObjectIdentifier, l: Option[String], p: Map[String, String],
          s: Option[String]) = d.declareTable(id, l, p, s)
      def dropTable(id: ObjectIdentifier, purge: Boolean) = d.dropTable(id, purge)
    }
    val missed = TimedBackend.unforwarded(new AbstractOnly(_)).map(_.takeWhile(_ != '('))
    assert(Set("describeTables", "listTablesPaged", "listNamespacesPaged",
      "updateNamespaceProperties", "defaultTableLocation", "close").subsetOf(missed.toSet),
      missed)
  }
}
