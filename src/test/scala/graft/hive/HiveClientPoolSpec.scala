package graft.hive

import java.lang.reflect.{InvocationHandler, Method, Proxy}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hive.metastore.IMetaStoreClient
import org.apache.hadoop.hive.metastore.api.{MetaException, NoSuchObjectException}
import org.apache.thrift.TException
import org.apache.thrift.transport.TTransportException
import org.scalatest.funsuite.AnyFunSuite

import graft.backend.hive.HiveClientPool

/** The HMS pool recovers a pooled client whose connection broke, however
  * the metastore client wrapped the transport failure, and retries
  * nothing else. */
class HiveClientPoolSpec extends AnyFunSuite {

  /** A metastore client whose `getAllDatabases` throws the scripted
    * failures first, then answers; counts calls and reconnects. */
  private final class ScriptedClient(failures: Throwable*) {
    private val pending = scala.collection.mutable.Queue(failures: _*)
    var calls = 0
    var reconnects = 0
    val client: IMetaStoreClient = Proxy.newProxyInstance(
      getClass.getClassLoader, Array(classOf[IMetaStoreClient]),
      new InvocationHandler {
        override def invoke(proxy: AnyRef, m: Method,
            args: Array[AnyRef]): AnyRef = m.getName match {
          case "getAllDatabases" =>
            calls += 1
            if (pending.nonEmpty) throw pending.dequeue()
            java.util.List.of("default")
          case "reconnect" => reconnects += 1; null
          case "close" => null
          case "hashCode" => Int.box(System.identityHashCode(proxy))
          case "equals" => Boolean.box(proxy eq args(0))
          case other => throw new UnsupportedOperationException(other)
        }
      }).asInstanceOf[IMetaStoreClient]
  }

  private def poolOf(s: ScriptedClient): HiveClientPool =
    new HiveClientPool(1, new Configuration()) {
      override protected def newClient(): IMetaStoreClient = s.client
    }

  private def brokenPipe = new java.net.SocketException("Broken pipe")

  Seq[(String, () => Throwable)](
    "a MetaException caused by a broken pipe" -> (() =>
      new MetaException("Got exception").initCause(brokenPipe)),
    "a TException wrapping a broken pipe" -> (() => new TException(brokenPipe)),
    "a MetaException that names the broken pipe only in its message" ->
      (() => new MetaException(
        "Got exception: java.net.SocketException Broken pipe")),
    "a TTransportException wrapping a connection reset" -> (() =>
      new TTransportException(new java.net.SocketException("Connection reset")))
  ).foreach { case (what, failure) =>
    test(s"a first call failing with $what reconnects once and succeeds") {
      val s = new ScriptedClient(failure())
      val pool = poolOf(s)
      try {
        assert(pool.run(_.getAllDatabases).toArray.toSeq == Seq("default"))
        assert(s.calls == 2 && s.reconnects == 1)
      } finally pool.close()
    }
  }

  test("a non-connection error propagates with no reconnect and no retry") {
    val s = new ScriptedClient(new NoSuchObjectException("no database x"),
      new MetaException("permission denied"))
    val pool = poolOf(s)
    try {
      intercept[NoSuchObjectException](pool.run(_.getAllDatabases))
      intercept[MetaException](pool.run(_.getAllDatabases))
      assert(s.calls == 2 && s.reconnects == 0)
    } finally pool.close()
  }

  test("isConnectionError walks the cause chain") {
    assert(HiveClientPool.isConnectionError(
      new RuntimeException(new MetaException("x").initCause(brokenPipe))))
    assert(HiveClientPool.isConnectionError(
      new java.lang.reflect.UndeclaredThrowableException(
        new TTransportException("closed"))))
    assert(!HiveClientPool.isConnectionError(
      new RuntimeException(new IllegalStateException("boom"))))
    assert(!HiveClientPool.isConnectionError(new MetaException(null: String)))
  }
}
