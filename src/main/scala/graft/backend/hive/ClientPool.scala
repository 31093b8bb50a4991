package graft.backend.hive

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hive.conf.HiveConf
import org.apache.hadoop.hive.metastore.{HiveMetaHookLoader, HiveMetaStoreClient, IMetaStoreClient, RetryingMetaStoreClient}
import org.apache.thrift.transport.TTransportException

/** Bounded blocking client pool with reconnect-on-connection-failure —
  * the shared-infrastructure piece behind every thrift-backed catalog
  * (reference semantics: `hive2/ClientPoolImpl.java:26-116` — bounded
  * size, wait/notify handoff, one reconnect+retry on a connection
  * exception, drain on close). Catalog RPCs are driver-side only, but a
  * driver serving many concurrent planner threads still needs the bound:
  * an unpooled client-per-call design holds one metastore socket per
  * in-flight query.
  */
abstract class ClientPool[C](poolSize: Int) extends AutoCloseable {
  require(poolSize > 0, s"client pool size must be > 0, got $poolSize")

  private val idle = scala.collection.mutable.ArrayDeque.empty[C]
  private var currentSize = 0
  private var closed = false

  protected def newClient(): C
  /** Re-establish a broken client; may return the same (reconnected)
    * instance or a replacement. */
  protected def reconnect(client: C): C
  protected def closeClient(client: C): Unit
  protected def isConnectionException(e: Exception): Boolean

  /** Run `action` with a pooled client. On a connection exception the
    * client is reconnected and the action retried exactly once; any
    * other failure propagates untouched. */
  def run[R](action: C => R): R = {
    var client = get()
    try {
      try action(client)
      catch {
        case e: Exception if isConnectionException(e) =>
          client =
            try reconnect(client)
            catch { case _: Exception => throw e } // surface the original
          action(client)
      }
    } finally release(client)
  }

  /** Take an idle client or, if under capacity, RESERVE a slot under the
    * monitor and connect OUTSIDE it — a slow thrift connect must not
    * stall releases, and a FAILED connect must give its slot back (and
    * wake a waiter), or poolSize transient outages would permanently
    * brick the pool into wait(). The wait loop also re-checks `closed`
    * so close() unblocks waiters with an error instead of a hang. */
  private def get(): C = {
    val pooled: Option[C] = synchronized {
      while (!closed && idle.isEmpty && currentSize >= poolSize) wait()
      if (closed) throw new IllegalStateException("client pool is closed")
      if (idle.nonEmpty) Some(idle.removeHead())
      else { currentSize += 1; None } // slot reserved; connect outside the lock
    }
    pooled.getOrElse {
      try newClient()
      catch { case e: Throwable =>
        synchronized { currentSize -= 1; notify() } // give the slot back
        throw e
      }
    }
  }

  private def release(client: C): Unit = synchronized {
    if (closed) closeClient(client)
    else { idle.prepend(client); notify() }
  }

  override def close(): Unit = synchronized {
    closed = true
    idle.foreach(closeClient)
    idle.clear()
    notifyAll()
  }
}

/** Hive metastore client pool (`hive2/Hive2ClientPool.java:27-83`):
  * clients are `RetryingMetaStoreClient` proxies over
  * [[HiveMetaStoreClient]]; transport failures, however the client
  * wraps them, trigger the pool's reconnect path
  * ([[HiveClientPool.isConnectionError]]). */
class HiveClientPool(poolSize: Int, conf: Configuration)
    extends ClientPool[IMetaStoreClient](poolSize) {

  private val hiveConf = new HiveConf(conf, classOf[HiveClientPool])

  override protected def newClient(): IMetaStoreClient =
    RetryingMetaStoreClient.getProxy(hiveConf,
      new HiveMetaHookLoader { override def getHook(tbl: org.apache.hadoop.hive.metastore.api.Table) = null },
      classOf[HiveMetaStoreClient].getName)

  override protected def reconnect(client: IMetaStoreClient): IMetaStoreClient = {
    client.close()
    client.reconnect()
    client
  }

  override protected def closeClient(client: IMetaStoreClient): Unit = client.close()

  override protected def isConnectionException(e: Exception): Boolean =
    HiveClientPool.isConnectionError(e)
}

object HiveClientPool {
  /** True when `e` or any of its causes is a broken connection: a
    * `TTransportException`, a `java.net.SocketException` (broken pipe,
    * connection reset, refused), or a thrift/HMS exception whose message
    * carries one of those — `RetryingMetaStoreClient` and HMS flatten
    * the transport failure into a `MetaException` or `TException`
    * message as often as they chain it. A pooled client whose server
    * closed its socket fails this way, and a reconnect recovers it. */
  def isConnectionError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).exists {
      case _: TTransportException | _: java.net.SocketException => true
      case t: org.apache.thrift.TException =>
        Option(t.getMessage).exists(m =>
          m.contains(classOf[TTransportException].getName) ||
            m.contains(classOf[java.net.SocketException].getName))
      case _ => false
    }
}
