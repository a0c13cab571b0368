package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties

/** JDBC proxy driver for the traced sync run: `jdbc:pbtrace:<rest>`
  * opens `jdbc:<rest>` (embedded Derby here) and times every statement
  * execution, commit and rollback on it. Statements are classed by
  * their SQL: MERGE and DELETE are the load layer's upsert and
  * tombstone writes; anything naming the cursor state table, and the
  * commit of a connection that touched it, is the cursor commit. */
final class TimingDriver extends java.sql.Driver {
  import TimingDriver._

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null else {
      val inner = DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix), info)
      Trace.add("load.connections", 1)
      proxy(classOf[Connection], new ConnHandler(inner))
    }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

object TimingDriver {
  val Prefix = "jdbc:pbtrace:"

  private lazy val registered: Unit = DriverManager.registerDriver(new TimingDriver)
  def register(): Unit = registered

  private def proxy[T](cls: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h).asInstanceOf[T]

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def kind(sql: String): String = {
    val s = sql.trim.toUpperCase
    if (s.contains(SyncModel.StateTable.toUpperCase)) "cursor"
    else if (s.startsWith("MERGE")) "merge"
    else if (s.startsWith("DELETE")) "delete"
    else if (s.contains("SESSION.")) "stage"
    else "other"
  }

  private final class ConnHandler(inner: Connection) extends InvocationHandler {
    @volatile var touchedCursor = false

    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "prepareStatement" =>
        val st = call(inner, m, args).asInstanceOf[PreparedStatement]
        proxy(classOf[PreparedStatement], new StmtHandler(st, this, Option(args(0).toString)))
      case "createStatement" =>
        val st = call(inner, m, args).asInstanceOf[Statement]
        proxy(classOf[Statement], new StmtHandler(st, this, None))
      case "commit" | "rollback" =>
        if (m.getName == "rollback") Trace.add("load.rollbacks", 1)
        val k = if (touchedCursor) "cursor" else "commit"
        touchedCursor = false
        timedCall(k, inner, m, args)
      case _ => call(inner, m, args)
    }
  }

  private final class StmtHandler(inner: Statement, conn: ConnHandler,
                                  prepared: Option[String]) extends InvocationHandler {
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "addBatch" =>
        Trace.add("load.rows_bound", 1)
        call(inner, m, args)
      case n if n.startsWith("execute") =>
        val sql = prepared.orElse(Option(args).flatMap(_.headOption).map(_.toString)).getOrElse("")
        val k = kind(sql)
        if (k == "cursor") conn.touchedCursor = true
        if (prepared.isDefined && n != "executeBatch") Trace.add("load.rows_bound", 1)
        Trace.add("load.statements", 1)
        timedCall(k, inner, m, args)
      case _ => call(inner, m, args)
    }
  }

  private def timedCall(k: String, target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
    val t0 = Trace.now()
    try call(target, m, args) finally {
      val t1 = Trace.now()
      val s = (t1 - t0) / 1e9
      Trace.add("load.jdbc_s", s)
      k match {
        case "cursor" => Trace.add("cursor.commit_s", s)
        case "merge" => Trace.add("load.merge_s", s)
        case "delete" => Trace.add("load.delete_s", s)
        case _ =>
      }
      Trace.span(s"jdbc.$k", if (k == "cursor") "cursor" else "load", 3, t0, t1)
    }
  }
}
