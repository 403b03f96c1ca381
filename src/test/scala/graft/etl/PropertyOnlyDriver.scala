package graft.etl

import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo}
import java.util.Properties
import java.util.logging.Logger

/** A JDBC driver that only the `driver` connection property can name: it
  * is not listed for service discovery and does not register itself, so a
  * bare `DriverManager.getConnection` finds no driver for its URLs until
  * Spark's `DriverRegistry` has loaded it. It serves `jdbc:graftprop:<rest>`
  * by opening Derby's `jdbc:derby:<rest>`. */
final class PropertyOnlyDriver extends Driver {
  import PropertyOnlyDriver.Prefix

  override def acceptsURL(url: String): Boolean = url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else DriverManager.getConnection("jdbc:derby:" + url.stripPrefix(Prefix), info)

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger = Logger.getLogger("graft.etl")
}

object PropertyOnlyDriver {
  val Prefix = "jdbc:graftprop:"
}
