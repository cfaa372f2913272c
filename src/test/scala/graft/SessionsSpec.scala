package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

class SessionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("the session's catalog warehouse resolves under target/ of the working dir") {
    val target = Paths.get(System.getProperty("user.dir"), "target")
    def pathOf(uri: String) = Paths.get(new org.apache.hadoop.fs.Path(uri).toUri.getPath)
    val warehouse = pathOf(spark.conf.get("spark.sql.warehouse.dir"))
    assert(warehouse.startsWith(target), s"warehouse dir $warehouse")
    // the default database, where a catalog table without a path would go
    val default = pathOf(spark.catalog.getDatabase("default").locationUri)
    assert(default.startsWith(target), s"default database at $default")
  }
}
