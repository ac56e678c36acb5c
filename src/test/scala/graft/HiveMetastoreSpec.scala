package graft

import java.nio.file.Files

/** Persistent-metastore parity check (VERDICT "what's missing" #5): the
  * reference backs its catalog with a Hive metastore so tables OUTLIVE
  * the Spark session (`docker-compose.storage.yaml:20-39`); the
  * in-memory session catalog the other suites use cannot show that. A
  * hive-enabled session's catalogImplementation is a STATIC conf — it
  * cannot be flipped on this suite's already-running SparkContext — so
  * the check runs two CHILD JVMs against one Derby-backed warehouse:
  * one writes a catalog table and exits; a second, completely fresh JVM
  * must find it by name through the metastore alone. */
class HiveMetastoreSpec extends SparkSpec {

  private def runChild(mode: String, warehouse: String): Int = {
    val (rc, out) = ChildJvm.run("graft.HiveChild", warehouse, mode)
    if (rc != 0) info(s"child[$mode] output:\n${out.takeRight(4000)}")
    rc
  }

  test("catalog tables persist across JVMs through the Derby-backed Hive metastore") {
    val warehouse = Files.createTempDirectory("hivews").toString
    assert(runChild("write", warehouse) == 0, "writer child failed")
    assert(runChild("read", warehouse) == 0,
      "fresh JVM could not resolve the table from the metastore")
  }
}

/** Child entry point for [[HiveMetastoreSpec]] — must run in its own JVM
  * because `spark.sql.catalogImplementation` is static per-context. */
object HiveChild {
  def main(args: Array[String]): Unit = {
    val warehouse = args(0)
    val mode = args(1)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.warehouse.dir", s"$warehouse/wh")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouse/metastore_db;create=true")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .enableHiveSupport()
      .getOrCreate()
    try mode match {
      case "write" =>
        spark.sql("CREATE DATABASE IF NOT EXISTS graft_db")
        spark.range(10).selectExpr("id", "id * 2 AS v")
          .write.mode("overwrite").saveAsTable("graft_db.t_persist")
        val n = spark.table("graft_db.t_persist").count()
        require(n == 10, s"writer read back $n rows")
      case "read" =>
        // a FRESH context: the table name must resolve via the metastore
        val n = spark.table("graft_db.t_persist").count()
        require(n == 10, s"expected 10 rows via metastore, got $n")
        val v = spark.sql(
          "SELECT CAST(sum(v) AS BIGINT) FROM graft_db.t_persist").head().getLong(0)
        require(v == 90, s"expected sum 90, got $v")
    } finally spark.stop()
  }
}
