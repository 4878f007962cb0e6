package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL DDL over the graft DSv2 sources: CREATE TABLE ... USING graft-json
  * registers a catalog table whose reads go through the graft scan
  * (pushdown included) — the surface a SQL-first user drives the engine
  * with, no DataFrame code at all.
  */
class SqlDdlSpec extends AnyFunSuite with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("sql-ddl-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_ddl_warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    super.afterAll()
  }

  test("CREATE TABLE USING graft-json + SQL reads with pushdown") {
    val s = spark
    val dir = "/tmp/graft_ddl_spec/data"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "rows.jsonl"),
      """{"id": 1, "name": "a", "score": 10}
        |{"id": 2, "name": "b", "score": 20}
        |{"id": 3, "name": "c", "score": 30}
        |""".stripMargin.getBytes("UTF-8"))
    s.sql("DROP TABLE IF EXISTS graft_ddl_t")
    s.sql(
      s"""CREATE TABLE graft_ddl_t (id BIGINT, name STRING, score BIGINT)
         |USING `graft-json` LOCATION '$dir'""".stripMargin)
    val rows = s.sql(
      "SELECT name, score FROM graft_ddl_t WHERE score > 10 ORDER BY id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("b", 20L), ("c", 30L)))
    // the catalog table's scan is the graft DSv2 scan, not a fallback
    val plan = s.sql("SELECT id FROM graft_ddl_t").queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("graft") || plan.contains("BatchScan"),
      s"expected the graft DSv2 scan in:\n$plan")
    s.sql("DROP TABLE graft_ddl_t")
  }

  test("INSERT INTO a graft catalog table writes through the DSv2 sink") {
    val s = spark
    val dir = "/tmp/graft_ddl_spec/ins"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    s.sql("DROP TABLE IF EXISTS graft_ddl_ins")
    s.sql(
      s"""CREATE TABLE graft_ddl_ins (id BIGINT, name STRING)
         |USING `graft-json` LOCATION '$dir'""".stripMargin)
    s.sql("INSERT INTO graft_ddl_ins VALUES (1, 'x'), (2, 'y')")
    s.sql("INSERT INTO graft_ddl_ins SELECT id + 10, upper(name) FROM graft_ddl_ins")
    val rows = s.sql("SELECT id, name FROM graft_ddl_ins ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "x"), (2L, "y"), (11L, "X"), (12L, "Y")))
    s.sql("DROP TABLE graft_ddl_ins")
  }

  test("INSERT OVERWRITE a graft catalog table truncates then writes") {
    val s = spark
    val dir = "/tmp/graft_ddl_spec/ovr"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    s.sql("DROP TABLE IF EXISTS graft_ddl_ovr")
    s.sql(
      s"""CREATE TABLE graft_ddl_ovr (id BIGINT, name STRING)
         |USING `graft-json` LOCATION '$dir'""".stripMargin)
    s.sql("INSERT INTO graft_ddl_ovr VALUES (1, 'x'), (2, 'y')")
    // full-table overwrite routes through SupportsTruncate: the prior
    // rows (and their commit history) are replaced, not appended to
    s.sql("INSERT OVERWRITE graft_ddl_ovr VALUES (7, 'q'), (8, 'r')")
    val rows = s.sql("SELECT id, name FROM graft_ddl_ovr ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((7L, "q"), (8L, "r")))
    s.sql("DROP TABLE graft_ddl_ovr")
  }

  test("CTAS: CREATE TABLE USING graft-json AS SELECT") {
    val s = spark
    val dir = "/tmp/graft_ddl_spec/ctas"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    s.sql("DROP TABLE IF EXISTS graft_ddl_ctas")
    s.sql(
      s"""CREATE TABLE graft_ddl_ctas USING `graft-json` LOCATION '$dir'
         |AS SELECT id, concat('n', id) AS name FROM range(5)""".stripMargin)
    val rows = s.sql("SELECT id, name FROM graft_ddl_ctas ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == (0L to 4L).map(i => (i, s"n$i")))
    s.sql("DROP TABLE graft_ddl_ctas")
  }

  test("table-level CHECK constraint via TBLPROPERTIES binds every INSERT") {
    val s = spark
    val dir = tempDir("graft-ddl-check").toString
    s.sql(
      s"""CREATE TABLE graft_ddl_chk (id BIGINT, score DOUBLE)
         |USING `graft-json` LOCATION '$dir'
         |TBLPROPERTIES ('check' = 'score BETWEEN 0.0 AND 1.0')""".stripMargin)
    s.sql("INSERT INTO graft_ddl_chk VALUES (1, 0.5), (2, 0.9)")
    assert(s.sql("SELECT count(*) FROM graft_ddl_chk").collect()(0).getLong(0) == 2)
    val e = intercept[Exception] {
      s.sql("INSERT INTO graft_ddl_chk VALUES (3, 1.5)")
    }
    def hasViolation(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("CHECK constraint violated"))
        || hasViolation(t.getCause))
    assert(hasViolation(e))
    // the failed insert published nothing
    assert(s.sql("SELECT count(*) FROM graft_ddl_chk").collect()(0).getLong(0) == 2)
    s.sql("DROP TABLE graft_ddl_chk")
  }
}
