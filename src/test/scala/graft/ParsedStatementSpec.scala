package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.TableIdentifier
import graft.engine.QueryEngine

/** Statements are parsed once by Spark's parser and served from the
  * plan: DML takes its target, assignments and condition from the
  * parsed node, graft's SQL extensions are plan rewrites, and data
  * values never travel as statement text. */
class ParsedStatementSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new QueryEngine(spark)

  private val Db = "pstmt"

  private def setup(table: String, ddl: String, values: String): Unit = {
    engine.execute(s"CREATE DATABASE IF NOT EXISTS $Db")
    engine.execute(s"DROP TABLE IF EXISTS $Db.$table")
    engine.execute(s"CREATE TABLE $Db.$table $ddl")
    engine.execute(s"INSERT INTO $Db.$table VALUES $values")
  }

  test("UPDATE: a WHERE inside a SET literal is data") {
    setup("kv", "(id int64, v string) STORAGE filesystem", "(1, 'x'), (2, 'y')")
    val r = engine.execute(s"UPDATE $Db.kv SET v = 'a where b' WHERE id = 1")
    assert(r.message == "UPDATE 1")
    assert(engine.execute(s"SELECT id, v FROM $Db.kv ORDER BY id").data ==
      Seq(Seq(1L, "a where b"), Seq(2L, "y")))
    engine.execute(s"DROP TABLE $Db.kv")
  }

  test("DELETE that empties a partition whose value ends in a backslash drops it") {
    // 'a\\' in SQL text is the value a\ — a spec rendered back into
    // statement text would escape its own closing quote
    setup("pt", "(id int64, p string) STORAGE filesystem PARTITION BY (p)",
      "(1, 'a\\\\'), (2, 'b'), (3, 'c')")
    val r = engine.execute(s"DELETE FROM $Db.pt WHERE p = 'a\\\\'")
    assert(r.message == "DELETE 1")
    val parts = spark.sessionState.catalog
      .listPartitions(TableIdentifier("pt", Some(Db))).map(_.spec("p")).toSet
    assert(parts == Set("b", "c"))
    assert(engine.execute(s"SELECT id, p FROM $Db.pt ORDER BY id").data ==
      Seq(Seq(2L, "b"), Seq(3L, "c")))
    engine.execute(s"DROP TABLE $Db.pt")
  }

  test("INDEX_PROBE, VERSION AS OF and ICEBERG_SCAN reads leave the session's temp views unchanged") {
    setup("docs", "(doc_id int64, text string) STORAGE filesystem",
      "(1, 'the quick brown fox'), (2, 'a lazy dog')")
    engine.execute(s"UPDATE $Db.docs SET text = 'the lazy fox' WHERE doc_id = 2") // snapshot 1
    val loc = spark.sessionState.catalog.getTableMetadata(
      TableIdentifier("docs", Some(Db))).location.toString.replace("'", "''")
    val stmts = Seq(
      s"SELECT * FROM INDEX_PROBE($Db.docs, 'bm25', doc_id, text, 'fox', 5)",
      s"SELECT count(*) AS n FROM $Db.docs VERSION AS OF 1 WHERE text LIKE '%dog%'",
      s"SELECT count(*) AS n FROM ICEBERG_SCAN('$loc') WHERE text LIKE '%fox%'")
    def tempViews() =
      spark.sessionState.catalog.listLocalTempViews("*").map(_.table).toSet
    val before = tempViews()
    val results = (0 until 50).map(i => engine.execute(stmts(i % stmts.length)))
    assert(tempViews() == before)
    assert(results(0).rowCount == 2)
    assert(results(1).data == Seq(Seq(1L)))
    assert(results(2).data == Seq(Seq(2L)))
    engine.execute(s"DROP TABLE $Db.docs")
  }

  test("MERGE binds parameters in its source and fragments") {
    setup("mkv", "(id int64, v string) STORAGE filesystem", "(1, 'x')")
    val merge = s"MERGE INTO $Db.mkv t USING (SELECT :p1 AS id) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = :p2 " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, :p2)"
    val quoted = "it's \\ OR true --"
    assert(engine.execute(merge, params = Map("p1" -> 1L, "p2" -> quoted)).message ==
      "MERGE 1 updated, 0 deleted, 0 inserted")
    assert(engine.execute(merge, params = Map("p1" -> 2L, "p2" -> "y")).message ==
      "MERGE 0 updated, 0 deleted, 1 inserted")
    assert(engine.execute(s"SELECT id, v FROM $Db.mkv ORDER BY id").data ==
      Seq(Seq(1L, quoted), Seq(2L, "y")))
    engine.execute(s"DROP TABLE $Db.mkv")
  }

  test("only reads are served as reads: WITH ... INSERT writes, other writers are refused") {
    setup("wkv", "(id int64, v string) STORAGE filesystem", "(1, 'x')")
    val r = engine.execute(
      s"WITH src AS (SELECT 2 AS id, 'y' AS v) INSERT INTO $Db.wkv SELECT * FROM src")
    assert(r.message.startsWith("INSERT"))
    assert(engine.execute(s"SELECT id, v FROM $Db.wkv ORDER BY id").data ==
      Seq(Seq(1L, "x"), Seq(2L, "y")))
    val dir = java.nio.file.Files.createTempDirectory("graft-insdir").resolve("out")
    val e = intercept[IllegalArgumentException](engine.execute(
      s"INSERT OVERWRITE LOCAL DIRECTORY '$dir' STORED AS parquet SELECT * FROM $Db.wkv"))
    assert(e.getMessage.contains("not allowed"))
    assert(!java.nio.file.Files.exists(dir))
    intercept[IllegalArgumentException](
      engine.execute(s"EXECUTE IMMEDIATE 'DROP TABLE $Db.wkv'"))
    assert(spark.catalog.tableExists(s"$Db.wkv"))
    engine.execute(s"DROP TABLE $Db.wkv")
  }
}
