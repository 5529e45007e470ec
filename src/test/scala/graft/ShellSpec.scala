package graft

import java.nio.file.Files
import graft.sqlfront.GraftSession

/** The psql-analogue entry point: scripted execution with per-statement
  * error recovery and aligned rendering. */
class ShellSpec extends SparkSpec {

  test("runScript executes statements, renders aligned output, survives errors") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_shell_spec"))
    val out = Seq.newBuilder[String]
    val failures = Shell.runScript(gs,
      """CREATE TABLE t (id INT PRIMARY KEY, name TEXT);
        |INSERT INTO t VALUES (1, 'ada'), (2, 'grace');
        |SELECT nope FROM missing_table;
        |SELECT id, name FROM t ORDER BY id;
        |\dt
        |""".stripMargin, out += _)
    val o = out.result()
    assert(failures == 1)
    assert(o.exists(_.startsWith("ERROR:")), s"missing error line:\n${o.mkString("\n---\n")}")
    // the SELECT renders a header, a separator, both rows, and a row count
    val sel = o.find(_.contains("grace")).getOrElse(fail(s"no select output:\n${o.mkString("\n")}"))
    assert(sel.linesIterator.toSeq.head.matches("id\\s+\\| name\\s*"), s"bad header:\n$sel")
    assert(sel.contains("-+-") && sel.contains("(2 rows)"), s"bad rendering:\n$sel")
    // the meta-command routed through the session handler and listed t
    assert(o.last.contains("t"), s"\\dt output missing table:\n${o.last}")
  }

  test("render bounds driver rows and reports display truncation") {
    import spark.implicits._
    val r = Shell.render((1 to 100).toDF("n"), maxRows = 10)
    assert(r.contains("(10 rows) (display truncated at 10)"))
  }

  test("\\copy meta-command: unquoted-path export and round-trip load") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_shell_copy"))
    val dir = Files.createTempDirectory("graft_shell_copy_io")
    gs.sql("CREATE TABLE ct (id INT PRIMARY KEY, name TEXT)")
    gs.sql("INSERT INTO ct VALUES (1, 'ada'), (2, 'grace')")
    // psql-style unquoted path; table TO form
    gs.sql(s"\\copy ct TO $dir/ct.csv WITH (FORMAT CSV, HEADER)")
    // (query) TO form: the query's own FROM keyword must not be quoted
    gs.sql(s"\\copy (SELECT id FROM ct WHERE id > 1) TO $dir/one.csv WITH (FORMAT CSV)")
    // round-trip into a second table through the same validation path
    gs.sql("CREATE TABLE ct2 (id INT PRIMARY KEY, name TEXT)")
    gs.sql(s"\\copy ct2 FROM $dir/ct.csv WITH (FORMAT CSV, HEADER)")
    val rows = gs.sql("SELECT id, name FROM ct2 ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "ada"), (2, "grace")))
    // quoted paths keep working through \copy too
    gs.sql(s"\\copy ct TO '$dir/ct2.csv' WITH (FORMAT CSV, HEADER)")
    assert(Files.list(java.nio.file.Paths.get(s"$dir/ct2.csv")).count() > 0)
  }

  test("\\copy (query) keeps a quoted paren inside the query") {
    val gs = new GraftSession(spark, Files.createTempDirectory("graft_shell_copy_paren"))
    val dir = Files.createTempDirectory("graft_shell_copy_paren_io")
    gs.sql("CREATE TABLE ct (id INT PRIMARY KEY, name TEXT)")
    gs.sql("INSERT INTO ct VALUES (1, 'ada')")
    gs.sql(s"\\copy (SELECT ')' AS p FROM ct) TO $dir/paren.csv WITH (FORMAT CSV)")
    gs.sql("CREATE TABLE cp (p TEXT)")
    gs.sql(s"\\copy cp FROM $dir/paren.csv WITH (FORMAT CSV)")
    assert(gs.sql("SELECT p FROM cp").collect().map(_.getString(0)).toSeq == Seq(")"))
  }
}
