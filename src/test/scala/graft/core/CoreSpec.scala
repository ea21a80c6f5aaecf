package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's variable tests (test/test_variables.rb:
  * precedence at :21-37,73+; resolution/cycle behavior).
  */
class VariablesSpec extends AnyFunSuite {

  test("expand $name and ${name}") {
    val v = Variables("table" -> "users", "schema" -> "app")
    assert(v.expand("select * from $schema.${table}") == "select * from app.users")
  }

  test("recursive resolution") {
    val v = Variables("a" -> "x", "b" -> "$a/y", "c" -> "$b/z")
    assert(v.expand("$c") == "x/y/z")
    assert(v.resolve().apply("c") == "x/y/z")
  }

  test("undefined variable raises ParameterError") {
    intercept[ParameterError] { Variables.empty.expand("$nope") }
  }

  test("cycle detection") {
    val v = Variables("a" -> "$b", "b" -> "$a")
    intercept[ParameterError] { v.expand("$a") }
  }

  test("self-reference cycle in resolve") {
    val v = Variables("a" -> "pre $a post")
    intercept[ParameterError] { v.resolve() }
  }

  test("union precedence: later layer wins") {
    val globals = Variables("x" -> "global", "y" -> "global")
    val job = Variables("y" -> "job", "z" -> "job")
    val cli = Variables("z" -> "cli")
    val merged = globals.union(job).union(cli)
    assert(merged("x") == "global")
    assert(merged("y") == "job")
    assert(merged("z") == "cli")
  }

  test("listVariables") {
    assert(Variables.listVariables("a $x b ${y} c $x") == Seq("x", "y", "x"))
  }
}

/** Port of test/test_parameters.rb cases: each param type × (job-file,
  * CLI, default, missing).
  */
class ParametersSpec extends AnyFunSuite {

  private val vars = Variables("env" -> "prod")

  test("StringParam expands variables") {
    assert(StringParam("name").parseValue("x-$env", vars) == "x-prod")
  }

  test("BoolParam strictness") {
    assert(BoolParam("f").parseValue(true, vars) == true)
    assert(BoolParam("f").parseValue("false", vars) == false)
    intercept[ParameterError] { BoolParam("f").parseValue("yes", vars) }
  }

  test("DateParam parses ISO date, rejects junk") {
    assert(DateParam("d").parseValue("2024-08-07", vars) ==
      java.time.LocalDate.of(2024, 8, 7))
    intercept[ParameterError] { DateParam("d").parseValue("08/07/2024", vars) }
  }

  test("EnumParam accepts only declared values; default applies") {
    val e = EnumParam("mode", Seq("a", "b"), Some("a"))
    assert(e.parseValue("b", vars) == "b")
    intercept[ParameterError] { e.parseValue("c", vars) }
    assert(e.defaultValue.contains("a"))
  }

  test("DestTableParam publishes dest_table variable") {
    val p = DestTableParam()
    val v = p.parseValue("app.users", vars)
    assert(v == TableSpec(Some("app"), "users"))
    assert(p.toVariables(v) == Map("dest_table" -> "app.users"))
  }

  test("SrcTableParam maps var name -> TableSpec and publishes each") {
    val p = SrcTableParam()
    val v = p.parseValue(Map("src" -> "app.items", "dim" -> "d"), vars)
    assert(p.toVariables(v) == Map("src" -> "app.items", "dim" -> "d"))
  }

  test("SrcTableParam CLI option var=table") {
    val p = SrcTableParam()
    assert(p.parseOption("src=app.items", vars)
      .asInstanceOf[Map[String, TableSpec]]("src") == TableSpec(Some("app"), "items"))
  }

  test("StringListParam: YAML list and comma string") {
    val p = StringListParam("xs")
    assert(p.parseValue(Seq("a", "b"), vars) == Seq("a", "b"))
    assert(p.parseValue("a, b", vars) == Seq("a", "b"))
  }

  test("KeyValuePairsParam: map and legacy comma string") {
    val p = KeyValuePairsParam("options")
    assert(p.parseValue(Map("maxerror" -> 10), vars) == Map("maxerror" -> 10))
    assert(p.parseValue("gzip, maxerror 10", vars) ==
      Map("gzip" -> true, "maxerror" -> "10"))
  }

  test("materialize: CLI > job file > default; missing required raises") {
    val decls = new ParamDecls(Seq(
      StringParam("a"), EnumParam("m", Seq("x", "y"), Some("x")),
      OptionalBoolParam("flag")))
    val p = decls.materialize(Map("a" -> "fromjob", "m" -> "y"), Map("a" -> "fromcli"), vars)
    assert(p.string("a") == "fromcli")
    assert(p.string("m") == "y")
    assert(!p.bool("flag"))
    intercept[ParameterError] { decls.materialize(Map(), Map(), vars) }
  }

  test("undeclared job-file parameter raises") {
    val decls = new ParamDecls(Seq(StringParam("a")))
    intercept[ParameterError] {
      decls.materialize(Map("a" -> "1", "typo" -> "2"), Map(), vars)
    }
  }
}

class SqlStatementSpec extends AnyFunSuite {

  test("metadata header comments") {
    val sql = "--dest-table: app.users\n--src-tables: a, b.c\nselect 1"
    val s = new SqlStatement(sql)
    assert(s.destTable.contains(TableSpec(Some("app"), "users")))
    assert(s.srcTables == Seq(TableSpec(None, "a"), TableSpec(Some("b"), "c")))
  }

  test("bind expands variables; kind sniffs first keyword") {
    val s = new SqlStatement("--dest-table: $t\nINSERT into $t select 1").bind(
      Variables("t" -> "users"))
    assert(s.stripped == "INSERT into users select 1")
    assert(s.kind == "insert")
  }

  test("splitStatements respects quotes and comments") {
    val sql = "select 'a;b'; -- trailing; comment\nselect \";\"; /* c;d */ select 2"
    val stmts = SqlStatement.splitStatements(sql)
    assert(stmts.length == 3)
    assert(stmts(0) == "select 'a;b'")
    assert(stmts(2).endsWith("select 2"))
  }

  test("escaped single quote inside literal") {
    val stmts = SqlStatement.splitStatements("select 'it''s; fine'; select 2")
    assert(stmts.length == 2)
  }

  test("referencedVariables powers auto-declaration") {
    assert(new SqlStatement("select * from $t where d='$dt'").referencedVariables
      == Seq("t", "dt"))
  }

  test("embedded date helper replaces ERB") {
    val out = EmbeddedFunctions.preprocess("where dt = '<%= today - 1 %>'")
    assert(out == s"where dt = '${java.time.LocalDate.now().minusDays(1)}'")
    intercept[JobError] { EmbeddedFunctions.eval("system('rm -rf /')") }
  }

  test("ERB: the reference's own variable.yml line expands (Date.today - 1)") {
    // verbatim from /root/reference/test/home/subsys/variable.yml:1
    val out = EmbeddedFunctions.preprocess(
      """data_date: "<%= (Date.today - 1).strftime('%Y-%m-%d') %>"""")
    assert(out == s"""data_date: "${java.time.LocalDate.now().minusDays(1)}"""")
  }

  test("ERB: Date.today forms and strftime directives") {
    val today = java.time.LocalDate.now()
    assert(EmbeddedFunctions.eval("Date.today") == today.toString)
    assert(EmbeddedFunctions.eval("(Date.today + 2).strftime('%F')")
      == today.plusDays(2).toString)
    assert(EmbeddedFunctions.eval("Date.today.strftime('%Y%m%d')")
      == today.toString.replace("-", ""))
    assert(EmbeddedFunctions.eval("date('2014-01-05').strftime('%y/%m/%d')")
      == "14/01/05")
    assert(EmbeddedFunctions.eval("ymd(date('2014-01-05'))") == "2014-01-05")
    assert(EmbeddedFunctions.eval("ymd(Date.today - 1)")
      == today.minusDays(1).toString)
    intercept[JobError] { EmbeddedFunctions.eval("date('2014-01-05').strftime('%q')") }
  }

  test("ERB: vacuum-lock serialization helpers are ';' no-ops") {
    // reference fixture raw-vacuum.sql.job:5-7; vacuumlock.rb:23-42 returns
    // ';' when the lock is disabled (the default)
    assert(EmbeddedFunctions.eval("psql_serialize_vacuum_begin") == ";")
    assert(EmbeddedFunctions.eval("psql_serialize_vacuum_end") == ";")
  }

  test("ERB: ENV with || default (reference schema/database.yml form)") {
    assert(EmbeddedFunctions.eval("""ENV['GRAFT_NO_SUCH_VAR'] || "localhost"""")
      == "localhost")
    assert(EmbeddedFunctions.eval("""ENV['HOME']""") == sys.env("HOME"))
    intercept[JobError] { EmbeddedFunctions.eval("ENV['GRAFT_NO_SUCH_VAR']") }
  }

  test("ERB: read_file_if_exist and path helpers") {
    val dir = graft.core.TempDirs.create("erb")
    java.nio.file.Files.writeString(dir.resolve("frag.sql"), "select 1")
    val erb = ErbContext(appHome = Some(dir), baseDir = Some(dir))
    assert(EmbeddedFunctions.eval("read_file_if_exist('frag.sql')", erb) == "select 1")
    assert(EmbeddedFunctions.eval("read_file_if_exist('nope.sql')", erb) == "")
    assert(EmbeddedFunctions.eval("app_home_relative_path('x/y')", erb)
      == dir.resolve("x/y").toString)
    assert(EmbeddedFunctions.eval("relative_path('z')", erb)
      == dir.resolve("z").toString)
    assert(EmbeddedFunctions.eval("user_home") == sys.props("user.home"))
  }

  test("kind sniffs past leading comments") {
    val s = new SqlStatement("-- rebuild the view\ncreate view v as select 1")
      .bind(Variables.empty)
    assert(s.kind == "create")
    assert(SqlStatement.firstKeyword("/* note */ VACUUM t") == "vacuum")
    assert(SqlStatement.firstKeyword("--only a comment") == "")
  }

  test("dropIfExistsTable matches only the bare IF EXISTS drop form") {
    import SqlStatement.dropIfExistsTable
    assert(dropIfExistsTable("DROP TABLE IF EXISTS pipe.docs")
      .contains("pipe.docs"))
    assert(dropIfExistsTable("-- note\n drop table if exists `t1`;")
      .contains("t1"))
    // plain DROP must fail-when-absent — not routed to dropForce
    assert(dropIfExistsTable("DROP TABLE pipe.docs").isEmpty)
    assert(dropIfExistsTable("DROP VIEW IF EXISTS v").isEmpty)
    assert(dropIfExistsTable("SELECT 1").isEmpty)
    // anything beyond a single table name is not the bare form
    assert(dropIfExistsTable("DROP TABLE IF EXISTS a, b").isEmpty)
  }

  test("ERB: all_tables / attribute_tables scan .ct headers") {
    val home = graft.core.TempDirs.create("erb-home")
    val sub = home.resolve("subsys"); java.nio.file.Files.createDirectories(sub)
    java.nio.file.Files.writeString(sub.resolve("users.ct"),
      "--dest-table: users\n--attributes: daily pii\n\ncreate table $dest_table (id int);\n")
    java.nio.file.Files.writeString(sub.resolve("d.ct"),
      "--dest-table: d\n\ncreate table $dest_table (x int);\n")
    val erb = ErbContext(appHome = Some(home))
    assert(EmbeddedFunctions.eval("all_tables", erb) == "d\nusers")
    assert(EmbeddedFunctions.eval("attribute_tables('pii')", erb) == "users")
    assert(EmbeddedFunctions.eval("attribute_tables('none')", erb) == "")
  }
}

class JobFileSpec extends AnyFunSuite {

  test(".job YAML with class key") {
    val jf = JobFile.loadYamlJob("class: noop\nfailure: true\n")
    assert(jf.jobClass == "noop")
    assert(jf.values("failure") == true)
  }

  test(".sql.job embedded header + body") {
    val jf = JobFile.loadSqlJob("/* class: adhoc\ndata-source: sql */\nselect 1;")
    assert(jf.jobClass == "adhoc")
    assert(jf.values("data-source") == "sql")
    assert(jf.inlineScript.contains("select 1;"))
  }

  test(".sql.job without header defaults to sql class") {
    val jf = JobFile.loadSqlJob("select 42")
    assert(jf.jobClass == "sql")
  }

  test("script job with # header") {
    val jf = JobFile.loadScriptJob("# class: exec\n# args: echo hi\necho body\n")
    assert(jf.jobClass == "exec")
  }
}

class TempDirsSpec extends AnyFunSuite {

  test("SPARK_GRAFT_TMPROOT resolves to one absolute, normalized path") {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    assert(TempDirs.baseDir("scratch/../tmproot") == cwd.resolve("tmproot"))
    assert(TempDirs.baseDir("tmproot").isAbsolute)
    val abs = cwd.resolve("a").resolve("b")
    assert(TempDirs.baseDir(abs.toString + "/./") == abs)
  }
}
