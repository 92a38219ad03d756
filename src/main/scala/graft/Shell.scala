package graft

import graft.bql.{BayesDB, Parser}

import scala.io.StdIn

/** Thin BQL shell (reference: shell/src/main.py:48-92 + shell/src/core.py
  * Shell.cmdloop): run `.bql` script files, then (unless any were given)
  * a read-eval-print loop that accumulates lines until the input is one
  * or more complete phrases (reference: bql_string_complete_p).
  *
  *   sbt "runMain graft.Shell script.bql"        # batch
  *   sbt "runMain graft.Shell"                   # REPL
  *
  * Dot commands (a minimal slice of the reference's shell/src/core.py):
  *   .read <file>            run a BQL script file
  *   .table <name> <path>    register a parquet file/dir as a table
  *   .csv <name> <path>      ingest a CSV file as a table
  *   .describe models <gen>  list a generator's fitted model numbers
  *   .tables                 list registered tables
  *   .sql <query>            raw Spark SQL over the registered tables
  *   .describe table <t>     show a table's schema
  *   .describe populations   list populations (+variables)
  *   .describe generators    list generators
  *   .quit                   exit
  */
object Shell {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val bdb = new BayesDB(spark)
    val rc = try {
      if (args.nonEmpty) { args.foreach(runFile(bdb, _)); 0 }
      else repl(bdb)
    } catch {
      case e: Throwable => System.err.println(s"error: ${e.getMessage}"); 1
    } finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }

  private def runFile(bdb: BayesDB, path: String): Unit = {
    val src = scala.io.Source.fromFile(path)
    val script = try src.mkString finally src.close()
    executePhrases(bdb, script)
  }

  private def executePhrases(bdb: BayesDB, script: String): Unit =
    Parser.parseAll(script).foreach { p =>
      val df = bdb.executeParsed(p, Nil)
      if (df.columns.nonEmpty) df.show(50, truncate = false)
    }

  private def repl(bdb: BayesDB): Int = {
    System.err.println("graft BQL shell — phrases end with ';', .quit exits")
    val buf = new StringBuilder
    var done = false
    while (!done) {
      val prompt = if (buf.isEmpty) "bql> " else "...> "
      print(prompt)
      Console.flush()
      val line = StdIn.readLine()
      if (line == null) done = true  // EOF
      else if (buf.isEmpty && line.trim.startsWith(".")) {
        line.trim.split("\\s+").toList match {
          case ".quit" :: _ | ".exit" :: _ => done = true
          case ".read" :: path :: Nil => safely(runFile(bdb, path))
          case ".table" :: name :: path :: Nil =>
            safely(bdb.registerTable(name, bdb.spark.read.parquet(path)))
          case ".tables" :: Nil => bdb.tableNames.sorted.foreach(println)
          case ".sql" :: rest if rest.nonEmpty =>
            // raw Spark SQL over the registered tables (reference shell
            // .sql, shell/src/core.py:270-280); the raw remainder of the
            // line is passed, not rejoined tokens — rejoining would
            // collapse whitespace runs inside string literals
            safely(bdb.sqlExecute(line.trim.stripPrefix(".sql").trim)
              .show(50, truncate = false))
          case ".describe" :: "table" :: t :: Nil =>
            safely(bdb.table(t).printSchema())
          case ".describe" :: ("population" | "populations") :: rest =>
            bdb.catalog.populationNames
              .filter(n => rest.isEmpty || rest.contains(n))
              .flatMap(bdb.catalog.population).foreach { p =>
                println(s"population ${p.name} for ${p.table}")
                p.variables.foreach(v => println(
                  f"  ${v.name}%-24s ${v.stattype.name}%-12s" +
                    (if (v.isLatent) " (latent)" else "")))
              }
          case ".describe" :: ("generator" | "generators") :: _ =>
            bdb.catalog.populationNames.foreach { pn =>
              bdb.catalog.generatorsOf(pn).foreach(g =>
                println(s"generator ${g.name} for $pn using ${g.backend}"))
            }
          case ".describe" :: ("model" | "models") :: g :: _ =>
            bdb.modelNumbers(g) match {
              case Nil => System.err.println(s"generator $g has no initialized models")
              case ns => ns.sorted.foreach(n => println(s"model $n"))
            }
          case ".csv" :: name :: path :: Nil =>
            // CSV ingest dot-command (reference shell .csv,
            // shell/src/core.py:151-170) — routes through the BQL
            // CREATE TABLE ... FROM '<file>' path (type inference, D7)
            safely(bdb.execute(
              s"create table $name from '${path.replace("'", "''")}'"))
          case other => System.err.println(s"unknown command: ${other.mkString(" ")}")
        }
      } else {
        buf.append(line).append('\n')
        if (Parser.stringCompleteP(buf.toString)) {
          val script = buf.toString
          buf.clear()
          safely(executePhrases(bdb, script))
        }
      }
    }
    0
  }

  private def safely(body: => Unit): Unit =
    try body catch { case e: Throwable => System.err.println(s"error: ${e.getMessage}") }
}
