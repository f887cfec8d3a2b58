package graft

import java.io.{BufferedReader, PrintWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interactive SQL shell — the analog of the reference's `ballista-cli`
  * (reference: ballista-cli/src/main.rs + ballista-cli/src/
  * command.rs: a readline loop that splits `;`-terminated statements,
  * executes them on the context, pretty-prints Arrow batches, and handles
  * `\`-prefixed meta commands like `\d`, `\?`, `\q`).
  *
  * The loop is a pure function over character streams ([[repl]]) so
  * CliSpec drives it in-process with a scripted reader; `main` binds it to
  * stdin/stdout with the usual flags (`-e` one-shot statement, `-f` script
  * file — the reference CLI's `--file` batch mode, main.rs `--command`).
  * Result rendering collects AT MOST `maxRows` rows to the driver
  * (display is inherently driver-side; everything upstream of the limit
  * executes distributed).
  */
object GraftCli {

  private val help: String =
    """\d            list tables and views
      |\timing       toggle per-statement wall-clock
      |\explain      toggle printing the physical plan instead of executing
      |\?            this help
      |\q            quit
      |any other input: ;-terminated SQL, executed on the session""".stripMargin

  /** Split a chunk of input into complete `;`-terminated statements and the
    * unfinished remainder, respecting single/double quotes (a `;` inside a
    * string literal does not terminate — command.rs's statement splitting
    * contract). */
  private[graft] def splitStatements(buf: String): (Seq[String], String) = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    for (c <- buf) {
      if (quote != 0) { cur.append(c); if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') { quote = c; cur.append(c) }
      else if (c == ';') { out += cur.toString; cur.clear() }
      else cur.append(c)
    }
    (out.result().map(_.trim).filter(_.nonEmpty), cur.toString)
  }

  /** Fixed-width table rendering (the CLI-side analog of Arrow's
    * pretty-printer the reference uses). Only `maxRows` rows ever reach the
    * driver. */
  private[graft] def render(df: DataFrame, maxRows: Int): String = {
    val names = df.schema.fieldNames.toSeq
    val rows = df.limit(maxRows + 1).collect().toSeq
    val shown = rows.take(maxRows).map(_.toSeq.map {
      case null => "NULL"
      case v => v.toString
    })
    val widths = names.indices.map { i =>
      (names(i).length +: shown.map(_(i).length)).max
    }
    def line(cells: Seq[String]): String =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
    val b = new StringBuilder
    b.append(sep).append('\n').append(line(names)).append('\n').append(sep).append('\n')
    shown.foreach(r => b.append(line(r)).append('\n'))
    b.append(sep).append('\n')
    b.append(if (rows.length > maxRows) s"first $maxRows rows\n"
    else s"${shown.length} row(s)\n")
    b.toString
  }

  /** The REPL: returns when the input ends or `\q` is read. */
  def repl(in: BufferedReader, out: PrintWriter, spark: SparkSession,
           maxRows: Int = 100, prompt: Boolean = false): Unit = {
    var timing = false
    var explain = false
    var pending = ""
    var done = false

    def exec(sql: String): Unit = {
      val t0 = System.nanoTime()
      try {
        val df = spark.sql(sql)
        if (explain) out.println(df.queryExecution.executedPlan.toString)
        else out.print(render(df, maxRows))
        if (timing) out.println(f"Elapsed ${(System.nanoTime() - t0) / 1e3}%.0f us")
      } catch {
        case e: Exception =>
          out.println(s"error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(4).mkString(" ")}")
      }
    }

    def meta(cmd: String): Unit = cmd match {
      case "\\q" | "\\quit" | "\\exit" => done = true
      case "\\?" | "\\h" | "\\help" => out.println(help)
      case "\\d" =>
        out.print(render(spark.sql("SHOW TABLES"), maxRows))
      case "\\timing" =>
        timing = !timing; out.println(s"timing ${if (timing) "on" else "off"}")
      case "\\explain" =>
        explain = !explain; out.println(s"explain ${if (explain) "on" else "off"}")
      case other => out.println(s"unknown command $other (\\? for help)")
    }

    if (prompt) { out.print("graft> "); out.flush() }
    var line = in.readLine()
    while (line != null && !done) {
      // whitespace-only pending (the leftover newline after every complete
      // statement) must not disable meta commands — `select 1;` then `\q`
      // is the normal exit sequence
      if (pending.trim.isEmpty && line.trim.startsWith("\\")) meta(line.trim)
      else {
        val (stmts, rest) = splitStatements(pending + line + "\n")
        pending = rest
        stmts.foreach(s => if (!done) exec(s))
      }
      out.flush()
      if (prompt && !done) {
        out.print(if (pending.trim.isEmpty) "graft> " else "    -> "); out.flush()
      }
      line = if (done) null else in.readLine()
    }
    // trailing un-terminated statement executes on EOF (one-shot piping:
    // `echo "select 1" | graft-cli` works without the ;)
    if (!done && pending.trim.nonEmpty) { exec(pending.trim); out.flush() }
  }

  def main(args: Array[String]): Unit = {
    var sql: Option[String] = None
    var file: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-e" if i + 1 < args.length => sql = Some(args(i + 1)); i += 2
        case "-f" if i + 1 < args.length => file = Some(args(i + 1)); i += 2
        case other => System.err.println(s"ignoring unknown arg $other"); i += 1
      }
    }
    val spark = GraftSession.local()
    val out = new PrintWriter(System.out)
    val in: BufferedReader = (sql, file) match {
      case (Some(s), _) => new BufferedReader(new java.io.StringReader(s + ";"))
      case (_, Some(f)) => java.nio.file.Files.newBufferedReader(java.nio.file.Paths.get(f))
      case _ => new BufferedReader(new java.io.InputStreamReader(System.in))
    }
    repl(in, out, spark, prompt = sql.isEmpty && file.isEmpty && System.console() != null)
    out.flush()
    spark.stop()
  }
}
