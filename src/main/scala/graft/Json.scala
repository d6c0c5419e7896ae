package graft

/** The one JSON writer of the mains (Bench's two lines, Verify's
  * oracle_sql.json and failures.json): values arrive as JSON text, so
  * every caller keeps its own number formatting, and every string goes
  * through [[str]].
  */
object Json {

  /** A JSON string literal. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in builder-authored SQL, or a quote in
    * an sf path, would otherwise make a json.load of the output fail.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One object from (key, JSON value text) fields, in their order. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** Write `text` to `path` (UTF-8, parent dirs made); throws on an I/O
    * error.
    */
  def write(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, text + "\n")
  }

  /** Print `line` and write it to `path`, best-effort: a read-only CWD
    * must not fail the run itself.
    */
  def emit(tag: String, line: String, path: String): Unit = {
    println(line)
    try write(path, line)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[$tag] could not write $path: $e")
    }
  }
}
