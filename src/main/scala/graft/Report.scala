package graft

import org.apache.commons.lang3.exception.ExceptionUtils

/** How the mains write what they report: failure causes and JSON strings. */
object Report {
  /** "Class: message", plus the root cause when it is another exception
    * (Spark wraps a task's failure in SparkException layers).
    */
  def cause(e: Throwable): String = {
    def one(t: Throwable) = s"${t.getClass.getName}: ${t.getMessage}"
    val root = ExceptionUtils.getRootCause(e)
    if (root == null || (root eq e)) one(e) else s"${one(e)} (root cause ${one(root)})"
  }

  /** JSON string literal. Escapes backslash, quote and ALL control chars
    * (<0x20): a tab or CR in hand-written SQL or an exception message
    * would otherwise make a reader's json.load fail.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
