package graft.plans

/** The one lexical scan the SQL front doors share: which characters of a
  * statement are code, and which sit inside a string literal, a quoted
  * identifier or a comment. [[MatchRecognizeSqlParser]], [[GroupWindowSql]],
  * [[LookupJoinSql]] and [[FlinkDdl]]'s statement split act only on code,
  * so a keyword, `(`, `)` or `;` inside a literal or comment never counts.
  *
  * The scan follows Spark's SQL lexer (`SqlBaseLexer.g4`):
  *  - `'…'` and `"…"` are string literals; a quote doubles to escape
  *    itself and a backslash escapes the next character. The backslash
  *    escape holds under both settings of
  *    `spark.sql.parser.escapedStringLiterals`: the setting changes how a
  *    literal's value is unescaped, not where it ends (`'dir\'` is a
  *    syntax error either way, and `'a\'b'` is one literal either way);
  *  - `r'…'` and `r"…"` are raw literals: no escapes, they end at the
  *    first matching quote;
  *  - `` `…` `` is a quoted identifier, with a doubled backquote as escape;
  *  - `--` starts a comment that runs to the end of the line (a backslash
  *    before the newline continues it); `/* … */` comments nest.
  *
  * Flink DDL text ([[FlinkDdl]]'s column and WITH blocks) is scanned with
  * `backslashEscapes = false`: there a backslash is a plain character
  * (`'C:\data\'` is one literal). */
private[plans] object SqlText {
  val Code: Byte = 0
  val Quoted: Byte = 1
  val LineComment: Byte = 2
  val BlockComment: Byte = 3

  /** The class of every character of `s`: [[Code]], [[Quoted]],
    * [[LineComment]] or [[BlockComment]]. Delimiters belong to their span. */
  def classify(s: String, backslashEscapes: Boolean = true): Array[Byte] = {
    val kind = new Array[Byte](s.length)
    val n = s.length
    def at(i: Int): Char = if (i < n) s.charAt(i) else '\u0000'
    def mark(from: Int, until: Int, k: Byte): Int = {
      java.util.Arrays.fill(kind, from, until min n, k); until min n
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      val rawStart = (c == 'r' || c == 'R') && (at(i + 1) == '\'' || at(i + 1) == '"') &&
        (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1)) && s.charAt(i - 1) != '_')
      if (rawStart) {
        val end = s.indexOf(at(i + 1).toInt, i + 2)
        i = mark(i, if (end < 0) n else end + 1, Quoted)
      } else if (c == '\'' || c == '"' || c == '`') {
        var j = i + 1
        var open = true
        while (j < n && open) {
          if (c != '`' && backslashEscapes && s.charAt(j) == '\\') j += 2
          else if (s.charAt(j) == c && at(j + 1) == c) j += 2
          else if (s.charAt(j) == c) { open = false; j += 1 }
          else j += 1
        }
        i = mark(i, j, Quoted)
      } else if (c == '-' && at(i + 1) == '-') {
        var j = i + 2
        while (j < n && s.charAt(j) != '\n') j += (if (s.charAt(j) == '\\' && at(j + 1) == '\n') 2 else 1)
        i = mark(i, j, LineComment)
      } else if (c == '/' && at(i + 1) == '*') {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (s.charAt(j) == '/' && at(j + 1) == '*') { depth += 1; j += 2 }
          else if (s.charAt(j) == '*' && at(j + 1) == '/') { depth -= 1; j += 2 }
          else j += 1
        }
        i = mark(i, j, BlockComment)
      } else i += 1
    }
    kind
  }

  /** Index of the `)` closing the `(` at `open`, counting only code
    * parentheses; -1 when the text ends first. */
  def closeParen(s: String, open: Int, backslashEscapes: Boolean = true): Int = {
    val kind = classify(s, backslashEscapes)
    var depth = 0
    (open until s.length).find { i =>
      if (kind(i) == Code) s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      depth == 0
    }.getOrElse(-1)
  }
}
