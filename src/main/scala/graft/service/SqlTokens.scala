package graft.service

import org.antlr.v4.runtime.Token
import org.apache.spark.sql.catalyst.parser.{GraftParserBridge, SqlBaseLexer}

/** One token of a SQL statement as Spark's parser sees it: the
  * [[SqlBaseLexer]] token type, its channel (0 for code; 1 for
  * whitespace and comments — a hint's `/*+` and `*/` markers are
  * code), and its `[start, end)` character offsets into the text.
  */
private[service] final case class SqlToken(kind: Int, channel: Int,
    start: Int, end: Int, text: String) {

  def isCode: Boolean = channel == Token.DEFAULT_CHANNEL

  /** An unquoted keyword or identifier, upper-cased; "" for every
    * other token (literals, punctuation, back-quoted identifiers).
    */
  lazy val word: String =
    if (text.nonEmpty && (text.head.isLetter || text.head == '_') &&
        text.forall(c => c.isLetterOrDigit || c == '_'))
      text.toUpperCase(java.util.Locale.ROOT)
    else ""

  def isBackquoted: Boolean = kind == SqlBaseLexer.BACKQUOTED_IDENTIFIER

  /** The identifier a word or back-quoted token names, quotes removed. */
  def name: String =
    if (isBackquoted) text.substring(1, text.length - 1).replace("``", "`")
    else text
}

/** A lexed statement: every token in order, and whether a bracketed
  * comment ran to the end of the text (Spark refuses such a statement).
  */
private[service] final case class SqlTokens(all: IndexedSeq[SqlToken],
    unclosedComment: Boolean) {

  /** The channel-0 tokens — what the grammar parses. */
  lazy val code: IndexedSeq[SqlToken] = all.filter(_.isCode)
}

/** graft's one SQL text scanner: Spark's own generated lexer, built the
  * way Spark's `AbstractParser` builds it, so every probe of statement
  * text (the auth gate's verb, the branch rewrites, the result-cache
  * key, the info-schema rewrite) ends each literal, comment and
  * identifier exactly where the parser does — raw literals, nested
  * comments and hints included. Lexing a statement costs microseconds;
  * parsing and running it costs milliseconds.
  */
private[service] object SqlTokens {

  def apply(sql: String): SqlTokens = {
    val lexer = new SqlBaseLexer(GraftParserBridge.upperCaseCharStream(sql))
    lexer.removeErrorListeners()
    // ANTLR offsets count code points; the consumers splice Java
    // strings, so walk a (code point, char) cursor forward in step
    var cp = 0
    var ch = 0
    def charOffset(cpAt: Int): Int = {
      ch = sql.offsetByCodePoints(ch, cpAt - cp)
      cp = cpAt
      ch
    }
    val out = IndexedSeq.newBuilder[SqlToken]
    var t = lexer.nextToken()
    while (t.getType != Token.EOF) {
      val start = charOffset(t.getStartIndex)
      val end = charOffset(t.getStopIndex + 1)
      out += SqlToken(t.getType, t.getChannel, start, end, sql.substring(start, end))
      t = lexer.nextToken()
    }
    SqlTokens(out.result(), lexer.has_unclosed_bracketed_comment)
  }
}
