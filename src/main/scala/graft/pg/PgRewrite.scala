package graft.pg

import scala.collection.mutable

/** String-level PostgreSQL-dialect → Spark-SQL rewriter.
  *
  * The reference forks Spark's whole ANTLR grammar to add the PG dialect
  * (parser/SqlBase.g4:748-775,1660,1687, PgParser.scala:39-238); its own TODO
  * (PgParser.scala:42-44) says the right design is a thin layer over the
  * stock parser. This is that layer: a quote/comment-aware scan that rewrites
  * only the dialect tokens and leaves everything else to Spark's parser:
  *
  *   - `$n`                         → `pg_param(n)`   (bind parameter;
  *                                      [[PgParserInterface]] turns the call
  *                                      into a `ParameterPlaceHolder`)
  *   - `x ~ 'pat'` / `x !~ 'pat'`   → `x RLIKE 'pat'` / `x NOT RLIKE 'pat'`
  *   - `::text`                     → `::string`      (`::` cast is native)
  *
  * `substring(x FROM a [FOR b])` needs no rewrite: Spark's grammar has it.
  * Nor does `generate_series` in FROM: [[PgParserInterface]] places it.
  */
object PgRewrite {

  /** PG type names -> Spark spellings ("" = drop the cast entirely) */
  private val typeAlias = Map(
    "text" -> "string", "char" -> "string", "bpchar" -> "string",
    "name" -> "string", "int2" -> "smallint", "int4" -> "int",
    "int8" -> "bigint", "float4" -> "float", "float8" -> "double",
    "bool" -> "boolean", "oid" -> "int",
    "regclass" -> "", "regproc" -> "", "regtype" -> "")

  /** If the emitted SQL ends with a single-quoted literal naming a known
    * type (optionally pg_catalog-qualified), replace it in place with the
    * type's OID and return true; otherwise leave it untouched. Type names
    * never contain quotes, so a simple backwards scan to the opening quote
    * is unambiguous here (a literal WITH a quote will not match the name
    * map and is left as-is).
    */
  private def replaceRegtypeLiteral(out: mutable.StringBuilder): Boolean = {
    var end = out.length - 1
    while (end >= 0 && out.charAt(end).isWhitespace) end -= 1
    if (end < 1 || out.charAt(end) != '\'') return false
    var start = end - 1
    while (start >= 0 && out.charAt(start) != '\'') start -= 1
    if (start < 0) return false
    val body = out.substring(start + 1, end)
    val name = (if (body.toLowerCase.startsWith("pg_catalog.")) {
      body.substring("pg_catalog.".length)
    } else body).toLowerCase
    PgCatalog.typeOidByName.get(name) match {
      case Some(oid) =>
        out.setLength(start)
        out.append(oid)
        true
      case None => false
    }
  }

  /** keywords that can directly precede a unary operator */
  private val preUnaryKeywords = Set(
    "select", "where", "and", "or", "not", "when", "then", "else", "on",
    "case", "by", "from", "having", "set", "in", "like", "rlike", "between",
    "is", "all", "any", "some", "distinct", "as", "return", "returning")

  def apply(sql: String): String = {
    val out = new mutable.StringBuilder
    var i = 0
    val n = sql.length
    // most recent bare identifier emitted (lowercased); "" after any other
    // non-whitespace output. Disambiguates binary `a ~ 'p'` from unary
    // `SELECT ~5`.
    var lastWord = ""

    def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_'

    /** last non-whitespace char emitted so far (to decide unary vs binary ~) */
    def lastNonWs: Char = {
      var j = out.length - 1
      while (j >= 0 && out.charAt(j).isWhitespace) j -= 1
      if (j >= 0) out.charAt(j) else '\u0000'
    }

    def copyString(): Unit = { // single-quoted literal with '' escapes
      out.append(sql.charAt(i)); i += 1
      while (i < n) {
        val c = sql.charAt(i)
        out.append(c); i += 1
        if (c == '\'') {
          if (i < n && sql.charAt(i) == '\'') { out.append('\''); i += 1 }
          else return
        }
      }
    }

    def copyQuotedIdent(): Unit = {
      out.append(sql.charAt(i)); i += 1
      while (i < n) {
        val c = sql.charAt(i)
        out.append(c); i += 1
        if (c == '"') {
          if (i < n && sql.charAt(i) == '"') { out.append('"'); i += 1 }
          else return
        }
      }
    }

    def copyLineComment(): Unit =
      while (i < n && sql.charAt(i) != '\n') { out.append(sql.charAt(i)); i += 1 }

    def copyBlockComment(): Unit = {
      out.append("/*"); i += 2
      while (i < n && !(sql.charAt(i) == '*' && i + 1 < n && sql.charAt(i + 1) == '/')) {
        out.append(sql.charAt(i)); i += 1
      }
      if (i < n) { out.append("*/"); i += 2 }
    }

    /** Scan a balanced `(...)` starting at `sql(i) == '('`; returns the inner
      * text (quotes/comments respected) and leaves i after the close paren.
      */
    def scanParens(): String = {
      var depth = 0
      val start = i
      var inner = -1
      while (i < n) {
        sql.charAt(i) match {
          case '\'' =>
            val keep = out.length; copyString(); out.setLength(keep)
          case '"' =>
            val keep = out.length; copyQuotedIdent(); out.setLength(keep)
          case '(' =>
            depth += 1; if (depth == 1) inner = i + 1; i += 1
          case ')' =>
            depth -= 1; i += 1
            if (depth == 0) return sql.substring(inner, i - 1)
          case _ => i += 1
        }
      }
      sql.substring(start + 1)
    }

    def skipWs(from: Int): Int = {
      var j = from
      while (j < n && sql.charAt(j).isWhitespace) j += 1
      j
    }

    def readIdent(from: Int): (String, Int) = {
      var j = from
      while (j < n && isIdentChar(sql.charAt(j))) j += 1
      (sql.substring(from, j), j)
    }

    /** Scan a balanced `[...]` starting at `sql(i) == '['`; returns the inner
      * text and leaves i after the close bracket.
      */
    def scanBrackets(): String = {
      var depth = 0
      val start = i
      var inner = -1
      while (i < n) {
        sql.charAt(i) match {
          case '\'' =>
            val keep = out.length; copyString(); out.setLength(keep)
          case '[' =>
            depth += 1; if (depth == 1) inner = i + 1; i += 1
          case ']' =>
            depth -= 1; i += 1
            if (depth == 0) return sql.substring(inner, i - 1)
          case _ => i += 1
        }
      }
      sql.substring(start + 1)
    }

    while (i < n) {
      val c = sql.charAt(i)
      c match {
        case '\'' => copyString()
        case '"' => copyQuotedIdent()
        case '[' if lastNonWs == ')' =>
          // PG array subscript on a parenthesized expression — pgjdbc's
          // metadata queries emit (current_schemas(true))[1]. PG subscripts
          // are 1-based, exactly element_at's convention, so wrap the
          // already-emitted paren group in element_at. (Subscripts directly
          // on identifiers are left alone: Spark parses those natively and
          // internal SQL may rely on its 0-based convention.)
          val idx = PgRewrite(scanBrackets()).trim
          var k = out.length - 1
          while (k >= 0 && out.charAt(k).isWhitespace) k -= 1
          var depth = 0
          var open = -1
          while (k >= 0 && open < 0) {
            out.charAt(k) match {
              case ')' => depth += 1
              case '(' => depth -= 1; if (depth == 0) open = k
              case _ =>
            }
            k -= 1
          }
          if (open >= 0) {
            // (expr)[i] → element_at((expr), i)
            out.insert(open, "element_at(")
            out.append(s", $idx)")
          } else {
            out.append(s"[$idx]")
          }
          lastWord = ""
        case '(' if {
          // (qualified.ident).field — PG composite-field access pgjdbc emits
          // as (i.keys).n; Spark wants plain i.keys.n. Lookahead only: a
          // paren group that is a bare dotted identifier followed by `.`.
          var k = i + 1
          while (k < n && (isIdentChar(sql.charAt(k)) || sql.charAt(k) == '.' ||
            sql.charAt(k).isWhitespace)) k += 1
          k < n && sql.charAt(k) == ')' && k + 1 < n && sql.charAt(k + 1) == '.' &&
            sql.substring(i + 1, k).trim
              .matches("[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)+")
        } =>
          var k = i + 1
          while (sql.charAt(k) != ')') k += 1
          out.append(sql.substring(i + 1, k).trim)
          i = k + 1 // past ')'; the following '.' flows through normally
          lastWord = ""
        case '-' if i + 1 < n && sql.charAt(i + 1) == '-' => copyLineComment()
        case '/' if i + 1 < n && sql.charAt(i + 1) == '*' => copyBlockComment()
        case '$' if i + 1 < n && sql.charAt(i + 1).isDigit =>
          i += 1
          val (digits, j) = readIdent(i)
          i = j
          out.append(s"pg_param($digits)")
        case '!' if i + 1 < n && sql.charAt(i + 1) == '~' =>
          i += 2
          out.append(" NOT RLIKE ")
        case '~' =>
          val prev = lastNonWs
          val binary = prev == '\'' || prev == '"' || prev == ')' || prev.isDigit ||
            (isIdentChar(prev) && !preUnaryKeywords.contains(lastWord))
          if (binary) { out.append(" RLIKE "); i += 1 }
          else { out.append(c); i += 1 }
          lastWord = ""
        case ':' if i + 1 < n && sql.charAt(i + 1) == ':' =>
          i += 2
          val j = skipWs(i)
          // the cast target may be pg_catalog-qualified
          val (word0, jq) = readIdent(j)
          val (word, j2) =
            if (word0.equalsIgnoreCase("pg_catalog") && jq < n && sql.charAt(jq) == '.') {
              readIdent(jq + 1)
            } else (word0, jq)
          typeAlias.get(word.toLowerCase) match {
            case Some("") if word.equalsIgnoreCase("regtype") &&
                replaceRegtypeLiteral(out) =>
              // `'name'::regtype` on a literal resolves to the type OID (PG
              // semantics) — psql's back-version \df compares prorettype
              // (an int) against such casts, so the textual form would be a
              // runtime cast error once pg_proc has rows
              i = j2
            case Some("") =>
              // drop other reg* casts: the value stays its textual self
              // (the reference resolves these via catalog functions,
              // PgParser.scala:163-186)
              i = j2
            case Some(mapped) => out.append("::").append(mapped); i = j2
            case None => out.append("::")
          }
        case _ if c.isLetter || c == '_' =>
          val (word, j) = readIdent(i)
          val afterWs = skipWs(j)
          val isCall = afterWs < n && sql.charAt(afterWs) == '('
          if (word.equalsIgnoreCase("e") && j < n && sql.charAt(j) == '\'') {
            // PG escape-string E'...': Spark single-quoted strings already
            // process backslash escapes, so drop the E and copy the body
            // (backslash-aware so \' does not terminate early)
            i = j
            out.append(sql.charAt(i)); i += 1
            var done = false
            while (i < n && !done) {
              val sc = sql.charAt(i)
              out.append(sc); i += 1
              if (sc == '\\' && i < n) { out.append(sql.charAt(i)); i += 1 }
              else if (sc == '\'') done = true
            }
          } else if (word.equalsIgnoreCase("pg_catalog") && j < n && sql.charAt(j) == '.') {
            // strip the pg_catalog schema qualifier: our catalog relations
            // and system functions resolve unqualified (reference resolves
            // them via a real pg_catalog database, catalog.scala:87-118)
            i = j + 1
          } else if (word.equalsIgnoreCase("information_schema") && j < n &&
              sql.charAt(j) == '.') {
            val (nxt, _) = readIdent(j + 1)
            if (nxt.equalsIgnoreCase("_pg_expandarray")) {
              // strip the qualifier; the function rewrite below picks it up
              i = j + 1
            } else {
              // information_schema.X → the catalog relation
              // information_schema_X (PgParserInterface resolves it; a
              // fused name avoids claiming generic unqualified names like
              // `tables`/`columns`)
              out.append("information_schema_")
              i = j + 1
              lastWord = ""
            }
          } else if (word.equalsIgnoreCase("_pg_expandarray") && isCall) {
            // information_schema._pg_expandarray(arr) yields SETOF (x, n) —
            // the element and its 1-based ordinal (pgjdbc getPrimaryKeys
            // expands pg_index.indkey with it). Spark equivalent: explode an
            // array of structs; with a single alias the struct column takes
            // the alias name, so (i.keys).x / (i.keys).n resolve as field
            // accesses after the paren-strip rewrite above.
            i = afterWs
            val arg = PgRewrite(scanParens()).trim
            out.append(
              s"explode(transform($arg, (_v, _p) -> struct(_v AS x, _p + 1 AS n)))")
          } else if (word.equalsIgnoreCase("operator") && isCall) {
            // PG OPERATOR(schema.op) syntax from psql metadata queries
            i = afterWs
            val op = PgRewrite(scanParens()).trim
            op match {
              case "~" => out.append(" RLIKE ")
              case "!~" => out.append(" NOT RLIKE ")
              case other => out.append(s" $other ")
            }
          } else if (word.equalsIgnoreCase("collate")) {
            // drop COLLATE <qualified ident> (Spark strings are binary-collated)
            var k = skipWs(j)
            while (k < n && (isIdentChar(sql.charAt(k)) || sql.charAt(k) == '.' ||
              sql.charAt(k) == '"')) k += 1
            i = k
          } else {
            out.append(word); i = j
            lastWord = word.toLowerCase
          }
        case _ =>
          out.append(c); i += 1
          if (!c.isWhitespace) lastWord = ""
      }
    }
    out.toString
  }
}
