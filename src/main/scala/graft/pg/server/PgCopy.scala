package graft.pg.server

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import graft.pg.wire.{ParamCodec, PgTypes}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** `COPY` statement support. The reference decodes the copy-subprotocol
  * messages ('d'/'c'/'f') but throws "Not supported yet"
  * (reference protocol.scala:679-698); since psql's `\copy` is the most
  * common ad-hoc ingestion path, this implements the real thing:
  * `COPY t FROM STDIN` (text and csv formats) lands as batched DataFrame
  * inserts into the catalog table, and `COPY t TO STDOUT` /
  * `COPY (SELECT ...) TO STDOUT` streams PG copy-format rows out.
  *
  * Scale posture: copy-in parses rows incrementally off the wire and flushes
  * every [[PgCopy.BatchRows]] rows as one append — memory is bounded by a
  * batch, not the stream; copy-out streams through the incremental-collect
  * iterator like every other result.
  */
object PgCopy {

  /** rows buffered before an insert flush (bounds driver memory per copy) */
  val BatchRows = 50000

  final case class CopyOptions(csv: Boolean = false, delimiter: Char = '\t',
      nullStr: String = "\\N", header: Boolean = false, binary: Boolean = false)

  sealed trait CopyStmt
  /** COPY <table> [(cols)] FROM STDIN [options] */
  final case class CopyIn(table: String, cols: Seq[String], opts: CopyOptions) extends CopyStmt
  /** COPY <table>[(cols)] | (query) TO STDOUT [options] */
  final case class CopyOut(source: Either[String, String], cols: Seq[String],
      opts: CopyOptions) extends CopyStmt

  /** Parse a COPY statement, or None if `sql` is not COPY. Unsupported COPY
    * variants (TO/FROM a server-side file) throw with a clear message —
    * fail loudly rather than misroute to the Spark parser.
    */
  def parse(sql: String): Option[CopyStmt] = {
    val s = sql.trim.stripSuffix(";").trim
    if (!s.regionMatches(true, 0, "COPY", 0, 4) ||
      (s.length > 4 && !s.charAt(4).isWhitespace)) return None
    var rest = s.substring(4).trim
    // source: parenthesized query or table name [+ column list]
    var query: Option[String] = None
    var table = ""
    var cols: Seq[String] = Nil
    if (rest.startsWith("(")) {
      val end = matchParen(rest, 0)
      query = Some(rest.substring(1, end).trim)
      rest = rest.substring(end + 1).trim
    } else {
      val m = "^([\\w.$\"`]+)".r.findFirstIn(rest).getOrElse(
        throw new IllegalArgumentException(s"cannot parse COPY target in: $sql"))
      table = m
      rest = rest.substring(m.length).trim
      if (rest.startsWith("(")) {
        val end = matchParen(rest, 0)
        cols = rest.substring(1, end).split(',').map(stripIdentQuotes).toSeq
        rest = rest.substring(end + 1).trim
      }
    }
    val lower = rest.toLowerCase
    if (lower.startsWith("from")) {
      val tail = rest.substring(4).trim
      if (!tail.regionMatches(true, 0, "stdin", 0, 5))
        throw new IllegalArgumentException(
          "COPY FROM a server-side file is not supported; use COPY ... FROM STDIN (psql \\copy)")
      if (query.isDefined)
        throw new IllegalArgumentException("COPY (query) FROM STDIN is not valid")
      Some(CopyIn(table, cols, parseOptions(tail.substring(5))))
    } else if (lower.startsWith("to")) {
      val tail = rest.substring(2).trim
      if (!tail.regionMatches(true, 0, "stdout", 0, 6))
        throw new IllegalArgumentException(
          "COPY TO a server-side file is not supported; use COPY ... TO STDOUT (psql \\copy)")
      val src = query.map(Right(_)).getOrElse(Left(table))
      Some(CopyOut(src, cols, parseOptions(tail.substring(6))))
    } else {
      throw new IllegalArgumentException(s"cannot parse COPY direction in: $sql")
    }
  }

  private def stripIdentQuotes(ident: String): String = {
    val t = ident.trim
    if ((t.startsWith("\"") && t.endsWith("\"")) || (t.startsWith("`") && t.endsWith("`")))
      t.substring(1, t.length - 1)
    else t
  }

  /** index of the ')' matching the '(' at `open` (quote-aware) */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0; var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => i += 1; while (i < s.length && s.charAt(i) != '\'') i += 1
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("unbalanced parentheses in COPY statement")
  }

  /** Both option spellings: new-style `(FORMAT csv, HEADER true, ...)` and
    * legacy `WITH CSV HEADER DELIMITER ',' NULL 'x'`.
    */
  private def parseOptions(tail0: String): CopyOptions = {
    var o = CopyOptions()
    var delimSet = false
    var tail = tail0.trim
    if (tail.isEmpty) return o
    if (tail.regionMatches(true, 0, "with", 0, 4)) tail = tail.substring(4).trim
    val tokens: Seq[(String, Option[String])] =
      if (tail.startsWith("(")) {
        val end = matchParen(tail, 0)
        splitTopLevel(tail.substring(1, end), ',').map { e =>
          val parts = e.trim.split("\\s+", 2)
          (parts(0).toLowerCase, parts.lift(1).map(_.trim))
        }
      } else {
        // legacy: keywords with optional quoted values
        val toks = "('[^']*'|\\S+)".r.findAllIn(tail).toSeq
        val out = ArrayBuffer.empty[(String, Option[String])]
        var i = 0
        while (i < toks.length) {
          val k = toks(i).toLowerCase
          if ((k == "delimiter" || k == "delimiters" || k == "null" || k == "format") &&
            i + 1 < toks.length) {
            out += ((if (k == "delimiters") "delimiter" else k, Some(toks(i + 1))))
            i += 2
          } else { out += ((k, None)); i += 1 }
        }
        out.toSeq
      }
    var explicit: Set[String] = Set.empty
    tokens.foreach {
      case ("format", Some(v)) =>
        o = o.copy(csv = v.equalsIgnoreCase("csv"),
          binary = v.equalsIgnoreCase("binary"))
        if (o.csv && o.nullStr == "\\N") o = o.copy(nullStr = "")
      case ("csv", None) => o = o.copy(csv = true, nullStr = if (o.nullStr == "\\N") "" else o.nullStr)
      case ("binary", None) => o = o.copy(binary = true) // legacy WITH BINARY
      case ("text", None) => o = o.copy(csv = false, binary = false)
      case ("header", v) =>
        explicit += "header"
        o = o.copy(header = v.forall(x => x.equalsIgnoreCase("true") || x.equalsIgnoreCase("on")))
      case ("delimiter", Some(v)) =>
        delimSet = true
        o = o.copy(delimiter = unquote(v).headOption.getOrElse('\t'))
      case ("null", Some(v)) =>
        explicit += "null"
        o = o.copy(nullStr = unquote(v))
      case (other, _) =>
        throw new IllegalArgumentException(s"unsupported COPY option: $other")
    }
    // binary is a self-describing frame format — the text-mode knobs make
    // no sense with it (PG rejects these combinations the same way)
    if (o.binary && (o.csv || delimSet || (o.header && explicit("header")) ||
        explicit("null")))
      throw new IllegalArgumentException(
        "COPY binary format cannot be combined with csv/delimiter/header/null options")
    // PG csv mode defaults to ',' (text mode to tab)
    if (o.csv && !delimSet) o = o.copy(delimiter = ',')
    o
  }

  private def unquote(v: String): String =
    if (v.length >= 2 && v.startsWith("'") && v.endsWith("'")) v.substring(1, v.length - 1)
    else v

  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val parts = ArrayBuffer.empty[String]
    var depth = 0; var last = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case c if c == sep && depth == 0 => parts += s.substring(last, i); last = i + 1
        case _ =>
      }
      i += 1
    }
    parts += s.substring(last)
    parts.toSeq
  }

  // ---- copy-in: wire bytes -> parsed rows -> batched inserts ----

  /** Stateful parser/inserter for one COPY FROM STDIN operation. CopyData
    * payloads may split rows (and csv quoted fields may contain newlines)
    * arbitrarily, so the line scanner keeps carry + quote state across
    * feeds. Failures latch: the remaining stream is drained cheaply and the
    * error surfaces once at CopyDone, like PG.
    */
  final class CopyInSession(spark: SparkSession, stmt: CopyIn,
      zone: java.time.ZoneId = java.time.ZoneOffset.UTC) {
    private val targetSchema: StructType = spark.table(stmt.table).schema
    private val colNames: Seq[String] =
      if (stmt.cols.nonEmpty) stmt.cols else targetSchema.fieldNames.toSeq
    require(colNames.toSet.subsetOf(targetSchema.fieldNames.toSet),
      s"COPY columns ${colNames.mkString(",")} not all present in ${stmt.table}")

    def nCols: Int = colNames.length

    /** binary copy-in: one ParamCodec decoder per column, to the external
      * value createDataFrame takes. A TIMESTAMP_NTZ column decodes in UTC,
      * where a wall-clock time is its own instant, so its micros stay exact.
      */
    private val decoders: Array[Array[Byte] => Any] =
      if (!stmt.opts.binary) null
      else colNames.map { n =>
        val dt = targetSchema(n).dataType
        val decode = try ParamCodec.decoder(PgTypes.oidOf(dt), 1,
            if (dt == TimestampNTZType) java.time.ZoneOffset.UTC else zone)
          catch { case _: IllegalArgumentException =>
            throw new IllegalArgumentException(s"COPY binary format unsupported for column type $dt")
          }
        val toScala = CatalystTypeConverters.createToScalaConverter(dt)
        (b: Array[Byte]) => toScala(decode(b).value)
      }.toArray

    private var carry = Array.emptyByteArray
    private var inQuotes = false
    private var headerPending = stmt.opts.header
    private var binHeaderDone = false
    private var sawEndMarker = false
    private val rows = ArrayBuffer.empty[Row]
    private var inserted = 0L
    @volatile var failure: Option[Throwable] = None

    def feed(bytes: Array[Byte]): Unit = if (failure.isEmpty && !sawEndMarker) {
      try {
        if (stmt.opts.binary) feedBinary(bytes)
        else feedText(bytes)
        if (rows.size >= BatchRows) flush()
      } catch { case e: Throwable if scala.util.control.NonFatal(e) => failure = Some(e) }
    }

    private def feedText(bytes: Array[Byte]): Unit = {
      val buf = if (carry.isEmpty) bytes else carry ++ bytes
      var start = 0
      var i = 0
      while (i < buf.length) {
        val b = buf(i)
        if (stmt.opts.csv && b == '"') inQuotes = !inQuotes
        if (b == '\n' && !inQuotes) {
          handleLine(new String(buf, start, i - start, UTF_8))
          start = i + 1
        }
        i += 1
      }
      carry = java.util.Arrays.copyOfRange(buf, start, buf.length)
    }

    /** Incremental binary-frame parser: CopyData boundaries carry no
      * meaning in binary COPY (a tuple may span frames and a frame may
      * hold many tuples), so parse whatever whole units the carry buffer
      * holds and keep the remainder.
      */
    private def feedBinary(bytes: Array[Byte]): Unit = {
      val buf = if (carry.isEmpty) bytes else carry ++ bytes
      var pos = 0
      if (!binHeaderDone) {
        if (buf.length - pos < 19) { carry = sliceFrom(buf, pos); return }
        if (!java.util.Arrays.equals(
            java.util.Arrays.copyOfRange(buf, pos, pos + 11), BinaryCopy.Signature))
          throw new IllegalArgumentException("COPY binary: bad signature header")
        val bb = java.nio.ByteBuffer.wrap(buf, pos + 11, 8)
        bb.getInt // flags: only bit 16 (OIDs) is defined; we emit none and
                  // accept any, like PG's recv which checks only the bit range
        val extLen = bb.getInt
        if (extLen < 0) throw new IllegalArgumentException(
          s"COPY binary: negative header extension length $extLen")
        if (buf.length - pos < 19 + extLen) { carry = sliceFrom(buf, pos); return }
        pos += 19 + extLen
        binHeaderDone = true
      }
      var done = false
      while (!done) {
        if (buf.length - pos < 2) done = true
        else {
          val tupleStart = pos
          val n = java.nio.ByteBuffer.wrap(buf, pos, 2).getShort.toInt
          pos += 2
          if (n == -1) { sawEndMarker = true; done = true }
          else if (n != nCols) throw new IllegalArgumentException(
            s"COPY binary row has $n columns, expected $nCols")
          else {
            val vals = new Array[Any](n)
            var i = 0
            var incomplete = false
            while (i < n && !incomplete) {
              if (buf.length - pos < 4) incomplete = true
              else {
                val len = java.nio.ByteBuffer.wrap(buf, pos, 4).getInt
                if (len == -1) { pos += 4; vals(i) = null; i += 1 }
                else if (buf.length - pos < 4 + len) incomplete = true
                else {
                  vals(i) = decoders(i)(java.util.Arrays.copyOfRange(buf, pos + 4, pos + 4 + len))
                  pos += 4 + len
                  i += 1
                }
              }
            }
            if (incomplete) { pos = tupleStart; done = true }
            else rows += Row.fromSeq(vals.toSeq)
          }
        }
      }
      carry = sliceFrom(buf, pos)
    }

    private def sliceFrom(buf: Array[Byte], pos: Int): Array[Byte] =
      if (pos == 0) buf else java.util.Arrays.copyOfRange(buf, pos, buf.length)

    /** drain the final unterminated line, flush, return total rows */
    def finish(): Long = {
      failure.foreach(throw _)
      if (stmt.opts.binary) {
        if (!sawEndMarker && failure.isEmpty)
          failure = Some(new IllegalArgumentException(
            "COPY binary stream ended without the -1 trailer"))
      } else if (carry.nonEmpty && !sawEndMarker) {
        val line = new String(carry, UTF_8)
        carry = Array.emptyByteArray
        if (line.nonEmpty) handleLine(line)
      }
      flush()
      failure.foreach(throw _)
      inserted
    }

    private def handleLine(line0: String): Unit = {
      val line = if (line0.endsWith("\r")) line0.dropRight(1) else line0
      if (sawEndMarker) return
      if (!stmt.opts.csv && line == "\\.") { sawEndMarker = true; return }
      if (headerPending) { headerPending = false; return }
      if (line.isEmpty && stmt.opts.csv) return
      val fields =
        if (stmt.opts.csv) parseCsvLine(line, stmt.opts.delimiter, stmt.opts.nullStr)
        else parseTextLine(line, stmt.opts.delimiter, stmt.opts.nullStr)
      if (fields.length != colNames.length)
        throw new IllegalArgumentException(
          s"COPY row has ${fields.length} columns, expected ${colNames.length}: $line")
      rows += Row.fromSeq(fields.toSeq)
    }

    private def flush(): Unit = if (rows.nonEmpty && failure.isEmpty) {
      import scala.jdk.CollectionConverters._
      // text rows arrive as strings and cast below; binary rows decode to
      // the target JVM types directly, so their frame already carries the
      // table's column types
      val strSchema =
        if (stmt.opts.binary)
          StructType(colNames.map(c => targetSchema(c).copy(nullable = true)))
        else
          StructType(colNames.map(c => StructField(c, StringType, nullable = true)))
      val df = spark.createDataFrame(rows.toList.asJava, strSchema)
      // cast to the table's types in table-column order; columns outside the
      // COPY list land NULL (PG default-less behavior)
      val out = df.select(targetSchema.fields.map { f =>
        if (colNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
      out.write.mode("append").insertInto(stmt.table)
      inserted += rows.size
      rows.clear()
    }
  }

  /** PG text-format field split + unescape. PG compares the RAW field text
    * (escapes intact) against the NULL string — the default `\\N` — before
    * unescaping, so a literal backslash-N value (`\\\\N` on the wire) is the
    * two-character string, not NULL.
    */
  private[server] def parseTextLine(line: String, delim: Char, nullStr: String): Array[String] = {
    val raws = ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '\\' && i + 1 < line.length) i += 2 // escaped char never splits
      else if (c == delim) { raws += line.substring(start, i); start = i + 1; i += 1 }
      else i += 1
    }
    raws += line.substring(start)
    raws.map { raw =>
      if (raw == nullStr) null
      else if (raw.indexOf('\\') < 0) raw
      else {
        val sb = new StringBuilder(raw.length)
        var j = 0
        while (j < raw.length) {
          val c = raw.charAt(j)
          if (c == '\\' && j + 1 < raw.length) {
            raw.charAt(j + 1) match {
              case 'n' => sb.append('\n')
              case 't' => sb.append('\t')
              case 'r' => sb.append('\r')
              case 'b' => sb.append('\b')
              case 'f' => sb.append('\f')
              case 'v' => sb.append('\u000b')
              // "any other backslashed character is its literal self" (PG)
              case other => sb.append(other)
            }
            j += 2
          } else { sb.append(c); j += 1 }
        }
        sb.toString
      }
    }.toArray
  }

  /** csv field split honoring quotes and "" escapes; an unquoted field equal
    * to the NULL string decodes as SQL NULL.
    */
  private[server] def parseCsvLine(line: String, delim: Char, nullStr: String): Array[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quoted = false // current field was quoted (disables null match)
    var inQ = false
    var i = 0
    def emit(): Unit = {
      val s = cur.toString
      out += (if (!quoted && s == nullStr) null else s)
      cur.clear(); quoted = false
    }
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 2 }
          else { inQ = false; i += 1 }
        } else { cur.append(c); i += 1 }
      } else if (c == '"') { inQ = true; quoted = true; i += 1 }
      else if (c == delim) { emit(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    emit()
    out.toArray
  }

  // ---- copy-out escaping ----

  /** escape one PG text-format field */
  private[server] def escapeText(s: String): String = {
    if (s.indexOf('\\') < 0 && s.indexOf('\t') < 0 && s.indexOf('\n') < 0 &&
      s.indexOf('\r') < 0) return s
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** quote one csv field if needed */
  private[server] def escapeCsv(s: String, delim: Char): String =
    if (s.indexOf('"') >= 0 || s.indexOf(delim) >= 0 || s.indexOf('\n') >= 0 ||
      s.indexOf('\r') >= 0)
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** COPY BINARY frame format (PG file_fdw/copy.c `binary` mode): the
    * 11-byte signature + int32 flags + int32 header-extension length, then
    * per tuple an int16 field count and per field an int32 length (-1 NULL)
    * followed by the type's binary send() bytes — the SAME encodings the
    * DataRow binary writer emits and Bind reads, so copy-out writes through
    * [[graft.pg.wire.RowCodec]] and copy-in reads through
    * [[graft.pg.wire.ParamCodec]]. Trailer: int16 -1.
    */
  private[server] object BinaryCopy {
    val Signature: Array[Byte] =
      Array('P', 'G', 'C', 'O', 'P', 'Y', '\n', 0xFF.toByte, '\r', '\n', 0x00)
        .map(_.toByte)

    /** signature + flags(0) + extension length(0) */
    def header: Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(19)
      b.put(Signature); b.putInt(0); b.putInt(0)
      b.array()
    }

    val Trailer: Array[Byte] = Array(0xFF.toByte, 0xFF.toByte)
  }
}
