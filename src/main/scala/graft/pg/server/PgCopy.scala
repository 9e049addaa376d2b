package graft.pg.server

import java.nio.{BufferUnderflowException, ByteBuffer}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays

import scala.collection.mutable.ArrayBuffer

import graft.pg.wire.{ParamCodec, RowCodec}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.types.StructType

/** `COPY` statement support. The reference decodes the copy-subprotocol
  * messages ('d'/'c'/'f') but throws "Not supported yet"
  * (reference protocol.scala:679-698); since psql's `\copy` is the most
  * common ad-hoc ingestion path, this implements the real thing:
  * `COPY t FROM STDIN` (text, csv and binary formats) decodes every field
  * through [[graft.pg.wire.ParamCodec]], as Bind does, and lands as
  * batched inserts of Catalyst rows into the catalog table, and
  * `COPY t TO STDOUT` / `COPY (SELECT ...) TO STDOUT` streams PG
  * copy-format rows out.
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
    var delimiter: Option[String] = None
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
      case ("delimiter", Some(v)) => delimiter = Some(unquote(v))
      case ("null", Some(v)) =>
        explicit += "null"
        o = o.copy(nullStr = unquote(v))
      case (other, _) =>
        throw new IllegalArgumentException(s"unsupported COPY option: $other")
    }
    // binary is a self-describing frame format — the text-mode knobs make
    // no sense with it (PG rejects these combinations the same way)
    if (o.binary && (o.csv || delimiter.isDefined || (o.header && explicit("header")) ||
        explicit("null")))
      throw new IllegalArgumentException(
        "COPY binary format cannot be combined with csv/delimiter/header/null options")
    // PG's ProcessCopyOptions checks; the line parsers split UTF-8 bytes, as PG's do
    delimiter match {
      case Some(d) if d.length != 1 || d.charAt(0) > 0x7F =>
        throw new UnsupportedOperationException(
          "COPY delimiter must be a single one-byte character")
      case Some(d) => o = o.copy(delimiter = d.charAt(0))
      case None => if (o.csv) o = o.copy(delimiter = ',') // text mode keeps tab
    }
    if (o.delimiter == '\n' || o.delimiter == '\r')
      throw new IllegalArgumentException("COPY delimiter cannot be newline or carriage return")
    // text format writes a value's delimiter backslashed, and COPY FROM reads
    // a backslash before `.`, a letter or a digit as an escape
    if (!o.csv && "\\.abcdefghijklmnopqrstuvwxyz0123456789".indexOf(o.delimiter) >= 0)
      throw new IllegalArgumentException(s"""COPY delimiter cannot be "${o.delimiter}"""")
    o
  }

  private def unquote(v: String): String =
    if (v.length >= 2 && v.startsWith("'") && v.endsWith("'"))
      v.substring(1, v.length - 1).replace("''", "'")
    else v

  /** `s` split at each `sep` outside parentheses, single-quoted literals
    * and double-quoted identifiers (a doubled quote inside either closes
    * and reopens it, which splits the same).
    */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val parts = ArrayBuffer.empty[String]
    var depth = 0; var last = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case q @ ('\'' | '"') => i += 1; while (i < s.length && s.charAt(i) != q) i += 1
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

  // ---- copy-in: wire bytes -> Catalyst rows -> batched inserts ----

  /** Stateful parser/inserter for one COPY FROM STDIN operation. Every
    * field decodes once, through the reader Bind uses, into its column's
    * Catalyst value, and each flush inserts its rows in table-column order
    * (a column outside the COPY list is NULL, PG's default-less behavior)
    * as one task, which writes one file. CopyData payloads may split rows
    * (and csv quoted fields may contain newlines) arbitrarily, so the line
    * scanner keeps carry + quote state across feeds. Failures latch: the remaining
    * stream is drained cheaply and the error surfaces once at CopyDone,
    * like PG.
    */
  final class CopyInSession(spark: SparkSession, stmt: CopyIn,
      zone: java.time.ZoneId = java.time.ZoneOffset.UTC) {
    private val targetSchema: StructType = spark.table(stmt.table).schema
    private val colNames: Seq[String] =
      if (stmt.cols.nonEmpty) stmt.cols else targetSchema.fieldNames.toSeq
    colNames.diff(colNames.distinct).headOption.foreach(c =>
      throw new PgStateException(s"""column "$c" specified more than once""", "42701"))
    colNames.find(c => !targetSchema.fieldNames.contains(c)).foreach(c =>
      throw new PgStateException(
        s"""column "$c" of relation "${stmt.table}" does not exist""", "42703"))

    def nCols: Int = colNames.length

    /** the table-column position of each COPY column */
    private val slots: Array[Int] = colNames.map(targetSchema.fieldIndex).toArray
    private val decoders: Array[ParamCodec.Reader] = colNames.map(c => ParamCodec.columnReader(
      targetSchema(c).dataType, if (stmt.opts.binary) 1 else 0, zone)).toArray
    private val toUnsafe = UnsafeProjection.create(targetSchema)
    private val delim = stmt.opts.delimiter.toByte
    private val nullBytes = stmt.opts.nullStr.getBytes(UTF_8)

    private var carry = Array.emptyByteArray
    private var inQuotes = false
    private var headerPending = stmt.opts.header
    private var binHeaderDone = false
    private var sawEndMarker = false
    private val rows = ArrayBuffer.empty[InternalRow]
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
          handleLine(buf, start, i)
          start = i + 1
        }
        i += 1
      }
      carry = Arrays.copyOfRange(buf, start, buf.length)
    }

    /** Incremental binary-frame parser: CopyData boundaries carry no
      * meaning in binary COPY (a tuple may span frames and a frame may
      * hold many tuples), so parse whatever whole units the carry buffer
      * holds and keep the remainder. A unit the buffer cuts short
      * underflows and is read again once the next frame arrives.
      */
    private def feedBinary(bytes: Array[Byte]): Unit = {
      val bb = ByteBuffer.wrap(if (carry.isEmpty) bytes else carry ++ bytes)
      var whole = true
      while (whole && !sawEndMarker) {
        val start = bb.position()
        val fields = try readUnit(bb) catch {
          case _: BufferUnderflowException => bb.position(start); whole = false; null
        }
        if (fields != null) addRow(fields)
      }
      carry = Arrays.copyOfRange(bb.array, bb.position(), bb.limit())
    }

    /** The file header or the trailer (null), or one tuple's fields (null
      * for a NULL field), as PG's copyfromparse.c reads them.
      */
    private def readUnit(bb: ByteBuffer): Array[Array[Byte]] = {
      def bytes(n: Int) = {
        if (n > bb.remaining) throw new BufferUnderflowException
        val b = new Array[Byte](n); bb.get(b); b
      }
      if (!binHeaderDone) {
        if (!Arrays.equals(bytes(11), BinaryCopy.Signature))
          throw badFormat("COPY file signature not recognized")
        bb.getInt // flags: only bit 16 (OIDs) is defined; we emit none and
                  // accept any, like PG's recv which checks only the bit range
        val extLen = bb.getInt
        if (extLen < 0) throw badFormat("invalid COPY file header (wrong length)")
        bytes(extLen)
        binHeaderDone = true
        null
      } else {
        val n = bb.getShort
        if (n == -1) { sawEndMarker = true; null }
        else if (n != nCols) throw badFormat(s"row field count is $n, expected $nCols")
        else Array.fill(n) {
          val len = bb.getInt
          if (len < -1) throw badFormat("invalid field size")
          if (len == -1) null else bytes(len)
        }
      }
    }

    /** one row in table-column order from the COPY's fields */
    private def addRow(fields: Array[Array[Byte]]): Unit = {
      val row = new Array[Any](targetSchema.length)
      var i = 0
      while (i < nCols) {
        if (fields(i) != null) row(slots(i)) = decoders(i)(fields(i))
        i += 1
      }
      rows += toUnsafe(new GenericInternalRow(row)).copy()
    }

    /** drain the final unterminated line, flush, return total rows */
    def finish(): Long = {
      failure.foreach(throw _)
      if (stmt.opts.binary) {
        if (!sawEndMarker) throw badFormat("unexpected EOF in COPY data")
      } else if (carry.nonEmpty && !sawEndMarker) handleLine(carry, 0, carry.length)
      flush()
      inserted
    }

    /** the line `buf(from until end)`, less a trailing CR */
    private def handleLine(buf: Array[Byte], from: Int, end: Int): Unit = {
      val until = if (end > from && buf(end - 1) == '\r') end - 1 else end
      if (sawEndMarker) return
      if (!stmt.opts.csv && until - from == 2 && buf(from) == '\\' && buf(from + 1) == '.') {
        sawEndMarker = true; return
      }
      if (headerPending) { headerPending = false; return }
      if (until == from && stmt.opts.csv) return
      val line = Arrays.copyOfRange(buf, from, until)
      val fields =
        if (stmt.opts.csv) parseCsvLine(line, delim, nullBytes)
        else parseTextLine(line, delim, nullBytes)
      if (fields.length > nCols) throw badFormat("extra data after last expected column")
      if (fields.length < nCols)
        throw badFormat(s"""missing data for column "${colNames(fields.length)}"""")
      addRow(fields)
    }

    private def flush(): Unit = if (rows.nonEmpty) {
      Internals.oneTaskFrame(spark, rows.toIndexedSeq, targetSchema)
        .write.mode("append").insertInto(stmt.table)
      inserted += rows.size
      rows.clear()
    }
  }

  /** PG's bad_copy_file_format (copyfromparse.c) */
  private def badFormat(msg: String) = new PgStateException(msg, "22P04")

  /** PG text-format field split + unescape, on the line's UTF-8 bytes (the
    * delimiter and escapes are ASCII, which no multi-byte character
    * contains), as PG's CopyReadAttributesText: `\n`-style letters, `\`
    * and one to three octal digits or `\x` and one or two hex digits (one
    * byte), any other escaped character itself. PG compares the RAW field
    * (escapes intact) against the NULL string — the default `\\N` —
    * before unescaping, so a literal backslash-N value (`\\\\N` on the
    * wire) is the two-character string, not NULL.
    */
  private[server] def parseTextLine(line: Array[Byte], delim: Byte,
      nullStr: Array[Byte]): Array[Array[Byte]] = {
    val fields = ArrayBuffer.empty[Array[Byte]]
    val field = new Array[Byte](line.length) // the current field, unescaped
    var n = 0
    var start = 0
    var i = 0
    while (i <= line.length) {
      if (i == line.length || line(i) == delim) {
        fields += (if (Arrays.equals(line, start, i, nullStr, 0, nullStr.length)) null
          else Arrays.copyOf(field, n))
        n = 0; start = i + 1; i += 1
      } else if (line(i) == '\\' && i + 1 < line.length) { // an escape never splits
        val c = line(i + 1)
        val radix =
          if (c >= '0' && c <= '7') 8
          else if (c == 'x' && i + 2 < line.length && Character.digit(line(i + 2), 16) >= 0) 16
          else 0
        if (radix == 0) {
          val k = "ntrbfv".indexOf(c)
          // "any other backslashed character is its literal self" (PG)
          field(n) = if (k < 0) c else "\n\t\r\b\f\u000b".charAt(k).toByte
          i += 2
        } else { // up to three octal or two hex digits name one byte
          val from = if (radix == 8) i + 1 else i + 2
          val end = math.min(line.length, from + (if (radix == 8) 3 else 2))
          var v = 0
          i = from
          while (i < end && Character.digit(line(i), radix) >= 0) {
            v = v * radix + Character.digit(line(i), radix); i += 1
          }
          field(n) = v.toByte
        }
        n += 1
      } else { field(n) = line(i); n += 1; i += 1 }
    }
    fields.toArray
  }

  /** csv field split honoring quotes and "" escapes, on the line's UTF-8
    * bytes; an unquoted field equal to the NULL string decodes as SQL NULL.
    */
  private[server] def parseCsvLine(line: Array[Byte], delim: Byte,
      nullStr: Array[Byte]): Array[Array[Byte]] = {
    val fields = ArrayBuffer.empty[Array[Byte]]
    val field = new Array[Byte](line.length)
    var n = 0
    var quoted = false // current field was quoted (disables null match)
    var inQ = false
    def emit(): Unit = {
      fields += (if (!quoted && Arrays.equals(field, 0, n, nullStr, 0, nullStr.length)) null
        else Arrays.copyOf(field, n))
      n = 0; quoted = false
    }
    var i = 0
    while (i < line.length) {
      val c = line(i)
      if (inQ && c == '"' && i + 1 < line.length && line(i + 1) == '"') {
        field(n) = c; n += 1; i += 1
      } else if (c == '"') { inQ = !inQ; quoted = true }
      else if (c == delim && !inQ) emit()
      else { field(n) = c; n += 1 }
      i += 1
    }
    emit()
    fields.toArray
  }

  // ---- copy-out: Catalyst rows -> PG copy-format lines ----

  /** One COPY TO line per row: in text and csv, each field is the DataRow
    * text ([[RowCodec.textWriter]]) escaped in place, fields joined by the
    * delimiter, NULL written as the NULL string; in binary, the tuple's
    * field count and the DataRow binary fields. Every COPY escape is
    * ASCII, and no byte of a multi-byte UTF-8 character is, so escaping
    * the bytes escapes the characters. Throws, for binary, on a type that
    * has no binary form; a full buffer throws `BufferOverflowException`,
    * and the row can be written again into a larger one.
    */
  private[server] def lineWriter(schema: StructType, opts: CopyOptions,
      zone: java.time.ZoneId): (InternalRow, ByteBuffer) => Unit =
    if (opts.binary) {
      val fields = RowCodec.rowWriter(schema, Seq.fill(schema.length)(true), zone)
      (row, b) => { b.putShort(schema.length.toShort); fields(row, b) }
    } else {
      val texts = schema.fields.indices.map(i => RowCodec.textWriter(schema(i).dataType, i, zone))
      val delim = opts.delimiter.toByte
      val nullBytes = opts.nullStr.getBytes(UTF_8)
      val oneColumn = schema.length == 1
      (row, b) => {
        var i = 0
        while (i < texts.length) {
          if (i > 0) b.put(delim)
          if (row.isNullAt(i)) b.put(nullBytes)
          else {
            val from = b.position()
            texts(i)(row, b)
            if (opts.csv) quoteCsv(b, from, delim, nullBytes, oneColumn)
            else escapeText(b, from, delim)
          }
          i += 1
        }
        b.put('\n'.toByte)
      }
    }

  /** The letter after `\` that stands for `c` in a text-format field: PG's
    * CopyAttributeOutText escapes the backslash, the control characters it
    * has letters for and the delimiter (as itself); 0 for any other byte.
    */
  private def textEscape(c: Byte, delim: Byte): Byte = c match {
    case '\\' => '\\'
    case '\n' => 'n'
    case '\r' => 'r'
    case '\t' => 't'
    case '\b' => 'b'
    case '\f' => 'f'
    case 0x0b => 'v'
    case _ => if (c == delim) c else 0
  }

  /** PG's CopyAttributeOutText on the field at `from`, in place. */
  private def escapeText(b: ByteBuffer, from: Int, delim: Byte): Unit = {
    var extra = 0
    var p = from
    while (p < b.position()) { if (textEscape(b.get(p), delim) != 0) extra += 1; p += 1 }
    if (extra > 0) {
      val end = b.position()
      if (b.remaining < extra) throw new java.nio.BufferOverflowException
      var src = end
      var dst = end + extra
      while (src > from) { // backwards, so no byte is overwritten unread
        src -= 1
        val c = b.get(src)
        val e = textEscape(c, delim)
        if (e == 0) { dst -= 1; b.put(dst, c) }
        else { dst -= 2; b.put(dst, '\\'.toByte); b.put(dst + 1, e) }
      }
      b.position(end + extra)
    }
  }

  /** PG's CopyAttributeOutCSV on the field at `from`, in place: quoted
    * when it holds the delimiter, a quote, CR or LF, when it equals the
    * NULL string (so an empty string stays apart from the default empty
    * NULL), or when it is a lone `\.` in a one-column row (which older
    * readers take for the end of data); a quote inside is doubled.
    */
  private def quoteCsv(b: ByteBuffer, from: Int, delim: Byte, nullStr: Array[Byte],
      oneColumn: Boolean): Unit = {
    val end = b.position()
    var quotes = 0
    var quote = end - from == nullStr.length &&
      (0 until nullStr.length).forall(k => b.get(from + k) == nullStr(k)) ||
      oneColumn && end - from == 2 && b.get(from) == '\\' && b.get(from + 1) == '.'
    var p = from
    while (p < end) {
      val c = b.get(p)
      if (c == '"') quotes += 1
      else if (c == delim || c == '\n' || c == '\r') quote = true
      p += 1
    }
    if (quote || quotes > 0) {
      if (b.remaining < quotes + 2) throw new java.nio.BufferOverflowException
      var src = end
      var dst = end + quotes + 1
      b.put(dst, '"'.toByte)
      while (src > from) { // backwards, so no byte is overwritten unread
        src -= 1
        val c = b.get(src)
        dst -= 1; b.put(dst, c)
        if (c == '"') { dst -= 1; b.put(dst, c) }
      }
      b.put(from, '"'.toByte)
      b.position(end + quotes + 2)
    }
  }

  /** `s` as [[escapeText]] writes it with the tab delimiter. */
  private[server] def escapeText(s: String): String = escaped(s)(escapeText(_, 0, '\t'))

  /** `s` as [[quoteCsv]] writes it in a row of more than one column, with
    * the default empty NULL string.
    */
  private[server] def escapeCsv(s: String, delim: Char): String =
    escaped(s)(quoteCsv(_, 0, delim.toByte, Array.emptyByteArray, oneColumn = false))

  private def escaped(s: String)(escape: ByteBuffer => Unit): String = {
    val bytes = s.getBytes(UTF_8)
    val b = ByteBuffer.allocate(2 * bytes.length + 2).put(bytes)
    escape(b)
    new String(b.array, 0, b.position(), UTF_8)
  }

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
      val b = ByteBuffer.allocate(19)
      b.put(Signature); b.putInt(0); b.putInt(0)
      b.array()
    }

    val Trailer: Array[Byte] = Array(0xFF.toByte, 0xFF.toByte)
  }
}
