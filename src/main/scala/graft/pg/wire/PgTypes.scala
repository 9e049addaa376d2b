package graft.pg.wire

import org.apache.spark.sql.types._

/** Catalyst ⇄ PostgreSQL type bridge: oids, array oids, the pg_type table,
  * binary eligibility (reference catalog.scala:122-209,
  * protocol.scala:215-228). The only place a Catalyst type meets an oid:
  * RowDescription, pg_catalog and COPY all read it. Spark 4's
  * DayTime/YearMonth intervals (absent in the Spark-3-era reference) map to
  * the PG interval oid.
  */
object PgTypes {
  val UNSPECIFIED = 0
  val BOOL = 16
  val BYTEA = 17
  val CHAR = 18
  val NAME = 19
  val INT8 = 20
  val INT2 = 21
  val INT4 = 23
  val TID = 27
  val FLOAT4 = 700
  val FLOAT8 = 701
  val BOOL_ARRAY = 1000
  val INT2_ARRAY = 1005
  val INT4_ARRAY = 1007
  val VARCHAR_ARRAY = 1015
  val INT8_ARRAY = 1016
  val FLOAT4_ARRAY = 1021
  val FLOAT8_ARRAY = 1022
  val VARCHAR = 1043
  val DATE = 1082
  val TIMESTAMP = 1114
  val TIMESTAMP_ARRAY = 1115
  val DATE_ARRAY = 1182
  val INTERVAL = 1186
  val INTERVAL_ARRAY = 1187
  val NUMERIC_ARRAY = 1231
  val NUMERIC = 1700
  // custom oids past the PG range, as the reference assigns (catalog.scala:150)
  val BYTE = 6200
  val MAP = 6201
  val STRUCT = 6202

  /** PG epoch (2000-01-01) offsets from the unix epoch. Spark 4 internal
    * values are proleptic-Gregorian days/micros since 1970-01-01, the same
    * calendar PG uses on the wire, so the conversion is a constant shift —
    * the reference's Julian/Gregorian cutoff dance (converters.scala:259-278)
    * existed only for Spark ≤2.x hybrid-calendar java.sql dates.
    */
  val PG_EPOCH_DAYS = 10957
  val PG_EPOCH_MICROS = 946684800000000L

  def oidOf(dt: DataType): Int = dt match {
    case BooleanType => BOOL
    case ByteType => BYTE
    case ShortType => INT2
    case IntegerType => INT4
    case LongType => INT8
    case FloatType => FLOAT4
    case DoubleType => FLOAT8
    case _: DecimalType => NUMERIC
    case StringType | _: CharType | _: VarcharType => VARCHAR
    case BinaryType => BYTEA
    case DateType => DATE
    case TimestampType | TimestampNTZType => TIMESTAMP
    case CalendarIntervalType | _: DayTimeIntervalType | _: YearMonthIntervalType => INTERVAL
    // an element type with no array type in the table (nested arrays
    // among them) renders as varchar text, the reference's punt
    // (catalog.scala:206)
    case ArrayType(elem, _) => arrayOidByElem.getOrElse(oidOf(elem), VARCHAR)
    case _: MapType => MAP
    case _: StructType => STRUCT
    case NullType => VARCHAR
    case _ => VARCHAR // UDTs and anything else render as text
  }

  /** typlen per oid for RowDescription, pg_attribute and pg_type
    * (reference catalog.scala:122-153).
    */
  def typeLenOf(oid: Int): Int = oid match {
    case BOOL | BYTE | CHAR => 1
    case INT2 => 2
    case INT4 | FLOAT4 | DATE => 4
    case INT8 | FLOAT8 | TIMESTAMP => 8
    case TID => 6
    case NAME => 64
    case _ => -1
  }

  /** One pg_type row; its typlen is [[typeLenOf]]. */
  final case class PgType(oid: Int, name: String, elem: Int, input: String) {
    def len: Int = typeLenOf(oid)
  }

  /** The pg_type seed (reference catalog.scala:284-316): every oid
    * [[oidOf]] answers, plus the name/char/tid types clients probe.
    */
  val table: Seq[PgType] = Seq(
    PgType(BOOL, "bool", 0, "boolin"),
    PgType(BYTEA, "bytea", 0, "byteain"),
    PgType(CHAR, "char", 0, "charin"),
    PgType(NAME, "name", CHAR, "namein"),
    PgType(INT8, "int8", 0, "int8in"),
    PgType(INT2, "int2", 0, "int2in"),
    PgType(INT4, "int4", 0, "int4in"),
    PgType(TID, "tid", 0, "tidin"),
    PgType(FLOAT4, "float4", 0, "float4in"),
    PgType(FLOAT8, "float8", 0, "float8in"),
    PgType(BOOL_ARRAY, "_bool", BOOL, "array_in"),
    PgType(INT2_ARRAY, "_int2", INT2, "array_in"),
    PgType(INT4_ARRAY, "_int4", INT4, "array_in"),
    PgType(VARCHAR_ARRAY, "_varchar", VARCHAR, "array_in"),
    PgType(INT8_ARRAY, "_int8", INT8, "array_in"),
    PgType(FLOAT4_ARRAY, "_float4", FLOAT4, "array_in"),
    PgType(FLOAT8_ARRAY, "_float8", FLOAT8, "array_in"),
    PgType(VARCHAR, "varchar", 0, "varcharin"),
    PgType(DATE, "date", 0, "datein"),
    PgType(TIMESTAMP, "timestamp", 0, "timestampin"),
    PgType(TIMESTAMP_ARRAY, "_timestamp", TIMESTAMP, "array_in"),
    PgType(DATE_ARRAY, "_date", DATE, "array_in"),
    PgType(INTERVAL, "interval", 0, "interval_in"),
    PgType(INTERVAL_ARRAY, "_interval", INTERVAL, "array_in"),
    PgType(NUMERIC_ARRAY, "_numeric", NUMERIC, "array_in"),
    PgType(NUMERIC, "numeric", 0, "numericin"),
    PgType(BYTE, "byte", 0, "bytein"),
    PgType(MAP, "map", 0, "mapin"),
    PgType(STRUCT, "struct", 0, "structin"))

  private val arrayOidByElem: Map[Int, Int] =
    table.filter(_.input == "array_in").map(t => t.elem -> t.oid).toMap

  /** Types the server may emit in binary format, in DataRows and in
    * `COPY TO` alike; everything else must be text (reference
    * protocol.scala:215-217).
    */
  def binaryCapable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType | BinaryType | DateType |
        TimestampType | TimestampNTZType | CalendarIntervalType => true
    case _: DecimalType => true // PgNumeric speaks numeric_send/recv
    case _ => false
  }
}
