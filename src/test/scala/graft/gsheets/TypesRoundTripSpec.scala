package graft.gsheets

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.gsheets.core.{Json, JArr, JStr, MockHttp, TransportRegistry}

/** The reference's `test/sql/types.test` scenario, adapted to Spark's
  * type system: write one row of every writable Spark type, capture the
  * serialized cells, feed them back through a mock read, and check the
  * three-type inference (BOOLEAN/DOUBLE/VARCHAR) plus `all_varchar`.
  */
class TypesRoundTripSpec extends AnyFunSuite {

  import Fixtures._
  private lazy val s = spark

  private val schema = StructType(Seq(
    StructField("c_bool", BooleanType), StructField("c_byte", ByteType),
    StructField("c_short", ShortType), StructField("c_int", IntegerType),
    StructField("c_long", LongType), StructField("c_float", FloatType),
    StructField("c_double", DoubleType),
    StructField("c_dec", DecimalType(9, 4)), StructField("c_date", DateType),
    StructField("c_ts", TimestampType), StructField("c_str", StringType)))

  private val row = Row(true, 127.toByte, 32767.toShort, 2147483647,
    9223372036854775807L, 3.4e38f, 1.7e308, BigDecimal("12345.6789"),
    java.sql.Date.valueOf("2024-02-29"),
    java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"), "plain text")

  /** Row-major cells of the recorded append body. */
  private def appendedCells(mock: MockHttp): Vector[Vector[String]] = {
    val body = mock.recordedRequests.filter(_.url.contains(":append")).last.body
    Json.parse(body)("values") match {
      case JArr(rows) => rows.map {
        case JArr(cells) => cells.map { case JStr(v) => v; case other => other.toString }
        case other => fail(s"unexpected $other")
      }
      case other => fail(s"unexpected $other")
    }
  }

  test("every Spark type serializes, and reads back under the 3-type inference") {
    val df = s.createDataFrame(
      new java.util.ArrayList[Row](java.util.List.of(row)), schema)

    val writeMock = new MockHttp
    writeMock.addJson(s"""{"spreadsheetId":"$SpreadsheetId","updates":{}}""") // header + rows
    TransportRegistry.register("mock-types-w", writeMock)
    df.coalesce(1).write.format("gsheets")
      .option("transport", "mock-types-w").option("token", "t")
      .option("sheet", "write_fixture").option("header", "true")
      .mode("append").save(SpreadsheetId)

    // One append: the header row, then the data row.
    val appended = appendedCells(writeMock)
    assert(writeMock.recordedRequests.size == 1)
    assert(appended.head == schema.fieldNames.toVector)
    val cells = appended.tail
    assert(cells == Vector(Vector(
      "true", "127", "32767", "2147483647", "9223372036854775807",
      "3.4E38", "1.7E308", "12345.6789", "2024-02-29",
      "2024-02-29 12:34:56.789", "plain text")))

    // Feed the serialized grid back through a read. "true"/"127"/... hit
    // the inference rules: booleans print lowercase → VARCHAR (the
    // reference infers BOOLEAN only for "TRUE"/"FALSE" exact), numbers →
    // DOUBLE, date/timestamp/text → VARCHAR.
    val grid = Vector(schema.fieldNames.toVector) ++ cells
    val readMock = new MockHttp
    readMock.addJson(metadataJson)
    readMock.addJson(valueRangeJson("Sheet1!A1:Z1000", grid))
    TransportRegistry.register("mock-types-r", readMock)
    val back = s.read.format("gsheets")
      .option("transport", "mock-types-r").option("token", "t")
      .load(SpreadsheetId)

    assert(back.schema.fields.map(_.dataType).toSeq == Seq(
      StringType,                                        // "true"
      DoubleType, DoubleType, DoubleType, DoubleType,    // integers
      DoubleType, DoubleType, DoubleType,                // float/double/dec
      StringType, StringType, StringType))               // date/ts/text
    val got = back.collect().head
    assert(got.getString(0) == "true")
    assert(got.getDouble(3) == 2147483647.0)
    assert(got.getDouble(4) == 9.223372036854776e18) // double-rounded long
    assert(got.getString(8) == "2024-02-29")
    assert(got.getString(10) == "plain text")
  }

  test("all_varchar forces every column back to VARCHAR, like the reference") {
    val grid = Vector(schema.fieldNames.toVector, Vector(
      "TRUE", "127", "32767", "2147483647", "9223372036854775807",
      "3.4E38", "1.7E308", "12345.6789", "2024-02-29",
      "2024-02-29 12:34:56.789", "plain text"))
    val readMock = new MockHttp
    readMock.addJson(metadataJson)
    readMock.addJson(valueRangeJson("Sheet1!A1:Z1000", grid))
    TransportRegistry.register("mock-types-av", readMock)
    val back = s.read.format("gsheets")
      .option("transport", "mock-types-av").option("token", "t")
      .option("all_varchar", "true")
      .load(SpreadsheetId)
    assert(back.schema.fields.forall(_.dataType == StringType))
    assert(back.collect().head.getString(4) == "9223372036854775807") // exact
  }
}
