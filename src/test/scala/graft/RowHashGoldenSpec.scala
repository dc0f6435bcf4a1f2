package graft

import graft.functions.CanonicalHash.{canonicalSpark, canonicalString}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}
import org.scalatest.funsuite.AnyFunSuite

/** Golden row hashes: the exact xxh64 hex `get_row_hash` gives each value,
  * so any change to the canonical bytes of any type shows up here.
  *
  * Each scalar case is hashed four ways: as the one field of a top-level
  * struct, as the one element of an array field, as the one field of a
  * nested struct and as the one value of a map field. Re-pinning a value
  * here changes the hash of stored drift tables and needs a note in
  * CHANGES.md.
  */
class RowHashGoldenSpec extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)
  private def arr(xs: Any*) = new GenericArrayData(xs.toArray)
  private def map(kvs: (Any, Any)*) = ArrayBasedMapData(kvs.map(_._1).toArray, kvs.map(_._2).toArray)
  private def one(dt: DataType) = StructType(Seq(StructField("a", dt)))

  /** The row hash of a one-field row `{a: v}`. */
  private def top(v: Any, dt: DataType): String = canonicalSpark(InternalRow(v), one(dt))

  /** (top-level, in array, in nested struct, as map value) hashes of `v`. */
  private def fourWays(v: Any, dt: DataType): Seq[String] = Seq(
    top(v, dt),
    top(arr(v), ArrayType(dt)),
    top(InternalRow(v), one(dt)),
    top(map(u("k") -> v), MapType(StringType, dt)))

  private val ts = Seq(TimestampType, TimestampNTZType)

  /** name, value, type, then the four hashes of [[fourWays]]. */
  private val scalars: Seq[(String, Any, DataType, Seq[String])] = Seq(
    ("byte", 7.toByte, ByteType,
      Seq("42378a4350b8a552", "183bee382228d49d", "15f227f84b49292f", "ab891c773278d89c")),
    ("short", (-300).toShort, ShortType,
      Seq("053260a3a5109aa2", "0e026effbaa693a5", "48ce0ead4b22181e", "4b1356745e1d8d69")),
    ("int", 42, IntegerType,
      Seq("cb2e1615da419781", "8f002084184f2b18", "af5d6d689d7dd60e", "78a707800c34441d")),
    ("long min", Long.MinValue, LongType,
      Seq("54477a4bf12dfe41", "ca4b3af1ff8a1d63", "b7d7b0613b20337d", "605b9ac97e76772d")),
    ("boolean true", true, BooleanType,
      Seq("d61c5cc1caa74673", "6d9ac7165ff91990", "134f50ae9d266269", "c322317baf4fc0d5")),
    ("boolean false", false, BooleanType,
      Seq("61b0ad3f329684ca", "a34ae8842e886cc8", "9f7b26e2dbb14442", "6a881453f21ec61d")),
    ("float 1.5", 1.5f, FloatType,
      Seq("9b9ee6ec5e067810", "792e17b025451780", "6c5cf6a30cbd2a19", "d1b4c31081f5e9d5")),
    ("float -0.0", -0.0f, FloatType,
      Seq("6f00b8e763948ea5", "6f4f65f63778d97e", "f74707f116d428b1", "36ef0b3f0ba2b020")),
    ("float NaN", Float.NaN, FloatType,
      Seq("bfa32160b13d0983", "311a65f082128c06", "606a1f0c7f0cb635", "e52166744871ef72")),
    ("float +inf", Float.PositiveInfinity, FloatType,
      Seq("668fe4b66ee0b080", "b843f5a8e1f311e7", "cc013f6dc04cd19a", "f364d17f29db106d")),
    ("float -inf", Float.NegativeInfinity, FloatType,
      Seq("7cad0cc924f37e00", "17d9e02f81d4e2b5", "e740f3c5f8002e3e", "24a69ff07929c6bb")),
    ("float 1e16", 1e16f, FloatType,
      Seq("bb0f9b82597a4da7", "83f3443b8dd08198", "b44f7e2e1f4a10df", "20ef14c3f5cefb1a")),
    ("float 1e-5", 1e-5f, FloatType,
      Seq("c4f6fb65f35b79ca", "ced1c45c57dff83d", "462521f46240006f", "978b79635a4a9208")),
    ("double 0.1", 0.1, DoubleType,
      Seq("149f0dc6ce98c117", "54a738ac597c307d", "2128ed0999bd74c3", "6cc2aca9309ac254")),
    ("double -0.0", -0.0, DoubleType,
      Seq("6f00b8e763948ea5", "6f4f65f63778d97e", "f74707f116d428b1", "36ef0b3f0ba2b020")),
    ("double NaN", Double.NaN, DoubleType,
      Seq("bfa32160b13d0983", "311a65f082128c06", "606a1f0c7f0cb635", "e52166744871ef72")),
    ("double +inf", Double.PositiveInfinity, DoubleType,
      Seq("668fe4b66ee0b080", "b843f5a8e1f311e7", "cc013f6dc04cd19a", "f364d17f29db106d")),
    ("double -inf", Double.NegativeInfinity, DoubleType,
      Seq("7cad0cc924f37e00", "17d9e02f81d4e2b5", "e740f3c5f8002e3e", "24a69ff07929c6bb")),
    ("double 1e16", 1e16, DoubleType,
      Seq("8972b85c9c55a2f8", "f7491599f6c5c7a6", "3e7d28263a3c8408", "401e2a9a5676bc73")),
    ("double 1e-5", 1e-5, DoubleType,
      Seq("7a41d14d225ff260", "fb4272fb254ce88f", "bafc31a219ce435b", "82a7ec4dfb676989")),
    ("double 123456.789", 123456.789, DoubleType,
      Seq("f45cd3e001552b81", "1d869fc8345d5dba", "618d1f7965f295de", "2c7cff0bdf2ff836")),
    ("decimal 123.45", Decimal(BigDecimal("123.45")), DecimalType(10, 2),
      Seq("6360068be7817fbf", "57bf46d2f5558ff0", "3ac60ab953d51f6b", "45e50020fb0451db")),
    ("decimal -0.5", Decimal(BigDecimal("-0.50")), DecimalType(10, 2),
      Seq("6f4bc4ef1489a198", "1c7d5ab728da515e", "ddecf67284e25374", "51ad8f89a229bda2")),
    ("date 2022-01-08", 19000, DateType,
      Seq("bfe77efd44abfdae", "18a30b8f79536eac", "35b085f7f5b486d0", "121ab0cbaa3ed3cb")),
    ("date 1969-12-31", -1, DateType,
      Seq("7037299ebb3556d5", "234f5298eefd4653", "d7e44e068a46ecd6", "7fa059f68b5a4bac")),
    ("date year 10000", 2932897, DateType,
      Seq("0c603f56464011ac", "365c3cd8368be9d0", "a117c03e1b53d911", "55694a133c8d9d9c")),
    ("string plain", u("alice"), StringType,
      Seq("3a88bebb8b16c8ea", "b0ef565c1f488bd7", "29e888e10174f32e", "72636870e44c4212")),
    ("string escapes", u("q\"b\\s\u0001t\tn\nr\rb\bf\f\u001f\u007f"), StringType,
      Seq("e4cd10275da1e6e5", "989c4e0d5542fe56", "5346bda19648b7d1", "f3c8ec36439e7b1e")),
    ("string BMP", u("héllo 中文 ｡"), StringType,
      Seq("6c3069497c818050", "3638628f09204cd5", "0ce8a02efa91869a", "19d86a13bf3369aa")),
    ("string supplementary", u("😀 x 𝄞"), StringType,
      Seq("ba67ec3ba8021d41", "38a3a4d874e229fd", "e5e81f58426c44ba", "7ea5173c1766ff4e")),
    ("string JSON object", u("""{"b": [3, 1, {"z": null}], "a": "x\"y", "é": 1.5e16}"""),
      StringType,
      Seq("3d23af89d6485605", "21d482b7fe6e3348", "98daf9d1ad89aac0", "a19be071de1060f8")),
    ("string JSON array", u("""[1, "1", true, null, 2.50, 12345678901234567890, "[2, 1]"]"""),
      StringType,
      Seq("4d0330bb2eb73b7e", "12d5e231612e1fd5", "810cbd72e6e37ee7", "dbf12f9483e32640")),
    ("string %7B-encoded", u("%7B%22a%22%3A%201%7D"), StringType,
      Seq("6ac220453a06806a", "a155cf418dadf293", "11f589dce5d06dcd", "7a149a817ada2f7d")),
    ("string malformed {", u("{oops \"q\" é"), StringType,
      Seq("8064f56828bce3e7", "0f18dabfb7e37ac2", "c288bf54872ce8fb", "5cd2c6bf3af3cf6f")),
    ("string malformed [", u("[1, 2"), StringType,
      Seq("d4284e6fd20c14c7", "c7356104f83a7b61", "c4510b202af03f4e", "778d67699ed13e5f")),
    ("string %, not JSON", u("%41 50%"), StringType,
      Seq("2d4bc530295d9f11", "8f39e50415ff2c85", "715a726906d97116", "41ed34d488dbc9d9")),
    ("string empty", u(""), StringType,
      Seq("14c730847f9b985e", "0fd2abac6a130b0e", "7e80af1047950b37", "9a86512d7dd5b45f")),
    ("binary", Array[Byte](0, 1, 2, -1, 'a'), BinaryType,
      Seq("4777fc67caee592a", "84990956102eb3e0", "880f5985b315a112", "83299452182c5a72")),
    ("interval", new CalendarInterval(1, 2, 3L), CalendarIntervalType,
      Seq("ff845877b0404b66", "2b1d573d4998617b", "3a5241efcca133c5", "90987b115b326f4c")),
    ("null int", null, IntegerType,
      Seq("cfc916651b20acf9", "3e85584c62036005", "8b8e2ba40f2625a9", "e0a69da2d36d74ae")),
    ("null string", null, StringType,
      Seq("cfc916651b20acf9", "3e85584c62036005", "8b8e2ba40f2625a9", "e0a69da2d36d74ae")),
    ("null type", null, NullType,
      Seq("cfc916651b20acf9", "3e85584c62036005", "8b8e2ba40f2625a9", "e0a69da2d36d74ae"))
  ) ++ ts.flatMap { t =>
    Seq(
      (s"$t before 1970", -1L, t,
        Seq("300ae751121a3392", "2d4b6837ad39241b", "49db64ebad743a47", "3a004e6f62f9e5b9")),
      (s"$t epoch", 0L, t,
        Seq("17ae52bbc08d511f", "5927a5ba50529e6f", "8cb5943b812c9298", "38fbccb1194cf0ec")),
      (s"$t micros 0", 1700000000000000L, t,
        Seq("ec53a8d88ac49d1d", "86c5aa47d8c4c2f5", "2c0736ac56072eac", "5c388d736b54cb58")),
      (s"$t micros 123456", 1700000000123456L, t,
        Seq("2f55390299cfa42d", "c954b795bf6fc3f1", "a4dffdb31e45022f", "b853cb4a6a734a21")),
      (s"$t micros 5", -86399999995L, t,
        Seq("f97bbe90a51011b4", "782d6c015e3e0cfe", "847c4ec173c14325", "2471f73dbb5225f5")),
      (s"$t year 10000", 253402300800000000L, t,
        Seq("d22264989f561793", "faf7aae110f8eacc", "251a231645e1e916", "ec3e93ac6eb0f74a")))
  }

  /** name, value, type, then the top-level hash. */
  private val composites: Seq[(String, Any, DataType, String)] = Seq(
    ("array<int>", arr(3, 1, 2, 10), ArrayType(IntegerType), "098021bd1c01c119"),
    ("array<int> with null", arr(null, 1), ArrayType(IntegerType), "e640c9b5f8125484"),
    ("array<string>", arr(u("b"), u("a"), u("é"), u("\""), u("[2,1]"), u("")),
      ArrayType(StringType), "561ceb59d3f4dfcb"),
    ("array<string> beyond BMP", arr(u("😀"), u("｡"), u("z")),
      ArrayType(StringType), "c57a9595cd22caf1"),
    ("array<float>", arr(0.5f, -1.0f, Float.NaN, 1e16f), ArrayType(FloatType), "061ab2a19b602387"),
    ("array<array<int>>", arr(arr(2, 1), arr(), null), ArrayType(ArrayType(IntegerType)),
      "53eafbe4968ee5b7"),
    ("array empty", arr(), ArrayType(IntegerType), "506f79fa4ea91da1"),
    ("map<string,int>", map(u("b") -> 1, u("a") -> 2, u("😀") -> 3, u("｡") -> 4),
      MapType(StringType, IntegerType), "a6d450c88b085b91"),
    ("map<int,string>", map(10 -> u("x"), 9 -> null, -1 -> u("{\"a\":1}")),
      MapType(IntegerType, StringType), "1422e6702c26346e"),
    ("map empty", map(), MapType(StringType, IntegerType), "b940df030aaaf542"),
    ("nested struct", InternalRow(7, InternalRow(u("z"), null), u("q")),
      StructType(Seq(StructField("x", IntegerType),
        StructField("y", StructType(Seq(StructField("z", StringType), StructField("w", DoubleType)))),
        StructField("a\"b", StringType))), "1c21eec59aa386b6"),
    ("array<struct>", arr(InternalRow(u("mgr"), 200), InternalRow(u("eng"), 100), null),
      ArrayType(StructType(Seq(StructField("role", StringType), StructField("pay", IntegerType)))),
      "88dfe9382afad978"),
    ("null struct", null, StructType(Seq(StructField("x", IntegerType))), "cfc916651b20acf9"),
    ("null array", null, ArrayType(IntegerType), "cfc916651b20acf9"),
    ("null map", null, MapType(StringType, IntegerType), "cfc916651b20acf9"))

  /** Field names sort by code point, which differs from UTF-16 order above the BMP. */
  private val wideRow = StructType(Seq(
    StructField("😀", IntegerType), StructField("｡", StringType), StructField("b", LongType),
    StructField("a\"q", BooleanType), StructField("é", DoubleType), StructField("A", DateType)))

  /** name, computed value, expected value. */
  private val singles: Seq[(String, () => String, String)] = Seq(
    ("row, all fields set",
      () => canonicalSpark(InternalRow(1, u("x"), 2L, true, 2.5, 19000), wideRow), "05a887049fe571e2"),
    ("row, all fields null",
      () => canonicalSpark(InternalRow(null, null, null, null, null, null), wideRow), "699c941f618815a8"),
    // Python cannot represent a year before 1, so there is no reference
    // value: this pins the bytes the top-level struct path has always given
    ("timestamp year -5",
      () => top(java.time.LocalDate.of(-5, 3, 1).toEpochDay * 86400000000L, TimestampType),
      "fb690e5de6c8dae9"),
    ("canon double", () => canonicalSpark(1.5, DoubleType), "1.5"),
    ("canon null", () => canonicalSpark(null, IntegerType), "None"),
    ("canon timestamp",
      () => canonicalSpark(1700000000123456L, TimestampType), "2023-11-14 22:13:20.123456"),
    ("canon JSON string", () => canonicalSpark(u("{\"b\":1,\"a\":2}"), StringType), "395fd90a6afa5a7c"),
    ("canon array", () => canonicalSpark(arr(2, 1), ArrayType(IntegerType)), "56356921f17ea88b"),
    ("JSON nested",
      () => canonicalString("""{"a": {"c": [1, {"d": "é"}], "b": "%7B%22x%22%3A1%7D"}}"""),
      "0fc2bcc31342fe25"),
    ("JSON scalars",
      () => canonicalString("""[[], {}, "", 0, -0.0, 1E400, 1e-7, false]"""), "db9d39590fdc6687"),
    ("JSON keys beyond BMP", () => canonicalString("{\"😀\": 1, \"｡\": 2, \"\\u0001\": \"\\t\\\"\\\\\"}"),
      "5feb2bb0f8047dd9"),
    ("JSON malformed", () => canonicalString("{oops"), "{oops"),
    ("plain string", () => canonicalString("plain é"), "plain é"))

  test("scalar row hashes at the top level and nested in array, struct and map") {
    val bad = scalars.flatMap { case (name, v, dt, want) =>
      val got = fourWays(v, dt)
      if (got == want) None else Some(s"""$name: ${got.mkString("Seq(\"", "\", \"", "\")")}""")
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("composite row hashes") {
    val bad = composites.flatMap { case (name, v, dt, want) =>
      val got = top(v, dt)
      if (got == want) None else Some(s"$name: $got")
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("field-name order, a year before 1, and canonical strings") {
    val bad = singles.flatMap { case (name, got, want) =>
      val g = got()
      if (g == want) None else Some(s"$name: $g")
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }
}
