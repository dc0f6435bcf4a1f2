package graft

import graft.functions.{CanonicalHash, CanonicalRowHash, GraftFunctions, PyFormat}
import org.apache.spark.sql.functions._

class PyFormatSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("pyDouble matches Python str(float) renderings") {
    assert(PyFormat.pyDouble(17.0) == "17.0")
    assert(PyFormat.pyDouble(0.04) == "0.04")
    assert(PyFormat.pyDouble(1.5) == "1.5")
    assert(PyFormat.pyDouble(-2.5) == "-2.5")
    assert(PyFormat.pyDouble(0.1) == "0.1")
    assert(PyFormat.pyDouble(123456.789) == "123456.789")
    assert(PyFormat.pyDouble(1e16) == "1e+16")
    assert(PyFormat.pyDouble(1.5e20) == "1.5e+20")
    assert(PyFormat.pyDouble(9999999999999998.0) == "9999999999999998.0")
    assert(PyFormat.pyDouble(1e-4) == "0.0001")
    assert(PyFormat.pyDouble(1e-5) == "1e-05")
    assert(PyFormat.pyDouble(1e100) == "1e+100")
    assert(PyFormat.pyDouble(0.0) == "0.0")
    assert(PyFormat.pyDouble(-0.0) == "-0.0")
    assert(PyFormat.pyDouble(Double.NaN) == "nan")
    assert(PyFormat.pyDouble(Double.PositiveInfinity) == "inf")
  }

  test("urlUnquote decodes %XX but not plus") {
    assert(PyFormat.urlUnquote("%7B%22a%22%3A%201%7D") == """{"a": 1}""")
    assert(PyFormat.urlUnquote("a+b%20c") == "a+b c")
  }
}

class CanonicalHashSpec extends SparkSpecBase {
  import CanonicalHash.canonicalString

  test("xxh64 known vectors (seed 0)") {
    assert(CanonicalHash.xxh64Hex(Array.emptyByteArray) == "ef46db3751d8e999")
    assert(CanonicalHash.xxh64Hex("abc".getBytes("UTF-8")) == "44bc2cf5ad770999")
  }

  test("JSON object key order is irrelevant") {
    assert(canonicalString("""{"a": 1, "b": 2}""") == canonicalString("""{"b":2,"a":1}"""))
  }

  test("array order is irrelevant") {
    assert(canonicalString("""{"a":[1,2,3]}""") == canonicalString("""{"a":[3,1,2]}"""))
    assert(canonicalString("""[1,2,3]""") == canonicalString("""[3,2,1]"""))
  }

  test("scalar type collapse: 1 == \"1\", true == \"True\"") {
    assert(canonicalString("""{"a":1}""") == canonicalString("""{"a":"1"}"""))
    assert(canonicalString("""{"a":true}""") == canonicalString("""{"a":"True"}"""))
    assert(canonicalString("""{"a":null}""") == canonicalString("""{"a":"None"}"""))
    assert(canonicalString("""{"a":1.5}""") == canonicalString("""{"a":"1.5"}"""))
  }

  test("URL-encoded JSON strings are decoded before hashing") {
    assert(canonicalString("%7B%22a%22%3A%201%7D") == canonicalString("""{"a":1}"""))
  }

  test("nested JSON strings hash like native nesting") {
    assert(canonicalString("""{"a":"{\"x\":1,\"y\":2}"}""") ==
      canonicalString("""{"a":{"y":2,"x":1}}"""))
  }

  test("plain strings pass through; malformed JSON-ish strings pass through") {
    assert(canonicalString("hello") == "hello")
    assert(canonicalString("{not json") == "{not json")
  }

  test("different values produce different hashes") {
    assert(canonicalString("""{"a":1}""") != canonicalString("""{"a":2}"""))
    assert(canonicalString("""{"a":1}""") != canonicalString("""{"b":1}"""))
  }

  test("Spark struct hash equals JSON-string hash for typed columns") {
    import spark.implicits._
    val df = Seq((1L, "x", 2.5), (2L, "{\"k\":7}", 0.25)).toDF("a", "b", "c")
    val got = df.select(CanonicalRowHash(struct(col("a"), col("b"), col("c"))).as("h"))
      .as[String].collect()
    assert(got(0) == canonicalString("""{"a":1,"b":"x","c":2.5}"""))
    assert(got(1) == canonicalString("""{"a":2,"b":{"k":7},"c":0.25}"""))
  }

  test("SQL registration: get_row_hash") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql("""SELECT get_row_hash(named_struct('a', 1)) AS h,
                               get_row_hash('{"a": 1}') AS h2""").collect()(0)
    assert(r.getString(0) == r.getString(1))
  }

  test("null values and arrays inside structs") {
    import spark.implicits._
    val df = Seq((Some(1), Seq(3, 1, 2)), (None, Seq(2, 1, 3))).toDF("a", "arr")
    val hs = df.select(CanonicalRowHash(struct(col("a"), col("arr"))).as("h"))
      .as[String].collect()
    assert(hs(0) == canonicalString("""{"a":1,"arr":[1,2,3]}"""))
    assert(hs(1) == canonicalString("""{"a":null,"arr":[3,2,1]}"""))
  }
}
