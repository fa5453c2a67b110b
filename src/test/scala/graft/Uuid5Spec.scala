package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.functions.Uuid5

/** uuid5 byte-exactness against CPython `uuid.uuid5(uuid.NAMESPACE_DNS, s)`
  * vectors (generated offline) — the compat anchor for the reference's
  * serving keys (`/root/reference/data_populator/populator.py:53`),
  * SURVEY.md §7.3 "hard parts". Covers the RFC test name, empty string,
  * unicode, and long input; checks both the JVM twin and the Column
  * expression. */
class Uuid5Spec extends SparkTestBase {

  val vectors: Seq[(String, String)] = Seq(
    "python.org" -> "886313e1-3b8a-5372-9b90-0c9aee199e5d",
    "example.com" -> "cfbff0d1-9375-5685-968c-48ce8b15ae17",
    "" -> "4ebd0208-8328-5d69-8c44-ec50939c0967",
    "data engineer" -> "b6d8eec2-da41-59fb-9226-721ead4fde6e",
    "NATION_0" -> "eca51a0d-3ccf-5412-ad05-6f18cce37151",
    "src7" -> "69aac5bc-9adf-5e39-b952-792a220a1d44")

  /** Independent reference: `String.getBytes`, its own DNS namespace
    * constant, version/variant bits and hex formatting — none of
    * `Uuid5Expr`'s code, so the twin tests below compare two digests. */
  private def uuid5Reference(name: String): String = {
    val namespaceDns = Array(0x6b, 0xa7, 0xb8, 0x10, 0x9d, 0xad, 0x11, 0xd1,
      0x80, 0xb4, 0x00, 0xc0, 0x4f, 0xd4, 0x30, 0xc8).map(_.toByte)
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(namespaceDns)
    md.update(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val b = md.digest()
    b(6) = ((b(6) & 0x0f) | 0x50).toByte
    b(8) = ((b(8) & 0x3f) | 0x80).toByte
    val hex = b.take(16).map(x => f"$x%02x").mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
      s"${hex.substring(16, 20)}-${hex.substring(20, 32)}"
  }

  test("uuid5Jvm matches CPython vectors") {
    vectors.foreach { case (name, expected) =>
      assert(Uuid5.uuid5Jvm(name) == expected, s"for name '$name'")
    }
  }

  test("uuid5 Column expression matches CPython vectors") {
    import spark.implicits._
    val got = vectors.map(_._1).toDF("name")
      .select(col("name"), Uuid5.uuid5(col("name")).as("u"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    vectors.foreach { case (name, expected) =>
      assert(got(name) == expected, s"for name '$name'")
    }
  }

  test("uuid5 expression agrees with JVM twin on arbitrary strings") {
    import spark.implicits._
    val names = Seq("a", "zz top", "ünïcödé ✓", "x" * 300, "1234567890")
    val got = names.toDF("name")
      .select(Uuid5.uuid5(col("name"))).as[String].collect()
    names.zip(got).foreach { case (n, u) =>
      assert(u == uuid5Reference(n), s"for name '$n'")
      assert(Uuid5.uuid5Jvm(n) == u, s"uuid5Jvm for name '$n'")
    }
  }

  test("uuid5 plans as the native expression — no ScalaUDF anywhere") {
    // Both the Column path and the SQL-registry path must resolve to
    // Uuid5Expr (codegen), never a ScalaUDF wrapper.
    Seq("q_uuid5_keys", "q_uuid5_sql_registry").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, Sf0001)
        .queryExecution.optimizedPlan
      val hasUdf = plan.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])))
      assert(!hasUdf, s"$q plans a ScalaUDF")
      val hasNative = plan.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.graft.Uuid5Expr])))
      assert(hasNative, s"$q does not plan Uuid5Expr")
    }
  }

  test("property: expression equals JVM twin on generated strings") {
    // The codegen path hashes raw UTF8String bytes with no String
    // round-trip; the reference goes through String.getBytes. Generated
    // unicode (incl. surrogate pairs), empties, and long inputs pin the
    // two paths byte-identical.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val gen = Gen.oneOf(
      Gen.asciiPrintableStr, Gen.identifier,
      Gen.listOf(Gen.oneOf("日", "本", "ζ", "𝕊", " ", "é")).map(_.mkString),
      Gen.choose(0, 400).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar)))
    val names: Seq[String] = (0 until 200).map { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)).get
    }
    val got = names.toDF("name")
      .select(Uuid5.uuid5(col("name"))).as[String].collect()
    names.zip(got).foreach { case (n, u) =>
      assert(u == uuid5Reference(n), s"for name '$n'")
      assert(Uuid5.uuid5Jvm(n) == u, s"uuid5Jvm for name '$n'")
    }
  }

  test("version and variant nibbles are correct") {
    import spark.implicits._
    val u = Seq("anything").toDF("n").select(Uuid5.uuid5(lit("anything")))
      .as[String].head()
    assert(u.charAt(14) == '5')            // version nibble
    assert("89ab".contains(u.charAt(19)))  // variant nibble
  }
}
