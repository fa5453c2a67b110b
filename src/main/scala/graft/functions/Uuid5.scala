package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** RFC-4122 version-5 (SHA-1 name-based) UUID, byte-exact with Python's
  * `uuid.uuid5` — the reference derives its serving-table surrogate keys as
  * `uuid5(NAMESPACE_DNS, job)` (`/root/reference/data_populator/populator.py:53`),
  * so key-compatibility requires exactness (pinned by test vectors in
  * Uuid5Spec generated with CPython).
  *
  * Backed by the native Catalyst expression
  * [[org.apache.spark.sql.graft.Uuid5Expr]] (`doGenCode` = one static
  * call inside WholeStageCodegen; thread-local digest, no String
  * round-trip) — SURVEY §7.2's "expression where a UDF sits" endgame.
  * A Scala-side twin ([[uuid5Jvm]]) serves driver-side callers and
  * tests; Uuid5Spec pins both against CPython vectors.
  */
object Uuid5 {

  /** uuid5(NAMESPACE_DNS, name) as a native-expression Column. */
  def uuid5(name: Column): Column =
    org.apache.spark.sql.graft.Uuid5Expr.uuid5(name)

  /** Driver-side / test twin of [[uuid5]]: the expression's own digest. */
  def uuid5Jvm(name: String): String =
    org.apache.spark.sql.graft.Uuid5Expr.uuid5(UTF8String.fromString(name)).toString
}
