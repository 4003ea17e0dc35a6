package graft

/** The shared session builder ([[Session.builder]]) installs the
  * engine's native SQL functions: the suite session resolves them by
  * name, as the graded sessions do.
  */
class SessionSpec extends SparkSpec {

  test("the suite session resolves the native SQL functions by name") {
    assert(functions.VectorMath.isRegistered(spark))
    assert(spark.sql("SELECT dot_product(array(1.0d, 2.0d, 3.0d), " +
      "array(4.0d, 5.0d, 6.0d))").first().getDouble(0) == 32.0)
    // wrong arity and array<int> fail at analysis, not as a JVM crash or
    // garbage doubles read at runtime
    intercept[Exception](spark.sql("SELECT dot_product(array(1.0d))"))
    intercept[Exception](
      spark.sql("SELECT dot_product(array(1, 2), array(3, 4))").collect())
    // a null element poisons the result to null (HOF-fold parity)
    assert(spark.sql("SELECT dot_product(array(1.0d, CAST(NULL AS DOUBLE)), " +
      "array(1.0d, 2.0d))").first().isNullAt(0))
  }
}
