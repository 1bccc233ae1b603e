package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** [[GraftFunctions.register]] and the [[GraftExtensions]] session hook
  * expose exactly the functions of [[GraftFunctions.sqlFunctions]].
  */
class SqlFunctionsSpec extends SparkSpec {

  private val tableNames = GraftFunctions.sqlFunctions.map(_._1).toSet

  private def added(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)

  test("register exposes exactly the table's functions") {
    val s = spark.newSession()
    assert(added(s).isEmpty)
    GraftFunctions.register(s)
    assert(added(s) == tableNames)
  }

  test("the GraftExtensions hook exposes exactly the table's functions, " +
       "and they run") {
    val s = SparkSession.builder().withExtensions(new GraftExtensions).create()
    assert(added(s) == tableNames)
    assert(s.sql("SELECT vector_dot(array(1.0f, 2.0f), array(3.0f, 4.0f))")
      .head().getDouble(0) == 11.0)
    val e = intercept[Exception](s.sql("SELECT simhash64()").collect())
    assert(e.getMessage.contains("simhash64(text[, n_literal])"))
  }
}
