package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

import graft.{GraftExtensions, GraftSession, SparkSpec, SqlSurface}

/** Both deploy paths expose one SQL surface: what a session bootstrapped
  * through GraftSession registers is exactly what `spark.sql.extensions`
  * injects. Lives under org.apache.spark.sql for access to the
  * extension-side builders Spark itself calls at session start.
  */
class SqlSurfaceSpec extends SparkSpec {

  private def graftFunctions(reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry) =
    reg.listFunction().filter(id =>
      reg.lookupFunction(id).exists(_.getClassName == "graft")).map(_.funcName).toSet

  test("registerFunctions and GraftExtensions expose the same functions, rules and strategies") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val extReg = ext.registerFunctions(new SimpleFunctionRegistry)

    val session = spark.newSession()
    GraftSession.registerFunctions(session)
    GraftSession.registerOptimizations(session)
    val sessionFns = graftFunctions(session.sessionState.functionRegistry)

    val declared = SqlSurface.functions.map(_.name).toSet
    assert(declared.size == 20 && SqlSurface.functions.size == 20)
    assert(graftFunctions(extReg) == declared)
    assert(sessionFns == declared)

    val exp = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    assert(ext.buildOptimizerRules(session) == SqlSurface.optimizerRules)
    assert(ext.buildPlannerStrategies(session) == SqlSurface.strategies)
    assert(SqlSurface.optimizerRules.forall(exp.extraOptimizations.contains))
    assert(SqlSurface.strategies.forall(exp.extraStrategies.contains))
  }

  test("extension-path builders resolve, mixture_copy_ids from the active session") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val reg = ext.registerFunctions(new SimpleFunctionRegistry)
    spark.sql("SELECT 1").collect() // make the shared session the active one
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val built = reg.lookupFunction(FunctionIdentifier("mixture_copy_ids"), Seq(
      Literal("en"), Literal(7L),
      Literal.create(Map("en" -> 2.5), MapType(StringType, DoubleType)),
      Literal(1.0)))
    // the DSL tree converts eagerly through the active session; the
    // analyzer resolves what it references, as on the session path
    assert(built.references.isEmpty && built.children.nonEmpty, built)
    val sim = reg.lookupFunction(FunctionIdentifier("simhash64"),
      Seq(Literal.create(Seq("a", "b"), ArrayType(StringType))))
    assert(sim.dataType.catalogString == "bigint")
  }
}
