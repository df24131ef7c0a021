package graft

import org.scalatest.funsuite.AnyFunSuite

class ArgsSpec extends AnyFunSuite {

  private val planDump = Args(graft.tools.PlanDump.Usage, Seq("out"))

  test("a missing positional argument names it and prints the usage") {
    val e = intercept[UsageError](planDump.required(1, "suffix"))
    assert(e.getMessage.contains("<suffix>"), e.getMessage)
    assert(e.getMessage.contains("usage: PlanDump"), e.getMessage)
    assert(intercept[UsageError](Args(tools.AB.Usage, Seq("d", "k")).required(2, "valA"))
      .getMessage.contains("<valA>"))
  }

  test("a non-numeric or non-positive count names the argument") {
    val ab = Args(tools.AB.Usage, Seq("d", "k", "a", "b", "three", "q1"))
    val e = intercept[UsageError](ab.int(4, "reps"))
    assert(e.getMessage.contains("<reps>") && e.getMessage.contains("'three'"), e.getMessage)
    assert(intercept[UsageError](Args("X <n>", Seq("0")).int(0, "n")).getMessage.contains("<n>"))
    assert(ab.list(5, "query") == Seq("q1"))
    assert(intercept[UsageError](Args("X <q>", Seq(" , ")).list(0, "q"))
      .getMessage.contains("<q>"))
  }

  test("SPARK_GRAFT_CPUS: unset takes the default, garbage names the variable") {
    assert(Args.cpus(4, Map.empty) == 4)
    assert(Args.cpus(4, Map(Args.CpusEnv -> " 8 ")) == 8)
    val e = intercept[UsageError](Args.cpus(4, Map(Args.CpusEnv -> "eight")))
    assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains("'eight'"),
      e.getMessage)
  }
}
