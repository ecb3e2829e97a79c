package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.Scope

/** graft.SubExecutions — the one sub-execution recorder: a window sees
  * exactly the SQL executions and jobs its block ran. */
class SubExecutionsSpec extends AnyFunSuite {
  import TestSpark._

  private def ranges(w: SubExecutions.Captured[_]): Seq[String] =
    w.executions.map(_.analyzed.toString)

  test("captures the sub-execution and job of an eager localCheckpoint") {
    val w = SubExecutions.capture(spark) {
      spark.range(0, 1000, 1, 4).toDF("id").localCheckpoint()
    }
    assert(w.executions.size == 1, ranges(w))
    assert(w.jobs >= 1)
    assert(w.value.count() == 1000)
    Scope(_.free(w.value))
  }

  test("back-to-back windows share no events") {
    val first = SubExecutions.capture(spark) { spark.range(1234).count() }
    val second = SubExecutions.capture(spark) { spark.range(5678).collect().length }
    assert(first.value == 1234 && second.value == 5678)
    assert(first.executions.size == 1 && ranges(first).head.contains("1234"), ranges(first))
    assert(second.executions.size == 1 && ranges(second).head.contains("5678"), ranges(second))
    assert(first.jobs >= 1 && second.jobs >= 1)
  }

  test("an action after the window closes is not recorded, even after a throwing window") {
    val w = SubExecutions.capture(spark) { spark.range(7001).count() }
    spark.range(7002).count()
    intercept[IllegalStateException] {
      SubExecutions.capture(spark) {
        spark.range(7003).count()
        throw new IllegalStateException("body failed")
      }
    }
    spark.range(7004).count()
    // opened straight after an action: its late event must not leak in
    val empty = SubExecutions.capture(spark) { 42 }
    assert(w.executions.size == 1 && ranges(w).head.contains("7001"), ranges(w))
    assert(empty == SubExecutions.Captured(42, Seq.empty, 0), ranges(empty))
  }
}
