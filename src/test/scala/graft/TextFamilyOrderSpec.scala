package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Order and session coverage for the text and LLM family (`TextAnalysis`,
  * `LlmOps`..`LlmOps4`): every query runs alone in a fresh session, then
  * all of them run one after another in a single session, in an order
  * shuffled by a fixed seed. Each query must return the same rows both
  * ways, so no query depends on, or leaves behind, session state another
  * query of the family touches (a registered function, a temp view such
  * as `documents`, a conf, a memo entry). The cached relations the runs
  * fill are released afterwards, as in JobBudgetSpec, so later suites
  * see the plans they pin.
  */
class TextFamilyOrderSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val family =
    ops.TextAnalysis.all ++ ops.LlmOps.all ++ ops.LlmOps2.all ++ ops.LlmOps3.all ++ ops.LlmOps4.all
  private val seed = 15L

  override def afterAll(): Unit =
    try Memo.release(spark)
    finally super.afterAll()

  private def rows(spec: Spec, s: SparkSession): Seq[String] =
    spec.fn(s, sf).collect().map(_.toString).toSeq.sorted

  test("the text family returns each query's own rows in one shuffled session") {
    val alone = family.map(sp => sp.name -> rows(sp, spark.newSession())).toMap
    val order = new scala.util.Random(seed).shuffle(family)
    val one = spark.newSession()
    val differ = order.map(sp => sp.name -> rows(sp, one)).collect {
      case (name, got) if got != alone(name) =>
        s"$name (${got.size} rows in order, ${alone(name).size} alone)"
    }
    assert(differ.isEmpty, s"rows differ from the query run alone: ${differ.mkString(", ")}; " +
      s"order (seed $seed): ${order.map(_.name).mkString(" ")}")
  }
}
