package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Executes every declared query at sf0.001 — a regression net for the
  * full surface (the invariants specs only cover a subset). Queries that
  * legitimately return empty relations at this scale are listed; everything
  * else must produce rows.
  *
  * Fresh-session parity: each query is also run in a fresh
  * `spark.newSession()` and must return the same rows as in the shared
  * session. This guards the split between context-scoped memo entries
  * (shared by every session) and session-scoped ones (readers, stream
  * sinks), and catches a query that depends on state an earlier query
  * left in the shared session (a conf, a registered function or view).
  * The fresh session's conf must read the same after the query is built
  * and collected as before: a step that needs other confs runs in a
  * `GraftSession.child`, never by setting them on the caller's session.
  */
class AllQueriesSpec extends AnyFunSuite {
  import TestSpark._

  private val mayBeEmpty = Set(
    "join_anti",            // every customer has orders in this data
    "set_except",           // supplier nations cover customer nations
    "dedup_near_shingle",   // no ≥0.9-Jaccard pair may exist at tiny sf
    "dedup_minhash_lsh",    // approx candidates above threshold
    "eval_topk_err"         // in principle a perfect model has no errors
  )

  for (spec <- SparkEntry.specs) {
    test(s"query ${spec.name} executes" +
        (if (spec.oracle.isDefined) " (oracle-checked)" else " (rows-only)")) {
      def rows(s: SparkSession): Seq[String] =
        spec.fn(s, sf).collect().map(_.toString).toSeq.sorted
      val shared = rows(spark)
      if (!mayBeEmpty(spec.name)) assert(shared.nonEmpty, s"${spec.name} returned 0 rows")
      val session = spark.newSession()
      val confBefore = session.conf.getAll
      val fresh = rows(session)
      assert(fresh == shared, s"${spec.name} returns different rows in a fresh session " +
        s"(${fresh.size} rows fresh, ${shared.size} shared; first difference " +
        s"${fresh.diff(shared).headOption.orElse(shared.diff(fresh).headOption)})")
      val confAfter = session.conf.getAll
      val changed = (confBefore.keySet ++ confAfter.keySet)
        .filter(k => confBefore.get(k) != confAfter.get(k))
      assert(changed.isEmpty, s"${spec.name} changed the conf of the session it ran in: " +
        changed.toSeq.sorted.map(k => s"$k ${confBefore.get(k)} -> ${confAfter.get(k)}").mkString(", "))
    }
  }
}
