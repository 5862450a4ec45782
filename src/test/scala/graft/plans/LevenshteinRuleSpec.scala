package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.functions._

/** The levenshtein-bound rewrite must (a) actually fire — threshold'd DP
  * plus length guard in the optimized Filter — and (b) change nothing
  * about the answer, nulls and boundary distances included.
  */
class LevenshteinRuleSpec extends SparkSpec {
  import spark.implicits._

  // parquet-backed, NOT a LocalRelation: ConvertToLocalRelation would
  // otherwise evaluate the whole filter at plan time and leave nothing
  // for the rule (or the assertion) to see
  private lazy val fixture = {
    val p = graft.Scratch.dirFor("lev_rule_spec", "x") + "/pairs"
    Seq(
      ("abc", "abd"),               // dist 1: keep
      ("abc", "abc"),               // dist 0: keep
      ("abc", "xyz"),               // dist 3: drop
      ("short", "a-very-long-one"), // length gap: guard drops pre-DP
      ("ab", "abxy"),               // dist 2: keep at k=2
      (null.asInstanceOf[String], "abc"), // null: drop (null predicate)
      ("abc", null.asInstanceOf[String])
    ).toDF("a", "b").write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  test("rule rewrites the filter to a length guard + threshold'd DP") {
    val df = fixture.filter(levenshtein($"a", $"b") <= 2)
    val conds = df.queryExecution.optimizedPlan.collect {
      case f: LFilter => f.condition
    }
    assert(conds.nonEmpty, "filter disappeared from the optimized plan")
    val levs = conds.flatMap(_.collect { case l: Levenshtein => l })
    assert(levs.nonEmpty && levs.forall(_.threshold.isDefined),
      s"unbounded levenshtein survived: $levs")
    // the rewrite relies on the bounded form's -1-when-over-budget
    // contract — pin it against the engine
    assert(spark.sql("SELECT levenshtein('abc', 'xyz1234', 2)")
      .head.getInt(0) == -1)
  }

  test("rewrite is answer-preserving (against a plain Scala levenshtein)") {
    // the textbook O(|a|·|b|) DP, row by row over the fixture
    def lev(a: String, b: String): Int = {
      var prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }
    val all = fixture.collect().map(r => (r.getString(0), r.getString(1)))
    def expected(keep: Int => Boolean) = all.filter { case (a, b) =>
      a != null && b != null && keep(lev(a, b)) }.toSet
    def got(c: org.apache.spark.sql.Column) = fixture.filter(c)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val le2 = got(levenshtein($"a", $"b") <= 2)
    assert(le2 == expected(_ <= 2), s"<= 2: $le2")
    assert(got(levenshtein($"a", $"b") < 2) == expected(_ < 2))
    assert(got(lit(2) >= levenshtein($"a", $"b")) == expected(_ <= 2))
    assert(got(lit(2) > levenshtein($"a", $"b")) == expected(_ < 2))
    assert(le2 == Set(("abc", "abd"), ("abc", "abc"), ("ab", "abxy")))
  }
}
