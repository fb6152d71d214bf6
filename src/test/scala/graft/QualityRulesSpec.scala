package graft

import graft.operators.TextOps
import org.scalatest.funsuite.AnyFunSuite

/** q113 rule-report consistency: the 'any' row must bracket the
  * individual rules (max ≤ any ≤ sum), every rule must actually fire on
  * the fixture (a rule nothing can fail measures nothing), and the
  * report's denominators agree. */
class QualityRulesSpec extends AnyFunSuite with SparkSpec {

  test("q113 report is internally consistent and every rule fires") {
    val rows = TextOps.q113QualityRules(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("any", "max_repetition", "mean_word_len",
                              "stopwords", "word_count"))
    val nDocs = rows.values.map(_._2).toSet
    assert(nDocs.size == 1, s"denominators disagree: $nDocs")
    val any = rows("any")._1
    val each = (rows - "any").values.map(_._1)
    assert(each.forall(_ > 0), s"some rule never fires: $rows")
    assert(any >= each.max && any <= each.sum,
      s"'any'=$any outside [${each.max}, ${each.sum}]")
    assert(any <= nDocs.head)
  }

  test("q119 cohorts partition the corpus and carry probability means") {
    val rows = TextOps.q119RulesLmAgreement(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(rows.keySet == Set("fail_some_rule", "pass_all_rules"))
    val q113any = TextOps.q113QualityRules(spark, "/root/testdata/sf0.001")
      .collect().collectFirst {
        case r if r.getString(0) == "any" => (r.getLong(1), r.getLong(2))
      }.get
    assert(rows("fail_some_rule")._1 == q113any._1)
    assert(rows("fail_some_rule")._1 + rows("pass_all_rules")._1 == q113any._2)
    rows.values.foreach { case (_, m) => assert(m > 0.0 && m <= 1.0) }
  }
}
