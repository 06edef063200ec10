package graft.operators

import graft.SparkSpec

/** Labeling queue vs the reference CLI's behavior (labeling_tool.py):
  * already-labeled pairs never re-enter the queue, and a pair is
  * pre-suggested only on a real title similarity at the threshold.
  */
class LabelingSpec extends SparkSpec {
  import spark.implicits._

  private def candidates = Seq(
    ("a", "b", 0.95), ("a", "c", 0.90), ("b", "c", 0.60), ("c", "d", 0.20)
  ).toDF("id_a", "id_b", "title_sim")

  private def truth = Seq(
    ("a", "b", "same")
  ).toDF("id_a", "id_b", "label")

  test("queue drops already-labeled pairs and flags suggestions (labeling_tool.py:105-135)") {
    val q = Labeling.queue(candidates, truth, autoThreshold = 0.85)
      .orderBy("id_a", "id_b")
      .select("id_a", "id_b", "suggested").as[(String, String, Boolean)].collect()
    assert(q.toSeq == Seq(("a", "c", true), ("b", "c", false), ("c", "d", false)))
  }

  test("queue: a null title_sim reads as not-suggested, never a null flag") {
    val cands = Seq(("p", "q", null.asInstanceOf[java.lang.Double]))
      .toDF("id_a", "id_b", "title_sim")
    val q = Labeling.queue(cands, truth).select("suggested").collect()
    assert(q.length == 1 && q(0).getBoolean(0) == false)
  }
}
