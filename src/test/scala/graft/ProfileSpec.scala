package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Profile`'s argument rules: every argument fails in `parse`, which builds
  * no session, so a typo never costs a corpus generation or an executor spawn.
  */
class ProfileSpec extends AnyFunSuite {
  import Profile._

  test("parseLevel accepts N and WxC, rejects zero, empty sides and non-digits") {
    assert(parseLevel("4") == Left(4))
    assert(parseLevel("2x3") == Right((2, 3)))
    for (bad <- Seq("0", "2x", "x2", "2x0", "abc", "", "2x3x4", "-1", "99999999999"))
      intercept[IllegalArgumentException](parseLevel(bad))
  }

  test("parse builds each mode with its defaults") {
    assert(parse(Seq("stages", "2", "2000")) == Stages("2", 2000L, 2, ckpt = false))
    assert(parse(Seq("stages", "2x1", "2000", "1", "ckpt")) == Stages("2x1", 2000L, 1, ckpt = true))
    assert(parse(Seq("scale", "2000", "1", "2", "4")) == Scale(2000L, 1, Seq("2", "4")))
    val q = parse(Seq("queries", "q18,q53", "1")).asInstanceOf[Queries]
    assert(q.names.map(_.take(3)) == Seq("q18", "q53") && q.reps == 1 && q.plansDir.isEmpty)
    val all = parse(Seq("queries", "all")).asInstanceOf[Queries]
    assert(all.names == SparkEntry.queries.keys.toSeq.sorted && all.reps == 3)
    val bench = parse(Seq("queries", "bench", "2", "/tmp/plans")).asInstanceOf[Queries]
    assert(bench.names.length == all.names.length - 4 && !bench.names.exists(_.startsWith("q30")))
    assert(bench.plansDir.contains("/tmp/plans"))
  }

  test("an unknown mode, selector, flag, level or count fails in parse") {
    val bad = Seq(
      Seq(), Seq("profile", "2", "2000"), Seq("pipeline:2000"),
      Seq("queries", "q99"), Seq("queries", "q18,nope"), Seq("queries", "q18,"),
      Seq("queries", "pipeline:2000", "1"),
      Seq("stages", "2", "2000", "1", "bc64"), Seq("stages", "2", "2000", "1", "checkpoint"),
      Seq("stages", "0", "2000"), Seq("stages", "2", "0"), Seq("stages", "2", "2k"),
      Seq("stages", "2", "2000", "0"), Seq("stages", "2", "2000", "1", "ckpt", "extra"),
      Seq("scale", "2000", "1"), Seq("scale", "2000", "0", "2"), Seq("scale", "2000", "1", "2", "2x"))
    for (args <- bad)
      withClue(args.mkString("'", " ", "'"))(intercept[IllegalArgumentException](parse(args)))
  }

  test("cc takes nEdges and reps; a bad count fails in parse") {
    assert(parse(Seq("cc", "470000")) == Cc(470000L, 2))
    assert(parse(Seq("cc", "1000", "1")) == Cc(1000L, 1))
    for (args <- Seq(Seq("cc"), Seq("cc", "0"), Seq("cc", "470k"), Seq("cc", "-5"),
        Seq("cc", "1000", "0"), Seq("cc", "1000", "1", "extra")))
      withClue(args.mkString("'", " ", "'"))(intercept[IllegalArgumentException](parse(args)))
  }
}
