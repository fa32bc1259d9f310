package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Generations
import graft.core.Generations.{Covered, Manifest}

/** The commit-record grammar every appendable artifact shares. */
class GenerationsSpec extends AnyFunSuite {

  test("manifests round-trip both shapes, escapes included") {
    val names = Seq("base", "add_\"q\"", "a\\b", "t\tab", "")
    for (m <- Seq(Manifest(Covered.of(Nil)), Manifest(Covered.of(names)),
        Manifest(Covered.of(names), Some("7f3a")), Manifest(Covered.of(Nil), Some("")))) {
      assert(Generations.parse(Generations.render(m)) == m, m.toString)
    }
    assert(Generations.render(Manifest(Covered.of(Seq("add_t1", "base")))) ==
      """["add_t1","base"]""")
    assert(Generations.render(Manifest(Covered.of(Seq("x")), Some("t"))) ==
      """{"tag":"t","covered":["x"]}""")
  }

  test("a damaged manifest fails loudly, never reads as a shorter covered set") {
    val text = Generations.render(Manifest(Covered.of(Seq("add_t1", "add_t2", "base"))))
    for (cut <- 0 until text.length)
      intercept[IllegalStateException](Generations.parse(text.take(cut)))
    intercept[IllegalStateException](Generations.parse("add_t1\nbase"))
    intercept[IllegalStateException](
      Generations.parse("""{"tag":"t","covered":["x"],"extra":[]}"""))
  }

  test("a commit leaves no temp file; an absent manifest reads as None") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gens").toString
    val p = new org.apache.hadoop.fs.Path(dir, "_folded")
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    assert(Generations.read(fs, p).isEmpty)
    Generations.commit(fs, p, Manifest(Covered.of(Seq("0", "1"))))
    assert(Generations.read(fs, p).contains(Manifest(Covered.of(Seq("0", "1")))))
    // the temp name carries a uuid (`._folded.<uuid>.tmp`): list, never probe
    val left = new java.io.File(dir).list().toSeq
    assert(left.contains("_folded") && left.forall(n => !n.contains(".tmp")), left)
  }

  test("a second commit to an existing path keeps the first content and leaves no temp file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gens2").toString
    val p = new org.apache.hadoop.fs.Path(dir, "_folded")
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val first = Manifest(Covered.of(Seq("0")))
    Generations.commit(fs, p, first)
    val e = intercept[IllegalStateException](
      Generations.commit(fs, p, Manifest(Covered.of(Seq("0", "1")))))
    assert(e.getMessage.contains(p.toString), e.getMessage)
    assert(!Generations.commitText(fs, p, "second"))
    assert(Generations.read(fs, p).contains(first))
    val left = new java.io.File(dir).list().toSeq
    assert(left.forall(n => !n.contains(".tmp")), left)
  }

  test("consecutive batch ids hold as one range: the record grows with gaps, not count") {
    val ids = (0 until 10000).map(_.toString)
    val c = Covered.of(ids)
    assert(Generations.render(Manifest(c)) == "[[0,9999]]")
    assert(c.toSeq == ids && ids.forall(c.contains))
    assert(!c.contains("10000") && !c.contains("007") && !c.contains("-1"))
    // a gap splits the run; names and non-canonical numbers stay entries
    val mixed = Covered.of(Seq("0", "1", "2", "5", "b1", "6", "07", "8", "9"))
    val text = Generations.render(Manifest(mixed, Some("12")))
    assert(text == """{"tag":"12","covered":[[0,2],"5","b1","6","07",[8,9]]}""")
    assert(Generations.parse(text) == Manifest(mixed, Some("12")))
    assert(Seq("1", "5", "6", "b1", "07", "9").forall(mixed.contains))
    assert(!mixed.contains("3") && !mixed.contains("7"))
    // a fold extends the last range in place
    assert(Generations.render(Manifest(c ++ Seq("10000", "10001"))) == "[[0,10001]]")
    // a record written as plain strings still reads, with the same coverage
    val plain = Generations.parse("""["1","2","3"]""").covered
    assert(plain.toSeq == Seq("1", "2", "3") && plain.contains("2"))
    for (cut <- 1 until text.length)
      intercept[IllegalStateException](Generations.parse(text.take(cut)))
  }
}
