package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The per-JVM fixture memo must key a build on everything it depends
  * on: call sites that share a family name but differ in a build input
  * (a quantizer, a file count) get their own clones. */
class GraphFixturesSpec extends AnyFunSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A stand-in build: the clone is a directory holding one file named
    * after the build. */
  private def mark(tag: String)(p: String): Unit = {
    new java.io.File(p).mkdirs()
    new java.io.File(p, tag).createNewFile(); ()
  }

  private def tags(p: String): Set[String] =
    new java.io.File(p).list().toSet

  test("cloneIntoFor: two different builds under one family name get distinct " +
    "clones, and equal inputs share one") {
    val (dir, out) = (tmp("fixture_data_"), tmp("fixture_clones_"))
    val q1 = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val q2 = Seq(Seq(0.5f, 0.5f), Seq(0.0f, 1.0f))
    GraphFixtures.cloneIntoFor("memo_key_spec", dir, s"$out/a", q1, 4)(mark("a"))
    GraphFixtures.cloneIntoFor("memo_key_spec", dir, s"$out/b", q2, 4)(mark("b"))
    GraphFixtures.cloneIntoFor("memo_key_spec", dir, s"$out/c", q1, 2)(mark("c"))
    // the same quantizer as another Seq type: the same build
    GraphFixtures.cloneIntoFor("memo_key_spec", dir, s"$out/d",
      q1.map(_.toVector).toVector, 4)(mark("d"))
    assert(tags(s"$out/a") === Set("a"))
    assert(tags(s"$out/b") === Set("b"))
    assert(tags(s"$out/c") === Set("c"))
    assert(tags(s"$out/d") === Set("a"))
  }
}
